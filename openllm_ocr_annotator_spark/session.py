"""SparkSession factory tuned for the local[32] sandbox.

At cluster scale the same builder is used minus the ``master`` override;
AQE + Arrow + UTC are required by the engine (oracle comparison pins UTC,
the extraction kernel rides Arrow batches, AQE handles mega-doc skew).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "openllm_ocr_annotator_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # local[N] → one JVM; match shuffle partitions to cores, not the 200 default.
    if shuffle_partitions is None:
        inner = master.split("[", 1)[-1].rstrip("]")
        try:
            shuffle_partitions = os.cpu_count() or 32 if inner == "*" else max(int(inner), 4)
        except ValueError:
            shuffle_partitions = 32
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one mega-doc must not blow an Arrow batch: cap rows per batch so the
        # mapInArrow extraction kernel sees bounded memory even for
        # heavy-tail documents.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
