"""Streaming exact dedup via ``dropDuplicatesWithinWatermark``.

The streaming twin of ``operators/dedup.exact_dedup`` for the ingestion
side of a 100 TB pipeline: at-least-once sources (Kafka, file queues,
re-run upstream jobs) redeliver rows, and the sink must see each key once.
``dropDuplicatesWithinWatermark`` keeps the FIRST row seen per key and
holds one state entry per key only until the event-time watermark passes
— bounded state, which a plain ``dropDuplicates`` on a stream does not
give (its state grows forever).

Semantics worth stating (and pinned in tests/test_media_streaming.py):
- a duplicate arriving while its key is in state is DROPPED;
- once the watermark passes (event time + delay) the key's state is
  evicted, and a later redelivery is RE-EMITTED — the documented trade-off
  of every watermark-bounded dedup (the alternative is unbounded state).
  Eviction runs at the END of a micro-batch (measured): a redelivery in
  the same batch whose watermark passes the expiry is still dropped;
- within one micro-batch the surviving row is partition-order dependent,
  so exactly-once guarantees are VALUE-level only when redeliveries are
  full-row copies (the actual redelivery scenario) — the same reasoning
  that makes the batch ``dropDuplicates`` twin a valid oracle.

Scale shape: state is hash-partitioned by key, one small entry per live
key within the watermark horizon; throughput is one shuffle on the key —
identical to the batch digest groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedup_stream(stream: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """First-seen-per-key stream with watermark-bounded dedup state.

    Parquet written without a timezone arrives as TIMESTAMP_NTZ, which
    watermarks reject — cast to TIMESTAMP first (sessions here run UTC,
    so the cast is value-stable)."""
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def dedup_batch_twin(docs: DataFrame) -> DataFrame:
    """Batch oracle: one row per key. Valid as a VALUE oracle when
    duplicates are full-row copies (redelivery), where any survivor is
    equal — the same survivor-invariance argument both twins rely on."""
    return docs.dropDuplicates(["event_id"])


def run_dedup_stream(
    spark,
    path: str,
    checkpoint: str,
    query_name: str,
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """availableNow run of the streaming dedup into a memory sink; returns
    the deduped rows (append mode — each surviving row emitted once)."""
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        dedup_stream(reader.parquet(path), watermark)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(query_name)
