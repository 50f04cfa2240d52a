"""Custom stateful streaming operator via ``applyInPandasWithState``.

The one Structured Streaming surface the engine's other streaming jobs
don't exercise: arbitrary per-key state (beyond what windowed/session
aggregations express). The operator here is running content-digest counts —
the streaming twin of ``exact_dedup``'s digest accounting: for every
``md5(text)`` digest, the cumulative number of documents seen so far.

Determinism contract: per-batch EMISSIONS depend on how the source splits
micro-batches (each batch emits that key's current cumulative count), but
the counts are MONOTONE per key, so ``max(n_docs) per digest`` over all
emissions equals the batch ``groupBy(digest).count()`` regardless of batch
boundaries or arrival order — which is what lets the driver value-check a
stateful streaming job against a plain SQL oracle.

Scale shape: state is one long per distinct digest, hash-partitioned by
digest (uniform — md5). State never expires here by design (a dedup ledger
is permanent); a TTL variant would use ``GroupStateTimeout.ProcessingTimeTimeout``
and ``state.setTimeoutDuration`` — noted rather than silently chosen.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def digest_count_stream(stream: DataFrame) -> DataFrame:
    """Streaming (digest, n_docs) with per-key cumulative counts."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"digest": [key[0]], "n_docs": [n]})

    src = stream.select(F.md5(F.col("text")).alias("digest"))
    return src.groupBy("digest").applyInPandasWithState(
        update,
        outputStructType="digest string, n_docs long",
        stateStructType="n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def digest_counts_batch(docs: DataFrame) -> DataFrame:
    """Batch twin (the oracle): digest → total document count."""
    return docs.groupBy(F.md5(F.col("text")).alias("digest")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def run_digest_count_stream(
    spark, docs_path: str, checkpoint: str, query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """availableNow run of the stateful counter into a memory sink; returns
    the FINAL counts (max per digest — cumulative counts are monotone, so
    max = last regardless of micro-batch boundaries)."""
    reader = spark.readStream.schema(spark.read.parquet(docs_path).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(docs_path)
    q = (
        digest_count_stream(stream)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(query_name)
        .groupBy("digest")
        .agg(F.max("n_docs").alias("n_docs"))
    )
