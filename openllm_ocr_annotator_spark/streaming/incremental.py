"""Incremental extraction via Structured Streaming (SURVEY §2.10 note).

The reference has no streaming; its only incremental notion is
"skip docs whose output file exists" (reference: pipeline/image_dataset.py:
43-47). The streaming surface maps that to: ``readStream`` over the
documents location → per-micro-batch anti-join against the committed
snapshot table → extraction → snapshot commit, inside ``foreachBatch``
(exactly-once via the manifest commit point).

This is the same dataflow as the batch resume path — one shared function —
so batch and streaming cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.extract import extract_pipeline, lineage_metrics
from ..sources.tables import SnapshotTable
from ..synth import DOCUMENTS_SCHEMA


def process_increment(docs: DataFrame, table: SnapshotTable, num_partitions: int | None = None) -> int:
    """Shared batch/stream body: anti-join committed → extract → commit.

    Returns the number of newly committed span rows (0 = nothing new).
    """
    todo = table.resume_filter(docs, "doc_id").cache()
    try:
        if todo.isEmpty():
            return 0
        extracted = extract_pipeline(todo, num_partitions=num_partitions)
        extracted = extracted.cache()
        try:
            # keys = the processed INPUT set: empty-span docs commit as done
            snap = table.commit(
                extracted,
                lineage=lineage_metrics(extracted),
                keys=todo.select("doc_id"),
            )
            # commit already counted the written rows into the manifest
            # (n_rows); re-counting here would be one redundant Spark job
            # per micro-batch. latest() is a tail-first O(1) metadata read;
            # fall back to the cached count only if a concurrent committer
            # moved the tip between our commit and the read.
            tip = table.latest()
            if tip and tip.get("snapshot_id") == snap:
                return int(tip["n_rows"])
            return extracted.count()
        finally:
            extracted.unpersist()
    finally:
        todo.unpersist()


def start_incremental_extraction(
    spark: SparkSession,
    docs_path: str,
    table_root: str,
    checkpoint_dir: str,
    num_partitions: int | None = None,
):
    """readStream(parquet docs) → foreachBatch(process_increment).

    ``query.processAllAvailable()`` drives it to completion synchronously in
    tests; in production it runs continuously with the same code path.
    """
    table = SnapshotTable(spark, table_root)
    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA).parquet(docs_path)
    )

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        process_increment(batch_df, table, num_partitions)

    return (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
