#!/usr/bin/env python
"""Production entry point for the extraction pipeline (spark-submit).

Ship the package and run on a cluster:

    python -m zipfile -c /tmp/openllm_pkg.zip openllm_ocr_annotator_spark/
    spark-submit --py-files /tmp/openllm_pkg.zip \
        scripts/run_extraction_job.py \
        --input  <documents parquet/Iceberg path> \
        --table  <output snapshot-table root> \
        --partitions 2048

One incremental run = resume-filter against the table's last committed
snapshot → doc_id repartition → mapInArrow extraction → lineage metrics →
atomic snapshot commit. Re-running after a failure resumes from the last
commit (north rule: resumable from checkpoint with per-partition lineage).

Sizing at cluster scale: ``--partitions`` ≈ 2-3× total executor cores.
Leave it unset only when the corpus is known skew-free: the doc_id
exchange it adds is what stops one mega-doc-heavy scan split from
straggling a whole stage.

Prints one JSON line: committed doc/span counts, lineage partition count,
wall seconds.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", default=None,
                    help="YAML job config (unknown keys rejected, S9 contract)")
    ap.add_argument("--input", default=None, help="documents(doc_id, spans) path")
    ap.add_argument("--table", default=None, help="output snapshot-table root")
    ap.add_argument("--partitions", type=int, default=None,
                    help="doc_id repartition width before the kernel (≈2-3× cores); "
                    "unset: no repartition (skew-free corpora only)")
    ap.add_argument("--master", default=None, help="override master (tests)")
    args = ap.parse_args(argv)

    if args.config:
        from openllm_ocr_annotator_spark.config import load_config

        cfg = load_config(args.config)
        args.input = args.input or cfg.input_path
        args.table = args.table or cfg.table_root
        args.partitions = args.partitions or cfg.partitions
    if not args.input or not args.table:
        ap.error("--input and --table required (directly or via --config)")

    from pyspark.sql import SparkSession

    from openllm_ocr_annotator_spark.session import get_spark
    from openllm_ocr_annotator_spark.sources.tables import SnapshotTable
    from openllm_ocr_annotator_spark.streaming.incremental import process_increment

    existing = SparkSession.getActiveSession()
    spark = existing or get_spark(app_name="extraction_job", master=args.master)
    try:
        t0 = time.perf_counter()
        docs = spark.read.parquet(args.input)
        table = SnapshotTable(spark, args.table)
        committed_spans = process_increment(docs, table, num_partitions=args.partitions)
        snap = table.latest() or {}
        out = {
            "committed_spans": committed_spans,
            "snapshot_id": snap.get("snapshot_id"),
            "snapshot_rows": snap.get("n_rows"),
            "seconds": round(time.perf_counter() - t0, 2),
        }
        print(json.dumps(out))
        return out
    finally:
        if existing is None:  # don't stop a session we merely joined
            spark.stop()


if __name__ == "__main__":
    main()
