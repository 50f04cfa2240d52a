#!/usr/bin/env python
"""Extreme-skew extraction benchmark: narrow vs span-level-wide plans.

Corpus: N ordinary docs plus ONE giga-doc holding ~half the total spans.
The narrow plan's floor unit is a document → the giga-doc serializes one
task and straggles the stage; the wide plan explodes spans first, so the
giga-doc's work spreads across all cores (at the price of one output-sized
shuffle). This quantifies when `extract_spans_wide` earns its shuffle.

Prints one JSON line with both wall times and the speedup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from openllm_ocr_annotator_spark.operators.extract import (
        extract_spans,
        extract_spans_wide,
    )
    from openllm_ocr_annotator_spark.session import get_spark
    from openllm_ocr_annotator_spark.synth import synthesize_documents

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = get_spark(app_name="skew_bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    try:
        base = synthesize_documents(
            spark, "/root/testdata/sf0.001", replicate=40
        ).cache()
        n_base = base.count()
        base_spans = base.select(F.sum(F.size("spans"))).first()[0]

        # giga-doc: one document whose spans ≈ the whole rest of the corpus
        giga = (
            base.select(F.explode("spans").alias("s"))
            .select(
                F.lit("doc_giga").alias("doc_id"),
                F.struct(
                    F.col("s.kind"),
                    F.col("s.text"),
                    F.col("s.media_ref"),
                    F.monotonically_increasing_id().cast("int").alias("offset"),
                ).alias("s"),
            )
            .groupBy("doc_id")
            .agg(F.collect_list("s").alias("spans"))
        )
        corpus = base.unionByName(giga).repartition(cpus, "doc_id").cache()
        corpus.count()

        results = {}
        variants = (
            ("narrow", extract_spans),
            ("wide", extract_spans_wide),
        )
        for label, fn in variants:
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                fn(corpus).agg(F.count(F.lit(1))).first()
                best = min(best, time.perf_counter() - t0)
            results[label] = round(best, 2)

        print(
            json.dumps(
                {
                    "cpus": cpus,
                    "ordinary_docs": n_base,
                    "ordinary_spans": int(base_spans),
                    "giga_doc_spans": int(base_spans),
                    "narrow_seconds": results["narrow"],
                    "wide_seconds": results["wide"],
                    "wide_speedup": round(results["narrow"] / results["wide"], 2),
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
