"""Exports K1-K4 + split O4 (SURVEY §2.2, §2.8).

- JSONL (K2, reference utils/formatter.py:77-81): ``df.write.json`` — one
  object per line, partition-parallel.
- Per-doc JSON payloads (K1, formatter.py:71-74): the engine's unit of
  persistence is a row, not a file; ``to_json(struct(...))`` produces the
  same payload contract, checked per row.
- TSV span sink (K3, formatter.py:111-114): the reference's only
  span-ordered emission — tab-joined spans, ordered (doc_id, offset) via
  ``sortWithinPartitions`` after range-partitioning on doc_id, so the file
  set is globally ordered without a single-reducer sort.
- split parquet (O4/K4, utils/dataset_converter.py:112-145): deterministic
  hash-bucket split. NOT bit-identical to HF train_test_split(seed=42) —
  the correctness contract is determinism + ratio, stated in SURVEY §7.3;
  hash-bucketing beats randomSplit because membership is a pure function of
  the key (stable under re-partitioning, resumable, joinable).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def doc_json_payload(df: DataFrame, payload_cols: list[str]) -> DataFrame:
    """K1: one JSON payload per document row."""
    return df.select(
        F.col("doc_id"), F.to_json(F.struct(*payload_cols)).alias("payload")
    )


def write_jsonl(df: DataFrame, path: str) -> None:
    """K2: line-delimited JSON."""
    df.write.mode("overwrite").json(path)


def tsv_span_lines(extracted: DataFrame) -> DataFrame:
    """K3: ordered tab-joined span lines (doc_id, kind, text, media_ref)."""
    line = F.concat_ws("\t", "doc_id", "offset", "kind", "text", "media_ref")
    return (
        extracted.repartitionByRange("doc_id")
        .sortWithinPartitions("doc_id", "offset")
        .select(line.alias("value"))
    )


def write_tsv_spans(extracted: DataFrame, path: str) -> None:
    tsv_span_lines(extracted).write.mode("overwrite").text(path)


def write_bucketed_table(
    df: DataFrame, table_name: str, buckets: int = 64,
    path: str | None = None,
) -> None:
    """Persist a table bucketed (and sorted) by the join key.

    The 100 TB lever for the recurring doc-keyed joins (gt⋈pred evaluation,
    annotation fan-in, resume anti-join): two tables bucketed by the same
    key with the same bucket count join with NO exchange and NO sort —
    hash-partitioning on doc_id satisfies any join whose keys include it.
    Shuffle-free co-location is pinned by
    tests/test_plan_shapes.py::test_bucketed_join_is_shuffle_free.

    Note: the sort-elimination half additionally needs
    ``spark.sql.legacy.bucketedTableScan.outputOrdering=true`` (Spark ≥3.0
    gates sorted-bucket scan ordering; the exchange elimination — the
    expensive part at scale — needs no flag).
    """
    # one writer task per bucket → exactly one file per bucket: scans read
    # each bucket pre-sorted (no Sort before the merge join) and the small-
    # files problem is avoided; repartition's Murmur3 hash matches the
    # bucketing hash, so every task holds exactly one bucket's rows.
    out = df.repartition(buckets, F.col("doc_id"))
    w = out.write.mode("overwrite").format("parquet").bucketBy(buckets, "doc_id").sortBy("doc_id")
    if path:
        w = w.option("path", path)
    w.saveAsTable(table_name)


def _hex_digit(h: Column, i: int) -> Column:
    """Value 0..15 of the i-th (1-based) hex character of ``h``."""
    a = F.ascii(F.substring(h, i, 1))
    return a - 48 - F.when(a >= 97, F.lit(39)).otherwise(F.lit(0))


# md5 salt shared by the hash split (split_bucket) and the exact-count
# split (sized_split), so both hash a key the same way
SPLIT_SALT = "#42"


def split_bucket(key: Column) -> Column:
    """Deterministic 0..99 bucket from a key (engine-portable: md5 + ascii
    arithmetic, reproducible in any SQL dialect for oracles).

    The bucket comes from the VALUE of the first four hex digits (uniform
    in [0, 65536), %100 bias ≤ 0.16% relative). Raw ascii-code arithmetic
    ((ascii(c1)*256 + ascii(c2)) % 100) is badly non-uniform — ascii codes
    of hex chars span only {48..57, 97..102}, leaving five buckets
    unreachable and a 5× probability spread, which skewed a requested
    80/10/10 split to a measured ~74.6/12.5/12.9."""
    h = F.md5(F.concat(key.cast("string"), F.lit(SPLIT_SALT)))
    val = (
        (_hex_digit(h, 1) * 16 + _hex_digit(h, 2)) * 16 + _hex_digit(h, 3)
    ) * 16 + _hex_digit(h, 4)
    return val % 100


def split_column(key: Column, train: float = 0.8) -> Column:
    """O4: train/test/validation label as a pure function of the key
    (``train`` share, then 10% test, the rest validation).

    Thresholds round half-up (same as ``stratified_sample``): ``int()``
    floors, and train=0.29 floors int(28.999…) to 28 — a band one
    percentage point short for any ratio whose ×100 is not exactly
    representable; Python's ``round()`` is banker's rounding, and
    train=0.125 would get 12 buckets instead of 13."""
    b = split_bucket(key)
    return (
        F.when(b < math.floor(train * 100 + 0.5), "train")
        .when(b < math.floor((train + 0.1) * 100 + 0.5), "test")
        .otherwise("validation")
    )


def sized_split(
    df: DataFrame, key_col: str = "doc_id",
    train: float = 0.8, test: float = 0.1, validation: float = 0.1,
) -> DataFrame:
    """O4 small-corpus path: exact-count split with the reference's
    degeneracy contract (utils/dataset_converter.py:112-145):

    - total < 2, or holdout ratio ∉ (0,1) → everything 'train';
    - holdout count = max(1, min(total-1, round(total·(test+validation))))
      → train is NEVER empty, holdout never whole;
    - validation carved from holdout only when BOTH ratios > 0 AND the
      holdout has > 1 row (reference: ``validation_ratio > 0 and
      test_ratio > 0 and len(splits["test"]) > 1``). Replicated quirk:
      with test=0 and validation>0 the reference labels the whole holdout
      'test' anyway — so do we (pinned by test_resume_sinks.py).
    - rounding: holdout uses Python round() (reference parity:
      ``int(round(...))``); the validation carve — OUR formula, the
      reference uses HF's fraction split there — uses floor(x+0.5) so the
      DuckDB oracle (half-away round) can restate it exactly for any
      corpus size, not only sizes that dodge banker's-rounding .5 cases.

    Membership = deterministic rank by md5(key#42): stable under
    re-partitioning and re-runs (HF bit-parity explicitly waived, SURVEY
    §7.3 — same waiver as ``split_column``). The global rank window means
    one single-task sort: this is the SMALL-corpus contract path (the
    reference's own split materializes the corpus in memory); at scale use
    ``split_column``'s hash buckets, which need no count.
    """
    total = df.count()
    if total > 10_000_000:
        # guardrail: the global rank window below is a ONE-task sort by
        # design (small-corpus contract). Reaching it with a corpus-scale
        # frame means the caller wanted split_column's hash buckets.
        raise ValueError(
            f"sized_split is the small-corpus contract path (single-task "
            f"global sort); got {total} rows — use split_column for "
            f"corpus-scale splits"
        )
    holdout_ratio = test + validation
    if total < 2 or holdout_ratio <= 0 or holdout_ratio >= 1:
        return df.withColumn("split", F.lit("train"))
    holdout = max(1, min(total - 1, round(total * holdout_ratio)))
    val_n = 0
    if validation > 0 and test > 0 and holdout > 1:
        val_n = min(
            holdout - 1,
            max(1, math.floor(holdout * validation / holdout_ratio + 0.5)),
        )
    from pyspark.sql import Window

    key = F.col(key_col)
    w = Window.orderBy(F.md5(F.concat(key.cast("string"), F.lit(SPLIT_SALT))), key)
    rn = F.row_number().over(w)
    return df.withColumn(
        "split",
        F.when(rn <= F.lit(val_n), "validation")
        .when(rn <= F.lit(holdout), "test")
        .otherwise("train"),
    )


def write_split_parquet(
    df: DataFrame, path: str, key_col: str = "doc_id",
) -> None:
    """K4: split-partitioned parquet dataset (partition pruning on split)."""
    out = df.withColumn("split", split_column(F.col(key_col)))
    out.write.mode("overwrite").partitionBy("split").parquet(path)


# -- K6: demo HTML gallery ----------------------------------------------------

DEMO_HEADER = "<html><body><h1>OpenLLM OCR Annotator Demo</h1>\n"
DEMO_FOOTER = "</body></html>"


def demo_html_lines(media_rows: DataFrame) -> DataFrame:
    """K6 body: one gallery block per image, byte-identical to the
    reference's per-image write (scripts/generate_demo.py:14-17:
    ``<div><img src='assets/{img}' style='width:600px'><br>{img}</div><hr>``).

    One deliberate divergence, same class as the K4 split note: the
    reference iterates ``os.listdir(assets_dir)`` — a FILESYSTEM-DEPENDENT
    order — where a distributed engine must not let output depend on scan
    order, so blocks are ordered by ``media_ref`` (distinct, then the K3
    range-partition + in-partition sort shape: globally ordered partitions
    without a single-reducer sort). NULL refs (a doc row whose media fetch
    failed) are dropped — the reference's listdir loop cannot see them, and
    letting one through would null the concat and crash the writer
    mid-page."""
    line = F.concat(
        F.lit("<div><img src='assets/"),
        F.col("media_ref"),
        F.lit("' style='width:600px'><br>"),
        F.col("media_ref"),
        F.lit("</div><hr>"),
    )
    return (
        media_rows.select(F.col("media_ref")).filter(F.col("media_ref").isNotNull())
        .distinct()
        .repartitionByRange("media_ref")
        .sortWithinPartitions("media_ref")
        .select(line.alias("value"))
    )


def write_demo_html(media_rows: DataFrame, path: str) -> int:
    """K6: assemble the single demo page (reference scripts/generate_demo.py
    writes one local ``demo/index.html``; a human-viewed gallery is the one
    sink whose contract IS a single small file). The body streams through
    ``toLocalIterator`` — partition by partition in range order, so the
    page is globally ordered without collecting the frame. Returns the
    number of gallery entries written."""
    n = 0
    with open(path, "w") as f:
        f.write(DEMO_HEADER)
        for row in demo_html_lines(media_rows).toLocalIterator():
            f.write(row.value + "\n")
            n += 1
        f.write(DEMO_FOOTER)
    return n
