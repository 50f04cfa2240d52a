"""Ensemble voting aggregations (SURVEY §2.6 A1/A2, §2.7 W1/W3).

Re-expresses the reference's voter UDAFs as built-in Spark aggregations —
two-level hash aggregate with automatic partial (map-side) combine; no
custom UDAF, no Python in the hot path.

Weighted vote (reference: src/openllm_ocr_annotator/voters/weighted.py:38-134):
  per (doc, field_name, value): score = Σ weight(annotator) × confidence
  (confidence defaults to 1.0 when absent, weighted.py:102); winner per
  (doc, field_name) = argmax score; output confidence = winner_score /
  Σ scores over all candidate values of that field.

Replicated quirks:
  - falsy-field skip (weighted.py:104-105): rows with NULL/'' field_name or
    value never vote (P4);
  - sample-suffix weight stripping (weighted.py:31-36): with num_samples>1 an
    id 'a/m/sample_3' votes with the weight of 'a/m'. The reference splits on
    '_' and removes '/sample_<last token>' — so 'a/m/sample_3_4' is NOT
    stripped (the last '_'-token is '4', and '/sample_4' does not occur).
    Regex '/sample_[^_]*$' reproduces exactly that behavior;
  - unknown annotators get default weight 1.0 (weighted.py:29).

Pinned deviation: the reference's tie-break among equal scores is dict
insertion order (arrival order) — unspecified and nondeterministic under
parallelism. We pin (score DESC, value ASC); its majority-vote test only
asserts tie membership (tests/voters/test_majority_voter.py:20-27), so any
deterministic pin is conformant.

Majority vote (reference: voters/majority.py:10-18): mode per key —
Counter.most_common(1); same pinned tie-break (count DESC, value ASC).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SAMPLE_SUFFIX_RE = "/sample_[^_]*$"


def weight_key(col, num_samples: int = 1):
    """Annotator-id → weight-lookup key (sample-suffix strip quirk)."""
    if num_samples <= 1:
        return col
    return F.regexp_replace(col, SAMPLE_SUFFIX_RE, "")


def falsy_field_filter(df: DataFrame) -> DataFrame:
    """P4 (reference: voters/weighted.py:104-105): drop rows where either the
    field name or the value is NULL/'' — Python-falsy strings never vote."""
    return df.filter(
        F.col("field_name").isNotNull()
        & (F.col("field_name") != "")
        & F.col("value").isNotNull()
        & (F.col("value") != "")
    )


def weighted_vote(
    annotations: DataFrame,
    weights: DataFrame | None = None,
    num_samples: int = 1,
) -> DataFrame:
    """A1: weighted ensemble vote.

    ``annotations``: exploded field rows
      (doc_id, annotator_id, field_name, value, confidence).
    ``weights``: (annotator_id, weight) dimension — broadcast (it is tiny:
      one row per annotator leg, even at 10^12 docs).

    Returns (doc_id, field_name, value, confidence).

    Plan shape: [scan → broadcast-hash join → partial agg → shuffle on
    (doc_id, field_name, value) → final agg → shuffle on
    (doc_id, field_name) → window re-agg + top-1]. Two exchanges: hash
    partitioning on the three agg keys does not satisfy the window's
    two-key distribution, so the window shuffles the (already aggregated)
    scored rows again.
    """
    voting = falsy_field_filter(annotations).withColumn(
        "_conf", F.coalesce(F.col("confidence").cast("double"), F.lit(1.0))
    )
    if weights is not None:
        w = weights.select(
            F.col("annotator_id").alias("_wkey"), F.col("weight").alias("_w")
        )
        voting = voting.withColumn(
            "_wkey", weight_key(F.col("annotator_id"), num_samples)
        ).join(F.broadcast(w), "_wkey", "left")
        voting = voting.withColumn("_w", F.coalesce("_w", F.lit(1.0)))
    else:
        voting = voting.withColumn("_w", F.lit(1.0))

    scored = voting.groupBy("doc_id", "field_name", "value").agg(
        F.sum(F.col("_w") * F.col("_conf")).alias("_score")
    )
    field_w = Window.partitionBy("doc_id", "field_name")
    rank_w = field_w.orderBy(F.col("_score").desc(), F.col("value").asc())
    return (
        scored.withColumn("_total", F.sum("_score").over(field_w))
        .withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            "field_name",
            "value",
            # reference guard (weighted.py:123): zero total → confidence 0
            F.when(F.col("_total") > 0, F.col("_score") / F.col("_total"))
            .otherwise(F.lit(0.0))
            .alias("confidence"),
        )
    )


def majority_vote(votes: DataFrame) -> DataFrame:
    """A2/W3: mode per (doc_id, field_name) with pinned tie-break.

    ``votes``: (doc_id, field_name, value) rows — one per annotation leg.
    Returns (doc_id, field_name, value, n_votes).
    """
    keys = ["doc_id", "field_name"]
    counted = votes.groupBy(*keys, "value").agg(F.count(F.lit(1)).alias("n_votes"))
    rank_w = Window.partitionBy(*keys).orderBy(
        F.col("n_votes").desc(), F.col("value").asc()
    )
    return (
        counted.withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def highest_confidence_vote(annotations: DataFrame) -> DataFrame:
    """The reference's DECLARED-but-unimplemented third voter
    (config accepts 'highest_confidence', run raises NotImplementedError —
    reference: config/config_manager.py:24-26, pipeline/run_annotation.py:88-89,
    constraint noted docs/architecture.md:253). Completed here with the
    obvious semantics the name promises:

    per (doc, field_name): winner = the single annotation row with the
    highest confidence (default 1.0 when absent); ties break
    (confidence DESC, value ASC, annotator_id ASC) — deterministic under
    any parallelism. Output confidence = the winner's own confidence.

    Plan: one shuffle (window partition), WindowGroupLimit prunes losers.
    """
    voting = falsy_field_filter(annotations).withColumn(
        "_conf", F.coalesce(F.col("confidence").cast("double"), F.lit(1.0))
    )
    rank_w = Window.partitionBy("doc_id", "field_name").orderBy(
        F.col("_conf").desc(), F.col("value").asc(), F.col("annotator_id").asc()
    )
    return (
        voting.withColumn("_rn", F.row_number().over(rank_w))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id", "field_name", "value", F.col("_conf").alias("confidence")
        )
    )


def explode_annotation_fields(nested: DataFrame) -> DataFrame:
    """UDTF-shaped helper (SURVEY §2.11): nested result.fields → one row per
    field, preserving (doc_id, annotator_id, sample_id)."""
    return nested.select(
        "doc_id",
        "annotator_id",
        "sample_id",
        F.explode("result.fields").alias("_f"),
    ).select(
        "doc_id",
        "annotator_id",
        "sample_id",
        F.col("_f.field_name").alias("field_name"),
        F.col("_f.value").alias("value"),
        F.col("_f.confidence").alias("confidence"),
    )
