"""Operational probes for partition/shuffle planning: key-skew report and
sketch-based cardinality audit.

Not in the reference (single-node, no shuffle to plan) — added as engine
capability because both questions precede every big job at 100 TB:
"which keys will straggle my join?" (run ``skew_report`` on the join key,
decide salting/AQE thresholds from data, not folklore) and "how many
distinct X per group?" (run ``cardinality_audit`` — the HyperLogLog++
path whose per-group state is O(KB) instead of a corpus-wide distinct
shuffle, with the exact twin asserting the sketch stayed inside its
error contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def skew_report(df: DataFrame, key_col: str, top_k: int = 20) -> DataFrame:
    """Top-``top_k`` heavy-hitter keys with counts, corpus fraction, and
    rank — the pre-join skew probe. Deterministic: ties rank by key ASC.

    Plan: one map-side-combined groupBy on the key (the relation being
    ranked is key-cardinality-sized, not corpus-sized), a scalar total
    broadcast, then ``orderBy(...).limit(k)`` — which compiles to
    ``TakeOrderedAndProject``: every partition forwards its own top-k
    only, so the single merge point sees k·partitions rows, never the key
    space. (A global row_number window would NOT get this treatment —
    Spark's WindowGroupLimit rewrite needs a partitioned window — so rank
    is assigned afterwards on the already-k-row relation.)
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = counts.agg(F.sum("n").alias("_total"))
    top = counts.orderBy(F.col("n").desc(), F.col("key").asc()).limit(top_k)
    w = Window.orderBy(F.col("n").desc(), F.col("key").asc())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            "key", "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("frac"),
            "rank",
        )
    )


def cardinality_audit(
    df: DataFrame,
    group_col: str,
    value_col: str,
    rsd: float = 0.05,
) -> DataFrame:
    """Per-group distinct-value counts: the exact count next to Spark's
    HyperLogLog++ ``approx_count_distinct`` at relative standard deviation
    ``rsd``, plus ``within_tol`` asserting the sketch landed within
    4·rsd ≈ 4σ (a deterministic contract for a deterministic sketch, not a
    probabilistic one) of the exact count.

    At corpus scale you run ONLY the sketch (drop the exact column): its
    per-group state is a few KB and merges map-side, while exact distinct
    is a corpus-wide re-shuffle on (group, value). The exact twin exists
    so small-scale runs continuously audit the sketch's error — and so a
    cross-engine oracle can value-check this query: the oracle restates
    the exact count and the LITERAL contract (within_tol = true); a Spark
    upgrade that degraded the sketch would flip the boolean and fail the
    value hash.
    """
    tol = 4.0 * rsd
    out = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count_distinct(F.col(value_col)).cast("long").alias("exact_distinct"),
        F.approx_count_distinct(F.col(value_col), rsd).cast("long").alias("_approx"),
    )
    err = F.abs(F.col("_approx") - F.col("exact_distinct")) / F.greatest(
        F.col("exact_distinct"), F.lit(1)
    )
    return out.select(
        "grp", "exact_distinct", (err <= F.lit(tol)).alias("within_tol")
    )
