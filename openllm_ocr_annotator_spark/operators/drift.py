"""Corpus distribution-drift detection: per-term KL / total-variation
contributions between two corpus slices.

Not in the reference (no monitoring surface) — added as first-class engine
capability: every continuously-ingesting training-data pipeline needs a
drift gate comparing an incoming batch's token distribution against the
committed corpus (vocabulary shift, source contamination, scraper
breakage all show up here first, long before a quality metric moves).

Semantics: Laplace-smoothed unigram distributions over the union
vocabulary —

    p(t) = (count_cand(t) + 1) / (tokens_cand + V)
    q(t) = (count_ref(t)  + 1) / (tokens_ref  + V)

with V = |union vocabulary|, so both distributions are positive on every
term and the KL contribution p·ln(p/q) is always finite. The output is
PER-TERM (never a float ``sum()`` whose addition order depends on
partitioning — the caller folds or top-Ks as needed, and the per-term
rows are what you actually alert on: "which terms drifted").

Scale design (100 TB): term counts are one explode + groupBy(term) with
map-side combine — the shuffled relation is vocabulary-sized, orders of
magnitude smaller than the corpus; the two scalar totals and V broadcast;
the final join is vocab×vocab on the term key. Nothing corpus-sized ever
shuffles twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def token_counts(docs: DataFrame) -> DataFrame:
    """(term, n) unigram counts over the engine's whitespace token basis
    (lowercase split on ' ', empties dropped)."""
    return (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), " "), lambda w: w != ""
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def distribution_drift(
    candidate: DataFrame,
    reference: DataFrame,
    round_to: int | None = None,
) -> DataFrame:
    """Per-term drift between ``candidate`` and ``reference`` corpora.

    Returns one row per union-vocabulary term:
    (term, n_cand, n_ref, kl_contrib, tv_contrib) where ``kl_contrib`` =
    1e6·p·ln(p/q) (signed; sums to 1e6·KL(p‖q) ≥ 0 over the full
    vocabulary) and ``tv_contrib`` = 1e6·|p−q|/2 (sums to 1e6·TV).
    The 1e6 scale gives micro-nats / micro-TV per term: unigram
    contributions over a real vocabulary are O(1e-5..1e-8), so unscaled
    values vanish under the 6-decimal cross-engine rounding every oracle
    comparison applies. Floats are rounded to ``round_to`` decimals if
    given; ``None`` returns raw doubles.
    """
    cand = token_counts(candidate)
    ref = token_counts(reference)
    vocab = (
        cand.select("term", F.col("n").alias("n_cand"))
        .join(ref.select("term", F.col("n").alias("n_ref")), "term", "full_outer")
        .fillna(0, subset=["n_cand", "n_ref"])
    )
    totals = vocab.agg(
        F.sum("n_cand").alias("_tc"),
        F.sum("n_ref").alias("_tr"),
        F.count(F.lit(1)).alias("_v"),
    )
    p = (F.col("n_cand") + 1) / (F.col("_tc") + F.col("_v"))
    q = (F.col("n_ref") + 1) / (F.col("_tr") + F.col("_v"))
    kl = F.lit(1e6) * p * F.log(p / q)
    tv = F.lit(1e6) * F.abs(p - q) / F.lit(2.0)
    if round_to is not None:
        kl, tv = F.round(kl, round_to), F.round(tv, round_to)
    return vocab.crossJoin(F.broadcast(totals)).select(
        "term", "n_cand", "n_ref",
        kl.alias("kl_contrib"), tv.alias("tv_contrib"),
    )
