"""CCNet-style perplexity filtering over a corpus (broadcast LM).

Train a stupid-backoff LM (kernel/lm.py: bigram floor or KenLM-style
5-gram via ``order``) on a bounded in-domain
sample (driver-side — same rule as the BPE trainer / IVF quantizer /
quality classifier: fit on a sample, broadcast the model), then score
every document's perplexity in one narrow column-UDF pass over the text
column and gate on a threshold. In the CCNet recipe the in-domain sample
is a curated corpus (Wikipedia) and documents land in head/middle/tail
perplexity buckets; the same bucketing is expressed here as a plain
``ntile``/threshold over the scored column.

Scale shape: the model is sample-sized (counts dicts, driver-holdable by
construction), scoring is shuffle-free, and the per-doc log-prob is a
sequential fold — distributed scores are bit-equal to a sequential
replay, which is what the golden oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import lm as L
from ._common import column_udf, spread_partitions, text_or_empty


def train_lm_from_sources(
    docs: DataFrame,
    reference_sources: list[str],
    sample_docs: int = 200,
    order: int = 2,
) -> L.BigramLM | L.NgramLM:
    """Bounded driver-side LM training on the reference (in-domain) slice
    of the first ``sample_docs`` docs by id — the CCNet setup with the
    curated corpus expressed as a source subset. ``order=2`` gives the
    bigram floor; ``order>=3`` the KenLM-style raw-count stupid-backoff
    model (kernel/lm.train_ngram_lm) — same bounded-training + broadcast +
    narrow-pass shape, production uses order 5."""
    rows = (
        docs.filter(F.col("source").isin(*reference_sources))
        .select(F.col("text").alias("t"), F.col("doc_id").alias("k"))
        .orderBy("k")
        .limit(sample_docs)
        .collect()
    )
    texts = [text_or_empty(r.t) for r in rows]
    if order <= 2:
        return L.train_bigram_lm(texts)
    return L.train_ngram_lm(texts, order=order)


def score_perplexity(docs: DataFrame, lm: L.BigramLM | L.NgramLM) -> DataFrame:
    """input columns (minus text) + per-document perplexity."""
    if "perplexity" in docs.columns:
        raise ValueError("score_perplexity: input already has 'perplexity'")
    bc = docs.sparkSession.sparkContext.broadcast(lm)
    scorer = L.ngram_perplexity if isinstance(lm, L.NgramLM) else L.perplexity
    score = column_udf(
        "double",
        lambda texts, model: [scorer(t, model) for t in texts],
        lambda: bc.value,
    )
    return (
        spread_partitions(docs, "doc_id")
        .select("*", score("text").alias("perplexity"))
        .drop("text")
    )


def perplexity_filter(
    docs: DataFrame,
    lm: L.BigramLM | L.NgramLM,
    max_perplexity: float,
) -> DataFrame:
    """Documents at or below the perplexity budget (the tail drops)."""
    scored = score_perplexity(docs, lm)
    return scored.filter(F.col("perplexity") <= max_perplexity)
