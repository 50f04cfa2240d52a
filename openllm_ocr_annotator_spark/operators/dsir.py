"""DSIR importance resampling over a corpus (broadcast model, Gumbel top-k).

Wires kernel/dsir.py into the engine: estimate the target and raw hashed
n-gram distributions on bounded deterministic samples (driver-side — the
same rule as the BPE trainer / IVF quantizer / quality classifier),
broadcast ONE diff vector (logp − logq: 2^14 doubles = 128 KB — model,
never corpus), weight every document in one narrow column-UDF pass,
then select k documents without replacement via Gumbel-top-k
(``orderBy(key).limit(k)`` → TakeOrderedAndProject: per-partition top-k +
driver merge, never a global sort shuffle).

Scale shape: training reads 2×``sample_docs`` rows once; weighting is
shuffle-free and batch-size independent (sequential sparse fold per doc —
golden-replayable); selection is the only cross-partition step and moves
k rows, not the corpus. At 10^12 docs with k ≪ N this is the cheapest
possible global operation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernel import dsir as D
from ._common import column_udf, spread_partitions, text_or_empty

N_BUCKETS = 1 << 14


def train_importance_model(
    docs: DataFrame,
    target_filter: Column,
    sample_docs: int = 500,
    n_buckets: int = N_BUCKETS,
) -> np.ndarray:
    """diff = log p_target − log q_raw over hash buckets, trained on the
    first ``sample_docs`` docs by id from each side (bounded collects).

    ``target_filter``: a boolean Column defining the target domain — the
    classic choice is membership in a curated source set (the same weak
    signal the quality classifier uses); q trains on the unfiltered pool.
    """

    def sample(df: DataFrame) -> list[str]:
        rows = (
            df.select(F.col("text").alias("t"), F.col("doc_id").alias("k"))
            .orderBy("k")
            .limit(sample_docs)
            .collect()
        )
        return [text_or_empty(r.t) for r in rows]

    logp = D.train_ngram_dist(sample(docs.filter(target_filter)), n_buckets)
    logq = D.train_ngram_dist(sample(docs), n_buckets)
    return logp - logq


def importance_weights(
    docs: DataFrame,
    diff: np.ndarray,
    seed: int = 42,
) -> DataFrame:
    """input columns (minus text) + ``log_w`` + ``sel_key`` per document.

    ``sel_key`` = log_w + Gumbel(0,1) noise keyed on (seed, doc id) — the
    Gumbel-top-k trick: taking the k largest sel_key values IS sampling k
    docs without replacement with probability ∝ w(x). Both floats are
    sequential per-doc folds / pure hash functions, so the distributed
    result is bit-equal to the sequential golden replay.
    """
    for c in ("log_w", "sel_key"):
        if c in docs.columns:
            raise ValueError(f"importance_weights: input already has {c!r}")
    bc = docs.sparkSession.sparkContext.broadcast(diff)
    weigh = column_udf(
        "array<double>",
        lambda texts, ids, d: [
            [w, w + D.gumbel_key(i, seed)]
            for w, i in zip((D.log_importance(t, d) for t in texts), ids)
        ],
        lambda: bc.value,
    )("text", "doc_id")
    return (
        spread_partitions(docs, "doc_id")
        .select("*", weigh[0].alias("log_w"), weigh[1].alias("sel_key"))
        .drop("text")
    )


def dsir_select(
    docs: DataFrame,
    target_filter: Column,
    k: int = 100,
    sample_docs: int = 500,
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """End-to-end DSIR selection: train → weight → Gumbel-top-k.

    Returns the k selected rows (input columns minus text, plus ``log_w``
    and ``sel_key``). The sort key is (sel_key desc, id asc) — the id
    tie-break is unreachable in practice (distinct Gumbel noise per doc)
    but pins determinism by construction rather than by luck.
    """
    diff = train_importance_model(
        docs, target_filter, sample_docs, n_buckets,
    )
    weighted = importance_weights(docs, diff)
    return weighted.orderBy(F.col("sel_key").desc(), F.col("doc_id").asc()).limit(k)
