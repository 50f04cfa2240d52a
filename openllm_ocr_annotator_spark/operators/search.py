"""Lexical retrieval over the corpus: BM25 scoring via an inverted index.

Not in the reference (no retrieval surface) — added as first-class engine
capability: corpus-scale lexical search is the standard companion to the
ANN operators (`operators/similarity.py`) for retrieval-based data
selection and decontamination-by-retrieval.

Scale design (100 TB):
- the only per-doc work is one narrow tokenize+explode; term frequencies
  come from a (doc, term) groupBy with map-side combine;
- document frequencies and the average document length are corpus-level
  aggregates over relations no wider than the query's posting lists;
- query terms are a tiny literal array — posting rows are pruned to QUERY
  terms before the tf groupBy, so cost scales with the query's posting
  lists, not corpus vocabulary;
- stopword-sized posting lists are the classic skew: ``max_df_frac``
  drops terms present in more than that fraction of documents (the
  standard lossy IDF floor — such terms contribute ~0 BM25 anyway),
  bounding every posting list and making the skew knob explicit.

Determinism note: the final score is a FIXED-ORDER left fold over the
query's per-term partial scores (pivot → coalesce chain), never a
float ``sum()`` whose addition order depends on partitioning — the same
left-fold convention the cosine goldens use, so a SQL oracle can restate
the arithmetic exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    top_k: int | None = None,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Score documents against ``query_terms`` with BM25 (the Lucene/ATIRE
    ``ln(1 + (N - df + 0.5)/(df + 0.5))`` idf variant — always positive)
    and return (id, score, n_hit_terms) for every document matching at
    least one surviving term, optionally top-k by (score DESC, id ASC).

    Tokenization matches the engine's whitespace basis (lowercase split
    on ' ', empties dropped); tf counts repeated occurrences; document
    length = total token count over the full corpus. Query terms are
    treated as a SET (duplicates collapsed, standard short-query BM25).
    Terms with df > ``max_df_frac``·N are excluded from scoring.
    """
    terms = list(dict.fromkeys(t.lower() for t in query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    qlit = F.array(*[F.lit(t) for t in terms])

    toks = docs.select(
        F.col("doc_id"),
        F.filter(F.split(F.lower(F.col("text")), " "), lambda w: w != "").alias("_w"),
    )
    lengths = toks.select("doc_id", F.size("_w").cast("long").alias("_dl"))
    corpus = lengths.agg(
        F.count(F.lit(1)).alias("_n"), F.avg("_dl").alias("_avgdl")
    )

    # posting rows for the query terms only: prune BEFORE the tf groupBy
    hits = (
        toks.select(F.col("doc_id"), F.explode("_w").alias("term"))
        .filter(F.array_contains(qlit, F.col("term")))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_rel = hits.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    per_term = (
        hits.join(F.broadcast(df_rel), "term")
        .join(lengths, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .filter(F.col("df") <= F.col("_n") * F.lit(max_df_frac))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "_term_score",
            F.col("_idf")
            * (F.col("tf") * (F.lit(1.2) + 1.0))
            / (
                F.col("tf")
                + F.lit(1.2)
                * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * F.col("_dl") / F.col("_avgdl"))
            ),
        )
    )
    # one column per query term (terms is a small literal list), then a
    # FIXED left-to-right fold — partitioning-independent float addition
    pivoted = per_term.groupBy("doc_id").pivot("term", terms).agg(
        F.first("_term_score")
    )
    score = F.lit(0.0)
    n_hit = F.lit(0).cast("long")
    for t in terms:
        c = F.col(f"`{t}`")
        score = score + F.coalesce(c, F.lit(0.0))
        n_hit = n_hit + F.when(c.isNotNull(), 1).otherwise(0)
    scored = pivoted.select(
        F.col("doc_id"), score.alias("score"), n_hit.alias("n_hit_terms")
    )
    if top_k is not None:
        scored = scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(top_k)
    return scored
