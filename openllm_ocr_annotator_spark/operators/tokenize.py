"""Real-BPE token counting over a corpus (broadcast vocab + Arrow batches).

Upgrades the regex token-count proxy (functions/text.token_count_bpe) to an
actual trained tokenizer so training-shard budgets (operators/pack.py) are
denominated in real tokens:

1. ``train_bpe_from_corpus``: train merges on a BOUNDED deterministic
   sample (first ``sample_docs`` by doc_id) — tokenizer training is a
   driver-side step by design, the standard pattern (train on a sample,
   broadcast to the fleet); the sample size bounds driver memory regardless
   of corpus scale.
2. ``bpe_token_counts``: broadcast the merge ranks, count per doc in a
   column UDF over the text column (kernel/bpe.py). A per-task
   word-length memo exploits Zipf: the unique-word set per task is tiny
   relative to the token stream, so the Python cost is ~O(unique words),
   not O(tokens).

Scale shape: training reads ``sample_docs`` rows once; counting is one
narrow pass, no shuffle; the broadcast is merges only (KBs for typical
merge counts), never the corpus vocabulary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import bpe as B
from ._common import column_udf, spread_partitions


def train_bpe_from_corpus(
    docs: DataFrame,
    num_merges: int = 200,
    sample_docs: int = 200,
) -> list[tuple[str, str]]:
    """Deterministic merges from the first ``sample_docs`` docs by id."""
    sample = [
        r[0]
        for r in docs.select("text", "doc_id")
        .orderBy("doc_id")
        .limit(sample_docs)
        .collect()
    ]
    return B.train_bpe(B.word_vocab(sample), num_merges)


def bpe_token_counts(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(id, text, …) → (id, …, n_tokens) with REAL BPE token counts."""
    if "n_tokens" in docs.columns:
        raise ValueError(
            "bpe_token_counts: input already has an 'n_tokens' column — "
            "drop or rename it to avoid a silent duplicate"
        )
    ranks_bc = docs.sparkSession.sparkContext.broadcast(B.merge_ranks(merges))
    count = column_udf(
        "long",
        lambda texts, st: [B.count_tokens(t, *st) for t in texts],
        # per-task (ranks, word-length memo) — Zipf makes the memo tiny
        lambda: (ranks_bc.value, {}),
    )
    return (
        spread_partitions(docs, "doc_id")
        .select("*", count("text").alias("n_tokens"))
        .drop("text")
    )
