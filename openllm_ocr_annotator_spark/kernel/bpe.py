"""Byte-pair-encoding tokenizer kernel (pure Python, deterministic).

Real greedy-merge BPE (Sennrich et al. 2016; the GPT-2 merge-rank encode
loop), replacing the regex token-count proxy for workloads where pack
budgets must be denominated in REAL tokens:

- ``train_bpe``: word-level BPE training over a (word → count) vocabulary:
  start from characters + an end-of-word marker, repeatedly merge the
  most frequent adjacent symbol pair. Ties break lexicographically, so
  training is bit-deterministic for a given corpus sample.
- ``encode_word``: apply merges by rank (lowest-rank pair first) until no
  merge applies — the standard BPE encode loop, memoized by callers.
- ``count_tokens``: Σ len(encode(word)) over whitespace words.

The kernel is shared verbatim by the Spark operator (broadcast ranks + a
column UDF over the text) and the pure-Python golden generator / pytest oracle — same
single-source-of-truth pattern as kernel/merge.py.
"""

from __future__ import annotations

from collections import Counter

END = "</w>"


def word_vocab(texts: list[str]) -> Counter:
    """Whitespace word frequencies over a corpus sample."""
    vocab: Counter = Counter()
    for t in texts:
        vocab.update(w for w in (t or "").lower().split() if w)
    return vocab


def train_bpe(vocab: Counter, num_merges: int) -> list[tuple[str, str]]:
    """(word → count) → ordered merge list (rank = position)."""
    seqs: dict[tuple[str, ...], int] = {
        tuple(word) + (END,): n for word, n in vocab.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for seq, n in seqs.items():
            for a, b in zip(seq, seq[1:]):
                pairs[(a, b)] += n
        if not pairs:
            break
        # max count, lexicographically-smallest pair on ties → deterministic
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_seqs: dict[tuple[str, ...], int] = {}
        for seq, n in seqs.items():
            out: list[str] = []
            i = 0
            while i < len(seq):
                if i + 1 < len(seq) and (seq[i], seq[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            new_seqs[tuple(out)] = new_seqs.get(tuple(out), 0) + n
        seqs = new_seqs
    return merges


def merge_ranks(merges: list[tuple[str, str]]) -> dict[tuple[str, str], int]:
    return {pair: rank for rank, pair in enumerate(merges)}


def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> tuple[str, ...]:
    """GPT-2-style encode: repeatedly merge the lowest-rank adjacent pair."""
    seq: list[str] = list(word) + [END]
    while len(seq) > 1:
        best_rank = None
        best_i = -1
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        seq[best_i : best_i + 2] = [seq[best_i] + seq[best_i + 1]]
    return tuple(seq)


def count_tokens(
    text: str,
    ranks: dict[tuple[str, str], int],
    cache: dict[str, int] | None = None,
) -> int:
    """Real BPE token count. ``cache`` memoizes per-word lengths (Zipf:
    a small cache covers most of the stream)."""
    total = 0
    for w in (text or "").lower().split():
        if not w:
            continue
        if cache is not None and w in cache:
            total += cache[w]
            continue
        n = len(encode_word(w, ranks))
        if cache is not None:
            cache[w] = n
        total += n
    return total
