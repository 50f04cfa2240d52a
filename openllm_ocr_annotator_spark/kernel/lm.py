"""Bigram language model + perplexity scoring (pure Python, deterministic).

The CCNet-lineage perplexity filter: score each document against a small
LM trained on an in-domain sample and drop the high-perplexity tail (the
classic crawl-cleaning stage between heuristic gates and model
classifiers; KenLM 5-gram in production — here a bigram stupid-backoff LM,
the same shape with a driver-holdable model).

- ``train_bigram_lm``: unigram + bigram counts over whitespace tokens,
  with a per-document sentence-start context tracked separately (so a
  literal "<s>" token in text cannot collide with the start state).
- ``doc_logprob``: Σ log P(w_i | w_{i-1}) with stupid backoff
  (Brants et al. 2007): bigram MLE when the bigram is seen, else
  α · unigram MLE, else α · (1/total) OOV floor. SEQUENTIAL float fold —
  batch-size independent, so distributed scoring equals a sequential
  replay (golden-checkable).
- ``perplexity``: exp(−logprob / n_tokens); lower = more in-domain.

Shared verbatim by the Spark operator (broadcast counts + a column UDF
over the text) and the golden generator, like every other kernel in this package.
"""

from __future__ import annotations

import math
from collections import Counter

ALPHA = 0.4  # stupid-backoff discount (the published constant)
_BOS = object()  # start-of-document context; never collides with a token


class BigramLM:
    """Plain-data model (picklable for Spark broadcast)."""

    __slots__ = ("uni", "bi", "bos_bi", "total", "n_starts")

    def __init__(
        self, uni: dict, bi: dict, bos_bi: dict, total: int, n_starts: int
    ) -> None:
        self.uni = uni          # word → count
        self.bi = bi            # (w1, w2) → count
        self.bos_bi = bos_bi    # first-word → count (start-context bigrams)
        self.total = total      # token count
        self.n_starts = n_starts  # number of non-empty training docs


def train_bigram_lm(texts: list[str]) -> BigramLM:
    uni: Counter = Counter()
    bi: Counter = Counter()
    bos_bi: Counter = Counter()
    total = 0
    n_starts = 0
    for t in texts:
        words = [w for w in (t or "").lower().split() if w]
        if not words:
            continue
        n_starts += 1
        bos_bi[words[0]] += 1
        prev = None
        for w in words:
            uni[w] += 1
            if prev is not None:
                bi[(prev, w)] += 1
            total += 1
            prev = w
    return BigramLM(dict(uni), dict(bi), dict(bos_bi), total, n_starts)


def doc_logprob(text: str, lm: BigramLM) -> tuple[float, int]:
    """(Σ log P(w|prev), token count) under stupid backoff."""
    words = [w for w in (text or "").lower().split() if w]
    if not words or lm.total <= 0:
        return 0.0, 0
    floor = 1.0 / lm.total  # OOV mass: one pseudo-count over training tokens
    lp = 0.0
    prev: object = _BOS
    for w in words:
        if prev is _BOS:
            c_bi = lm.bos_bi.get(w, 0)
            c_prev = lm.n_starts
        else:
            c_bi = lm.bi.get((prev, w), 0)
            c_prev = lm.uni.get(prev, 0)
        if c_bi and c_prev:
            p = c_bi / c_prev
        else:
            c_uni = lm.uni.get(w, 0)
            p = ALPHA * (c_uni / lm.total if c_uni else floor)
        lp += math.log(p)
        prev = w
    return lp, len(words)


def perplexity(text: str, lm: BigramLM) -> float:
    lp, n = doc_logprob(text, lm)
    if n == 0:
        return float("inf")
    return math.exp(-lp / n)


# ---------------------------------------------------------------------------
# KenLM-style higher-order model: n-gram counts + stupid backoff (Brants et
# al. 2007, "Large Language Models in Machine Translation") — the
# production-shaped upgrade over the bigram floor above, same surface.
# ---------------------------------------------------------------------------

_BOS_TOK = "<s>"  # start-pad token; REAL tokens are stored with a "t" prefix


def _esc(w: str) -> str:
    """Real tokens get a 't' prefix so the '<s>' pad can never collide with
    a literal '<s>' in text (the n-gram analog of the bigram model's
    separate bos_bi table; prefixed keys stay picklable/broadcastable,
    unlike an object() sentinel whose hash changes across pickling)."""
    return "t" + w


class NgramLM:
    """Plain-data n-gram model (picklable for Spark broadcast).

    ``grams[k]`` maps k-gram tuples (1 ≤ k ≤ order) over escaped tokens —
    including start-pad-prefixed grams, which are only ever queried as
    CONTEXTS — to raw counts. ``total`` counts real training tokens only
    (the OOV floor mass, as in the bigram model)."""

    __slots__ = ("order", "grams", "total")

    def __init__(self, order: int, grams: dict, total: int) -> None:
        self.order = order
        self.grams = grams  # {k: {tuple: count}}
        self.total = total


def train_ngram_lm(texts: list[str], order: int = 5) -> NgramLM:
    """Raw k-gram counts for k = 1..order over start-padded documents.

    Stupid backoff scores with RAW counts (no discounting, no
    normalization — the published recipe's whole point is skipping the
    Kneser-Ney estimation pass), so training is one counting sweep."""
    if order < 2:
        raise ValueError("order must be >= 2 (use the bigram model directly)")
    grams: dict[int, Counter] = {k: Counter() for k in range(1, order + 1)}
    total = 0
    for t in texts:
        words = [_esc(w) for w in (t or "").lower().split() if w]
        if not words:
            continue
        total += len(words)
        padded = [_BOS_TOK] * (order - 1) + words
        n = len(padded)
        for k in range(1, order + 1):
            g = grams[k]
            for i in range(n - k + 1):
                tup = tuple(padded[i : i + k])
                # grams ending in the pad are only queried as contexts when
                # ALL-pad (the start context at each backoff length); mixed
                # grams ending in pad are never queried — skip them
                if tup[-1] == _BOS_TOK and not all(x == _BOS_TOK for x in tup):
                    continue
                g[tup] += 1
    return NgramLM(order, {k: dict(v) for k, v in grams.items()}, total)


def ngram_doc_logprob(text: str, lm: NgramLM) -> tuple[float, int]:
    """(Σ log S(w|context), token count) under stupid backoff: longest
    matching order first, α penalty per backoff step, α^k·unigram-MLE (or
    the 1/total OOV floor) at the bottom. SEQUENTIAL float fold — equal to
    the distributed score by construction (golden-checkable)."""
    words = [_esc(w) for w in (text or "").lower().split() if w]
    if not words or lm.total <= 0:
        return 0.0, 0
    floor = 1.0 / lm.total
    ctx_len = lm.order - 1
    padded = [_BOS_TOK] * ctx_len + words
    lp = 0.0
    for i in range(len(words)):
        pos = ctx_len + i
        w = padded[pos]
        penalty = 1.0
        p = None
        for k in range(ctx_len, 0, -1):  # longest context first
            ctx = tuple(padded[pos - k : pos])
            c_full = lm.grams[k + 1].get(ctx + (w,), 0)
            if c_full:
                c_ctx = lm.grams[k].get(ctx, 0)
                if c_ctx:
                    p = penalty * (c_full / c_ctx)
                    break
            penalty *= ALPHA
        if p is None:
            c_uni = lm.grams[1].get((w,), 0)
            p = penalty * (c_uni / lm.total if c_uni else floor)
        lp += math.log(p)
    return lp, len(words)


def ngram_perplexity(text: str, lm: NgramLM) -> float:
    lp, n = ngram_doc_logprob(text, lm)
    if n == 0:
        return float("inf")
    return math.exp(-lp / n)
