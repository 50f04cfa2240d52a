"""DSIR-style hashed n-gram importance resampling (pure numpy/math).

Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): estimate bag-of-hashed-n-grams distributions p (target
domain) and q (raw pool), weight every raw document by
log w(x) = Σ_b c_b(x)·(log p_b − log q_b), then sample without replacement
via the Gumbel-top-k trick over log w + Gumbel noise. The standard
target-domain selection stage modern pretraining pipelines run between
heuristic gating and tokenization.

Everything here is deterministic and shared verbatim by the Spark operator
(broadcast diff vector + one narrow Arrow pass) and the pure-Python golden
generator:

- ``ngram_bucket_counts``: word uni+bi-grams → (sorted unique bucket ids,
  RAW integer counts) via the engine's splitmix token hash
  (kernel/dedup.hash_token) mod ``n_buckets`` — DSIR's likelihood uses raw
  counts; the quality classifier (kernel/classify.hashed_features)
  L2-normalizes the same counts.
- ``train_ngram_dist``: Laplace-smoothed log-probabilities from summed
  counts over a training sample — integer accumulation, so the vector is
  bit-deterministic for a given sample.
- ``log_importance``: a SEQUENTIAL sparse fold over the document's own
  buckets — batch-size independent, so distributed scores equal a
  sequential replay bit-for-bit.
- ``gumbel_key``: Gumbel(0,1) noise as a pure function of (seed, doc_id)
  (hash → uniform in (0,1) → −log(−log u)) — reproducible resampling with
  no RNG state anywhere.
"""

from __future__ import annotations

import math

import numpy as np

from .dedup import hash_token, hash_tokens

TWO53 = float(1 << 53)


def ngram_bucket_counts(
    text: str, n_buckets: int = 1 << 14
) -> tuple[np.ndarray, np.ndarray]:
    """(sorted unique bucket ids, raw int64 counts) for one document."""
    words = [w for w in (text or "").lower().split() if w]
    grams = words + [f"{a} {b}" for a, b in zip(words, words[1:])]
    if not grams:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    # batch hash (kernel/dedup.hash_tokens) — value-identical to the scalar
    # hash_token per gram, minus its per-call numpy-scalar/errstate overhead
    # (profiled at 94% of the weighting pass)
    idx = (hash_tokens(grams) % np.uint64(n_buckets)).astype(np.int64)
    uniq, counts = np.unique(idx, return_counts=True)
    return uniq, counts.astype(np.int64)


def train_ngram_dist(texts: list[str], n_buckets: int = 1 << 14) -> np.ndarray:
    """Laplace-smoothed (add-one) log-probability vector over hash buckets.

    Counts accumulate in int64 (exact), so log((c_b + 1)/(total + B)) is
    a deterministic elementwise transform — the same vector everywhere.
    """
    total = np.zeros(n_buckets, dtype=np.int64)
    for t in texts:
        idx, counts = ngram_bucket_counts(t, n_buckets)
        total[idx] += counts
    denom = float(int(total.sum())) + n_buckets
    return np.log((total.astype(np.float64) + 1.0) / denom)


def log_importance(text: str, diff: np.ndarray) -> float:
    """Σ c_b·(log p_b − log q_b) via a sequential sparse fold.

    ``diff`` = logp − logq (precomputed once, elementwise). The fold runs
    over THIS document's buckets in sorted-id order — batch-independent,
    bit-equal to the golden replay.
    """
    idx, counts = ngram_bucket_counts(text, len(diff))
    z = 0.0
    for i, c in zip(idx, counts):
        z += float(diff[i]) * float(c)
    return z


def gumbel_key(doc_id: str, seed: int = 42) -> float:
    """Gumbel(0,1) noise as a pure function of (seed, doc_id).

    u = (top-53-bits + 0.5)/2^53 — the shifted hash is exactly float64-
    representable (a full-width float(uint64) could round UP to 2^64,
    making u = 1.0 and log(−log u) raise), so u ∈ (0,1) strictly and both
    logs are finite, with identical IEEE results everywhere.
    """
    h = int(hash_token(f"{seed}|{doc_id}")) >> 11
    u = (float(h) + 0.5) / TWO53
    return -math.log(-math.log(u))
