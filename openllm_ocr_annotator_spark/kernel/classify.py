"""Hashed-n-gram linear quality classifier (pure numpy, deterministic).

The model-based filtering stage modern pretraining pipelines run after
heuristic gates (fastText-style classifiers in C4/CCNet lineage,
linear-probe quality scorers in the FineWeb-Edu / DCLM lineage): hash word
uni+bi-grams into a fixed feature space, score with a logistic linear
model. Everything here is deterministic pure numpy, shared verbatim by the
Spark operator (broadcast weights + a column UDF over the text) and the
golden generator:

- ``hashed_features``: DSIR's hashed word uni+bi-gram counts
  (kernel/dsir.ngram_bucket_counts, splitmix token hash mod
  ``n_features``), L2-normalized — no external tokenizer, no floating hash.
- ``score_text``: sigmoid(w·x + b), computed per document with a
  SEQUENTIAL fold over the doc's own sparse features — batch-size
  independent, so the distributed scores equal a sequential replay.
- ``train_logreg``: full-batch gradient descent, fixed step count, zero
  init — bit-deterministic for a given (texts, labels) sample. Training
  is a bounded DRIVER-side step by design (same rule as the BPE trainer
  and the IVF quantizer: fit on a sample, broadcast to the fleet).
"""

from __future__ import annotations

import math

import numpy as np

from .dsir import ngram_bucket_counts


def hashed_features(
    text: str, n_features: int = 1 << 18
) -> tuple[np.ndarray, np.ndarray]:
    """(sorted unique indices, L2-normalized counts) for one document."""
    idx, counts = ngram_bucket_counts(text, n_features)
    vals = counts.astype(np.float64)
    vals /= math.sqrt(float((vals * vals).sum()))  # empty text: empty vals
    return idx, vals


def score_text(
    text: str, weights: np.ndarray, bias: float, n_features: int | None = None
) -> float:
    """sigmoid(w·x + b) with a sequential sparse fold (batch-independent)."""
    nf = n_features if n_features is not None else len(weights)
    idx, vals = hashed_features(text, nf)
    z = bias
    for i, v in zip(idx, vals):
        z += float(weights[i]) * float(v)
    return 1.0 / (1.0 + math.exp(-z))


def train_logreg(
    texts: list[str], labels: list[int],
    n_features: int = 1 << 18,
    steps: int = 200,
) -> tuple[np.ndarray, float]:
    """Full-batch GD logistic regression; zero init → deterministic."""
    feats = [hashed_features(t, n_features) for t in texts]
    y = np.array(labels, dtype=np.float64)
    w = np.zeros(n_features, dtype=np.float64)
    b = 0.0
    n = max(len(texts), 1)
    for _ in range(steps):
        zs = np.array(
            [b + float((w[idx] * vals).sum()) for idx, vals in feats],
            dtype=np.float64,
        )
        p = 1.0 / (1.0 + np.exp(-zs))
        g = (p - y) / n
        gw = np.zeros_like(w)
        for gi, (idx, vals) in zip(g, feats):
            gw[idx] += gi * vals
        w -= 0.5 * (gw + 1e-4 * w)
        b -= 0.5 * float(g.sum())
    return w, b
