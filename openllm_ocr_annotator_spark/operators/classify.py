"""Model-based document quality scoring over a corpus (broadcast model).

Wires kernel/classify.py into the engine: train the linear scorer on a
bounded deterministic sample (driver-side, same rule as the BPE trainer /
IVF quantizer), broadcast the weight vector (2^18 doubles = 2 MB — model,
never corpus), score every document in one narrow column-UDF pass over
the text column.

Self-supervised bootstrap: ``train_from_heuristic`` derives labels from
the heuristic gate (`functions/text.quality_score` ≥ threshold) on the
sample — the standard pattern for bootstrapping a model-based filter from
rule-based labels (a production run swaps in human/LLM labels through the
same ``train``/``score_documents`` surface).

Scale shape: training reads ``sample_docs`` rows once; scoring is
shuffle-free; the per-doc score is a sequential sparse fold, so the
distributed result is bit-equal to a sequential replay (golden-checked by
the ``quality_classifier`` driver query).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import classify as C
from ._common import column_udf, spread_partitions, text_or_empty

N_FEATURES = 1 << 18


def train_classifier(
    docs: DataFrame,
    label_col,
    sample_docs: int = 200,
    steps: int = 200,
) -> tuple[np.ndarray, float]:
    """Bounded driver-side training on the first ``sample_docs`` docs by id.

    ``label_col``: any integer Column expression. The classic weak labels:
    - CCNet-style: membership in a reference source set
      (``F.col("source").isin(...)``) — positives from a curated corpus,
      negatives from the crawl;
    - heuristic bootstrap: ``quality_score(col) >= t`` (rule-based labels
      refined into a smooth model score).
    """
    rows = (
        docs.select(
            F.col("text").alias("t"),
            label_col.cast("int").alias("y"),
            F.col("doc_id").alias("k"),
        )
        .orderBy("k")
        .limit(sample_docs)
        .collect()
    )
    return C.train_logreg(
        [text_or_empty(r.t) for r in rows], [int(r.y) for r in rows],
        n_features=N_FEATURES, steps=steps,
    )


def train_from_heuristic(docs: DataFrame) -> tuple[np.ndarray, float]:
    """Heuristic-bootstrap convenience over ``train_classifier``."""
    from ..functions.text import quality_score

    return train_classifier(
        docs,
        quality_score(F.col("text")) >= 0.75,
    )


def score_documents(
    docs: DataFrame,
    weights: np.ndarray,
    bias: float,
) -> DataFrame:
    """input columns (minus text) + ``model_quality`` ∈ (0,1) per document."""
    if "model_quality" in docs.columns:
        raise ValueError("score_documents: input already has 'model_quality'")
    bc = docs.sparkSession.sparkContext.broadcast((weights, float(bias)))
    score = column_udf(
        "double",
        lambda texts, wb: [C.score_text(t, *wb) for t in texts],
        lambda: bc.value,
    )
    return (
        spread_partitions(docs, "doc_id")
        .select("*", score("text").alias("model_quality"))
        .drop("text")
    )
