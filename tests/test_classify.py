"""Model-based quality classifier: kernel semantics + Spark parity."""

from __future__ import annotations

import pytest

from openllm_ocr_annotator_spark.kernel import classify as C

POS = [f"excellent prose paragraph number {i} with fluent narrative text" for i in range(20)]
NEG = [f"spam spam buy now click here {i} free offer winner" for i in range(20)]


def test_training_learns_separable_vocab():
    """Disjoint vocabularies must separate: every positive scores above
    every negative after training."""
    w, b = C.train_logreg(POS + NEG, [1] * 20 + [0] * 20, n_features=1 << 14)
    pos_scores = [C.score_text(t, w, b) for t in POS]
    neg_scores = [C.score_text(t, w, b) for t in NEG]
    assert min(pos_scores) > max(neg_scores)
    # held-out docs from each vocabulary inherit the separation
    assert C.score_text("fluent narrative prose", w, b) > C.score_text(
        "click here free spam", w, b
    )


def test_training_and_scoring_deterministic():
    w1, b1 = C.train_logreg(POS + NEG, [1] * 20 + [0] * 20, n_features=1 << 14)
    w2, b2 = C.train_logreg(POS + NEG, [1] * 20 + [0] * 20, n_features=1 << 14)
    assert b1 == b2 and (w1 == w2).all()
    assert C.score_text(POS[0], w1, b1) == C.score_text(POS[0], w2, b2)


def test_empty_and_degenerate_text():
    import numpy as np

    w = np.zeros(1 << 14)
    assert C.score_text("", w, 0.0) == 0.5  # sigmoid(bias) with no features
    idx, vals = C.hashed_features("", 1 << 14)
    assert len(idx) == 0 and len(vals) == 0
    idx, vals = C.hashed_features("one", 1 << 14)
    assert len(idx) == 1 and abs(float((vals * vals).sum()) - 1.0) < 1e-12


def test_spark_scoring_matches_kernel(spark):
    from pyspark.sql import functions as F

    from openllm_ocr_annotator_spark.operators.classify import (
        score_documents,
        train_classifier,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", "text"
    )
    w, b = train_classifier(
        docs, F.col("source").isin("src0", "src1"), sample_docs=60, steps=50
    )
    got = {r.doc_id: r.model_quality for r in score_documents(docs, w, b).collect()}
    pdf = docs.orderBy("doc_id").toPandas()
    for d, t in zip(pdf["doc_id"], pdf["text"]):
        assert got[d] == C.score_text(str(t), w, b), f"doc {d}"
    # schema contract: text dropped, other columns preserved
    cols = score_documents(docs, w, b).columns
    assert cols == ["doc_id", "source", "model_quality"]


def _lm_state(lm):
    return {s: getattr(lm, s) for s in lm.__slots__}


@pytest.mark.parametrize("trainer", ["classify", "perplexity", "dsir"])
def test_trainers_read_null_text_as_empty(spark, trainer):
    """A NULL training text is the empty document, as in every scorer:
    the driver-side trainers must not learn the word 'None' from it."""
    from pyspark.sql import functions as F

    from openllm_ocr_annotator_spark.operators.classify import train_classifier
    from openllm_ocr_annotator_spark.operators.dsir import train_importance_model
    from openllm_ocr_annotator_spark.operators.perplexity import train_lm_from_sources

    def docs(blank):
        rows = [(i, POS[i] if i % 2 else NEG[i], "src0" if i % 2 else "src9")
                for i in range(8)]
        rows[2:4] = [(2, blank, "src9"), (3, blank, "src0")]
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def train(df):
        if trainer == "classify":
            w, b = train_classifier(df, F.col("source") == "src0", steps=20)
            return w.tolist(), b
        if trainer == "perplexity":
            return _lm_state(train_lm_from_sources(df, ["src0"]))
        return train_importance_model(df, F.col("source") == "src0", n_buckets=64).tolist()

    assert train(docs(None)) == train(docs(""))
