"""Bloom prefilter dedup: kernel primitives + operator exactness.

The operator's contract is EXACTNESS regardless of Bloom sizing (no false
negatives + verification join), so the key tests force heavy false
positives with a tiny bitmap and still require the plain-anti-join answer.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from openllm_ocr_annotator_spark.kernel import bloom as B
from openllm_ocr_annotator_spark.operators.dedup import (
    bloom_bitmap,
    bloom_incremental_dedup,
    contamination_score,
    decontaminate,
)


def test_suggest_params_formulas():
    m, k = B.suggest_params(1000, 0.01)
    assert m % 8 == 0 and 9000 < m < 10500  # ≈ 9585 bits
    assert k in (6, 7)  # ≈ 6.64
    with pytest.raises(ValueError):
        B.suggest_params(0, 0.01)
    with pytest.raises(ValueError):
        B.suggest_params(10, 1.5)


def test_set_probe_roundtrip_with_duplicates():
    bm = B.empty_bitmap(64)
    # duplicate byte indexes in ONE scatter call must all land
    B.set_bits(bm, np.array([0, 1, 9, 9, 63]))
    mat = np.array([[0, 1], [9, 63], [0, 2], [5, 6]])
    assert B.probe_rows(bm, mat).tolist() == [True, True, False, False]
    with pytest.raises(ValueError):
        B.set_bits(bm, np.array([64]))
    with pytest.raises(ValueError):
        B.set_bits(bm, np.array([-1]))


def test_no_false_negatives_property():
    rng = np.random.default_rng(7)
    bm = B.empty_bitmap(256)  # deliberately undersized for 200 inserts
    inserted = rng.integers(0, 256, size=(200, 3))
    for row in inserted:
        B.set_bits(bm, row)
    assert B.probe_rows(bm, inserted).all()  # every insert still probes True


def _docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _expected_new(docs):
    hist_digests = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(F.md5("text").alias("d"))
        .distinct()
    )
    return (
        docs.withColumn("d", F.md5("text"))
        .join(hist_digests, "d", "left_anti")
        .select("doc_id")
    )


@pytest.mark.parametrize("m_bits", [64, 40_000, 1 << 16])
def test_jvm_bitmap_equals_sequential_set_bits(spark, m_bits):
    """The JVM bitmap aggregate places its 4 KB chunks exactly where the
    sequential build sets bits: one partial chunk (m=64), a partial last
    chunk (m=40,000 → 5,000 bytes) and two full chunks (m=2^16). A NULL
    text hashes to the seed and sets bits like any other row."""
    k = 3
    docs = _docs(spark).select("text").limit(500).unionByName(
        spark.range(1).select(F.lit(None).cast("string").alias("text"))
    ).repartition(3)
    positions = F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(F.xxhash64(F.col("text"), i), F.lit(m_bits)),
    )
    want = B.empty_bitmap(m_bits)
    B.set_bits(want, np.array([p for r in docs.select(positions.alias("p")).collect()
                               for p in r.p], dtype=np.int64))
    got = bloom_bitmap(docs, m_bits, k)
    assert got.tobytes() == want.tobytes()
    assert 0 < np.unpackbits(got).sum() <= 501 * k
    assert bloom_bitmap(docs.filter(F.lit(False)), m_bits, k).tobytes() == bytes(m_bits // 8)


def test_bloom_dedup_matches_anti_join(spark):
    docs = _docs(spark)
    history = docs.filter(F.col("doc_id") % 3 != 0)
    got = sorted(
        r.doc_id for r in bloom_incremental_dedup(docs, history).select("doc_id").collect()
    )
    want = sorted(r.doc_id for r in _expected_new(docs).collect())
    assert got == want and len(want) > 0


def test_bloom_dedup_exact_under_forced_false_positives(spark):
    """m=64 bits for hundreds of history docs → the filter saturates and
    nearly everything is Bloom-positive; the verification join must still
    produce the exact anti-join answer."""
    docs = _docs(spark)
    history = docs.filter(F.col("doc_id") % 3 != 0)
    got = sorted(
        r.doc_id
        for r in bloom_incremental_dedup(docs, history, m_bits=64, k=2)
        .select("doc_id")
        .collect()
    )
    want = sorted(r.doc_id for r in _expected_new(docs).collect())
    assert got == want


def test_bloom_dedup_empty_history(spark):
    docs = _docs(spark).limit(20)
    empty = docs.filter(F.lit(False))
    got = bloom_incremental_dedup(docs, empty)
    assert got.count() == 20


def test_bloom_dedup_param_validation(spark):
    docs = _docs(spark).limit(1)
    with pytest.raises(ValueError, match="m_bits"):
        bloom_incremental_dedup(docs, docs, m_bits=63)
    with pytest.raises(ValueError, match="k"):
        bloom_incremental_dedup(docs, docs, k=0)


def test_contamination_score_hand_computed(spark):
    # bench doc: "a b c d e" → 3-grams {a b c, b c d, c d e}
    bench = spark.createDataFrame([(100, "a b c d e")], "doc_id long, text string")
    train = spark.createDataFrame(
        [
            (1, "a b c d e"),        # all 3 grams hit → 1.0
            (2, "a b c x y z"),      # grams {a b c, b c x, c x y, x y z} → 1/4
            (3, "q r s t"),          # no overlap → 0.0
            (4, "a b"),              # too short: 0 grams → 0.0
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in contamination_score(train, bench, n=3).collect()
    }
    assert rows[1].contamination == 1.0 and rows[1].hit_grams == 3
    assert rows[2].contamination == 0.25 and rows[2].total_grams == 4
    assert rows[3].contamination == 0.0 and rows[3].hit_grams == 0
    assert rows[4].total_grams == 0 and rows[4].contamination == 0.0


def test_contamination_zero_iff_decontaminate_keeps(spark):
    """Boolean consistency: decontaminate drops exactly the docs whose
    contamination fraction is > 0 (same n, same benchmark)."""
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    kept = {r.doc_id for r in decontaminate(train, bench, n=5).select("doc_id").collect()}
    scores = contamination_score(train, bench, n=5).collect()
    assert {r.doc_id for r in scores if r.contamination == 0.0} == kept
    assert any(r.contamination > 0 for r in scores)  # fixture has overlap
