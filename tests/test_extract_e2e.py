"""End-to-end: Spark extraction pipeline vs the pure-Python oracle.

The per-row invariant from BASELINE.json: span-sequence equality
``(kind, text, media_ref, order)`` per document. The oracle is the kernel
run directly (driver-side, no Spark) on the same deterministic input.
"""

from __future__ import annotations

import pandas as pd
import pytest

from openllm_ocr_annotator_spark.kernel.merge import extract_document
from openllm_ocr_annotator_spark.operators.extract import (
    extract_pipeline,
    extract_spans,
    lineage_metrics,
    renest_spans,
)
from openllm_ocr_annotator_spark.synth import make_spans, synthesize_documents

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def flat_docs() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "text"]]


@pytest.fixture(scope="module")
def oracle_sequences(flat_docs) -> dict[str, list[tuple]]:
    out = {}
    for doc_id, text in zip(flat_docs["doc_id"], flat_docs["text"]):
        spans = make_spans(int(doc_id), str(text))
        seq = [(s["kind"], s["text"], s["media_ref"]) for s in extract_document(spans)]
        out[f"doc_{int(doc_id):010d}"] = seq
    return out


def _spark_sequences(df) -> dict[str, list[tuple]]:
    rows = df.select("doc_id", "kind", "text", "media_ref", "offset").collect()
    by_doc: dict[str, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.offset, r.kind, r.text, r.media_ref))
    return {
        d: [(k, t, m) for _, k, t, m in sorted(v)] for d, v in by_doc.items()
    }


def test_span_sequence_equality_vs_oracle(spark, oracle_sequences):
    docs = synthesize_documents(spark, SF_DIR)
    got = _spark_sequences(extract_spans(docs))
    want = {d: s for d, s in oracle_sequences.items() if s}  # empty docs emit no rows
    assert set(got) == set(want)
    for d in want:
        assert got[d] == want[d], f"sequence mismatch for {d}"


def test_doc_id_repartition_preserves_sequences(spark, oracle_sequences):
    docs = synthesize_documents(spark, SF_DIR)
    out = extract_pipeline(docs, num_partitions=7)
    got = _spark_sequences(out)
    want = {d: s for d, s in oracle_sequences.items() if s}
    assert got == want


def test_lineage_metrics_account_for_everything(spark):
    docs = synthesize_documents(spark, SF_DIR)
    out = extract_pipeline(docs, num_partitions=7).cache()
    try:
        lm = lineage_metrics(out).collect()
        assert sum(r.span_count for r in lm) == out.count()
        # global xor of per-partition checksums is partition-layout-invariant
        total = 0
        for r in lm:
            total ^= r.checksum
        lm2 = lineage_metrics(
            extract_pipeline(docs, num_partitions=3)
        ).collect()
        total2 = 0
        for r in lm2:
            total2 ^= r.checksum
        assert total == total2
        assert sum(r.span_count for r in lm2) == sum(r.span_count for r in lm)
    finally:
        out.unpersist()


def test_renest_round_trip(spark, oracle_sequences):
    docs = synthesize_documents(spark, SF_DIR)
    nested = renest_spans(extract_spans(docs))
    rows = nested.collect()
    for r in rows:
        seq = [(s["kind"], s["text"], s["media_ref"]) for s in r.spans]
        assert seq == oracle_sequences[r.doc_id]
        assert [s["offset"] for s in r.spans] == list(range(len(seq)))


def test_empty_and_mega_docs_present_in_corpus(flat_docs):
    ids = [int(i) for i in flat_docs["doc_id"]]
    assert any(i % 131 == 7 for i in ids), "corpus must include empty-span docs"
    assert any(i % 97 == 13 for i in ids), "corpus must include mega-docs"
    mega = next(i for i in ids if i % 97 == 13)
    text = str(flat_docs.loc[flat_docs["doc_id"] == mega, "text"].iloc[0])
    n_out = len(extract_document(make_spans(mega, text)))
    med = sorted(
        len(extract_document(make_spans(int(i), str(t))))
        for i, t in zip(flat_docs["doc_id"], flat_docs["text"])
    )[len(ids) // 2]
    assert n_out > 20 * max(med, 1), "mega-doc should dominate the median"


def test_doc_id_repartition_spreads_megadocs(spark):
    """Mega-docs clustered in one scan split must land on distinct
    extraction partitions (``part_id``) after extract_pipeline's doc_id
    repartition — the skew-control contract."""
    import pyspark.sql.functions as F

    from openllm_ocr_annotator_spark.synth import MEGA_MOD, synthesize_documents

    docs = synthesize_documents(spark, "/root/testdata/sf0.001").coalesce(1)
    spread = extract_pipeline(docs, num_partitions=16).select("doc_id", "part_id").distinct()
    per_part = (
        spread.withColumn("is_mega", (F.col("doc_id").substr(5, 10).cast("long") % MEGA_MOD) == 13)
        .groupBy("part_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_mega").cast("int")).alias("n_mega"),
        )
        .collect()
    )
    counts = [r.n for r in per_part]
    megas = [r.n_mega for r in per_part]
    assert len(counts) > 8, "the repartition must actually fan out from 1 partition"
    # no partition hoards the docs (uniform-ish hash spread)
    assert max(counts) < 3 * (sum(counts) / len(counts))
    # mega-docs do not pile onto a single partition
    assert sum(megas) >= 2 and max(megas) < sum(megas)


def test_extract_spans_wide_matches_narrow(spark):
    """Span-level parallel variant is row-for-row identical to the
    sequential kernel — including duplicate-span docs where only the
    original array position breaks the tie."""
    from openllm_ocr_annotator_spark.operators.extract import (
        extract_spans,
        extract_spans_wide,
    )
    from openllm_ocr_annotator_spark.synth import synthesize_documents

    docs = synthesize_documents(spark, "/root/testdata/sf0.001")
    # adversarial doc: two IDENTICAL spans (same offset/kind/text) — the
    # wide path must replay the sequential kernel's stable-sort order
    dup = spark.createDataFrame(
        [(
            "doc_dup",
            [
                {"kind": "text", "text": "alpha beta", "media_ref": "", "offset": 5},
                {"kind": "text", "text": "alpha beta", "media_ref": "", "offset": 5},
                {"kind": "image", "text": "", "media_ref": "s3://x/i.png", "offset": 5},
            ],
        )],
        docs.schema,
    )
    both = docs.unionByName(dup)
    narrow = sorted(map(tuple, extract_spans(both).collect()))
    wide = sorted(map(tuple, extract_spans_wide(both).collect()))
    assert narrow == wide
    assert len(narrow) > 0


def test_extract_null_robustness(spark):
    """NULL spans arrays, NULL struct fields: no crash, narrow ≡ wide,
    null text-like fields normalize away."""
    from openllm_ocr_annotator_spark.operators.extract import (
        extract_spans,
        extract_spans_wide,
    )
    from openllm_ocr_annotator_spark.synth import DOCUMENTS_SCHEMA

    rows = [
        ("doc_null_spans", None),
        ("doc_empty", []),
        (
            "doc_null_fields",
            [
                {"kind": None, "text": None, "media_ref": None, "offset": None},
                {"kind": "text", "text": "real content here", "media_ref": None, "offset": 7},
            ],
        ),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    narrow = sorted(map(tuple, extract_spans(docs).collect()))
    wide = sorted(map(tuple, extract_spans_wide(docs).collect()))
    assert narrow == wide
    assert narrow == [("doc_null_fields", "text", "real content here", "", 0)]


def test_ensemble_extract_consensus(spark):
    """N kernel variants weighted-vote per doc on the sequence digest; the
    winning variant's spans are emitted with the consensus share."""
    from openllm_ocr_annotator_spark.operators.extract import (
        ensemble_extract,
        extract_spans,
    )
    from openllm_ocr_annotator_spark.synth import synthesize_documents

    docs = synthesize_documents(spark, "/root/testdata/sf0.001").limit(60).cache()
    legs = [
        ("default", 1.0, None),
        ("default_twin", 1.0, None),            # agrees with default
        ("strict", 1.5, {"strong_words": 25, "max_link_density": 0.15}),
    ]
    out = ensemble_extract(docs, legs).cache()
    rows = out.collect()
    assert rows, "consensus output must be non-empty"
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)

    default = {
        r.doc_id: r for r in extract_spans(docs).collect() if r.offset == 0
    }
    strict_differs = agrees = 0
    for doc_id, doc_rows in by_doc.items():
        cw = doc_rows[0].consensus_weight
        assert 0 < cw <= 1.0
        # default+twin carry 2.0 of 3.5 weight → where strict disagrees,
        # the default sequence must win with weight 2/3.5
        if abs(cw - 2.0 / 3.5) < 1e-9:
            strict_differs += 1
            r0 = min(doc_rows, key=lambda r: r.offset)
            d0 = default[doc_id]
            assert (r0.kind, r0.text, r0.media_ref) == (d0.kind, d0.text, d0.media_ref)
        elif abs(cw - 1.0) < 1e-9:
            agrees += 1
    # the strict leg must actually disagree somewhere AND agree somewhere
    assert strict_differs > 0 and agrees > 0
    docs.unpersist()
    out.unpersist()


def test_null_offset_vs_zero_tie_narrow_equals_wide(spark):
    """A NULL-offset span must TIE with an offset-0 sibling exactly like the
    narrow kernel's coercion (`offs[j] or 0`), not sort NULLS FIRST —
    ordering equivalence depends on the wide path's coalesced sort keys."""
    from openllm_ocr_annotator_spark.operators.extract import (
        extract_spans,
        extract_spans_wide,
    )
    from openllm_ocr_annotator_spark.synth import DOCUMENTS_SCHEMA

    rows = [
        (
            "doc_null_tie",
            [
                # offset-0 'text' sorts before NULL-offset 'text' only via the
                # pos tie-break after coalescing — NULLS FIRST would flip them
                {"kind": "text", "text": "zeroth span content", "media_ref": "", "offset": 0},
                {"kind": "text", "text": "null offset content", "media_ref": "", "offset": None},
                {"kind": "image", "text": "", "media_ref": "s3://x/a.png", "offset": None},
                {"kind": "image", "text": "", "media_ref": "s3://x/b.png", "offset": 0},
            ],
        ),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    narrow = [tuple(r) for r in extract_spans(docs).orderBy("offset").collect()]
    wide = [tuple(r) for r in extract_spans_wide(docs).orderBy("offset").collect()]
    assert narrow == wide
    assert len(narrow) >= 3


def test_poison_document_isolation(spark):
    """Reference per-image log-and-continue (run_annotation.py:119-121):
    on_error='skip' drops a document whose extraction raises and keeps the
    rest; default fail-fast raises. Failure injected via the kernel's
    fault_marker hook (the kernels are total functions otherwise)."""
    import pytest as _pytest

    from openllm_ocr_annotator_spark.operators.extract import extract_spans
    from openllm_ocr_annotator_spark.synth import DOCUMENTS_SCHEMA

    rows = [
        ("doc_ok_1", [{"kind": "text", "text": "plain healthy content", "media_ref": "", "offset": 0}]),
        ("doc_bad", [{"kind": "text", "text": "contains POISONPILL here", "media_ref": "", "offset": 0}]),
        ("doc_ok_2", [{"kind": "text", "text": "more healthy content", "media_ref": "", "offset": 0}]),
    ]
    docs = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    params = {"_test.fault_marker": "POISONPILL"}

    with _pytest.raises(Exception, match="fault injection"):
        extract_spans(docs, params=params).collect()

    kept = extract_spans(docs, params=params, on_error="skip").collect()
    assert {r.doc_id for r in kept} == {"doc_ok_1", "doc_ok_2"}
    # partial output of the poison doc fully rolled back, survivors intact
    assert all(r.offset == 0 for r in kept)
    # and without the marker the same doc extracts fine (hook is inert)
    assert {r.doc_id for r in extract_spans(docs).collect()} == {
        "doc_ok_1", "doc_bad", "doc_ok_2",
    }
