"""Snapshot table commit/resume semantics + export sinks."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from openllm_ocr_annotator_spark.operators.extract import extract_pipeline, lineage_metrics
from openllm_ocr_annotator_spark.sinks.export import (
    doc_json_payload,
    split_column,
    tsv_span_lines,
    write_jsonl,
    write_split_parquet,
    write_tsv_spans,
)
from openllm_ocr_annotator_spark.sources.tables import SnapshotTable
from openllm_ocr_annotator_spark.synth import synthesize_documents

from .conftest import SF_DIR


def test_snapshot_commit_and_resume(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    docs = synthesize_documents(spark, SF_DIR).filter(F.col("doc_id") < "doc_0000000050")

    # first run: commit half the docs
    first = docs.filter(F.col("doc_id") < "doc_0000000025")
    out1 = extract_pipeline(first)
    # keys = processed inputs: doc_0000000007 yields ZERO spans (empty doc)
    # and must still count as done
    snap1 = table.commit(out1, lineage=lineage_metrics(out1), keys=first.select("doc_id"))
    assert table.latest()["snapshot_id"] == snap1
    assert table.latest()["lineage"], "lineage rows recorded in manifest"

    # resume: only the complement is processed (S4/J3 semantics)
    todo = table.resume_filter(docs, "doc_id")
    todo_ids = {r.doc_id for r in todo.select("doc_id").distinct().collect()}
    done_ids = {r.doc_id for r in first.select("doc_id").collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    assert todo_ids == all_ids - done_ids

    out2 = extract_pipeline(todo)
    snap2 = table.commit(out2, lineage=lineage_metrics(out2), keys=todo.select("doc_id"))
    assert table.latest()["parent"] == snap1 and table.latest()["snapshot_id"] == snap2

    # committed view = union of both snapshots; nothing left to resume
    committed = table.read_committed()
    nonempty = {r.doc_id for r in committed.select("doc_id").distinct().collect()}
    assert table.resume_filter(docs, "doc_id").isEmpty()
    assert nonempty <= all_ids


def test_aborted_write_invisible(spark, tmp_path):
    table = SnapshotTable(spark, str(tmp_path / "tbl"))
    df = spark.range(5).select(F.col("id").cast("string").alias("doc_id"))
    # simulate a crash: data dir written, no manifest
    df.write.parquet(str(tmp_path / "tbl" / "data" / "99999999999999_dead"))
    assert table.read_committed() is None
    table.commit(df)
    assert table.read_committed().count() == 5  # orphan dir still invisible


def test_tsv_spans_ordered(spark, tmp_path):
    docs = synthesize_documents(spark, SF_DIR).limit(20)
    ext = extract_pipeline(docs)
    out = str(tmp_path / "tsv")
    write_tsv_spans(ext, out)
    lines = []
    for f in sorted(os.listdir(out)):
        if f.startswith("part-"):
            lines.extend(open(os.path.join(out, f)).read().splitlines())
    # within each doc, offsets appear in order (K3 span-order invariant)
    seen: dict[str, int] = {}
    for ln in lines:
        doc_id, offset = ln.split("\t")[0], int(ln.split("\t")[1])
        assert seen.get(doc_id, -1) < offset
        seen[doc_id] = offset
    assert len(lines) == ext.count()
    assert tsv_span_lines(ext).columns == ["value"]


def test_jsonl_and_payload_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("d1", "text", "hello", 0)], "doc_id string, kind string, text string, offset int"
    )
    payload = doc_json_payload(df, ["kind", "text", "offset"])
    row = payload.first()
    assert json.loads(row.payload) == {"kind": "text", "text": "hello", "offset": 0}
    out = str(tmp_path / "jsonl")
    write_jsonl(df, out)
    back = spark.read.json(out)
    assert back.count() == 1 and back.first().doc_id == "d1"


def test_split_deterministic_and_partitioned(spark, tmp_path):
    docs = spark.range(1000).select(F.col("id").alias("doc_id"))
    s1 = docs.select("doc_id", split_column(F.col("doc_id")).alias("split"))
    s2 = docs.select("doc_id", split_column(F.col("doc_id")).alias("split"))
    assert s1.exceptAll(s2).isEmpty()  # pure function of key
    frac = {r.split: r.n for r in s1.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert 0.7 < frac["train"] / 1000 < 0.9
    assert 0.05 < frac["test"] / 1000 < 0.15
    # uniformity at scale: the hex-VALUE bucket keeps a requested 80/10/10
    # within sampling noise (the former ascii-CODE arithmetic measured
    # ~74.6/12.5/12.9 — five buckets unreachable, 5x probability spread)
    big = spark.range(50_000).select(
        split_column(F.col("id")).alias("split")
    ).groupBy("split").count()
    pct = {r.split: r["count"] / 50_000 for r in big.collect()}
    assert abs(pct["train"] - 0.80) < 0.01, pct
    assert abs(pct["test"] - 0.10) < 0.01, pct
    assert abs(pct["validation"] - 0.10) < 0.01, pct
    # thresholds round half-up: train=0.125 is 13 buckets (banker's
    # rounding would give round(12.5) = 12)
    from openllm_ocr_annotator_spark.sinks.export import split_bucket

    eighth = spark.range(2000).select(
        split_bucket(F.col("id")).alias("b"),
        split_column(F.col("id"), train=0.125).alias("split"),
    ).filter(F.col("split") == "train")
    assert {r.b for r in eighth.select("b").distinct().collect()} == set(range(13))
    out = str(tmp_path / "ds")
    write_split_parquet(docs, out, key_col="doc_id")
    assert sorted(d for d in os.listdir(out) if d.startswith("split=")) == [
        "split=test", "split=train", "split=validation",
    ]
    # partition pruning works: reading one split returns only that split
    train = spark.read.parquet(out).filter(F.col("split") == "train")
    assert train.count() == frac["train"]


def test_snapshot_table_accepts_uri_scheme_root(spark, tmp_path):
    """The table layer goes through the Hadoop FileSystem API — an explicit
    file:// scheme root must behave identically to a bare path (and hdfs://
    or s3a:// roots resolve through the same code path in production)."""
    from openllm_ocr_annotator_spark.sources.tables import SnapshotTable

    table = SnapshotTable(spark, f"file://{tmp_path}/table")
    df = spark.range(5).selectExpr("CAST(id AS STRING) AS doc_id", "id AS v")
    snap = table.commit(df, keys=df.select("doc_id"))
    assert snap is not None
    assert table.read_committed().count() == 5
    remaining = table.resume_filter(
        spark.range(8).selectExpr("CAST(id AS STRING) AS doc_id"), "doc_id"
    )
    assert remaining.count() == 3
    assert table.latest()["n_rows"] == 5


def test_sized_split_degeneracy_contract(spark):
    """The reference pins holdout = max(1, min(total-1, round(total*ratio)))
    and collapses to train-only for degenerate corpora
    (utils/dataset_converter.py:112-145). A pure hash bucket can leave a
    3-doc corpus with an empty train split — sized_split must not."""
    from openllm_ocr_annotator_spark.sinks.export import sized_split

    def splits(n):
        df = spark.range(n).selectExpr("CAST(id AS STRING) AS doc_id")
        rows = sized_split(df, key_col="doc_id").collect()
        out = {}
        for r in rows:
            out[r.split] = out.get(r.split, 0) + 1
        return out

    assert splits(1) == {"train": 1}                      # total < 2 → train-only
    assert splits(2) == {"train": 1, "test": 1}           # holdout=1, no val room
    assert splits(3) == {"train": 2, "test": 1}           # round(0.6)→1
    s13 = splits(13)                                       # round(2.6)→3, val=round(1.5)→2
    assert s13 == {"train": 10, "test": 1, "validation": 2}
    assert sum(s13.values()) == 13

    # ratio degeneracy: holdout ratio 0 or ≥1 → train-only
    df5 = spark.range(5).selectExpr("CAST(id AS STRING) AS doc_id")
    only_train = sized_split(df5, key_col="doc_id", train=1.0, test=0.0, validation=0.0)
    assert {r.split for r in only_train.collect()} == {"train"}
    all_holdout = sized_split(df5, key_col="doc_id", train=0.0, test=0.5, validation=0.5)
    assert {r.split for r in all_holdout.collect()} == {"train"}

    # determinism: same input → identical assignment
    df = spark.range(20).selectExpr("CAST(id AS STRING) AS doc_id")
    a = {(r.doc_id, r.split) for r in sized_split(df, key_col="doc_id").collect()}
    b = {(r.doc_id, r.split) for r in sized_split(df, key_col="doc_id").collect()}
    assert a == b


def test_sampling_markdown_report_structure(spark):
    """K5 sampling report mirrors the reference's sections, labels, and
    {:.2%} formatting (evaluators/sampling_evaluator.py:176-204)."""
    from openllm_ocr_annotator_spark.operators.evaluate import (
        sampling_markdown_report,
        sampling_stats,
    )

    rows = [
        # doc, sample, field, correct
        ("d1", 0, "f0", True), ("d1", 0, "f1", False),   # acc .5
        ("d1", 1, "f0", True), ("d1", 1, "f1", True),    # acc 1.0, exact
        ("d2", 0, "f0", False), ("d2", 0, "f1", False),  # acc 0
        ("d2", 1, "f0", True), ("d2", 1, "f1", False),   # acc .5
    ]
    ev = spark.createDataFrame(
        rows, "doc_id string, sample_id int, field_name string, correct boolean"
    )
    report = sampling_markdown_report(sampling_stats(ev), num_samples=2)
    lines = report.splitlines()
    assert lines[0] == "# Sampling Evaluation Report"
    assert "## Overall Statistics" in lines
    assert "## Sampling Effectiveness" in lines
    # d1 mean .75 max 1.0 any-exact; d2 mean .25 max .5 no-exact
    assert "- Mean Accuracy: 50.00%" in report
    assert "- Best Sample Accuracy: 75.00%" in report
    assert "- Exact Match Rate: 50.00%" in report
    assert "- Total Images Evaluated: 2" in report
    assert "- Samples per Image: 2" in report
    # per-doc gaps: d1 1.0-.75=.25, d2 .5-.25=.25
    assert "- Mean Improvement: 25.00%" in report
    assert "- Max Improvement: 25.00%" in report
    assert "- Min Improvement: 25.00%" in report


def test_markdown_report_structure(spark):
    """K5 field report: header, document-level rollup, one table row per
    field in name order — and an empty evaluation still renders (avg()
    over zero rows is NULL; the report prints 0 instead of raising)."""
    from openllm_ocr_annotator_spark.operators.evaluate import markdown_report

    ev = spark.createDataFrame(
        [("d1", "f1", False), ("d1", "f0", True),   # acc .5
         ("d2", "f0", True), ("d2", "f1", True)],   # acc 1.0, exact
        "doc_id string, field_name string, correct boolean",
    )
    table_head = ["", "| field | correct | total | accuracy |", "|---|---|---|---|"]
    assert markdown_report(ev).splitlines() == [
        "# Field Evaluation Report", "",
        "- documents: 2", "- mean accuracy: 0.7500", "- exact-match rate: 0.5000",
        *table_head,
        "| f0 | 2 | 2 | 1.0000 |", "| f1 | 1 | 2 | 0.5000 |",
    ]
    assert markdown_report(ev.limit(0)).splitlines() == [
        "# Field Evaluation Report", "",
        "- documents: 0", "- mean accuracy: 0.0000", "- exact-match rate: 0.0000",
        *table_head,
    ]


def test_sized_split_testless_validation_quirk(spark):
    """Replicated reference quirk (dataset_converter.py:133): validation is
    carved only when BOTH test and validation ratios are > 0 — with test=0
    and validation>0 the whole holdout is labeled 'test' anyway."""
    from openllm_ocr_annotator_spark.sinks.export import sized_split

    df = spark.range(10).selectExpr("CAST(id AS STRING) AS doc_id")
    out = sized_split(df, key_col="doc_id", train=0.8, test=0.0, validation=0.2)
    counts = {}
    for r in out.collect():
        counts[r.split] = counts.get(r.split, 0) + 1
    assert counts == {"train": 8, "test": 2}


def test_snapshot_compaction_preserves_reads_and_resume(spark, tmp_path):
    """compact() rewrites live snapshots as one; reads, resume keys, and
    pre-compaction time travel all survive; expire_replaced() reclaims the
    old dirs and retires their time-travel ids."""
    import pytest as _pytest

    from openllm_ocr_annotator_spark.sources.tables import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.commit(
        spark.createDataFrame([(1, "a")], "doc_id long, v string"),
        keys=spark.createDataFrame([(1,), (10,)], "doc_id long"),  # 10: zero-output
    )
    s2 = t.commit(spark.createDataFrame([(2, "b")], "doc_id long, v string"))
    # key-carrying history: compact without key_cols must refuse
    with _pytest.raises(ValueError, match="key_cols"):
        t.compact()
    c = t.compact(key_cols=("doc_id",))
    assert {r.doc_id for r in t.read_committed().collect()} == {1, 2}
    # resume still knows the zero-output input 10
    inputs = spark.createDataFrame([(1,), (2,), (3,), (10,)], "doc_id long")
    assert {r.doc_id for r in t.resume_filter(inputs, "doc_id").collect()} == {3}
    # time travel to pre-compaction snapshots still works (dirs retained)
    assert {r.doc_id for r in t.read_committed(as_of=s1).collect()} == {1}
    # a post-compaction commit stacks on top
    t.commit(spark.createDataFrame([(3, "c")], "doc_id long, v string"))
    assert {r.doc_id for r in t.read_committed().collect()} == {1, 2, 3}
    # expiration reclaims the replaced snapshots and retires their ids
    expired = t.expire_replaced()
    assert set(expired) == {s1, s2}
    assert {r.doc_id for r in t.read_committed().collect()} == {1, 2, 3}
    with _pytest.raises(ValueError, match="unknown snapshot"):
        t.read_committed(as_of=s1)
    # the survivor chain is exactly compaction + the new commit
    assert [s["snapshot_id"] for s in t.snapshots()][0] == c


def test_cas_commit_two_racing_committers(spark, tmp_path):
    """Compare-and-claim commit (Iceberg optimistic concurrency): two
    committers racing to append the same logical batch against the same
    expected parent — exactly one wins a version number; the loser aborts,
    its staged data dir is deleted, and the table reads as if only the
    winner ever existed. A loser that crashes BEFORE its abort cleanup is
    reclaimed by expire_orphans()."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    base = t.commit(spark.range(3).selectExpr("id AS doc_id"))

    # interleaved race at the claim level: both stage against parent=base,
    # A claims first, B's publish loop must observe the moved chain
    a_id, a_manifest = t._write_snapshot(
        spark.range(10, 13).selectExpr("id AS doc_id"), None, None, None
    )
    a_manifest["parent"] = base
    a_manifest["version"] = n = t._next_version()
    assert t._fs.create_exclusive(f"{t.root}/versions/{n:012d}.json", a_manifest)
    b = t.commit_cas(
        spark.range(20, 23).selectExpr("id AS doc_id"), expected_parent=base
    )
    assert b is None, "loser must abort, not double-append"
    assert t.latest()["snapshot_id"] == a_id
    assert {r.doc_id for r in t.read_committed().collect()} == {0, 1, 2, 10, 11, 12}
    # loser's eager abort already removed its staging dir
    datadirs = t._fs.list_dirs(f"{t.root}/data")
    assert set(datadirs) == {base, a_id}

    # winner path: CAS against the TRUE latest succeeds and chains parents
    c = t.commit_cas(
        spark.range(30, 32).selectExpr("id AS doc_id"), expected_parent=a_id
    )
    assert c is not None and t.latest()["parent"] == a_id

    # crashed loser: staged dir, no claim, no cleanup -> orphan expiry
    dead_id, _ = t._write_snapshot(
        spark.range(99).limit(1).selectExpr("id AS doc_id"), None, None, None
    )
    assert t.expire_orphans(grace_ms=0) == [dead_id]
    assert t.expire_orphans(grace_ms=0) == []  # idempotent
    assert {r.doc_id for r in t.read_committed().collect()} == {
        0, 1, 2, 10, 11, 12, 30, 31
    }
    # an in-flight commit inside the grace window is NOT reclaimed
    live_id, _ = t._write_snapshot(
        spark.range(1).selectExpr("id AS doc_id"), None, None, None
    )
    assert t.expire_orphans(grace_ms=3_600_000) == []
    assert live_id in t._fs.list_dirs(f"{t.root}/data")


def test_cas_claim_collision_retries_and_tolerates_garbage(spark, tmp_path):
    """A bodyless version file left by a crashed committer (kill -9 between
    claim and body — the in-process cleanup never ran) is RECLAIMED once it
    ages past ``stale_claim_ms``: a later commit() deletes it, reuses its
    version number, and the chain stays dense and linear — parent is the
    true predecessor, no burned numbers, no fork. (Before reclamation the
    tip is opaque and commits wait: pinned separately by
    test_cas_commit_refuses_opaque_inflight_tip.)"""
    t = SnapshotTable(spark, str(tmp_path / "tbl"), stale_claim_ms=0)
    s1 = t.commit(spark.range(2).selectExpr("id AS doc_id"))
    # crashed committer: claim created at version 2, body never written
    p = t._fs._Path(f"{t.root}/versions/{2:012d}.json")
    t._fs.fs.create(p, False).close()
    s2 = t.commit(spark.range(5, 7).selectExpr("id AS doc_id"))
    # the stale claim was deleted and its number REUSED: dense linear chain
    snaps = t.snapshots()
    assert [s["snapshot_id"] for s in snaps] == [s1, s2]
    assert [s["version"] for s in snaps] == [1, 2]
    assert snaps[-1]["parent"] == s1
    assert {r.doc_id for r in t.read_committed().collect()} == {0, 1, 5, 6}
    # create_exclusive is a true compare-and-claim: second create loses
    assert not t._fs.create_exclusive(f"{t.root}/versions/{1:012d}.json", {})


def test_cas_stale_bodyless_claim_unwedges_commit_cas(spark, tmp_path):
    """The livelock the stale-claim janitor exists for: with a permanently
    bodyless tip, commit_cas would spin forever on an opaque chain even
    though expected_parent genuinely matches the real tip. Past
    ``stale_claim_ms`` the claim is reclaimed and the CAS lands."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"), stale_claim_ms=0)
    s1 = t.commit(spark.range(2).selectExpr("id AS doc_id"))
    t._fs.fs.create(t._fs._Path(f"{t.root}/versions/{2:012d}.json"), False).close()
    got = t.commit_cas(
        spark.range(9, 11).selectExpr("id AS doc_id"), expected_parent=s1
    )
    assert got is not None, "stale bodyless tip must be reclaimed, not wedge"
    snaps = t.snapshots()
    assert [s["version"] for s in snaps] == [1, 2]
    assert snaps[-1]["parent"] == s1
    assert {r.doc_id for r in t.read_committed().collect()} == {0, 1, 9, 10}


def test_create_exclusive_accepts_non_json_native_extra(spark, tmp_path):
    """A manifest extra that does not survive JSON unchanged (a tuple, an
    int key) is still a published commit: the post-write re-read compares
    against the JSON round-trip, so it must not report a reclaimed claim."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    extra = {"shape": (2, 3), "by_id": {7: "seven"}}
    assert t._fs.create_exclusive(str(tmp_path / "claim.json"), extra) is True
    snap = t.commit(spark.range(2).selectExpr("id AS doc_id"), extra=extra)
    tip = t.latest()
    assert tip["snapshot_id"] == snap
    assert tip["shape"] == [2, 3] and tip["by_id"] == {"7": "seven"}


def test_expire_orphans_spares_actively_written_dirs(spark, tmp_path):
    """An unreferenced staging dir whose snapshot-id timestamp is ancient
    but whose CONTENT is fresh is an in-flight commit whose write outlasted
    the grace window (hours-long parquet writes at scale) — expiry must key
    on the newest content mtime, not the commit-start prefix alone."""
    root = tmp_path / "tbl"
    t = SnapshotTable(spark, str(root))
    keep = t.commit(spark.range(2).selectExpr("id AS doc_id"))
    # stage a dir born an hour ago (name prefix) still landing part files
    import time as _time

    old_ms = int(_time.time() * 1000) - 7_200_000
    slow_id = f"{old_ms:014d}_deadbeef"
    slow_dir = root / "data" / slow_id
    slow_dir.mkdir(parents=True)
    (slow_dir / "part-00000.parquet").write_bytes(b"in-flight bytes")  # fresh mtime
    assert t.expire_orphans(grace_ms=3_600_000) == []
    assert slow_id in t._fs.list_dirs(f"{t.root}/data")
    # once the content is older than the grace window too, it goes
    assert t.expire_orphans(grace_ms=0) == [slow_id]
    assert set(t._fs.list_dirs(f"{t.root}/data")) == {keep}


def test_cas_commit_refuses_opaque_inflight_tip(spark, tmp_path):
    """THE linearization hole a version-bound claim closes: racer A has
    claimed version 2 but its body is still in flight (created, unwritten
    — the local-FS/HDFS window; S3 conditional PUT is atomic with its
    content). Racer B validates expected_parent against the parseable tail
    (version 1) — if B then claimed 'whatever is next' (version 3), BOTH
    would append to the same parent. B must instead observe the opaque tip
    and abort, leaving no claim and no staged dirs."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.commit(spark.range(2).selectExpr("id AS doc_id"))
    # racer A: claim created, body not yet written
    t._fs.fs.create(t._fs._Path(f"{t.root}/versions/{2:012d}.json"), False).close()
    assert t.latest()["snapshot_id"] == s1  # the tip B would misread
    b = t.commit_cas(
        spark.range(20, 23).selectExpr("id AS doc_id"), expected_parent=s1
    )
    assert b is None, "CAS must refuse while the tip claim is opaque"
    # B claimed nothing and staged nothing
    assert t._next_version() == 3
    assert set(t._fs.list_dirs(f"{t.root}/data")) == {s1}


def test_legacy_manifest_root_is_refused(spark, tmp_path):
    """A root that still holds pre-CAS rename-committed ``manifests/*.json``
    is refused with an error naming the directory instead of reading as an
    empty table; the empty ``manifests/`` directory older tables carry is
    harmless."""
    import json as _json
    import re as _re

    import pytest as _pytest

    root = tmp_path / "tbl"
    s1 = SnapshotTable(spark, str(root)).commit(
        spark.range(3).selectExpr("id AS doc_id")
    )
    (root / "manifests").mkdir(exist_ok=True)
    assert [s["snapshot_id"] for s in SnapshotTable(spark, str(root)).snapshots()] == [s1]
    legacy_id = "00000000000001_aaaaaaaa"
    (root / "manifests" / f"{legacy_id}.json").write_text(_json.dumps({
        "snapshot_id": legacy_id, "parent": None,
        "data_dir": str(root / "data" / legacy_id),
        "keys_dir": None, "n_rows": 3, "lineage": [],
    }))
    with _pytest.raises(ValueError, match=_re.escape(f"{root}/manifests")):
        SnapshotTable(spark, str(root))


def test_demo_html_matches_reference_page_shape(spark, tmp_path):
    """K6 (reference scripts/generate_demo.py:12-18): the written page is
    byte-identical to a pure-Python replay of the reference's loop over
    the same image names — header, per-image div blocks, footer — with
    the engine's one documented divergence (deterministic media_ref order
    where the reference inherits os.listdir order). Duplicate refs (one
    image referenced by many docs) collapse to one gallery entry, matching
    the reference's one-file-one-block behavior."""
    from openllm_ocr_annotator_spark.sinks.export import write_demo_html

    refs = ["zeta.png", "alpha.jpg", "mid.gif", "alpha.jpg"]  # scrambled + dup
    rows = [(f"d{i}", r) for i, r in enumerate(refs)]
    media = spark.createDataFrame(rows, "doc_id string, media_ref string")
    out = tmp_path / "index.html"
    n = write_demo_html(media, str(out))
    assert n == 3

    # the reference's loop body, replayed over the deterministic order
    expected = "<html><body><h1>OpenLLM OCR Annotator Demo</h1>\n"
    for img in sorted(set(refs)):
        expected += (
            f"<div><img src='assets/{img}' style='width:600px'><br>{img}</div><hr>\n"
        )
    expected += "</body></html>"
    assert out.read_text() == expected


def test_demo_html_order_survives_partitioning(spark, tmp_path):
    """The gallery order must be the GLOBAL ref order regardless of how the
    input is partitioned (toLocalIterator walks range partitions in order)."""
    from openllm_ocr_annotator_spark.sinks.export import write_demo_html

    media = (
        spark.range(200)
        .selectExpr("CAST(id AS STRING) AS doc_id",
                    "format_string('img_%03d.png', CAST(id * 37 % 200 AS INT)) AS media_ref")
        .repartition(16)
    )
    out = tmp_path / "index.html"
    assert write_demo_html(media, str(out)) == 200
    body = out.read_text().splitlines()[1:-1]  # drop header line + footer
    names = [b.split("'")[1].removeprefix("assets/") for b in body]
    assert names == sorted(names) and len(names) == 200


def test_demo_html_skips_null_refs(spark, tmp_path):
    """A NULL media_ref (doc row whose media fetch failed) must not reach
    the page: unfiltered it nulls the concat expression and the writer
    crashes mid-file on None + str, leaving a half-written index.html."""
    from openllm_ocr_annotator_spark.sinks.export import write_demo_html

    media = spark.createDataFrame(
        [("d0", "a.png"), ("d1", None), ("d2", "b.png")],
        "doc_id string, media_ref string",
    )
    out = tmp_path / "index.html"
    assert write_demo_html(media, str(out)) == 2
    text = out.read_text()
    assert "a.png" in text and "b.png" in text and "None" not in text


def test_cas_expired_version_numbers_are_never_reclaimed(spark, tmp_path):
    """expire_replaced must TOMBSTONE a replaced CAS entry's version file,
    not delete it: a freed number could be re-won by a slow committer whose
    expected_parent the chain left behind long ago — a false CAS success
    that double-appends the batch it was retrying."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.commit(spark.range(2).selectExpr("id AS doc_id"))
    s2 = t.commit(spark.range(5, 7).selectExpr("id AS doc_id"))
    c = t.compact()
    assert set(t.expire_replaced()) == {s1, s2}
    # versions 1 and 2 are tombstoned: a create-exclusive claim must LOSE
    assert not t._fs.create_exclusive(f"{t.root}/versions/{1:012d}.json", {})
    assert not t._fs.create_exclusive(f"{t.root}/versions/{2:012d}.json", {})
    # readers skip tombstones; the chain is just the compaction
    assert [s["snapshot_id"] for s in t.snapshots()] == [c]
    assert t.latest()["snapshot_id"] == c
    assert {r.doc_id for r in t.read_committed().collect()} == {0, 1, 5, 6}
    # a CAS against the long-gone parent aborts instead of falsely landing
    assert t.commit_cas(
        spark.range(9).limit(1).selectExpr("id AS doc_id"), expected_parent=s1
    ) is None


def test_racing_compaction_aborts_instead_of_doubling(spark, tmp_path):
    """Two concurrent compactions both observe live={s1,s2}; the loser's
    publish (a CAS bound to the observed tip) must abort — a plain append
    would let BOTH land, neither in the other's replaces list, and
    read_committed would union two full copies of the table."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    s1 = t.commit(spark.range(2).selectExpr("id AS doc_id"))
    s2 = t.commit(spark.range(5, 7).selectExpr("id AS doc_id"))
    staged_dirs = [s["data_dir"] for s in t._live_snaps(t.snapshots())]
    # racer A wins the compaction
    assert t.compact() is not None
    # racer B replays its publish step against the tip IT observed
    got = t.commit_cas(
        spark.read.parquet(*staged_dirs), expected_parent=s2,
        extra={"replaces": [s1, s2]},
    )
    assert got is None, "losing compaction must abort, not double the table"
    rows = [r.doc_id for r in t.read_committed().collect()]
    assert sorted(rows) == [0, 1, 5, 6], "no duplicated rows"
