"""Smoke-size self-test of the benchmark (tiny inputs, one Spark session).

    python3 -m pytest perfbench/test_perfbench.py -q

Checks that every workload emits every metric ``BENCHMARK.json`` names,
with its unit, in both modes; that a deliberately corrupted job output is
counted as a failure; and that the benchmark refuses to run without the
package it measures.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.workloads import WORKLOADS, Ctx, DedupNear

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

# counts per workload that its traced ladders must see as non-zero
LAYER_PROBES = {
    "extract_batch": [
        "sources.tables.files_written",
        "kernel.merge.items_per_doc",
        "operators.dedup.star_edges",
    ],
    "annotate_vote": ["functions.json_extract.fallback_rows"],
}


@pytest.fixture(scope="module")
def session():
    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    spark = run.start_spark(work, trace=True)
    try:
        yield spark, work
    finally:
        run.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def smoke(session, name: str, trace: bool) -> dict:
    spark, work = session
    return run.run_workload(
        spark, WORKLOADS[name], seed=5, seconds=0.1, trace=trace, work=work,
        session_s=0.0, scale="smoke", log=lambda *_: None,
    )


def test_declared_names_match_emitted_names():
    assert [w["name"] for w in BENCH["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == run.PER_LAYER


@pytest.mark.parametrize("trace", [False, True], ids=["end_to_end", "per_layer"])
@pytest.mark.parametrize("name", list(WORKLOADS))
def test_every_metric_emitted_with_unit(session, name, trace):
    res = smoke(session, name, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    declared = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    if trace:
        assert all(res["metrics"][p]["value"] > 0 for p in LAYER_PROBES[name])
        assert res["metrics"]["sources.scan_mb"]["value"] > 0
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def _corrupt_extract(result):
    docs, spans, checksum = result
    return docs, spans, checksum ^ 1


def _corrupt_annotate(result):
    accuracy, votes = result
    key = min(votes)
    return accuracy, {**votes, key: (votes[key][0] + "x", votes[key][1])}


CORRUPT = {
    "extract_batch": _corrupt_extract,
    "annotate_vote": _corrupt_annotate,
}


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_corrupted_output_counts_as_failed(session, monkeypatch, name):
    cls = WORKLOADS[name]
    after = cls.after_job
    monkeypatch.setattr(cls, "after_job", lambda self, r: CORRUPT[name](after(self, r)))
    res = smoke(session, name, trace=False)
    assert not res["correct"]
    assert res["failed"] == res["attempted"] >= 1


def test_corrupted_dedup_survivors_fail_the_check(session):
    spark, work = session
    dedup = DedupNear(Ctx(spark=spark, work=work, seed=5, scale="smoke", nproc=run.nproc()))
    dedup.setup()
    kept, edges = dedup.after_job(dedup.job())
    assert dedup.check([(kept, edges), (kept[1:], edges)]) == [True, False]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(run.ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_batch", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
