"""Traced-run instruments: in-memory spans, Spark stage metrics from the
status REST API, and single-threaded kernel timings.

A span wraps a call into one of the program's modules from the
benchmark's own files. Spark plans are lazy, so a timed "prefix" is a
cumulative plan forced by a ``noop`` write (or the action the program
itself runs), and a layer's self time is its prefix minus the previous
prefix. Every span's jobs run under a Spark job group named after the span,
which is how stage metrics are attributed to layers.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.error
import urllib.request
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def noop(df: DataFrame) -> None:
    """Execute ``df``'s whole plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def dir_stats(path: str) -> tuple[int, int]:
    """(total bytes, file count) of ``path``: one file or a directory tree."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


class Ledger:
    """Spans of one traced run, kept in memory and written out by ``dump``."""

    def __init__(self, spark: SparkSession, trace_id: str) -> None:
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._open: list[str] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span; Spark jobs started inside carry its job group."""
        self._seq += 1
        group = f"{name}#{self._seq}"
        parent = self._open[-1] if self._open else None
        self._open.append(group)
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield group
        finally:
            end = time.perf_counter()
            self._open.pop()
            self.sc.setJobGroup(self._open[-1] if self._open else "untraced", "")
            self.spans.append({
                "trace": self.trace_id, "name": name, "group": group,
                "parent": parent, "start": start, "end": end, **attrs,
            })

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def median(self, name: str) -> float:
        return statistics.median(self.durations(name))

    def groups(self, name: str) -> list[str]:
        return [s["group"] for s in self.spans if s["name"] == name]

    def ladder(
        self, steps: list[tuple[str, Callable[[], object]]], seconds: float, min_passes: int = 2
    ) -> dict[str, float]:
        """Time each (name, forcing call) in order, repeating the whole
        ladder until ``seconds`` have passed and at least ``min_passes``
        passes ran; returns each step's median duration. A self time is a
        difference of two medians, so a layer cheaper than the run-to-run
        noise can read slightly below zero."""
        t_end = time.perf_counter() + seconds
        passes = 0
        while passes < min_passes or time.perf_counter() < t_end:
            for name, fn in steps:
                with self.span(name):
                    fn()
            passes += 1
        return {name: self.median(name) for name, _ in steps}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


class StageMeter:
    """Per-job-group stage metrics read from Spark's status REST API (the
    numbers the web UI shows). Needs ``spark.ui.enabled=true``."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _jobs(self, group: str, timeout_s: float = 10.0) -> list[dict]:
        # the listener bus updates the status store asynchronously: wait
        # until every job of the group has left the RUNNING state
        deadline = time.perf_counter() + timeout_s
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") == group]
            if all(j["status"] != "RUNNING" for j in jobs) or time.perf_counter() > deadline:
                return jobs
            time.sleep(0.1)

    def stages(self, group: str) -> list[dict]:
        """Completed stage attempts run by the group's jobs (stages a job
        skipped because an earlier shuffle output was reused are excluded)."""
        ids = {sid for j in self._jobs(group) for sid in j["stageIds"]}
        out = []
        for sid in sorted(ids):
            try:
                attempts = self._get(f"/stages/{sid}")
            except urllib.error.HTTPError as e:
                # a stage an earlier job ran and this one skipped can have
                # aged out of the status store; it did no work here
                if e.code != 404:
                    raise
                continue
            out.extend(st for st in attempts if st["status"] == "COMPLETE")
        return out

    def task_skew(self, stage: dict) -> float:
        """Slowest task's run time / median task run time of one stage."""
        q = self._get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def summary(self, group: str) -> dict[str, float]:
        """Engine totals over every completed stage of one job group."""
        jobs = self._jobs(group)
        stages = self.stages(group)
        mb = 2**20
        return {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
            "spark.spill_mb": sum(
                s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
            ) / mb,
            "spark.task_skew_max": max(
                (self.task_skew(s) for s in stages if s["numCompleteTasks"] > 1),
                default=1.0,
            ),
        }

    def heaviest_stage_skew(self, group: str) -> float:
        """Task skew of the group's stage with the most executor run time."""
        stages = self.stages(group)
        return self.task_skew(max(stages, key=lambda s: s["executorRunTime"]))


def kernel_timings(docs: list[list[dict]], passes: int = 3) -> dict[str, float]:
    """Single-threaded Spark-driver timings of the extraction kernel over a doc
    sample (each doc a list of synth spans), median of ``passes`` passes.
    ``classify_blocks`` runs on pre-tokenised input."""
    from openllm_ocr_annotator_spark.kernel.html import classify_blocks, tokenize_html
    from openllm_ocr_annotator_spark.kernel.layout import segment_layout
    from openllm_ocr_annotator_spark.kernel.merge import extract_document

    htmls = [[s["text"] for s in d if s["kind"] == "html"] for d in docs]
    pdfs = [[s["text"] for s in d if s["kind"] == "pdf"] for d in docs]
    tokens = [[tokenize_html(h) for h in hs] for hs in htmls]

    def per_doc_us(fn: Callable[[], object]) -> float:
        times = []
        for _ in range(passes):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        return statistics.median(times) / len(docs) * 1e6

    n = len(docs)
    return {
        "kernel.html.tokenize_us_per_doc": per_doc_us(
            lambda: [tokenize_html(h) for hs in htmls for h in hs]
        ),
        "kernel.html.classify_us_per_doc": per_doc_us(
            lambda: [classify_blocks(t) for ts in tokens for t in ts]
        ),
        "kernel.layout.segment_us_per_doc": per_doc_us(
            lambda: [segment_layout(p) for ps in pdfs for p in ps]
        ),
        "kernel.merge.extract_us_per_doc": per_doc_us(
            lambda: [extract_document(d) for d in docs]
        ),
        "kernel.html.tokens_per_doc": sum(len(t) for ts in tokens for t in ts) / n,
        "kernel.merge.items_per_doc": sum(len(extract_document(d)) for d in docs) / n,
    }
