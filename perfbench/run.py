#!/usr/bin/env python3
"""Benchmark of the extraction engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One Spark driver process on ``local[nproc]`` runs
one workload as a closed loop (one job at a time, the next job starts when
the previous one returns) for ``--seconds`` seconds of job time, checks
every job's output against an oracle, and prints one JSON object as the
last line of stdout:

    {"correct": ..., "attempted": jobs, "failed": jobs, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (tracing and the Spark status
REST API off). ``--trace 1`` reports the per-layer ledger instead: it turns
the REST API on, times cumulative plan prefixes per layer, and writes the
spans to ``.perfbench_work/traces/``. Every traced run reports every
per-layer metric; a layer the workload does not run reads 0. Its closed
loop interleaves untraced and traced (spanned) jobs: ``trace.overhead_ratio``
is the traced job median over the untraced one, and ``trace.layers_ratio``
is the sum of the self times of the layers on the job's critical path
(``trace.layers_s``) over the untraced job median. Spark keeps
its status store whether or not the REST API serves it, so the untraced
jobs differ from the traced ones only in the span and its job group. The failure
ratio (jobs that raised or failed the output check / jobs attempted) is
printed on a ``#`` line above the result with the metrics.

All scratch data (inputs, Spark local dirs, warehouse, temp files) lives in
``.perfbench_work/`` at the repository root and is removed at exit, apart
from the trace files.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.scan_mb": "MB",
    "boundary.arrow_transfer_s": "s",
    "boundary.arrow_to_python_s": "s",
    "boundary.pandas_to_python_s": "s",
    "operators.extract.kernel_s": "s",
    "operators.extract.lineage_s": "s",
    "operators.extract.task_skew": "ratio",
    "operators.extract.docs_in": "count",
    "operators.extract.spans_out": "count",
    "kernel.html.tokenize_us_per_doc": "us",
    "kernel.html.classify_us_per_doc": "us",
    "kernel.layout.segment_us_per_doc": "us",
    "kernel.merge.extract_us_per_doc": "us",
    "kernel.html.tokens_per_doc": "count",
    "kernel.merge.items_per_doc": "count",
    "sources.tables.resume_filter_s": "s",
    "sources.tables.commit_s": "s",
    "sources.tables.latest_s": "s",
    "sources.tables.bytes_written_mb": "MB",
    "sources.tables.files_written": "count",
    "functions.json_extract.parse_s": "s",
    "functions.json_extract.fallback_rows": "count",
    "functions.json_extract.null_rows": "count",
    "operators.vote.vote_s": "s",
    "operators.vote.groups_out": "count",
    "operators.evaluate.eval_s": "s",
    "sinks.export.write_s": "s",
    "sinks.export.bytes_mb": "MB",
    "operators.dedup.signature_s": "s",
    "operators.dedup.band_join_s": "s",
    "operators.dedup.cluster_s": "s",
    "operators.dedup.survivors_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.pairs_out": "count",
    "operators.dedup.pair_yield": "ratio",
    "operators.dedup.cc_rounds": "count",
    "operators.dedup.star_edges": "count",
    "operators.dedup.kept_docs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.task_skew_max": "ratio",
    "trace.job_s": "s",
    "trace.untraced_job_s": "s",
    "trace.layers_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.layers_ratio": "ratio",
}

LOOP_CAP_S = 90  # stop starting jobs after this long, to finish within 180 s
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, trace: bool):
    """``local[nproc]`` session fitted to the box from the benchmark side:
    bounded Spark driver heap, Python workers importing the package from the
    repository root, every Spark scratch path inside ``work``. The JVM
    compiles with C1 only (``TieredStopAtLevel=1``): a run is too short for
    C2's background compiles to finish, and their CPU made job times and job
    CPU drift through the whole loop. A change that only pays off once C2
    has compiled it is under-measured. The heap is committed and touched
    in full at start (``-Xms`` = the heap limit, ``AlwaysPreTouch``): a
    growing heap made the tree's peak RSS depend on when the collector
    chose to expand it. Peak RSS then moves with the Python workers' and
    the JVM's off-heap memory, and heap pressure shows as ``spark.gc_s``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no JVM perf-data files in the system /tmp (the launcher's JVM too)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from openllm_ocr_annotator_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc()}]",
        extra_conf={
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
                f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for all
    of them to exit."""
    from perfbench.procstat import alive, descendants

    # taken before the JVM exits: its Python workers are reparented then
    started = descendants()
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while (left := alive(started)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run_workload(spark, wl_cls, seed: int, seconds: float, trace: bool, work: str,
                 session_s: float, scale: str = "full", log=print) -> dict:
    """Set up, warm up, run the closed loop, check; return the result
    object. ``scale="smoke"`` swaps in tiny inputs (the self-test)."""
    from perfbench.ledger import Ledger, StageMeter
    from perfbench.procstat import PeakRss, steal_s, tree_cpu_s
    from perfbench.workloads import Ctx

    ctx = Ctx(spark=spark, work=work, seed=seed, scale=scale, nproc=nproc())
    wl = wl_cls(ctx)
    t0 = time.perf_counter()
    wl.setup()
    inputs_s = time.perf_counter() - t0
    for _ in range(wl.warmup_jobs):
        wl.before_job()
        wl.after_job(wl.job())
    setup_s = time.perf_counter() - t0 + session_s

    ledger = meter = None
    if trace:
        ledger = Ledger(spark, f"{wl.name}-{seed}")
        meter = StageMeter(spark)
    # a traced run interleaves untraced jobs (no span, no job group) with
    # traced ones in untraced-traced-traced-untraced quads, so the tracing
    # overhead is measured against jobs of the same session and a linear
    # drift over the loop (the JIT still warming) cancels out
    results, walls, cpus, peaks, untraced_walls = [], [], [], [], []
    raised = 0
    loop_start = time.perf_counter()
    steal0 = steal_s()
    for i in itertools.count():
        traced = ledger is not None and i % 4 in (1, 2)
        wl.before_job()
        c0 = tree_cpu_s()
        with PeakRss() as rss:
            t0 = time.perf_counter()
            try:
                if traced:
                    with ledger.span("job"):
                        out = wl.job()
                else:
                    out = wl.job()
            except Exception:
                traceback.print_exc()
                out = None
            dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        if out is None:
            raised += 1
        else:
            results.append(wl.after_job(out))
            walls.append(dt)
            cpus.append(cpu)
            peaks.append(rss.peak_mb)
            if ledger is not None and not traced:
                untraced_walls.append(dt)
        whole_quads = ledger is None or i % 4 == 3
        if whole_quads and sum(walls) >= seconds or time.perf_counter() - loop_start > LOOP_CAP_S:
            break
    # CPU time the hypervisor gave to other guests during the loop, summed
    # over this machine's CPUs: runs with a lot of it are slower
    loop_steal_s = steal_s() - steal0
    attempted = len(results) + raised
    t_check = time.perf_counter()
    try:
        failed = raised + sum(not ok for ok in wl.check(results))
    except Exception:
        traceback.print_exc()
        failed = attempted

    print(f"perfbench: session={session_s:.2f} inputs={inputs_s:.2f} "
          f"setup={setup_s:.2f} check={time.perf_counter() - t_check:.2f}", file=sys.stderr)
    docs = wl.docs_per_job
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": _median([docs / w for w in walls]),
            "cpu_s_per_kdoc": _median([c / docs * 1000 for c in cpus]),
            "peak_rss_mb": _median(peaks),
        }
        units = END_TO_END
    else:
        metrics = dict.fromkeys(PER_LAYER, 0)
        metrics.update(meter.summary(ledger.groups("job")[-1]))
        metrics["trace.job_s"] = ledger.median("job")
        metrics["trace.untraced_job_s"] = _median(untraced_walls)
        metrics.update(wl.trace(ledger, meter, seconds))
        attempted += len(wl.trace_checks)
        failed += sum(not ok for ok in wl.trace_checks)
        if untraced_walls:  # else every untraced job raised: the ratios stay 0
            untraced = metrics["trace.untraced_job_s"]
            metrics["trace.overhead_ratio"] = metrics["trace.job_s"] / untraced
            metrics["trace.layers_ratio"] = metrics["trace.layers_s"] / untraced
        units = PER_LAYER
        traces = os.path.join(WORK_ROOT, "traces")
        os.makedirs(traces, exist_ok=True)
        ledger.dump(os.path.join(traces, f"{wl.name}-{seed}.json"))
    log(f"# {wl.name} seed={seed} docs_per_job={docs} job_s={[round(w, 3) for w in walls]} "
        f"cpu_s={[round(c, 2) for c in cpus]} rss_mb={[round(p) for p in peaks]} "
        f"host_steal_s={loop_steal_s:.1f}")
    log(f"# fail_ratio = {failed / max(attempted, 1):.6g} ratio ({failed} of {attempted} jobs)")
    for name, unit in units.items():
        log(f"# {name} = {metrics[name]:.6g} {unit}")
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "openllm_ocr_annotator_spark")):
        print(f"perfbench: no openllm_ocr_annotator_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        result = run_workload(
            spark, WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
            work, session_s,
        )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
