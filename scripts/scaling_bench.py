#!/usr/bin/env python
"""Scaling evidence for the north rule: one job at N and 4N executors.

    python scripts/scaling_bench.py extract   # → BENCH_SCALING.json
    python scripts/scaling_bench.py dedup     # → BENCH_DEDUP_SCALING.json

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

Jobs:

- ``extract``: scan → mapInArrow extraction → count over the sf0.1
  (``$SPARK_GRAFT_SF_DIR``) corpus ×``$BENCH_REPLICATE`` (120). It is
  deliberately shuffle-free, so it measures partitioning and per-executor
  overhead. 4 GB executors, one shuffle partition per core. A second,
  supplementary pair (2×4 → 8×4, i.e. 8 → 32 cores) runs into the single
  box's memory-bandwidth ceiling (~75k docs/s past ~16 cores — one shared
  memory system, which a real 4N-machine cluster does not have); the
  primary pair stays below saturation. Best of 7 timed trials after 1
  warmup for the primary pair, 5 for the supplementary pair. Overwrites
  BENCH_SCALING.json and prints markdown rows for BASELINE.md.
- ``dedup``: the shuffle-heavy opposite extreme, ``minhash_lsh_pairs →
  dedup_clusters → survivors`` (band-bucket exchange, iterative
  connected-components shuffles, a keep-join) over the amplified corpus
  ``scripts/scale_smoke.py`` materializes (dup-groups of 8 per base doc +
  a planted viral cluster) at ×``$DEDUP_BENCH_REPLICATE`` (24). 6 GB
  executors and max(32, 2 × cores) shuffle partitions, so both cluster
  sizes get 32 and only the core count varies (x480's 6.7 GB max-stage
  shuffle stays ~200 MB per partition). Best of 3 timed trials after 1
  warmup. Merges the point into BENCH_DEDUP_SCALING.json by replicate:
  the efficiency-vs-corpus-size curve is the result, because a fixed
  coordination cost amortizes as the corpus grows.

The box shows ±2× noisy-neighbor variance; best-of measures capability,
not interference.
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
from pyspark.sql import SparkSession, functions as F

(job, n_exec, cores_per, input_dir, pkg_zip, n_trials, app, mem_mb,
 shuffle_partitions, extra_conf) = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4], sys.argv[5],
    int(sys.argv[6]), sys.argv[7], int(sys.argv[8]), int(sys.argv[9]),
    json.loads(sys.argv[10]))

builder = (SparkSession.builder.appName(f"{app}_{n_exec}x{cores_per}")
    .master(f"local-cluster[{n_exec},{cores_per},{mem_mb}]")
    .config("spark.submit.pyFiles", pkg_zip)          # --py-files shipping
    .config("spark.executor.memory", f"{mem_mb}m")
    .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.ui.enabled", "false"))
for k, v in extra_conf.items():
    builder = builder.config(k, v)
spark = builder.getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(input_dir)
n_docs = docs.count()


def extract_trial():
    from openllm_ocr_annotator_spark.operators.extract import extract_pipeline

    extract_pipeline(docs, num_partitions=None).agg(F.count(F.lit(1)).alias("n")).first()
    return None, []


def dedup_trial():
    from openllm_ocr_annotator_spark.operators.dedup import (
        dedup_clusters, minhash_lsh_pairs, survivors)

    caches = []
    pairs = minhash_lsh_pairs(
        docs, threshold=0.7, max_bucket_size=1000, caches=caches).persist()
    clusters = dedup_clusters(pairs, docs=docs).persist()
    kept = docs.join(survivors(clusters, docs), "doc_id").count()
    return kept, [pairs, clusters, *caches]


trial = {"extract": extract_trial, "dedup": dedup_trial}[job]
times, results = [], []
for _ in range(n_trials):  # first is warmup (JIT + executor/python spin-up)
    t0 = time.perf_counter()
    result, held = trial()
    times.append(time.perf_counter() - t0)
    results.append(result)
    for frame in held:
        frame.unpersist()
assert len(set(results)) == 1, f"nondeterministic result: {results}"
spark.stop()
best = min(times[1:])
out = {
    "executors": n_exec, "cores_per_executor": cores_per,
    "total_cores": n_exec * cores_per, "docs": n_docs,
    "trial_seconds": [round(t, 2) for t in times],
    "best_seconds": round(best, 2), "docs_per_sec": n_docs / best}
if results[0] is not None:
    out["kept_docs"] = results[0]
print("RESULT " + json.dumps(out))
"""

# shuffle partitions = max(min_partitions, partitions_per_core × cores)
JOBS = {
    "extract": {
        "app": "scaling", "mem_mb": 4096, "trials": 6, "timeout": 3600,
        "min_partitions": 1, "partitions_per_core": 1,
        "extra_conf": {
            "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
            "spark.sql.files.maxPartitionBytes": "4m",
        },
    },
    "dedup": {
        "app": "dedup_scaling", "mem_mb": 6144, "trials": 4, "timeout": 5400,
        "min_partitions": 32, "partitions_per_core": 2, "extra_conf": {},
    },
}


def run_child(
    job: str, n_exec: int, cores_per: int, input_dir: str, pkg_zip: str,
    n_trials: int | None = None,
) -> dict:
    spec = JOBS[job]
    total = n_exec * cores_per
    shuffle_partitions = max(spec["min_partitions"], spec["partitions_per_core"] * total)
    cmd = [
        "taskset", "-c", f"0-{total - 1}", sys.executable, "-c", CHILD,
        job, str(n_exec), str(cores_per), input_dir, pkg_zip,
        str(n_trials or spec["trials"]), spec["app"], str(spec["mem_mb"]),
        str(shuffle_partitions), json.dumps(spec["extra_conf"]),
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, timeout=spec["timeout"]
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line (rc={out.returncode}):\n{out.stderr[-3000:]}")


def _pair(job: str, lo_n: int, hi_n: int, input_dir: str, pkg_zip: str,
          n_trials: int | None = None) -> tuple[dict, dict, float]:
    lo = run_child(job, lo_n, 4, input_dir, pkg_zip, n_trials)
    hi = run_child(job, hi_n, 4, input_dir, pkg_zip, n_trials)
    return lo, hi, hi["docs_per_sec"] / (4 * lo["docs_per_sec"])


def extract_job(spark, work_dir: str, pkg_zip: str) -> None:
    from bench import prepare_input

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    replicate = int(os.environ.get("BENCH_REPLICATE", "120"))
    input_dir = prepare_input(spark, sf_dir, replicate, work_dir)
    spark.stop()

    lo, hi, eff = _pair("extract", 1, 4, input_dir, pkg_zip, n_trials=8)
    lo2, hi2, eff2 = _pair("extract", 2, 8, input_dir, pkg_zip)
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


def dedup_job(spark, work_dir: str, pkg_zip: str) -> None:
    sys.path.insert(0, HERE)
    import scale_smoke

    replicate = int(os.environ.get("DEDUP_BENCH_REPLICATE", "24"))
    input_dir = scale_smoke.amplified_path(spark, replicate)
    spark.stop()

    lo, hi, eff = _pair("dedup", 1, 4, input_dir, pkg_zip)
    point = {
        "replicate": replicate,
        "n_docs": lo["docs"],
        "input_dir": input_dir,
        "low": lo,
        "high": hi,
        "scaling_efficiency_1x4_to_4x4": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    art = os.path.join(REPO, "BENCH_DEDUP_SCALING.json")
    points = []
    if os.path.exists(art):
        with open(art) as f:
            points = json.load(f).get("points", [])
    points = [p for p in points if p["replicate"] != replicate] + [point]
    points.sort(key=lambda p: p["n_docs"])
    result = {
        "job": "minhash_lsh_pairs -> dedup_clusters -> survivors",
        "protocol": "local-cluster taskset-pinned, --py-files shipped, "
        "best of 3 timed trials after 1 warmup, 32 shuffle partitions "
        "at both cluster sizes",
        "points": points,
    }
    with open(art, "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result))
    print(
        f"| dedup e2e | 1 executor (4 cores): {lo['docs_per_sec']:.0f} docs/s | "
        f"4 executors (16 cores): {hi['docs_per_sec']:.0f} docs/s | "
        f"efficiency {eff:.3f} |"
    )


def main() -> None:
    if len(sys.argv) != 2 or sys.argv[1] not in JOBS:
        sys.exit(f"usage: {sys.argv[0]} {{{'|'.join(JOBS)}}}")
    job = sys.argv[1]
    work_dir = os.environ.get("BENCH_WORK_DIR", "/tmp/spark_bench")
    os.makedirs(work_dir, exist_ok=True)

    pkg_zip = os.path.join(work_dir, "openllm_pkg.zip")
    shutil.make_archive(pkg_zip[:-4], "zip", root_dir=REPO,
                        base_dir="openllm_ocr_annotator_spark")

    sys.path.insert(0, REPO)
    from openllm_ocr_annotator_spark.session import get_spark

    spark = get_spark(app_name=f"{JOBS[job]['app']}_prep", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    {"extract": extract_job, "dedup": dedup_job}[job](spark, work_dir, pkg_zip)


if __name__ == "__main__":
    main()
