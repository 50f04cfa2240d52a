#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE SHORT JSON line to stdout:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}
and writes the FULL artifact (per-trial spreads, canary drift, scaling
evidence) to BENCH_LOCAL.json next to this file. The round-3 driver
artifact had ``parsed: null`` because the single stdout line outgrew the
driver's tail-capture window — so stdout now carries only the contract
fields plus headline numbers (compact separators, 2-dp rounding) and
everything else goes to the file; Spark/progress noise goes to stderr.

Headline = end-to-end span-extraction throughput (docs/sec, the north-rule
metric) over a MATERIALIZED north-rule span table: the synthesizer writes
the amplified corpus to parquet once (cached across runs), and the timed
job is scan → mapInArrow kernel over the scan partitioning → lineage agg
— the same plan a production run over an Iceberg documents table
executes. The variant that hash-repartitions on doc_id first is timed as
its own row, ``extract_repartitioned`` (``extract_salted`` in BENCH_LOCAL
artifacts written before the rename).

Scaling evidence (N vs 4N cores) is produced by ``scripts/scaling_bench.py
extract`` (which reuses ``prepare_input`` for the identical input
directory at both cluster sizes) and ``scripts/scaling_bench.py dedup``.

Trust model (two layers, both recorded):

1. Dispersion guard (``timed_best``): best-of-3; trials disagreeing by >2×
   trigger up to 3 re-measures; still-noisy queries are flagged.
2. Canary calibration: a FIXED tiny JVM-side job is timed immediately
   before every trial. Sustained interference (the dispersion guard's
   blind spot — all trials equally slow, spread looks clean) shows up as
   canary drift vs the session-best canary. Trials whose canary drifts
   >1.8× are discarded when any clean-window trial exists; per-query
   canary drift of the KEPT trial is recorded so a reader can tell "the
   engine got slower" from "the box was busy" without re-running.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _sf_of(sf_dir: str) -> float:
    name = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def prepare_input(spark, sf_dir: str, replicate: int, work_dir: str) -> str:
    """Materialize the amplified span table once; returns its path."""
    from openllm_ocr_annotator_spark.synth import synthesize_documents

    tag = f"{os.path.basename(sf_dir.rstrip('/'))}_x{replicate}"
    out = os.path.join(work_dir, f"bench_docs_{tag}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        docs = synthesize_documents(spark, sf_dir, replicate=replicate, partitions=64)
        docs.write.mode("overwrite").parquet(out)
    return out


def run_extract_bench(spark, input_dir: str, num_partitions: int):
    """Returns (docs_in, spans_out, seconds) for scan→extract→lineage-agg."""
    from pyspark.sql import functions as F

    from openllm_ocr_annotator_spark.operators.extract import extract_pipeline

    docs = spark.read.parquet(input_dir)
    t0 = time.perf_counter()
    out = extract_pipeline(docs, num_partitions=num_partitions)
    stats = out.agg(
        F.countDistinct("doc_id").alias("docs"), F.count(F.lit(1)).alias("spans")
    ).first()
    dt = time.perf_counter() - t0
    n_docs = docs.count()
    return n_docs, stats.spans, dt


class Canary:
    """Fixed tiny JVM-side workload, timed before every trial.

    The job (a codegen'd range-agg) is CPU-bound, allocation-light, and
    identical every call, so its runtime is a pure read of host contention:
    on a quiet window it is flat; under a noisy neighbor it stretches by
    roughly the same factor the real queries do. ``ref`` is the session-best
    (minimum) canary time — drift = canary/ref ≈ the interference multiple
    of the window a trial ran in.
    """

    def __init__(self, spark):
        self.spark = spark
        self.ref = float("inf")

    def probe(self) -> float:
        """Min-of-2 probe: a single probe carries ~1.3-1.7× scheduling
        jitter on this box (measured); the min of two back-to-back runs is
        a stable read of the window while still being cheap (~0.4s)."""

        def one() -> float:
            t0 = time.perf_counter()
            self.spark.range(100_000_000).selectExpr(
                "count(if(id % 7 = 0, 1, null)) as c", "sum(id * 3 + 1) as s"
            ).collect()
            return time.perf_counter() - t0

        dt = min(one(), one())
        self.ref = min(self.ref, dt)
        return dt


def timed_best(
    run,
    canary: Canary | None = None,
    trials: int = 3,
    spread_limit: float = 2.0,
    max_extra: int = 3,
    drift_limit: float = 1.8,
) -> tuple[float, float, bool, float]:
    """Best-of-N with a dispersion guard and canary window-quality filter.

    The sandbox box shows ±2× (occasionally ~12×) noisy-neighbor spikes; a
    recorded number whose trials disagree by more than ``spread_limit`` is
    measuring interference, not the engine (the round-2 bench file recorded
    6-14× outliers on three queries that re-measured clean in isolation).
    So: run ``trials`` times; while max/min exceeds the limit, re-measure
    (up to ``max_extra`` extra trials — each later trial runs against a
    quieter window with higher probability) and keep the min.

    SUSTAINED interference defeats that guard (all trials equally slow →
    spread clean, number 2× wrong — the round-3 artifact). The canary probe
    runs before each trial; trials whose canary drifted > ``drift_limit``
    vs the session-best canary are dropped when any clean-window trial
    exists, and one extra re-measure is spent trying to land a clean window.

    Drift is evaluated LAZILY against the current session-best ref (raw
    probe seconds are stored, never a ratio): a session that STARTS in a
    degraded window seeds a pessimistic ref, and trials probed before the
    first clean window would otherwise be frozen at drift≈1.0 — certified
    clean while ~2× wrong. The caller receives the kept trial's raw probe
    seconds and must rescale against the FINAL ``canary.ref`` at report
    time (run_suite does). Residual blind spot, documented not hidden: a
    session that never sees one clean window has no in-session reference
    at all — its artifact is uniformly pessimistic with drift≈1.0.

    Returns (best_seconds, final_spread, still_noisy, kept_probe_seconds).
    """
    measured: list[tuple[float, float]] = []  # (seconds, canary_probe_sec)

    def one() -> None:
        probe = canary.probe() if canary is not None else 0.0
        dt = run()
        measured.append((dt, probe))

    def drift_of(probe: float) -> float:
        return probe / canary.ref if canary is not None else 1.0

    for _ in range(trials):
        one()
    extra = 0

    def clean() -> list[tuple[float, float]]:
        ok = [m for m in measured if drift_of(m[1]) <= drift_limit]
        return ok if ok else measured

    def spread_of(ms: list[tuple[float, float]]) -> float:
        ts = sorted(t for t, _ in ms)[:trials]
        return max(ts) / max(min(ts), 1e-9)

    while extra < max_extra and (
        spread_of(clean()) > spread_limit
        or all(drift_of(p) > drift_limit for _, p in measured)
    ):
        one()
        extra += 1
    kept = clean()
    best, best_probe = min(kept, key=lambda m: m[0])
    spread = spread_of(kept)
    return best, round(spread, 2), spread > spread_limit, best_probe


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    replicate = int(os.environ.get("BENCH_REPLICATE", "120"))
    work_dir = os.environ.get("BENCH_WORK_DIR", "/tmp/spark_bench")
    os.makedirs(work_dir, exist_ok=True)

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from openllm_ocr_annotator_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    try:
        timings: dict[str, float] = {}

        # warmup: JIT, codegen, Python-worker pool spin-up — not the workload
        spark.range(10_000_000).selectExpr("sum(id)").collect()
        entry.queries()["weighted_vote"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

        input_dir = prepare_input(spark, sf_dir, replicate, work_dir)
        noisy: list[str] = []
        spreads: dict[str, float] = {}
        probes: dict[str, float] = {}  # raw canary seconds per kept trial
        runners: dict = {}  # name -> zero-arg runner, for window re-heals
        canary = Canary(spark)
        for _ in range(3):  # seed the session-best canary reference
            canary.probe()

        # Headline = the default plan: shuffle-free extraction over the scan
        # partitioning (extract_pipeline with num_partitions=None).
        n_docs_box: list[int] = []
        n_spans_box: list[int] = []

        def run_headline():
            n, s, dt = run_extract_bench(spark, input_dir, num_partitions=None)
            n_docs_box[:] = [n]
            n_spans_box[:] = [s]
            return dt

        dt, sp, bad, probe = timed_best(run_headline, canary)
        n_docs, n_spans = n_docs_box[0], n_spans_box[0]
        timings["extract_e2e"] = round(dt, 3)
        spreads["extract_e2e"] = sp
        probes["extract_e2e"] = probe
        runners["extract_e2e"] = run_headline
        if bad:
            noisy.append("extract_e2e")
        # doc_id-repartitioned variant: full repartition before the kernel —
        # the skew insurance for corpora whose mega-docs cluster in scan
        # splits; the delta prices that insurance (a full-corpus shuffle)
        run_repartitioned = lambda: run_extract_bench(  # noqa: E731
            spark, input_dir, num_partitions=cpus * 2
        )[2]
        sdt, sp, bad, probe = timed_best(run_repartitioned, canary)
        timings["extract_repartitioned"] = round(sdt, 3)
        spreads["extract_repartitioned"] = sp
        probes["extract_repartitioned"] = probe
        runners["extract_repartitioned"] = run_repartitioned
        if bad:
            noisy.append("extract_repartitioned")

        # bench rows come from the FULL catalog (folded members are still the
        # units worth timing individually), not the consolidated driver surface
        from openllm_ocr_annotator_spark.queries_catalog import QUERIES as queries
        for name in [
            "weighted_vote",
            "majority_vote",
            "eval_field_accuracy",
            "sampling_stats",
            "dedup_exact",
            "url_dedup",
            "domain_blocklist",
            "dedup_minhash_lsh",
            "dedup_ngram_jaccard",
            "dedup_simhash",
            "dedup_clusters",
            "dedup_corpus",
            "line_dedup",
            "substring_dedup",
            "decontaminate",
            "contamination_score",
            "dedup_bloom_incremental",
            "dedup_lsh_incremental",
            "gopher_gates",
            "similarity_topk",
            "similarity_lsh_topk",
            "similarity_ivf_pq_topk",
            "bm25_search",
            "embedding_near_dups",
            "semantic_dedup",
            "dsir_select",
            "text_quality",
            "quality_classifier",
            "perplexity_filter",
            "mixture_rates",
            "mixture_epochs",
            "text_token_stats",
            "skew_report",
            "cardinality_audit",
            "corpus_curation",
            "training_pipeline",
            "sessionize",
            "windowed_rollup",
            "pack_sequences",
            "pack_sequences_bpe",
            "fixed_windows",
            "corpus_drift",
            "budget_select",
            "media_features",
            "media_payload_decode",
            "media_phash_dedup",
            "extract_spans_wide",
            "ensemble_extract",
            "split_assignment",
        ]:

            def run_query(name=name):
                t0 = time.perf_counter()
                df = queries[name](spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
                # some operators cache intermediates (LSH signatures); don't
                # let one query's cache skew the next query's memory budget
                spark.catalog.clearCache()
                return elapsed

            best, sp, bad, probe = timed_best(run_query, canary)
            timings[name] = round(best, 3)
            spreads[name] = sp
            probes[name] = probe
            runners[name] = run_query
            if bad:
                noisy.append(name)

        # Self-heal degraded windows (VERDICT r4 #3): a row whose KEPT
        # trial only ever saw a noisy window (canary drift > 1.5 vs the
        # final session-best ref) is re-measured — up to 2 extra passes
        # over just the degraded rows — and replaced iff the re-measure is
        # faster (interference only ever inflates; min is the closest read
        # of the engine). The recorded artifact is therefore a clean-window
        # record by construction, or a documented 3-strike failure via the
        # surviving canary_drift/window_quality tags.
        def _degraded() -> list[str]:
            ref = max(canary.ref, 1e-9)
            return [k for k, p in probes.items() if p and p / ref > 1.5]

        for _heal_pass in range(2):
            stale = _degraded()
            if not stale:
                break
            for name in stale:
                best, sp, bad, probe = timed_best(runners[name], canary)
                if best < timings[name]:
                    timings[name] = round(best, 3)
                    spreads[name] = sp
                    probes[name] = probe
                    # the noisy flag must describe the measurement actually
                    # recorded — the replacement's dispersion verdict, not
                    # the evicted trial's
                    if bad and name not in noisy:
                        noisy.append(name)
                    elif not bad and name in noisy:
                        noisy.remove(name)

        dt = timings["extract_e2e"]
        sdt = timings["extract_repartitioned"]
        docs_per_sec = round(n_docs / dt, 1)
        total = round(sum(timings.values()), 3)
        # attach the latest N-vs-4N scaling evidence (scripts/scaling_bench.py)
        scaling = None
        scaling_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALING.json"
        )
        if os.path.exists(scaling_path):
            with open(scaling_path) as f:
                p = json.load(f).get("primary", {})
            scaling = {
                "low_docs_per_sec": round(p.get("low", {}).get("docs_per_sec", 0), 1),
                "high_docs_per_sec": round(p.get("high", {}).get("docs_per_sec", 0), 1),
                "low_cores": p.get("low", {}).get("total_cores"),
                "high_cores": p.get("high", {}).get("total_cores"),
                "efficiency": p.get("scaling_efficiency_1x4_to_4x4"),
                "target": p.get("target"),
                "pass": p.get("pass"),
            }
        # window quality over the whole run: max kept-trial canary drift,
        # recomputed against the FINAL session-best ref (a session that
        # starts degraded must not certify its early numbers clean just
        # because the ref was provisional when they were probed).
        # <=1.8 → every recorded number came from a clean window; higher →
        # that many queries only ever saw a degraded window (number is at
        # most ~drift× pessimistic — the honest tag VERDICT r3 #3 asked for)
        ref = max(canary.ref, 1e-9)
        drifts = {k: round(p / ref, 2) if p else 1.0 for k, p in probes.items()}
        worst_drift = max(drifts.values()) if drifts else 1.0
        full = {
            "metric": "e2e_suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": _sf_of(sf_dir),
            "extract_docs": n_docs,
            "extract_spans": n_spans,
            "extract_docs_per_sec": docs_per_sec,
            "extract_repartitioned_docs_per_sec": round(n_docs / sdt, 1),
            "scaling": scaling,
            "cpus": cpus,
            # dispersion audit: per-query max/min over the settled
            # best-of-3 window; names in "noisy" still exceeded 2×
            # after re-measures — treat those rows as unreliable
            "trial_spread": spreads,
            "noisy": noisy,
            # canary audit: drift of the KEPT trial's window vs the
            # session-best canary (1.0 = clean window; >1.8 = the query
            # never landed a clean window, number is pessimistic)
            "canary_ref_sec": round(canary.ref, 3),
            "canary_drift": drifts,
            "window_quality": "clean" if worst_drift <= 1.8 else "degraded",
        }
        local_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
        with open(local_path, "w") as f:
            json.dump(full, f, indent=1)
        # stdout: ONE SHORT line (the driver tail-captures it; the round-3
        # full dict overflowed the window and recorded parsed:null) —
        # contract fields + headline numbers only, compact separators.
        slim = {
            "metric": "e2e_suite_seconds",
            "value": total,
            "unit": "sec",
            "sf": _sf_of(sf_dir),
            "queries": {k: round(v, 2) for k, v in timings.items()},
            "extract_docs_per_sec": docs_per_sec,
            "scaling_efficiency": (scaling or {}).get("efficiency"),
            "window_quality": full["window_quality"],
            "noisy": noisy,
            "detail": "BENCH_LOCAL.json",
        }
        print(json.dumps(slim, separators=(",", ":")))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
