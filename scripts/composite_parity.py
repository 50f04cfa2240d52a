#!/usr/bin/env python
"""Check that two checkouts build the same driver-facing composites.

For every composite (a catalog entry whose Spark plan is a UNION of member
legs), both checkouts are asked for: Spark ``dtypes``, the optimized logical
plan with expression ids, lambda-variable suffixes and physical plan ids
stripped, the Spark rows, and the DuckDB oracle's Arrow column types and
rows. The catalog's ``QUERIES``/``ORACLES`` key sets, ``DRIVER_QUERY_NAMES``
(ordered) and ``GOLDEN_ORACLE_QUERIES`` are compared too. A refactor of the
composite layer should report ALL IDENTICAL; a member-plan change shows up
as a plan (and possibly row) difference on the composites that use it.

Usage (each checkout is imported in its own process)::

    python scripts/composite_parity.py OLD_CHECKOUT [NEW_CHECKOUT] [sf_dir]

NEW_CHECKOUT defaults to this repository, sf_dir to the golden-oracle
scale (``queries_catalog.GOLDEN_ORACLE_SF``). Exit 0 iff all identical.
"""
import os
import pickle
import re
import subprocess
import sys
import tempfile

COMPOSITES = [
    "scan_lifecycle", "split_datasets", "text_signals", "media_pipeline",
    "sampling_suite", "eval_accuracy", "vote_variants", "similarity_ann",
    "mixture_temperatures", "packing", "selection_suite", "extract_variants",
    "profiling", "event_windows",
]
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


def _norm_plan(plan: str, repo: str) -> str:
    plan = plan.replace(repo, "<repo>")
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    return re.sub(r"\b(x|y|acc)_\d+\b", r"\1", plan)


def _canon(rows):
    return sorted(
        (tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows),
        key=repr,
    )


def snapshot(repo: str, sf_dir: str | None, out: str) -> None:
    """Child process: import the catalog from ``repo`` and pickle its view."""
    sys.path.insert(0, repo)
    os.chdir(repo)
    import duckdb
    from pyspark.sql import SparkSession

    from openllm_ocr_annotator_spark import queries_catalog as qc

    sf_dir = sf_dir or qc.GOLDEN_ORACLE_SF
    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    snap = {"catalog": (sorted(qc.QUERIES), sorted(qc.ORACLES),
                        list(qc.DRIVER_QUERY_NAMES), sorted(qc.GOLDEN_ORACLE_QUERIES))}
    for name in COMPOSITES:
        df = qc.QUERIES[name](spark, sf_dir)
        tbl = con.execute(qc.ORACLES[name]).fetch_arrow_table()
        snap[name] = {
            "dtypes": df.dtypes,
            "plan": _norm_plan(df._jdf.queryExecution().optimizedPlan().toString(), repo),
            "rows": _canon(tuple(r) for r in df.collect()),
            "duck_types": [(f.name, str(f.type)) for f in tbl.schema],
            "duck_rows": _canon(tuple(r.values()) for r in tbl.to_pylist()),
        }
    spark.stop()
    with open(out, "wb") as f:
        pickle.dump(snap, f)


def main() -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    old = os.path.abspath(sys.argv[1])
    new = os.path.abspath(sys.argv[2]) if len(sys.argv) > 2 else here
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else ""
    snaps = []
    with tempfile.TemporaryDirectory() as tmp:
        for i, repo in enumerate((old, new)):
            out = os.path.join(tmp, f"{i}.pkl")
            subprocess.run([sys.executable, __file__, "--snapshot", repo, sf_dir, out],
                           check=True)
            with open(out, "rb") as f:
                snaps.append(pickle.load(f))
    a, b = snaps
    ok = True
    labels = ("QUERIES keys", "ORACLES keys", "DRIVER_QUERY_NAMES", "GOLDEN_ORACLE_QUERIES")
    for label, x, y in zip(labels, a["catalog"], b["catalog"]):
        ok &= x == y
        print(f"{label:24s} {'identical' if x == y else 'DIFFERENT'} ({len(x)} entries)")
    for name in COMPOSITES:
        same = {k: a[name][k] == b[name][k] for k in a[name]}
        ok &= all(same.values())
        cells = " ".join(f"{k}={'=' if v else 'DIFF'}" for k, v in same.items())
        print(f"{name:22s} rows={len(a[name]['rows']):6d} {cells}")
    print("ALL IDENTICAL" if ok else "DIFFERENCES FOUND")
    return 0 if ok else 1


if __name__ == "__main__":
    if sys.argv[1:2] == ["--snapshot"]:
        snapshot(sys.argv[2], sys.argv[3] or None, sys.argv[4])
    else:
        sys.exit(main())
