#!/usr/bin/env python
"""Generate PLANS.md: a physical-plan audit of every catalog query.

For each ``queries()`` entry: exchange count, join strategies, Python
stages (every Arrow/pandas node plus row-at-a-time BatchEvalPython),
whether filters reach the scan, and whole-stage-codegen presence — the facts that decide 100 TB behavior,
in one reviewable table.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SKIP = {
    # these run real side-effecting jobs / tmp tables at call time
    "streaming_increment",
}


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def audit(plan: str) -> dict:
    def n(pat):
        return len(re.findall(pat, plan, flags=re.M))

    # anchor on the "(n) Node" detail headers — each node appears once there
    return {
        "exchanges": n(r"^\(\d+\) Exchange"),
        "broadcast_joins": n(r"^\(\d+\) BroadcastHashJoin"),
        "smj": n(r"^\(\d+\) SortMergeJoin"),
        "window_limit": n(r"^\(\d+\) WindowGroupLimit"),
        "python": n(
            r"^\(\d+\) (?:ArrowEvalPython|BatchEvalPython|MapInArrow"
            r"|PythonMapInArrow|FlatMapGroupsInPandas|MapInPandas)"
        ),
        "pushed": n(r"PushedFilters: \[[^]]") > 0,
    }


def main() -> None:
    from openllm_ocr_annotator_spark.session import get_spark

    import __spark_entry__ as entry

    spark = get_spark(app_name="plan_audit", master="local[8]", shuffle_partitions=8)
    sf_dir = "/root/testdata/sf0.001"
    rows = []
    from openllm_ocr_annotator_spark.queries_catalog import QUERIES

    # full catalog, not just the consolidated driver surface: folded
    # members and catalog-only operators keep their plan audit rows
    for name, fn in sorted(QUERIES.items()):
        if name in SKIP:
            rows.append((name, None))
            continue
        try:
            a = audit(plan_of(fn(spark, sf_dir)))
        except Exception as e:  # pragma: no cover - audit tool
            a = {"error": str(e)[:80]}
        rows.append((name, a))

    out = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        "Generated by `scripts/plan_audit.py` at sf0.001 (`local[8]`).",
        "Exchanges = shuffle boundaries; Py = Python stages, Arrow-batched or",
        "row-at-a-time BatchEvalPython (the only places Python runs); WGL =",
        "WindowGroupLimit (top-1 without sorting losers). Plan-shape",
        "regressions are pinned by `tests/test_plan_shapes.py`; this file is",
        "the human-readable audit.",
        "",
        "`dedup_ngram_jaccard` is the EXACT-Jaccard verifier (its gram",
        "subtree is recomputed per consumer → high exchange count by design);",
        "the corpus-scale near-dup path is `dedup_minhash_lsh`, whose only",
        "shuffles are band-bucket exchanges.",
        "",
        "| query | exchanges | bcast joins | SMJ | WGL | Py stages | pushed filters |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        if a is None:
            out.append(f"| {name} | — | — | — | — | — | (side-effecting; see tests) |")
        elif "error" in a:
            out.append(f"| {name} | error: {a['error']} | | | | | |")
        else:
            out.append(
                f"| {name} | {a['exchanges']} | {a['broadcast_joins']} | "
                f"{a['smj']} | {a['window_limit']} | {a['python']} | "
                f"{'✓' if a['pushed'] else '—'} |"
            )
    (REPO / "PLANS.md").write_text("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
