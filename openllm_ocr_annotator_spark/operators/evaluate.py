"""Evaluation suite (SURVEY §2.5 J2, §2.6 A3–A7, §2.2 K5).

Reference: src/openllm_ocr_annotator/evaluators/field_evaluator.py and
sampling_evaluator.py — the per-file loops become one left-outer equi-join
plus two levels of hash aggregation.

Semantics replicated:
- missing prediction for a ground-truth field counts as incorrect
  (field_evaluator.py:49-53) → LEFT join, NULL pred → correct = false;
- per-doc accuracy = correct_count / n_gt_fields; exact_match = all correct
  (field_evaluator.py:15-66);
- per-field accuracy = Σ correct / Σ total over docs (field_evaluator.py:68-142);
- sampling stats per doc over samples: mean/max/min accuracy, any exact
  match, best sample = argmax accuracy (sampling_evaluator.py:67-114);
- sampling effectiveness = stats of per-doc (max − mean) gap
  (sampling_evaluator.py:157-172).

Scale: gt⋈pred is an equi-join on (doc_id, field_name) — at 10^12 docs a
sort-merge join over co-partitioned tables; the aggregations are two-level
(partial map-side) and the per-field/global rollups are tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.matchers import dispatch_match


def evaluate_fields(gt: DataFrame, pred: DataFrame) -> DataFrame:
    """J2 + F6: left join gt↔pred, matcher dispatch → per-field correctness.

    ``gt``: (doc_id, field_name, value [...]); ``pred``: same + confidence.
    Returns (doc_id, field_name, gt_value, pred_value, correct).
    """
    g = gt.select("doc_id", "field_name", F.col("value").alias("gt_value"))
    p = pred.select("doc_id", "field_name", F.col("value").alias("pred_value"))
    joined = g.join(p, ["doc_id", "field_name"], "left")
    correct = F.when(
        F.col("pred_value").isNull(), F.lit(False)
    ).otherwise(
        dispatch_match(F.col("field_name"), F.col("gt_value"), F.col("pred_value"))
    )
    return joined.withColumn("correct", F.coalesce(correct, F.lit(False)))


def doc_accuracy(evaluated: DataFrame) -> DataFrame:
    """A3: per-document accuracy + exact-match flag."""
    return evaluated.groupBy("doc_id").agg(
        F.avg(F.col("correct").cast("double")).alias("accuracy"),
        (F.min(F.col("correct").cast("int")) == 1).alias("exact_match"),
        F.count(F.lit(1)).alias("n_fields"),
    )


def field_accuracy(evaluated: DataFrame) -> DataFrame:
    """A4: per-field-name accuracy across documents."""
    return evaluated.groupBy("field_name").agg(
        F.sum(F.col("correct").cast("long")).alias("n_correct"),
        F.count(F.lit(1)).alias("n_total"),
        F.avg(F.col("correct").cast("double")).alias("accuracy"),
    )


def overall_stats(per_doc: DataFrame) -> DataFrame:
    """A4 global tail: mean doc accuracy + perfect-match rate."""
    return per_doc.agg(
        F.avg("accuracy").alias("mean_accuracy"),
        F.avg(F.col("exact_match").cast("double")).alias("exact_match_rate"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def sampling_stats(evaluated_samples: DataFrame) -> DataFrame:
    """A5/W2: per-doc stats over samples; best sample by (accuracy, -sample_id).

    ``evaluated_samples``: per (doc_id, sample_id, field_name) correctness
    rows. Python's max() keeps the first-encountered argmax → ties resolve
    to the LOWEST sample_id (samples are iterated in order,
    sampling_evaluator.py:99), replicated via max_by on (accuracy, -sample_id).
    """
    per_sample = evaluated_samples.groupBy("doc_id", "sample_id").agg(
        F.avg(F.col("correct").cast("double")).alias("accuracy"),
        (F.min(F.col("correct").cast("int")) == 1).alias("exact_match"),
    )
    return per_sample.groupBy("doc_id").agg(
        F.avg("accuracy").alias("mean_accuracy"),
        F.max("accuracy").alias("max_accuracy"),
        F.min("accuracy").alias("min_accuracy"),
        F.max(F.col("exact_match").cast("int")).cast("boolean").alias("any_exact_match"),
        F.count(F.lit(1)).alias("n_samples"),
        F.max_by("sample_id", F.struct(F.col("accuracy"), (-F.col("sample_id")).alias("_neg"))).alias(
            "best_sample_id"
        ),
    )


def sampling_effectiveness(per_doc_sampling: DataFrame) -> DataFrame:
    """A6: global stats of the per-doc best-vs-mean gap."""
    gap = (F.col("max_accuracy") - F.col("mean_accuracy")).alias("gap")
    return per_doc_sampling.select(gap).agg(
        F.avg("gap").alias("mean_improvement"),
        F.max("gap").alias("max_improvement"),
        F.min("gap").alias("min_improvement"),
    )


def sampling_markdown_report(per_doc_sampling: DataFrame, num_samples: int) -> str:
    """K5 second half: the sampling evaluation report (reference:
    evaluators/sampling_evaluator.py:176-204) — same sections, same line
    labels, same ``{:.2%}`` formatting. Overall statistics are per-image
    averages of the per-image sample stats (reference accumulates
    ``overall_stats[key] += stats[key]`` then divides by image count:
    :142-155); effectiveness is the best-vs-mean gap stats (:157-172).

    ``per_doc_sampling``: output of :func:`sampling_stats`.
    """
    # one action, not two: both rollups are global single-row aggregates, so
    # compute them in a single agg pass instead of re-running the upstream
    # sampling aggregation per section
    gap = F.col("max_accuracy") - F.col("mean_accuracy")
    row = per_doc_sampling.agg(
        F.avg("mean_accuracy").alias("mean_accuracy"),
        F.avg("max_accuracy").alias("max_accuracy"),
        F.avg(F.col("any_exact_match").cast("double")).alias("exact_match_rate"),
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(gap).alias("mean_improvement"),
        F.max(gap).alias("max_improvement"),
        F.min(gap).alias("min_improvement"),
    ).first()
    if row.n_docs == 0:
        # avg-over-empty is NULL — an empty evaluation still gets a report
        return "\n".join(
            [
                "# Sampling Evaluation Report\n",
                "## Overall Statistics",
                "- Total Images Evaluated: 0",
                f"- Samples per Image: {num_samples}\n",
            ]
        )
    overall = eff = row
    report = [
        "# Sampling Evaluation Report\n",
        "## Overall Statistics",
        f"- Mean Accuracy: {overall.mean_accuracy:.2%}",
        f"- Best Sample Accuracy: {overall.max_accuracy:.2%}",
        f"- Exact Match Rate: {overall.exact_match_rate:.2%}",
        f"- Total Images Evaluated: {overall.n_docs}",
        f"- Samples per Image: {num_samples}\n",
        "## Sampling Effectiveness",
        f"- Mean Improvement: {eff.mean_improvement:.2%}",
        f"- Max Improvement: {eff.max_improvement:.2%}",
        f"- Min Improvement: {eff.min_improvement:.2%}\n",
    ]
    return "\n".join(report)


def markdown_report(evaluated: DataFrame) -> str:
    """K5: driver-side markdown accuracy report from the small aggregates
    (reference: evaluators/field_evaluator.py:144-173)."""
    per_field = field_accuracy(evaluated).orderBy("field_name").collect()
    overall = overall_stats(doc_accuracy(evaluated)).first()
    # an empty evaluation still gets a report (same guard as the sampling
    # report): avg() over zero rows is NULL, and :.4f on None raises
    mean_acc = overall.mean_accuracy if overall.n_docs else 0.0
    exact_rate = overall.exact_match_rate if overall.n_docs else 0.0
    lines = [
        "# Field Evaluation Report",
        "",
        f"- documents: {overall.n_docs}",
        f"- mean accuracy: {mean_acc:.4f}",
        f"- exact-match rate: {exact_rate:.4f}",
        "",
        "| field | correct | total | accuracy |",
        "|---|---|---|---|",
    ]
    for r in per_field:
        lines.append(f"| {r.field_name} | {r.n_correct} | {r.n_total} | {r.accuracy:.4f} |")
    return "\n".join(lines)
