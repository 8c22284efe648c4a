"""Aggregate-surface stragglers — the remaining ``@AggregationFunction``
names from the reference registry probe, SQL-callable through
``Engine.sql``.

* ``approx_set`` / ``merge_hll`` are dialect templates onto Spark's
  native HLL sketch aggregates (``hll_sketch_agg`` / ``hll_union_agg``
  — same mergeable-sketch lifecycle as ``HyperLogLogType``).
* ``map_union`` is a dialect template (pure JVM fold over collected
  maps, first-seen key wins — ``MapUnionAggregation.java``).
* ``numeric_histogram`` / ``differential_entropy`` /
  ``evaluate_classifier_predictions`` are grouped-agg pandas UDFs —
  aggregation state of bounded size (bucket list / bounded sample /
  per-class counters), Arrow-batched, usable in GROUP BY.

Documented non-registrations: ``classification_{precision,recall,
miss_rate,fall_out,thresholds}`` (delivered with the reference's exact
fixed-histogram semantics as the ``agg_classification_metrics``
operator — their array-of-rows return shape is produced there),
``sum_data_size_for_stats`` / ``max_data_size_for_stats`` (internal
hidden aggregates backing ANALYZE, surfaced through SHOW STATS),
``khyperloglog_agg`` (delivered as the KHyperLogLog operator family).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from .compat import pandas_udf


def _numeric_histogram_impl(n: pd.Series, v: pd.Series) -> dict:
    """numeric_histogram(buckets, x) → map<double,double> — deterministic
    equi-width buckets keyed by bucket CENTER (the reference's
    NumericHistogram is a streaming merge clustering; this is its
    deterministic two-pass analog, same API and weight total)."""
    buckets = int(n.iloc[0]) if len(n) else 10
    vals = v.dropna().to_numpy(dtype=np.float64)
    if len(vals) == 0:
        return {}
    lo, hi = float(vals.min()), float(vals.max())
    if hi == lo:
        return {lo: float(len(vals))}
    width = (hi - lo) / buckets
    idx = np.minimum(((vals - lo) / width).astype(np.int64), buckets - 1)
    out: dict[float, float] = {}
    for i, c in zip(*np.unique(idx, return_counts=True)):
        out[lo + (float(i) + 0.5) * width] = float(c)
    return out


def _differential_entropy_impl(n: pd.Series, v: pd.Series) -> float:
    """differential_entropy(sample_size, x) — the reference's
    reservoir+Vasicek strategy with a DETERMINISTIC evenly-strided
    sample of the sorted distinct values standing in for the RNG
    reservoir (same estimator, reproducible)."""
    size = int(n.iloc[0]) if len(n) else 9999
    vals = np.unique(v.dropna().to_numpy(dtype=np.float64))
    if len(vals) < 2:
        return float("nan")
    if len(vals) > size:
        stride_idx = np.linspace(0, len(vals) - 1, size).astype(np.int64)
        vals = vals[np.unique(stride_idx)]
    nn = len(vals)
    m = max(int(round(math.sqrt(nn))), 2)
    total = 0.0
    for i in range(nn):
        s_plus = vals[i + m] if i + m < nn else vals[-1]
        s_minus = vals[i - m] if i - m > 0 else vals[0]
        a = 2.0 if (i + m < nn and i - m > 0) else 1.0
        total += math.log(nn / (a * m) * (s_plus - s_minus))
    return total / nn / math.log(2)


def _evaluate_classifier_predictions_impl(truth: pd.Series, pred: pd.Series) -> str:
    """EvaluateClassifierPredictionsAggregation.java:96-117, with the
    classes rendered in SORTED order (the reference iterates a Java
    HashSet union — arbitrary order; sorting is the deterministic
    choice) and the same %d/%d (%.2f%%) line format."""
    t = truth.astype(str)
    p = pred.astype(str)
    labels = sorted(set(t) | set(p))
    tp = {lb: int(((t == lb) & (p == lb)).sum()) for lb in labels}
    fp = {lb: int(((t != lb) & (p == lb)).sum()) for lb in labels}
    fn = {lb: int(((t == lb) & (p != lb)).sum()) for lb in labels}
    correct = sum(tp.values())
    total = correct + sum(fp.values())
    lines = [f"Accuracy: {correct}/{total} ({100.0 * correct / total:.2f}%)"]
    for lb in labels:
        lines.append(f"Class '{lb}'")
        d1 = tp[lb] + fp[lb]
        d2 = tp[lb] + fn[lb]
        p1 = 100.0 * tp[lb] / d1 if d1 else float("nan")
        p2 = 100.0 * tp[lb] / d2 if d2 else float("nan")
        lines.append(f"Precision: {tp[lb]}/{d1} ({p1:.2f}%)")
        lines.append(f"Recall: {tp[lb]}/{d2} ({p2:.2f}%)")
    return "\n".join(lines) + "\n"


FUNCTIONS = {
    "numeric_histogram": pandas_udf(_numeric_histogram_impl, "map<double,double>"),
    "differential_entropy": pandas_udf(_differential_entropy_impl, "double"),
    "evaluate_classifier_predictions": pandas_udf(
        _evaluate_classifier_predictions_impl, "string"
    ),
}
