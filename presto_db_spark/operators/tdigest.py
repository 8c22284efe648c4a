"""True t-digest: variable-width mergeable quantile digest (SURVEY §2.4).

The reference ships a real t-digest (``presto-main/src/main/java/com/
facebook/presto/tdigest/TDigest.java``, surfaced through
``TDigestAggregationFunction.java`` / ``QuantileDigestAggregationFunction
.java``) whose centroids adapt to the data — no domain knowledge needed.
The fixed-grid sketch in ``sketch.py`` honors the merge/error contracts but
requires a known domain; this module closes that gap with the genuine
adaptive structure.

Construction is Dunning's scale-function clustering, vectorized: sort the
batch, take each point's midpoint quantile ``q``, map through the k1 scale
``k(q) = (c / 2π) · asin(2q − 1)``, and cut clusters where ``floor(k)``
changes. Every cluster then spans ≤ 1 k-unit — the same invariant the
sequential merging algorithm maintains — so the classic t-digest accuracy
bound (rank error O(1/c), tightest at the tails) holds, but the whole
build is numpy on Arrow batches, no per-row Python.

Distribution is the real two-phase digest shape that makes this work at
100 TB:

* **partial** — ``mapInPandas`` builds one digest per (group, Arrow batch):
  map-side combine; what crosses the shuffle is ≤ 2c centroids per group
  per partition, never rows.
* **final** — ``groupBy(key).applyInPandas`` concatenates centroid sets and
  re-clusters (merging digests = building a digest over weighted centroid
  means — associative/commutative up to the error bound).

The registry query asserts the accuracy contract in-oracle (HLL-style):
digest quantiles must land inside the exact ``[q−ε, q+ε]`` percentile band
per group, with ε far above the construction's worst case so the booleans
are deterministic under any partition layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import family

QUERIES, ORACLE, _q = family()

COMPRESSION = 200.0  # ≤ ~2c centroids; worst-case rank error ≈ π/c ≈ 0.016
EPS = 0.05  # contract band half-width; ~3× the two-level worst case


def build_digest(
    values: np.ndarray, weights: np.ndarray, compression: float = COMPRESSION
) -> tuple[np.ndarray, np.ndarray]:
    """Cluster (values, weights) into t-digest centroids (means, weights).

    Vectorized k1-scale construction: stable-sort, midpoint quantiles,
    cluster id = floor(k1(q)). Deterministic for a given multiset.
    """
    if len(values) == 0:
        return np.empty(0), np.empty(0)
    order = np.argsort(values, kind="mergesort")
    v = np.asarray(values, dtype=np.float64)[order]
    w = np.asarray(weights, dtype=np.float64)[order]
    total = w.sum()
    qmid = (np.cumsum(w) - 0.5 * w) / total
    qmid = np.clip(qmid, 0.0, 1.0)
    k = compression / (2.0 * np.pi) * np.arcsin(2.0 * qmid - 1.0)
    cid = np.floor(k).astype(np.int64)
    # first index of each cluster run (sorted order ⇒ cid is nondecreasing)
    starts = np.flatnonzero(np.r_[True, cid[1:] != cid[:-1]])
    cw = np.add.reduceat(w, starts)
    cm = np.add.reduceat(v * w, starts) / cw
    return cm, cw


def digest_quantile(means: np.ndarray, weights: np.ndarray, q: float) -> float:
    """Standard t-digest quantile interpolation between centroid centers."""
    if len(means) == 0:
        return float("nan")
    total = weights.sum()
    target = q * total
    cum = np.cumsum(weights)
    centers = cum - weights / 2.0
    if target <= centers[0]:
        return float(means[0])
    if target >= centers[-1]:
        return float(means[-1])
    i = int(np.searchsorted(centers, target))
    lo, hi = centers[i - 1], centers[i]
    t = (target - lo) / (hi - lo) if hi > lo else 0.0
    return float(means[i - 1] + t * (means[i] - means[i - 1]))


def tdigest_agg(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    quantiles: list[float],
    out_cols: list[str],
    compression: float = COMPRESSION,
) -> DataFrame:
    """Two-phase distributed t-digest: per-batch partials → per-key merge.

    Returns one row per key group with a column per requested quantile.
    Map-side combine semantics: only centroid arrays cross the shuffle.
    """
    key_schema = ", ".join(f"{k} string" for k in keys)
    partial_schema = f"{key_schema}, means array<double>, weights array<double>"
    final_schema = key_schema + ", " + ", ".join(f"{c} double" for c in out_cols)

    def partial(it):
        for pdf in it:
            for kv, grp in pdf.groupby(keys, sort=False):
                kv = kv if isinstance(kv, tuple) else (kv,)
                m, w = build_digest(
                    grp[value_col].to_numpy(dtype=np.float64),
                    np.ones(len(grp)),
                    compression,
                )
                row = {k: [str(x)] for k, x in zip(keys, kv)}
                row["means"] = [list(m)]
                row["weights"] = [list(w)]
                yield pd.DataFrame(row)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.concatenate([np.asarray(x) for x in pdf["means"]])
        w = np.concatenate([np.asarray(x) for x in pdf["weights"]])
        m, w = build_digest(m, w, compression)
        row = {k: [pdf[k].iloc[0]] for k in keys}
        for qq, c in zip(quantiles, out_cols):
            row[c] = [digest_quantile(m, w, qq)]
        return pd.DataFrame(row)

    parts = df.select(*keys, value_col).mapInPandas(partial, schema=partial_schema)
    return parts.groupBy(*keys).applyInPandas(merge, schema=final_schema)


# Kept port (keep-rule 2d, helper coverage): tdigest_agg.
@_q(
    "sketch_tdigest",
    """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS ok_p25, TRUE AS ok_p50, TRUE AS ok_p75,
       TRUE AS ok_p90, TRUE AS ok_p99
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
)
def sketch_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive t-digest quantiles with an in-oracle accuracy contract.

    Per-priority digests of ``o_totalprice`` (an unknown, right-skewed
    domain the fixed grid can't bin a priori); each digest estimate must
    fall inside the exact percentile band ``[q−ε, q+ε]``. The exact band is
    computed with Spark's exact ``percentile`` only to *check* the digest —
    the digest itself never sees it.
    """
    (orders,) = load_tables(spark, sf_dir, "orders")
    qs = [0.25, 0.50, 0.75, 0.90, 0.99]
    est_cols = [f"est_p{int(q * 100)}" for q in qs]
    est = tdigest_agg(orders, ["o_orderpriority"], "o_totalprice", qs, est_cols)

    lo = [max(q - EPS, 0.0) for q in qs]
    hi = [min(q + EPS, 1.0) for q in qs]
    band = orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.expr(
            "percentile(o_totalprice, array({}))".format(",".join(map(str, lo)))
        ).alias("lo"),
        F.expr(
            "percentile(o_totalprice, array({}))".format(",".join(map(str, hi)))
        ).alias("hi"),
    )
    joined = est.join(band, "o_orderpriority")
    checks = [
        (F.col(c) >= F.col("lo")[i]) & (F.col(c) <= F.col("hi")[i])
        for i, c in enumerate(est_cols)
    ]
    out_names = ["ok_p25", "ok_p50", "ok_p75", "ok_p90", "ok_p99"]
    # cut the join before the ORDER BY, whose range sampler would run the
    # digest merge stage a second time (the shared-stage rule in ``catalog``)
    return (
        joined.select(
            "o_orderpriority",
            "n",
            *[c.alias(nm) for c, nm in zip(checks, out_names)],
        )
        .localCheckpoint(eager=False)
        .orderBy("o_orderpriority")
    )
