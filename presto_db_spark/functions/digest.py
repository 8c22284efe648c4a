"""SQL-callable t-digest surface — the reference's TDigest function names
through ``Engine.sql``.

Mirrors ``presto-main/src/main/java/com/facebook/presto/operator/scalar/
TDigestFunctions.java`` (``value_at_quantile``:35, ``values_at_quantiles``
:43, ``quantile_at_value``:56) and the ``tdigest_agg`` / ``merge``
aggregations (``presto-main/.../aggregation/TDigestAggregationFunction
.java``), so a pasted Presto digest query runs:

    SELECT o_orderpriority,
           value_at_quantile(tdigest_agg(o_totalprice), 0.5)
    FROM orders GROUP BY o_orderpriority

Implementation: the true k1-scale t-digest from
:mod:`operators.tdigest` (vectorized clustering, rank-error ≈ π/c),
exposed as Arrow-batched pandas UDFs — ``tdigest_agg`` and ``merge`` are
GROUPED_AGG pandas UDFs (map-side partials combine in Spark's aggregation
machinery; only the serialized centroid state crosses the shuffle),
the quantile accessors are scalar pandas UDFs. The digest VALUE is a
``binary`` column (Presto's tdigest type is likewise an opaque serialized
sketch): little-endian count + centroid means + weights.

Scale: the aggregation state is ≤ ~2·compression centroids (~6.4 KB at
c=200) regardless of input size — the whole point of the sketch; groups
aggregate map-side first, so 100 TB of doubles reduce to kilobytes per
group before the shuffle.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

from ..operators.tdigest import COMPRESSION, build_digest, digest_quantile
from .compat import pandas_udf


def serialize_digest(means: np.ndarray, weights: np.ndarray) -> bytes:
    n = len(means)
    return (
        struct.pack("<q", n)
        + np.asarray(means, dtype="<f8").tobytes()
        + np.asarray(weights, dtype="<f8").tobytes()
    )


def deserialize_digest(b: bytes) -> tuple[np.ndarray, np.ndarray]:
    (n,) = struct.unpack_from("<q", b, 0)
    means = np.frombuffer(b, dtype="<f8", count=n, offset=8)
    weights = np.frombuffer(b, dtype="<f8", count=n, offset=8 + 8 * n)
    return means, weights


def _tdigest_agg_impl(v: pd.Series) -> bytes:
    vals = v.dropna().to_numpy(dtype=np.float64)
    m, w = build_digest(vals, np.ones(len(vals)), COMPRESSION)
    return serialize_digest(m, w)


def _qdigest_agg_w_impl(v: pd.Series, w: pd.Series) -> bytes:
    """Weighted qdigest_agg(x, w) (QuantileDigestAggregationFunction
    weighted form): weights fold straight into the centroid clustering."""
    mask = v.notna() & w.notna()
    vals = v[mask].to_numpy(dtype=np.float64)
    wts = w[mask].to_numpy(dtype=np.float64)
    m, ws = build_digest(vals, wts, COMPRESSION)
    return serialize_digest(m, ws)


def _merge_impl(d: pd.Series) -> bytes:
    parts = [deserialize_digest(b) for b in d if b is not None]
    if not parts:
        return serialize_digest(np.empty(0), np.empty(0))
    m = np.concatenate([p[0] for p in parts])
    w = np.concatenate([p[1] for p in parts])
    m, w = build_digest(m, w, COMPRESSION)
    return serialize_digest(m, w)


def _value_at_quantile_impl(d: pd.Series, q: pd.Series) -> pd.Series:
    out = []
    for b, qq in zip(d, q):
        if b is None or qq is None:
            out.append(None)
            continue
        m, w = deserialize_digest(b)
        out.append(digest_quantile(m, w, float(qq)))
    return pd.Series(out, dtype="float64")


def _values_at_quantiles_impl(d: pd.Series, qs: pd.Series) -> pd.Series:
    out = []
    for b, qlist in zip(d, qs):
        if b is None or qlist is None:
            out.append(None)
            continue
        m, w = deserialize_digest(b)
        out.append([digest_quantile(m, w, float(q)) for q in qlist])
    return pd.Series(out)


def _quantiles_at_values_impl(d: pd.Series, xs: pd.Series) -> pd.Series:
    """quantiles_at_values(digest, array(v)) — vector form of the
    inverse accessor (QuantileDigestFunctions.java)."""
    out = []
    for b, xlist in zip(d, xs):
        if b is None or xlist is None:
            out.append(None)
            continue
        ranks = _quantile_at_value_impl(
            pd.Series([b] * len(xlist)), pd.Series(list(xlist))
        )
        out.append([None if pd.isna(r) else float(r) for r in ranks])
    return pd.Series(out)


def _scale_qdigest_impl(d: pd.Series, f: pd.Series) -> pd.Series:
    """scale_qdigest(digest, factor): multiply every centroid weight
    (QuantileDigestFunctions.java scale_qdigest — rank queries are
    unchanged, merge contributions scale)."""
    out = []
    for b, factor in zip(d, f):
        if b is None or factor is None:
            out.append(None)
            continue
        if factor <= 0:
            raise ValueError("scale factor should be positive")
        m, w = deserialize_digest(b)
        out.append(serialize_digest(m, w * float(factor)))
    return pd.Series(out)


def _quantile_at_value_impl(d: pd.Series, x: pd.Series) -> pd.Series:
    """Inverse accessor: the estimated rank (0..1) of a value — linear
    interpolation between centroid centers (TDigestFunctions.java:56)."""
    out = []
    for b, xv in zip(d, x):
        if b is None or xv is None:
            out.append(None)
            continue
        means, weights = deserialize_digest(b)
        if len(means) == 0:
            out.append(None)
            continue
        xv = float(xv)
        total = weights.sum()
        cum = np.cumsum(weights)
        centers = cum - weights / 2.0
        if xv <= means[0]:
            out.append(0.0 if xv < means[0] else float(centers[0] / total))
            continue
        if xv >= means[-1]:
            out.append(1.0 if xv > means[-1] else float(centers[-1] / total))
            continue
        i = int(np.searchsorted(means, xv, side="right"))
        lo, hi = means[i - 1], means[i]
        t = (xv - lo) / (hi - lo) if hi > lo else 0.0
        rank = centers[i - 1] + t * (centers[i] - centers[i - 1])
        out.append(float(rank / total))
    return pd.Series(out, dtype="float64")


FUNCTIONS = {
    "tdigest_agg": pandas_udf(_tdigest_agg_impl, "binary"),
    # qdigest surface (QuantileDigestFunctions.java /
    # QuantileDigestAggregationFunction.java): both Presto quantile
    # sketches serve the same accessors here — the value IS a t-digest
    # (documented substitution: rank-error-bounded vs qdigest's
    # value-error bound; same mergeable-sketch lifecycle). The weighted
    # 2-arg form is qdigest_agg_w via a dialect arity template; the
    # 3-arg accuracy parameter maps to the fixed compression.
    "qdigest_agg": pandas_udf(_tdigest_agg_impl, "binary"),
    "qdigest_agg_w": pandas_udf(_qdigest_agg_w_impl, "binary"),
    "merge_tdigest": pandas_udf(_merge_impl, "binary"),
    # Presto spells the digest-merging aggregation just `merge` (dispatch
    # on the tdigest argument type); Spark has no overload-by-type for
    # UDFs, so `merge` maps to the tdigest merge directly.
    "merge": pandas_udf(_merge_impl, "binary"),
    "value_at_quantile": pandas_udf(_value_at_quantile_impl, "double"),
    "values_at_quantiles": pandas_udf(_values_at_quantiles_impl, "array<double>"),
    "quantile_at_value": pandas_udf(_quantile_at_value_impl, "double"),
    "quantiles_at_values": pandas_udf(_quantiles_at_values_impl, "array<double>"),
    "scale_qdigest": pandas_udf(_scale_qdigest_impl, "binary"),
}
