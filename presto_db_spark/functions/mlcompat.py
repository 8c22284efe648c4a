"""Presto ML function surface (``presto-ml``) — SQL-compat layer.

The reference ships ``features(d1..dN) -> map(bigint,double)``
(``presto-ml/src/main/java/com/facebook/presto/ml/MLFeaturesFunctions.java``),
the ``learn_classifier`` / ``learn_varchar_classifier`` /
``learn_regressor`` (+ ``learn_libsvm_*``) aggregates
(``LearnClassifierAggregation.java``, ``LearnRegressorAggregation.java``)
and the ``classify`` / ``regress`` scalars (``MLFunctions.java:41-73``)
over an opaque serialized model value.

Design notes (Spark-first, not a port):

* ``features`` is rewritten by the dialect to a pure JVM ``map(...)``
  constructor — no Python.
* The reference's learn aggregates accumulate the ENTIRE training set in
  aggregation state and hand it to in-process libsvm
  (``LearnState.java`` holds every row; ``AbstractSvmModel`` trains
  single-node) — collect-then-train is the reference's own execution
  model, so the SQL-compat path here mirrors it: ``learn_*(l, f)`` is
  rewritten to ``ml_learn_*(collect_list(struct(l, f)))`` and trains on
  the gathered list. For DISTRIBUTED training use the operators in
  :mod:`presto_db_spark.operators.ml` (exact-sum OLS / centroid means via
  ``groupBy`` — no driver materialization).
* Learner substitution (documented deviation): the reference wraps
  libsvm C-SVC / epsilon-SVR, which is seed- and library-version
  dependent. Here the classifier is a deterministic NEAREST-CENTROID
  model and the regressor exact least squares — same API, same model
  lifecycle (train → opaque model value → apply), reproducible anywhere.
  The reference's own product-test golden pairs
  (``sql-tests/testcases/ml_functions/``) pass identically.
* The model value is a JSON string (the reference uses an opaque
  VARBINARY slice; a JSON VARCHAR is the Spark-friendly equivalent —
  hashable, cacheable, broadcastable).
* ``classify`` always returns VARCHAR. Presto types the result
  ``bigint`` or ``varchar`` via its ``Classifier<T>`` parametric type,
  which a Spark UDF registration cannot express; the printed value is
  identical (golden pairs compare equal), ``CAST(... AS BIGINT)`` where
  a numeric label is needed downstream.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import types as T

from .compat import pandas_udf, python_udf


def _feat_vec(f: dict | None, dims: list[str]) -> list[float]:
    f = f or {}
    return [float(f.get(int(k), f.get(k, 0.0)) or 0.0) for k in dims]


def ml_learn_classifier(rows: list, label_kind: str) -> str:
    """Nearest-centroid classifier over (label, features-map) rows:
    centroid = per-label mean of every feature dimension seen anywhere
    in the training set (absent key = 0.0, as a sparse map implies)."""
    dims: set[int] = set()
    for r in rows:
        if r["f"]:
            dims.update(int(k) for k in r["f"].keys())
    dlist = sorted(dims)
    sums: dict[str, list[float]] = {}
    counts: dict[str, int] = {}
    for r in rows:
        lab = r["l"]
        if lab is None:
            continue
        v = _feat_vec(r["f"], dlist)
        acc = sums.setdefault(lab, [0.0] * len(dlist))
        for i, x in enumerate(v):
            acc[i] += x
        counts[lab] = counts.get(lab, 0) + 1
    centroids = {
        lab: [s / counts[lab] for s in acc] for lab, acc in sums.items()
    }
    return json.dumps(
        {
            "t": f"classifier<{label_kind}>",
            "algo": "nearest-centroid",
            "dims": dlist,
            "centroids": centroids,
        },
        sort_keys=True,
    )


def ml_learn_regressor(rows: list) -> str:
    """Exact least-squares regressor (normal equations, solved with
    Fraction-free Gaussian elimination in float — the training set was
    already materialized, parity with LearnRegressorAggregation)."""
    dims: set[int] = set()
    for r in rows:
        if r["f"]:
            dims.update(int(k) for k in r["f"].keys())
    dlist = sorted(dims)
    n = len(dlist) + 1  # + intercept
    xtx = [[0.0] * n for _ in range(n)]
    xty = [0.0] * n
    for r in rows:
        if r["l"] is None:
            continue
        y = float(r["l"])
        x = _feat_vec(r["f"], dlist) + [1.0]
        for i in range(n):
            xty[i] += x[i] * y
            for j in range(n):
                xtx[i][j] += x[i] * x[j]
    # Gaussian elimination with partial pivoting; singular dims get 0.
    w = [0.0] * n
    a = [row[:] + [xty[i]] for i, row in enumerate(xtx)]
    piv = list(range(n))
    for col in range(n):
        p = max(range(col, n), key=lambda r2: abs(a[r2][col]))
        if abs(a[p][col]) < 1e-12:
            continue
        a[col], a[p] = a[p], a[col]
        for r2 in range(col + 1, n):
            m = a[r2][col] / a[col][col]
            for c in range(col, n + 1):
                a[r2][c] -= m * a[col][c]
    for col in range(n - 1, -1, -1):
        if abs(a[col][col]) < 1e-12:
            w[col] = 0.0
            continue
        s = a[col][n] - sum(a[col][c] * w[c] for c in range(col + 1, n))
        w[col] = s / a[col][col]
    del piv
    return json.dumps(
        {"t": "regressor", "algo": "ols", "dims": dlist,
         "w": w[:-1], "b": w[-1]},
        sort_keys=True,
    )


def ml_classify_apply(f: dict | None, model: str | None) -> str | None:
    if model is None:
        return None
    m = json.loads(model)
    if not str(m.get("t", "")).startswith("classifier"):
        raise ValueError(f"model is not a classifier: {m.get('t')}")
    dlist = m["dims"]
    x = _feat_vec(f, dlist)
    best = None
    for lab in sorted(m["centroids"]):
        c = m["centroids"][lab]
        d2 = sum((xi - ci) ** 2 for xi, ci in zip(x, c))
        if best is None or d2 < best[0] - 1e-12:
            best = (d2, lab)
    return None if best is None else best[1]


def ml_regress_apply(f: dict | None, model: str | None) -> float | None:
    if model is None:
        return None
    m = json.loads(model)
    if m.get("t") != "regressor":
        raise ValueError(f"model is not a regressor: {m.get('t')}")
    x = _feat_vec(f, m["dims"])
    v = m["b"] + sum(wi * xi for wi, xi in zip(m["w"], x))
    return v if math.isfinite(v) else None


# --- Arrow-batched SQL apply path -------------------------------------------
# classify()/regress() pasted over a big fact table must NOT run per-row
# Python (MLFunctions.java applies the deserialized model JVM-side). The
# registered UDFs below are pandas_udfs: one Arrow batch per task chunk,
# the model JSON parsed ONCE per distinct model string per batch, and the
# nearest-centroid argmin / OLS dot product computed as numpy matrix ops.
# (The fully JVM-side broadcast-centroid join remains in operators/ml.py
# for the groupwise-model pipeline; this is the scalar-call surface.)

def _parsed_classifier(model: str):
    import numpy as np

    m = json.loads(model)
    if not str(m.get("t", "")).startswith("classifier"):
        raise ValueError(f"model is not a classifier: {m.get('t')}")
    labs = sorted(m["centroids"])
    cmat = np.array([m["centroids"][lab] for lab in labs], dtype=np.float64)
    return m["dims"], labs, cmat


def _ml_classify_batch(fs, models):
    import numpy as np
    import pandas as pd

    out = [None] * len(fs)
    cache: dict[str, tuple] = {}
    for model, idx in pd.Series(range(len(models))).groupby(
        models.reset_index(drop=True)
    ):
        dims, labs, cmat = cache.setdefault(model, _parsed_classifier(model))
        rows = list(idx)
        xs = np.array(
            [_feat_vec(fs.iloc[i], dims) for i in rows], dtype=np.float64
        )
        if not labs:
            continue
        # ||x-c||² per (row, centroid); ties resolved toward the first
        # (sorted) label within 1e-12, matching the scalar path
        d2 = ((xs[:, None, :] - cmat[None, :, :]) ** 2).sum(axis=2)
        shifted = d2 - d2.min(axis=1, keepdims=True)
        first_within = (shifted <= 1e-12).argmax(axis=1)
        for i, k in zip(rows, first_within):
            out[i] = labs[k]
    return pd.Series(out, dtype=object)


def _ml_regress_batch(fs, models):
    import numpy as np
    import pandas as pd

    out = [None] * len(fs)
    cache: dict[str, tuple] = {}

    def parse(model):
        m = json.loads(model)
        if m.get("t") != "regressor":
            raise ValueError(f"model is not a regressor: {m.get('t')}")
        return m["dims"], np.array(m["w"], dtype=np.float64), float(m["b"])

    for model, idx in pd.Series(range(len(models))).groupby(
        models.reset_index(drop=True)
    ):
        dims, w, b = cache.setdefault(model, parse(model))
        rows = list(idx)
        xs = np.array(
            [_feat_vec(fs.iloc[i], dims) for i in rows], dtype=np.float64
        )
        vs = xs @ w + b if len(dims) else np.full(len(rows), b)
        for i, v in zip(rows, vs):
            out[i] = float(v) if math.isfinite(v) else None
    return pd.Series(out, dtype=object)


# The learn aggregates' input is inferred from the rewritten SQL:
# array<struct<l: string, f: map<bigint, double>>>.
FUNCTIONS = {
    "ml_learn_classifier": python_udf(ml_learn_classifier, T.StringType()),
    "ml_learn_regressor": python_udf(ml_learn_regressor, T.StringType()),
    # Arrow-batched apply path: a pasted classify()/regress() over a fact
    # table runs vectorized (ArrowEvalPython), never row-at-a-time
    # BatchEvalPython — plan-asserted in tests/test_ml.py.
    "ml_classify_apply": pandas_udf(_ml_classify_batch, T.StringType()),
    "ml_regress_apply": pandas_udf(_ml_regress_batch, T.DoubleType()),
}
