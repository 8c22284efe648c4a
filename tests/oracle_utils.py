"""Local replica of the driver's correctness gate.

Runs a Spark query and its DuckDB oracle over the same parquet tables and
compares them the way the driver does: the oracle result is fetched via
``cur.df()`` (the driver's pandas path — NOT ``fetchall()``, which yields
Python ints and hides pandas dtype decay: DuckDB HUGEINT / DECIMAL columns
become float64 under ``df()``, so an oracle that types a count as HUGEINT
compares as ``37.0`` against Spark's ``37`` and hash-mismatches in the
driver even though ``fetchall()`` would return equal Python ints); the
Spark result is fetched via ``toPandas()`` for the same reason. Both are
canonicalized driver-style: sort columns by name, ``sort_values`` over all
columns (this is the step that dies with ``TypeError: unhashable type:
'list'`` on array-valued columns — reproduced here so driver-incompatible
shapes fail locally first), then compared at FULL float precision AND
strict numeric kind (an int may never equal a float — the driver hashes
``37`` and ``37.0`` differently; any rounding or casting must happen inside
the query on BOTH sides, never in this gate).
"""

from __future__ import annotations

import datetime
import decimal
import math
from typing import Any

import duckdb
import numpy as np
import pandas as pd

from presto_db_spark.catalog import TABLES


def _df_rows(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Extract (cols, rows) from a pandas frame, PRESERVING numpy scalar
    dtypes so kind-strict comparison sees what the driver's hasher sees."""
    cols = [str(c) for c in df.columns]
    rows = [tuple(r) for r in df.itertuples(index=False, name=None)]
    return cols, rows


def run_oracle(sql: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """Run the DuckDB oracle through the driver's pandas path (``cur.df()``)
    so dtype decay (HUGEINT/DECIMAL -> float64) is visible locally."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(sql)
    out = cur.df()
    con.close()
    return _df_rows(out)


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    """Fetch a Spark result through ``toPandas()`` — the driver's path —
    so null-int decay / Decimal objects surface exactly as the driver sees
    them (a ``collect()`` of Python ints would mask both)."""
    return _df_rows(df.toPandas())


def driver_canon(cols: list[str], rows: list[tuple]) -> pd.DataFrame:
    """Canonicalize a result the way the driver does: column-name sort,
    then a pandas ``sort_values`` over every column.  Raises ``TypeError``
    on list/dict/ndarray cells exactly like the driver's canonicalizer."""
    df = pd.DataFrame(rows, columns=cols, dtype=object)
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _kind(v: Any) -> str:
    """Classify a cell into the dtype kind the driver's value hash is
    sensitive to.  int vs float vs Decimal are DISTINCT kinds: pandas
    object cells ``37``, ``37.0`` and ``Decimal('37')`` hash differently,
    which is exactly the HUGEINT-oracle failure class."""
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date, np.datetime64)):
        return "temporal"
    if isinstance(v, str):
        return "str"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    return "other"


def _cell_eq(a: Any, b: Any) -> bool:
    ka, kb = _kind(a), _kind(b)
    if ka != kb:
        return False  # kind drift (int vs float etc.) = driver hash mismatch
    if ka == "null":
        return True
    if ka == "float":
        return float(a) == float(b)  # exact: the driver hashes full precision
    if ka == "temporal":
        return pd.Timestamp(a) == pd.Timestamp(b)
    if ka == "bytes":
        return bytes(a) == bytes(b)
    return bool(a == b)


def compare(
    spark_cols: list[str],
    spark_rows: list[tuple],
    ora_cols: list[str],
    ora_rows: list[tuple],
) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    if sorted(spark_cols) != sorted(ora_cols):
        problems.append(
            f"columns differ: spark={sorted(spark_cols)} oracle={sorted(ora_cols)}"
        )
        return problems
    if len(spark_rows) != len(ora_rows):
        problems.append(
            f"row count differs: spark={len(spark_rows)} oracle={len(ora_rows)}"
        )
        return problems
    try:
        a = driver_canon(spark_cols, spark_rows)
    except (TypeError, ValueError) as e:
        return [f"spark result breaks the driver canonicalizer: {e}"]
    try:
        b = driver_canon(ora_cols, ora_rows)
    except (TypeError, ValueError) as e:
        return [f"oracle result breaks the driver canonicalizer: {e}"]
    bad: list[str] = []
    for i in range(len(a)):
        ra, rb = a.iloc[i], b.iloc[i]
        mism = [
            c for c in a.columns if not _cell_eq(ra[c], rb[c])
        ]
        if mism:
            detail = ", ".join(
                f"{c}: spark={ra[c]!r}({_kind(ra[c])}) "
                f"oracle={rb[c]!r}({_kind(rb[c])})"
                for c in mism[:4]
            )
            bad.append(f"row {i}: {detail}")
            if len(bad) >= 5:
                break
    if bad:
        problems.append("values differ (full-precision, kind-strict): " + "; ".join(bad))
    return problems


_PYTHON_NODE_MARKS = ("Python", "InPandas", "InArrow")


def sampled_python_nodes(spark, df) -> list[str]:
    """Python nodes that an ORDER BY's range sampler runs a second time.

    A ``rangepartitioning`` exchange first runs a sampling job over its
    child stage, then runs that stage again for the shuffle, so a Python
    node in that stage computes twice. The walk stays within the stage: it
    stops at every exchange and at ``ExistingRDD`` (a ``localCheckpoint``
    cut). ``df`` is planned again with AQE off, so nothing executes and the
    static plan shows every exchange AQE would otherwise re-plan at run
    time."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plan = df.select("*")._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set(key, prev)

    def children(node):
        seq = node.children()
        return [seq.apply(i) for i in range(seq.size())]

    def stage_python(node) -> list[str]:
        found = []
        for child in children(node):
            name = child.nodeName()
            if "Exchange" in name or "ExistingRDD" in name:
                continue
            if any(m in name for m in _PYTHON_NODE_MARKS):
                found.append(name)
            found += stage_python(child)
        return found

    out: list[str] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Exchange" and str(
            node.outputPartitioning()
        ).startswith("rangepartitioning"):
            out += stage_python(node)
        stack += children(node)
    return out


def check_query(spark, name: str, fn, sql: str | None, sf_dir: str) -> list[str]:
    df = fn(spark, sf_dir)
    sampled = sampled_python_nodes(spark, df)
    if sampled:
        return [
            f"python nodes {sampled} run twice: below a range exchange whose "
            "sampler re-runs their stage; cut with localCheckpoint(eager=False)"
        ]
    s_cols, s_rows = spark_rows(df)
    if sql is None:
        # rows-only check, but still enforce a driver-canonicalizable shape
        try:
            driver_canon(s_cols, s_rows)
        except (TypeError, ValueError) as e:
            return [f"spark result breaks the driver canonicalizer: {e}"]
        return []
    ora_cols, ora_rows = run_oracle(sql, sf_dir)
    return compare(s_cols, s_rows, ora_cols, ora_rows)


def names_between(
    queries: dict, first: str | None = None, stop: str | None = None
) -> list[str]:
    """Sorted names of ``queries`` registered from ``first`` up to, not
    including, ``stop``. Splits one family module's entries over several
    parametrized tests, each entry checked once."""
    names = list(queries)
    lo = names.index(first) if first else 0
    hi = names.index(stop) if stop else len(names)
    return sorted(names[lo:hi])
