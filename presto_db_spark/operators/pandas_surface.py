"""UDF/UDAF surface via Arrow-batched Pandas (SURVEY.md §2.11) + analytics.

The reference's plugin-function surface (``presto-spi/.../spi/Plugin.java:54``
``getFunctions()``; annotation parsers for ``@ScalarFunction``/
``@AggregationFunction``) maps to Spark's three Python extension points,
each exercised here WITH an exact SQL oracle so the semantics are
value-checked, not just smoke-tested:

* vectorized scalar ``@pandas_udf`` — Arrow columnar batches, the 10-100×
  path over row-at-a-time UDFs;
* grouped-map ``applyInPandas`` — the UDAF/table-function analog (whole
  group in, whole group out);
* (``applyInPandasWithState`` is exercised in streaming/pipeline.py.)

Plus two event-analytics staples: retention cohorts and an equi-width
numeric_histogram (``NumericHistogram.java`` — Presto's is a streaming
merge whose bucket boundaries are nondeterministic; the equi-width variant
keeps the contract deterministic so both engines agree exactly).

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table, load_tables
from ..engine import sql_entry
from ..registry import family

QUERIES, ORACLE, _q = family()


# Kept port (keep-rule 2a, surface SQL does not reach): a scalar pandas UDF over Arrow batches.
@_q(
    "udf_vectorized_scalar",
    """
SELECT l_orderkey, l_linenumber,
       round(ln(1 + l_extendedprice) * 2, 6) AS log_feat,
       round(1 / (1 + exp(-(l_quantity - 25) / 10)), 6) AS sigmoid_q
FROM lineitem WHERE l_orderkey < 500
""",
)
def udf_vectorized_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf (numpy math on whole batches)."""
    import numpy as np

    @F.pandas_udf(T.DoubleType())
    def log_feat(x: pd.Series) -> pd.Series:
        return np.round(np.log1p(x) * 2, 6)

    @F.pandas_udf(T.DoubleType())
    def sigmoid(x: pd.Series) -> pd.Series:
        return np.round(1.0 / (1.0 + np.exp(-(x - 25) / 10)), 6)

    (li,) = load_tables(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 500).select(
        "l_orderkey",
        "l_linenumber",
        log_feat("l_extendedprice").alias("log_feat"),
        sigmoid("l_quantity").alias("sigmoid_q"),
    )


# Kept port (keep-rule 2a, surface SQL does not reach): a grouped-map applyInPandas UDF.
@_q(
    "udf_grouped_zscore",
    """
SELECT l_orderkey, l_linenumber,
       round((l_quantity - avg(l_quantity) OVER w)
             / stddev_pop(l_quantity) OVER w, 6) AS z
FROM lineitem WHERE l_orderkey < 2000
WINDOW w AS (PARTITION BY l_returnflag)
""",
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-group z-score normalization — the
    whole group arrives as one pandas frame (the custom-UDAF/table-function
    shape). Oracle: the equivalent window expression."""
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("z", T.DoubleType()),
        ]
    )

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        q = pdf["l_quantity"]
        return pd.DataFrame(
            {
                "l_orderkey": pdf["l_orderkey"],
                "l_linenumber": pdf["l_linenumber"],
                "z": ((q - q.mean()) / q.std(ddof=0)).round(6),
            }
        )

    (li,) = load_tables(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") < 2000)
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
        .groupBy("l_returnflag")
        .applyInPandas(zscore, schema)
    )


sql_entry(
    _q, "events_retention",
    """
WITH first AS (
  SELECT user_id, min(date_trunc('day', ts)) AS d0 FROM events GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
)
SELECT CAST(first.d0 AS DATE) AS cohort_day,
       CAST(date_diff('day', first.d0, act.d) AS INTEGER) AS day_offset,
       CAST(count(DISTINCT act.user_id) AS BIGINT) AS n_active
FROM act JOIN first ON act.user_id = first.user_id
GROUP BY first.d0, date_diff('day', first.d0, act.d)
""",
)


@_q(
    "agg_numeric_histogram",
    """
WITH b AS (
  SELECT l_returnflag, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
  FROM lineitem GROUP BY l_returnflag
), binned AS (
  SELECT l.l_returnflag,
         least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 10)) AS INTEGER), 9)
           AS bucket
  FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
)
SELECT l_returnflag,
       array_to_string(list(bucket ORDER BY bucket), ',') AS buckets,
       array_to_string(list(cnt ORDER BY bucket), ',') AS counts
FROM (SELECT l_returnflag, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM binned GROUP BY l_returnflag, bucket)
GROUP BY l_returnflag
""",
)
def agg_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """numeric_histogram with deterministic equi-width buckets (two-pass:
    min/max then bin) — canonicalized to sorted bucket/count arrays."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    binned = li.join(bounds, "l_returnflag").select(
        "l_returnflag",
        F.least(
            F.floor(
                (F.col("l_extendedprice") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10)
            ).cast("int"),
            F.lit(9),
        ).alias("bucket"),
    )
    counts = binned.groupBy("l_returnflag", "bucket").agg(F.count("*").alias("cnt"))
    es = F.array_sort(F.collect_list(F.struct("bucket", "cnt")))
    return counts.groupBy("l_returnflag").agg(
        F.array_join(
            F.transform(es, lambda e: e.bucket.cast("string")), ","
        ).alias("buckets"),
        F.array_join(
            F.transform(es, lambda e: e.cnt.cast("string")), ","
        ).alias("counts"),
    )


# --- cogrouped applyInPandas (r11w wave) -------------------------------------
# The FOURTH Python extension point (module docstring lists three):
# ``groupBy(k).cogroup(other.groupBy(k)).applyInPandas`` — two frames
# co-partitioned on the key, each group pair handed to pandas together.
# This is Spark's primitive for custom per-key MERGE logic the built-in
# joins can't express (bespoke as-of rules, per-entity reconciliation);
# the per-user "views before first purchase" funnel metric keeps the
# pandas body honest (an ordering-sensitive cross-frame rule) while
# staying SQL-expressible for the oracle.

_COGROUP_SQL = """
WITH u AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type IN ('view', 'purchase')
), p AS (
  SELECT user_id, min(ts) AS fp FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
), v AS (
  SELECT user_id, ts FROM events WHERE event_type = 'view'
)
SELECT u.user_id,
       (p.user_id IS NOT NULL) AS converted,
       CAST(count(CASE WHEN v.ts IS NOT NULL
                       AND (p.fp IS NULL OR v.ts < p.fp) THEN 1 END) AS BIGINT)
         AS n_views_before,
       CAST(epoch_us(p.fp) AS BIGINT) AS first_purchase_us
FROM u
LEFT JOIN p ON p.user_id = u.user_id
LEFT JOIN v ON v.user_id = u.user_id
GROUP BY u.user_id, p.user_id, p.fp
ORDER BY u.user_id
"""


@_q("udf_cogrouped_merge", _COGROUP_SQL)
def udf_cogrouped_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: views and purchases co-partitioned on
    user_id, each user's two pandas frames merged by custom logic
    (views strictly before the first purchase; non-converters keep all
    views). One shuffle per side on user_id — the same exchange a join
    would pay — with the merge rule in an Arrow-batched pandas body
    instead of join predicates. Integer/epoch-microsecond outputs keep
    the oracle exact."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("converted", T.BooleanType()),
            T.StructField("n_views_before", T.LongType()),
            T.StructField("first_purchase_us", T.LongType()),
        ]
    )

    def merge(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # Column presence is plan-dependent: under a count()-only sink
        # Spark prunes ts out of the cogroup inputs (the UDF still runs,
        # only row counts matter), and an empty side arrives without its
        # schema columns. When a NON-EMPTY side arrives pruned, the real
        # values are uncomputable — emit nulls rather than fabricating
        # plausible-but-wrong numbers (ADVICE r11: the old fallback was
        # correct only because pruning implies the values are never
        # consumed, an invariant nothing asserted). Row count per key is
        # unchanged, so count-only sinks stay exact.
        pruned = (len(right) and "ts" not in right.columns) or (
            len(left) and "ts" not in left.columns
        )
        if pruned:
            converted, n_before, fp_us = None, None, None
        else:
            converted = len(right) > 0
            if converted:
                fp = right["ts"].min()
                n_before = int((left["ts"] < fp).sum()) if len(left) else 0
                fp_us = int(fp.value // 1000)
            else:
                n_before = len(left)
                fp_us = None
        return pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "converted": [converted],
                "n_views_before": [n_before],
                "first_purchase_us": [fp_us],
            }
        )

    res = (
        views.groupBy("user_id")
        .cogroup(purch.groupBy("user_id"))
        .applyInPandas(merge, schema)
    )
    # cut before the ORDER BY, whose range sampler would run the merge
    # stage a second time (the shared-stage rule in ``catalog``)
    return res.localCheckpoint(eager=False).orderBy("user_id")
