"""Scalar + aggregate function corpus, by family.

Mirrors the reference's function library layers (SURVEY.md §2.8/§2.4):
registration point ``pm/metadata/BuiltInFunctionNamespaceManager.java:433-700``,
scalar impls under ``pm/operator/scalar/`` (StringFunctions.java,
DateTimeFunctions.java, MathFunctions.java, JsonFunctions.java, Array*.java,
conditional special forms) and aggregate impls under
``pm/operator/aggregation/`` (variance/covariance/correlation, min_by/max_by,
bool_and/bool_or, approx_*). Each query exercises a family end-to-end
through Spark expressions with a DuckDB oracle in the matching dialect.

Dialect notes (cross-engine determinism):
* day-of-week uses ISO numbering (Spark ``weekday()+1`` == DuckDB ``isodow``)
* float aggregates use low-magnitude columns (quantity/discount) + rounding
* ``min_by``/``max_by`` tie-break by folding the key into an exact BIGINT
* approx_* functions are engine-specific by construction → no oracle entry
  (driver records the weaker rows-only check; the exact counterparts are
  oracle-checked here and in tpch_q16).

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..engine import sql_entry
from ..registry import family

QUERIES, ORACLE, _q = family()


# --- string family ----------------------------------------------------------

sql_entry(
    _q, "func_string",
    """
SELECT p_partkey,
       length(p_name) AS len,
       upper(p_name) AS up,
       lower(p_brand) AS lo,
       substr(p_name, 1, 5) AS sub,
       replace(p_name, ' ', '_') AS repl,
       reverse(p_type) AS rev,
       lpad(p_brand, 10, '*') AS pad,
       split_part(p_name, ' ', 1) AS first_word,
       CAST(strpos(p_name, 'e') AS INTEGER) AS pos_e,
       concat(p_brand, ':', p_type) AS cat,
       trim('  x  ') AS trimmed,
       CAST(levenshtein(p_brand, 'Brand#1') AS INTEGER) AS lev
FROM part
""",
)


# --- regex family -----------------------------------------------------------

@_q(
    "func_regex",
    """
SELECT doc_id,
       regexp_matches(text, 'join.*scan') AS has_seq,
       regexp_extract(text, '([a-z]+) join', 1) AS before_join,
       regexp_replace(text, '\\s+', '_', 'g') AS squashed,
       CAST(len(regexp_split_to_array(text, '\\s+')) AS INTEGER) AS n_tokens
FROM documents WHERE doc_id < 50
""",
)
def func_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return docs.filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.col("text").rlike("join.*scan").alias("has_seq"),
        F.regexp_extract("text", r"([a-z]+) join", 1).alias("before_join"),
        F.regexp_replace("text", r"\s+", "_").alias("squashed"),
        F.size(F.split("text", r"\s+")).alias("n_tokens"),
    )


# --- date/time family -------------------------------------------------------

@_q(
    "func_datetime",
    """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS y,
       CAST(quarter(o_orderdate) AS INTEGER) AS q,
       CAST(month(o_orderdate) AS INTEGER) AS m,
       CAST(day(o_orderdate) AS INTEGER) AS d,
       CAST(isodow(o_orderdate) AS INTEGER) AS dow_iso,
       CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus2m,
       CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER) AS days_since,
       strftime(o_orderdate, '%Y-%m-%d') AS fmt
FROM orders WHERE o_orderkey < 200
""",
)
def func_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    (orders,) = load_tables(spark, sf_dir, "orders")
    return orders.filter(F.col("o_orderkey") < 200).select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.quarter("o_orderdate").alias("q"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        (F.weekday("o_orderdate") + 1).alias("dow_iso"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day("o_orderdate").alias("month_end"),
        F.add_months("o_orderdate", 2).alias("plus2m"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).alias("days_since"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("fmt"),
    )


# --- math family ------------------------------------------------------------

@_q(
    "func_math",
    """
SELECT l_orderkey, l_linenumber,
       abs(l_quantity - 25) AS ab,
       ceil(l_discount * 10) AS ce,
       floor(l_tax * 10) AS fl,
       round(sqrt(l_quantity), 6) AS sq,
       round(exp(l_discount), 6) AS ex,
       round(ln(l_quantity + 1), 6) AS lg,
       round(log10(l_extendedprice), 6) AS l10,
       round(power(l_quantity, 2), 2) AS pw,
       CAST(mod(CAST(l_quantity AS BIGINT), 7) AS BIGINT) AS md,
       CAST(sign(l_quantity - 25) AS DOUBLE) AS sg,
       greatest(l_discount, l_tax) AS gr,
       least(l_discount, l_tax) AS le
FROM lineitem WHERE l_orderkey < 100
""",
)
def func_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = load_tables(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 100).select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_quantity") - 25).alias("ab"),
        F.ceil(F.col("l_discount") * 10).cast("double").alias("ce"),
        F.floor(F.col("l_tax") * 10).cast("double").alias("fl"),
        F.round(F.sqrt("l_quantity"), 6).alias("sq"),
        F.round(F.exp("l_discount"), 6).alias("ex"),
        F.round(F.log(F.col("l_quantity") + 1), 6).alias("lg"),
        F.round(F.log10("l_extendedprice"), 6).alias("l10"),
        F.round(F.pow("l_quantity", 2), 2).alias("pw"),
        F.pmod(F.col("l_quantity").cast("long"), F.lit(7)).cast("long").alias("md"),
        F.signum(F.col("l_quantity") - 25).alias("sg"),
        F.greatest("l_discount", "l_tax").alias("gr"),
        F.least("l_discount", "l_tax").alias("le"),
    )


# --- JSON family ------------------------------------------------------------

@_q(
    "func_json",
    """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(count(*) AS BIGINT) AS cnt
FROM events GROUP BY event_type
""",
)
def func_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    (events,) = load_tables(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("k_sum"),
        F.count("*").alias("cnt"),
    )


# --- array family (over embeddings) ----------------------------------------

@_q(
    "func_array",
    """
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       embedding[1] AS first_el,
       list_max(embedding) AS mx,
       list_min(embedding) AS mn,
       embedding[3] AS sl_1, embedding[4] AS sl_2, embedding[5] AS sl_3,
       list_contains(embedding, CAST(0.0 AS FLOAT)) AS has_zero,
       round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sumsq,
       round(CAST(list_aggregate(list_filter(embedding, x -> x > 0), 'sum') AS DOUBLE), 6) AS possum
FROM embeddings WHERE vec_id < 100
""",
)
def func_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalars over embeddings. The 3-element slice is emitted as
    three scalar columns — the driver's pandas canonicalizer cannot sort
    top-level list columns (r05 lesson), and raw floats stay bit-exact."""
    (emb,) = load_tables(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.filter(F.col("vec_id") < 100).select(
        "vec_id",
        F.size(e).alias("dim"),
        F.element_at(e, 1).alias("first_el"),
        F.array_max(e).alias("mx"),
        F.array_min(e).alias("mn"),
        F.element_at(e, 3).alias("sl_1"),
        F.element_at(e, 4).alias("sl_2"),
        F.element_at(e, 5).alias("sl_3"),
        F.array_contains(e, F.lit(0.0).cast("float")).alias("has_zero"),
        F.round(
            F.aggregate(
                e, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double")
            ),
            6,
        ).alias("sumsq"),
        F.round(
            F.aggregate(
                F.filter(e, lambda x: x > 0), F.lit(0.0), lambda s, x: s + x.cast("double")
            ),
            6,
        ).alias("possum"),
    )


# --- conditional / null handling -------------------------------------------

sql_entry(
    _q, "func_conditional",
    """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 1000 THEN 'low' ELSE 'high' END AS tier,
       coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
       (c_acctbal IS NOT DISTINCT FROM 0.0) AS is_zero,
       if(c_nationkey % 2 = 0, 'even', 'odd') AS parity
FROM customer
""",
)


# --- aggregate: statistics (variance/corr/covar family) --------------------

sql_entry(
    _q, "agg_stats",
    """
SELECT l_returnflag,
       round(stddev_samp(l_quantity), 6) AS sd_s,
       round(stddev_pop(l_quantity), 6) AS sd_p,
       round(var_samp(l_quantity), 6) AS var_s,
       round(var_pop(l_quantity), 6) AS var_p,
       round(corr(l_quantity, l_discount), 6) AS cr,
       round(covar_samp(l_quantity, l_discount), 6) AS cv_s,
       round(covar_pop(l_quantity, l_discount), 6) AS cv_p,
       round(avg(l_quantity), 6) AS mean_q
FROM lineitem GROUP BY l_returnflag
""",
)


# --- aggregate: exact percentiles ------------------------------------------

@_q(
    "agg_percentile",
    """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
       round(quantile_cont(l_quantity, 0.75), 6) AS p75,
       round(median(l_quantity), 6) AS med
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = load_tables(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 6).alias("p75"),
        F.round(F.median("l_quantity"), 6).alias("med"),
    )


# --- aggregate: min_by / max_by with deterministic tie-break ---------------

sql_entry(
    _q, "agg_minmax_by",
    """
SELECT CAST(c_nationkey AS INTEGER) AS nat,
       max_by(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey)
         AS richest,
       min_by(c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey)
         AS poorest,
       max(c_acctbal) AS max_bal
FROM customer GROUP BY c_nationkey
""",
)


# --- aggregate: bool / conditional count / distinct collections ------------

@_q(
    "agg_bool_collect",
    """
SELECT l_returnflag,
       bool_and(l_quantity > 0) AS all_pos,
       bool_or(l_discount > 0.09) AS any_big_disc,
       CAST(sum(CASE WHEN l_tax > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_taxy,
       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_bool_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    (li,) = load_tables(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_pos"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_disc"),
        F.count_if(F.col("l_tax") > 0.05).alias("n_taxy"),
        # joined string, not array: driver-canonicalizer-safe shape
        F.array_join(F.sort_array(F.collect_set("l_linestatus")), ",").alias("statuses"),
        F.countDistinct("l_suppkey").alias("n_supp"),
    )


# --- aggregate: approx family (engine-specific → rows-only check) ----------

# Kept port (keep-rule 2b, worse plan): the text fails test_agg_approx_exact_reference_is_percentile.
@_q(
    "agg_approx",
    """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS approx_within_5pct,
       TRUE AS median_within_1pct
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_distinct / approx_percentile
    (``ApproximateCountDistinctAggregation.java``,
    ``ApproximateLongPercentileAggregations.java``) — Spark
    ``approx_count_distinct`` (HLL++, rsd=0.01) and ``percentile_approx``
    (accuracy 10000). Sketch BYTES are engine-specific, but the accuracy
    contract is checkable: the query emits the exact count plus in-query
    error-bound booleans, and the oracle pins them TRUE — so the driver's
    value-hash now verifies the estimates land inside their documented
    bounds instead of recording rows-only."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    # exact reference median via the exact percentile aggregate: its
    # state is a value->count map bounded by price cardinality, while
    # percentile_approx at accuracy INT_MAX buffers O(n) samples per
    # group (r13 opt: 28.9 -> 13.4 s at sf0.1, rows identical at
    # sf0.001/0.01/0.1 — interpolation vs element-pick differs by far
    # less than the 1% tolerance the boolean encodes)
    exact_median = F.expr("percentile(l_extendedprice, 0.5)")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        (
            F.abs(
                F.approx_count_distinct("l_partkey", 0.01)
                - F.countDistinct("l_partkey")
            )
            <= F.greatest(
                (F.countDistinct("l_partkey") * 0.05).cast("long"), F.lit(2)
            )
        ).alias("approx_within_5pct"),
        (
            F.abs(F.percentile_approx("l_extendedprice", 0.5, 10000) - exact_median)
            <= exact_median * 0.01
        ).alias("median_within_1pct"),
    )
