"""Scalar + aggregate function corpus, part 3 — last §2.8/§2.4 stragglers.

* ``reduce_agg`` (``pm/operator/aggregation/ReduceAggregationFunction.java``)
  — emulated per SURVEY §2.4 as ``aggregate(sort_array(collect_list(x)))``:
  an explicit fold with a deterministic order so both engines agree.
* ``wilson_interval_lower/upper`` (``pm/operator/scalar/WilsonInterval.java``)
  — closed-form math, inlined as expressions in both dialects.
* ``ipaddress`` family (``pm/type/IpAddressType.java``,
  ``IpPrefixFunctions.java``) — IPv4 string ↔ bigint and /24 prefix
  aggregation as pure expressions.
* ``to_big_endian_64`` / ``to_big_endian_32`` (``VarbinaryFunctions.java``)
  — big-endian byte image as zero-padded hex (stable cross-engine form).
* ``fnv1_64``-style portable polynomial hash — oracle reproduces the fold
  via ``list_reduce`` (same integer math), unlike xxhash64/crc32 which stay
  rows-only in func_hash_engine.

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..ddl import spark_sql
from ..engine import sql_entry
from ..registry import family

QUERIES, ORACLE, _q = family()

MOD31 = (1 << 31) - 1  # Mersenne modulus: h*prime stays well under 2^63


@_q(
    "agg_reduce",
    """
SELECT l_returnflag,
       CAST(list_reduce(list_prepend(CAST(1 AS BIGINT),
              list(CAST(l_quantity AS BIGINT) % 97 + 1 ORDER BY CAST(l_quantity AS BIGINT) % 97 + 1, l_orderkey, l_linenumber)),
              (s, x) -> (s * x) % 1000000007) AS BIGINT) AS folded,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem WHERE l_orderkey < 2000
GROUP BY l_returnflag
""",
)
def agg_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reduce_agg(x, 1, (s,x)->s*x%p, (a,b)->a*b%p) — modular product fold.

    Emulated as an explicit fold over a deterministically-ordered
    collect_list. Scale note: the combine function of Presto's reduce_agg is
    associative, so at 100 TB the right emulation is the same fold expressed
    as a partial-aggregable UDAF; modular product specifically is just
    ``exp(sum(log))``-style reducible — the collect_list form here is the
    *generic* (arbitrary lambda) emulation, bounded by the group size.
    """
    (li,) = load_tables(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long") % 97 + 1
    return (
        li.filter(F.col("l_orderkey") < 2000)
        .select("l_returnflag", x.alias("x"), "l_orderkey", "l_linenumber")
        .groupBy("l_returnflag")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("x", "l_orderkey", "l_linenumber"))),
                F.lit(1).cast("long"),
                lambda s, e: (s * e.x) % 1000000007,
            ).alias("folded"),
            F.count("*").alias("n"),
        )
    )


sql_entry(
    _q, "func_wilson",
    """
WITH s AS (
  SELECT l_returnflag,
         CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS DOUBLE) AS pos,
         CAST(count(*) AS DOUBLE) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       round((pos/n + 1.96*1.96/(2*n) - 1.96 * sqrt((pos/n)*(1-pos/n)/n + 1.96*1.96/(4*n*n)))
             / (1 + 1.96*1.96/n), 6) AS wilson_lower,
       round((pos/n + 1.96*1.96/(2*n) + 1.96 * sqrt((pos/n)*(1-pos/n)/n + 1.96*1.96/(4*n*n)))
             / (1 + 1.96*1.96/n), 6) AS wilson_upper
FROM s
""",
)


@_q(
    "func_ip",
    """
WITH ips AS (
  SELECT c_custkey,
         concat('10.', CAST(c_custkey % 256 AS VARCHAR), '.',
                CAST((c_custkey // 7) % 256 AS VARCHAR), '.',
                CAST((c_custkey * 3) % 256 AS VARCHAR)) AS ip
  FROM customer WHERE c_custkey < 300
)
SELECT c_custkey, ip,
       CAST(10 * 16777216
            + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
            + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
            + CAST(string_split(ip, '.')[4] AS BIGINT) AS BIGINT) AS ip_int,
       concat(string_split(ip, '.')[1], '.', string_split(ip, '.')[2], '.',
              string_split(ip, '.')[3], '.0/24') AS prefix24
FROM ips
""",
)
def func_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPv4 string ↔ integer and /24 prefix — the ipaddress/ipprefix family
    as pure expressions (split + integer math; no UDF)."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    ip = F.concat(
        F.lit("10."),
        (ck % 256).cast("string"),
        F.lit("."),
        ((ck / 7).cast("long") % 256).cast("string"),
        F.lit("."),
        ((ck * 3) % 256).cast("string"),
    )
    parts = F.split(F.col("ip"), r"\.")
    return (
        cust.filter(ck < 300)
        .select("c_custkey", ip.alias("ip"))
        .select(
            "c_custkey",
            "ip",
            (
                F.lit(10 * 16777216)
                + F.element_at(parts, 2).cast("long") * 65536
                + F.element_at(parts, 3).cast("long") * 256
                + F.element_at(parts, 4).cast("long")
            ).alias("ip_int"),
            F.concat(
                F.element_at(parts, 1),
                F.lit("."),
                F.element_at(parts, 2),
                F.lit("."),
                F.element_at(parts, 3),
                F.lit(".0/24"),
            ).alias("prefix24"),
        )
    )


# inverse_normal_cdf via Acklam's rational approximation — ONE shared SQL
# fragment evaluated by both engines (identical literals and operation
# order; only ln/sqrt can differ by an ulp, absorbed by round(6)).
# Reference: pm/operator/scalar/MathFunctions.java inverseNormalCdf.
_ACKLAM = """
CASE
  WHEN {p} < 0.02425 THEN
    (((((-7.784894002430293e-03 * sqrt(-2 * ln({p})) - 3.223964580411365e-01)
        * sqrt(-2 * ln({p})) - 2.400758277161838e+00) * sqrt(-2 * ln({p}))
        - 2.549732539343734e+00) * sqrt(-2 * ln({p})) + 4.374664141464968e+00)
        * sqrt(-2 * ln({p})) + 2.938163982698783e+00)
    / ((((7.784695709041462e-03 * sqrt(-2 * ln({p})) + 3.224671290700398e-01)
        * sqrt(-2 * ln({p})) + 2.445134137142996e+00) * sqrt(-2 * ln({p}))
        + 3.754408661907416e+00) * sqrt(-2 * ln({p})) + 1.0)
  WHEN {p} > 0.97575 THEN
    -((((((-7.784894002430293e-03 * sqrt(-2 * ln(1 - {p})) - 3.223964580411365e-01)
        * sqrt(-2 * ln(1 - {p})) - 2.400758277161838e+00) * sqrt(-2 * ln(1 - {p}))
        - 2.549732539343734e+00) * sqrt(-2 * ln(1 - {p})) + 4.374664141464968e+00)
        * sqrt(-2 * ln(1 - {p})) + 2.938163982698783e+00)
    / ((((7.784695709041462e-03 * sqrt(-2 * ln(1 - {p})) + 3.224671290700398e-01)
        * sqrt(-2 * ln(1 - {p})) + 2.445134137142996e+00) * sqrt(-2 * ln(1 - {p}))
        + 3.754408661907416e+00) * sqrt(-2 * ln(1 - {p})) + 1.0))
  ELSE
    (((((-3.969683028665376e+01 * (({p} - 0.5) * ({p} - 0.5)) + 2.209460984245205e+02)
        * (({p} - 0.5) * ({p} - 0.5)) - 2.759285104469687e+02)
        * (({p} - 0.5) * ({p} - 0.5)) + 1.383577518672690e+02)
        * (({p} - 0.5) * ({p} - 0.5)) - 3.066479806614716e+01)
        * (({p} - 0.5) * ({p} - 0.5)) + 2.506628277459239e+00) * ({p} - 0.5)
    / (((((-5.447609879822406e+01 * (({p} - 0.5) * ({p} - 0.5)) + 1.615858368580409e+02)
        * (({p} - 0.5) * ({p} - 0.5)) - 1.556989798598866e+02)
        * (({p} - 0.5) * ({p} - 0.5)) + 6.680131188771972e+01)
        * (({p} - 0.5) * ({p} - 0.5)) - 1.328068155288572e+01)
        * (({p} - 0.5) * ({p} - 0.5)) + 1.0)
END
""".strip()

_P_EXPR = "(CAST(c_custkey % 97 + 1 AS DOUBLE) / 98)"


sql_entry(
    _q, "func_inverse_normal_cdf",
    f"""
SELECT c_custkey,
       round({_P_EXPR}, 6) AS p,
       round({_ACKLAM.format(p=_P_EXPR)}, 6) AS inv_cdf
FROM customer WHERE c_custkey < 400
""",
)


@_q(
    "agg_bit_json",
    """
SELECT l_returnflag,
       CAST(bit_and(CAST(l_orderkey % 4096 AS BIGINT)) AS BIGINT) AS band,
       CAST(bit_or(CAST(l_orderkey % 4096 AS BIGINT)) AS BIGINT) AS bor,
       CAST(max(json_array_length('[' || CAST(l_linenumber AS VARCHAR) || ',2,3]'))
            AS INTEGER) AS max_jlen,
       CAST(max(len(json_keys('{"a":' || CAST(l_linenumber AS VARCHAR) || ',"b":2}')))
            AS INTEGER) AS jsize
FROM lineitem WHERE l_orderkey < 3000 GROUP BY l_returnflag
""",
)
def agg_bit_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bitwise_and_agg / bitwise_or_agg (``BitwiseAndAggregation.java``,
    ``BitwiseOrAggregation.java``) plus json_array_length / json_size
    (``JsonFunctions.java``) over synthesized JSON documents."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    k = (F.col("l_orderkey") % 4096).cast("long")
    jarr = F.concat(F.lit("["), F.col("l_linenumber").cast("string"), F.lit(",2,3]"))
    jobj = F.concat(
        F.lit('{"a":'), F.col("l_linenumber").cast("string"), F.lit(',"b":2}')
    )
    return li.filter(F.col("l_orderkey") < 3000).groupBy("l_returnflag").agg(
        F.bit_and(k).alias("band"),
        F.bit_or(k).alias("bor"),
        F.max(F.json_array_length(jarr)).alias("max_jlen"),
        F.max(F.size(F.json_object_keys(jobj))).alias("jsize"),
    )


@_q(
    "func_array_advanced",
    """
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+')[1:6] AS words
  FROM documents WHERE doc_id < 60
)
SELECT doc_id,
       array_to_string(
         list_transform(list_sort(list_transform(words, x -> {'k': len(x), 'w': x})),
                        e -> e.w), chr(31)) AS by_len,
       array_to_string(
         flatten(list_transform(words, (x, i) ->
                  list_transform(words[i+1:], y -> x || '|' || y))), chr(31)) AS pairs,
       array_to_string(
         list_transform(generate_series(1, greatest(len(words) - 1, 0)),
                        i -> words[i] || ' ' || words[i+1]), chr(31)) AS bigrams
FROM w
""",
)
def func_array_advanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_sort with comparator lambda (``ArraySortComparatorFunction``),
    combinations(a, 2) (``CombinationsFunction``), ngrams(a, 2)
    (``ArrayNgramsFunction``) — all as pure expressions. The comparator
    (by length, then value) is emulated in the oracle by sorting (key,
    value) structs; combinations enumerate via index-slices.

    Battery shape: the arrays are serialized to chr(31)-joined strings in
    the final projection on BOTH sides — the driver's pandas canonicalizer
    cannot sort top-level list columns (r05 ERR), and joined strings hash
    identically with zero JSON-escaping parity risk."""
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    words = F.slice(F.split(F.trim("text"), r"\s+"), 1, 6)
    base = docs.filter(F.col("doc_id") < 60).select("doc_id", words.alias("words"))
    wcol = F.col("words")
    by_len = F.transform(
        F.array_sort(F.transform(wcol, lambda x: F.struct(F.length(x).alias("k"), x.alias("w")))),
        lambda e: e.w,
    )
    idx = F.sequence(F.lit(1), F.size(wcol))
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.slice(wcol, i + 1, F.greatest(F.size(wcol) - i, F.lit(0))),
                lambda y: F.concat(F.element_at(wcol, i), F.lit("|"), y),
            ),
        )
    )
    bigrams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(wcol) - 1, F.lit(0))),
        lambda i: F.concat(F.element_at(wcol, i), F.lit(" "), F.element_at(wcol, i + 1)),
    )
    sep = "\x1f"
    return base.select(
        "doc_id",
        F.array_join(by_len, sep).alias("by_len"),
        F.array_join(pairs, sep).alias("pairs"),
        F.array_join(bigrams, sep).alias("bigrams"),
    )


@_q(
    "func_bigendian_fnv",
    f"""
SELECT p_partkey,
       lpad(lower(to_base(p_partkey, 16)), 16, '0') AS be64,
       lpad(lower(to_base(p_size, 16)), 8, '0') AS be32,
       CAST(list_reduce(list_prepend(CAST(2166136261 % {MOD31} AS BIGINT),
              list_transform(string_split(p_name, ''),
                             ch -> CAST(coalesce(ascii(ch), 0) AS BIGINT))),
              (h, c) -> ((h * 16777619 % {MOD31}) + c) % {MOD31}) AS BIGINT) AS fnv
FROM part WHERE p_partkey < 300
""",
)
def func_bigendian_fnv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """to_big_endian_64/32 as the canonical zero-padded hex image, plus an
    FNV-1-style portable polynomial hash (32-bit FNV prime, Mersenne-31-reduced
    so every intermediate product stays below 2^63 in both engines)."""
    (part,) = load_tables(spark, sf_dir, "part")
    fnv = F.aggregate(
        F.split(F.col("p_name"), ""),
        F.lit(2166136261 % MOD31).cast("long"),
        lambda h, ch: (
            (h * F.lit(16777619)) % F.lit(MOD31) + F.coalesce(F.ascii(ch), F.lit(0))
        )
        % F.lit(MOD31),
    )
    return part.filter(F.col("p_partkey") < 300).select(
        "p_partkey",
        F.lpad(F.lower(F.conv(F.col("p_partkey").cast("string"), 10, 16)), 16, "0").alias(
            "be64"
        ),
        F.lpad(F.lower(F.conv(F.col("p_size").cast("string"), 10, 16)), 8, "0").alias(
            "be32"
        ),
        fnv.alias("fnv"),
    )


# --- classification metrics (precision-recall curve aggregates) ------------

N_CLS_BUCKETS = 10


@_q(
    "agg_classification_metrics",
    f"""
WITH scored AS (
  SELECT (CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 1000) AS pred,
         c_mktsegment = 'BUILDING' AS outcome
  FROM customer
),
binned AS (
  SELECT CAST(floor(least(pred, 0.99999999999) * {N_CLS_BUCKETS}) AS BIGINT) AS b,
         CAST(sum(CASE WHEN outcome THEN 1 ELSE 0 END) AS BIGINT) AS tw,
         CAST(sum(CASE WHEN outcome THEN 0 ELSE 1 END) AS BIGINT) AS fw
  FROM scored GROUP BY b
),
spine AS (
  SELECT g.b, coalesce(h.tw, 0) AS tw, coalesce(h.fw, 0) AS fw
  FROM (SELECT unnest(generate_series(0, {N_CLS_BUCKETS - 1})) AS b) g
  LEFT JOIN binned h ON h.b = g.b
),
cum AS (
  SELECT b, tw, fw,
         coalesce(sum(tw) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS run_t,
         coalesce(sum(fw) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS run_f,
         sum(tw) OVER () AS tot_t, sum(fw) OVER () AS tot_f
  FROM spine
),
emitted AS (SELECT * FROM cum WHERE tot_t - run_t > 0)
SELECT array_to_string(list(CAST(b * 100000 AS BIGINT) ORDER BY b), ',')
         AS thresholds,
       array_to_string(list(CAST(((tot_t - run_t) * 1000000) // tot_t AS BIGINT)
                            ORDER BY b), ',') AS "precision",
       array_to_string(list(CAST(((tot_t - run_t) * 1000000) // tot_t AS BIGINT)
                            ORDER BY b), ',') AS recall,
       array_to_string(list(CAST((run_t * 1000000) // tot_t AS BIGINT)
                            ORDER BY b), ',') AS miss_rate,
       array_to_string(list(CAST(((tot_f - run_f) * 1000000) // tot_f AS BIGINT)
                            ORDER BY b), ',') AS fall_out
FROM emitted
""",
)
def agg_classification_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classification_precision / _recall / _miss_rate / _fall_out /
    _thresholds (``pm/operator/aggregation/PrecisionRecallAggregation.java``
    + the five Classification*Aggregation.java outputs) — the §2.4 "ML
    plugin" row, re-expressed relationally.

    Semantics reproduced exactly: predictions in [0,1] land in a
    FixedDoubleHistogram of ``bucketCount`` bins (pred clamped below 1.0);
    bucket i's threshold is its left edge; TP at threshold = true weight at
    pred >= threshold; buckets are emitted only while true weight remains
    above the threshold (the reference's iterator cutoff). NOTE faithful
    quirk: the reference computes precision as TP/(TP+FN) == TP/positive —
    identical to recall (ClassificationPrecisionAggregation.java:44) — and
    this reproduction preserves that.

    Scale design: one groupBy(bucket) shuffle over the data (B=10 buckets),
    then all windowing happens on the B-row spine — the mergeable
    fixed-histogram property that lets the reference run this as
    partial/final.

    Battery shape: every metric vector is emitted as a comma-joined string
    of exact integer micro-units (rate × 1e6 via integer floor division on
    BOTH sides) — the driver's pandas canonicalizer cannot sort top-level
    list columns (r05 ERR), and integer-div micros are bit-identical
    across engines where round(double, 6) is not guaranteed to be."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    from pyspark.sql.window import Window as W

    scored = cust.select(
        ((F.col("c_custkey") * 7919 % 1000).cast("double") / 1000).alias("pred"),
        (F.col("c_mktsegment") == "BUILDING").alias("outcome"),
    )
    binned = scored.groupBy(
        F.floor(F.least(F.col("pred"), F.lit(0.99999999999)) * N_CLS_BUCKETS)
        .cast("long")
        .alias("b")
    ).agg(
        F.sum(F.when(F.col("outcome"), 1).otherwise(0)).cast("long").alias("tw"),
        F.sum(F.when(F.col("outcome"), 0).otherwise(1)).cast("long").alias("fw"),
    )
    spine = (
        scored.sparkSession.range(N_CLS_BUCKETS)
        .select(F.col("id").alias("b"))
        .join(binned, "b", "left")
        .select(
            "b",
            F.coalesce("tw", F.lit(0)).cast("long").alias("tw"),
            F.coalesce("fw", F.lit(0)).cast("long").alias("fw"),
        )
    )
    w_prev = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    w_all = W.partitionBy()
    cum = (
        spine.select(
            "b",
            F.coalesce(F.sum("tw").over(w_prev), F.lit(0)).cast("long").alias("run_t"),
            F.coalesce(F.sum("fw").over(w_prev), F.lit(0)).cast("long").alias("run_f"),
            F.sum("tw").over(w_all).cast("long").alias("tot_t"),
            F.sum("fw").over(w_all).cast("long").alias("tot_f"),
        )
        .filter(F.col("tot_t") - F.col("run_t") > 0)
        .select(
            "b",
            (F.col("b") * 100000).alias("th"),
            F.expr("((tot_t - run_t) * 1000000) div tot_t").alias("pr"),
            F.expr("(run_t * 1000000) div tot_t").alias("mr"),
            F.expr("((tot_f - run_f) * 1000000) div tot_f").alias("fo"),
        )
    )
    es = F.array_sort(F.collect_list(F.struct("b", "th", "pr", "mr", "fo")))

    def _joined(field: str):
        return F.array_join(F.transform(es, lambda e: e[field].cast("string")), ",")

    return cum.agg(
        _joined("th").alias("thresholds"),
        _joined("pr").alias("precision"),
        _joined("pr").alias("recall"),
        _joined("mr").alias("miss_rate"),
        _joined("fo").alias("fall_out"),
    )


# --- color/bar/render (ColorFunctions.java) --------------------------------

def _color_bar_parts():
    from ..functions import color as C

    pct = "(CAST(c_custkey % 101 AS DOUBLE) / 100)"
    code_teal = C.parse_color("#1a9")
    code_blue = C.rgb_int(0, 0, 255)
    sql = f"""
WITH p AS (
  SELECT c_custkey AS id, {pct} AS pct, c_mktsegment AS seg
  FROM customer WHERE c_custkey < 200
)
SELECT id,
       {C.bar_sql('pct', 10)} AS bar10,
       {C.bar_sql('pct', 5, C.parse_color('#f00'), code_blue)} AS bar5,
       {C.render_sql('seg', C.parse_color('green'))} AS badge,
       (CASE WHEN id % 2 = 0 THEN '{C.RENDERED_TRUE}' ELSE '{C.RENDERED_FALSE}' END) AS ok,
       CAST({code_teal} AS BIGINT) AS code_hex,
       CAST({C.parse_color('magenta')} AS BIGINT) AS code_sys
FROM p ORDER BY id
"""
    return C, pct, code_teal, code_blue, sql


_COLOR_SQL = _color_bar_parts()[4]


# Kept port (keep-rule 2d, helper coverage): color.bar_expr and color.render_expr.
@_q("func_color_bar", _COLOR_SQL)
def func_color_bar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """color/rgb/render/bar (ColorFunctions.java:85-233).

    The bar gradient's float32 HSB interpolation is verified bit-exact
    against java.awt.Color (tests/test_functions_corpus3 cross-check);
    block escapes are plan-time literals shared with the oracle, so the
    runtime is a pure JVM string projection — no UDF, no shuffle.
    """
    from ..functions import color as C

    (cust,) = load_tables(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    p = cust.filter(ck < 200).select(
        ck.alias("id"),
        ((ck % 101).cast("double") / 100).alias("pct"),
        F.col("c_mktsegment").alias("seg"),
    )
    return p.select(
        "id",
        C.bar_expr(F.col("pct"), 10).alias("bar10"),
        C.bar_expr(F.col("pct"), 5, C.parse_color("#f00"), C.rgb_int(0, 0, 255)).alias("bar5"),
        C.render_expr(F.col("seg"), C.parse_color("green")).alias("badge"),
        F.when(F.col("id") % 2 == 0, F.lit(C.RENDERED_TRUE))
         .otherwise(F.lit(C.RENDERED_FALSE)).alias("ok"),
        F.lit(C.parse_color("#1a9")).cast("bigint").alias("code_hex"),
        F.lit(C.parse_color("magenta")).cast("bigint").alias("code_sys"),
    ).orderBy("id")


# --- parse_presto_data_size (DataSizeFunctions.java) -----------------------

_DATA_SIZE_SQL = """
WITH p AS (
  SELECT c_custkey AS id,
         (CAST(c_custkey % 900 + 1 AS VARCHAR) || '.'
          || CAST(c_custkey % 10 AS VARCHAR)
          || (CASE c_custkey % 5 WHEN 0 THEN 'B' WHEN 1 THEN 'kB'
              WHEN 2 THEN 'MB' WHEN 3 THEN 'GB' ELSE 'TB' END)) AS ds,
         (c_custkey % 900 + 1) * 10 + c_custkey % 10 AS tenths,
         (CASE c_custkey % 5 WHEN 0 THEN CAST(1 AS BIGINT) WHEN 1 THEN 1024
           WHEN 2 THEN 1048576 WHEN 3 THEN 1073741824 ELSE 1099511627776 END)
           AS factor
  FROM customer WHERE c_custkey < 2000
)
SELECT id, ds,
       CAST(CAST(tenths AS HUGEINT) * factor // 10 AS BIGINT) AS bytes
FROM p ORDER BY id
"""


@_q("func_data_size", _DATA_SIZE_SQL)
def func_data_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_presto_data_size over synthesized '<v>.<t><unit>' strings.
    The oracle reproduces the exact truncating decimal math with integer
    tenths (value*factor//10), so parity is exact at every unit.  The
    driver projection is BIGINT on BOTH sides (values < 2^50 here): the
    function's native DECIMAL(38,0) would surface as Decimal objects from
    Spark but float64 from the oracle's pandas path — the same hash-kind
    mismatch class as the r06 HUGEINT bug (the DECIMAL return type itself
    is covered by the golden-pair scalar tests)."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    return spark_sql(spark, """
        SELECT c_custkey AS id,
               CONCAT(CAST(c_custkey % 900 + 1 AS STRING), '.',
                      CAST(c_custkey % 10 AS STRING),
                      CASE CAST(c_custkey % 5 AS INT) WHEN 0 THEN 'B'
                        WHEN 1 THEN 'kB' WHEN 2 THEN 'MB'
                        WHEN 3 THEN 'GB' ELSE 'TB' END) AS ds,
               CAST(parse_presto_data_size(
                 CONCAT(CAST(c_custkey % 900 + 1 AS STRING), '.',
                        CAST(c_custkey % 10 AS STRING),
                        CASE CAST(c_custkey % 5 AS INT) WHEN 0 THEN 'B'
                          WHEN 1 THEN 'kB' WHEN 2 THEN 'MB'
                          WHEN 3 THEN 'GB' ELSE 'TB' END)) AS BIGINT) AS bytes
        FROM {cust} ORDER BY id
    """, cust=cust.filter(F.col("c_custkey") < 2000))


# --- differential_entropy ----------------------------------------------------

# Both reference strategies (pm/operator/aggregation/differentialentropy/):
#   * fixed-histogram MLE (FixedHistogramMleStateStrategy.calculateEntropy
#     :87-102): bucket x into `bins` equal cells over [lo, hi], entropy =
#     (-SUM (w/n)*ln(w/n) + ln(width)) / ln 2.
#   * Vasicek spacing estimator over a bounded sample
#     (EntropyCalculations.calculateFromSamplesUsingVasicek:28-45, used by
#     UnweightedReservoirSampleStateStrategy): sort samples s[0..n-1],
#     m = round(sqrt(n)), sum ln(n/(a_i m) * (s[i+m]-s[i-m])) / n / ln 2
#     with edge clamping and a_i = 2 iff both neighbors in range.
# The reference's reservoir is RNG-seeded; the deterministic stand-in
# samples the N smallest md5(value-cents) DISTINCT prices — a fixed
# pseudo-random subset both engines agree on (and DISTINCT guarantees
# strictly increasing spacings, so ln() never sees 0).
_DE_BINS, _DE_LO, _DE_HI = 64, 0.0, 120000.0
_DE_N, _DE_M = 1024, 32  # m = round(sqrt(1024))

sql_entry(
    _q, "agg_differential_entropy",
    f"""
WITH b AS (
  SELECT least({_DE_BINS - 1},
               greatest(0, CAST(floor((l_extendedprice - {_DE_LO})
                    / (({_DE_HI} - {_DE_LO}) / {_DE_BINS})) AS BIGINT))) AS bin,
         count(*) AS w
  FROM lineitem GROUP BY 1
), hist AS (
  SELECT (-SUM((CAST(w AS DOUBLE) / CAST(t AS DOUBLE))
               * ln(CAST(w AS DOUBLE) / CAST(t AS DOUBLE)))
          + ln(({_DE_HI} - {_DE_LO}) / {_DE_BINS})) / ln(2) AS de
  FROM (SELECT bin, w, SUM(w) OVER () AS t FROM b) z
), samp AS (
  SELECT v, row_number() OVER (ORDER BY v) - 1 AS i
  FROM (SELECT DISTINCT l_extendedprice AS v,
               md5(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)) AS h
        FROM lineitem
        ORDER BY h LIMIT {_DE_N}) s
), terms AS (
  SELECT ln(({_DE_N}.0 / ((CASE WHEN i + {_DE_M} < {_DE_N} AND i - {_DE_M} > 0
                            THEN 2.0 ELSE 1.0 END) * {_DE_M}))
            * (coalesce(lead(v, {_DE_M}) OVER (ORDER BY v), MAX(v) OVER ())
               - coalesce(lag(v, {_DE_M}) OVER (ORDER BY v), MIN(v) OVER ()))) AS t
  FROM samp
), vas AS (
  SELECT SUM(t) / {_DE_N} / ln(2) AS de FROM terms
)
SELECT round(hist.de, 6) AS de_hist, round(vas.de, 6) AS de_vasicek
FROM hist CROSS JOIN vas
""",
)
