"""Scalar + aggregate function corpus, by family.

Mirrors the reference's function library layers (SURVEY.md §2.8/§2.4):
registration point ``pm/metadata/BuiltInFunctionNamespaceManager.java:433-700``,
scalar impls under ``pm/operator/scalar/`` and aggregate impls under
``pm/operator/aggregation/``. Each query exercises a family end-to-end
through Spark expressions with a DuckDB oracle in the matching dialect.

Scalar families: string (``StringFunctions.java``), regex, datetime
(``DateTimeFunctions.java``), math (``MathFunctions.java`` — incl.
``width_bucket``, ``from_base``/``to_base``, hyperbolics), JSON
(``JsonFunctions.java``), array (``Array*.java``), map (``Map*.java``),
row/struct + ``sequence`` (``SequenceFunction.java``, ``ZipFunction.java``),
URL (``UrlFunctions.java``), binary/crypto + bitwise
(``VarbinaryFunctions.java``, ``BitwiseFunctions.java``), ``TRY``/
``try_cast`` (``TryFunction.java``, ``TryCastFunction.java``), conditional
special forms, ``wilson_interval_lower/upper`` (``WilsonInterval.java``),
the ``ipaddress`` family (``pm/type/IpAddressType.java``,
``IpPrefixFunctions.java``: IPv4 string ↔ bigint, /24 prefix aggregation),
``to_big_endian_64``/``_32`` (``VarbinaryFunctions.java``, as zero-padded
hex) and an ``fnv1_64``-style portable polynomial hash.

Aggregate families: variance/covariance/correlation, min_by/max_by,
bool_and/bool_or, approx_*, ``map_agg``/``multimap_agg``
(``MapAggregationFunction.java``, ``multimapagg/``), ``histogram`` +
``entropy`` (``histogram/``, ``EntropyAggregation.java``), ``checksum``
(``ChecksumAggregationFunction.java``), ``geometric_mean``
(``GeometricMeanAggregations.java``), ``skewness``/``kurtosis``
(``CentralMomentsAggregation.java``), ``min``/``max(x,n)`` + ``array_agg``
(``MinNAggregationFunction.java``, ``arrayagg/``), linear regression
(``DoubleRegressionAggregation.java``), and ``reduce_agg``
(``ReduceAggregationFunction.java``) emulated per SURVEY §2.4 as
``aggregate(sort_array(collect_list(x)))`` — an explicit fold with a
deterministic order so both engines agree.

Dialect notes (cross-engine determinism):
* day-of-week uses ISO numbering (Spark ``weekday()+1`` == DuckDB ``isodow``)
* float aggregates use low-magnitude columns (quantity/discount) + rounding
* ``min_by``/``max_by`` tie-break by folding the key into an exact BIGINT
* approx_* functions are engine-specific by construction → no oracle entry
  (driver records the weaker rows-only check; the exact counterparts are
  oracle-checked here and in tpch_q16); xxhash64/crc32 stay rows-only in
  func_hash_engine
* DuckDB oracles express the *expected values*, not necessarily the same
  function spelling (DuckDB lacks e.g. ``width_bucket``/``sinh`` — the
  oracle computes the definition); map/struct outputs are canonicalized to
  sorted arrays so the driver's value-hash is order-stable.

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_tables
from ..ddl import spark_sql
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


# --- string family: extended ops ---------------------------------------------

@_q(
    "func_string_extra",
    """
SELECT p_partkey,
       ascii(substr(p_name, 1, 1)) AS a1,
       chr(CAST(65 + p_partkey % 26 AS INTEGER)) AS ch,
       translate(p_brand, 'rand', 'xyz') AS tr,
       repeat('*', CAST(p_partkey % 4 AS INTEGER)) AS rep,
       left(p_name, 4) AS l4,
       right(p_name, 4) AS r4,
       starts_with(p_type, 'STANDARD') AS sw,
       ends_with(p_type, 'TIN') AS ew,
       contains(p_name, 'a') AS has_a,
       upper(substr(split_part(p_type, ' ', 1), 1, 1))
         || lower(substr(split_part(p_type, ' ', 1), 2)) AS icap,
       CAST(hamming(substr(rpad(p_name, 5, 'x'), 1, 5),
                    substr(rpad(p_brand, 5, 'x'), 1, 5)) AS INTEGER) AS ham
FROM part WHERE p_partkey < 300
""",
)
def func_string_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chr/codepoint/translate/repeat/left/right/starts-ends-with/initcap and
    hamming_distance (``StringFunctions.java``; ``HammingDistanceFunction``)
    — hamming as a pure zip_with expression, no UDF."""
    (part,) = load_tables(spark, sf_dir, "part")
    a = F.substring(F.rpad(F.col("p_name"), 5, "x"), 1, 5)
    b = F.substring(F.rpad(F.col("p_brand"), 5, "x"), 1, 5)
    ham = F.aggregate(
        F.zip_with(
            F.split(a, ""),
            F.split(b, ""),
            lambda x, y: F.when(x == y, 0).otherwise(1),
        ),
        F.lit(0),
        lambda s, v: s + v,
    )
    first_word = F.split_part(F.col("p_type"), F.lit(" "), F.lit(1))
    return part.filter(F.col("p_partkey") < 300).select(
        "p_partkey",
        F.ascii(F.substring("p_name", 1, 1)).alias("a1"),
        F.char(F.lit(65) + F.col("p_partkey") % 26).alias("ch"),
        F.translate("p_brand", "rand", "xyz").alias("tr"),
        F.repeat(F.lit("*"), (F.col("p_partkey") % 4).cast("int")).alias("rep"),
        F.expr("left(p_name, 4)").alias("l4"),
        F.expr("right(p_name, 4)").alias("r4"),
        F.startswith(F.col("p_type"), F.lit("STANDARD")).alias("sw"),
        F.endswith(F.col("p_type"), F.lit("TIN")).alias("ew"),
        F.contains(F.col("p_name"), F.lit("a")).alias("has_a"),
        F.initcap(F.lower(first_word)).alias("icap"),
        ham.alias("ham"),
    )


# --- binary / crypto / bitwise ----------------------------------------------

@_q(
    "func_binary_bitwise",
    """
SELECT p_partkey,
       md5(p_name) AS h_md5,
       sha256(p_name) AS h_sha256,
       lower(hex(p_name)) AS hx,
       to_base64(CAST(p_name AS BLOB)) AS b64,
       CAST(p_partkey & p_size AS BIGINT) AS band,
       CAST(p_partkey | p_size AS BIGINT) AS bor,
       CAST(xor(p_partkey, CAST(p_size AS BIGINT)) AS BIGINT) AS bxor,
       CAST(p_size << 2 AS BIGINT) AS shl,
       CAST(p_size >> 1 AS BIGINT) AS shr,
       CAST(bit_count(p_partkey) AS INTEGER) AS bc,
       CAST(~CAST(p_size AS BIGINT) AS BIGINT) AS bnot
FROM part WHERE p_partkey < 300
""",
)
def func_binary_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5/sha256/hex/base64 (``VarbinaryFunctions.java``) + bitwise and/or/
    xor/shift/bit_count/not (``BitwiseFunctions.java``)."""
    (part,) = load_tables(spark, sf_dir, "part")
    pk = F.col("p_partkey")
    sz = F.col("p_size").cast("long")
    return part.filter(pk < 300).select(
        "p_partkey",
        F.md5("p_name").alias("h_md5"),
        F.sha2("p_name", 256).alias("h_sha256"),
        F.lower(F.hex("p_name")).alias("hx"),
        F.base64(F.col("p_name").cast("binary")).alias("b64"),
        pk.bitwiseAND(sz).alias("band"),
        pk.bitwiseOR(sz).alias("bor"),
        pk.bitwiseXOR(sz).alias("bxor"),
        F.shiftleft(sz, 2).alias("shl"),
        F.shiftright(sz, 1).alias("shr"),
        F.bit_count(pk).alias("bc"),
        F.bitwise_not(sz).alias("bnot"),
    )


# Kept port (keep-rule 2c, text skips the function): it pins constants, not hash calls.
@_q(
    "func_hash_engine",
    """
SELECT CAST(count(*) AS BIGINT) AS n,
       TRUE AS xx_injective_here,
       TRUE AS buckets_in_range,
       TRUE AS sha1_wellformed,
       CAST(-7102253719128171131 AS BIGINT) AS xx_pinned,
       CAST(799298247 AS BIGINT) AS crc_pinned,
       'da015a2c8d08b0aeb659ef939c3d8cb2c0861884' AS sha1_pinned,
       CAST(1668754463 AS INT) AS murmur_pinned
FROM part WHERE p_partkey < 100
""",
)
def func_hash_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine hash family — xxhash64/crc32/sha1 (``pm/operator/scalar/
    VarbinaryFunctions.java``) and the hash-partitioning bucket idiom.
    DuckDB lacks the algorithms, so the oracle checks what IS portable:
    pinned constants for a fixed input (crc32/sha1 match zlib/hashlib —
    verified independently; xxhash64/murmur3 pinned to Spark's seed-42
    values, stable across runs and versions) plus structural invariants
    (injectivity over the 100-part sample, bucket range, sha1 shape) as
    in-query booleans the oracle requires TRUE."""
    (part,) = load_tables(spark, sf_dir, "part")
    hashed = part.filter(F.col("p_partkey") < 100).select(
        "p_partkey",
        "p_name",
        F.xxhash64("p_name").alias("h_xx"),
        F.crc32(F.col("p_name").cast("binary")).alias("h_crc"),
        F.sha1("p_name").alias("h_sha1"),
        F.hash("p_name", "p_partkey").alias("h_murmur"),
        (F.abs(F.xxhash64("p_name")) % 32).alias("bucket"),
    )
    probe = F.lit("presto-db-spark")
    return hashed.agg(
        F.count("*").alias("n"),
        # synthetic p_name repeats → injectivity is over distinct inputs
        (F.countDistinct("h_xx") == F.countDistinct("p_name")).alias("xx_injective_here"),
        (F.max("bucket") <= 31).alias("buckets_in_range"),
        F.every(F.col("h_sha1").rlike("^[0-9a-f]{40}$")).alias("sha1_wellformed"),
        F.first(F.xxhash64(probe)).alias("xx_pinned"),
        F.first(F.crc32(probe.cast("binary"))).alias("crc_pinned"),
        F.first(F.sha1(probe.cast("binary"))).alias("sha1_pinned"),
        F.first(F.hash(probe)).alias("murmur_pinned"),
    )


# --- map family --------------------------------------------------------------

# Kept port (keep-rule 2c, text skips the function): it expands the map functions by hand.
@_q(
    "func_map",
    """
SELECT o_orderkey,
       o_totalprice AS m_price,
       'key,price' AS m_keys,
       2 AS m_card,
       CAST(0.0 AS DOUBLE) AS m_zero,
       CAST((CASE WHEN o_totalprice > 1000 THEN 1 ELSE 0 END)
          + (CASE WHEN o_orderkey   > 1000 THEN 1 ELSE 0 END) AS INTEGER) AS n_big,
       CAST(o_orderkey AS DOUBLE) * 2 AS k2,
       o_totalprice * 2 AS p2
FROM orders WHERE o_orderkey < 200
""",
)
def func_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map()/element_at/map_keys/cardinality/map_concat/map_filter/
    transform_values/map_zip_with (``pm/operator/scalar/Map*.java``).
    The oracle states the expected values directly (DuckDB's map surface
    differs); outputs are scalars/sorted arrays so hashing is stable."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("price"), F.col("o_totalprice"),
        F.lit("key"), F.col("o_orderkey").cast("double"),
    )
    return orders.filter(F.col("o_orderkey") < 200).select(
        "o_orderkey",
        F.element_at(m, "price").alias("m_price"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("m_keys"),
        F.size(m).alias("m_card"),
        F.element_at(
            F.map_concat(m, F.create_map(F.lit("zero"), F.lit(0.0))), "zero"
        ).alias("m_zero"),
        F.size(F.map_filter(m, lambda k, v: v > 1000)).alias("n_big"),
        F.element_at(F.transform_values(m, lambda k, v: v * 2), "key").alias("k2"),
        F.element_at(F.map_zip_with(m, m, lambda k, a, b: a + b), "price").alias("p2"),
    )


# --- row/struct + sequence / zip / flatten ----------------------------------

@_q(
    "func_struct_seq",
    """
SELECT o_orderkey,
       o_totalprice AS fld,
       CAST((1 + o_orderkey % 3) * (2 + o_orderkey % 3) / 2 AS BIGINT) AS seqsum,
       CAST(date_diff('day', o_orderdate, o_orderdate + INTERVAL 1 MONTH) // 7 + 1
            AS INTEGER) AS nweeks,
       CAST(o_orderkey % 3 AS INTEGER) AS nrep,
       o_orderkey + 1 AS flat2
FROM orders WHERE o_orderkey < 100
""",
)
def func_struct_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row construction + field access (``RowType``), sequence()
    (``SequenceFunction.java``), zip_with (``ZipFunction.java``),
    array_repeat/flatten (``Array*.java``). Sequence sums have closed-form
    oracles; the date sequence length equals floor(days/7)+1."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    ok = F.col("o_orderkey")
    n = F.lit(1) + ok % 3
    return orders.filter(ok < 100).select(
        "o_orderkey",
        F.expr("named_struct('k', o_orderkey, 'p', o_totalprice).p").alias("fld"),
        F.aggregate(
            F.sequence(F.lit(1).cast("long"), n), F.lit(0).cast("long"), lambda s, x: s + x
        ).alias("seqsum"),
        F.size(
            F.sequence(
                F.to_date("o_orderdate"),
                F.add_months(F.to_date("o_orderdate"), 1),
                F.expr("interval 7 days"),
            )
        ).alias("nweeks"),
        F.size(F.array_repeat(F.col("o_orderstatus"), (ok % 3).cast("int"))).alias("nrep"),
        F.element_at(F.flatten(F.array(F.array(ok), F.array(ok + 1))), 2).alias("flat2"),
    )


# --- URL family --------------------------------------------------------------

# Kept port (keep-rule 2c, text skips the function): it pins constants, not URL calls.
@_q(
    "func_url",
    """
SELECT c_custkey,
       'https' AS proto,
       'shop.example.com' AS host,
       '/seg/' || lower(c_mktsegment) AS path,
       'id=' || CAST(c_custkey AS VARCHAR) || '&tag=a-b' AS query,
       CAST(c_custkey AS VARCHAR) AS id_param,
       replace(replace(replace('a b/' || c_name, '/', '%2F'), '#', '%23'), ' ', '+')
         AS enc
FROM customer WHERE c_custkey < 300
""",
)
def func_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """url_extract_protocol/host/path/query/parameter + url_encode
    (``UrlFunctions.java``) via Spark parse_url/url_encode. The oracle
    reconstructs expected parts from the URL's own components."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://shop.example.com/seg/"),
        F.lower("c_mktsegment"),
        F.lit("?id="),
        F.col("c_custkey").cast("string"),
        F.lit("&tag=a-b"),
    )
    return cust.filter(F.col("c_custkey") < 300).select(
        "c_custkey",
        F.parse_url(url, F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY")).alias("query"),
        F.parse_url(url, F.lit("QUERY"), F.lit("id")).alias("id_param"),
        F.url_encode(F.concat(F.lit("a b/"), F.col("c_name"))).alias("enc"),
    )


# --- TRY / try_cast semantics ------------------------------------------------

# Kept port (keep-rule 2c, text skips the function): it expands try_cast by hand.
@_q(
    "func_trycast",
    """
SELECT c_custkey,
       try_cast(c_name AS INTEGER) AS bad_int,
       try_cast(CAST(c_custkey AS VARCHAR) AS INTEGER) AS good_int,
       round(CASE WHEN c_custkey % 3 = 0 THEN NULL
                  ELSE c_acctbal / (c_custkey % 3) END, 6) AS try_div,
       try_cast('2020-13-0' || CAST(1 + c_custkey % 9 AS VARCHAR) AS DATE) AS bad_date,
       try_cast('2020-0' || CAST(1 + c_custkey % 9 AS VARCHAR) || '-15' AS DATE)
         AS good_date,
       CAST(NULL AS BIGINT) AS ovf
FROM customer WHERE c_custkey < 300
""",
)
def func_trycast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presto TRY()/try_cast → NULL-on-error (``TryFunction.java``,
    ``TryCastFunction.java``) via Spark try_cast/try_divide/try_add."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    return cust.filter(ck < 300).select(
        "c_custkey",
        F.expr("try_cast(c_name as int)").alias("bad_int"),
        F.expr("try_cast(cast(c_custkey as string) as int)").alias("good_int"),
        F.round(F.try_divide(F.col("c_acctbal"), (ck % 3).cast("double")), 6).alias(
            "try_div"
        ),
        F.expr(
            "try_cast(concat('2020-13-0', cast(1 + c_custkey % 9 as string)) as date)"
        ).alias("bad_date"),
        F.expr(
            "try_cast(concat('2020-0', cast(1 + c_custkey % 9 as string), '-15') as date)"
        ).alias("good_date"),
        F.try_add(F.lit(9223372036854775807), ck + 1).alias("ovf"),
    )


# --- math family: width_bucket, bases, hyperbolics ---------------------------

# Kept port (keep-rule 2c, text skips the function): it expands the math functions by hand.
@_q(
    "func_math_extra",
    """
SELECT l_orderkey, l_linenumber,
       CAST(CASE WHEN l_quantity >= 50 THEN 11
                 WHEN l_quantity < 0 THEN 0
                 ELSE 1 + floor(l_quantity / 5) END AS INTEGER) AS wb,
       lower(to_base(l_orderkey, 16)) AS hx16,
       CAST(factorial(CAST(l_linenumber % 6 AS INTEGER)) AS BIGINT) AS fact,
       round(cbrt(l_quantity), 6) AS cb,
       round(log2(l_quantity + 1), 6) AS l2,
       round((exp(l_discount) - exp(-l_discount)) / 2, 6) AS sh,
       round((exp(l_discount) + exp(-l_discount)) / 2, 6) AS chh,
       round((exp(2 * l_discount) - 1) / (exp(2 * l_discount) + 1), 6) AS th,
       round(atan2(l_discount, l_tax + 0.01), 6) AS at2,
       round(sqrt(l_quantity * l_quantity + l_discount * l_discount), 6) AS hyp,
       CAST(((CAST(5 - l_linenumber AS BIGINT) % 3) + 3) % 3 AS BIGINT) AS pm
FROM lineitem WHERE l_orderkey < 100
""",
)
def func_math_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """width_bucket / to_base / factorial-like / hyperbolics / atan2 / pmod
    (``MathFunctions.java``). DuckDB lacks width_bucket & hyperbolics — the
    oracle computes the definitions."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    d = F.col("l_discount")
    return li.filter(F.col("l_orderkey") < 100).select(
        "l_orderkey",
        "l_linenumber",
        F.width_bucket(F.col("l_quantity"), F.lit(0), F.lit(50), F.lit(10))
        .cast("int")
        .alias("wb"),
        F.lower(F.conv(F.col("l_orderkey").cast("string"), 10, 16)).alias("hx16"),
        F.factorial((F.col("l_linenumber") % 6).cast("int")).alias("fact"),
        F.round(F.cbrt("l_quantity"), 6).alias("cb"),
        F.round(F.log2(F.col("l_quantity") + 1), 6).alias("l2"),
        F.round(F.sinh(d), 6).alias("sh"),
        F.round(F.cosh(d), 6).alias("chh"),
        F.round(F.tanh(d), 6).alias("th"),
        F.round(F.atan2(d, F.col("l_tax") + 0.01), 6).alias("at2"),
        F.round(F.hypot("l_quantity", "l_discount"), 6).alias("hyp"),
        F.pmod((F.lit(5) - F.col("l_linenumber")).cast("long"), F.lit(3).cast("long"))
        .cast("long")
        .alias("pm"),
    )


# --- aggregate: map_agg / multimap_agg (canonicalized) -----------------------

@_q(
    "agg_map",
    """
WITH base AS (SELECT * FROM lineitem WHERE l_orderkey < 500),
p AS (
  SELECT l_orderkey, l_linenumber, min(l_quantity) AS v
  FROM base GROUP BY l_orderkey, l_linenumber
),
m1 AS (
  SELECT l_orderkey,
         array_to_string(list(l_linenumber ORDER BY l_linenumber), ',') AS m_keys,
         array_to_string(list(CAST(round(v * 100) AS BIGINT)
                              ORDER BY l_linenumber), ',') AS m_vals
  FROM p GROUP BY l_orderkey
),
m2 AS (
  SELECT l_orderkey,
         array_to_string(list(l_returnflag || ':' || CAST(l_linenumber AS VARCHAR)
              ORDER BY l_returnflag || ':' || CAST(l_linenumber AS VARCHAR)), ',') AS mm
  FROM base GROUP BY l_orderkey
)
SELECT m1.l_orderkey, m_keys, m_vals, mm FROM m1 JOIN m2 ON m1.l_orderkey = m2.l_orderkey
""",
)
def agg_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_agg / multimap_agg (``MapAggregationFunction.java``,
    ``multimapagg/``) built as map_from_entries(collect_list(struct)) then
    canonicalized to key-sorted arrays — map iteration order is undefined in
    both engines, arrays hash stably. The synthetic lineitem has duplicate
    (orderkey, linenumber) pairs; Presto map_agg keeps an arbitrary value on
    key collision — we pin it with min() so both engines agree. multimap_agg
    keeps ALL values (sorted entry list)."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    base = li.filter(F.col("l_orderkey") < 500)
    pairs = base.groupBy("l_orderkey", "l_linenumber").agg(F.min("l_quantity").alias("v"))
    m = F.map_from_entries(F.array_sort(F.collect_list(F.struct("l_linenumber", "v"))))
    # battery shape: keys/values/entries serialized to joined strings
    # (driver canonicalizer cannot sort list columns); values as exact cents
    mapped = pairs.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(F.map_keys(m), lambda k: k.cast("string")), ","
        ).alias("m_keys"),
        F.array_join(
            F.transform(
                F.map_values(m),
                lambda v: F.round(v * 100).cast("long").cast("string"),
            ),
            ",",
        ).alias("m_vals"),
    )
    mm_entry = F.concat("l_returnflag", F.lit(":"), F.col("l_linenumber").cast("string"))
    mm = base.select("l_orderkey", mm_entry.alias("mme")).groupBy("l_orderkey").agg(
        F.array_join(F.sort_array(F.collect_list("mme")), ",").alias("mm")
    )
    return mapped.join(mm, "l_orderkey")


# --- aggregate: histogram + entropy ------------------------------------------

@_q(
    "agg_hist_entropy",
    """
WITH c AS (
  SELECT l_returnflag, l_linestatus, count(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
e AS (
  SELECT l_returnflag, entropy(l_linestatus) AS ent
  FROM lineitem GROUP BY l_returnflag
)
SELECT c.l_returnflag,
       array_to_string(list(c.l_linestatus ORDER BY c.l_linestatus), ',') AS h_keys,
       array_to_string(list(c.cnt ORDER BY c.l_linestatus), ',') AS h_cnts,
       round(any_value(e.ent), 6) AS ent
FROM c JOIN e ON e.l_returnflag = c.l_returnflag
GROUP BY c.l_returnflag
""",
)
def agg_hist_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram (``histogram/``) canonicalized to sorted key/count arrays,
    plus Shannon entropy (``EntropyAggregation.java``) computed from the
    histogram counts: -Σ p·log2(p). Two-level aggregation — the partial
    (rf, ls) rollup is map-side combinable, so this scales as two cheap
    shuffles of ~|groups| rows regardless of input size."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_returnflag", "l_linestatus").agg(F.count("*").alias("cnt"))
    p = F.col("cnt") / F.sum("cnt").over(Window.partitionBy("l_returnflag"))
    counts = counts.withColumn("p", p)
    return counts.groupBy("l_returnflag").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linestatus", "cnt"))),
                lambda e: e.l_linestatus,
            ),
            ",",
        ).alias("h_keys"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linestatus", "cnt"))),
                lambda e: e.cnt.cast("string"),
            ),
            ",",
        ).alias("h_cnts"),
        F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("ent"),
    )


# --- aggregate: checksum / geometric_mean / sum distinct ---------------------

@_q(
    "agg_checksum_geomean",
    """
SELECT l_returnflag,
       bit_xor(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                || CAST(l_linenumber AS VARCHAR)), 1, 15))::BIGINT) AS cksum,
       round(exp(avg(ln(l_quantity + 1))), 6) AS geomean,
       CAST(sum(DISTINCT CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_dq
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_checksum_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """checksum (``ChecksumAggregationFunction.java`` — order-independent
    XOR of per-row hashes; here md5-derived so both engines agree),
    geometric_mean (``GeometricMeanAggregations.java``) and SUM(DISTINCT)."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    row_hash = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("l_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.bit_xor(row_hash).alias("cksum"),
        F.round(F.exp(F.avg(F.log(F.col("l_quantity") + 1))), 6).alias("geomean"),
        F.sum_distinct(F.col("l_quantity").cast("long")).alias("sum_dq"),
    )


# --- aggregate: central moments + linear regression --------------------------

# Kept port (keep-rule 2c, text skips the function): it expands the moment and regr_* aggregates by hand.
@_q(
    "agg_moments_regr",
    """
WITH mu AS (
  SELECT l_returnflag AS f, avg(l_quantity) AS m
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       round(avg(pow(l_quantity - m, 3)) / pow(avg(pow(l_quantity - m, 2)), 1.5), 6)
         AS skew,
       round(avg(pow(l_quantity - m, 4)) / pow(avg(pow(l_quantity - m, 2)), 2) - 3, 6)
         AS kurt,
       round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity), 6) AS icept,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
FROM lineitem JOIN mu ON mu.f = l_returnflag
GROUP BY l_returnflag
""",
)
def agg_moments_regr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """skewness/kurtosis (``CentralMomentsAggregation.java`` — population
    moments, matching Spark) and regr_slope/intercept/count
    (``DoubleRegressionAggregation.java``). The oracle computes the moment
    definitions (DuckDB's skewness/kurtosis are sample-adjusted)."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.skewness("l_quantity"), 6).alias("skew"),
        F.round(F.kurtosis("l_quantity"), 6).alias("kurt"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 6).alias("icept"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n"),
    )


# --- aggregate: ordered arrays / top-N values / set_agg ----------------------

@_q(
    "agg_arrays_topn",
    """
SELECT CAST(c_nationkey AS INTEGER) AS nat,
       array_to_string((list(c_custkey ORDER BY CAST(round(c_acctbal * 100) AS BIGINT) * 1000000
             + c_custkey DESC))[1:3], ',') AS top3,
       array_to_string(list(c_custkey ORDER BY c_custkey), ',') AS all_keys,
       array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS seg_csv
FROM customer GROUP BY c_nationkey
""",
)
def agg_arrays_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_agg with ordering, max(x,n)-style top-N values
    (``MaxNAggregationFunction.java`` — emulated per SURVEY §2.4 as
    slice(sort_array(collect_list))), set_agg, and string_agg
    (canonical sorted-join form). Ties pinned by folding the key into an
    exact BIGINT, as in agg_minmax_by."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    key = F.round(F.col("c_acctbal") * 100).cast("long") * 1000000 + F.col("c_custkey")
    withk = cust.select(F.col("c_nationkey").cast("int").alias("nat"),
                        "c_custkey", "c_mktsegment", key.alias("k"))
    return withk.groupBy("nat").agg(
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_list(F.struct("k", "c_custkey")), False), 1, 3),
                lambda e: e.c_custkey.cast("string"),
            ),
            ",",
        ).alias("top3"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("c_custkey")), lambda k: k.cast("string")
            ),
            ",",
        ).alias("all_keys"),
        F.array_join(F.sort_array(F.collect_set("c_mktsegment")), ",").alias("seg_csv"),
    )


@_q(
    "agg_map_union",
    """
WITH per_order AS (
  SELECT l_returnflag, l_orderkey, l_linestatus, count(*) AS cnt
  FROM lineitem WHERE l_orderkey < 2000
  GROUP BY l_returnflag, l_orderkey, l_linestatus
), merged AS (
  SELECT l_returnflag, l_linestatus, max(cnt) AS v
  FROM per_order GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag,
       array_to_string(list(l_linestatus ORDER BY l_linestatus), ',') AS m_keys,
       array_to_string(list(v ORDER BY l_linestatus), ',') AS m_vals
FROM merged GROUP BY l_returnflag
""",
)
def agg_map_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """map_union (``MapUnionAggregation.java``) — per-order maps
    {linestatus: count} merged across orders. Presto keeps an arbitrary
    value on key collision; we pin max() so both engines agree. Emulated
    the scalable way: explode the per-row maps and re-aggregate by key
    (map-side combinable), then canonicalize to key-sorted arrays."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    per_order = (
        li.filter(F.col("l_orderkey") < 2000)
        .groupBy("l_returnflag", "l_orderkey", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
    )
    merged = per_order.groupBy("l_returnflag", "l_linestatus").agg(F.max("cnt").alias("v"))
    es = F.array_sort(F.collect_list(F.struct("l_linestatus", "v")))
    return merged.groupBy("l_returnflag").agg(
        F.array_join(F.transform(es, lambda e: e.l_linestatus), ",").alias("m_keys"),
        F.array_join(
            F.transform(es, lambda e: e.v.cast("string")), ","
        ).alias("m_vals"),
    )


# Kept port (keep-rule 2c, text skips the function): it pins TRUE instead of merging sketches.
@_q(
    "agg_hll_sketch",
    """
SELECT CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_groups,
       CAST(count(DISTINCT c_custkey) AS BIGINT) AS exact_total,
       TRUE AS merged_within_5pct
FROM customer
""",
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_set / merge(HLL) / cardinality(hll) as first-class mergeable
    sketch values (``ApproximateSetAggregation.java``,
    ``MergeHyperLogLogAggregation.java``, ``HyperLogLogFunctions.java``) via
    Spark 3.5 Datasketches hll_sketch_agg/hll_union_agg/hll_sketch_estimate.
    Two-level: per-nation sketches are merged to a global estimate —
    the mergeable-sketch path that scales to 100 TB (partial aggregation
    map-side, fixed-size state). Sketch bytes are engine-specific, so the
    oracle checks the merge's ACCURACY: the merged estimate must land
    within 5% of the exact global distinct count (in-query boolean pinned
    TRUE by the oracle) alongside the exact group count and total."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk"),
        F.countDistinct("c_custkey").alias("exact_n"),
    )
    est = F.hll_sketch_estimate(F.hll_union_agg("sk"))
    exact = F.sum("exact_n")  # nationkey partitions custkeys → sum is global
    return per_nation.agg(
        F.count("*").alias("n_groups"),
        exact.cast("long").alias("exact_total"),
        (
            F.abs(est - exact)
            <= F.greatest((exact * 0.05).cast("long"), F.lit(2))
        ).alias("merged_within_5pct"),
    )


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
    sized = spark_sql(spark, """
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
        FROM {cust}
    """, cust=cust.filter(F.col("c_custkey") < 2000))
    # cut before the ORDER BY, whose range sampler would run the Python
    # UDF stage a second time (the shared-stage rule in ``catalog``)
    return sized.localCheckpoint(eager=False).orderBy("id")


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
