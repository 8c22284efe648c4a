"""Scalar + aggregate function corpus, part 2 — the remaining §2.8/§2.4 families.

Covers the reference function families not exercised by
``functions_corpus.py``: extended string ops (``StringFunctions.java``,
``pm/operator/scalar/``), binary/crypto + bitwise
(``VarbinaryFunctions.java``, ``BitwiseFunctions.java``), map functions
(``Map*.java``), row/struct + ``sequence`` (``SequenceFunction.java``,
``ZipFunction.java``), URL functions (``UrlFunctions.java``), ``TRY``/
``try_cast`` semantics (``TryFunction.java``, ``TryCastFunction.java``),
extended math (``MathFunctions.java`` — ``width_bucket``, ``from_base``/
``to_base``, hyperbolics), and the aggregate families ``map_agg``/
``multimap_agg`` (``MapAggregationFunction.java``, ``multimapagg/``),
``histogram`` + ``entropy`` (``histogram/``, ``EntropyAggregation.java``),
``checksum`` (``ChecksumAggregationFunction.java``), ``geometric_mean``
(``GeometricMeanAggregations.java``), ``skewness``/``kurtosis``
(``CentralMomentsAggregation.java``), ``min``/``max(x,n)`` + ``array_agg``
(``MinNAggregationFunction.java``, ``arrayagg/``), and linear regression
(``DoubleRegressionAggregation.java``).

Design rules shared with part 1: pure ``pyspark.sql.functions``
expressions (JVM-side, WholeStageCodegen — no Python in any hot path);
DuckDB oracles express the *expected values*, not necessarily the same
function spelling (DuckDB lacks e.g. ``width_bucket``/``sinh`` — the
oracle computes the definition); floats are rounded in-query; map/struct
outputs are canonicalized to sorted arrays so the driver's value-hash is
order-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_tables
from ..registry import family

QUERIES, ORACLE, _q = family()


# --- string family, part 2 ---------------------------------------------------

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


# --- math family, part 2 -----------------------------------------------------

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
