"""TPC-DS adapted — all 99 queries of the reference's corpus on the driver
testdata.

The reference ships TPC-DS q01-q99 as benchmarks and product tests
(``presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/*.sql``,
``presto-product-tests/.../sql-tests/testcases/tpcds/``). The driver
testdata is TPC-H-shaped, so each query here keeps the REFERENCE QUERY'S
SHAPE (join topology, CTE re-use, windowing, correlated predicates,
decimal rollups, order/limit — cited per query from ``tpcds/qNN.sql``)
with this dimension mapping:

=====================  =====================================================
TPC-DS                 driver schema
=====================  =====================================================
store_sales (fact)     lineitem ⋈ orders (revenue ``_REV_SQL``)
catalog/web channels   tax / totalprice expressions
item                   part (i_brand=p_brand, i_category=p_type,
                       i_manager_id / i_manufact_id = p_size surrogate)
date_dim               functions of o_orderdate / l_shipdate
customer_demographics  customer.c_mktsegment
store/address geo      c_nationkey vs s_nationkey; state/city → nation
store/warehouse        supplier (l_suppkey)
returns                lineitem rows with l_returnflag = 'R'
=====================  =====================================================

Each query is its SQL text, the same text the DuckDB oracle runs,
registered by :func:`presto_db_spark.engine.sql_entry` and run through
:func:`presto_db_spark.engine.sql_query` (the engine's SQL front end and
Catalyst do the planning). A DataFrame port stays only where its comment
names the keep-rule that holds for it: the text does not run on Spark or
returns other rows there (1), the port does something the SQL cannot (2),
or the port is measurably faster (3).

Money rollups use the exact-cents idiom (``_msum_sql``/``_csum_sql``) so
Spark and DuckDB agree to the hashed digit regardless of accumulation
order — TPC-DS's decimal(7,2) semantics on binary doubles. Every LIMIT
query carries a deterministic total ORDER BY in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..engine import sql_entry
from ..registry import family
from .tpch import _csum, _csum_sql, _msum, _msum_sql

QUERIES, ORACLE, _q = family()


def _rev():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REV_SQL = "l_extendedprice * (1 - l_discount)"


# --- q3: year x brand revenue for one manufacturer, November ---------------

sql_entry(
    _q, "tpcds_q03",
    f"""
SELECT year(o.o_orderdate) AS d_year, p.p_brand AS brand,
       {_msum_sql(_REV_SQL)} AS sum_agg
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size = 28 AND month(o.o_orderdate) = 11
GROUP BY d_year, brand
ORDER BY d_year ASC, sum_agg DESC, brand ASC
LIMIT 100
""",
)


# --- q7: demographic-filtered per-item averages ----------------------------

sql_entry(
    _q, "tpcds_q07",
    f"""
SELECT p.p_brand AS i_brand,
       round(avg(l.l_quantity), 6) AS agg1,
       round({_csum_sql("l.l_extendedprice")} / 100.0 / count(*), 6) AS agg2,
       round({_csum_sql("l.l_discount")} / 100.0 / count(*), 6) AS agg3,
       round({_csum_sql("l.l_tax")} / 100.0 / count(*), 6) AS agg4
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE c.c_mktsegment = 'BUILDING'
  AND (o.o_orderpriority = '1-URGENT' OR o.o_orderstatus = 'F')
  AND year(o.o_orderdate) = 2000
GROUP BY i_brand
ORDER BY i_brand ASC
LIMIT 100
""",
)


# --- q19: brand revenue where buyer and supplier geographies differ --------

sql_entry(
    _q, "tpcds_q19",
    f"""
SELECT p.p_brand AS brand, p.p_type AS i_manufact,
       {_msum_sql(_REV_SQL)} AS ext_price
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size = 8 AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1998
  AND c.c_nationkey <> s.s_nationkey
GROUP BY brand, i_manufact
ORDER BY ext_price DESC, brand ASC, i_manufact ASC
LIMIT 100
""",
)


# --- q42 / q52: year x category / year x brand November rollups ------------

sql_entry(
    _q, "tpcds_q42",
    f"""
SELECT year(o.o_orderdate) AS d_year, p.p_type AS i_category,
       {_msum_sql(_REV_SQL)} AS sum_sales
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size = 1 AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 2000
GROUP BY d_year, i_category
ORDER BY sum_sales DESC, d_year ASC, i_category ASC
LIMIT 100
""",
)


sql_entry(
    _q, "tpcds_q52",
    f"""
SELECT year(o.o_orderdate) AS d_year, p.p_brand AS brand,
       {_msum_sql(_REV_SQL)} AS ext_price
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_size = 1 AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 2000
GROUP BY d_year, brand
ORDER BY d_year ASC, ext_price DESC, brand ASC
LIMIT 100
""",
)


# --- q95: CTE re-used in two IN-subqueries (multi-supplier orders) ---------

sql_entry(
    _q, "tpcds_q95",
    f"""
WITH multi_supp AS (
  SELECT DISTINCT l1.l_orderkey
  FROM lineitem l1 JOIN lineitem l2
    ON l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey
)
SELECT CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS order_cnt,
       {_msum_sql("l.l_extendedprice * l.l_tax")} AS total_ship_cost,
       {_msum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS total_net_profit
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1997-03-01'
  AND o.o_orderdate <  TIMESTAMP '1997-05-01'
  AND n.n_name = 'FRANCE'
  AND l.l_orderkey IN (SELECT l_orderkey FROM multi_supp)
  AND l.l_orderkey IN (
    SELECT r.l_orderkey FROM lineitem r
    JOIN multi_supp m ON m.l_orderkey = r.l_orderkey
    WHERE r.l_returnflag = 'R')
""",
)


# --- q11: year-over-year growth, CTE referenced four times -----------------

sql_entry(
    _q, "tpcds_q11",
    f"""
WITH year_total AS (
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql(_REV_SQL)} AS year_total, 's' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY customer_id, customer_name, dyear
  UNION ALL
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql("o.o_totalprice")} AS year_total, 'w' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY customer_id, customer_name, dyear
)
SELECT s2.customer_id, s2.customer_name
FROM year_total s1
JOIN year_total s2 ON s2.customer_id = s1.customer_id
JOIN year_total w1 ON w1.customer_id = s1.customer_id
JOIN year_total w2 ON w2.customer_id = s1.customer_id
WHERE s1.sale_type = 's' AND s2.sale_type = 's'
  AND w1.sale_type = 'w' AND w2.sale_type = 'w'
  AND s1.dyear = 1999 AND s2.dyear = 2000
  AND w1.dyear = 1999 AND w2.dyear = 2000
  AND s1.year_total > 0 AND w1.year_total > 0
  AND CAST(w2.year_total AS DOUBLE) / w1.year_total
      > CAST(s2.year_total AS DOUBLE) / s1.year_total
ORDER BY s2.customer_id ASC
LIMIT 100
""",
)


# --- q88: eight time-slot scans of one fact, single-row cross join ---------

sql_entry(
    _q, "tpcds_q88",
    """
SELECT * FROM
 (SELECT CAST(count(*) AS BIGINT) AS h1 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 1) s1,
 (SELECT CAST(count(*) AS BIGINT) AS h2 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 2) s2,
 (SELECT CAST(count(*) AS BIGINT) AS h3 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 3) s3,
 (SELECT CAST(count(*) AS BIGINT) AS h4 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 4) s4,
 (SELECT CAST(count(*) AS BIGINT) AS h5 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 5) s5,
 (SELECT CAST(count(*) AS BIGINT) AS h6 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 6) s6,
 (SELECT CAST(count(*) AS BIGINT) AS h7 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 7) s7,
 (SELECT CAST(count(*) AS BIGINT) AS h8 FROM lineitem l JOIN orders o
    ON o.o_orderkey = l.l_orderkey WHERE month(o.o_orderdate) = 8) s8
""",
)


# --- q67: rollup + per-category window rank --------------------------------

sql_entry(
    _q, "tpcds_q67",
    f"""
WITH results AS (
  SELECT p.p_type AS i_category, p.p_brand AS i_brand,
         year(o.o_orderdate) AS d_year,
         {_csum_sql(_REV_SQL)} AS sumsales
  FROM orders o
  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE year(o.o_orderdate) BETWEEN 1998 AND 2000
  GROUP BY ROLLUP (i_category, i_brand, d_year)
)
SELECT i_category, i_brand, d_year, sumsales, rk
FROM (
  SELECT i_category, i_brand, d_year, sumsales,
         rank() OVER (PARTITION BY i_category
                      ORDER BY sumsales DESC, i_brand NULLS FIRST,
                               d_year NULLS FIRST) AS rk
  FROM results
)
WHERE rk <= 5
ORDER BY i_category NULLS FIRST, rk, i_brand NULLS FIRST, d_year NULLS FIRST
""",
)


# --- q34: trips with 5-7 items, joined back to the customer ----------------

sql_entry(
    _q, "tpcds_q34",
    """
WITH trips AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_orderkey HAVING count(*) BETWEEN 5 AND 7
)
SELECT c.c_name, c.c_custkey, t.l_orderkey AS ticket, t.cnt
FROM trips t
JOIN orders o ON o.o_orderkey = t.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE o.o_orderstatus = 'F'
ORDER BY c.c_name, c.c_custkey, ticket
""",
)


# --- q48: sum over three OR'd demographic/quantity/discount bands ----------

sql_entry(
    _q, "tpcds_q48",
    """
SELECT CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
WHERE (c.c_mktsegment = 'AUTOMOBILE' AND l.l_discount BETWEEN 0.00 AND 0.03
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (c.c_mktsegment = 'BUILDING' AND l.l_discount BETWEEN 0.03 AND 0.06
       AND l.l_quantity BETWEEN 10 AND 35)
   OR (c.c_mktsegment = 'MACHINERY' AND l.l_discount BETWEEN 0.06 AND 0.10
       AND l.l_quantity BETWEEN 25 AND 50)
""",
)


# ---------------------------------------------------------------------------
# Round-4 widening: INTERSECT/EXCEPT batteries, UNION-of-channels CTEs,
# EXISTS batteries, share-of-parent rollup windows. Channel mapping:
# l_returnflag N = store_sales, A = catalog_sales, R = web_sales (three
# disjoint row sets over the same fact, like TPC-DS's three channel facts).
# ---------------------------------------------------------------------------


def _channel_cust_dates_sql(flag: str) -> str:
    return f"""
  SELECT DISTINCT c.c_name AS c_name, CAST(o.o_orderdate AS DATE) AS d_date
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) = 1997"""


sql_entry(
    _q, "tpcds_q38",
    f"""
SELECT CAST(count(*) AS BIGINT) AS cnt FROM (
  {_channel_cust_dates_sql('N')}
  INTERSECT
  {_channel_cust_dates_sql('A')}
  INTERSECT
  {_channel_cust_dates_sql('R')}
) hot_cust
""",
)


sql_entry(
    _q, "tpcds_q87",
    f"""
SELECT CAST(count(*) AS BIGINT) AS cnt FROM (
  ({_channel_cust_dates_sql('N')})
  EXCEPT
  ({_channel_cust_dates_sql('A')})
  EXCEPT
  ({_channel_cust_dates_sql('R')})
) cool_cust
""",
)


# --- q2: week-over-year sales ratio from a UNION-of-channels CTE -----------

_Q02_DAYS = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday"]
_Q02_PIVOT_SQL = ", ".join(
    f"sum(CASE WHEN dname = '{d}' THEN cents END) AS {d[:3].lower()}_sales"
    for d in _Q02_DAYS
)
_Q02_RATIOS_SQL = ", ".join(
    f"round(CAST(w1.{d[:3].lower()}_sales AS DOUBLE) / w2.{d[:3].lower()}_sales, 2) "
    f"AS {d[:3].lower()}_ratio"
    for d in _Q02_DAYS
)

# Kept port (keep-rule 1, text not portable): dayname() spells weekdays differently on Spark.
@_q(
    "tpcds_q02",
    f"""
WITH wscs AS (
  SELECT CAST(l.l_shipdate AS DATE) AS sold_date, round(l.l_extendedprice * 100) AS cents
  FROM lineitem l WHERE l.l_returnflag = 'R'
  UNION ALL
  SELECT CAST(o.o_orderdate AS DATE) AS sold_date, round(o.o_totalprice * 100) AS cents
  FROM orders o WHERE o.o_orderstatus = 'F'
), wswscs AS (
  SELECT (year(sold_date) - 1995) * 53 + weekofyear(sold_date) AS d_week_seq,
         dayname(sold_date) AS dname, cents
  FROM wscs
), pivoted AS (
  SELECT d_week_seq, {_Q02_PIVOT_SQL}
  FROM wswscs GROUP BY d_week_seq
)
SELECT w1.d_week_seq AS d_week_seq1, {_Q02_RATIOS_SQL}
FROM (SELECT * FROM pivoted WHERE d_week_seq BETWEEN 2 * 53 AND 3 * 53 - 1) w1
JOIN (SELECT * FROM pivoted WHERE d_week_seq BETWEEN 3 * 53 AND 4 * 53 - 1) w2
  ON w1.d_week_seq = w2.d_week_seq - 53
ORDER BY d_week_seq1
""",
)
def tpcds_q02(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q02 shape (tpcds/q02.sql: UNION-ALL of the web+catalog
    channels into one CTE, weekday pivot per week, then a self-join
    comparing each week's weekday mix to the same week one year later).

    Scale: the union is scan-shaped (no shuffle until the week groupBy);
    the year-over-year comparison joins two ~52-row aggregates. Week
    cents are exact integers so the pivoted sums are order-independent
    and the final ratios deterministic."""
    orders, lineitem = load_tables(spark, sf_dir, "orders", "lineitem")
    web = lineitem.filter(F.col("l_returnflag") == "R").select(
        F.col("l_shipdate").cast("date").alias("sold_date"),
        F.round(F.col("l_extendedprice") * 100).alias("cents"),
    )
    catalog = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderdate").cast("date").alias("sold_date"),
        F.round(F.col("o_totalprice") * 100).alias("cents"),
    )
    wscs = web.unionByName(catalog)
    wswscs = wscs.select(
        ((F.year("sold_date") - 1995) * 53 + F.weekofyear("sold_date")).alias("d_week_seq"),
        F.date_format("sold_date", "EEEE").alias("dname"),
        "cents",
    )
    pivoted = wswscs.groupBy("d_week_seq").agg(
        *[
            F.sum(F.when(F.col("dname") == d, F.col("cents"))).alias(f"{d[:3].lower()}_sales")
            for d in _Q02_DAYS
        ]
    )
    w1 = pivoted.filter(F.col("d_week_seq").between(2 * 53, 3 * 53 - 1)).alias("w1")
    w2 = pivoted.filter(F.col("d_week_seq").between(3 * 53, 4 * 53 - 1)).alias("w2")
    joined = w1.join(w2, F.col("w1.d_week_seq") == F.col("w2.d_week_seq") - 53)
    return joined.select(
        F.col("w1.d_week_seq").alias("d_week_seq1"),
        *[
            F.round(
                F.col(f"w1.{d[:3].lower()}_sales").cast("double")
                / F.col(f"w2.{d[:3].lower()}_sales"),
                2,
            ).alias(f"{d[:3].lower()}_ratio")
            for d in _Q02_DAYS
        ],
    ).orderBy("d_week_seq1")


# --- q5: per-channel sales/returns CTEs unioned into a ROLLUP --------------

_Q05_SSR_SQL = f"""
  SELECT 's' || CAST(l_suppkey AS STRING) AS id,
         {_csum_sql("CASE WHEN l_returnflag = 'N' THEN l_extendedprice ELSE 0 END")} AS sales,
         {_csum_sql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END")} AS returns,
         {_csum_sql("CASE WHEN l_returnflag = 'N' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
           - {_csum_sql("CASE WHEN l_returnflag = 'R' THEN l_extendedprice * l_tax ELSE 0 END")} AS profit
  FROM lineitem WHERE l_returnflag IN ('N', 'R') GROUP BY id"""
_Q05_CSR_SQL = f"""
  SELECT 'c' || o_orderpriority AS id,
         {_csum_sql("CASE WHEN o_orderstatus <> 'F' THEN o_totalprice ELSE 0 END")} AS sales,
         {_csum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS returns,
         {_csum_sql("CASE WHEN o_orderstatus <> 'F' THEN o_totalprice ELSE 0 END")}
           - {_csum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0 END")} AS profit
  FROM orders GROUP BY id"""
_Q05_WSR_SQL = f"""
  SELECT 'w' || CAST(l_linenumber AS STRING) AS id,
         {_csum_sql("CASE WHEN l_returnflag = 'A' THEN l_extendedprice ELSE 0 END")} AS sales,
         CAST(0 AS BIGINT) AS returns,
         {_csum_sql("CASE WHEN l_returnflag = 'A' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")} AS profit
  FROM lineitem WHERE l_returnflag = 'A' GROUP BY id"""

sql_entry(
    _q, "tpcds_q05",
    f"""
WITH ssr AS ({_Q05_SSR_SQL}), csr AS ({_Q05_CSR_SQL}), wsr AS ({_Q05_WSR_SQL}),
unioned AS (
  SELECT 'store channel' AS channel, id, sales, returns, profit FROM ssr
  UNION ALL
  SELECT 'catalog channel' AS channel, id, sales, returns, profit FROM csr
  UNION ALL
  SELECT 'web channel' AS channel, id, sales, returns, profit FROM wsr
)
SELECT channel, id,
       round(sum(sales) / 100.0, 2) AS sales,
       round(sum(returns) / 100.0, 2) AS returns,
       round(sum(profit) / 100.0, 2) AS profit
FROM unioned
GROUP BY ROLLUP (channel, id)
ORDER BY channel ASC NULLS FIRST, id ASC NULLS FIRST
LIMIT 100
""",
)


# --- q8: zip-list INTERSECT preferred-customer zips gating a star join -----

_Q08_NATIONS = "[3, 7, 11, 13, 17, 19, 23, 2, 5]"

# Kept port (keep-rule 1, text not portable): Spark rejects UNNEST outside join position.
@_q(
    "tpcds_q08",
    f"""
WITH zip_list AS (
  SELECT CAST(n AS BIGINT) AS n FROM (SELECT unnest({_Q08_NATIONS}) AS n)
), preferred AS (
  SELECT c_nationkey AS n
  FROM customer WHERE c_acctbal > 3000.0
  GROUP BY c_nationkey HAVING count(*) > 10
), zips AS (
  SELECT n FROM zip_list INTERSECT SELECT n FROM preferred
)
SELECT s.s_name AS s_store_name, {_msum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS net_profit
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
WHERE year(o.o_orderdate) = 1998
  AND s.s_nationkey IN (SELECT n FROM zips)
GROUP BY s_store_name
ORDER BY s_store_name ASC
LIMIT 100
""",
)
def tpcds_q08(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q08 shape (tpcds/q08.sql: a literal zip list INTERSECTed
    with zips of preferred customers — count(*)>10 HAVING — gating the
    store star join via IN-subquery). Nation keys stand in for 5-digit
    zips; supplier for store. The zips set is tiny → broadcast semi-join."""
    orders, lineitem, supplier, customer = load_tables(
        spark, sf_dir, "orders", "lineitem", "supplier", "customer"
    )
    zip_list = spark.range(0, 1).select(
        F.explode(F.array(*[F.lit(n) for n in (3, 7, 11, 13, 17, 19, 23, 2, 5)])).alias("n")
    ).select(F.col("n").cast("bigint").alias("n"))
    preferred = (
        customer.filter(F.col("c_acctbal") > 3000.0)
        .groupBy(F.col("c_nationkey").alias("n"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > 10)
        .select("n")
    )
    zips = zip_list.intersect(preferred)
    return (
        lineitem.join(
            orders.filter(F.year("o_orderdate") == 1998),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(supplier, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(zips, F.col("s_nationkey") == F.col("n"), "left_semi")
        .groupBy(F.col("s_name").alias("s_store_name"))
        .agg(_msum(_rev()).alias("net_profit"))
        .orderBy(F.asc("s_store_name"))
        .limit(100)
    )


# --- q10/q35: correlated-EXISTS batteries over channel activity ------------


def _channel_exists_sql(flag: str, year: int) -> str:
    return f"""EXISTS (
    SELECT * FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = '{flag}'
      AND year(o.o_orderdate) = {year})"""


sql_entry(
    _q, "tpcds_q10",
    f"""
SELECT c.c_mktsegment AS cd_segment,
       CAST(count(*) AS BIGINT) AS cnt1,
       round({_csum_sql("c.c_acctbal")} / 100.0 / count(*), 6) AS avg_bal,
       round(min(c.c_acctbal), 2) AS min_bal,
       round(max(c.c_acctbal), 2) AS max_bal
FROM customer c
WHERE {_channel_exists_sql("N", 1998)}
  AND ({_channel_exists_sql("A", 1998)} OR {_channel_exists_sql("R", 1998)})
GROUP BY cd_segment
ORDER BY cd_segment ASC
""",
)


sql_entry(
    _q, "tpcds_q35",
    f"""
SELECT n.n_name AS ca_state, c.c_mktsegment AS cd_segment,
       CAST(count(*) AS BIGINT) AS cnt,
       round(min(c.c_acctbal), 2) AS min_bal,
       round(max(c.c_acctbal), 2) AS max_bal,
       round({_csum_sql("c.c_acctbal")} / 100.0 / count(*), 6) AS avg_bal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE {_channel_exists_sql("N", 1997)}
  AND ({_channel_exists_sql("R", 1997)} OR {_channel_exists_sql("A", 1997)})
GROUP BY ca_state, cd_segment
ORDER BY ca_state ASC, cd_segment ASC
LIMIT 100
""",
)


# --- q36/q86: ROLLUP + rank-within-parent (GROUPING-keyed window) ----------


def _rollup_rank_sql(*, flag_pred: str, measure_sql: str, rank_dir: str, name_meas: str) -> str:
    return f"""
SELECT {measure_sql} AS {name_meas},
       p.p_type AS i_category, p.p_brand AS i_class,
       (GROUPING(p.p_type) + GROUPING(p.p_brand)) AS lochierarchy,
       CAST(rank() OVER (
         PARTITION BY (GROUPING(p.p_type) + GROUPING(p.p_brand)),
                      (CASE WHEN GROUPING(p.p_brand) = 0 THEN p.p_type END)
         ORDER BY {measure_sql} {rank_dir},
                  p.p_type ASC NULLS FIRST, p.p_brand ASC NULLS FIRST
       ) AS INTEGER) AS rank_within_parent
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE year(o.o_orderdate) = 2000 AND {flag_pred}
GROUP BY ROLLUP (p.p_type, p.p_brand)
ORDER BY lochierarchy DESC,
         (CASE WHEN lochierarchy = 0 THEN p.p_type END) ASC NULLS FIRST,
         rank_within_parent ASC,
         i_category ASC NULLS FIRST, i_class ASC NULLS FIRST
LIMIT 100
"""


sql_entry(
    _q, "tpcds_q36",
    _rollup_rank_sql(
        flag_pred="l.l_returnflag = 'N'",
        measure_sql=(
            f"round(CAST({_csum_sql('l.l_extendedprice * (1 - l.l_discount) - l.l_extendedprice * l.l_tax')} AS DOUBLE)"
            f" / {_csum_sql('l.l_extendedprice')}, 6)"
        ),
        rank_dir="ASC",
        name_meas="gross_margin",
    ),
)


sql_entry(
    _q, "tpcds_q86",
    _rollup_rank_sql(
        flag_pred="l.l_returnflag = 'R'",
        measure_sql=_msum_sql("l.l_extendedprice * (1 - l.l_discount)"),
        rank_dir="DESC",
        name_meas="total_sum",
    ),
)


# --- q1: correlated per-store average return threshold ---------------------

sql_entry(
    _q, "tpcds_q01",
    """
WITH ctr AS (
  SELECT o.o_custkey AS ctr_customer_sk, l.l_suppkey % 10 AS ctr_store_sk,
         sum(round(l.l_extendedprice * 100)) AS ctr_total_return
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = 1996
  GROUP BY 1, 2
)
SELECT c.c_name
FROM ctr ctr1
JOIN customer c ON ctr1.ctr_customer_sk = c.c_custkey
WHERE ctr1.ctr_total_return * 10 > (
    SELECT 12 * sum(ctr_total_return) / count(*)
    FROM ctr ctr2 WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk
  )
  AND ctr1.ctr_store_sk < 5
ORDER BY c.c_name
LIMIT 100
""",
)


# --- q9: bucketed CASE battery of scalar subqueries ------------------------

_Q09_BUCKETS = [(1, 10, 3000), (11, 20, 9000), (21, 30, 15000),
                (31, 40, 21000), (41, 50, 27000)]


def _q09_branch_sql(lo: int, hi: int, thr: int, n: int) -> str:
    disc = "CAST(sum(round(l_extendedprice * l_discount * 100)) AS BIGINT)"
    paid = "CAST(sum(round(l_extendedprice * (1 + l_tax) * 100)) AS BIGINT)"
    rng = f"l_quantity BETWEEN {lo} AND {hi}"
    return f"""
  CASE WHEN (SELECT count(*) FROM lineitem WHERE {rng}) > {thr}
       THEN (SELECT CAST({disc} // count(*) AS BIGINT) FROM lineitem WHERE {rng})
       ELSE (SELECT CAST({paid} // count(*) AS BIGINT) FROM lineitem WHERE {rng})
  END AS bucket{n}"""


# Kept port (keep-rule 1, text not portable): Spark cannot parse the text.
@_q(
    "tpcds_q09",
    f"""
SELECT {", ".join(_q09_branch_sql(lo, hi, thr, i + 1)
                  for i, (lo, hi, thr) in enumerate(_Q09_BUCKETS))}
FROM region WHERE r_regionkey = 0
""",
)
def tpcds_q09(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q09 shape (tpcds/q09.sql: fifteen scalar subqueries over
    quantity buckets folded through five CASE branches, evaluated from a
    one-row dim scan). The oracle keeps the reference's 15-subquery text;
    the Spark plan is the single-pass conditional aggregation Presto's
    optimizer cannot reach but a columnar engine should: one scan computes
    count/branch-numerator per bucket, integer-cent division keeps both
    engines bit-identical."""
    li, region = load_tables(spark, sf_dir, "lineitem", "region")
    aggs = []
    for i, (lo, hi, _) in enumerate(_Q09_BUCKETS, 1):
        in_b = F.col("l_quantity").between(lo, hi)
        aggs += [
            F.sum(F.when(in_b, 1).otherwise(0)).alias(f"cnt{i}"),
            F.sum(F.when(in_b, F.round(F.col("l_extendedprice") * F.col("l_discount") * 100)
                         .cast("long")).otherwise(0)).alias(f"disc{i}"),
            F.sum(F.when(in_b, F.round(F.col("l_extendedprice") * (1 + F.col("l_tax")) * 100)
                         .cast("long")).otherwise(0)).alias(f"paid{i}"),
        ]
    stats = li.agg(*aggs)
    one_row = region.filter(F.col("r_regionkey") == 0).select(F.lit(1).alias("_j"))
    buckets = [
        F.when(F.col(f"cnt{i}") > thr,
               F.expr(f"CAST(disc{i} DIV cnt{i} AS BIGINT)"))
         .otherwise(F.expr(f"CAST(paid{i} DIV cnt{i} AS BIGINT)"))
         .alias(f"bucket{i}")
        for i, (_, _, thr) in enumerate(_Q09_BUCKETS, 1)
    ]
    return stats.crossJoin(one_row).select(*buckets)


# --- q49: per-channel return-ratio dual ranking ----------------------------

_Q49_CHANNELS = {"web": (1, 4), "catalog": (2, 5), "store": (3, 6, 7)}


def _q49_channel_sql(ch: str) -> str:
    lines = ", ".join(map(str, _Q49_CHANNELS[ch]))
    return f"""
   SELECT '{ch}' AS channel, item, return_ratio, return_rank, currency_rank
   FROM (
     SELECT item, return_ratio, currency_ratio,
            rank() OVER (ORDER BY return_ratio) AS return_rank,
            rank() OVER (ORDER BY currency_ratio) AS currency_rank
     FROM (
       SELECT l_partkey AS item,
              CAST(sum(CASE WHEN l_returnflag = 'R' AND l_quantity >= 25
                            THEN l_quantity ELSE 0 END) AS DOUBLE)
                / sum(l_quantity) AS return_ratio,
              CAST(sum(CASE WHEN l_returnflag = 'R' AND l_quantity >= 25
                            THEN round(l_extendedprice * 100) ELSE 0 END) AS DOUBLE)
                / sum(round(l_extendedprice * 100)) AS currency_ratio
       FROM lineitem
       WHERE l_linenumber IN ({lines}) AND year(l_shipdate) = 1996
       GROUP BY l_partkey
       HAVING sum(CASE WHEN l_returnflag = 'R' AND l_quantity >= 25
                       THEN 1 ELSE 0 END) > 0
     ) in_{ch}
   ) ranked_{ch}
   WHERE return_rank <= 10 OR currency_rank <= 10"""


sql_entry(
    _q, "tpcds_q49",
    f"""
SELECT * FROM (
  {_q49_channel_sql('web')}
  UNION
  {_q49_channel_sql('catalog')}
  UNION
  {_q49_channel_sql('store')}
) u
ORDER BY channel, return_rank, currency_rank, item
LIMIT 100
""",
)


# --- q51: cumulative channel sums, FULL OUTER, running-max compare ---------

def _q51_channel_sql(flag: str) -> str:
    return f"""
   SELECT l_partkey % 50 AS item_sk, CAST(date_trunc('month', l_shipdate) AS DATE) AS d_date,
          sum(sum(round(l_extendedprice * 100)))
            OVER (PARTITION BY l_partkey % 50 ORDER BY date_trunc('month', l_shipdate)
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cume_sales
   FROM lineitem WHERE l_returnflag = '{flag}'
   GROUP BY l_partkey % 50, date_trunc('month', l_shipdate)"""


sql_entry(
    _q, "tpcds_q51",
    f"""
WITH web_v1 AS ({_q51_channel_sql('N')}),
     store_v1 AS ({_q51_channel_sql('A')})
SELECT item_sk, d_date, web_sales, store_sales, web_cumulative, store_cumulative
FROM (
  SELECT item_sk, d_date, web_sales, store_sales,
         max(web_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS web_cumulative,
         max(store_sales) OVER (PARTITION BY item_sk ORDER BY d_date
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS store_cumulative
  FROM (
    SELECT CASE WHEN web.item_sk IS NOT NULL THEN web.item_sk ELSE store.item_sk END AS item_sk,
           CASE WHEN web.d_date IS NOT NULL THEN web.d_date ELSE store.d_date END AS d_date,
           web.cume_sales AS web_sales, store.cume_sales AS store_sales
    FROM web_v1 web
    FULL JOIN store_v1 store ON web.item_sk = store.item_sk AND web.d_date = store.d_date
  ) x
) y
WHERE web_cumulative > store_cumulative
ORDER BY item_sk, d_date
LIMIT 100
""",
)


# --- q65: store-item revenue below a tenth of the store average ------------

sql_entry(
    _q, "tpcds_q65",
    """
WITH sa AS (
  SELECT l_suppkey AS store_sk, l_partkey AS item_sk,
         sum(round(l_extendedprice * (1 - l_discount) * 100)) AS revenue
  FROM lineitem GROUP BY l_suppkey, l_partkey
), sb AS (
  SELECT store_sk, sum(revenue) AS ssum, count(*) AS cnt
  FROM sa GROUP BY store_sk
)
SELECT s.s_name, p.p_name,
       round(sc.revenue / 100.0, 2) AS revenue, p.p_retailprice
FROM supplier s
JOIN sb ON sb.store_sk = s.s_suppkey
JOIN sa sc ON sc.store_sk = sb.store_sk
JOIN part p ON p.p_partkey = sc.item_sk
WHERE sc.revenue * 10 * sb.cnt <= sb.ssum
ORDER BY s.s_name, p.p_name
LIMIT 100
""",
)


# --- q78: unreturned sales per channel, cross-channel ratio ----------------

def _q78_channel_sql(mod: int, pre: str) -> str:
    return f"""
   SELECT year(l.l_shipdate) AS {pre}_sold_year, l.l_partkey % 50 AS {pre}_item_sk,
          o.o_custkey AS {pre}_customer_sk,
          CAST(sum(l.l_quantity) AS BIGINT) AS {pre}_qty,
          sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)) AS {pre}_wc,
          sum(round(l.l_extendedprice * 100)) AS {pre}_sp
   FROM lineitem l
   LEFT JOIN (SELECT l_orderkey, l_linenumber FROM lineitem
              WHERE l_linenumber % 3 = {mod} AND l_returnflag = 'R') r
     ON r.l_orderkey = l.l_orderkey AND r.l_linenumber = l.l_linenumber
   JOIN orders o ON o.o_orderkey = l.l_orderkey
   WHERE l.l_linenumber % 3 = {mod} AND r.l_orderkey IS NULL
   GROUP BY year(l.l_shipdate), l.l_partkey % 50, o.o_custkey"""


sql_entry(
    _q, "tpcds_q78",
    f"""
WITH ss AS ({_q78_channel_sql(0, 'ss')}),
     ws AS ({_q78_channel_sql(1, 'ws')}),
     cs AS ({_q78_channel_sql(2, 'cs')})
SELECT ss_item_sk, ss_customer_sk,
       round(CAST(ss_qty AS DOUBLE) / coalesce(ws_qty + cs_qty, 1), 2) AS ratio,
       ss_qty AS store_qty, ss_wc AS store_wholesale_cost, ss_sp AS store_sales_price,
       coalesce(ws_qty, 0) + coalesce(cs_qty, 0) AS other_chan_qty,
       coalesce(ws_wc, 0) + coalesce(cs_wc, 0) AS other_chan_wholesale_cost,
       coalesce(ws_sp, 0) + coalesce(cs_sp, 0) AS other_chan_sales_price
FROM ss
LEFT JOIN ws ON ws_sold_year = ss_sold_year AND ws_item_sk = ss_item_sk
            AND ws_customer_sk = ss_customer_sk
LEFT JOIN cs ON cs_sold_year = ss_sold_year AND cs_item_sk = ss_item_sk
            AND cs_customer_sk = ss_customer_sk
WHERE (coalesce(ws_qty, 0) > 0 OR coalesce(cs_qty, 0) > 0) AND ss_sold_year = 1996
ORDER BY ratio, ss_qty DESC, ss_wc DESC, ss_sp DESC, ss_item_sk, ss_customer_sk
LIMIT 100
""",
)


# --- q93: returns-adjusted actual sales per customer -----------------------

sql_entry(
    _q, "tpcds_q93",
    """
SELECT o_custkey AS ss_customer_sk, CAST(sum(act_sales) AS BIGINT) AS sumsales
FROM (
  SELECT o.o_custkey,
         CASE WHEN r.ret_qty IS NOT NULL
              THEN round((l.l_quantity - r.ret_qty) / l.l_quantity * l.l_extendedprice * 100)
              ELSE round(l.l_extendedprice * 100) END AS act_sales
  FROM lineitem l
  LEFT JOIN (
    SELECT li.l_orderkey AS ret_ok, li.l_linenumber AS ret_ln,
           floor(li.l_quantity / 2) AS ret_qty, s.s_nationkey
    FROM lineitem li JOIN supplier s ON li.l_suppkey = s.s_suppkey
    WHERE li.l_returnflag = 'R'
  ) r ON r.ret_ok = l.l_orderkey AND r.ret_ln = l.l_linenumber
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE r.s_nationkey = 7
) t
GROUP BY o_custkey
ORDER BY sumsales, ss_customer_sk
LIMIT 100
""",
)


# --- q97: channel-overlap counts via FULL OUTER join -----------------------

def _q97_channel_sql(flag: str) -> str:
    return f"""
   SELECT o.o_custkey AS customer_sk, l.l_partkey AS item_sk
   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
   WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) BETWEEN 1996 AND 1997
   GROUP BY o.o_custkey, l.l_partkey"""


sql_entry(
    _q, "tpcds_q97",
    f"""
WITH ssci AS ({_q97_channel_sql('N')}),
     csci AS ({_q97_channel_sql('A')})
SELECT CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
       CAST(sum(CASE WHEN ssci.customer_sk IS NULL AND csci.customer_sk IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS catalog_only,
       CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS store_and_catalog
FROM ssci
FULL JOIN csci ON ssci.customer_sk = csci.customer_sk AND ssci.item_sk = csci.item_sk
""",
)


# --- q31: quarter-over-quarter share growth, 6-way CTE self-join -----------

_Q31_SS_SQL = """
   SELECT c.c_nationkey AS county, quarter(o.o_orderdate) AS d_qoy,
          year(o.o_orderdate) AS d_year,
          sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)) AS store_sales
   FROM lineitem l
   JOIN orders o ON l.l_orderkey = o.o_orderkey
   JOIN customer c ON o.o_custkey = c.c_custkey
   GROUP BY c.c_nationkey, quarter(o.o_orderdate), year(o.o_orderdate)"""
_Q31_WS_SQL = """
   SELECT c.c_nationkey AS county, quarter(o.o_orderdate) AS d_qoy,
          year(o.o_orderdate) AS d_year,
          sum(round(o.o_totalprice * 100)) AS web_sales
   FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
   GROUP BY c.c_nationkey, quarter(o.o_orderdate), year(o.o_orderdate)"""


sql_entry(
    _q, "tpcds_q31",
    f"""
WITH ss AS ({_Q31_SS_SQL}),
     ws AS ({_Q31_WS_SQL})
SELECT ss1.county, ss1.d_year,
       CAST(ws2.web_sales AS DOUBLE) / ws1.web_sales AS web_q1_q2_increase,
       CAST(ss2.store_sales AS DOUBLE) / ss1.store_sales AS store_q1_q2_increase,
       CAST(ws3.web_sales AS DOUBLE) / ws2.web_sales AS web_q2_q3_increase,
       CAST(ss3.store_sales AS DOUBLE) / ss2.store_sales AS store_q2_q3_increase
FROM ss ss1, ss ss2, ss ss3, ws ws1, ws ws2, ws ws3
WHERE ss1.d_qoy = 1 AND ss1.d_year = 1996
  AND ss1.county = ss2.county AND ss2.d_qoy = 2 AND ss2.d_year = 1996
  AND ss2.county = ss3.county AND ss3.d_qoy = 3 AND ss3.d_year = 1996
  AND ss1.county = ws1.county AND ws1.d_qoy = 1 AND ws1.d_year = 1996
  AND ws1.county = ws2.county AND ws2.d_qoy = 2 AND ws2.d_year = 1996
  AND ws2.county = ws3.county AND ws3.d_qoy = 3 AND ws3.d_year = 1996
  AND ws2.web_sales * ss1.store_sales > ss2.store_sales * ws1.web_sales
  AND ws3.web_sales * ss2.store_sales > ss3.store_sales * ws2.web_sales
ORDER BY ss1.county
""",
)


# --- q44: best/worst performing items by asc/desc rank join ----------------

_Q44_ITEM_AVG_SQL = """
   SELECT l_partkey AS item_sk,
          sum(round(l_extendedprice * (1 - l_discount) * 100)) AS s_cents,
          count(*) AS cnt
   FROM lineitem WHERE l_suppkey % 10 = 4
   GROUP BY l_partkey"""
_Q44_BASE_SQL = """
   SELECT CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS g_cents,
          count(*) AS g_cnt
   FROM lineitem WHERE l_suppkey % 10 = 4 AND l_returnflag = 'R'"""


sql_entry(
    _q, "tpcds_q44",
    f"""
WITH item_avg AS ({_Q44_ITEM_AVG_SQL}),
     base AS ({_Q44_BASE_SQL}),
     v1 AS (
       SELECT item_sk, CAST(s_cents AS DOUBLE) / cnt AS rank_col
       FROM item_avg, base
       WHERE s_cents * 10 * g_cnt > 9 * g_cents * cnt
     ),
     asceding AS (
       SELECT item_sk, rnk FROM (
         SELECT item_sk, rank() OVER (ORDER BY rank_col, item_sk) AS rnk FROM v1
       ) WHERE rnk < 11
     ),
     desceding AS (
       SELECT item_sk, rnk FROM (
         SELECT item_sk, rank() OVER (ORDER BY rank_col DESC, item_sk) AS rnk FROM v1
       ) WHERE rnk < 11
     )
SELECT a.rnk, p1.p_name AS best_performing, p2.p_name AS worst_performing
FROM asceding a
JOIN desceding d ON a.rnk = d.rnk
JOIN part p1 ON p1.p_partkey = d.item_sk
JOIN part p2 ON p2.p_partkey = a.item_sk
ORDER BY a.rnk
""",
)


# --- q50: sale-to-return latency buckets per store -------------------------

sql_entry(
    _q, "tpcds_q50",
    """
SELECT s.s_name, s.s_nationkey,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30
                     THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 30
                      AND date_diff('day', o.o_orderdate, l.l_shipdate) <= 60
                     THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 60
                      AND date_diff('day', o.o_orderdate, l.l_shipdate) <= 90
                     THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 90
                      AND date_diff('day', o.o_orderdate, l.l_shipdate) <= 120
                     THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(sum(CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) > 120
                     THEN 1 ELSE 0 END) AS BIGINT) AS d_over_120
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE l.l_returnflag = 'R' AND year(l.l_shipdate) = 1996 AND month(l.l_shipdate) = 8
GROUP BY s.s_name, s.s_nationkey
ORDER BY s.s_name, s.s_nationkey
LIMIT 100
""",
)


# --- q6: states buying above-category-average-priced items -----------------

sql_entry(
    _q, "tpcds_q06",
    """
SELECT c.c_nationkey AS state, CAST(count(*) AS BIGINT) AS cnt
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 1
  AND round(p.p_retailprice * 100) * 100 > 102 * (
    SELECT CAST(sum(round(j.p_retailprice * 100)) AS BIGINT) / count(*)
    FROM part j WHERE j.p_type = p.p_type
  )
GROUP BY c.c_nationkey
HAVING count(*) >= 2
ORDER BY cnt, state
LIMIT 100
""",
)


# --- q23: frequent items x best customers CTE chain ------------------------

sql_entry(
    _q, "tpcds_q23",
    """
WITH frequent_items AS (
  SELECT l.l_partkey AS item_sk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998
  GROUP BY l.l_partkey, CAST(o.o_orderdate AS DATE)
  HAVING count(*) > 4
), csales AS (
  SELECT o.o_custkey, CAST(sum(round(l.l_quantity * (l.l_extendedprice / l.l_quantity) * 100)) AS BIGINT) AS csales
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998
  GROUP BY o.o_custkey
), max_sales AS (
  SELECT max(csales) AS cmax FROM csales
), best_customers AS (
  SELECT c2.o_custkey FROM (
    SELECT o.o_custkey, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS ssales
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
  ) c2, max_sales
  WHERE c2.ssales * 2 > cmax
)
SELECT CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 2
  AND l.l_partkey IN (SELECT item_sk FROM frequent_items)
  AND o.o_custkey IN (SELECT o_custkey FROM best_customers)
""",
)


# --- q66: two-carrier monthly pivot per warehouse --------------------------

_Q66_MONTHS = ["jan", "feb", "mar", "apr", "may", "jun",
               "jul", "aug", "sep", "oct", "nov", "dec"]


def _q66_arm_sql(status: str) -> str:
    cols = ", ".join(
        f"sum(CASE WHEN month(l.l_shipdate) = {i + 1} "
        f"THEN round(l.l_extendedprice * 100) ELSE 0 END) AS {m}_cents"
        for i, m in enumerate(_Q66_MONTHS)
    )
    return f"""
   SELECT l.l_suppkey AS wh, year(l.l_shipdate) AS yr, {cols}
   FROM lineitem l
   WHERE l.l_linestatus = '{status}' AND year(l.l_shipdate) = 1996
   GROUP BY l.l_suppkey, year(l.l_shipdate)"""


sql_entry(
    _q, "tpcds_q66",
    f"""
WITH both_arms AS (
  {_q66_arm_sql('O')}
  UNION ALL
  {_q66_arm_sql('F')}
)
SELECT s.s_name, s.s_nationkey, (s.s_suppkey % 100 + 50) AS sq_ft,
       'O_AND_F' AS ship_carriers, yr,
       {", ".join(f"round(sum({m}_cents) / 100.0, 2) AS {m}_sales" for m in _Q66_MONTHS)},
       {", ".join(f"round(sum({m}_cents) / 100.0 / (s.s_suppkey % 100 + 50), 6) AS {m}_sales_per_sq_foot" for m in _Q66_MONTHS)}
FROM both_arms
JOIN supplier s ON wh = s.s_suppkey
GROUP BY s.s_name, s.s_nationkey, s.s_suppkey, yr
ORDER BY s.s_name
LIMIT 100
""",
)


# --- q61: promotional-sales share, two single-row star aggregates ----------

sql_entry(
    _q, "tpcds_q61",
    """
SELECT promotions, total,
       CAST(promotions AS DOUBLE) / total * 100 AS promo_pct
FROM (
  SELECT CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS promotions
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE c.c_nationkey = 5 AND p.p_size = 28
    AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 11
    AND (l.l_returnflag = 'R' OR l.l_linestatus = 'F' OR l.l_discount > 0.05)
) promotional_sales, (
  SELECT CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS total
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE c.c_nationkey = 5 AND p.p_size = 28
    AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 11
) all_sales
""",
)


# --- q59: week-over-week weekday mix per store -----------------------------

_Q59_DAYS = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday"]


# Kept port (keep-rule 1, text not portable): dayname() spells weekdays differently on Spark.
@_q(
    "tpcds_q59",
    f"""
WITH wss AS (
  SELECT (year(l.l_shipdate) - 1995) * 53 + weekofyear(l.l_shipdate) AS d_week_seq,
         l.l_suppkey AS store_sk,
         {", ".join(f"sum(CASE WHEN dayname(l.l_shipdate) = '{d}' THEN round(l.l_extendedprice * 100) END) AS {d[:3].lower()}_sales" for d in _Q59_DAYS)}
  FROM lineitem l
  GROUP BY 1, 2
)
SELECT s.s_name AS s_store_name1, y.d_week_seq AS d_week_seq1,
       {", ".join(f"round(CAST(y.{d[:3].lower()}_sales AS DOUBLE) / x.{d[:3].lower()}_sales, 4) AS {d[:3].lower()}_ratio" for d in _Q59_DAYS)}
FROM wss y
JOIN wss x ON y.store_sk = x.store_sk AND y.d_week_seq = x.d_week_seq - 53
JOIN supplier s ON y.store_sk = s.s_suppkey
WHERE y.d_week_seq BETWEEN 2 * 53 AND 3 * 53 - 1
ORDER BY s_store_name1, d_week_seq1
LIMIT 100
""",
)
def tpcds_q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q59 shape (tpcds/q59.sql: per-(store, week) weekday-pivot CTE
    self-joined one year apart, weekday-over-weekday ratios per store).
    Extends q02's weekly pivot with the store dimension — the self-join
    keys on (store, week±53). Exact-cent pivots; ratios are identical
    doubles. Scale: one shuffle to (week, store) grouping; the self-join
    and dim join are narrow aggregates."""
    li, supp = load_tables(spark, sf_dir, "lineitem", "supplier")
    wss = (
        li.groupBy(
            ((F.year("l_shipdate") - 1995) * 53 + F.weekofyear("l_shipdate")).alias("d_week_seq"),
            F.col("l_suppkey").alias("store_sk"),
        )
        .agg(*[
            F.sum(
                F.when(F.date_format("l_shipdate", "EEEE") == d,
                       F.round(F.col("l_extendedprice") * 100))
            ).alias(f"{d[:3].lower()}_sales")
            for d in _Q59_DAYS
        ])
    )
    y = wss.alias("y").filter(F.col("d_week_seq").between(2 * 53, 3 * 53 - 1))
    x = wss.alias("x")
    j = y.join(
        x,
        (F.col("y.store_sk") == F.col("x.store_sk"))
        & (F.col("y.d_week_seq") == F.col("x.d_week_seq") - 53),
    ).join(supp, F.col("y.store_sk") == F.col("s_suppkey"))
    return (
        j.select(
            F.col("s_name").alias("s_store_name1"),
            F.col("y.d_week_seq").alias("d_week_seq1"),
            *[
                F.round(
                    F.col(f"y.{d[:3].lower()}_sales").cast("double")
                    / F.col(f"x.{d[:3].lower()}_sales"),
                    4,
                ).alias(f"{d[:3].lower()}_ratio")
                for d in _Q59_DAYS
            ],
        )
        .orderBy("s_store_name1", "d_week_seq1")
        .limit(100)
    )


# --- q14: cross-channel item INTERSECT gate + avg-threshold CASE -----------

def _q14_channel_items_sql(flag: str) -> str:
    return f"""
      SELECT DISTINCT l_partkey FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) BETWEEN 1996 AND 1998"""


sql_entry(
    _q, "tpcds_q14",
    f"""
WITH cross_items AS (
  {_q14_channel_items_sql('N')}
  INTERSECT
  {_q14_channel_items_sql('A')}
  INTERSECT
  {_q14_channel_items_sql('R')}
), avg_sales AS (
  SELECT CAST(sum(round(l.l_quantity * (l.l_extendedprice / l.l_quantity) * 100)) AS BIGINT) / count(*) AS average_cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1996 AND 1998
)
SELECT l.l_returnflag AS channel, l.l_partkey AS i_item_sk,
       CAST(count(*) AS BIGINT) AS cnt,
       CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN cross_items ci ON l.l_partkey = ci.l_partkey, avg_sales
WHERE year(o.o_orderdate) = 1998 AND month(o.o_orderdate) = 11
GROUP BY l.l_returnflag, l.l_partkey, average_cents
HAVING CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) > average_cents
ORDER BY channel, i_item_sk
LIMIT 100
""",
)


# --- q54: revenue-bucket histogram of customer spend -----------------------

# Kept port (keep-rule 1, text not portable): DuckDB integer division `//`.
@_q(
    "tpcds_q54",
    """
WITH my_customers AS (
  SELECT DISTINCT o.o_custkey
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_size = 28 AND year(o.o_orderdate) = 1996
), my_revenue AS (
  SELECT o.o_custkey, CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS revenue_cents
  FROM (SELECT DISTINCT o_orderkey, o_custkey, o_totalprice FROM orders
        WHERE year(o_orderdate) = 1996 AND month(o_orderdate) BETWEEN 1 AND 3) o
  JOIN my_customers mc ON o.o_custkey = mc.o_custkey
  GROUP BY o.o_custkey
)
SELECT CAST(revenue_cents // 5000000 AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS num_customers,
       CAST(revenue_cents // 5000000 AS BIGINT) * 50000 AS segment_base
FROM my_revenue
GROUP BY revenue_cents // 5000000
ORDER BY segment, num_customers
LIMIT 100
""",
)
def tpcds_q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q54 shape (tpcds/q54.sql: customers who bought a target
    category, their next-quarter store revenue bucketed into $50 segments,
    count of customers per segment — a histogram OF aggregates). Buckets
    are exact integer cent division. Scale: my_customers is a distinct
    semi-join gate; revenue is one shuffle on customer; the segment
    histogram aggregates the (already small) per-customer rollup."""
    li, orders, part = load_tables(spark, sf_dir, "lineitem", "orders", "part")
    my_customers = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(part.filter(F.col("p_size") == 28),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("o_custkey").distinct()
    )
    q1 = orders.filter(
        (F.year("o_orderdate") == 1996) & (F.month("o_orderdate").between(1, 3))
    ).select("o_orderkey", "o_custkey", "o_totalprice").distinct()
    my_revenue = (
        q1.join(my_customers, "o_custkey", "left_semi")
        .groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100)).cast("bigint").alias("revenue_cents"))
    )
    seg = F.expr("revenue_cents DIV 5000000").cast("bigint")
    return (
        my_revenue.groupBy(seg.alias("segment"))
        .agg(F.count("*").cast("bigint").alias("num_customers"))
        .select("segment", "num_customers", (F.col("segment") * 50000).alias("segment_base"))
        .orderBy("segment", "num_customers")
        .limit(100)
    )


# --- q58: items selling evenly across all three channels -------------------

def _q58_channel_sql(flag: str, name: str) -> str:
    return f"""
   SELECT l.l_partkey AS item_sk, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS {name}_rev
   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
   WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) = 1996
   GROUP BY l.l_partkey"""


sql_entry(
    _q, "tpcds_q58",
    f"""
WITH ss_items AS ({_q58_channel_sql('N', 'ss')}),
     cs_items AS ({_q58_channel_sql('A', 'cs')}),
     ws_items AS ({_q58_channel_sql('R', 'ws')})
SELECT ss.item_sk AS item_id, ss_rev, cs_rev, ws_rev,
       round(CAST(ss_rev + cs_rev + ws_rev AS DOUBLE) / 3, 2) AS average
FROM ss_items ss
JOIN cs_items cs ON ss.item_sk = cs.item_sk
JOIN ws_items ws ON ss.item_sk = ws.item_sk
WHERE ss_rev * 30 BETWEEN 9 * (ss_rev + cs_rev + ws_rev) AND 11 * (ss_rev + cs_rev + ws_rev)
  AND cs_rev * 30 BETWEEN 9 * (ss_rev + cs_rev + ws_rev) AND 11 * (ss_rev + cs_rev + ws_rev)
  AND ws_rev * 30 BETWEEN 9 * (ss_rev + cs_rev + ws_rev) AND 11 * (ss_rev + cs_rev + ws_rev)
ORDER BY item_id
LIMIT 100
""",
)


# --- q79: per-customer most-profitable trip --------------------------------

# Kept port (keep-rule 1, text not portable): dayofweek() numbers weekdays differently on Spark.
@_q(
    "tpcds_q79",
    """
WITH ms AS (
  SELECT l.l_orderkey AS ticket, o.o_custkey, s.s_nationkey AS city,
         CAST(sum(round(l.l_extendedprice * l.l_discount * 100)) AS BIGINT) AS amt,
         CAST(sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)) AS BIGINT) AS profit
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE dayofweek(o.o_orderdate) = 1 AND year(o.o_orderdate) BETWEEN 1996 AND 1998
    AND (l.l_quantity >= 30 OR l.l_discount > 0.08)
  GROUP BY l.l_orderkey, o.o_custkey, s.s_nationkey
)
SELECT c.c_name, ms.city, ms.ticket, ms.amt, ms.profit
FROM ms JOIN customer c ON ms.o_custkey = c.c_custkey
ORDER BY c.c_name, ms.profit, ms.ticket, ms.city
LIMIT 100
""",
)
def tpcds_q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q79 shape (tpcds/q79.sql: per-(ticket, customer, store-city)
    coupon/profit rollup under demographic + day-of-week filters, joined
    to the customer dim for the name-ordered report). Monday trips map to
    dayofweek=2; the demographic OR gate maps to quantity/discount.
    Scale: filters prune the fact scan; one shuffle to the trip grouping;
    customer join is broadcastable."""
    li, orders, supp, cust = load_tables(
        spark, sf_dir, "lineitem", "orders", "supplier", "customer"
    )
    ms = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(
            (F.dayofweek("o_orderdate") == 2)
            & F.year("o_orderdate").between(1996, 1998)
            & ((F.col("l_quantity") >= 30) | (F.col("l_discount") > 0.08))
        )
        .groupBy(
            F.col("l_orderkey").alias("ticket"),
            "o_custkey",
            F.col("s_nationkey").alias("city"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * F.col("l_discount") * 100))
            .cast("bigint").alias("amt"),
            F.sum(F.round(_rev() * 100)).cast("bigint").alias("profit"),
        )
    )
    return (
        ms.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "city", "ticket", "amt", "profit")
        .orderBy("c_name", "profit", "ticket", "city")
        .limit(100)
    )


# --- q33: per-manufacturer revenue unioned across three channels -----------

def _q33_channel_sql(flag: str) -> str:
    return f"""
   SELECT p.p_size AS manufact, sum(round(l.l_extendedprice * 100)) AS cents
   FROM lineitem l
   JOIN orders o ON l.l_orderkey = o.o_orderkey
   JOIN part p ON l.l_partkey = p.p_partkey
   WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 5
     AND p.p_size IN (SELECT p_size FROM part WHERE p_type LIKE '%ECO%')
   GROUP BY p.p_size"""


sql_entry(
    _q, "tpcds_q33",
    f"""
WITH ss AS ({_q33_channel_sql('N')}),
     cs AS ({_q33_channel_sql('A')}),
     ws AS ({_q33_channel_sql('R')})
SELECT manufact, CAST(sum(cents) AS BIGINT) AS total_cents
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp
GROUP BY manufact
ORDER BY total_cents, manufact
LIMIT 100
""",
)


# --- q75: year-over-year decline by brand, returns-netted ------------------

def _q75_channel_sql(mod: int) -> str:
    return f"""
      SELECT year(o.o_orderdate) AS d_year, p.p_brand AS brand, p.p_size AS manufact,
             CAST(l.l_quantity AS BIGINT) - coalesce(r.ret_qty, 0) AS sales_cnt,
             CAST(round(l.l_extendedprice * 100) AS BIGINT) - coalesce(r.ret_cents, 0) AS sales_amt
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
      LEFT JOIN (
        SELECT li.l_orderkey AS rok, li.l_linenumber AS rln,
               CAST(floor(li.l_quantity / 2) AS BIGINT) AS ret_qty,
               CAST(round(li.l_extendedprice * 100) AS BIGINT) // 2 AS ret_cents
        FROM lineitem li WHERE li.l_linenumber % 3 = {mod} AND li.l_returnflag = 'R'
      ) r ON r.rok = l.l_orderkey AND r.rln = l.l_linenumber
      WHERE l.l_linenumber % 3 = {mod} AND p.p_type LIKE '%DARD%'"""


# Kept port (keep-rule 1, text not portable): DuckDB integer division `//`.
@_q(
    "tpcds_q75",
    f"""
WITH all_sales AS (
  SELECT d_year, brand, manufact,
         CAST(sum(sales_cnt) AS BIGINT) AS sales_cnt, CAST(sum(sales_amt) AS BIGINT) AS sales_amt
  FROM (
    {_q75_channel_sql(0)}
    UNION
    {_q75_channel_sql(1)}
    UNION
    {_q75_channel_sql(2)}
  ) sales_detail
  GROUP BY d_year, brand, manufact
)
SELECT prev_yr.d_year AS prev_year, curr_yr.d_year AS year_,
       curr_yr.brand, curr_yr.manufact,
       prev_yr.sales_cnt AS prev_yr_cnt, curr_yr.sales_cnt AS curr_yr_cnt,
       curr_yr.sales_cnt - prev_yr.sales_cnt AS sales_cnt_diff,
       curr_yr.sales_amt - prev_yr.sales_amt AS sales_amt_diff
FROM all_sales curr_yr
JOIN all_sales prev_yr
  ON curr_yr.brand = prev_yr.brand AND curr_yr.manufact = prev_yr.manufact
 AND curr_yr.d_year = 1997 AND prev_yr.d_year = 1996
WHERE curr_yr.sales_cnt * 10 < 9 * prev_yr.sales_cnt
ORDER BY sales_cnt_diff, sales_amt_diff, curr_yr.brand, curr_yr.manufact
LIMIT 100
""",
)
def tpcds_q75(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q75 shape (tpcds/q75.sql: per-(year, brand, manufact) sales
    NET of returns — sales LEFT JOIN returns with COALESCE subtraction —
    UNION'd (distinct, as the reference spells it) across the three
    channels, then current-year vs prior-year self-join keeping brands
    that declined more than 10%). The decline test is cross-multiplied
    exact (curr*10 < 9*prev). Channels are l_linenumber mod 3; returns
    are the channel's R rows at half quantity. Scale: per-channel star
    joins with an equi-join to returns; the YoY comparison joins two
    year-slices of one grouped frame."""
    li, orders, part = load_tables(spark, sf_dir, "lineitem", "orders", "part")

    def channel(mod: int) -> DataFrame:
        sales = li.filter(F.col("l_linenumber") % 3 == mod)
        rets = sales.filter(F.col("l_returnflag") == "R").select(
            F.col("l_orderkey").alias("rok"),
            F.col("l_linenumber").alias("rln"),
            F.floor(F.col("l_quantity") / 2).cast("bigint").alias("ret_qty"),
            F.expr("CAST(round(l_extendedprice * 100) AS BIGINT) DIV 2").alias("ret_cents"),
        )
        return (
            sales.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(part.filter(F.col("p_type").like("%DARD%")),
                  F.col("l_partkey") == F.col("p_partkey"))
            .join(rets, (F.col("rok") == F.col("l_orderkey"))
                  & (F.col("rln") == F.col("l_linenumber")), "left")
            .select(
                F.year("o_orderdate").alias("d_year"),
                F.col("p_brand").alias("brand"),
                F.col("p_size").alias("manufact"),
                (F.col("l_quantity").cast("bigint")
                 - F.coalesce(F.col("ret_qty"), F.lit(0))).alias("sales_cnt"),
                (F.round(F.col("l_extendedprice") * 100).cast("bigint")
                 - F.coalesce(F.col("ret_cents"), F.lit(0))).alias("sales_amt"),
            )
        )

    detail = channel(0).unionByName(channel(1)).unionByName(channel(2)).distinct()
    all_sales = detail.groupBy("d_year", "brand", "manufact").agg(
        F.sum("sales_cnt").cast("bigint").alias("sales_cnt"),
        F.sum("sales_amt").cast("bigint").alias("sales_amt"),
    )
    curr = all_sales.filter(F.col("d_year") == 1997).alias("c")
    prev = all_sales.filter(F.col("d_year") == 1996).alias("p")
    j = curr.join(
        prev,
        (F.col("c.brand") == F.col("p.brand")) & (F.col("c.manufact") == F.col("p.manufact")),
    ).filter(F.col("c.sales_cnt") * 10 < 9 * F.col("p.sales_cnt"))
    return (
        j.select(
            F.col("p.d_year").alias("prev_year"),
            F.col("c.d_year").alias("year_"),
            F.col("c.brand").alias("brand"),
            F.col("c.manufact").alias("manufact"),
            F.col("p.sales_cnt").alias("prev_yr_cnt"),
            F.col("c.sales_cnt").alias("curr_yr_cnt"),
            (F.col("c.sales_cnt") - F.col("p.sales_cnt")).alias("sales_cnt_diff"),
            (F.col("c.sales_amt") - F.col("p.sales_amt")).alias("sales_amt_diff"),
        )
        .orderBy("sales_cnt_diff", "sales_amt_diff", "brand", "manufact")
        .limit(100)
    )


# --- q76: anomaly (null-key analog) counts unioned across channels ---------

_Q76_ARMS = [
    ("store", "l_discount", "N", "l.l_discount = 0"),
    ("web", "l_tax", "R", "l.l_tax = 0"),
    ("catalog", "l_quantity", "A", "l.l_quantity >= 49"),
]


def _q76_arm_sql(channel: str, col_name: str, flag: str, pred: str) -> str:
    return f"""
   SELECT '{channel}' AS channel, '{col_name}' AS col_name,
          year(o.o_orderdate) AS d_year, quarter(o.o_orderdate) AS d_qoy,
          p.p_type AS i_category, round(l.l_extendedprice * 100) AS ext_cents
   FROM lineitem l
   JOIN orders o ON l.l_orderkey = o.o_orderkey
   JOIN part p ON l.l_partkey = p.p_partkey
   WHERE l.l_returnflag = '{flag}' AND {pred}"""


sql_entry(
    _q, "tpcds_q76",
    f"""
SELECT channel, col_name, d_year, d_qoy, i_category,
       CAST(count(*) AS BIGINT) AS sales_cnt,
       CAST(sum(ext_cents) AS BIGINT) AS sales_amt_cents
FROM (
  {" UNION ALL ".join(_q76_arm_sql(*a) for a in _Q76_ARMS)}
) foo
GROUP BY channel, col_name, d_year, d_qoy, i_category
ORDER BY channel, col_name, d_year, d_qoy, i_category
LIMIT 100
""",
)


# --- q12: item revenue share within class (windowed share) -----------------

sql_entry(
    _q, "tpcds_q12",
    """
SELECT p.p_name AS i_item_id, p.p_type AS i_category, p.p_brand AS i_class,
       p.p_retailprice AS i_current_price,
       CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS itemrevenue_cents,
       CAST(sum(round(l.l_extendedprice * 100)) AS DOUBLE) * 100
         / sum(CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT)) OVER (PARTITION BY p.p_brand)
         AS revenueratio
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_type IN ('ECONOMY', 'PROMO', 'SMALL')
  AND CAST(o.o_orderdate AS DATE) BETWEEN DATE '1996-02-22' AND DATE '1996-03-23'
GROUP BY p.p_name, p.p_type, p.p_brand, p.p_retailprice
ORDER BY i_category, i_class, i_item_id, revenueratio
LIMIT 100
""",
)


# --- q90: am/pm activity ratio (events table) ------------------------------

sql_entry(
    _q, "tpcds_q90",
    """
SELECT CAST(amc AS DOUBLE) / pmc AS am_pm_ratio
FROM (
  SELECT count(*) AS amc FROM events
  WHERE hour(ts) BETWEEN 8 AND 9 AND event_type = 'click' AND value BETWEEN 10 AND 90
) am, (
  SELECT count(*) AS pmc FROM events
  WHERE hour(ts) BETWEEN 19 AND 20 AND event_type = 'click' AND value BETWEEN 10 AND 90
) pm
""",
)


# --- q92: excess-discount amount (correlated 1.3x avg) ---------------------

sql_entry(
    _q, "tpcds_q92",
    """
SELECT CAST(sum(disc_cents) AS BIGINT) AS excess_discount_cents
FROM (
  SELECT l.l_partkey, round(l.l_extendedprice * l.l_discount * 100) AS disc_cents,
         sum(round(l.l_extendedprice * l.l_discount * 100)) OVER (PARTITION BY l.l_partkey) AS item_sum,
         count(*) OVER (PARTITION BY l.l_partkey) AS item_cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) = 1996
) t
WHERE disc_cents * 10 * item_cnt > 13 * item_sum
""",
)


# --- q4: year_total battery over THREE channels ----------------------------

_Q04_CHANNELS_SQL = f"""
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql(_REV_SQL)} AS year_total, 's' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY customer_id, customer_name, dyear
  UNION ALL
  SELECT c.c_custkey, c.c_name, year(o.o_orderdate),
         {_csum_sql("o.o_totalprice")}, 'w'
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT c.c_custkey, c.c_name, year(o.o_orderdate),
         {_csum_sql("l.l_extendedprice * l.l_tax")}, 'c'
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
  GROUP BY 1, 2, 3"""


sql_entry(
    _q, "tpcds_q04",
    f"""
WITH year_total AS ({_Q04_CHANNELS_SQL})
SELECT s2.customer_id, s2.customer_name
FROM year_total s1
JOIN year_total s2 ON s2.customer_id = s1.customer_id
JOIN year_total c1 ON c1.customer_id = s1.customer_id
JOIN year_total c2 ON c2.customer_id = s1.customer_id
JOIN year_total w1 ON w1.customer_id = s1.customer_id
JOIN year_total w2 ON w2.customer_id = s1.customer_id
WHERE s1.sale_type = 's' AND s2.sale_type = 's'
  AND c1.sale_type = 'c' AND c2.sale_type = 'c'
  AND w1.sale_type = 'w' AND w2.sale_type = 'w'
  AND s1.dyear = 1999 AND s2.dyear = 2000
  AND c1.dyear = 1999 AND c2.dyear = 2000
  AND w1.dyear = 1999 AND w2.dyear = 2000
  AND s1.year_total > 0 AND c1.year_total > 0 AND w1.year_total > 0
  AND c2.year_total * s1.year_total > s2.year_total * c1.year_total
  AND w2.year_total * s1.year_total > s2.year_total * w1.year_total
ORDER BY s2.customer_id
LIMIT 100
""",
)


# --- q17: sale -> return -> repurchase three-fact chain --------------------

def _exact_stats_sql(q: str) -> str:
    """count / avg / sample-stddev from exact integer sums — identical
    doubles in both engines (no accumulation-order dependence)."""
    return (
        f"CAST(count({q}) AS BIGINT) AS {q}_cnt, "
        f"CAST(sum(CAST({q} AS BIGINT)) AS DOUBLE) / count({q}) AS {q}_avg, "
        f"CASE WHEN count({q}) > 1 THEN sqrt("
        f"CAST(count({q}) * sum(CAST({q} AS BIGINT) * CAST({q} AS BIGINT)) "
        f"- sum(CAST({q} AS BIGINT)) * sum(CAST({q} AS BIGINT)) AS DOUBLE) "
        f"/ (count({q}) * (count({q}) - 1))) END AS {q}_stdev"
    )


sql_entry(
    _q, "tpcds_q17",
    f"""
WITH s AS (
  SELECT o.o_custkey AS ck, l.l_partkey % 10 AS pk, CAST(l.l_quantity AS BIGINT) AS qty_s,
         CAST(o.o_orderdate AS DATE) AS sdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'A' AND year(o.o_orderdate) = 1996 AND quarter(o.o_orderdate) = 1
), r AS (
  SELECT o.o_custkey AS ck, l.l_partkey % 10 AS pk, CAST(l.l_quantity AS BIGINT) AS qty_r,
         CAST(o.o_orderdate AS DATE) AS rdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = 1996 AND quarter(o.o_orderdate) <= 3
), c2 AS (
  SELECT o.o_custkey AS ck, l.l_partkey % 10 AS pk, CAST(l.l_quantity AS BIGINT) AS qty_c,
         CAST(o.o_orderdate AS DATE) AS cdate
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'N' AND year(o.o_orderdate) BETWEEN 1996 AND 1997
)
SELECT s.pk AS i_item_id,
       {_exact_stats_sql('qty_s')},
       {_exact_stats_sql('qty_r')},
       {_exact_stats_sql('qty_c')}
FROM s
JOIN r ON r.ck = s.ck AND r.pk = s.pk AND r.rdate >= s.sdate
JOIN c2 ON c2.ck = s.ck AND c2.pk = s.pk AND c2.cdate >= r.rdate
GROUP BY s.pk
ORDER BY i_item_id
LIMIT 100
""",
)


# --- q55: brand revenue for one month (minimal star rollup) ----------------

sql_entry(
    _q, "tpcds_q55",
    f"""
SELECT p.p_brand AS brand, {_msum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS ext_price
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size BETWEEN 20 AND 30 AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 11
GROUP BY p.p_brand
ORDER BY ext_price DESC, brand
LIMIT 100
""",
)


# --- q96: filtered count through three broadcast dims ----------------------

sql_entry(
    _q, "tpcds_q96",
    """
SELECT CAST(count(*) AS BIGINT) AS cnt
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE month(o.o_orderdate) = 8 AND c.c_mktsegment = 'BUILDING'
  AND s.s_nationkey < 10 AND l.l_quantity BETWEEN 20 AND 30
""",
)


# --- q18: multi-measure AVG over a ROLLUP hierarchy ------------------------

_Q18_MEASURES = [
    ("agg1", "CAST(l.l_quantity AS BIGINT)"),
    ("agg2", "CAST(round(l.l_extendedprice * 100) AS BIGINT)"),
    ("agg3", "CAST(round(l.l_extendedprice * l.l_discount * 100) AS BIGINT)"),
    ("agg4", "CAST(round(l.l_extendedprice * l.l_tax * 100) AS BIGINT)"),
    ("agg5", "CAST(o.o_custkey AS BIGINT)"),
]


sql_entry(
    _q, "tpcds_q18",
    f"""
SELECT p.p_brand AS i_item_id, n.n_name AS ca_country, c.c_mktsegment AS ca_state,
       {", ".join(f"CAST(sum({e}) AS DOUBLE) / count(*) AS {n}" for n, e in _Q18_MEASURES)}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY', 'HOUSEHOLD')
  AND month(o.o_orderdate) IN (1, 2, 6, 8, 9, 12) AND year(o.o_orderdate) = 1996
GROUP BY ROLLUP (p.p_brand, n.n_name, c.c_mktsegment)
ORDER BY ca_country, ca_state, i_item_id
""",
)


# --- q45: disjunctive gate across two dimensions ---------------------------

sql_entry(
    _q, "tpcds_q45",
    """
SELECT c.c_nationkey AS ca_zip, c.c_mktsegment AS ca_city,
       CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sum_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE (c.c_nationkey IN (3, 7, 11, 15, 19)
       OR l.l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_partkey IN (2, 3, 5, 7, 11, 13, 17, 19, 23, 29)))
  AND quarter(o.o_orderdate) = 2 AND year(o.o_orderdate) = 1996
GROUP BY c.c_nationkey, c.c_mktsegment
ORDER BY ca_zip, ca_city
LIMIT 100
""",
)


# --- q13: three OR'd demographic bands, multi-avg output -------------------

_Q13_BANDS_SQL = """(
     (c.c_mktsegment = 'BUILDING' AND l.l_quantity BETWEEN 1 AND 20
      AND o.o_totalprice BETWEEN 10000 AND 150000)
  OR (c.c_mktsegment = 'MACHINERY' AND l.l_quantity BETWEEN 21 AND 35
      AND o.o_totalprice BETWEEN 20000 AND 200000)
  OR (c.c_mktsegment = 'HOUSEHOLD' AND l.l_quantity BETWEEN 36 AND 50
      AND o.o_totalprice BETWEEN 50000 AND 250000)
)"""


sql_entry(
    _q, "tpcds_q13",
    f"""
SELECT CAST(sum(CAST(l.l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / count(*) AS avg_price_cents,
       CAST(sum(CAST(round(l.l_extendedprice * l.l_discount * 100) AS BIGINT)) AS DOUBLE) / count(*) AS avg_disc_cents,
       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS net_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_nationkey < 15 AND year(o.o_orderdate) = 1996 AND {_Q13_BANDS_SQL}
""",
)


# --- q47: monthly deviation from yearly average, with lag/lead neighbors ---

sql_entry(
    _q, "tpcds_q47",
    """
WITH v1 AS (
  SELECT p.p_type AS i_category, p.p_brand AS i_brand,
         year(o.o_orderdate) AS d_year, month(o.o_orderdate) AS d_moy,
         CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sum_sales,
         CAST(sum(CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT))
              OVER (PARTITION BY p.p_type, p.p_brand, year(o.o_orderdate)) AS BIGINT) AS year_sum,
         count(*) OVER (PARTITION BY p.p_type, p.p_brand, year(o.o_orderdate)) AS year_cnt,
         lag(CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT))
           OVER (PARTITION BY p.p_type, p.p_brand ORDER BY year(o.o_orderdate), month(o.o_orderdate)) AS psum,
         lead(CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT))
           OVER (PARTITION BY p.p_type, p.p_brand ORDER BY year(o.o_orderdate), month(o.o_orderdate)) AS nsum
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_type, p.p_brand, year(o.o_orderdate), month(o.o_orderdate)
)
SELECT i_category, i_brand, d_year, d_moy, sum_sales,
       CAST(year_sum AS DOUBLE) / year_cnt AS avg_monthly_sales, psum, nsum
FROM v1
WHERE d_year = 1997 AND year_sum > 0
  AND 10 * abs(sum_sales * year_cnt - year_sum) > year_sum
ORDER BY i_category, i_brand, d_year, d_moy
LIMIT 100
""",
)


# --- q15: customer catalog revenue under an OR'd geography/amount gate -----

sql_entry(
    _q, "tpcds_q15",
    f"""
SELECT n.n_name AS ca_zip, {_msum_sql("l.l_extendedprice")} AS sum_sales
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE (c.c_nationkey IN (1, 3, 5) OR c.c_mktsegment IN ('BUILDING', 'MACHINERY')
       OR round(l.l_extendedprice * 100) > 5000000)
  AND year(o.o_orderdate) = 1996 AND quarter(o.o_orderdate) = 2
GROUP BY n.n_name
ORDER BY n.n_name ASC
LIMIT 100
""",
)


# --- q98 / q20: item revenue share of its class (window over grouped agg) --


def _revenue_share_sql(amount_sql, cats, date_lo, date_hi, limit):
    cats_sql = ", ".join(f"'{c}'" for c in cats)
    lim = f"LIMIT {limit}" if limit else ""
    return f"""
SELECT p.p_partkey AS i_item_id, p.p_name AS i_item_desc, p.p_type AS i_category,
       p.p_brand AS i_class, p.p_retailprice AS i_current_price,
       {_msum_sql(amount_sql)} AS itemrevenue,
       {_csum_sql(amount_sql)} * 100 / sum({_csum_sql(amount_sql)}) OVER (PARTITION BY p.p_brand) AS revenueratio
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE o.o_orderdate BETWEEN '{date_lo}' AND '{date_hi}'
  AND p.p_type IN ({cats_sql})
GROUP BY 1, 2, 3, 4, 5
ORDER BY i_category ASC, i_class ASC, i_item_id ASC, i_item_desc ASC, revenueratio ASC
{lim}
"""


_Q98_CATS = ("STANDARD", "SMALL", "ECONOMY")


sql_entry(_q, "tpcds_q98", _revenue_share_sql(_REV_SQL, _Q98_CATS, "1996-02-22", "1996-03-23", 0))


sql_entry(_q, "tpcds_q20", _revenue_share_sql("l_extendedprice", _Q20_CATS := (
    "STANDARD", "LARGE", "PROMO"),
    "1997-02-22", "1997-03-23", 100))


# --- q53 / q63: rolling category deviation from the per-key mean -----------

_BANDS_SQL = (
    "((p.p_type IN ('STANDARD', 'SMALL') "
    "AND p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13', 'Brand#14', 'Brand#15')) "
    "OR (p.p_type IN ('ECONOMY', 'MEDIUM') "
    "AND p.p_brand IN ('Brand#21', 'Brand#22', 'Brand#23', 'Brand#24', 'Brand#25')))"
)


def _deviation_sql(key_sql, key_name, period_sql):
    return f"""
WITH g AS (
  SELECT {key_sql} AS {key_name}, {period_sql} AS period,
         {_msum_sql("l.l_extendedprice")} AS sum_sales,
         {_csum_sql("l.l_extendedprice")} AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(o.o_orderdate) = 1996 AND {_BANDS_SQL}
  GROUP BY 1, 2
), v AS (
  SELECT {key_name}, period, sum_sales, c,
         sum(c) OVER (PARTITION BY {key_name}) AS key_sum_c,
         count(*) OVER (PARTITION BY {key_name}) AS key_cnt
  FROM g
)
SELECT {key_name}, period, sum_sales,
       CAST(key_sum_c AS DOUBLE) / (100 * key_cnt) AS avg_sales
FROM v
WHERE key_sum_c > 0 AND 10 * abs(c * key_cnt - key_sum_c) > key_sum_c
"""


sql_entry(
    _q, "tpcds_q53",
    _deviation_sql("p.p_size", "i_manufact_id", "quarter(o.o_orderdate)")
    + "ORDER BY avg_sales ASC, sum_sales ASC, i_manufact_id ASC, period ASC LIMIT 100",
)


sql_entry(
    _q, "tpcds_q63",
    _deviation_sql("p.p_partkey % 100", "i_manager_id", "month(o.o_orderdate)")
    + "ORDER BY i_manager_id ASC, avg_sales ASC, sum_sales ASC, period ASC LIMIT 100",
)


# --- q62 / q99: ship-latency bucket matrix ---------------------------------

def _latency_buckets(spark, sf_dir, year, third_col, third_name):
    li, orders, supp = load_tables(spark, sf_dir, "lineitem", "orders", "supplier")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    j = (
        li.join(orders.filter(F.year("o_orderdate") == year),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    cnt = lambda cond: F.sum(F.when(cond, 1).otherwise(0))  # noqa: E731
    return (
        j.groupBy(
            F.substring("s_name", 1, 20).alias("warehouse"),
            F.col("l_returnflag").alias("sm_type"),
            third_col.alias(third_name),
        )
        .agg(
            cnt(lat <= 30).alias("d30"),
            cnt((lat > 30) & (lat <= 60)).alias("d31_60"),
            cnt((lat > 60) & (lat <= 90)).alias("d61_90"),
            cnt((lat > 90) & (lat <= 120)).alias("d91_120"),
            cnt(lat > 120).alias("dgt120"),
        )
        .orderBy(F.asc("warehouse"), F.asc("sm_type"), F.asc(third_name))
        .limit(100)
    )


def _latency_sql(year, third_sql, third_name):
    lat = "datediff('day', o.o_orderdate, l.l_shipdate)"
    return f"""
SELECT substr(s.s_name, 1, 20) AS warehouse, l.l_returnflag AS sm_type,
       {third_sql} AS {third_name},
       CAST(sum(CASE WHEN {lat} <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(sum(CASE WHEN {lat} > 30 AND {lat} <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(sum(CASE WHEN {lat} > 60 AND {lat} <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(sum(CASE WHEN {lat} > 90 AND {lat} <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(sum(CASE WHEN {lat} > 120 THEN 1 ELSE 0 END) AS BIGINT) AS dgt120
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE year(o.o_orderdate) = {year}
GROUP BY 1, 2, 3
ORDER BY warehouse ASC, sm_type ASC, {third_name} ASC
LIMIT 100
"""


# Kept port (keep-rule 1, text not portable): DuckDB datediff('day', ...).
@_q("tpcds_q62", _latency_sql(1996, "o.o_orderpriority", "web_name"))
def tpcds_q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q62 shape (tpcds/q62.sql: web-channel order→ship latency
    bucketed 30/60/90/120 days per (warehouse prefix, ship mode, site) —
    a conditional-count matrix over one fact scan). Latency analog:
    datediff(l_shipdate, o_orderdate); ship-mode analog l_returnflag.
    Scale: pure scan + one grouping shuffle — no per-bucket re-scan."""
    return _latency_buckets(spark, sf_dir, 1996, F.col("o_orderpriority"), "web_name")


# Kept port (keep-rule 1, text not portable): DuckDB datediff('day', ...).
@_q("tpcds_q99", _latency_sql(1997, "o.o_orderstatus", "cc_name"))
def tpcds_q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q99 shape (tpcds/q99.sql: q62's catalog twin — same latency
    bucket matrix keyed by call center instead of web site, different
    year slice)."""
    return _latency_buckets(spark, sf_dir, 1997, F.col("o_orderstatus"), "cc_name")


# --- q32: excess discount vs 1.3x the item's windowed average --------------

sql_entry(
    _q, "tpcds_q32",
    """
SELECT CAST(sum(disc_cents) AS BIGINT) AS excess_discount_cents
FROM (
  SELECT l.l_partkey, round(l.l_extendedprice * l.l_discount * 100) AS disc_cents,
         sum(round(l.l_extendedprice * l.l_discount * 100)) OVER (PARTITION BY l.l_partkey) AS item_sum,
         count(*) OVER (PARTITION BY l.l_partkey) AS item_cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate BETWEEN '1996-01-27' AND '1996-04-26'
) t
JOIN part p ON t.l_partkey = p.p_partkey
WHERE p.p_size = 28 AND disc_cents * 10 * item_cnt > 13 * item_sum
""",
)


# --- q30 / q81: customer returns above 1.2x their state's average ----------


def _ctr_sql(year, amount_sql):
    return f"""
  SELECT c.c_custkey AS ctr_customer_sk, c.c_nationkey AS ctr_state,
         {_csum_sql(amount_sql)} AS ctr_total_return
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = {year}
  GROUP BY 1, 2
"""


_CTR_HOT_SQL = """
  SELECT ctr_customer_sk, ctr_state, ctr_total_return
  FROM (
    SELECT ctr_customer_sk, ctr_state, ctr_total_return,
           sum(ctr_total_return) OVER (PARTITION BY ctr_state) AS state_sum,
           count(*) OVER (PARTITION BY ctr_state) AS state_cnt
    FROM ctr
  ) WHERE ctr_total_return * 10 * state_cnt > 12 * state_sum
"""


sql_entry(
    _q, "tpcds_q30",
    f"""
WITH ctr AS ({_ctr_sql(1996, "l.l_extendedprice")}),
hot AS ({_CTR_HOT_SQL})
SELECT c.c_name, c.c_mktsegment, c.c_acctbal,
       CAST(hot.ctr_total_return AS BIGINT) AS ctr_total_return
FROM hot
JOIN customer c ON hot.ctr_customer_sk = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_5'
ORDER BY c.c_name ASC, ctr_total_return ASC
LIMIT 100
""",
)


sql_entry(
    _q, "tpcds_q81",
    f"""
WITH ctr AS ({_ctr_sql(1997, "l.l_extendedprice * (1 + l.l_tax)")}),
hot AS ({_CTR_HOT_SQL})
SELECT c.c_name, n.n_name AS ca_state, c.c_acctbal,
       CAST(hot.ctr_total_return AS BIGINT) AS ctr_total_return
FROM hot
JOIN customer c ON hot.ctr_customer_sk = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_7'
ORDER BY c.c_name ASC, ctr_total_return ASC
LIMIT 100
""",
)


# --- q25 / q29: store sale -> store return -> catalog repurchase chain -----


def _three_fact_sql(year, moy, sel, d3_cond_sql):
    return f"""
SELECT p.p_name AS i_item_desc, s.s_name AS s_store_name, {sel}
FROM lineitem l1
JOIN orders o1 ON l1.l_orderkey = o1.o_orderkey
JOIN lineitem l2 ON l2.l_partkey = l1.l_partkey
JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
JOIN lineitem l3 ON l3.l_partkey = l2.l_partkey
JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
JOIN part p ON l1.l_partkey = p.p_partkey
JOIN supplier s ON l1.l_suppkey = s.s_suppkey
WHERE year(o1.o_orderdate) = {year} AND month(o1.o_orderdate) = {moy}
  AND l1.l_returnflag <> 'R'
  AND year(o2.o_orderdate) = {year}
  AND month(o2.o_orderdate) BETWEEN {moy} AND {moy + 3}
  AND l2.l_returnflag = 'R'
  AND {d3_cond_sql}
GROUP BY 1, 2
ORDER BY i_item_desc ASC, s_store_name ASC
LIMIT 100
"""


sql_entry(
    _q, "tpcds_q25",
    _three_fact_sql(
        1996, 4,
        f"{_msum_sql('l1.l_extendedprice * (1 - l1.l_discount)')} AS store_sales_profit, "
        f"{_msum_sql('l2.l_extendedprice')} AS store_returns_loss, "
        f"{_msum_sql('l3.l_extendedprice * (1 - l3.l_discount)')} AS catalog_sales_profit",
        "year(o3.o_orderdate) = 1996 AND month(o3.o_orderdate) BETWEEN 4 AND 7",
    ),
)


sql_entry(
    _q, "tpcds_q29",
    _three_fact_sql(
        1996, 9,
        "CAST(sum(l1.l_quantity) AS BIGINT) AS store_sales_quantity, "
        "CAST(sum(l2.l_quantity) AS BIGINT) AS store_returns_quantity, "
        "CAST(sum(l3.l_quantity) AS BIGINT) AS catalog_sales_quantity",
        "year(o3.o_orderdate) IN (1996, 1997, 1998)",
    ),
)


# --- q46 / q68: per-trip city-mismatch report ------------------------------

def _trip_mismatch(spark, sf_dir, inner_filter, inner_filter_sql, aggs, aggs_sql,
                   out_cols, order_cols, store_nations):
    """dn = per-(trip, customer, bought_city) sums under a demographic OR
    filter; outer join to the customer's CURRENT city, keep mismatches."""
    li, orders, supp, nation, cust = load_tables(
        spark, sf_dir, "lineitem", "orders", "supplier", "nation", "customer")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("bought_city"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("ca_city"))
    dn = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp.filter(F.col("s_nationkey").isin(*store_nations)),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .filter(inner_filter)
        .groupBy(F.col("o_orderkey").alias("ss_ticket_number"),
                 F.col("o_custkey").alias("ss_customer_sk"),
                 F.col("bought_city"))
        .agg(*aggs)
    )
    out = (
        dn.join(cust, F.col("ss_customer_sk") == F.col("c_custkey"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(F.col("ca_city") != F.col("bought_city"))
        .select(*out_cols)
        .orderBy(*order_cols)
        .limit(100)
    )
    return out


def _trip_mismatch_sql(inner_filter_sql, aggs_sql, out_sql, order_sql, store_nations):
    nat = ", ".join(str(n) for n in store_nations)
    return f"""
WITH dn AS (
  SELECT o.o_orderkey AS ss_ticket_number, o.o_custkey AS ss_customer_sk,
         n1.n_name AS bought_city, {aggs_sql}
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  WHERE s.s_nationkey IN ({nat}) AND {inner_filter_sql}
  GROUP BY 1, 2, 3
)
SELECT {out_sql}
FROM dn
JOIN customer c ON dn.ss_customer_sk = c.c_custkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE n2.n_name <> dn.bought_city
ORDER BY {order_sql}
LIMIT 100
"""


# Kept port (keep-rule 1, text not portable): DuckDB datediff('day', ...).
@_q(
    "tpcds_q46",
    _trip_mismatch_sql(
        "(l.l_quantity = 4 OR l.l_linenumber = 3) AND year(o.o_orderdate) IN (1996, 1997, 1998)"
        " AND (datediff('day', DATE '1970-01-01', o.o_orderdate) % 7) IN (2, 3)",
        f"{_csum_sql('l.l_extendedprice * l.l_discount')} AS amt, "
        f"{_msum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS profit",
        "c.c_name, n2.n_name AS ca_city, dn.bought_city, dn.ss_ticket_number, "
        "CAST(dn.amt AS BIGINT) AS amt, dn.profit",
        "c.c_name ASC, ca_city ASC, bought_city ASC, ss_ticket_number ASC",
        (1, 2, 3, 4, 5),
    ),
)
def tpcds_q46(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q46 shape (tpcds/q46.sql: weekend store trips in a few
    cities under an OR'd household-demographic gate, summed per trip,
    then joined to the customer's current address keeping trips bought in
    a DIFFERENT city). City analog: supplier/customer nation; weekend =
    epoch-day mod 7 (identical formula both engines, no dow-convention
    skew); demographic OR analog on (quantity, linenumber). Scale: one
    grouping per trip, dims broadcast, mismatch filter is a residual
    above a broadcast join."""
    weekend = (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")) % 7).isin(2, 3)
    inner = (
        ((F.col("l_quantity") == 4) | (F.col("l_linenumber") == 3))
        & F.year("o_orderdate").isin(1996, 1997, 1998) & weekend
    )
    aggs = [
        _csum(F.col("l_extendedprice") * F.col("l_discount")).cast("bigint").alias("amt"),
        _msum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("profit"),
    ]
    out_cols = ["c_name", "ca_city", "bought_city", "ss_ticket_number", "amt", "profit"]
    order_cols = [F.asc("c_name"), F.asc("ca_city"), F.asc("bought_city"),
                  F.asc("ss_ticket_number")]
    return _trip_mismatch(spark, sf_dir, inner, None, aggs, None, out_cols,
                          order_cols, (1, 2, 3, 4, 5))


sql_entry(
    _q, "tpcds_q68",
    _trip_mismatch_sql(
        "(l.l_quantity = 4 OR l.l_linenumber = 3) AND year(o.o_orderdate) IN (1996, 1997, 1998)"
        " AND day(o.o_orderdate) BETWEEN 1 AND 2",
        f"{_msum_sql('l.l_extendedprice')} AS extended_price, "
        f"{_msum_sql('l.l_extendedprice * (1 + l.l_tax)')} AS list_price, "
        f"{_msum_sql('l.l_extendedprice * l.l_tax')} AS extended_tax",
        "c.c_name, n2.n_name AS ca_city, dn.bought_city, dn.ss_ticket_number, "
        "dn.extended_price, dn.extended_tax, dn.list_price",
        "c.c_name ASC, ss_ticket_number ASC, ca_city ASC, bought_city ASC",
        (6, 7),
    ),
)


# --- q57: monthly deviation with lag/lead neighbors, per call center -------

sql_entry(
    _q, "tpcds_q57",
    f"""
WITH v1 AS (
  SELECT p.p_type AS i_category, p.p_brand AS i_brand, n.n_name AS cc_name,
         year(o.o_orderdate) AS d_year, month(o.o_orderdate) AS d_moy,
         {_csum_sql("l.l_extendedprice")} AS sum_sales,
         CAST(sum({_csum_sql("l.l_extendedprice")})
              OVER (PARTITION BY p.p_type, p.p_brand, n.n_name, year(o.o_orderdate)) AS BIGINT) AS year_sum,
         count(*) OVER (PARTITION BY p.p_type, p.p_brand, n.n_name, year(o.o_orderdate)) AS year_cnt,
         lag(CAST({_csum_sql("l.l_extendedprice")} AS BIGINT))
           OVER (PARTITION BY p.p_type, p.p_brand, n.n_name
                 ORDER BY year(o.o_orderdate), month(o.o_orderdate)) AS psum,
         lead(CAST({_csum_sql("l.l_extendedprice")} AS BIGINT))
           OVER (PARTITION BY p.p_type, p.p_brand, n.n_name
                 ORDER BY year(o.o_orderdate), month(o.o_orderdate)) AS nsum
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE year(o.o_orderdate) = 1996
     OR (year(o.o_orderdate) = 1995 AND month(o.o_orderdate) = 12)
     OR (year(o.o_orderdate) = 1997 AND month(o.o_orderdate) = 1)
  GROUP BY 1, 2, 3, 4, 5
)
SELECT i_category, i_brand, cc_name, d_year, d_moy, sum_sales,
       CAST(year_sum AS DOUBLE) / year_cnt AS avg_monthly_sales, psum, nsum
FROM v1
WHERE d_year = 1996 AND year_sum > 0
  AND 10 * abs(sum_sales * year_cnt - year_sum) > year_sum
ORDER BY sum_sales * year_cnt - year_sum ASC, cc_name ASC, i_category ASC,
         i_brand ASC, d_moy ASC
LIMIT 100
""",
)


# --- q74: two-channel year-over-year growth (q11's lean twin) --------------

sql_entry(
    _q, "tpcds_q74",
    f"""
WITH year_total AS (
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql("l.l_extendedprice")} AS year_total, 's' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) IN (1996, 1997)
  GROUP BY 1, 2, 3
  UNION ALL
  SELECT c.c_custkey AS customer_id, c.c_name AS customer_name,
         year(o.o_orderdate) AS dyear,
         {_csum_sql("o.o_totalprice")} AS year_total, 'w' AS sale_type
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE year(o.o_orderdate) IN (1996, 1997)
  GROUP BY 1, 2, 3
)
SELECT s2.customer_id, s2.customer_name
FROM year_total s1
JOIN year_total s2 ON s2.customer_id = s1.customer_id
JOIN year_total w1 ON w1.customer_id = s1.customer_id
JOIN year_total w2 ON w2.customer_id = s1.customer_id
WHERE s1.sale_type = 's' AND s2.sale_type = 's'
  AND w1.sale_type = 'w' AND w2.sale_type = 'w'
  AND s1.dyear = 1996 AND s2.dyear = 1997
  AND w1.dyear = 1996 AND w2.dyear = 1997
  AND s1.year_total > 0 AND w1.year_total > 0
  AND CAST(w2.year_total AS DOUBLE) / w1.year_total
      > CAST(s2.year_total AS DOUBLE) / s1.year_total
ORDER BY s2.customer_id ASC
LIMIT 100
""",
)


# --- q77: per-channel sales/returns profit rollup --------------------------

_Q77_WIN = ("1996-08-23", "1996-09-22")


sql_entry(
    _q, "tpcds_q77",
    f"""
WITH ss AS (
  SELECT l.l_suppkey AS sk, {_csum_sql("l.l_extendedprice")} AS sales,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS profit
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), sr AS (
  SELECT l.l_suppkey AS sk, {_csum_sql("l.l_extendedprice")} AS returns_,
         {_csum_sql("l.l_extendedprice * l.l_tax")} AS profit_loss
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), cs AS (
  SELECT o.o_orderpriority AS ck, {_csum_sql("l.l_extendedprice")} AS sales,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS profit
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), cr AS (
  SELECT o.o_orderpriority AS ck, {_csum_sql("l.l_extendedprice")} AS returns_,
         {_csum_sql("l.l_extendedprice * l.l_tax")} AS profit_loss
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), ws AS (
  SELECT l.l_linestatus AS wk, {_csum_sql("l.l_extendedprice")} AS sales,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS profit
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), wr AS (
  SELECT l.l_linestatus AS wk, {_csum_sql("l.l_extendedprice")} AS returns_,
         {_csum_sql("l.l_extendedprice * l.l_tax")} AS profit_loss
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R'
    AND o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}' GROUP BY 1
), x AS (
  SELECT 'store channel' AS channel, CAST(ss.sk AS VARCHAR) AS id, ss.sales,
         coalesce(sr.returns_, 0) AS returns_,
         ss.profit - coalesce(sr.profit_loss, 0) AS profit
  FROM ss LEFT JOIN sr ON ss.sk = sr.sk
  UNION ALL
  SELECT 'catalog channel' AS channel, CAST(cs.ck AS VARCHAR) AS id, cs.sales,
         cr.returns_ AS returns_, cs.profit - cr.profit_loss AS profit
  FROM cs, cr
  UNION ALL
  SELECT 'web channel' AS channel, CAST(ws.wk AS VARCHAR) AS id, ws.sales,
         coalesce(wr.returns_, 0) AS returns_,
         ws.profit - coalesce(wr.profit_loss, 0) AS profit
  FROM ws LEFT JOIN wr ON ws.wk = wr.wk
)
SELECT channel, id, round(sum(sales) / 100, 2) AS sales,
       round(sum(returns_) / 100, 2) AS returns_,
       round(sum(profit) / 100, 2) AS profit
FROM x
GROUP BY ROLLUP (channel, id)
ORDER BY channel ASC NULLS FIRST, id ASC NULLS FIRST, sales ASC
LIMIT 100
""",
)


# --- q80: row-level sale-return left joins per channel, rollup -------------

sql_entry(
    _q, "tpcds_q80",
    f"""
WITH base AS (
  SELECT l.*, o.o_orderpriority, o.o_orderdate FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE o.o_orderdate BETWEEN '{_Q77_WIN[0]}' AND '{_Q77_WIN[1]}'
    AND p.p_retailprice > 905 AND o.o_orderpriority <> '1-URGENT'
    AND l.l_returnflag <> 'R'
), ret AS (
  SELECT l_orderkey, l_partkey, l_extendedprice AS r_price,
         l_extendedprice * l_discount AS r_loss
  FROM lineitem WHERE l_returnflag = 'R'
), joined AS (
  SELECT b.*, r.r_price, r.r_loss
  FROM base b LEFT JOIN ret r
    ON b.l_orderkey = r.l_orderkey AND b.l_partkey = r.l_partkey
), ssr AS (
  SELECT CAST(l_suppkey AS VARCHAR) AS id, {_csum_sql("l_extendedprice")} AS sales,
         CAST(sum(coalesce(round(r_price * 100), 0)) AS BIGINT) AS returns_,
         CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)
              - coalesce(round(r_loss * 100), 0)) AS BIGINT) AS profit
  FROM joined GROUP BY 1
), csr AS (
  SELECT o_orderpriority AS id, {_csum_sql("l_extendedprice")} AS sales,
         CAST(sum(coalesce(round(r_price * 100), 0)) AS BIGINT) AS returns_,
         CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)
              - coalesce(round(r_loss * 100), 0)) AS BIGINT) AS profit
  FROM joined GROUP BY 1
), wsr AS (
  SELECT l_linestatus AS id, {_csum_sql("l_extendedprice")} AS sales,
         CAST(sum(coalesce(round(r_price * 100), 0)) AS BIGINT) AS returns_,
         CAST(sum(round(l_extendedprice * (1 - l_discount) * 100)
              - coalesce(round(r_loss * 100), 0)) AS BIGINT) AS profit
  FROM joined GROUP BY 1
), x AS (
  SELECT 'store channel' AS channel, concat('store', id) AS id, sales, returns_, profit FROM ssr
  UNION ALL
  SELECT 'catalog channel' AS channel, concat('catalog_page', id) AS id, sales, returns_, profit FROM csr
  UNION ALL
  SELECT 'web channel' AS channel, concat('web_site', id) AS id, sales, returns_, profit FROM wsr
)
SELECT channel, id, round(sum(sales) / 100, 2) AS sales,
       round(sum(returns_) / 100, 2) AS returns_,
       round(sum(profit) / 100, 2) AS profit
FROM x
GROUP BY ROLLUP (channel, id)
ORDER BY channel ASC NULLS FIRST, id ASC NULLS FIRST, sales ASC
LIMIT 100
""",
)


# --- q83: three return channels joined per item over shared weeks ----------

sql_entry(
    _q, "tpcds_q83",
    """
WITH weeks AS (
  SELECT DISTINCT weekofyear(d) AS wk FROM (
    SELECT CAST('1996-06-30' AS DATE) AS d
    UNION ALL SELECT CAST('1996-09-27' AS DATE)
    UNION ALL SELECT CAST('1996-11-17' AS DATE))
), sr_items AS (
  SELECT l.l_partkey AS item_id, CAST(sum(l.l_quantity) AS BIGINT) AS sr_item_qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND l.l_linenumber % 3 = 1
    AND weekofyear(o.o_orderdate) IN (SELECT wk FROM weeks)
  GROUP BY 1
), cr_items AS (
  SELECT l.l_partkey AS item_id, CAST(sum(l.l_quantity) AS BIGINT) AS cr_item_qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND l.l_linenumber % 3 = 2
    AND weekofyear(o.o_orderdate) IN (SELECT wk FROM weeks)
  GROUP BY 1
), wr_items AS (
  SELECT l.l_partkey AS item_id, CAST(sum(l.l_quantity) AS BIGINT) AS wr_item_qty
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND l.l_linenumber % 3 = 0
    AND weekofyear(o.o_orderdate) IN (SELECT wk FROM weeks)
  GROUP BY 1
)
SELECT s.item_id, sr_item_qty,
       round(CAST(sr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100, 6) AS sr_dev,
       cr_item_qty,
       round(CAST(cr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100, 6) AS cr_dev,
       wr_item_qty,
       round(CAST(wr_item_qty AS DOUBLE) / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0 * 100, 6) AS wr_dev,
       CAST(sr_item_qty + cr_item_qty + wr_item_qty AS DOUBLE) / 3.0 AS average
FROM sr_items s
JOIN cr_items c ON s.item_id = c.item_id
JOIN wr_items w ON s.item_id = w.item_id
ORDER BY s.item_id ASC, sr_item_qty ASC
LIMIT 100
""",
)


# --- q72: fact-to-fact inventory join on (item, week) ----------------------

sql_entry(
    _q, "tpcds_q72",
    """
SELECT p.p_name AS i_item_desc, s.s_name AS w_warehouse_name,
       weekofyear(o1.o_orderdate) AS d_week_seq,
       CAST(sum(CASE WHEN pr.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS no_promo,
       CAST(sum(CASE WHEN pr.l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS promo,
       CAST(count(*) AS BIGINT) AS total_cnt
FROM lineitem l1
JOIN orders o1 ON l1.l_orderkey = o1.o_orderkey
JOIN customer c ON o1.o_custkey = c.c_custkey
JOIN lineitem l2 ON l2.l_partkey = l1.l_partkey
JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
JOIN part p ON l1.l_partkey = p.p_partkey
JOIN supplier s ON l2.l_suppkey = s.s_suppkey
LEFT JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_returnflag = 'R') pr
  ON pr.l_orderkey = l1.l_orderkey AND pr.l_partkey = l1.l_partkey
WHERE year(o1.o_orderdate) = 1996
  AND year(o2.o_orderdate) = 1996
  AND weekofyear(o2.o_orderdate) = weekofyear(o1.o_orderdate)
  AND l2.l_quantity < l1.l_quantity
  AND l1.l_shipdate > o1.o_orderdate + INTERVAL 5 DAY
  AND o1.o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND c.c_mktsegment IN ('BUILDING', 'MACHINERY')
GROUP BY 1, 2, 3
ORDER BY total_cnt DESC, i_item_desc ASC, w_warehouse_name ASC, d_week_seq ASC
LIMIT 100
""",
)


# --- q64: two-year cross_sales CTE self-join -------------------------------

# Kept port (keep-rule 2): the cross_sales stage is pinned once for the year self-join.
@_q(
    "tpcds_q64",
    f"""
WITH cs_ui AS (
  SELECT l1.l_partkey AS cs_item_sk,
         {_csum_sql("l1.l_extendedprice")} AS sale,
         {_csum_sql("l2.l_extendedprice * l2.l_tax")} AS refund
  FROM lineitem l1
  JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
   AND l1.l_partkey = l2.l_partkey AND l2.l_returnflag = 'R'
  GROUP BY 1
  HAVING {_csum_sql("l1.l_extendedprice")}
         > 2 * {_csum_sql("l2.l_extendedprice * l2.l_tax")}
), cross_sales AS (
  SELECT p.p_name AS product_name, p.p_partkey AS item_sk,
         s.s_name AS store_name, s.s_nationkey AS store_zip,
         n1.n_name AS b_city, n2.n_name AS c_city,
         year(o.o_orderdate) AS syear,
         CAST(count(*) AS BIGINT) AS cnt,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS s1,
         {_csum_sql("l.l_extendedprice")} AS s2,
         {_csum_sql("l.l_extendedprice * l.l_discount")} AS s3
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN cs_ui ON l.l_partkey = cs_ui.cs_item_sk
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE p.p_retailprice BETWEEN 905 AND 915
    AND p.p_brand IN ('Brand#11', 'Brand#12', 'Brand#13', 'Brand#21', 'Brand#22', 'Brand#23')
    AND c.c_mktsegment <> 'BUILDING'
  GROUP BY 1, 2, 3, 4, 5, 6, 7
)
SELECT cs1.product_name, cs1.store_name, cs1.store_zip, cs1.b_city, cs1.c_city,
       cs1.syear AS syear1, cs1.cnt AS cnt1,
       CAST(cs1.s1 AS BIGINT) AS s11, CAST(cs1.s2 AS BIGINT) AS s21,
       CAST(cs1.s3 AS BIGINT) AS s31,
       CAST(cs2.s1 AS BIGINT) AS s12, CAST(cs2.s2 AS BIGINT) AS s22,
       CAST(cs2.s3 AS BIGINT) AS s32,
       cs2.syear AS syear2, cs2.cnt AS cnt2
FROM cross_sales cs1
JOIN cross_sales cs2 ON cs1.item_sk = cs2.item_sk
 AND cs1.store_name = cs2.store_name AND cs1.store_zip = cs2.store_zip
WHERE cs1.syear = 1996 AND cs2.syear = 1997 AND cs2.cnt <= cs1.cnt
ORDER BY cs1.product_name ASC, cs1.store_name ASC, cs2.cnt ASC,
         cs1.b_city ASC, cs1.c_city ASC, s11 ASC, s12 ASC
LIMIT 100
""",
)
def tpcds_q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q64 shape (tpcds/q64.sql: the widest query in the corpus —
    a cs_ui CTE of items whose sales more than double their refunds
    (HAVING over a sale-return join), feeding a cross_sales CTE that
    joins the store fact through customer, two address roles, store,
    item and the demographic mismatch gate, grouped per (item, store,
    year); finally cross_sales SELF-JOINED across two years on (item,
    store) with cnt2 <= cnt1). Address roles: supplier nation (bought) /
    customer nation (current); demographic mismatch: mktsegment gate.
    The cross_sales CTE feeds BOTH sides of the year self-join, so it is
    pre-filtered to the two consumed years and PINNED (localCheckpoint,
    r13 — VERDICT r12 #5): the heavy pipeline executes once, not once
    per side. Scale: cs_ui is a co-partitioned fact self-join on
    (order, item); the year self-join shuffles only the small pinned
    grouped frame."""
    cross_sales = _q64_cross_sales(spark, sf_dir)
    # the year self-join consumes ONLY syear 1996/1997, so pre-filter the
    # grouped frame to those two years and PIN it (localCheckpoint): the
    # 7-join + aggregate pipeline executes exactly once instead of once
    # per self-join side (the sim_knn_graph r12 lesson — Catalyst pushes
    # each side's syear filter below the aggregate, making the subplans
    # differ and defeating exchange reuse). The pinned frame is the tiny
    # (item, store, year) grouped relation.
    cross_sales = cross_sales.filter(
        F.col("syear").isin(1996, 1997)
    ).localCheckpoint(eager=False)
    cs1 = cross_sales.filter(F.col("syear") == 1996).alias("cs1")
    cs2 = cross_sales.filter(F.col("syear") == 1997).alias("cs2")
    j = cs1.join(
        cs2,
        (F.col("cs1.item_sk") == F.col("cs2.item_sk"))
        & (F.col("cs1.store_name") == F.col("cs2.store_name"))
        & (F.col("cs1.store_zip") == F.col("cs2.store_zip"))
        & (F.col("cs2.cnt") <= F.col("cs1.cnt")),
    )
    return (
        j.select(
            F.col("cs1.product_name").alias("product_name"),
            F.col("cs1.store_name").alias("store_name"),
            F.col("cs1.store_zip").alias("store_zip"),
            F.col("cs1.b_city").alias("b_city"), F.col("cs1.c_city").alias("c_city"),
            F.col("cs1.syear").alias("syear1"), F.col("cs1.cnt").alias("cnt1"),
            F.col("cs1.s1").cast("bigint").alias("s11"),
            F.col("cs1.s2").cast("bigint").alias("s21"),
            F.col("cs1.s3").cast("bigint").alias("s31"),
            F.col("cs2.s1").cast("bigint").alias("s12"),
            F.col("cs2.s2").cast("bigint").alias("s22"),
            F.col("cs2.s3").cast("bigint").alias("s32"),
            F.col("cs2.syear").alias("syear2"), F.col("cs2.cnt").alias("cnt2"),
        )
        .orderBy(F.asc("product_name"), F.asc("store_name"), F.asc("cnt2"),
                 F.asc("b_city"), F.asc("c_city"), F.asc("s11"), F.asc("s12"))
        .limit(100)
    )


def _q64_cross_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q64's cross_sales CTE pre-checkpoint: the cs_ui sale>2*refund item
    gate feeding the 7-join spine, grouped per (item, store, year).
    Exposed so the plan gate can assert the dims broadcast on the frame
    that actually executes (the pinned checkpoint hides it)."""
    li, orders, part, supp, cust, nation = load_tables(
        spark, sf_dir, "lineitem", "orders", "part", "supplier", "customer", "nation")
    # r13 opt (guide §3.2 — reduce the big side BEFORE anything else):
    # the part predicate (retailprice band + 6 brands) keeps ~2.6% of
    # parts, but it sat 4th in the join order and Catalyst does not
    # reorder joins without CBO stats — so the FULL fact table rode the
    # orders/customer joins and the cs_ui self-join. A broadcast
    # semi-join on the qualifying part keys prunes lineitem FIRST
    # (~2.6% survives at every SF — the filter is on the part dimension,
    # so selectivity is scale-free); pruning before cs_ui is equivalence-
    # safe because cs_ui groups BY partkey (dropping other items' groups
    # cannot change a kept item's sums, and the inner join drops those
    # groups anyway). Measured 2.3 -> 1.7 s same-box at sf0.1; rows
    # identical.
    fpart = part.filter(
        F.col("p_retailprice").between(905, 915)
        & F.col("p_brand").isin("Brand#11", "Brand#12", "Brand#13",
                                "Brand#21", "Brand#22", "Brand#23")
    )
    lif = li.join(
        F.broadcast(fpart.select(F.col("p_partkey").alias("l_partkey"))),
        "l_partkey",
        "left_semi",
    ).localCheckpoint(eager=False)
    l2 = (
        lif.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("r_orderkey"),
                F.col("l_partkey").alias("r_partkey"),
                F.col("l_extendedprice").alias("r_price"),
                F.col("l_tax").alias("r_tax"))
    )
    cs_ui = (
        lif.join(l2, (F.col("l_orderkey") == F.col("r_orderkey"))
                 & (F.col("l_partkey") == F.col("r_partkey")))
        .groupBy(F.col("l_partkey").alias("cs_item_sk"))
        .agg(_csum(F.col("l_extendedprice")).alias("sale"),
             _csum(F.col("r_price") * F.col("r_tax")).alias("refund"))
        .filter(F.col("sale") > 2 * F.col("refund"))
        .select("cs_item_sk")
    )
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("b_city"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("c_city"))
    base = (
        lif.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust.filter(F.col("c_mktsegment") != "BUILDING"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(cs_ui, F.col("l_partkey") == F.col("cs_item_sk"))
        .join(fpart, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
    )
    return base.groupBy(
        F.col("p_name").alias("product_name"), F.col("p_partkey").alias("item_sk"),
        F.col("s_name").alias("store_name"), F.col("s_nationkey").alias("store_zip"),
        F.col("b_city"), F.col("c_city"), F.year("o_orderdate").alias("syear"),
    ).agg(
        F.count("*").cast("bigint").alias("cnt"),
        _csum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("s1"),
        _csum(F.col("l_extendedprice")).alias("s2"),
        _csum(F.col("l_extendedprice") * F.col("l_discount")).alias("s3"),
    )


# --- q16 / q94: multi-warehouse shipped, never-returned orders -------------


def _ship_orders_sql(date_lo, date_hi, nations, prio):
    nat = ", ".join(str(n) for n in nations)
    return f"""
SELECT CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
       {_msum_sql("l1.l_extendedprice * l1.l_discount")} AS total_ship_cost,
       {_msum_sql("l1.l_extendedprice * (1 - l1.l_discount)")} AS total_net_profit
FROM lineitem l1
JOIN orders o ON l1.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l1.l_shipdate BETWEEN '{date_lo}' AND '{date_hi}'
  AND o.o_orderpriority = '{prio}'
  AND c.c_nationkey IN ({nat})
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem r
                  WHERE r.l_orderkey = l1.l_orderkey AND r.l_returnflag = 'R')
"""


sql_entry(_q, "tpcds_q16", _ship_orders_sql("1996-02-01", "1996-04-01", (1, 2, 3), "2-HIGH"))


sql_entry(_q, "tpcds_q94", _ship_orders_sql("1997-02-01", "1997-04-01", (5, 7, 9), "5-LOW"))


# --- q21: inventory before/after a pivot date ------------------------------

sql_entry(
    _q, "tpcds_q21",
    """
SELECT * FROM (
  SELECT s.s_name AS w_warehouse_name, p.p_partkey AS i_item_id,
         CAST(sum(CASE WHEN l.l_shipdate < '1996-03-11' THEN l.l_quantity ELSE 0 END) AS BIGINT) AS inv_before,
         CAST(sum(CASE WHEN l.l_shipdate >= '1996-03-11' THEN l.l_quantity ELSE 0 END) AS BIGINT) AS inv_after
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_retailprice BETWEEN 905 AND 911
    AND l.l_shipdate BETWEEN '1996-01-10' AND '1996-05-10'
  GROUP BY 1, 2
) x
WHERE inv_before > 0
  AND CAST(inv_after AS DOUBLE) / inv_before BETWEEN 1.0 / 2.0 AND 2.0 / 1.0
ORDER BY w_warehouse_name ASC, i_item_id ASC
LIMIT 100
""",
)


# --- q37 / q82: in-stock items also selling in a channel -------------------


def _instock_sql(date_lo, date_hi, sizes, chan_flag):
    sz = ", ".join(str(s) for s in sizes)
    return f"""
SELECT p.p_partkey AS i_item_id, p.p_name AS i_item_desc,
       p.p_retailprice AS i_current_price
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate BETWEEN '{date_lo}' AND '{date_hi}'
  AND l.l_quantity BETWEEN 10 AND 40
  AND p.p_retailprice BETWEEN 905 AND 915
  AND p.p_size IN ({sz})
  AND EXISTS (SELECT 1 FROM lineitem c
              WHERE c.l_partkey = l.l_partkey AND c.l_linestatus = '{chan_flag}')
GROUP BY 1, 2, 3
ORDER BY i_item_id ASC
LIMIT 100
"""


sql_entry(_q, "tpcds_q37", _instock_sql("1996-02-01", "1996-04-01", (7, 14, 21, 28), "O"))


sql_entry(_q, "tpcds_q82", _instock_sql("1997-05-25", "1997-07-24", (5, 10, 15, 20), "F"))


# --- q26: demographic-gated catalog item averages --------------------------

sql_entry(
    _q, "tpcds_q26",
    """
SELECT p.p_partkey AS i_item_id,
       round(avg(l.l_quantity), 6) AS agg1,
       round(avg(round(l.l_extendedprice * (1 + l.l_tax) * 100)), 6) AS agg2,
       round(avg(round(l.l_extendedprice * l.l_discount * 100)), 6) AS agg3,
       round(avg(round(l.l_extendedprice * 100)), 6) AS agg4
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE c.c_mktsegment = 'AUTOMOBILE' AND o.o_orderstatus = 'F'
  AND (o.o_orderpriority = '3-MEDIUM' OR o.o_orderpriority = '4-NOT SPECIFIED')
  AND year(o.o_orderdate) = 1997
GROUP BY 1
ORDER BY i_item_id ASC
LIMIT 100
""",
)


# --- q27: rollup with GROUPING() over item x state -------------------------

sql_entry(
    _q, "tpcds_q27",
    """
SELECT p.p_brand AS i_item_id, n.n_name AS s_state,
       CAST(grouping(n.n_name) AS INTEGER) AS g_state,
       round(avg(l.l_quantity), 6) AS agg1,
       round(avg(round(l.l_extendedprice * (1 + l.l_tax) * 100)), 6) AS agg2,
       round(avg(round(l.l_extendedprice * l.l_discount * 100)), 6) AS agg3,
       round(avg(round(l.l_extendedprice * 100)), 6) AS agg4
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE c.c_mktsegment = 'BUILDING' AND year(o.o_orderdate) = 1996
  AND s.s_nationkey IN (3, 7, 11)
GROUP BY ROLLUP (p.p_brand, n.n_name)
ORDER BY i_item_id ASC NULLS FIRST, s_state ASC NULLS FIRST
LIMIT 100
""",
)


# --- q28: six quantity-band list-price buckets (single pass) ---------------

_Q28_BANDS = [
    (1, 0, 5, 90500, 91500), (2, 6, 10, 90800, 91800), (3, 11, 15, 91100, 92100),
    (4, 16, 20, 91400, 92400), (5, 21, 25, 91700, 92700), (6, 26, 30, 92000, 93000),
]


def _q28_cond_sql(lo, hi, plo, phi):
    return (f"l_quantity BETWEEN {lo} AND {hi} AND "
            f"(round(l_extendedprice * 100) BETWEEN {plo} AND {phi} "
            f"OR round(l_extendedprice * l_discount * 100) BETWEEN 200 AND 5200 "
            f"OR round(l_extendedprice * l_tax * 100) BETWEEN 100 AND 4100)")


sql_entry(
    _q, "tpcds_q28",
    "SELECT "
    + ", ".join(
        f"round(avg(CASE WHEN {_q28_cond_sql(lo, hi, plo, phi)} THEN round(l_extendedprice * 100) END), 6) AS b{b}_lp, "
        f"CAST(count(CASE WHEN {_q28_cond_sql(lo, hi, plo, phi)} THEN 1 END) AS BIGINT) AS b{b}_cnt, "
        f"CAST(count(DISTINCT CASE WHEN {_q28_cond_sql(lo, hi, plo, phi)} THEN round(l_extendedprice * 100) END) AS BIGINT) AS b{b}_cntd"
        for b, lo, hi, plo, phi in _Q28_BANDS
    )
    + " FROM lineitem",
)


# --- q43: weekday sales matrix per store -----------------------------------

# Kept port (keep-rule 1, text not portable): DuckDB datediff('day', ...).
@_q(
    "tpcds_q43",
    f"""
SELECT s.s_name AS s_store_name, s.s_suppkey AS s_store_id,
       {", ".join(
           f"CAST(sum(CASE WHEN (datediff('day', DATE '1970-01-01', o.o_orderdate) + 4) % 7 = {d} "
           f"THEN round(l.l_extendedprice * 100) ELSE NULL END) AS BIGINT) AS {n}_sales"
           for d, n in [(0, "sun"), (1, "mon"), (2, "tue"), (3, "wed"),
                        (4, "thu"), (5, "fri"), (6, "sat")])}
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE s.s_nationkey < 12 AND year(o.o_orderdate) = 1996
GROUP BY 1, 2
ORDER BY s_store_name ASC, s_store_id ASC
LIMIT 100
""",
)
def tpcds_q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q43 shape (tpcds/q43.sql: per-store Sunday..Saturday sales
    matrix for one year in one timezone band — seven conditional sums off
    the day name). Day-of-week via epoch-day mod 7 (identical formula in
    both engines — no dow-convention skew); timezone gate: supplier
    nation band. Scale: one scan, one grouping — not seven."""
    li, orders, supp = load_tables(spark, sf_dir, "lineitem", "orders", "supplier")
    j = (
        li.join(orders.filter(F.year("o_orderdate") == 1996),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp.filter(F.col("s_nationkey") < 12),
              F.col("l_suppkey") == F.col("s_suppkey"))
    )
    dow = (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date")) + 4) % 7
    names = ["sun", "mon", "tue", "wed", "thu", "fri", "sat"]
    return (
        j.groupBy(F.col("s_name").alias("s_store_name"),
                  F.col("s_suppkey").alias("s_store_id"))
        .agg(*[
            F.sum(F.when(dow == d, F.round(F.col("l_extendedprice") * 100)))
            .cast("bigint").alias(f"{n}_sales")
            for d, n in enumerate(names)
        ])
        .orderBy(F.asc("s_store_name"), F.asc("s_store_id"))
        .limit(100)
    )


# --- q89: monthly deviation from the (item, store) mean --------------------

sql_entry(
    _q, "tpcds_q89",
    f"""
WITH g AS (
  SELECT p.p_type AS i_category, p.p_brand AS i_brand, s.s_name AS s_store_name,
         month(o.o_orderdate) AS d_moy,
         {_msum_sql("l.l_extendedprice")} AS sum_sales,
         {_csum_sql("l.l_extendedprice")} AS c
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE year(o.o_orderdate) = 1996 AND {_BANDS_SQL}
  GROUP BY 1, 2, 3, 4
), v AS (
  SELECT *, sum(c) OVER (PARTITION BY i_category, i_brand, s_store_name) AS key_sum_c,
         count(*) OVER (PARTITION BY i_category, i_brand, s_store_name) AS key_cnt
  FROM g
)
SELECT i_category, i_brand, s_store_name, d_moy, sum_sales,
       CAST(key_sum_c AS DOUBLE) / (100 * key_cnt) AS avg_monthly_sales
FROM v
WHERE key_sum_c <> 0 AND 10 * abs(c * key_cnt - key_sum_c) > abs(key_sum_c)
ORDER BY c * key_cnt - key_sum_c ASC, s_store_name ASC, i_category ASC,
         i_brand ASC, d_moy ASC
LIMIT 100
""",
)


# --- q22: four-level rollup of average on-hand quantity --------------------

sql_entry(
    _q, "tpcds_q22",
    """
SELECT p.p_name AS i_product_name, p.p_brand AS i_brand, p.p_type AS i_class,
       CAST(p.p_size AS INTEGER) AS i_category,
       round(avg(l.l_quantity), 6) AS qoh
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE year(o.o_orderdate) = 1996
GROUP BY ROLLUP (p.p_name, p.p_brand, p.p_type, CAST(p.p_size AS INTEGER))
ORDER BY qoh ASC, i_product_name ASC NULLS FIRST, i_brand ASC NULLS FIRST,
         i_class ASC NULLS FIRST, i_category ASC NULLS FIRST
LIMIT 100
""",
)


# --- q39: month-over-month inventory variability self-join -----------------

def _q39_sql(cov1_min: float | None) -> str:
    """Shared q39 oracle text — the reference's q39_2.sql is q39_1.sql
    plus one extra predicate, ``inv1.cov > 1.5`` (adapted threshold
    below: the synthetic quantities' cov tops out ~1.1)."""
    extra = f" AND inv1.cov > {cov1_min}" if cov1_min is not None else ""
    return f"""
WITH foo AS (
  SELECT s.s_nationkey % 5 AS w_warehouse_sk,
         l.l_partkey % 20 AS i_item_sk, month(o.o_orderdate) AS d_moy,
         stddev_samp(l.l_quantity) AS stdev, avg(l.l_quantity) AS mean
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE year(o.o_orderdate) = 1996
  GROUP BY 1, 2, 3
), inv AS (
  SELECT w_warehouse_sk, i_item_sk, d_moy,
         round(mean, 6) AS mean,
         round(CASE WHEN mean = 0 THEN NULL ELSE stdev / mean END, 6) AS cov
  FROM foo
  WHERE (CASE WHEN mean = 0 THEN 0 ELSE stdev / mean END) > 0.5
)
SELECT inv1.w_warehouse_sk AS wsk1, inv1.i_item_sk AS isk1, inv1.d_moy AS moy1,
       inv1.mean AS mean1, inv1.cov AS cov1,
       inv2.d_moy AS moy2, inv2.mean AS mean2, inv2.cov AS cov2
FROM inv inv1
JOIN inv inv2 ON inv1.i_item_sk = inv2.i_item_sk
 AND inv1.w_warehouse_sk = inv2.w_warehouse_sk
WHERE inv1.d_moy = 1 AND inv2.d_moy = 2{extra}
ORDER BY wsk1, isk1, mean1, cov1, mean2, cov2
LIMIT 100
"""


sql_entry(_q, "tpcds_q39", _q39_sql(None))


sql_entry(_q, "tpcds_q39_2", _q39_sql(0.65))


# --- q40: net catalog sales before/after a pivot, returns subtracted -------

sql_entry(
    _q, "tpcds_q40",
    """
SELECT n.n_name AS w_state, p.p_partkey AS i_item_id,
       CAST(sum(CASE WHEN o.o_orderdate < '1996-03-11'
                THEN round(l.l_extendedprice * 100) - coalesce(round(r.r_price * 100), 0)
                ELSE 0 END) AS BIGINT) AS sales_before,
       CAST(sum(CASE WHEN o.o_orderdate >= '1996-03-11'
                THEN round(l.l_extendedprice * 100) - coalesce(round(r.r_price * 100), 0)
                ELSE 0 END) AS BIGINT) AS sales_after
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN (SELECT l_orderkey AS r_orderkey, l_partkey AS r_partkey,
                  l_extendedprice * l_discount AS r_price
           FROM lineitem WHERE l_returnflag = 'R') r
  ON l.l_orderkey = r.r_orderkey AND l.l_partkey = r.r_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_returnflag <> 'R'
  AND p.p_retailprice BETWEEN 905 AND 911
  AND o.o_orderdate BETWEEN '1996-02-10' AND '1996-04-10'
GROUP BY 1, 2
ORDER BY w_state ASC, i_item_id ASC
LIMIT 100
""",
)


# --- q41: manufacturers with items matching a deep attribute battery -------

_Q41_BATTERY_SQL = (
    "((p_type = 'STANDARD' AND p_brand IN ('Brand#11', 'Brand#12', 'Brand#13')) "
    "OR (p_type = 'SMALL' AND p_brand IN ('Brand#14', 'Brand#15', 'Brand#21')) "
    "OR (p_type = 'ECONOMY' AND p_brand IN ('Brand#22', 'Brand#23', 'Brand#24')) "
    "OR (p_type = 'MEDIUM' AND p_brand IN ('Brand#25', 'Brand#31', 'Brand#32')))"
)


sql_entry(
    _q, "tpcds_q41",
    f"""
SELECT DISTINCT i1.p_name AS i_product_name
FROM part i1
WHERE i1.p_size BETWEEN 10 AND 30
  AND (SELECT count(*) FROM part i2
       WHERE i2.p_size = i1.p_size AND {_Q41_BATTERY_SQL.replace('p_type', 'i2.p_type').replace('p_brand', 'i2.p_brand')}) > 0
ORDER BY i_product_name ASC
LIMIT 100
""",
)


# --- q73: trip party-size counts between 1 and 5 ---------------------------

sql_entry(
    _q, "tpcds_q73",
    """
WITH dj AS (
  SELECT o.o_orderkey AS ss_ticket_number, o.o_custkey AS ss_customer_sk,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE day(o.o_orderdate) BETWEEN 1 AND 2
    AND (l.l_quantity = 4 OR l.l_linenumber = 3)
    AND year(o.o_orderdate) IN (1996, 1997, 1998)
    AND s.s_nationkey IN (2, 4, 6, 8)
  GROUP BY 1, 2
)
SELECT c.c_name, c.c_mktsegment, dj.ss_ticket_number, dj.cnt
FROM dj
JOIN customer c ON dj.ss_customer_sk = c.c_custkey
WHERE dj.cnt BETWEEN 1 AND 5
ORDER BY dj.cnt DESC, c.c_name ASC, dj.ss_ticket_number ASC
""",
)


# --- q84: income-band customers with a recorded return ---------------------

sql_entry(
    _q, "tpcds_q84",
    """
SELECT c.c_custkey AS customer_id,
       c.c_name || ', ' || c.c_mktsegment AS customername
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_3'
  AND c.c_acctbal BETWEEN 1000 AND 6000
  AND EXISTS (SELECT 1 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R')
ORDER BY customer_id ASC
LIMIT 100
""",
)


# --- q91: call-center return losses under demographic bands ----------------

sql_entry(
    _q, "tpcds_q91",
    f"""
SELECT o.o_orderpriority AS call_center, c.c_mktsegment AS cd_marital_status,
       {_csum_sql("l.l_extendedprice")} AS returns_loss
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_returnflag = 'R'
  AND year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 11
  AND (c.c_mktsegment = 'BUILDING' OR c.c_mktsegment = 'MACHINERY')
  AND c.c_nationkey < 12
GROUP BY 1, 2
ORDER BY returns_loss DESC, call_center ASC, cd_marital_status ASC
""",
)


# --- q56 / q60: three-channel totals for an item subset --------------------

def _chan3_sql(item_cond_sql, year, moy, nat_band):
    def chan(flag):
        return f"""
  SELECT l.l_partkey AS i_item_id, {_csum_sql("l.l_extendedprice")} AS total_sales
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE {item_cond_sql})
    AND l.l_returnflag = '{flag}'
    AND year(o.o_orderdate) = {year} AND month(o.o_orderdate) = {moy}
    AND c.c_nationkey < {nat_band}
  GROUP BY 1"""

    return f"""
WITH ss AS ({chan('N')}), cs AS ({chan('A')}), ws AS ({chan('R')})
SELECT i_item_id, CAST(sum(total_sales) AS BIGINT) AS total_sales
FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) tmp
GROUP BY i_item_id
"""


sql_entry(
    _q, "tpcds_q56",
    _chan3_sql("p_brand IN ('Brand#11', 'Brand#21', 'Brand#31')", 1996, 2, 13)
    + "ORDER BY total_sales ASC, i_item_id ASC LIMIT 100",
)


sql_entry(
    _q, "tpcds_q60",
    _chan3_sql("p_type = 'ECONOMY'", 1997, 9, 11)
    + "ORDER BY i_item_id ASC, total_sales ASC LIMIT 100",
)


# --- q69: store-only customers' demographic profile ------------------------

sql_entry(
    _q, "tpcds_q69",
    """
SELECT c.c_mktsegment AS cd_gender,
       CAST(floor(c.c_acctbal / 1000) * 1000 AS BIGINT) AS cd_purchase_estimate,
       CAST(c.c_nationkey % 3 AS INTEGER) AS cd_credit_rating,
       CAST(count(*) AS BIGINT) AS cnt
FROM customer c
WHERE c.c_nationkey IN (2, 5, 8)
  AND EXISTS (SELECT 1 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
              WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'A'
                AND year(o.o_orderdate) = 1996
                AND month(o.o_orderdate) BETWEEN 4 AND 6)
  AND NOT EXISTS (SELECT 1 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                  WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'N'
                    AND year(o.o_orderdate) = 1996
                    AND month(o.o_orderdate) BETWEEN 4 AND 6)
  AND NOT EXISTS (SELECT 1 FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                  WHERE o.o_custkey = c.c_custkey AND l.l_returnflag = 'R'
                    AND year(o.o_orderdate) = 1996
                    AND month(o.o_orderdate) BETWEEN 4 AND 6)
GROUP BY 1, 2, 3
ORDER BY cd_gender ASC, cd_purchase_estimate ASC, cd_credit_rating ASC
LIMIT 100
""",
)


# --- q70: state/county profit rollup with rank-within-parent ---------------

sql_entry(
    _q, "tpcds_q70",
    f"""
WITH agg AS (
  SELECT n.n_name AS s_state, s.s_name AS s_county,
         {_msum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS total_sum,
         CAST(grouping(n.n_name) AS INTEGER) AS g_state,
         CAST(grouping(s.s_name) AS INTEGER) AS g_county
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE year(o.o_orderdate) = 1996
    AND n.n_name IN (
      SELECT s_state FROM (
        SELECT n2.n_name AS s_state,
               rank() OVER (PARTITION BY n2.n_name
                            ORDER BY sum(round(l2.l_extendedprice * 100)) DESC) AS ranking
        FROM lineitem l2
        JOIN orders o2 ON l2.l_orderkey = o2.o_orderkey
        JOIN supplier s2 ON l2.l_suppkey = s2.s_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        WHERE year(o2.o_orderdate) = 1996
        GROUP BY n2.n_name
      ) tmp1 WHERE ranking <= 5
    )
  GROUP BY ROLLUP (n.n_name, s.s_name)
)
SELECT total_sum, s_state, s_county,
       g_state + g_county AS lochierarchy,
       CAST(rank() OVER (
         PARTITION BY g_state + g_county,
                      CASE WHEN g_county = 0 THEN s_state END
         ORDER BY total_sum DESC) AS INTEGER) AS rank_within_parent
FROM agg
ORDER BY lochierarchy DESC,
         CASE WHEN g_state + g_county = 0 THEN s_state END ASC NULLS FIRST,
         rank_within_parent ASC, s_state ASC NULLS FIRST, s_county ASC NULLS FIRST
LIMIT 100
""",
)


# --- q71: brand revenue by hour across three unioned channels --------------

sql_entry(
    _q, "tpcds_q71",
    f"""
WITH tmp AS (
  SELECT round(l.l_extendedprice * 100) AS ext_price, l.l_partkey AS sold_item_sk,
         (l.l_orderkey * 7 + l.l_linenumber * 3) % 24 AS t_hour
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'N' AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1996
  UNION ALL
  SELECT round(l.l_extendedprice * 100), l.l_partkey,
         (l.l_orderkey * 7 + l.l_linenumber * 3) % 24
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'A' AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1996
  UNION ALL
  SELECT round(l.l_extendedprice * 100), l.l_partkey,
         (l.l_orderkey * 7 + l.l_linenumber * 3) % 24
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag = 'R' AND month(o.o_orderdate) = 11 AND year(o.o_orderdate) = 1996
)
SELECT p.p_brand AS brand, CAST(t_hour AS INTEGER) AS t_hour,
       CAST(sum(ext_price) AS BIGINT) AS ext_price
FROM tmp
JOIN part p ON tmp.sold_item_sk = p.p_partkey
WHERE p.p_partkey % 100 < 20
  AND (t_hour BETWEEN 6 AND 9 OR t_hour BETWEEN 17 AND 20)
GROUP BY 1, 2
ORDER BY ext_price DESC, brand ASC, t_hour ASC
""",
)


# --- q85: returns under paired-demographic and address band ORs ------------

sql_entry(
    _q, "tpcds_q85",
    """
SELECT concat('reason_', CAST(l.l_linenumber % 5 AS STRING)) AS r_reason_desc,
       round(avg(l.l_quantity), 6) AS avg_quantity,
       round(avg(round(l.l_extendedprice * l.l_discount * 100)), 6) AS avg_refunded,
       round(avg(round(l.l_extendedprice * l.l_tax * 100)), 6) AS avg_fee
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE l.l_returnflag = 'R' AND year(o.o_orderdate) = 1996
  AND ((c.c_mktsegment = 'BUILDING' AND o.o_orderstatus = 'F'
        AND round(l.l_extendedprice * 100) BETWEEN 1000000 AND 5000000)
    OR (c.c_mktsegment = 'MACHINERY' AND o.o_orderstatus = 'O'
        AND round(l.l_extendedprice * 100) BETWEEN 500000 AND 3000000)
    OR (c.c_mktsegment = 'AUTOMOBILE' AND o.o_orderstatus = 'P'
        AND round(l.l_extendedprice * 100) BETWEEN 1500000 AND 6000000))
  AND ((c.c_nationkey IN (1, 4, 7) AND round(l.l_extendedprice * (1 - l.l_discount) * 100) BETWEEN 100000 AND 20000000)
    OR (c.c_nationkey IN (10, 13, 16) AND round(l.l_extendedprice * (1 - l.l_discount) * 100) BETWEEN 150000 AND 30000000)
    OR (c.c_nationkey IN (19, 22, 24) AND round(l.l_extendedprice * (1 - l.l_discount) * 100) BETWEEN 50000 AND 25000000))
GROUP BY 1
ORDER BY r_reason_desc ASC, avg_quantity ASC, avg_refunded ASC, avg_fee ASC
LIMIT 100
""",
)


# --- q24: per-color netpaid vs 5% of the all-color average -----------------

_Q24_BRANDS_1 = ("Brand#11", "Brand#12", "Brand#13", "Brand#14", "Brand#15")
_Q24_BRANDS_2 = ("Brand#21", "Brand#22", "Brand#23", "Brand#24", "Brand#25")


def _q24_sql(brands: tuple[str, ...]) -> str:
    """Shared q24 text — q24_1 and q24_2 differ ONLY in the color band
    (the reference files are byte-identical apart from 'pale' vs
    'chiffon': tpcds/q24_1.sql vs q24_2.sql). Store purchases in returned
    orders, net paid per (customer, store, color), kept where a band's
    total beats 5% of the all-color average: the ssales CTE has two
    readers. Color analog: brand; country match: supplier region =
    customer region (nation-level equality is vacuous in the synthetic
    data)."""
    blist = ", ".join(f"'{b}'" for b in brands)
    return f"""
WITH ssales AS (
  SELECT c.c_name AS c_last_name, s.s_name AS s_store_name,
         p.p_brand AS i_color,
         {_csum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS netpaid
  FROM lineitem l
  JOIN (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R') r
    ON l.l_orderkey = r.l_orderkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_returnflag <> 'R' AND s.s_nationkey % 5 = c.c_nationkey % 5
  GROUP BY 1, 2, 3
)
SELECT c_last_name, s_store_name, CAST(sum(netpaid) AS BIGINT) AS paid
FROM ssales
WHERE i_color IN ({blist})
GROUP BY 1, 2
HAVING sum(netpaid) > (SELECT 0.05 * avg(netpaid) FROM ssales)
ORDER BY c_last_name ASC, s_store_name ASC
"""


sql_entry(_q, "tpcds_q24", _q24_sql(_Q24_BRANDS_1))


sql_entry(_q, "tpcds_q24_2", _q24_sql(_Q24_BRANDS_2))


# --- q14_2: same-week year-over-year cross-channel comparison --------------

def _q14_2_items_sql(flag: str) -> str:
    return f"""
      SELECT DISTINCT l_partkey FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = '{flag}' AND year(o.o_orderdate) BETWEEN 1996 AND 1998"""


def _q14_2_year_arm_sql(year: int) -> str:
    return f"""
   SELECT p.p_brand AS i_brand,
          CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents,
          CAST(count(*) AS BIGINT) AS number_sales
   FROM lineitem l
   JOIN orders o ON l.l_orderkey = o.o_orderkey
   JOIN part p ON l.l_partkey = p.p_partkey
   WHERE year(o.o_orderdate) = {year} AND weekofyear(o.o_orderdate) = 6
     AND l.l_partkey IN (SELECT l_partkey FROM cross_items)
   GROUP BY p.p_brand
   HAVING CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT)
          > (SELECT average_cents FROM avg_sales)"""


sql_entry(
    _q, "tpcds_q14_2",
    f"""
WITH cross_items AS (
  {_q14_2_items_sql('N')}
  INTERSECT
  {_q14_2_items_sql('A')}
  INTERSECT
  {_q14_2_items_sql('R')}
), avg_sales AS (
  SELECT CAST(sum(round(l.l_quantity * (l.l_extendedprice / l.l_quantity) * 100)) AS BIGINT) / count(*) AS average_cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1996 AND 1998
)
SELECT 'store' AS channel, ty.i_brand,
       ty.sales_cents AS ty_sales_cents, ty.number_sales AS ty_number_sales,
       ly.sales_cents AS ly_sales_cents, ly.number_sales AS ly_number_sales
FROM ({_q14_2_year_arm_sql(1998)}) ty
JOIN ({_q14_2_year_arm_sql(1997)}) ly ON ty.i_brand = ly.i_brand
ORDER BY ty.i_brand
LIMIT 100
""",
)


# --- q23_2: best-customer frequent-item sales per customer name ------------

sql_entry(
    _q, "tpcds_q23_2",
    """
WITH frequent_items AS (
  SELECT l.l_partkey AS item_sk
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998
  GROUP BY l.l_partkey, year(o.o_orderdate)
  HAVING count(*) > 4
), csales AS (
  SELECT o.o_custkey, CAST(sum(round(l.l_quantity * (l.l_extendedprice / l.l_quantity) * 100)) AS BIGINT) AS csales
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE year(o.o_orderdate) BETWEEN 1995 AND 1998
  GROUP BY o.o_custkey
), max_sales AS (
  SELECT max(csales) AS cmax FROM csales
), best_customers AS (
  SELECT c2.o_custkey FROM (
    SELECT o.o_custkey, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS ssales
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_custkey
  ) c2, max_sales
  WHERE c2.ssales * 2 > cmax
), arm_a AS (
  SELECT c.c_name AS c_last_name, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 2
    AND l.l_returnflag = 'A'
    AND l.l_partkey IN (SELECT item_sk FROM frequent_items)
    AND o.o_custkey IN (SELECT o_custkey FROM best_customers)
  GROUP BY c.c_name
), arm_r AS (
  SELECT c.c_name AS c_last_name, CAST(sum(round(l.l_extendedprice * 100)) AS BIGINT) AS sales_cents
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE year(o.o_orderdate) = 1996 AND month(o.o_orderdate) = 2
    AND l.l_returnflag = 'R'
    AND l.l_partkey IN (SELECT item_sk FROM frequent_items)
    AND o.o_custkey IN (SELECT o_custkey FROM best_customers)
  GROUP BY c.c_name
)
SELECT c_last_name, sales_cents FROM arm_a
UNION ALL
SELECT c_last_name, sales_cents FROM arm_r
ORDER BY c_last_name ASC, sales_cents ASC
LIMIT 100
""",
)
