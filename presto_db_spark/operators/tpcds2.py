"""TPC-DS adapted, round-5 widening — the 45 queries that complete the
corpus at 99/99: q15 q16 q20 q21 q22 q24 q25 q26 q27 q28 q29 q30 q32 q37
q39 q40 q41 q43 q46 q53 q56 q57 q60 q62 q63 q64 q68 q69 q70 q71 q72 q73
q74 q77 q80 q81 q82 q83 q84 q85 q89 q91 q94 q98 q99.

Same conventions as ``operators/tpcds.py``: each query preserves the
reference's SHAPE (join topology, CTE structure, windowing, correlated
predicates — cited per query from
``presto-benchto-benchmarks/src/main/resources/sql/presto/tpcds/qNN.sql``)
re-targeted onto the driver's TPC-H-ish tables:

* store_sales → lineitem ⋈ orders (revenue ``_REV_SQL``); catalog/web
  channels → tax/totalprice expressions (as q04/q11 established);
* returns → ``l_returnflag = 'R'`` rows;
* item → part, store/warehouse → supplier, address state/city → nation,
  date_dim roles → functions of o_orderdate / l_shipdate;
* every float aggregate uses the exact-cents idiom (``_msum_sql``/
  ``_csum_sql``) so Spark and DuckDB agree bit-for-bit;
* every LIMIT query carries a deterministic total ORDER BY in BOTH
  engines.

As there, each query is its SQL text registered by ``sql_entry``,
and a DataFrame port stays only where its comment names its keep-rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..engine import sql_entry
from ..registry import family
from .tpch import _csum, _csum_sql, _msum, _msum_sql

QUERIES, ORACLE, _q = family()


_REV_SQL = "l_extendedprice * (1 - l_discount)"


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
