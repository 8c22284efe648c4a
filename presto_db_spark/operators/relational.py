"""Relational operator corpus: windows, grouping sets, set ops, subqueries,
unnest, values, distinct-limit.

Covers the reference inventory of SURVEY.md §2.4-§2.9:
  - WindowOperator + ranking/value functions and ROWS/RANGE frames
    (``pm/operator/WindowOperator.java:47``, ``pm/operator/window/``,
    frame spec ``presto-parser/.../tree/WindowFrame.java:30``)
  - TopNRowNumberOperator / WindowFilterPushDown top-N-per-group rewrite
    (``pm/operator/TopNRowNumberOperator.java:38``) — Spark 4 applies the
    same rewrite via WindowGroupLimit automatically
  - GroupIdOperator grouping sets / rollup / cube
    (``pm/operator/GroupIdOperator.java:32``)
  - set operations incl. INTERSECT/EXCEPT [ALL]
    (``ImplementIntersectAndExceptAsUnion.java`` — Spark has native physical ops)
  - subqueries: correlated scalar, IN, quantified ALL
    (decorrelation rules ``TransformCorrelatedInPredicateToJoin.java`` etc.;
    Spark SQL lacks `> ALL` syntax, so the Spark side decorrelates to a
    max/min join — the exact rewrite the reference's planner performs)
  - UnnestOperator with ordinality (``pm/operator/unnest/UnnestOperator.java:48``)
  - ValuesOperator (``pm/operator/ValuesOperator.java:27``)
  - DistinctLimitOperator (``pm/operator/DistinctLimitOperator.java:37``)

Determinism: every window order and LIMIT carries a unique-key tie-break;
money sums use the exact-cents idiom (see tpch._msum).

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


# --- window: ranking family -------------------------------------------------

sql_entry(
    _q, "win_rank",
    """
SELECT c_custkey,
       CAST(c_nationkey AS INTEGER) AS nat,
       CAST(row_number()   OVER w AS BIGINT) AS rn,
       CAST(rank()         OVER w AS BIGINT) AS rnk,
       CAST(dense_rank()   OVER w AS BIGINT) AS drnk,
       round(percent_rank() OVER w, 6) AS prnk,
       round(cume_dist()    OVER w, 6) AS cd,
       CAST(ntile(4) OVER w AS INTEGER) AS nt
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
""",
)


# --- window: value family (lag/lead/first/last/nth, IGNORE NULLS semantics) -

sql_entry(
    _q, "win_value",
    """
SELECT o_orderkey,
       lag(o_totalprice)  OVER w AS prev_price,
       lead(o_totalprice) OVER w AS next_price,
       first_value(o_orderkey) OVER w AS first_ord,
       last_value(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS last_ord,
       nth_value(o_orderkey, 2) OVER w AS second_ord
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)


# --- window: ROWS / RANGE frames (running + moving aggregates) -------------

sql_entry(
    _q, "win_frames",
    """
SELECT o_orderkey,
       CAST(sum(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
       round(avg(round(o_totalprice * 100)) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate, o_orderkey
            ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100, 4) AS moving_avg,
       CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate
            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS range_cnt
FROM orders
""",
)


# --- top-N per group (TopNRowNumberOperator / WindowGroupLimit) ------------

sql_entry(
    _q, "win_topn_per_group",
    """
SELECT nat, c_custkey, c_acctbal
FROM (
  SELECT CAST(c_nationkey AS INTEGER) AS nat, c_custkey, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer
) t WHERE rn <= 3
""",
)


# --- grouping sets / rollup / cube -----------------------------------------

sql_entry(
    _q, "grouping_sets",
    """
SELECT l_returnflag, l_linestatus,
       CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
       CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
       CAST(sum(round(l_quantity)) AS BIGINT) AS qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
)


sql_entry(
    _q, "cube_agg",
    """
SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
       round(sum(round((l_extendedprice * (1 - l_discount)) * 100)) / 100, 2) AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)


sql_entry(
    _q, "rollup_agg",
    """
SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority,
       CAST(count(*) AS BIGINT) AS cnt
FROM orders
GROUP BY ROLLUP (year(o_orderdate), o_orderpriority)
""",
)


# --- set operations ---------------------------------------------------------

sql_entry(
    _q, "setop_intersect",
    """
SELECT c_custkey AS k FROM customer WHERE c_acctbal > 1000
INTERSECT
SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
""",
)


sql_entry(
    _q, "setop_except_all",
    """
SELECT o_custkey AS k FROM orders WHERE o_orderstatus <> 'P'
EXCEPT ALL
SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
""",
)


sql_entry(
    _q, "setop_union_all_counts",
    """
SELECT k, CAST(count(*) AS BIGINT) AS cnt FROM (
  SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
  UNION ALL
  SELECT s_suppkey AS k FROM supplier
) u GROUP BY k
""",
)


sql_entry(
    _q, "setop_union_distinct",
    """
SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
UNION
SELECT s_suppkey AS k FROM supplier
UNION
SELECT CAST(NULL AS BIGINT) AS k
""",
)


# --- distinct + limit (DistinctLimitOperator) ------------------------------

sql_entry(
    _q, "distinct_limit",
    """
SELECT DISTINCT l_suppkey FROM lineitem ORDER BY l_suppkey LIMIT 5
""",
)


# --- VALUES ----------------------------------------------------------------

sql_entry(
    _q, "values_join",
    """
SELECT v.tier, CAST(count(*) AS BIGINT) AS cnt
FROM (VALUES ('gold', 3000.0), ('silver', 1000.0), ('bronze', 0.0)) AS v(tier, lo)
JOIN customer ON c_acctbal >= v.lo
GROUP BY v.tier
""",
)


# --- UNNEST with ordinality -------------------------------------------------

@_q(
    "unnest_words",
    """
SELECT doc_id, CAST(u.ord AS INTEGER) AS ord, u.word
FROM (SELECT doc_id, unnest(list_transform(string_split(text, ' '),
             (w, i) -> struct_pack(word := w, ord := i))) AS u
      FROM documents WHERE doc_id < 20) t
""",
)
def unnest_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = load_tables(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 20)
        .select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word"))
        .select("doc_id", (F.col("pos") + 1).cast("int").alias("ord"), "word")
    )


# --- subqueries ------------------------------------------------------------

sql_entry(
    _q, "subq_scalar_corr",
    """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
""",
)


sql_entry(
    _q, "subq_in_agg",
    """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders
                    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                      AND o_orderdate < TIMESTAMP '1998-01-01')
GROUP BY c_mktsegment
""",
)


@_q(
    "subq_quantified_all",
    """
SELECT p_brand, p_partkey, p_retailprice
FROM part p
WHERE p_retailprice >= ALL (SELECT p2.p_retailprice FROM part p2
                            WHERE p2.p_brand = p.p_brand)
""",
)
def subq_quantified_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    (part,) = load_tables(spark, sf_dir, "part")
    # `>= ALL (correlated)` ≡ >= max of the group — the decorrelation the
    # reference applies in TransformQuantifiedComparisonApplyToLateralJoin.java.
    per_brand = part.groupBy(F.col("p_brand").alias("pb")).agg(
        F.max("p_retailprice").alias("mx")
    )
    return (
        part.join(F.broadcast(per_brand), F.col("p_brand") == F.col("pb"))
        .filter(F.col("p_retailprice") >= F.col("mx"))
        .select("p_brand", "p_partkey", "p_retailprice")
    )


# --- join types beyond TPC-H (right / full outer / cross) ------------------

sql_entry(
    _q, "join_full_outer",
    """
SELECT coalesce(a.k, b.k) AS k, a.cnt_line, b.cnt_ord
FROM (SELECT l_suppkey AS k, CAST(count(*) AS BIGINT) AS cnt_line
      FROM lineitem WHERE l_returnflag = 'A' GROUP BY l_suppkey) a
FULL OUTER JOIN
     (SELECT CAST(s_suppkey AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS cnt_ord
      FROM supplier WHERE s_acctbal > 0 GROUP BY s_suppkey) b
ON a.k = b.k
""",
)


sql_entry(
    _q, "join_right_cross",
    """
SELECT r_name, n_name
FROM nation RIGHT JOIN region ON n_regionkey = r_regionkey AND n_nationkey < 5
""",
)
