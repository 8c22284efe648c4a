"""Relational operator corpus: windows, grouping sets, set ops, subqueries,
unnest, values, distinct-limit, mixed DISTINCT aggregation, sampling.

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
    (``ImplementIntersectAndExceptAsUnion.java`` — Spark has native physical
    ops, ``intersectAll`` included)
  - subqueries: correlated scalar, IN, quantified ALL
    (decorrelation rules ``TransformCorrelatedInPredicateToJoin.java`` etc.;
    Spark SQL lacks `> ALL` syntax, so the Spark side decorrelates to a
    max/min join — the exact rewrite the reference's planner performs)
  - EXISTS / NOT EXISTS decorrelated to semi/anti joins
    (``TransformExistsApplyToLateralNode`` +
    ``TransformUncorrelatedInPredicateSubqueryToSemiJoin``,
    ``pm/sql/planner/iterative/rule/``); Spark's ``RewritePredicateSubquery``
    produces LeftSemi/LeftAnti the same way
  - NOT IN three-valued NULL semantics: a NULL in the subquery makes
    ``x NOT IN (...)`` never true (null-aware anti join), unlike LEFT ANTI
    (``HashSemiJoinOperator``'s match channel,
    ``pm/operator/HashSemiJoinOperator.java:32``)
  - multiple DISTINCT aggregates in one pass — ``MarkDistinctOperator``
    (``pm/operator/MarkDistinctOperator.java:35``, planner rule
    ``MultipleDistinctAggregationToMarkDistinct``); Spark lowers the same
    shape through ``RewriteDistinctAggregates``/Expand
  - UnnestOperator with ordinality (``pm/operator/unnest/UnnestOperator.java:48``)
    → ``posexplode``
  - ValuesOperator (``pm/operator/ValuesOperator.java:27``)
  - DistinctLimitOperator (``pm/operator/DistinctLimitOperator.java:37``)
  - TABLESAMPLE BERNOULLI — ``SampleNode`` (grammar ``SqlBase.g4``) →
    ``df.sample``; sampling is engine-specific → rows-only check

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


sql_entry(
    _q, "subq_exists",
    """
SELECT c.c_custkey, c.c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
""",
)


sql_entry(
    _q, "subq_not_in_null",
    """
SELECT
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderkey < 1000))
    AS n_no_null,
  (SELECT count(*) FROM customer
   WHERE c_custkey NOT IN (SELECT nullif(o_custkey, o_custkey) FROM orders
                           WHERE o_orderkey < 10))
    AS n_with_null
""",
)


sql_entry(
    _q, "agg_multi_distinct",
    """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS nd_part,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
       CAST(count(DISTINCT l_linestatus) AS BIGINT) AS nd_status,
       round(sum(l_quantity), 2) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
""",
)


@_q(
    "unnest_ordinality",
    """
WITH s AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE doc_id < 30
)
SELECT doc_id, CAST(t.i - 1 AS INTEGER) AS pos, words[CAST(t.i AS INTEGER)] AS word
FROM s, unnest(generate_series(1, len(words))) t(i)
""",
)
def unnest_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") < 30)
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("words"))
        .select("doc_id", F.posexplode("words").alias("pos", "word"))
    )


sql_entry(
    _q, "setop_intersect_all",
    """
SELECT l_partkey, l_suppkey FROM lineitem WHERE l_orderkey < 2000
INTERSECT ALL
SELECT l_partkey, l_suppkey FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 3000
""",
)


@_q(
    "win_range_value_frame",
    """
SELECT event_id, user_id,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                           RANGE BETWEEN 300 PRECEDING AND 300 FOLLOWING) AS BIGINT)
         AS n_nearby,
       round(sum(round(value * 100)) OVER (PARTITION BY user_id
                           ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                           RANGE BETWEEN 300 PRECEDING AND CURRENT ROW) / 100, 2)
         AS trailing_value
FROM events WHERE user_id < 30
""",
)
def win_range_value_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame with VALUE offsets (±300 s around each event) — the
    frame variant win_frames doesn't cover (``FrameInfo.java:25`` RANGE
    N PRECEDING/FOLLOWING). Value-range frames are tie-safe: peers share
    the frame, so the result is deterministic under equal timestamps."""
    from pyspark.sql import Window as W

    from ..catalog import load_table

    events = load_table(spark, sf_dir, "events")
    sec = F.unix_seconds("ts")
    base = events.filter(F.col("user_id") < 30).select(
        "event_id", "user_id", sec.alias("sec"), "value"
    )
    w_both = W.partitionBy("user_id").orderBy("sec").rangeBetween(-300, 300)
    w_trail = W.partitionBy("user_id").orderBy("sec").rangeBetween(-300, W.currentRow)
    return base.select(
        "event_id",
        "user_id",
        F.count("*").over(w_both).alias("n_nearby"),
        F.round(F.sum(F.round(F.col("value") * 100)).over(w_trail) / 100, 2).alias(
            "trailing_value"
        ),
    )


@_q(
    "win_ignore_nulls",
    """
WITH t AS (
  SELECT o_orderkey, o_custkey, o_orderdate,
         CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS v
  FROM orders WHERE o_custkey < 50
)
SELECT o_orderkey,
       lag(v IGNORE NULLS) OVER w AS prev_nn,
       last_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_nn,
       first_value(v IGNORE NULLS) OVER w AS first_nn
FROM t WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def win_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS value-window semantics (``LagFunction.java:55``,
    ``FirstValueFunction``/``LastValueFunction``) — every third price nulled
    so the skip-over behavior is actually exercised."""
    from pyspark.sql import Window as W

    (orders,) = load_tables(spark, sf_dir, "orders")
    t = orders.filter(F.col("o_custkey") < 50).select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_totalprice"))
        .alias("v"),
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    # PySpark's F.lag has no ignoreNulls parameter — SQL syntax via expr;
    # first/last expose it directly.
    over = "OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"
    return t.select(
        "o_orderkey",
        F.expr(f"lag(v) IGNORE NULLS {over}").alias("prev_nn"),
        F.last("v", ignorenulls=True).over(w_run).alias("last_nn"),
        F.first("v", ignorenulls=True).over(w).alias("first_nn"),
    )


sql_entry(
    _q, "setop_except_distinct",
    """
SELECT l_partkey, l_suppkey FROM lineitem WHERE l_orderkey < 2000
EXCEPT
SELECT l_partkey, l_suppkey FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 3000
""",
)


# Kept port (keep-rule 2c, text skips the function): it asserts TRUE instead of computing the ids.
@_q(
    "misc_unique_id",
    """
SELECT CAST(count(*) AS BIGINT) AS n, true AS ids_unique
FROM lineitem WHERE l_orderkey < 5000
""",
)
def misc_unique_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AssignUniqueIdOperator (``pm/operator/AssignUniqueIdOperator.java:29``)
    → monotonically_increasing_id. Ids themselves are partition-dependent, so
    the oracle checks the operator's contract instead: as many DISTINCT ids
    as rows."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    with_id = li.filter(F.col("l_orderkey") < 5000).withColumn(
        "uid", F.monotonically_increasing_id()
    )
    return with_id.agg(
        F.count("*").alias("n"),
        (F.countDistinct("uid") == F.count("*")).alias("ids_unique"),
    )


# Kept port (keep-rule 2c, text skips the function): it asserts TRUE instead of sampling.
@_q(
    "sample_bernoulli",
    """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_total,
       TRUE AS sample_within_bounds
FROM lineitem GROUP BY l_returnflag
""",
)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE BERNOULLI(10) — seeded df.sample. WHICH rows are drawn
    is engine-RNG-dependent, but the statistical contract is checkable: per
    group, the sampled count must land within 6 sigma of the 10%
    expectation (binomial bound, in-query boolean the oracle pins TRUE)
    alongside the exact group totals."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    totals = li.groupBy("l_returnflag").agg(F.count("*").alias("n_total"))
    sampled = (
        li.sample(fraction=0.1, seed=42)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_sampled"))
    )
    mean = F.col("n_total") * 0.1
    sigma = F.sqrt(F.col("n_total") * 0.1 * 0.9)
    return totals.join(sampled, "l_returnflag", "left").select(
        "l_returnflag",
        "n_total",
        (
            F.abs(F.coalesce(F.col("n_sampled"), F.lit(0)) - mean) <= sigma * 6 + 1
        ).alias("sample_within_bounds"),
    )


@_q(
    "unnest_multi_zip",
    """
WITH d AS (
  SELECT doc_id, string_split(trim(text), ' ') AS words
  FROM documents WHERE doc_id < 200
)
SELECT doc_id, unnest(words) AS w,
       CAST(unnest(list_transform(words, x -> length(x))) AS INT) AS wl
FROM d
""",
)
def unnest_multi_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presto ``CROSS JOIN UNNEST(a, b)`` — MULTI-array unnest zips the
    arrays positionally (``pm/operator/unnest/UnnestOperator.java:48``
    drives all unnest channels in lock-step). Spark: ``arrays_zip`` then
    ``inline`` — one generator, no join."""
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("doc_id") < 200).select(
        "doc_id", F.split(F.trim("text"), " ").alias("words")
    )
    zipped = d.select(
        "doc_id",
        F.arrays_zip(
            F.col("words").alias("w"),
            F.transform("words", F.length).alias("wl"),
        ).alias("z"),
    )
    return zipped.select("doc_id", F.inline("z"))


@_q(
    "unnest_map",
    """
SELECT doc_id, e.key AS k, CAST(e.value AS BIGINT) AS v
FROM documents, LATERAL unnest(map_entries(
  MAP {'n_chars': length(text), 'n_words': len(string_split(trim(text), ' '))}
)) AS t(e)
WHERE doc_id < 200
""",
)
def unnest_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presto ``UNNEST(map)`` → (key, value) rows (UnnestOperator's map
    channel). Spark: ``explode`` over a map column."""
    from ..catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("n_chars"), F.length("text").cast("long"),
        F.lit("n_words"), F.size(F.split(F.trim("text"), " ")).cast("long"),
    )
    return (
        docs.filter(F.col("doc_id") < 200)
        .select("doc_id", F.explode(m).alias("k", "v"))
    )


# --- distributed global sort acceptance ------------------------------------

_SORT_SQL = """
WITH ranked AS (
  SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice,
         row_number() OVER (ORDER BY l_shipdate, l_orderkey, l_linenumber)
           AS rn
  FROM lineitem
)
SELECT rn, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
       l_shipdate, l_extendedprice
FROM ranked WHERE rn % 1000 = 1 ORDER BY rn
"""


# Kept port (keep-rule 2b, worse plan): the text's row_number window runs on one partition.
@_q("sort_distributed_sample", _SORT_SQL)
def sort_distributed_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed full-table sort acceptance (the reference ships a
    dedicated ``distributed_sort.yaml`` benchto suite): globally sort the
    fact on a unique 3-key composite and emit every 1000th row — the
    sampled rows pin the GLOBAL order (any mis-merged range partition
    shifts them) while the output stays tiny.

    The global index is built the way a 1000-executor sort must be —
    NOT a single-partition window: range-partition on the sort key,
    sort within partitions, per-partition row offsets from the sorted
    stage's own consecutive ids, then the broadcast prefix-offset join
    (a #partitions-sized broadcast — the only driver-side state). The
    composite key is unique, so the global index is deterministic
    regardless of the sampled range boundaries. r10: rebuilt on
    ``distrank.global_index``'s rank-only path — ONE shuffle of the
    fact total (the r01-r09 form paid a second full
    hashpartitioning(pid) exchange for its local-rank window)."""
    from ..catalog import load_table
    from .distrank import global_index

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice"
    )
    keys = ["l_shipdate", "l_orderkey", "l_linenumber"]
    return (
        global_index(li, keys)
        .withColumn("rn", F.col("__rn"))
        .filter((F.col("rn") % 1000) == 1)
        .select(
            "rn", "l_orderkey",
            F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
            "l_shipdate", "l_extendedprice",
        )
        .orderBy("rn")
    )


# --- PIVOT / UNPIVOT / gaps-and-islands (r11p wave) --------------------------
# Presto 0.236 has no PIVOT syntax (users write conditional aggregation —
# the exact shape the pivot text uses; Spark plans it as one hash
# aggregate over `CASE` projections). UNPIVOT is `DataFrame.unpivot`
# (Expand node, zero shuffles).
# Gaps-and-islands is the classic sequence analytic: runs of consecutive
# keys found via the key-minus-row_number invariant, windowed PER GROUP
# (never a single-partition window).

_PIVOT_SQL = """
WITH p AS (
  SELECT p_size % 5 AS size_mod, p_brand,
         CAST(round(p_retailprice * 100) AS BIGINT) AS c
  FROM part
  WHERE p_brand IN ('Brand#1', 'Brand#2', 'Brand#3', 'Brand#4', 'Brand#5')
)
SELECT CAST(size_mod AS BIGINT) AS size_mod,
       CAST(sum(CASE WHEN p_brand = 'Brand#1' THEN c END) AS BIGINT) AS b1_cents,
       CAST(sum(CASE WHEN p_brand = 'Brand#2' THEN c END) AS BIGINT) AS b2_cents,
       CAST(sum(CASE WHEN p_brand = 'Brand#3' THEN c END) AS BIGINT) AS b3_cents,
       CAST(sum(CASE WHEN p_brand = 'Brand#4' THEN c END) AS BIGINT) AS b4_cents,
       CAST(sum(CASE WHEN p_brand = 'Brand#5' THEN c END) AS BIGINT) AS b5_cents
FROM p GROUP BY size_mod ORDER BY size_mod
"""


sql_entry(_q, "part_pivot_wide", _PIVOT_SQL)


_UNPIVOT_SQL = """
WITH wide AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS spend_cents
  FROM events GROUP BY user_id
)
SELECT user_id, metric, value FROM (
  SELECT user_id, 'n_click' AS metric, n_click AS value FROM wide
  UNION ALL SELECT user_id, 'n_view', n_view FROM wide
  UNION ALL SELECT user_id, 'n_purchase', n_purchase FROM wide
  UNION ALL SELECT user_id, 'spend_cents', spend_cents FROM wide
) ORDER BY user_id, metric
"""


# Kept port (keep-rule 2b, worse plan): the text fails test_unpivot_plan_shape.
@_q("events_unpivot_metrics", _UNPIVOT_SQL)
def events_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native UNPIVOT (wide metric columns → tidy long rows): one per-user
    aggregate builds the wide frame, then ``DataFrame.unpivot`` lowers to
    an Expand node — a 4× row multiplier with ZERO additional shuffles
    (the oracle's UNION-ALL form re-reads the CTE four times in engines
    without CTE materialization). The long layout is what metric stores /
    feature pipelines ingest."""
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    wide = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint").alias("n_click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint").alias("n_view"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint").alias("n_purchase"),
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("bigint").alias("spend_cents"),
    )
    return wide.unpivot(
        ["user_id"],
        ["n_click", "n_view", "n_purchase", "spend_cents"],
        "metric",
        "value",
    ).orderBy("user_id", "metric")


_ISLANDS_SQL = """
WITH s AS (
  SELECT o_custkey, o_orderkey,
         o_orderkey - row_number() OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderkey) AS grp
  FROM orders
)
SELECT o_custkey,
       CAST(min(o_orderkey) AS BIGINT) AS island_start,
       CAST(max(o_orderkey) AS BIGINT) AS island_end,
       CAST(count(*) AS BIGINT) AS island_len
FROM s GROUP BY o_custkey, grp
HAVING count(*) >= 2
ORDER BY o_custkey, island_start
"""


sql_entry(_q, "win_gaps_islands", _ISLANDS_SQL)


# --- correlated LATERAL subquery (r11t wave) ---------------------------------
# Presto grammar exposes correlated subqueries that its planner rewrites
# through TransformCorrelated*/LateralJoin nodes
# (pm/sql/planner/iterative/rule/TransformCorrelatedScalarSubquery.java);
# Spark's SQL surface is the explicit `, LATERAL (...)` join (decorrelated
# by DecorrelateInnerQuery + RewriteLateralSubquery). The per-group
# ORDER BY ... LIMIT k body is the acid test: the decorrelated plan must
# become a partitioned window-group-limit, never an N×M nested loop.

_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.price_cents
FROM customer c,
LATERAL (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
  FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
WHERE c.c_mktsegment = 'BUILDING'
ORDER BY c.c_custkey, t.price_cents DESC, t.o_orderkey
"""


sql_entry(_q, "subq_lateral_topn", _LATERAL_SQL)


# --- existence join (EXISTS as a projected column, r11x wave) ----------------
# subq_exists covers EXISTS as a FILTER (LeftSemi); when the predicate's
# truth value is PROJECTED instead, both engines plan a different join
# type entirely — Spark's ExistenceJoin (Presto: the semi-join "match"
# channel surfaced as a column, HashSemiJoinOperator.java's
# SemiJoinOutput). The per-segment conversion rollup keeps the output
# bounded and the oracle one conditional aggregate.

_EXISTENCE_SQL = """
WITH flags AS (
  SELECT c.c_custkey, c.c_mktsegment,
         EXISTS (SELECT 1 FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                   AND o.o_orderpriority = '1-URGENT') AS has_urgent
  FROM customer c
)
SELECT c_mktsegment, has_urgent,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(min(c_custkey) AS BIGINT) AS min_custkey
FROM flags GROUP BY c_mktsegment, has_urgent
ORDER BY c_mktsegment, has_urgent
"""


sql_entry(_q, "join_existence_flag", _EXISTENCE_SQL)


# --- aggregate FILTER clause (r11z wave) -------------------------------------
# The SQL:2003 FILTER (WHERE ...) aggregate modifier — Presto grammar
# `aggregationClause` (SqlBase.g4 `filter`), lowered through
# `AggregationNode`'s mask channels; Spark parses the same syntax and
# lowers it to the conditional-aggregate form. One literal SQL text runs
# in BOTH engines.

_FILTER_SQL = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_all,
       CAST(count(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_big,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
            FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
         AS urgent_cents,
       CAST(count(DISTINCT o_custkey) FILTER (WHERE o_orderpriority = '1-URGENT')
            AS BIGINT) AS urgent_customers
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


sql_entry(_q, "agg_filter_clause", _FILTER_SQL)
