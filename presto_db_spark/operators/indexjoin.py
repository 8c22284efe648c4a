"""Index lookup join — the ``IndexJoinOperator`` family analog.

Reference: ``pm/operator/index/`` (IndexLoader / IndexSourceOperator /
PageBufferOperator driving a connector-provided key→rows index),
plan node ``pm/sql/planner/plan/IndexJoinNode.java``, selection
``pm/sql/planner/optimizations/IndexJoinOptimizer.java``.  The reference
streams the probe side and, per batch of probe keys, executes POINT
LOOKUPS against the indexed source instead of scanning it.

Spark-first re-expression: parquet's row-group min/max statistics ARE the
index.  The probe side's DISTINCT keys (the optimizer only selects an
index join when the probe key set is small — IndexJoinOptimizer requires
an indexable source and bounded lookups; we enforce the same
applicability gate with ``max_keys``) are collected and pushed into the
indexed table's scan as an ``In`` filter, so the scan prunes row groups
and never reads the non-matching bulk — the moral equivalent of the
point lookup, expressed declaratively so Catalyst shows ``PushedFilters:
[In(key, ...)]`` on the scan (plan-gated in ``tests/test_relational2.py``).
The join itself then broadcasts the (small) probe side.

100 TB: the indexed fact stays partitioned; only row groups whose
min/max straddle a probe key are read.  Sorting/clustering the fact by
the key at write time (``sources/io.py`` bucketed write) tightens the
stats exactly like rebuilding an index.  The applicability gate fails
loudly past ``max_keys`` — the same "index join or nothing" contract the
reference's optimizer applies, never a silent full scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import family

QUERIES, ORACLE, _q = family()

MAX_INDEX_KEYS = 10_000  # applicability gate (IndexJoinOptimizer analog)


def index_lookup_join(
    probe: DataFrame,
    indexed: DataFrame,
    probe_key: str,
    index_key: str,
    *,
    max_keys: int = MAX_INDEX_KEYS,
) -> DataFrame:
    """Join ``probe`` against ``indexed`` by pushing the probe's distinct
    keys into the indexed side's scan (``isin`` → parquet ``In`` pushdown
    → row-group pruning), then broadcasting the probe side.  Raises when
    the probe key set exceeds ``max_keys`` — index joins are for bounded
    lookups; an unbounded probe belongs in a shuffle join."""
    keys = [r[0] for r in probe.select(probe_key).distinct().collect()]
    if len(keys) > max_keys:
        raise ValueError(
            f"index_lookup_join: {len(keys)} probe keys exceed the "
            f"applicability bound {max_keys} — use a shuffle join"
        )
    pruned = indexed.filter(F.col(index_key).isin(keys))
    return F.broadcast(probe).join(
        pruned, F.col(probe_key) == F.col(index_key)
    )


_IDX_SQL = """
WITH probe AS (
  SELECT c_custkey, c_name FROM customer
  WHERE c_acctbal > 9000 AND c_mktsegment = 'BUILDING'
)
SELECT p.c_custkey, p.c_name,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(round(o.o_totalprice * 100)) AS BIGINT)
         AS sum_price_cents
FROM probe p JOIN orders o ON o.o_custkey = p.c_custkey
GROUP BY p.c_custkey, p.c_name
ORDER BY p.c_custkey
"""


# Kept port (keep-rule 2d, helper coverage): index_lookup_join.
@_q("join_index_lookup", _IDX_SQL)
def join_index_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A bounded probe set (high-balance (>9000) BUILDING customers) looked up
    against the orders fact through the key-pushdown index join; per-key
    order counts and exact-cents totals.  The oracle is the plain
    relational join — proving the pruned path loses no rows."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    probe = cust.filter(
        (F.col("c_acctbal") > 9000) & (F.col("c_mktsegment") == "BUILDING")
    ).select("c_custkey", "c_name")
    joined = index_lookup_join(
        probe, orders, "c_custkey", "o_custkey"
    )
    return (
        joined.groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100))
            .cast("long")
            .alias("sum_price_cents"),
        )
        .orderBy("c_custkey")
    )


# --- bloom-prefiltered join (runtime dynamic filtering) ----------------------

# Portable exact-integer bloom filter: k=3 md5-derived positions in an
# m=256-bit space — m deliberately small enough that the fixture dim
# produces REAL false positives at the correctness SF, so the oracle
# comparison exercises the honesty branch (production sizes m per the
# standard m ≈ -n·ln(p)/ln(2)² rule).  md5 hex is identical in Spark and DuckDB, so the
# oracle reproduces the EXACT same filter — false positives included.
_BLOOM_M = 256
_BLOOM_K = 3


def _bloom_pos_spark(tag: int, col: str) -> str:
    return (
        f"CAST(conv(substr(md5(concat('b{tag}:', CAST({col} AS STRING))),"
        f" 1, 8), 16, 10) AS BIGINT) % {_BLOOM_M}"
    )


def _bloom_pos_duck(tag: int, col: str) -> str:
    return (
        f"('0x' || substr(md5('b{tag}:' || CAST({col} AS VARCHAR)),"
        f" 1, 8))::BIGINT % {_BLOOM_M}"
    )


_BLOOM_SQL = f"""
WITH dim AS (
  SELECT c_custkey FROM customer
  WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 5
), bloom AS (
  SELECT DISTINCT unnest([{_bloom_pos_duck(0, 'c_custkey')},
                          {_bloom_pos_duck(1, 'c_custkey')},
                          {_bloom_pos_duck(2, 'c_custkey')}]) AS pos
  FROM dim
), probe AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         {_bloom_pos_duck(0, 'o_custkey')} AS h0,
         {_bloom_pos_duck(1, 'o_custkey')} AS h1,
         {_bloom_pos_duck(2, 'o_custkey')} AS h2
  FROM orders
), cand AS (
  SELECT * FROM probe
  WHERE h0 IN (SELECT pos FROM bloom)
    AND h1 IN (SELECT pos FROM bloom)
    AND h2 IN (SELECT pos FROM bloom)
)
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(count(d.c_custkey) AS BIGINT) AS n_matched,
       CAST(count(*) - count(d.c_custkey) AS BIGINT) AS n_false_positives,
       CAST(sum(CASE WHEN d.c_custkey IS NOT NULL
                     THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
            AS BIGINT) AS sum_price_cents
FROM cand LEFT JOIN dim d ON cand.o_custkey = d.c_custkey
"""


@_q("join_bloom_prefilter", _BLOOM_SQL)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered join — the reference's runtime dynamic-filtering
    idea (``pm/operator/index/DynamicTupleFilterFactory.java``: build-side
    values pushed as a tuple filter onto the probe) and Spark's own
    internal runtime bloom join
    (``spark.sql.optimizer.runtime.bloomFilter.enabled``), expressed as
    an explicit, engine-portable plan: the tiny dim side's keys populate
    a fixed m-bit / k-hash bloom filter (m=256, k=3 here) (md5-derived
    positions — identical integers in Spark and DuckDB, so the oracle
    reproduces the filter exactly, FALSE POSITIVES INCLUDED); the fact
    side drops non-members via three broadcast LEFT SEMI joins on the
    position set BEFORE the real join; the exact join then removes the
    false positives, and the output counts them — proving both the
    prefilter's soundness (no matched row lost) and its honesty (the
    false-positive count is visible, not hidden).

    100 TB: the fact table never shuffles — the bloom position set is at
    most m distinct values regardless of dim size (THE bloom
    property), broadcast to every executor; the three semi-joins and the
    final dim join are all broadcast-hash; candidate volume ∝ true
    matches + bounded false-positive rate. This is the manual form of
    what AQE's runtime filtering does between stages, usable where the
    optimizer can't see the opportunity (pre-aggregated dims, UDF-derived
    keys)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dim = cust.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_nationkey") == 5)
    ).select("c_custkey")
    bloom = (
        dim.selectExpr(
            f"explode(array({_bloom_pos_spark(0, 'c_custkey')},"
            f" {_bloom_pos_spark(1, 'c_custkey')},"
            f" {_bloom_pos_spark(2, 'c_custkey')})) AS pos"
        )
        .distinct()
    )
    probe = orders.selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        f"{_bloom_pos_spark(0, 'o_custkey')} AS h0",
        f"{_bloom_pos_spark(1, 'o_custkey')} AS h1",
        f"{_bloom_pos_spark(2, 'o_custkey')} AS h2",
    )
    cand = probe
    for j in range(_BLOOM_K):
        cand = cand.join(
            F.broadcast(bloom.withColumnRenamed("pos", f"p{j}")),
            F.col(f"h{j}") == F.col(f"p{j}"),
            "left_semi",
        )
    joined = cand.join(F.broadcast(dim), cand.o_custkey == dim.c_custkey, "left")
    return joined.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.count("c_custkey").cast("bigint").alias("n_matched"),
        (F.count("*") - F.count("c_custkey"))
        .cast("bigint")
        .alias("n_false_positives"),
        F.sum(
            F.when(
                F.col("c_custkey").isNotNull(),
                F.round(F.col("o_totalprice") * 100).cast("bigint"),
            )
        )
        .cast("bigint")
        .alias("sum_price_cents"),
    )
