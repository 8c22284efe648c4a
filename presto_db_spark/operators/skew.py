"""Skew-mitigation operators: salted aggregation and salted join.

At 100 TB, hot keys are the shuffle killer: one reducer gets the whole
``'A'`` partition while 999 idle. Spark's AQE skew-join splitting
(enabled in session.py) handles *storage* skew at runtime; these operators
encode the *algorithmic* fix — salting — for the cases AQE can't re-plan
(hash aggregation on few massive groups; non-AQE shuffle joins), mirroring
what the reference leaves to ``hash_partition_count`` tuning
(``pm/SystemSessionProperties.java:66``; Presto has no skew-join rewrite).

* **salted_agg** — two-phase: group on (key, salt) first (splits each hot
  group into ``n_salts`` parallel partials), then merge on key. Works for
  any algebraic aggregate (sum/count/min/max here).
* **salted_join** — deterministic salt on the fact side, explode the
  (small-ish) build side to all salts: each (key, salt) shard joins
  independently — hot keys spread over ``n_salts`` reducers at the cost of
  replicating the build side ``n_salts``×.

Both are oracle-checked: salting must be result-invariant.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import family

QUERIES, ORACLE, _q = family()

N_SALTS = 16


def salt_of(col: Column, n_salts: int = N_SALTS) -> Column:
    """Deterministic salt from a high-cardinality column (reproducible runs,
    unlike rand()-based salting)."""
    return F.pmod(F.xxhash64(col), F.lit(n_salts))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_src: str,
    partial: list[Column],
    merge: Callable[[DataFrame], list[Column]],
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Two-phase skew-safe aggregation: (keys, salt) partials → merge on keys."""
    salted = df.withColumn("_salt", salt_of(F.col(salt_src), n_salts))
    partials = salted.groupBy(*keys, "_salt").agg(*partial)
    return partials.groupBy(*keys).agg(*merge(partials))


def salted_join(
    fact: DataFrame,
    build: DataFrame,
    key: str,
    salt_src: str,
    n_salts: int = N_SALTS,
) -> DataFrame:
    """Skew-safe equi-join: fact side salted deterministically, build side
    exploded to every salt — the join key becomes (key, salt)."""
    f = fact.withColumn("_salt", salt_of(F.col(salt_src), n_salts))
    b = build.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    out = f.join(b, [key, "_salt"]).drop("_salt")
    return out


# Kept port (keep-rule 2d, helper coverage): salted_agg.
@_q(
    "skew_salted_agg",
    """
SELECT l_returnflag,
       round(sum(round(l_extendedprice * 100)) / 100, 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n,
       CAST(max(l_quantity) AS DOUBLE) AS max_q
FROM lineitem GROUP BY l_returnflag
""",
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 hot groups (l_returnflag) split into 16 parallel partials each,
    then merged — result must equal the plain aggregation (the oracle)."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    return salted_agg(
        li,
        keys=["l_returnflag"],
        salt_src="l_orderkey",
        partial=[
            F.sum(F.round(F.col("l_extendedprice") * 100)).alias("_cents"),
            F.count("*").alias("_n"),
            F.max("l_quantity").alias("_mq"),
        ],
        merge=lambda p: [
            F.round(F.sum("_cents") / 100, 2).alias("revenue"),
            F.sum("_n").cast("long").alias("n"),
            F.max("_mq").alias("max_q"),
        ],
    )


# Kept port (keep-rule 2d, helper coverage): salted_join.
@_q(
    "skew_salted_join",
    """
SELECT o_orderpriority,
       round(sum(round(l_extendedprice * (1 - l_discount) * 100)) / 100, 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dimension join through the salted path (broadcast disabled
    via hint-free shuffle plan is not forced — the salting itself must be
    result-invariant, which the plain-join oracle checks)."""
    li, orders = load_tables(spark, sf_dir, "lineitem", "orders")
    fact = li.select(
        F.col("l_orderkey").alias("k"), "l_extendedprice", "l_discount", "l_orderkey"
    )
    build = orders.select(F.col("o_orderkey").alias("k"), "o_orderpriority")
    joined = salted_join(fact, build, key="k", salt_src="l_orderkey")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
    return joined.groupBy("o_orderpriority").agg(
        F.round(F.sum(cents) / 100, 2).alias("revenue"),
        F.count("*").alias("n"),
    )
