"""Distributed exact global rank / running sum — the building block that
replaces single-partition ORDER BY windows at scale.

The reference avoids global single-node sorts the same way: its
distributed sort splits into per-node partial sorts merged by range
(presto-benchto-benchmarks/.../distributed_sort.yaml is a dedicated
suite for it), and ``TopNRowNumberOperator``
(pm/operator/TopNRowNumberOperator.java:38) exists precisely so ranking
never funnels a whole table through one operator. On Spark the idiom is:

1. ``repartitionByRange`` on the sort key — each partition owns a
   contiguous, disjoint key range (the 1000-executor layout);
2. local sort + per-partition ``row_number`` (and, when requested, a
   per-partition running sum);
3. per-partition row-count / sum totals — a ``#partitions``-sized
   aggregate — turned into exclusive prefix offsets and broadcast back;
4. global index = local index + own partition's offset.

The ONLY single-partition work anywhere is the prefix-offset window over
the ``#partitions``-row counts table (32 rows here, ~10^3 on a real
cluster) — the same driver-scale state a range-partitioned sort already
keeps for its sampled boundaries. ``sort_distributed_sample``
(relational.py) proved this shape under the bench; this module factors
it for reuse by the scalable ntile / cumulative-share operators
(events_rfm_scores_scalable, part_abc_scalable — VERDICT r09 #3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def global_index(
    df: DataFrame,
    order_cols: list[Column | str],
    sum_col: str | None = None,
) -> DataFrame:
    """Attach exact global-order columns to ``df`` without a
    single-partition window over the data.

    Adds ``__rn`` (1-based global ``row_number`` over ``order_cols``,
    which must be a total order — include a unique tiebreaker) and
    ``__n_total`` (total row count). With ``sum_col``, also adds
    ``__csum`` (inclusive global running sum of ``sum_col`` in the same
    order) and ``__sum_total``.

    The input is materialized once (lazy localCheckpoint) so the offset
    counts and the final join see the SAME sampled range boundaries —
    ``repartitionByRange`` re-samples per execution otherwise.

    Two local-index strategies (r10 bench finding — the pid-window path
    costs an extra full-data hashpartitioning(__pid) exchange + re-sort,
    because a partitionBy window always inserts its own shuffle):

    * rank-only (``sum_col is None``): ``sortWithinPartitions`` then
      ``monotonically_increasing_id()`` IN THE SAME STAGE — within a
      partition the id is consecutive from a per-partition base, so
      ``__lrn = id − min(id over the partition) + 1`` (the min rides the
      existing counts aggregate; no reliance on the id's bit layout).
      One shuffle total: the range exchange.
    * running-sum (``sum_col`` set): the per-partition cumulative sum
      genuinely needs an ordered window, so the __pid-partitioned window
      stays (its exchange is the price of the cumsum).

    Consistency under the lazy checkpoint: consumers read the stored
    blocks, so the sampled boundaries, ids, and sums are one execution's.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n, *order_cols)
    aggs = [F.count("*").alias("__c")]
    if sum_col is None:
        local = (
            ranged.sortWithinPartitions(*order_cols)
            .withColumn("__pid", F.spark_partition_id())
            .withColumn("__mid", F.monotonically_increasing_id())
            .localCheckpoint(eager=False)
        )
        aggs.append(F.min("__mid").alias("__m0"))
    else:
        # no pre-sort here: the window's own sort (after its
        # hashpartitioning(__pid) exchange) would discard it.
        parts = ranged.withColumn("__pid", F.spark_partition_id())
        lw = W.partitionBy("__pid").orderBy(*order_cols)
        local = (
            parts.withColumn("__lrn", F.row_number().over(lw))
            .withColumn(
                "__lcs",
                F.sum(sum_col).over(
                    lw.rowsBetween(W.unboundedPreceding, W.currentRow)
                ),
            )
            .localCheckpoint(eager=False)
        )
        aggs.append(F.sum(sum_col).alias("__s"))
    counts = local.groupBy("__pid").agg(*aggs)
    ow = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offs = counts.withColumn("__off", F.coalesce(F.sum("__c").over(ow), F.lit(0)))
    keep = ["__pid", "__off"]
    if sum_col is None:
        keep.append("__m0")
    else:
        offs = offs.withColumn(
            "__soff", F.coalesce(F.sum("__s").over(ow), F.lit(0))
        )
        keep.append("__soff")
    tot_aggs = [F.sum("__c").alias("__n_total")]
    if sum_col is not None:
        tot_aggs.append(F.sum("__s").alias("__sum_total"))
    totals = counts.agg(*tot_aggs)
    out = local.join(F.broadcast(offs.select(*keep)), "__pid").crossJoin(
        F.broadcast(totals)
    )
    if sum_col is None:
        out = out.withColumn(
            "__rn",
            (F.col("__mid") - F.col("__m0") + 1 + F.col("__off")).cast("long"),
        )
        drop = ["__pid", "__mid", "__m0", "__off"]
    else:
        out = out.withColumn(
            "__rn", (F.col("__lrn") + F.col("__off")).cast("long")
        ).withColumn("__csum", (F.col("__lcs") + F.col("__soff")).cast("long"))
        drop = ["__pid", "__lrn", "__lcs", "__off", "__soff"]
    return out.drop(*drop)


def ntile_expr(rn: str, n_total: str, k: int) -> Column:
    """Exact ``ntile(k)`` bucket from a 1-based global rank — the
    arithmetic twin of the window function (SQL standard equal-height
    buckets: the first ``N mod k`` buckets hold ``ceil(N/k)`` rows, the
    rest ``floor(N/k)``), so a distributed-rank pipeline reproduces the
    single-partition ``ntile`` bit-for-bit. Pure integer codegen."""
    q = f"({n_total} div {k})"
    m = f"pmod({n_total}, {k})"
    big = f"({m} * ({q} + 1))"  # rows covered by the (q+1)-sized buckets
    return F.expr(
        f"CAST(CASE WHEN {rn} <= {big} THEN ({rn} - 1) div ({q} + 1) + 1 "
        f"ELSE {m} + ({rn} - {big} - 1) div {q} + 1 END AS INT)"
    )
