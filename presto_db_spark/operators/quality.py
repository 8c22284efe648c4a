"""Dataset-quality constraint suite — the validation pass a production
lake runs before a table is admitted to training (the published shape is
AWS Deequ, "Unit Tests for Data" — a public library/paper; the reference
exposes the same checks piecemeal as ANALYZE + ad-hoc SQL,
``presto-main/src/main/java/com/facebook/presto/sql/analyzer`` has no
constraint runner).  One operator, five constraint families, all
exact-integer:

* completeness  — NULL count on a required column
* domain        — value outside an allowed set
* range         — numeric bound violation
* uniqueness    — duplicate primary-key rows (count − count distinct)
* referential   — foreign keys with no parent (anti-join count)

Scale shape: the four single-table checks ride ONE full-scan aggregate
(map-side combined — every counter is a sum of 0/1s plus one exact
count-distinct, so the pass costs what a groupBy().agg() costs);
referential integrity is the only join — a key-to-key LEFT ANTI that
broadcasts the dim at this fixture and hash-co-partitions at scale.  The
verdict table itself is |checks| rows.  At 100 TB the same plan holds:
constraint evaluation is embarrassingly partial-aggregable, which is why
Deequ's own design computes all metrics in one pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import family

QUERIES, ORACLE, _q = family()


_QUALITY_SQL = """
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS v_null,
         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                         OR o_orderstatus IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS v_domain,
         CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)
              AS BIGINT) AS v_range,
         CAST(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END)
              AS BIGINT) AS v_cap,
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_unique
  FROM orders
), ref AS (
  SELECT CAST(count(*) AS BIGINT) AS v FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey = o.o_custkey)
), checks AS (
  SELECT 'completeness_o_custkey' AS check_name, n, v_null AS v FROM base
  UNION ALL
  SELECT 'domain_o_orderstatus', n, v_domain FROM base
  UNION ALL
  SELECT 'range_o_totalprice_positive', n, v_range FROM base
  UNION ALL
  SELECT 'range_o_totalprice_le_300k', n, v_cap FROM base
  UNION ALL
  SELECT 'unique_o_orderkey', n, v_unique FROM base
  UNION ALL
  SELECT 'referential_o_custkey', (SELECT n FROM base), v FROM ref
)
SELECT check_name,
       n AS n_checked,
       v AS n_violations,
       CAST(v * 1000000 // n AS BIGINT) AS violation_ppm,
       v = 0 AS passed
FROM checks ORDER BY check_name
"""


@_q("quality_data_checks", _QUALITY_SQL)
def quality_data_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the five-family constraint suite over ``orders`` (with
    ``customer`` as the referential parent) and emit one verdict row per
    check: checked/violation counts, exact-ppm violation rate, pass flag.

    Plan: one full-scan aggregate computes completeness + domain + range
    + uniqueness simultaneously (1 row out); the referential check is a
    LEFT ANTI join folded to a count (1 row out); both 1-row frames
    unpivot via inline() into the verdict table — no cartesian, no
    Python, no window."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")

    base = orders.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("v_null"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P")
                | F.col("o_orderstatus").isNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("v_domain"),
        F.sum(F.when(~(F.col("o_totalprice") > 0), 1).otherwise(0))
        .cast("long")
        .alias("v_range"),
        F.sum(F.when(F.col("o_totalprice") > 300000, 1).otherwise(0))
        .cast("long")
        .alias("v_cap"),
        (F.count("*") - F.count_distinct(F.col("o_orderkey")))
        .cast("long")
        .alias("v_unique"),
    )
    base_rows = base.select(
        F.inline(
            F.array(
                F.struct(
                    F.lit("completeness_o_custkey").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_null").alias("n_violations"),
                ),
                F.struct(
                    F.lit("domain_o_orderstatus").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_domain").alias("n_violations"),
                ),
                F.struct(
                    F.lit("range_o_totalprice_positive").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_range").alias("n_violations"),
                ),
                F.struct(
                    F.lit("range_o_totalprice_le_300k").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_cap").alias("n_violations"),
                ),
                F.struct(
                    F.lit("unique_o_orderkey").alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col("v_unique").alias("n_violations"),
                ),
            )
        )
    )
    orphans = (
        orders.select("o_custkey")
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey,
              "left_anti")
        .agg(F.count("*").cast("long").alias("n_violations"))
        .select(
            F.lit("referential_o_custkey").alias("check_name"),
            F.lit(None).cast("long").alias("n_checked"),
            "n_violations",
        )
    )
    # the referential row reports against the same denominator
    n_total = base.select(F.col("n"))
    verdicts = base_rows.unionByName(
        orphans.join(F.broadcast(n_total)).withColumn(
            "n_checked", F.col("n")
        ).drop("n")
    )
    return verdicts.select(
        "check_name",
        "n_checked",
        "n_violations",
        F.expr("n_violations * 1000000 div n_checked")
        .cast("long")
        .alias("violation_ppm"),
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("check_name")


# --- data-profile drift between two snapshots ---------------------------------

_DRIFT_SQL = """
WITH p AS (
  SELECT CAST(sum(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END)
              AS BIGINT) AS n1,
         CAST(sum(CASE WHEN year(o_orderdate) = 1997 THEN 1 ELSE 0 END)
              AS BIGINT) AS n2,
         CAST(sum(CASE WHEN year(o_orderdate) = 1996
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS sum1,
         CAST(sum(CASE WHEN year(o_orderdate) = 1997
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS sum2,
         CAST(min(CASE WHEN year(o_orderdate) = 1996
                       THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
              AS BIGINT) AS min1,
         CAST(min(CASE WHEN year(o_orderdate) = 1997
                       THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
              AS BIGINT) AS min2,
         CAST(max(CASE WHEN year(o_orderdate) = 1996
                       THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
              AS BIGINT) AS max1,
         CAST(max(CASE WHEN year(o_orderdate) = 1997
                       THEN CAST(round(o_totalprice * 100) AS BIGINT) END)
              AS BIGINT) AS max2,
         CAST(count(DISTINCT CASE WHEN year(o_orderdate) = 1996
                                  THEN o_orderpriority END) AS BIGINT) AS pr1,
         CAST(count(DISTINCT CASE WHEN year(o_orderdate) = 1997
                                  THEN o_orderpriority END) AS BIGINT) AS pr2,
         CAST(count(DISTINCT CASE WHEN year(o_orderdate) = 1996
                                  THEN o_custkey END) AS BIGINT) AS ck1,
         CAST(count(DISTINCT CASE WHEN year(o_orderdate) = 1997
                                  THEN o_custkey END) AS BIGINT) AS ck2
  FROM orders
), rows_out AS (
  SELECT 'row_count' AS metric, n1 AS v_1996, n2 AS v_1997 FROM p
  UNION ALL SELECT 'totalprice_sum_cents', sum1, sum2 FROM p
  UNION ALL SELECT 'totalprice_mean_cents', sum1 // n1, sum2 // n2 FROM p
  UNION ALL SELECT 'totalprice_min_cents', min1, min2 FROM p
  UNION ALL SELECT 'totalprice_max_cents', max1, max2 FROM p
  UNION ALL SELECT 'orderpriority_ndv', pr1, pr2 FROM p
  UNION ALL SELECT 'custkey_ndv', ck1, ck2 FROM p
)
SELECT metric, CAST(v_1996 AS BIGINT) AS v_1996, CAST(v_1997 AS BIGINT) AS v_1997,
       CAST(v_1997 - v_1996 AS BIGINT) AS delta,
       CAST((v_1997 - v_1996) * 1000000 // v_1996 AS BIGINT) AS drift_ppm
FROM rows_out ORDER BY metric
"""


@_q("quality_profile_drift", _DRIFT_SQL)
def quality_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot data-profile drift (the monitoring table
    every warehouse ingestion pipeline materializes — Deequ/TFX-style):
    profile the 1996 vs 1997 orders partitions on row count, exact-cents
    sum/mean/min/max of o_totalprice, and the distinct cardinalities of
    two categorical columns; emit one row per metric with the absolute
    delta and the relative drift in ppm.

    Exact-integer contract: all metrics are BIGINTs (cents, counts,
    NDVs) and the mean/drift are truncating integer divisions — both
    engines emit the identical table.

    Scale shape: ONE scan with filtered aggregates (the period flag is a
    projection — never two scans); the 7-metric unpivot runs on a
    single broadcast row.  At 100 TB the NDV columns swap to
    approx_distinct (documented accuracy contract, sketch.py) but the
    harness stays one scan."""
    o = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    in1, in2 = yr == 1996, yr == 1997
    p = o.agg(
        F.sum(F.when(in1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(in2, 1).otherwise(0)).cast("long").alias("n2"),
        F.sum(F.when(in1, cents).otherwise(0)).cast("long").alias("sum1"),
        F.sum(F.when(in2, cents).otherwise(0)).cast("long").alias("sum2"),
        F.min(F.when(in1, cents)).cast("long").alias("min1"),
        F.min(F.when(in2, cents)).cast("long").alias("min2"),
        F.max(F.when(in1, cents)).cast("long").alias("max1"),
        F.max(F.when(in2, cents)).cast("long").alias("max2"),
        F.countDistinct(F.when(in1, F.col("o_orderpriority")))
        .cast("long")
        .alias("pr1"),
        F.countDistinct(F.when(in2, F.col("o_orderpriority")))
        .cast("long")
        .alias("pr2"),
        F.countDistinct(F.when(in1, F.col("o_custkey"))).cast("long").alias("ck1"),
        F.countDistinct(F.when(in2, F.col("o_custkey"))).cast("long").alias("ck2"),
    )
    rows = p.selectExpr(
        "stack(7,"
        " 'row_count', n1, n2,"
        " 'totalprice_sum_cents', sum1, sum2,"
        " 'totalprice_mean_cents', sum1 div n1, sum2 div n2,"
        " 'totalprice_min_cents', min1, min2,"
        " 'totalprice_max_cents', max1, max2,"
        " 'orderpriority_ndv', pr1, pr2,"
        " 'custkey_ndv', ck1, ck2"
        ") AS (metric, v_1996, v_1997)"
    )
    return rows.selectExpr(
        "metric",
        "CAST(v_1996 AS BIGINT) AS v_1996",
        "CAST(v_1997 AS BIGINT) AS v_1997",
        "CAST(v_1997 - v_1996 AS BIGINT) AS delta",
        "CAST((v_1997 - v_1996) * 1000000 div v_1996 AS BIGINT) AS drift_ppm",
    ).orderBy("metric")


# --- partition-skew report --------------------------------------------------------

_PART_SKEW_SQL = """
WITH pm AS (
  SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS bytes_proxy_cents
  FROM orders GROUP BY year(o_orderdate) * 100 + month(o_orderdate)
), r AS (
  SELECT n_rows, row_number() OVER (ORDER BY n_rows, ym) AS rn,
         count(*) OVER () AS np
  FROM pm
)
SELECT CAST(max(np) AS BIGINT) AS n_partitions,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       CAST(min(n_rows) AS BIGINT) AS min_rows,
       CAST(max(n_rows) AS BIGINT) AS max_rows,
       CAST(sum(CASE WHEN rn = (np + 1) // 2 THEN n_rows ELSE 0 END)
            + sum(CASE WHEN rn = (np + 2) // 2 THEN n_rows ELSE 0 END)
            AS BIGINT) AS median_x2_rows,
       CAST(max(n_rows) * max(np) * 1000000 // sum(n_rows) AS BIGINT)
         AS max_over_mean_ppm
FROM r
"""


@_q("quality_partition_skew", _PART_SKEW_SQL)
def quality_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew report over the monthly layout — the
    table-maintenance health check run before choosing partition keys
    (a max/mean ratio far above 10⁶ ppm means a hot partition will
    straggle every downstream stage; the diagnosis side of
    layout_compaction_plan's remediation): partition count, row
    min/median/max, and max-over-mean in exact ppm
    (``max·n_partitions·10⁶ ÷ total`` — cross-multiplied so the mean is
    never a float).

    Scale shape: the per-month rollup collapses map-side to |months|
    rows; the median pick is a window over that BOUNDED table (the
    post-aggregation device); the fold is one row."""
    o = load_table(spark, sf_dir, "orders")
    pm = o.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("bytes_proxy_cents"),
    )
    from pyspark.sql.window import Window as W

    r = pm.select(
        "n_rows",
        F.row_number().over(W.orderBy("n_rows", "ym")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("np"),
    )
    return r.agg(
        F.max("np").cast("long").alias("n_partitions"),
        F.sum("n_rows").cast("long").alias("total_rows"),
        F.min("n_rows").cast("long").alias("min_rows"),
        F.max("n_rows").cast("long").alias("max_rows"),
        (
            F.sum(
                F.when(F.col("rn") == F.expr("(np + 1) div 2"), F.col("n_rows"))
                .otherwise(0)
            )
            + F.sum(
                F.when(F.col("rn") == F.expr("(np + 2) div 2"), F.col("n_rows"))
                .otherwise(0)
            )
        )
        .cast("long")
        .alias("median_x2_rows"),
        F.expr("max(n_rows) * max(np) * 1000000 div sum(n_rows)")
        .cast("long")
        .alias("max_over_mean_ppm"),
    )


# --- referential-integrity audit (r11x wave) ---------------------------------

_RI_SQL = """
SELECT edge, n_child, n_orphans, orphan_ppm FROM (
  SELECT 'lineitem.l_orderkey->orders' AS edge,
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
                            WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans,
         (SELECT CAST(count(CASE WHEN NOT EXISTS
                 (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
                 THEN 1 END) * 1000000 // count(*) AS BIGINT)
          FROM lineitem l) AS orphan_ppm
  UNION ALL
  SELECT 'orders.o_custkey->customer',
         (SELECT CAST(count(*) AS BIGINT) FROM orders),
         (SELECT CAST(count(*) AS BIGINT) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)),
         (SELECT CAST(count(CASE WHEN NOT EXISTS
                 (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
                 THEN 1 END) * 1000000 // count(*) AS BIGINT)
          FROM orders o)
  UNION ALL
  SELECT 'events.user_id->customer(mod)',
         (SELECT CAST(count(*) AS BIGINT) FROM events),
         (SELECT CAST(count(*) AS BIGINT) FROM events e
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = e.user_id * 7)),
         (SELECT CAST(count(CASE WHEN NOT EXISTS
                 (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id * 7)
                 THEN 1 END) * 1000000 // count(*) AS BIGINT)
          FROM events e)
) ORDER BY edge
"""


@_q("quality_referential_integrity", _RI_SQL)
def quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit (the Deequ `isContainedIn`/foreign-key
    constraint): orphan counts + ppm for three FK edges — two genuinely
    consistent ones (TPC-H integrity holds, so zero IS the correct
    answer the audit certifies) and a deliberately-derived edge
    (user_id*7 → custkey) whose orphan rate is non-zero at every SF, so
    the value hash proves the detector actually detects. Each edge is
    ONE left-anti broadcast/hash join + counters — no row explosion;
    at 100 TB the parent side is the broadcast candidate (dims) or a
    bloom-prefiltered shuffle (join_bloom_prefilter is the primitive)."""
    out = []
    edges = [
        ("lineitem.l_orderkey->orders",
         load_table(spark, sf_dir, "lineitem").select(
             F.col("l_orderkey").alias("k")),
         load_table(spark, sf_dir, "orders").select(
             F.col("o_orderkey").alias("pk"))),
        ("orders.o_custkey->customer",
         load_table(spark, sf_dir, "orders").select(
             F.col("o_custkey").alias("k")),
         load_table(spark, sf_dir, "customer").select(
             F.col("c_custkey").alias("pk"))),
        ("events.user_id->customer(mod)",
         load_table(spark, sf_dir, "events").select(
             (F.col("user_id") * 7).alias("k")),
         load_table(spark, sf_dir, "customer").select(
             F.col("c_custkey").alias("pk"))),
    ]
    for name, child, parent in edges:
        orphans = child.join(parent, child.k == parent.pk, "left_anti")
        stats = (
            child.agg(F.count("*").cast("long").alias("n_child"))
            .crossJoin(
                F.broadcast(
                    orphans.agg(F.count("*").cast("long").alias("n_orphans"))
                )
            )
            .select(
                F.lit(name).alias("edge"),
                "n_child",
                "n_orphans",
                F.expr("n_orphans * 1000000 div n_child").cast("bigint")
                .alias("orphan_ppm"),
            )
        )
        out.append(stats)
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.orderBy("edge")


# --- primary-key uniqueness audit (r11ab wave) -------------------------------

_UNIQ_SQL = """
SELECT col, n_rows, n_distinct, n_dup_keys, dup_rows_ppm FROM (
  SELECT 'orders.o_orderkey' AS col,
         (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows,
         (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders)
           AS n_distinct,
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT o_orderkey FROM orders GROUP BY o_orderkey
            HAVING count(*) > 1)) AS n_dup_keys,
         (SELECT CAST((count(*) - count(DISTINCT o_orderkey)) * 1000000
                      // count(*) AS BIGINT) FROM orders) AS dup_rows_ppm
  UNION ALL
  SELECT 'lineitem.(l_orderkey,l_linenumber)',
         (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT l_orderkey, l_linenumber FROM lineitem
            GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)),
         (SELECT CAST((count(*) - (SELECT count(*) FROM (
              SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)))
              * 1000000 // count(*) AS BIGINT) FROM lineitem)
  UNION ALL
  SELECT 'events.user_id(mod17)',
         (SELECT CAST(count(*) AS BIGINT) FROM events),
         (SELECT CAST(count(DISTINCT user_id % 17) AS BIGINT) FROM events),
         (SELECT CAST(count(*) AS BIGINT) FROM (
            SELECT user_id % 17 AS k FROM events GROUP BY user_id % 17
            HAVING count(*) > 1)),
         (SELECT CAST((count(*) - count(DISTINCT user_id % 17)) * 1000000
                      // count(*) AS BIGINT) FROM events)
) ORDER BY col
"""


@_q("quality_unique_key_check", _UNIQ_SQL)
def quality_unique_key_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit (the Deequ `isUnique`/`isPrimaryKey`
    constraint, completing the referential-integrity pair): duplicate
    key count + duplicated-rows ppm for two genuine keys (zero IS the
    certified answer) and one deliberately non-unique derived key, so
    the non-zero detection path is value-checked. Each check is one
    map-side-combined distinct/groupBy — the shape approx_distinct
    replaces at 100 TB (documented swap, exact here for the oracle)."""
    out = []
    checks = [
        ("orders.o_orderkey",
         load_table(spark, sf_dir, "orders").select(
             F.col("o_orderkey").alias("k1"), F.lit(0).alias("k2"))),
        ("lineitem.(l_orderkey,l_linenumber)",
         load_table(spark, sf_dir, "lineitem").select(
             F.col("l_orderkey").alias("k1"),
             F.col("l_linenumber").alias("k2"))),
        ("events.user_id(mod17)",
         load_table(spark, sf_dir, "events").select(
             (F.col("user_id") % 17).alias("k1"), F.lit(0).alias("k2"))),
    ]
    for name, keyed in checks:
        per_key = keyed.groupBy("k1", "k2").agg(F.count("*").alias("c"))
        stats = (
            keyed.agg(F.count("*").cast("long").alias("n_rows"))
            .crossJoin(
                F.broadcast(
                    per_key.agg(
                        F.count("*").cast("long").alias("n_distinct"),
                        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
                        .cast("long").alias("n_dup_keys"),
                    )
                )
            )
            .select(
                F.lit(name).alias("col"),
                "n_rows", "n_distinct", "n_dup_keys",
                F.expr("(n_rows - n_distinct) * 1000000 div n_rows")
                .cast("bigint").alias("dup_rows_ppm"),
            )
        )
        out.append(stats)
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.orderBy("col")


# --- freshness SLA audit (r12 wave) --------------------------------------------

_FRESHNESS_SQL = """
WITH mx AS (
  SELECT epoch_us(max(ts)) AS now_us FROM events
), per AS (
  SELECT event_type, epoch_us(max(ts)) AS last_us,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
)
SELECT p.event_type, p.n_events,
       CAST(mx.now_us - p.last_us AS BIGINT) AS lag_us,
       CAST(CAST(CASE WHEN p.event_type = 'purchase' THEN 7200 ELSE 3600 END
            AS BIGINT) * 1000000 AS BIGINT) AS sla_us,
       (mx.now_us - p.last_us
        > CAST(CASE WHEN p.event_type = 'purchase' THEN 7200 ELSE 3600 END
          AS BIGINT) * 1000000) AS breached
FROM per p, mx ORDER BY p.event_type
"""


@_q("quality_freshness_sla", _FRESHNESS_SQL)
def quality_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit — the first page of every pipeline
    health dashboard: per event type, the lag between its latest event
    and the corpus watermark, against a per-type SLA (purchases tolerate
    2 h, everything else 1 h), with the breach verdict. Exact integer
    epoch-microseconds on both engines.

    Scale: two max/count aggregates (map-side combinable) + a 1-row
    broadcast — scan-shaped, output bounded by the type cardinality."""
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("now_us"))
    per = ev.groupBy("event_type").agg(
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count("*").cast("long").alias("n_events"),
    )
    # cast BEFORE the multiply: 7200 * 10^6 overflows int32 under ANSI
    sla = (
        F.when(F.col("event_type") == "purchase", 7200)
        .otherwise(3600)
        .cast("long")
        * 1000000
    )
    return (
        per.crossJoin(F.broadcast(mx))
        .select(
            "event_type",
            "n_events",
            (F.col("now_us") - F.col("last_us")).cast("long").alias("lag_us"),
            sla.cast("long").alias("sla_us"),
            ((F.col("now_us") - F.col("last_us")) > sla).alias("breached"),
        )
        .orderBy("event_type")
    )


# --- Tukey IQR fence outlier report (r13) ------------------------------------
# The standard box-plot outlier screen as a data-quality gate: exact
# quartiles from the counted table, Tukey fences at 1.5 IQR, and the
# per-stream outlier rate.  All comparisons are cross-multiplied by 2
# (fences live at half-cent resolution), so nothing leaves integers.

_IQR_SQL = """
WITH x AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
), counted AS (
  SELECT event_type, v, CAST(count(*) AS BIGINT) AS w FROM x GROUP BY 1, 2
), c AS (
  SELECT event_type, v, w,
         sum(w) OVER (PARTITION BY event_type ORDER BY v) AS csum,
         sum(w) OVER (PARTITION BY event_type) AS n
  FROM counted
), q AS (
  SELECT event_type, max(n) AS n,
         min(CASE WHEN csum * 4 >= n THEN v END) AS q1,
         min(CASE WHEN csum * 4 >= 3 * n THEN v END) AS q3
  FROM c GROUP BY 1
), f AS (
  SELECT event_type, n, q1, q3, q3 - q1 AS iqr,
         2 * q1 - 3 * (q3 - q1) AS lo2,
         2 * q3 + 3 * (q3 - q1) AS hi2
  FROM q
), o AS (
  SELECT f.event_type,
         CAST(sum(CASE WHEN 2 * x.v < f.lo2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_low,
         CAST(sum(CASE WHEN 2 * x.v > f.hi2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_high
  FROM x JOIN f ON f.event_type = x.event_type GROUP BY 1
)
SELECT f.event_type, CAST(f.n AS BIGINT) AS n,
       CAST(f.q1 AS BIGINT) AS q1_cents, CAST(f.q3 AS BIGINT) AS q3_cents,
       CAST(f.iqr AS BIGINT) AS iqr_cents, o.n_low, o.n_high,
       CAST((o.n_low + o.n_high) * 1000000 // f.n AS BIGINT) AS outlier_ppm
FROM f JOIN o ON o.event_type = f.event_type
ORDER BY f.event_type
"""


@_q("quality_outlier_iqr", _IQR_SQL)
def quality_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey 1.5-IQR outlier screen per event stream: exact Q1/Q3
    (percentile_disc by the rank-quadrupling rule on the counted
    table), half-cent-resolution fences (everything doubled so 1.5*IQR
    stays integer), and the outlier rate in ppm.

    Scale: one (stream, value, weight) collapse — the quartile windows
    partition per stream over the value cardinality, never rows; the
    fence probe is a broadcast join back to the stream (the fence table
    is |streams| rows).  Pure integers end-to-end."""
    ev = load_table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    counted = x.groupBy("event_type", "v").agg(
        F.count("*").cast("long").alias("w")
    )
    wc = W.partitionBy("event_type").orderBy("v")
    wn = W.partitionBy("event_type")
    c = counted.select(
        "event_type", "v", "w",
        F.sum("w").over(wc).alias("csum"),
        F.sum("w").over(wn).alias("n"),
    )
    q = c.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("csum") * 4 >= F.col("n"), F.col("v"))).alias("q1"),
        F.min(F.when(F.col("csum") * 4 >= 3 * F.col("n"), F.col("v")))
        .alias("q3"),
    )
    f = q.select(
        "event_type", "n", "q1", "q3",
        (F.col("q3") - F.col("q1")).alias("iqr"),
        (2 * F.col("q1") - 3 * (F.col("q3") - F.col("q1"))).alias("lo2"),
        (2 * F.col("q3") + 3 * (F.col("q3") - F.col("q1"))).alias("hi2"),
    )
    o = x.join(F.broadcast(f), "event_type").groupBy("event_type").agg(
        F.sum(F.when(2 * F.col("v") < F.col("lo2"), 1).otherwise(0))
        .cast("long").alias("n_low"),
        F.sum(F.when(2 * F.col("v") > F.col("hi2"), 1).otherwise(0))
        .cast("long").alias("n_high"),
    )
    return (
        f.join(o, "event_type")
        .select(
            "event_type", F.col("n").cast("long").alias("n"),
            F.col("q1").cast("long").alias("q1_cents"),
            F.col("q3").cast("long").alias("q3_cents"),
            F.col("iqr").cast("long").alias("iqr_cents"),
            "n_low", "n_high",
            F.expr("CAST((n_low + n_high) * 1000000 div n AS BIGINT)")
            .alias("outlier_ppm"),
        )
        .orderBy("event_type")
    )
