"""Time-series decomposition, gap repair, resampling inference, and
weighted order statistics (r12 wave).

The reference has no time-series surface (Presto 0.236 stops at window
functions); these extend the events/stats forecasting family
(events_holt_winters, events_acf) with four shapes every analytics
warehouse eventually needs, all under the module's standing
exact-integer contract: every division is integer (Spark ``div`` and
DuckDB ``//`` both truncate toward zero — verified in-container for
negative numerators), every sum is BIGINT, so both engines agree
bit-for-bit at any partitioning.

Scale notes per op are in the docstrings; the common discipline: daily
grains bound every window (a 100 TB event stream still has ~365 rows
per series-year), per-series windows partition on the series key, and
the one global order statistic (weighted median) rides
``distrank.global_index`` on a value-cardinality-bounded group table —
never a single-partition window over data.

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table, small_df
from ..engine import sql_entry
from ..registry import family

QUERIES, ORACLE, _q = family()


# --- classical additive decomposition (moving-average STL) -------------------

_STL_SQL = """
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, d, cents,
         CASE WHEN count(*) OVER w7 = 7
              THEN (sum(cents) OVER w7 * 1000000) // 7 END AS trend_micros
  FROM s
  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), dt AS (
  SELECT event_type, d, cents, trend_micros,
         cents * 1000000 - trend_micros AS detr, isodow(d) AS wd
  FROM t
), seas AS (
  SELECT event_type, wd,
         CAST(sum(detr) // count(detr) AS BIGINT) AS seasonal_micros
  FROM dt WHERE detr IS NOT NULL GROUP BY 1, 2
)
SELECT dt.event_type, dt.d, dt.cents,
       CAST(dt.trend_micros AS BIGINT) AS trend_micros,
       seas.seasonal_micros,
       CAST(dt.cents * 1000000 - dt.trend_micros - seas.seasonal_micros
            AS BIGINT) AS remainder_micros
FROM dt JOIN seas ON seas.event_type = dt.event_type AND seas.wd = dt.wd
ORDER BY dt.event_type, dt.d
"""


@_q("events_stl_decompose", _STL_SQL)
def events_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of each type's daily-revenue
    series (the moving-average STL ancestor: Cleveland's inner loop with
    one pass): trend = centered 7-day moving average (exact micros via
    ``sum*10^6 div 7``, defined only where the window is FULL — no edge
    extrapolation lies), seasonal = per-ISO-weekday mean of the
    detrended series, remainder = the exact difference. NULL trend /
    remainder at the 3-day edges is part of the contract.

    Scale: the series grain is (event_type, day) — a groupBy collapse of
    the raw stream, so the window partitions are bounded by the day span
    (365/series-year at ANY raw data size); the seasonal model is a
    7-row-per-series broadcast-size table. Exact-integer arithmetic
    end-to-end (both engines' integer division truncates toward zero —
    verified, including the negative detrended means)."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"))
    w7 = W.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    t = s.withColumn(
        "trend_micros",
        F.when(
            F.count("*").over(w7) == 7,
            F.expr("sum(cents) OVER (PARTITION BY event_type ORDER BY d "
                   "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) * 1000000 div 7"),
        ),
    ).withColumn("detr", F.col("cents") * 1000000 - F.col("trend_micros")
    ).withColumn("wd", F.weekday("d") + 1)
    seas = (
        t.filter(F.col("detr").isNotNull())
        .groupBy("event_type", "wd")
        .agg(F.expr("sum(detr) div count(detr)").cast("long").alias("seasonal_micros"))
    )
    return (
        t.join(seas, ["event_type", "wd"])
        .select(
            "event_type",
            "d",
            "cents",
            F.col("trend_micros").cast("long").alias("trend_micros"),
            "seasonal_micros",
            (F.col("cents") * 1000000 - F.col("trend_micros") - F.col("seasonal_micros"))
            .cast("long")
            .alias("remainder_micros"),
        )
        .orderBy("event_type", "d")
    )


# --- calendar gap fill with linear interpolation ------------------------------

_GAPFILL_SQL = """
WITH cal AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
), known AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1 HAVING day(CAST(ts AS DATE)) % 3 <> 0
), j AS (
  SELECT cal.d, known.cents AS v FROM cal LEFT JOIN known ON known.d = cal.d
), f AS (
  SELECT d, v,
         last_value(v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
           OVER wp AS pd,
         first_value(v IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
           OVER wn AS nd
  FROM j
  WINDOW wp AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT d, (v IS NULL) AS is_gap,
       CAST(CASE
         WHEN v IS NOT NULL THEN v
         WHEN pv IS NULL THEN nv
         WHEN nv IS NULL THEN pv
         ELSE pv + (nv - pv) * date_diff('day', pd, d)
                   // date_diff('day', pd, nd)
       END AS BIGINT) AS filled_cents
FROM f ORDER BY d
"""


@_q("events_gap_fill_interpolate", _GAPFILL_SQL)
def events_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar gap repair: the purchase daily-revenue series with a
    deterministic hole pattern (every day-of-month divisible by 3 —
    the fixture for a feed that drops files) is re-aligned to the full
    event calendar and every gap is LINEARLY INTERPOLATED between its
    bracketing known points in exact integers (``pv + (nv-pv)·Δd div
    span``); leading/trailing gaps carry the nearest known value.

    Scale: the series is a daily grain (bounded by the day span, not the
    data), so the single-series ignore-nulls windows run over ~365 rows
    per year regardless of raw volume — the same bounded-window contract
    as events_holt_winters; a multi-series version partitions the same
    windows by the series key."""
    ev = load_table(spark, sf_dir, "events")
    cal = ev.select(F.to_date("ts").alias("d")).distinct()
    known = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("v"))
        .filter(F.dayofmonth("d") % 3 != 0)
    )
    j = cal.join(known, "d", "left")
    wp = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    wn = W.orderBy("d").rowsBetween(W.currentRow, W.unboundedFollowing)
    kd = F.when(F.col("v").isNotNull(), F.col("d"))
    f = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(wp))
        .withColumn("pd", F.last(kd, ignorenulls=True).over(wp))
        .withColumn("nv", F.first("v", ignorenulls=True).over(wn))
        .withColumn("nd", F.first(kd, ignorenulls=True).over(wn))
    )
    return f.select(
        "d",
        F.col("v").isNull().alias("is_gap"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + F.expr("(nv - pv) * datediff(d, pd) div datediff(nd, pd)")
        )
        .cast("long")
        .alias("filled_cents"),
    ).orderBy("d")


# --- deterministic bootstrap confidence interval -------------------------------

BOOT_B = 400  # resamples
BOOT_LCG_A, BOOT_LCG_C, BOOT_LCG_M = 1103515245, 12345, 2**31
BOOT_LO = BOOT_B * 25 // 1000  # 2.5% rank (1-based rank BOOT_LO is below)
# seed stride between resamples; a prime far above any plausible day-span n
# so seeds b*STRIDE+i never collide across resamples
BOOT_SEED_STRIDE = 100003

_BOOT_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events GROUP BY 1
), idx AS (
  SELECT cents, row_number() OVER (ORDER BY d) AS rn FROM daily
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n FROM daily
), draws AS (
  -- a FULL n-out-of-n bootstrap: each resample b draws exactly n indices
  -- (i ranges over the whole series length, never a fixed cap)
  SELECT g.b, i.cents
  FROM (SELECT t.b, u.i, u.n
        FROM generate_series(0, {BOOT_B} - 1) AS t(b),
             (SELECT unnest(generate_series(0, n - 1)) AS i, n FROM n) u) g
  JOIN idx i
    ON i.rn = (({BOOT_LCG_A} * (g.b * {BOOT_SEED_STRIDE} + g.i)
                + {BOOT_LCG_C}) % {BOOT_LCG_M}) % g.n + 1
), means AS (
  SELECT b, CAST(sum(cents) // count(*) AS BIGINT) AS mean_cents FROM draws
  GROUP BY b
), ranked AS (
  SELECT mean_cents, row_number() OVER (ORDER BY mean_cents, b) AS r FROM means
)
SELECT (SELECT n FROM n) AS n_days,
       CAST({BOOT_B} AS BIGINT) AS n_resamples,
       (SELECT CAST(sum(cents) // count(*) AS BIGINT) FROM daily)
         AS sample_mean_cents,
       CAST(min(CASE WHEN r = {BOOT_LO + 1} THEN mean_cents END) AS BIGINT)
         AS ci_lo_cents,
       CAST(min(CASE WHEN r = {BOOT_B - BOOT_LO} THEN mean_cents END) AS BIGINT)
         AS ci_hi_cents
FROM ranked
"""


@_q("stats_bootstrap_ci", _BOOT_SQL)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% CI for the mean daily revenue — with a DETERMINISTIC
    resampler: draw (b, i) picks day index ``LCG(b·100003+i) mod n`` via a
    fixed 31-bit linear congruential generator, so the resample plan is
    a pure function of (b, i, n) and both engines (and any partitioning,
    any cluster size) produce the IDENTICAL B×n draw relation (a FULL
    n-out-of-n bootstrap: i ranges 0..n-1 where n is the measured day
    span, so each resample draws exactly n days at every fixture) — the
    distributed answer to "bootstrap needs an RNG". CI bounds are exact
    order statistics of the resample means (ranks {lo}/{hi} of {B}),
    never float percentile interpolation.

    Scale: the resample relation is (B × series length) rows of two
    BIGINTs — for daily grains that is B×365 per year, independent of
    raw data volume; the base series collapse is the only data-scale
    pass. The rank pass runs on B rows (bounded)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents")
    )
    # day-index table: the day span is bounded (the docstring contract),
    # so this row_number window is over ~30 rows here / 365 per year
    idx = daily.select(
        "cents", F.row_number().over(W.orderBy("d")).alias("rn")
    ).localCheckpoint(eager=False)
    n = idx.agg(F.count("*").cast("long").alias("n"))
    # full n-out-of-n resampling: i = 0..n-1 comes from the DATA (the day
    # span), never a fixed cap — each of the B resamples draws exactly n days
    i_df = n.select(
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n") - F.lit(1))
        ).alias("i"),
        "n",
    )
    g = (
        spark.range(BOOT_B)
        .withColumnRenamed("id", "b")
        .crossJoin(F.broadcast(i_df))
    )
    draws = g.join(
        idx,
        F.col("rn")
        == ((BOOT_LCG_A * (F.col("b") * BOOT_SEED_STRIDE + F.col("i"))
             + BOOT_LCG_C)
            % BOOT_LCG_M) % F.col("n") + 1,
    )
    means = draws.groupBy("b").agg(
        F.expr("sum(cents) div count(*)").cast("long").alias("mean_cents")
    )
    ranked = means.select(
        "mean_cents",
        F.row_number().over(W.orderBy("mean_cents", "b")).alias("r"),
    )
    grand = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("sum(cents) div count(*)").cast("long").alias("sample_mean_cents"),
    )
    ci = ranked.agg(
        F.min(F.when(F.col("r") == BOOT_LO + 1, F.col("mean_cents")))
        .cast("long")
        .alias("ci_lo_cents"),
        F.min(F.when(F.col("r") == BOOT_B - BOOT_LO, F.col("mean_cents")))
        .cast("long")
        .alias("ci_hi_cents"),
    )
    return grand.crossJoin(F.broadcast(ci)).select(
        "n_days",
        F.lit(BOOT_B).cast("long").alias("n_resamples"),
        "sample_mean_cents",
        "ci_lo_cents",
        "ci_hi_cents",
    )


stats_bootstrap_ci.__doc__ = stats_bootstrap_ci.__doc__.format(
    B=BOOT_B, lo=BOOT_LO + 1, hi=BOOT_B - BOOT_LO
)


# --- weighted median over the distrank running sum ----------------------------

_WMEDIAN_SQL = """
WITH g AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(sum(round(l_quantity)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1
), c AS (
  SELECT cents,
         sum(w) OVER (ORDER BY cents) AS csum,
         sum(w) OVER () AS total
  FROM g
)
SELECT CAST(max(total) AS BIGINT) AS total_weight,
       CAST(min(cents) AS BIGINT) AS median_cents,
       (SELECT CAST(count(*) AS BIGINT) FROM g) AS n_distinct_prices
FROM c WHERE 2 * csum >= total
"""


# Kept port (keep-rule 2b, worse plan): the text's running-sum window runs on one partition.
@_q("agg_weighted_median", _WMEDIAN_SQL)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price (lower weighted median: the
    smallest price whose running weight reaches half the total) — the
    robust-statistics companion to agg_mad, exact in integer cents.

    Scale: prices collapse to a value-cardinality-bounded (cents,
    weight) group table FIRST (map-side combinable), then the running
    weight comes from ``distrank.global_index``'s range-partition +
    prefix-offset sum — never a single-partition window over data (the
    same device as part_abc_scalable); the selection is one filter +
    TakeOrdered(1)."""
    from .distrank import global_index

    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    ).agg(F.sum(F.round("l_quantity")).cast("long").alias("w"))
    gi = global_index(g, ["cents"], sum_col="w")
    med = (
        gi.filter(2 * F.col("__csum") >= F.col("__sum_total"))
        .orderBy("cents")
        .limit(1)
    )
    n = g.agg(F.count("*").cast("long").alias("n_distinct_prices"))
    return med.crossJoin(F.broadcast(n)).select(
        F.col("__sum_total").cast("long").alias("total_weight"),
        F.col("cents").alias("median_cents"),
        "n_distinct_prices",
    )


# --- largest-remainder sample allocation ---------------------------------------

ALLOC_N = 1000  # total sample budget to apportion

_ALLOC_SQL = f"""
WITH s AS (
  SELECT o_orderpriority AS stratum,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(max(round(o_totalprice * 100)) - min(round(o_totalprice * 100))
              AS BIGINT) AS range_cents
  FROM orders GROUP BY 1
), w AS (
  SELECT stratum, n_rows, range_cents, n_rows * range_cents AS wt,
         sum(n_rows * range_cents) OVER () AS total_wt
  FROM s
), base AS (
  SELECT stratum, n_rows, range_cents, wt, total_wt,
         ({ALLOC_N} * wt) // total_wt AS base_alloc,
         ({ALLOC_N} * wt) % total_wt AS rem
  FROM w
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, stratum) AS rr,
         sum(base_alloc) OVER () AS base_total
  FROM base
)
SELECT stratum, n_rows, range_cents,
       CAST(base_alloc + CASE WHEN rr <= {ALLOC_N} - base_total THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked ORDER BY stratum
"""


@_q("sample_allocation_apportion", _ALLOC_SQL)
def sample_allocation_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample-budget apportionment by the largest-remainder
    (Hamilton) method — the allocation step BEFORE a stratified draw:
    each stratum's weight is rows × price-range (the exact-integer
    stand-in for Neyman's N_h·S_h; range, unlike stddev, needs no
    square root, so the whole allocation is integer-exact on both
    engines), seats = ⌊n·w_h/W⌋ plus one extra for the largest
    remainders until the budget is met. Σ alloc == n EXACTLY — the
    property float-proportional allocation can't promise.

    Scale: one groupBy collapse of orders into a #strata-row table;
    everything after runs on that bounded table (the windows are
    broadcast-scale). Pairs with sample_stratified / sample_systematic_pps,
    which consume per-stratum budgets like these."""
    o = load_table(spark, sf_dir, "orders")
    s = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count("*").cast("long").alias("n_rows"),
        (
            F.max(F.round(F.col("o_totalprice") * 100))
            - F.min(F.round(F.col("o_totalprice") * 100))
        )
        .cast("long")
        .alias("range_cents"),
    )
    w = s.withColumn("wt", F.col("n_rows") * F.col("range_cents")).crossJoin(
        F.broadcast(
            s.agg(
                F.sum(F.col("n_rows") * F.col("range_cents")).alias("total_wt")
            )
        )
    )
    base = w.withColumn(
        "base_alloc", F.expr(f"({ALLOC_N} * wt) div total_wt")
    ).withColumn("rem", F.expr(f"({ALLOC_N} * wt) % total_wt"))
    bt = base.agg(F.sum("base_alloc").alias("base_total"))
    ranked = base.crossJoin(F.broadcast(bt)).withColumn(
        "rr", F.row_number().over(W.orderBy(F.desc("rem"), "stratum"))
    )
    return ranked.select(
        "stratum",
        "n_rows",
        "range_cents",
        (
            F.col("base_alloc")
            + F.when(F.col("rr") <= ALLOC_N - F.col("base_total"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    ).orderBy("stratum")


# --- exact mode with deterministic tie-break -----------------------------------

_MODE_SQL = """
WITH c AS (
  SELECT l_returnflag AS flag, CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
), r AS (
  SELECT flag, qty, n,
         row_number() OVER (PARTITION BY flag ORDER BY n DESC, qty) AS rk
  FROM c
)
SELECT flag, qty AS mode_qty, n AS mode_count FROM r WHERE rk = 1
ORDER BY flag
"""


sql_entry(_q, "agg_mode_exact", _MODE_SQL)


# --- binary-segmentation changepoint detection ---------------------------------

_BINSEG_SQL = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events GROUP BY 1
), c AS (
  SELECT d, cents,
         row_number() OVER (ORDER BY d) AS t,
         sum(cents) OVER (ORDER BY d) AS st,
         sum(cents) OVER () AS sn,
         count(*) OVER () AS n
  FROM daily
), scored AS (
  SELECT t, d, abs(n * st - t * sn) AS dev FROM c WHERE t < n
), t1 AS (
  SELECT t AS t1, dev AS dev1 FROM scored
  ORDER BY dev DESC, t LIMIT 1
), seg AS (
  SELECT s.t, s.d, s.dev, CASE WHEN s.t < t1.t1 THEN 0 ELSE 1 END AS side,
         t1.t1, t1.dev1
  FROM scored s, t1 WHERE s.t <> t1.t1
), best2 AS (
  SELECT side, t, d, dev,
         row_number() OVER (PARTITION BY side ORDER BY dev DESC, t) AS rk
  FROM seg
)
SELECT CAST(1 AS INTEGER) AS level, CAST(t1 AS BIGINT) AS t,
       c.d, CAST(dev1 AS BIGINT) AS deviation
FROM t1 JOIN c ON c.t = t1.t1
UNION ALL
SELECT CAST(2 AS INTEGER), CAST(t AS BIGINT), d, CAST(dev AS BIGINT)
FROM best2 WHERE rk = 1
ORDER BY level, t
"""


# Kept port (keep-rule 2b, worse plan): the text adds four single-partition exchanges.
@_q("events_changepoint_binseg", _BINSEG_SQL)
def events_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-segmentation changepoint detection on the daily revenue
    series, two levels deep: the level-1 split maximizes the exact
    CUSUM deviation |n·S_t − t·S_n| (the cross-multiplied form of
    |S_t − (t/n)·S_n| — BIGINT, no float), then each side's best
    sub-split is reported at level 2. Deterministic tie-break (earliest
    t at equal deviation). The relational unrolling replaces the usual
    driver-side recursion: level 2 is one join against the 1-row
    level-1 table — no collect, no loop.

    Scale: everything after the daily collapse runs on the day-grain
    table (the bounded-window contract of this module); deviations are
    exact integers so both engines pick identical changepoints."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents")
    )
    wo = W.orderBy("d")
    c = daily.select(
        "d",
        "cents",
        F.row_number().over(wo).alias("t"),
        F.sum("cents").over(wo.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("st"),
    ).crossJoin(
        F.broadcast(
            daily.agg(
                F.sum("cents").alias("sn"), F.count("*").alias("n")
            )
        )
    ).localCheckpoint(eager=False)
    scored = c.filter(F.col("t") < F.col("n")).select(
        "t", "d", F.abs(F.col("n") * F.col("st") - F.col("t") * F.col("sn")).alias("dev")
    )
    t1 = F.broadcast(
        scored.orderBy(F.desc("dev"), "t")
        .limit(1)
        .select(F.col("t").alias("t1"), F.col("dev").alias("dev1"))
    )
    seg = scored.crossJoin(t1).filter(F.col("t") != F.col("t1")).withColumn(
        "side", F.when(F.col("t") < F.col("t1"), 0).otherwise(1)
    )
    best2 = seg.withColumn(
        "rk",
        F.row_number().over(W.partitionBy("side").orderBy(F.desc("dev"), "t")),
    ).filter(F.col("rk") == 1)
    lvl1 = t1.join(c, c.t == F.col("t1")).select(
        F.lit(1).cast("int").alias("level"),
        F.col("t1").cast("long").alias("t"),
        "d",
        F.col("dev1").cast("long").alias("deviation"),
    )
    lvl2 = best2.select(
        F.lit(2).cast("int").alias("level"),
        F.col("t").cast("long").alias("t"),
        "d",
        F.col("dev").cast("long").alias("deviation"),
    )
    return lvl1.unionByName(lvl2).orderBy("level", "t")


# --- difference-in-differences estimator ----------------------------------------

_DID_SQL = """
WITH cell AS (
  SELECT (user_id % 2 = 0) AS treated,
         (day(CAST(ts AS DATE)) >= 16) AS post,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'purchase'
  GROUP BY 1, 2
), m AS (
  SELECT treated, post, n, cents,
         CAST(cents * 1000000 // n AS BIGINT) AS mean_micros
  FROM cell
)
SELECT
  (SELECT mean_micros FROM m WHERE treated AND post) AS t_post_micros,
  (SELECT mean_micros FROM m WHERE treated AND NOT post) AS t_pre_micros,
  (SELECT mean_micros FROM m WHERE NOT treated AND post) AS c_post_micros,
  (SELECT mean_micros FROM m WHERE NOT treated AND NOT post) AS c_pre_micros,
  CAST((SELECT mean_micros FROM m WHERE treated AND post)
     - (SELECT mean_micros FROM m WHERE treated AND NOT post)
     - (SELECT mean_micros FROM m WHERE NOT treated AND post)
     + (SELECT mean_micros FROM m WHERE NOT treated AND NOT post)
       AS BIGINT) AS did_micros
"""


@_q("events_diff_in_diff", _DID_SQL)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator over the purchase stream:
    treatment = even user ids, post-period = the month's second half;
    the 2×2 cell means are exact integer micros (cents·10⁶ div n) and
    the DiD interaction is their exact signed sum — the
    experiment-analytics companion to events_cuped_theta, with zero
    float anywhere.

    Scale: one groupBy collapse to FOUR cells; the estimator is
    arithmetic over a 4-row broadcast (here expressed as scalar
    subqueries, which Spark and DuckDB both evaluate from the tiny
    aggregate)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cell = ev.groupBy(
        (F.col("user_id") % 2 == 0).alias("treated"),
        (F.dayofmonth(F.to_date("ts")) >= 16).alias("post"),
    ).agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"),
        F.count("*").cast("long").alias("n"),
    ).withColumn("mean_micros", F.expr("cents * 1000000 div n").cast("long"))

    def pick(tr: bool, po: bool, name: str):
        return (
            cell.filter((F.col("treated") == tr) & (F.col("post") == po))
            .select(F.col("mean_micros").alias(name))
        )

    tp, tpre = pick(True, True, "t_post_micros"), pick(True, False, "t_pre_micros")
    cp, cpre = pick(False, True, "c_post_micros"), pick(False, False, "c_pre_micros")
    out = (
        tp.crossJoin(F.broadcast(tpre))
        .crossJoin(F.broadcast(cp))
        .crossJoin(F.broadcast(cpre))
    )
    return out.select(
        "t_post_micros",
        "t_pre_micros",
        "c_post_micros",
        "c_pre_micros",
        (
            F.col("t_post_micros")
            - F.col("t_pre_micros")
            - F.col("c_post_micros")
            + F.col("c_pre_micros")
        )
        .cast("long")
        .alias("did_micros"),
    )


# --- class-balanced downsample (two-pass hash threshold + exact trim) -----------

_BAL_SLACK_NUM, _BAL_SLACK_DEN = 13, 10  # 1.3x survivor slack over target
_BAL_HASH_MAX = 16**8  # 8 hex chars of md5

_BALANCED_SQL = f"""
WITH base AS (
  SELECT event_id, event_type,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events
), cnt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_c FROM base GROUP BY 1
), target AS (
  SELECT min(n_c) AS m FROM cnt
), surv AS (
  SELECT b.event_id, b.event_type, b.h, t.m
  FROM base b JOIN cnt c ON c.event_type = b.event_type
  CROSS JOIN target t
  WHERE b.h * c.n_c * {_BAL_SLACK_DEN} < {_BAL_HASH_MAX} * t.m * {_BAL_SLACK_NUM}
), ranked AS (
  SELECT event_id, event_type, m,
         row_number() OVER (PARTITION BY event_type ORDER BY h, event_id) AS rk
  FROM surv
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(event_id % 1000000007) AS BIGINT) AS kept_checksum
FROM ranked WHERE rk <= m
GROUP BY event_type ORDER BY event_type
"""


@_q("sample_balanced_downsample", _BALANCED_SQL)
def sample_balanced_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced downsampling (every event type trimmed to the
    minority class size) with the TWO-PASS device that makes exact
    per-class sampling scale: pass 1 keeps rows whose md5 hash clears a
    per-class threshold sized at {num}/{den}× the target rate (an
    integer cross-multiplication — no float rates), so the exact-trim
    rank window in pass 2 runs over ~1.3×target survivors per class,
    NEVER over the full class partition (the per-class window over raw
    data is exactly the single-partition-style hazard this repo's
    distrank family exists to avoid). Hash-rank selection is
    deterministic and engine-identical (md5 hex). Output: per class,
    the kept count (== minority size) and a modular id checksum pinning
    WHICH rows were kept.

    Uniformity note: the slack makes under-survival a ~never event at
    real class sizes (binomial tail at 30% margin); a production job
    asserts n_kept == m, exactly as the oracle comparison does here."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_id",
        "event_type",
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    cnt = base.groupBy("event_type").agg(F.count("*").cast("long").alias("n_c"))
    target = cnt.agg(F.min("n_c").alias("m"))
    surv = (
        base.join(F.broadcast(cnt), "event_type")
        .crossJoin(F.broadcast(target))
        .filter(
            F.col("h") * F.col("n_c") * _BAL_SLACK_DEN
            < F.lit(_BAL_HASH_MAX) * F.col("m") * _BAL_SLACK_NUM
        )
    )
    ranked = surv.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("event_type").orderBy("h", "event_id")
        ),
    )
    return (
        ranked.filter(F.col("rk") <= F.col("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_kept"),
            F.sum(F.col("event_id") % 1000000007).cast("long").alias("kept_checksum"),
        )
        .orderBy("event_type")
    )


sample_balanced_downsample.__doc__ = sample_balanced_downsample.__doc__.format(
    num=_BAL_SLACK_NUM, den=_BAL_SLACK_DEN
)


# --- Gini coefficient over the distrank global rank ------------------------------

_GINI_SQL = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
), r AS (
  SELECT cents, row_number() OVER (ORDER BY cents) AS i,
         count(*) OVER () AS n
  FROM v
), s AS (
  SELECT max(n) AS n,
         sum(CAST(i AS HUGEINT) * cents) AS six,
         sum(CAST(cents AS HUGEINT)) AS sx
  FROM r
)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(sx AS BIGINT) AS total_cents,
       CAST((2 * six - (n + 1) * sx) * 1000000 // (n * sx) AS BIGINT)
         AS gini_ppm
FROM s
"""


@_q("agg_gini_coefficient", _GINI_SQL)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient of order revenue — the inequality
    summary every marketplace dashboard carries — via the rank identity
    G = (2·Σi·x_i − (n+1)·Σx_i)/(n·Σx_i) over ascending-sorted values,
    in exact integers (128-bit sums: DECIMAL(38,0) / HUGEINT — at
    cluster scale Σi·x_i is the first sum to outgrow int64). Tie
    handling is free: equal values contribute the same Σi·x_i under any
    stable order.

    Scale: the ascending rank is ``distrank.global_index`` (range
    partition + prefix offsets — never a single-partition window over
    the data; the oracle's plain window is oracle-only), then ONE
    3-number fold. The same device as agg_weighted_median one row up
    the statistics ladder."""
    from .distrank import global_index

    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    # no unique tiebreaker needed: Σi·x_i is invariant to how equal
    # values share their rank range (they all carry the same x)
    gi = global_index(v, [F.asc("cents")])
    s = gi.agg(
        F.max("__n_total").alias("n"),
        F.sum(F.expr("CAST(__rn AS DECIMAL(38,0)) * cents")).alias("six"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("sx").cast("long").alias("total_cents"),
        F.expr(
            "CAST((2 * six - (n + 1) * sx) * 1000000 div (n * sx) AS BIGINT)"
        ).alias("gini_ppm"),
    )


# --- Neyman allocation (r13) -----------------------------------------------------
# Variance-proportional stratified sample allocation: the optimal
# budget split n_h ∝ N_h·S_h (Neyman 1934) — the sampling design every
# stratified data-quality audit should use instead of proportional.
# Everything is exact-integer: the per-stratum variance is the exact
# rational (n·Σx² − (Σx)²)·1e6 / (n·(n−1)) in 128-bit, the std is the
# integer round(sqrt(·)) (cross-engine micros parity verified), weights
# are N_h·S_e3 BIGINTs, and the final rounding is largest-remainder
# (Hamilton) on integer remainders — allocations sum to the budget
# EXACTLY on any engine.

NEYMAN_BUDGET = 1000

_NEYMAN_SQL = f"""
WITH s AS (
  SELECT event_type AS stratum,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sxx
  FROM events GROUP BY 1
), v AS (
  SELECT stratum, n,
         CAST((n * sxx - sx * sx) * 1000000 // (n * (n - 1)) AS BIGINT)
           AS var_e6
  FROM s
), w AS (
  SELECT stratum, n, var_e6,
         n * CAST(round(sqrt(CAST(var_e6 AS DOUBLE))) AS BIGINT) AS weight
  FROM v
), q AS (
  SELECT stratum, n, var_e6, weight,
         CAST({NEYMAN_BUDGET} AS BIGINT) * weight AS num,
         CAST(sum(weight) OVER () AS BIGINT) AS wtot
  FROM w
), h AS (
  SELECT stratum, n, var_e6, weight,
         num // wtot AS base, num % wtot AS rem,
         row_number() OVER (ORDER BY num % wtot DESC, stratum) AS rr,
         CAST({NEYMAN_BUDGET} AS BIGINT) - sum(num // wtot) OVER () AS leftover
  FROM q
)
SELECT stratum, n AS stratum_rows, var_e6,
       CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
         AS allocated
FROM h ORDER BY stratum
"""


@_q("sample_neyman_allocation", _NEYMAN_SQL)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a {b}-row sampling budget across
    event-type strata (n_h ∝ N_h·S_h), Hamilton-rounded so the
    allocations sum to exactly {b}.

    Scale: one stratum groupBy with 128-bit moment sums (map-side
    combinable); every window after it runs on the stratum-cardinality
    table (5 rows), never on data."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    dec = "decimal(38,0)"
    s = ev.groupBy(F.col("event_type").alias("stratum")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(cents.cast(dec)).alias("sx"),
        F.sum((cents * cents).cast(dec)).alias("sxx"),
    )
    v = s.select(
        "stratum", "n",
        F.expr(
            "CAST((n * sxx - sx * sx) * 1000000 div (n * (n - 1)) AS BIGINT)"
        ).alias("var_e6"),
    )
    w = v.select(
        "stratum", "n", "var_e6",
        (
            F.col("n")
            * F.round(F.sqrt(F.col("var_e6").cast("double"))).cast("long")
        ).alias("weight"),
    )
    q = w.select(
        "stratum", "n", "var_e6", "weight",
        (F.lit(NEYMAN_BUDGET).cast("long") * F.col("weight")).alias("num"),
        F.sum("weight").over(W.partitionBy()).cast("long").alias("wtot"),
    )
    h = q.select(
        "stratum", "n", "var_e6",
        F.expr("num div wtot").alias("base"),
        (F.col("num") % F.col("wtot")).alias("rem"),
        F.row_number()
        .over(W.orderBy((F.col("num") % F.col("wtot")).desc(), "stratum"))
        .alias("rr"),
        (
            F.lit(NEYMAN_BUDGET).cast("long")
            - F.sum(F.expr("num div wtot")).over(W.partitionBy())
        ).alias("leftover"),
    )
    return h.select(
        "stratum",
        F.col("n").alias("stratum_rows"),
        "var_e6",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).cast("long").alias("allocated"),
    ).orderBy("stratum")


# --- Theil T inequality index (r13) ----------------------------------------------
# The decomposable inequality measure that pairs with the Gini
# (agg_gini_coefficient): T = (1/n)·Σ (x/μ)·ln(x/μ). Discipline: the
# ratio x·n/S is formed from exact BIGINTs (exactly representable
# doubles at fixture scale; the guard column max_xn pins the 2^53
# envelope), ln runs only over exact-integer-valued doubles
# (cross-engine micros parity verified), each row's term is rounded to
# e6 BEFORE the global sum — so the total is an order-free integer sum
# that any partitioning reproduces.

_THEIL_SQL = """
WITH x AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s FROM x
), terms AS (
  SELECT CAST(round(
           (CAST(v * n AS DOUBLE) / CAST(s AS DOUBLE))
           * (ln(CAST(v * n AS DOUBLE)) - ln(CAST(s AS DOUBLE)))
           * 1000000) AS BIGINT) AS term_e6,
         v * n AS xn
  FROM x, tot
)
SELECT (SELECT n FROM tot) AS n,
       (SELECT s FROM tot) AS total_cents,
       CAST(sum(term_e6) // (SELECT n FROM tot) AS BIGINT) AS theil_e6,
       CAST(max(xn) AS BIGINT) AS max_xn
FROM terms
"""


@_q("agg_theil_index", _THEIL_SQL)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T index of order-value inequality in exact micros (per-row
    e6-rounded terms, integer-summed, one final integer division).
    max_xn is the emitted witness that every v·n stayed inside the
    2^53 exact-double envelope — past it, the ratio moves to
    DECIMAL(38,0) splitting.

    Scale: one scan projection + one global aggregate (map-side
    combinable); the 1-row totals attach by broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    tot = x.agg(
        F.count("*").cast("long").alias("n"), F.sum("v").cast("long").alias("s")
    )
    terms = x.crossJoin(F.broadcast(tot)).select(
        F.round(
            ((F.col("v") * F.col("n")).cast("double") / F.col("s").cast("double"))
            * (
                F.log((F.col("v") * F.col("n")).cast("double"))
                - F.log(F.col("s").cast("double"))
            )
            * 1000000
        ).cast("long").alias("term_e6"),
        (F.col("v") * F.col("n")).alias("xn"),
        "n", "s",
    )
    return terms.agg(
        F.max("n").cast("long").alias("n"),
        F.max("s").cast("long").alias("total_cents"),
        F.expr("CAST(sum(term_e6) div max(n) AS BIGINT)").alias("theil_e6"),
        F.max("xn").cast("long").alias("max_xn"),
    )


# --- importance reweighting + effective sample size (r13) -------------------------
# The dataset-reweighting primitive (off-policy evaluation, domain
# rebalancing, DSIR's denominator): given a DECLARED target mix over
# strata and the observed proposal mix, per-stratum importance weights
# w = p/q and the self-normalized effective sample size
# ESS = (Σw)²/Σw² — the number that says how many samples the reweighted
# dataset is actually worth. Exact integers end-to-end: w_e6 = p_e6·N
# div n_h, the ESS quadratic runs in 128-bit.

IW_TARGET_E6 = {
    "click": 200000,
    "error": 50000,
    "purchase": 400000,
    "signup": 100000,
    "view": 250000,
}  # declared target mix; sums to exactly 1_000_000

_IW_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(IW_TARGET_E6.items())
)

_IW_SQL = f"""
WITH s AS (
  SELECT event_type AS stratum, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn FROM s
), w AS (
  SELECT stratum, n,
         CASE stratum {_IW_CASE} END AS target_e6,
         n * 1000000 // nn AS proposal_e6,
         (CASE stratum {_IW_CASE} END) * nn // n AS weight_e6
  FROM s, tot
), ess AS (
  SELECT CAST(
           (CAST(sum(n * weight_e6) AS HUGEINT)
            * CAST(sum(n * weight_e6) AS HUGEINT))
           // sum(CAST(n AS HUGEINT) * weight_e6 * weight_e6) AS BIGINT)
         AS ess_rows
  FROM w
)
SELECT w.stratum, w.n, CAST(w.target_e6 AS BIGINT) AS target_e6,
       CAST(w.proposal_e6 AS BIGINT) AS proposal_e6,
       CAST(w.weight_e6 AS BIGINT) AS weight_e6,
       e.ess_rows,
       CAST(e.ess_rows * 1000000 // t.nn AS BIGINT) AS ess_ratio_e6
FROM w, ess e, tot t
ORDER BY w.stratum
"""


@_q("sample_importance_weights", _IW_SQL)
def sample_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum importance weights toward the declared target mix
    plus the self-normalized effective sample size (repeated as global
    witness columns): weight_e6 = target·N div n_h exactly, and
    ESS = (Σ n·w)² / Σ n·w² in 128-bit.

    Scale: one stratum count groupBy (map-side combinable) + 1-row
    broadcasts; the quadratic runs on the stratum-cardinality table."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(F.col("event_type").alias("stratum")).agg(
        F.count("*").cast("long").alias("n")
    )
    tot = s.agg(F.sum("n").cast("long").alias("nn"))
    target = F.create_map(
        *[x for k, v in sorted(IW_TARGET_E6.items())
          for x in (F.lit(k), F.lit(v))]
    )
    w = s.crossJoin(F.broadcast(tot)).select(
        "stratum", "n", "nn",
        target[F.col("stratum")].cast("long").alias("target_e6"),
        F.expr("n * 1000000 div nn").cast("long").alias("proposal_e6"),
    ).withColumn(
        "weight_e6", F.expr("target_e6 * nn div n").cast("long")
    )
    ess = w.agg(
        F.expr(
            "CAST((CAST(sum(n * weight_e6) AS DECIMAL(38,0)) "
            "* CAST(sum(n * weight_e6) AS DECIMAL(38,0))) "
            "div sum(CAST(n AS DECIMAL(38,0)) * weight_e6 * weight_e6) "
            "AS BIGINT)"
        ).alias("ess_rows")
    )
    return (
        w.crossJoin(F.broadcast(ess))
        .select(
            "stratum", "n", "target_e6", "proposal_e6", "weight_e6",
            "ess_rows",
            F.expr("CAST(ess_rows * 1000000 div nn AS BIGINT)")
            .alias("ess_ratio_e6"),
        )
        .orderBy("stratum")
    )


# --- exact multi-quantile battery (r13) --------------------------------------------
# The exact (not sketched) p25/p50/p75/p95/p99 in ONE pass via the
# counted-table device: collapse to (value, weight), cumulative-sum over
# the value-cardinality-bounded counted table, and pick each quantile as
# the FIRST value whose cumulative count reaches ceil(p·n) — the
# percentile_disc contract, deterministic on both engines, never a
# per-row sort. The sketch path (approx_percentile/tdigest) answers the
# same question with error bars; this is the exact audit that validates
# them.

EXQ_PCTS = (25, 50, 75, 95, 99)

_EXQ_SQL = f"""
WITH x AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
), counted AS (
  SELECT v, CAST(count(*) AS BIGINT) AS w FROM x GROUP BY v
), c AS (
  SELECT v, sum(w) OVER (ORDER BY v) AS csum, sum(w) OVER () AS n
  FROM counted
), p AS (
  SELECT unnest(ARRAY{list(EXQ_PCTS)}) AS pct
)
SELECT p.pct,
       CAST(min(c.v) AS BIGINT) AS value_cents,
       CAST(max(c.n) AS BIGINT) AS n_rows
FROM p JOIN c ON c.csum * 100 >= p.pct * c.n
GROUP BY p.pct
ORDER BY p.pct
"""


@_q("agg_exact_quantiles", _EXQ_SQL)
def agg_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile_disc battery ({pcts}) over lineitem price cents
    in one pass: quantile p = min value with csum·100 >= p·n (integer
    cross-multiplication — no float ranks).

    Scale: one (value, weight) collapse (map-side combinable), ONE
    distrank range exchange carrying the running weight sum (the
    agg_weighted_median path — the counted table's cardinality grows
    with distinct prices, so its rank never runs on a single
    partition), and a 5-row quantile probe joined against it — the
    per-row sort the naive percentile pays never happens."""
    from .distrank import global_index

    li = load_table(spark, sf_dir, "lineitem")
    counted = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v")
    ).groupBy("v").agg(F.count("*").cast("long").alias("w"))
    c = global_index(counted, [F.col("v")], sum_col="w").select(
        "v", F.col("__csum").alias("csum"), F.col("__sum_total").alias("n")
    )
    p = small_df(spark, [(int(x),) for x in EXQ_PCTS], "pct long")
    return (
        F.broadcast(p)
        .join(c, F.col("csum") * 100 >= F.col("pct") * F.col("n"))
        .groupBy("pct")
        .agg(
            F.min("v").cast("long").alias("value_cents"),
            F.max("n").cast("long").alias("n_rows"),
        )
        .orderBy("pct")
    )


agg_exact_quantiles.__doc__ = agg_exact_quantiles.__doc__.format(pcts=EXQ_PCTS)


# --- trimmed / winsorized mean (robust location, r13) ------------------------
# The two classical robust location estimators the plain mean family
# lacks: drop (trim) or clamp (winsorize) the extreme TRIM_PCT% of mass
# on each side.  Both ride the SAME counted-table + running-sum device
# as agg_exact_quantiles: collapse to (value, weight), one range
# exchange for the cumulative weight, then per-value "kept copies" are
# a pure closed form of (csum, w, n) — no per-row sort, no second pass.
# Reference anchor: presto-main's DoubleSumAggregation/percentile pair
# covers mean and quantiles separately; the robust combinations are the
# extension a curation pipeline uses to summarize heavy-tailed spend /
# length distributions without letting outliers steer the mix.

TRIM_PCT = 10

_TRIMW_SQL = f"""
WITH x AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem
), counted AS (
  SELECT v, CAST(count(*) AS BIGINT) AS w FROM x GROUP BY v
), c AS (
  SELECT v, w, sum(w) OVER (ORDER BY v) AS csum, sum(w) OVER () AS n
  FROM counted
), b AS (
  SELECT v, w, csum, n, (n * {TRIM_PCT}) // 100 AS lo FROM c
), k AS (
  SELECT v, w, csum, n, lo,
         greatest(0, least(csum, n - lo) - greatest(csum - w, lo)) AS kept
  FROM b
), a AS (
  SELECT CAST(max(n) AS BIGINT) AS n_rows,
         CAST(max(lo) AS BIGINT) AS lo_trim,
         sum(v * kept) AS tsum,
         CAST(min(CASE WHEN csum >= lo + 1 THEN v END) AS BIGINT) AS v_lo,
         CAST(min(CASE WHEN csum >= n - lo THEN v END) AS BIGINT) AS v_hi
  FROM k
)
SELECT n_rows, lo_trim, v_lo AS v_lo_cents, v_hi AS v_hi_cents,
       CAST(tsum * 1000000 // (n_rows - 2 * lo_trim) AS BIGINT)
         AS trimmed_mean_micros,
       CAST((tsum + lo_trim * (v_lo + v_hi)) * 1000000 // n_rows AS BIGINT)
         AS winsor_mean_micros
FROM a
"""


@_q("agg_trimmed_winsorized", _TRIMW_SQL)
def agg_trimmed_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact {pct}%-trimmed and {pct}%-winsorized mean of lineitem price
    cents.  kept(v) = max(0, min(csum, n-lo) - max(csum-w, lo)) is the
    number of copies of v inside the trim window [lo+1, n-lo]; the
    winsorized sum adds back lo clamped copies of the two boundary
    order statistics (ranks lo+1 and n-lo).

    Scale: one map-side-combinable (value, weight) collapse, ONE
    distrank range exchange for the running weight sum (cardinality =
    distinct prices, never rows), and a single-row final aggregate —
    the full-sort robust mean at the cost of a quantile probe.  All
    sums ride DECIMAL(38,0); every division is integer."""
    from .distrank import global_index

    li = load_table(spark, sf_dir, "lineitem")
    counted = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v")
    ).groupBy("v").agg(F.count("*").cast("long").alias("w"))
    c = global_index(counted, [F.col("v")], sum_col="w").select(
        "v", "w", F.col("__csum").alias("csum"),
        F.col("__sum_total").alias("n"),
    )
    k = c.withColumn("lo", F.expr(f"(n * {TRIM_PCT}) div 100")).withColumn(
        "kept",
        F.expr("greatest(0L, least(csum, n - lo) - greatest(csum - w, lo))"),
    )
    a = k.agg(
        F.max("n").cast("long").alias("n_rows"),
        F.max("lo").cast("long").alias("lo_trim"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * kept")).alias("tsum"),
        F.expr("min(CASE WHEN csum >= lo + 1 THEN v END)")
        .cast("long").alias("v_lo"),
        F.expr("min(CASE WHEN csum >= n - lo THEN v END)")
        .cast("long").alias("v_hi"),
    )
    return a.select(
        "n_rows", "lo_trim",
        F.col("v_lo").alias("v_lo_cents"), F.col("v_hi").alias("v_hi_cents"),
        F.expr("CAST(tsum * 1000000 div (n_rows - 2 * lo_trim) AS BIGINT)")
        .alias("trimmed_mean_micros"),
        F.expr(
            "CAST((tsum + lo_trim * (v_lo + v_hi)) * 1000000 div n_rows"
            " AS BIGINT)"
        ).alias("winsor_mean_micros"),
    )


agg_trimmed_winsorized.__doc__ = agg_trimmed_winsorized.__doc__.format(pct=TRIM_PCT)


# --- sequential Poisson (order) sampling, r13 --------------------------------
# Ohlsson's sequential Poisson sampling: a fixed-size
# probability-proportional-to-size draw as a BOTTOM-K by the order
# variable u/w (uniform u, size weight w).  Unlike systematic PPS
# (sample_systematic_pps — needs a global cumulative-weight walk), the
# priority is a pure per-row expression, so the draw is one distributed
# top-k: the method survey-statistics offices use precisely BECAUSE it
# shards.  u is the 48-bit md5 prefix of the doc id (portable, seeded);
# priority = u * 10000 div n_chars keeps everything in BIGINT.

SEQP_K = 100
SEQP_SEED = "sp1:"

_SEQP_SQL = f"""
WITH p AS (
  SELECT doc_id, source, n_chars,
         ('0x' || substr(md5('{SEQP_SEED}' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
           * 10000 // n_chars AS priority
  FROM documents
), r AS (
  SELECT doc_id, source, n_chars, priority,
         row_number() OVER (ORDER BY priority, doc_id) AS rnk
  FROM p
)
SELECT CAST(rnk AS BIGINT) AS rnk, doc_id, source,
       CAST(n_chars AS BIGINT) AS n_chars, CAST(priority AS BIGINT) AS priority
FROM r WHERE rnk <= {SEQP_K} ORDER BY rnk
"""


@_q("sample_seqpoisson", _SEQP_SQL)
def sample_seqpoisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential Poisson sample of {k} documents with inclusion
    probability proportional to n_chars: keep the {k} smallest
    priorities u48 * 10000 div n_chars (u48 = 48-bit md5 prefix,
    seeded).  Longer documents draw smaller priorities, so the sample
    is the order-sampling PPS draw — reproducible bit-identically from
    the seed alone.

    Scale: priority is a stateless per-row projection; the draw is ONE
    distributed top-k (TakeOrdered — per-partition heaps of {k}, then a
    {k}-row driver merge), no global cumulative walk, no coordination.
    2^48 * 10^4 < 2^63 keeps the order variable in BIGINT."""
    docs = load_table(spark, sf_dir, "documents")
    p = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(
            f"CAST(conv(substr(md5(concat('{SEQP_SEED}',"
            f" CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)"
            f" * 10000 div n_chars"
        ).alias("priority"),
    )
    r = p.orderBy("priority", "doc_id").limit(SEQP_K)
    win = W.orderBy("priority", "doc_id")
    return r.withColumn("rnk", F.row_number().over(win).cast("long")).select(
        "rnk", "doc_id", "source", "n_chars", "priority"
    ).orderBy("rnk")


sample_seqpoisson.__doc__ = sample_seqpoisson.__doc__.format(k=SEQP_K)


# --- Hodges-Lehmann robust location (Walsh-average median, r13) --------------
# The rank-based companion to agg_trimmed_winsorized: the median of all
# n(n+1)/2 pairwise means (Walsh averages) — the estimator behind the
# Wilcoxon signed-rank confidence interval, ~95% efficient at the
# normal yet 29%-breakdown robust.  Quadratic in the SERIES length, so
# it runs on the day-grain collapse (365 rows/year at any raw size),
# exactly like the bootstrap/changepoint family.

_HL_SQL = """
WITH s AS (
  SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days FROM s
), walsh AS (
  SELECT a.x + b.x AS ws
  FROM s a JOIN s b ON a.d <= b.d
), rw AS (
  SELECT ws, row_number() OVER (ORDER BY ws) AS rn,
         count(*) OVER () AS nw
  FROM walsh
), med AS (
  SELECT min(ws) AS med_ws, max(nw) AS n_walsh FROM rw WHERE rn * 2 >= nw
), rx AS (
  SELECT x, row_number() OVER (ORDER BY x) AS rn, count(*) OVER () AS nx
  FROM s
), medx AS (
  SELECT min(x) AS med_x FROM rx WHERE rn * 2 >= nx
)
SELECT n.n_days, med.n_walsh,
       CAST(medx.med_x * 1000000 AS BIGINT) AS median_daily_micros,
       CAST(med.med_ws * 500000 AS BIGINT) AS hl_micros
FROM n, med, medx
"""


sql_entry(_q, "agg_hodges_lehmann", _HL_SQL)


# --- seasonal strength (Hyndman F_s on the STL decomposition, r13) -----------
# How MUCH of the detrended variation the weekly seasonal explains:
# F_s = max(0, 1 - Var(remainder)/Var(seasonal+remainder)) per series
# (Hyndman & Athanasopoulos' tsfeatures definition), computed on the
# SAME exact-integer decomposition events_stl_decompose emits.  The
# variance ratio uses the n*sum(x^2) - (sum x)^2 form in DECIMAL(38,0)
# — no float means, so the strength is an exact integer e6.

_SEASTR_SQL = """
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, d, cents,
         CASE WHEN count(*) OVER w7 = 7
              THEN (sum(cents) OVER w7 * 1000000) // 7 END AS trend_micros
  FROM s
  WINDOW w7 AS (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
), dt AS (
  SELECT event_type, d, cents * 1000000 - trend_micros AS detr, isodow(d) AS wd
  FROM t WHERE trend_micros IS NOT NULL
), seas AS (
  SELECT event_type, wd,
         CAST(sum(detr) // count(detr) AS BIGINT) AS seasonal_micros
  FROM dt GROUP BY 1, 2
), r AS (
  SELECT dt.event_type, dt.detr,
         dt.detr - seas.seasonal_micros AS resid
  FROM dt JOIN seas ON seas.event_type = dt.event_type AND seas.wd = dt.wd
), v AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         count(*) * sum(resid * resid) - sum(resid) * sum(resid) AS num_r,
         count(*) * sum(detr * detr) - sum(detr) * sum(detr) AS num_sr
  FROM r GROUP BY 1
)
SELECT event_type, n AS n_days_used,
       CAST(greatest(0, 1000000 - num_r * 1000000 // num_sr) AS BIGINT)
         AS strength_e6
FROM v ORDER BY event_type
"""


@_q("events_seasonality_strength", _SEASTR_SQL)
def events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman seasonal-strength F_s = max(0, 1 - Var(R)/Var(S+R)) of the
    weekly pattern in each type's daily-revenue series, on the exact
    decomposition events_stl_decompose defines (full-window trend only;
    S+R = the detrended series, so the ratio needs no float means —
    both variances are n*sum(x^2)-(sum x)^2 over the same n).

    Scale: identical shape to the STL op — one (event_type, day)
    collapse, day-span-bounded windows, a 7-row-per-series seasonal
    model, then a per-series single-row variance aggregate in
    DECIMAL(38,0)."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents")
    )
    w7 = W.partitionBy("event_type").orderBy("d").rowsBetween(-3, 3)
    t = s.withColumn(
        "trend_micros",
        F.when(
            F.count("*").over(w7) == 7,
            F.expr(
                "sum(cents) OVER (PARTITION BY event_type ORDER BY d "
                "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) * 1000000 div 7"
            ),
        ),
    )
    dt = t.filter(F.col("trend_micros").isNotNull()).select(
        "event_type", "d",
        (F.col("cents") * 1000000 - F.col("trend_micros")).alias("detr"),
        (F.weekday("d") + 1).alias("wd"),
    )
    seas = dt.groupBy("event_type", "wd").agg(
        F.expr("sum(detr) div count(detr)").cast("long")
        .alias("seasonal_micros")
    )
    r = dt.join(seas, ["event_type", "wd"]).select(
        "event_type", "detr",
        (F.col("detr") - F.col("seasonal_micros")).alias("resid"),
    )
    v = r.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.expr(
            "count(*) * sum(CAST(resid AS DECIMAL(38,0)) * resid)"
            " - sum(CAST(resid AS DECIMAL(38,0)))"
            " * sum(CAST(resid AS DECIMAL(38,0)))"
        ).alias("num_r"),
        F.expr(
            "count(*) * sum(CAST(detr AS DECIMAL(38,0)) * detr)"
            " - sum(CAST(detr AS DECIMAL(38,0)))"
            " * sum(CAST(detr AS DECIMAL(38,0)))"
        ).alias("num_sr"),
    )
    return v.select(
        "event_type",
        F.col("n").alias("n_days_used"),
        F.expr(
            "CAST(greatest(CAST(0 AS DECIMAL(38,0)),"
            " 1000000 - num_r * 1000000 div num_sr) AS BIGINT)"
        ).alias("strength_e6"),
    ).orderBy("event_type")


# --- partial autocorrelation (Durbin-Levinson, lags 1..3, r13) ---------------
# The PACF companion to events_acf — the Box-Jenkins AR-order
# diagnostic.  Autocovariance numerators C_k are EXACT integers via the
# multiply-through-by-n device (d_t = n*x_t - S, so C_k = sum d_t
# d_{t+k} carries no float mean); the Durbin-Levinson closed forms then
# run in IEEE doubles with the IDENTICAL expression tree on both
# engines (+,*,/ are correctly rounded, so the e6-rounded outputs are
# bit-equal — the emb_int8_quantize determinism argument).

_PACF_SQL = """
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(round(value * 100)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type, d,
         count(*) OVER (PARTITION BY event_type) * x
           - sum(x) OVER (PARTITION BY event_type) AS dev,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM s
), ck AS (
  SELECT a.event_type, max(a.n) AS n,
         sum(CASE WHEN b.d = a.d THEN a.dev * b.dev END) AS c0,
         sum(CASE WHEN b.d = a.d + 1 THEN a.dev * b.dev END) AS c1,
         sum(CASE WHEN b.d = a.d + 2 THEN a.dev * b.dev END) AS c2,
         sum(CASE WHEN b.d = a.d + 3 THEN a.dev * b.dev END) AS c3
  FROM m a JOIN m b
    ON b.event_type = a.event_type
   AND b.d BETWEEN a.d AND a.d + 3
  GROUP BY a.event_type
), r AS (
  SELECT event_type, n,
         CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
         CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2,
         CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r3
  FROM ck
), dl AS (
  SELECT event_type, n, r1, r2, r3,
         (r2 - r1 * r1) / (1 - r1 * r1) AS p22
  FROM r
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       CAST(round(r1 * 1000000) AS BIGINT) AS pacf1_e6,
       CAST(round(p22 * 1000000) AS BIGINT) AS pacf2_e6,
       CAST(round(
         (r3 - (r1 * (1 - p22)) * r2 - p22 * r1)
         / (1 - (r1 * (1 - p22)) * r1 - p22 * r2) * 1000000
       ) AS BIGINT) AS pacf3_e6
FROM dl ORDER BY event_type
"""


sql_entry(_q, "events_pacf_yw", _PACF_SQL)


# --- DiD parallel-trends pre-test (r13) --------------------------------------
# events_diff_in_diff assumes parallel trends; this is the test that
# earns the assumption: separate OLS slopes of daily revenue on the day
# index for treated/control over the PRE period only, and the z-test on
# the slope difference.  Sums are exact integers; the slope/SE algebra
# is one shared double expression tree (the events_pacf_yw device);
# the 1.96 critical value is a fixed literal.

_PT_Z = 1.959963985

_PTREND_SQL = f"""
WITH s AS (
  SELECT user_id % 2 = 0 AS treated,
         day(CAST(ts AS DATE)) AS t,
         CAST(sum(round(value * 100)) AS BIGINT) AS y
  FROM events
  WHERE event_type = 'purchase' AND day(CAST(ts AS DATE)) <= 15
  GROUP BY 1, 2
), m AS (
  SELECT treated, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(t) AS BIGINT) AS st, CAST(sum(t * t) AS BIGINT) AS stt,
         CAST(sum(y) AS BIGINT) AS sy, CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(t * y) AS BIGINT) AS sty
  FROM s GROUP BY 1
), d AS (
  SELECT treated, n,
         CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n AS sxx,
         CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n AS sxy,
         CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy_c
  FROM m
), b AS (
  SELECT treated, n, sxy / sxx AS slope,
         ((syy_c - (sxy / sxx) * sxy) / (n - 2)) / sxx AS se2
  FROM d
)
SELECT CAST(t.n AS BIGINT) AS n_days_pre,
       CAST(round(t.slope * 1000000) AS BIGINT) AS slope_treated_e6,
       CAST(round(c.slope * 1000000) AS BIGINT) AS slope_control_e6,
       CAST(round((t.slope - c.slope) * 1000000) AS BIGINT) AS diff_e6,
       CAST(round(sqrt(t.se2 + c.se2) * 1000000) AS BIGINT) AS se_e6,
       CAST(round((t.slope - c.slope) / sqrt(t.se2 + c.se2) * 1000000)
            AS BIGINT) AS z_e6,
       abs((t.slope - c.slope) / sqrt(t.se2 + c.se2)) < {_PT_Z}
         AS parallel_ok
FROM (SELECT * FROM b WHERE treated) t, (SELECT * FROM b WHERE NOT treated) c
"""


sql_entry(_q, "events_did_parallel_trends", _PTREND_SQL)


# --- Mann-Kendall trend test (r13) -------------------------------------------
# The nonparametric monotone-trend test (the hydrology/ops standard
# when events_holt_linear's parametric slope can't be trusted):
# S = sum over i<j of sign(x_j - x_i), ties handled by the sign, with
# the normal approximation z = (S -/+ 1)/sqrt(n(n-1)(2n+5)/18).  S and
# the variance are exact integers on the day grain; only the final z
# touches doubles (one shared tree).

_MK_Z = 1.959963985

_MK_SQL = f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type,
         CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn
  FROM s a JOIN s b ON b.event_type = a.event_type AND b.d > a.d
), agg AS (
  SELECT p.event_type, CAST(sum(p.sgn) AS BIGINT) AS s_stat,
         CAST(max(n.n) AS BIGINT) AS n
  FROM pairs p JOIN (
    SELECT event_type, count(*) AS n FROM s GROUP BY 1
  ) n ON n.event_type = p.event_type
  GROUP BY p.event_type
)
SELECT event_type, n AS n_days, s_stat,
       CAST(n * (n - 1) * (2 * n + 5) // 18 AS BIGINT) AS var_s,
       CAST(round(
         CASE WHEN s_stat > 0 THEN (s_stat - 1)
              WHEN s_stat < 0 THEN (s_stat + 1)
              ELSE 0 END
         / sqrt(CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) / 18) * 1000000
       ) AS BIGINT) AS z_e6,
       abs(CASE WHEN s_stat > 0 THEN (s_stat - 1)
                WHEN s_stat < 0 THEN (s_stat + 1)
                ELSE 0 END
           / sqrt(CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) / 18))
         > {_MK_Z} AS trending_5pct
FROM agg ORDER BY event_type
"""


@_q("agg_mann_kendall_trend", _MK_SQL)
def agg_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per daily-count series: exact
    integer S over all day pairs, the closed-form variance
    n(n-1)(2n+5)/18 (integer), the continuity-corrected z (one shared
    double tree), and the 5% verdict.

    Scale: the pair join is quadratic in the DAY SPAN only (the
    agg_hodges_lehmann device — one map-side collapse first); the
    statistic is a per-series single-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    a, b = s.alias("a"), s.alias("b")
    pairs = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") > F.col("a.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0).alias("sgn"),
    )
    n = s.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    agg = (
        pairs.groupBy("event_type")
        .agg(F.sum("sgn").cast("long").alias("s_stat"))
        .join(F.broadcast(n), "event_type")
    )
    zexpr = (
        "CASE WHEN s_stat > 0 THEN (s_stat - 1)"
        " WHEN s_stat < 0 THEN (s_stat + 1) ELSE 0 END"
        " / sqrt(CAST(n * (n - 1) * (2 * n + 5) AS DOUBLE) / 18)"
    )
    return agg.selectExpr(
        "event_type", "n AS n_days", "s_stat",
        "CAST(n * (n - 1) * (2 * n + 5) div 18 AS BIGINT) AS var_s",
        f"CAST(round({zexpr} * 1000000) AS BIGINT) AS z_e6",
        f"abs({zexpr}) > {_MK_Z} AS trending_5pct",
    ).orderBy("event_type")


# --- Wald-Wolfowitz runs test (r13) ------------------------------------------
# Randomness check on the SIGN pattern of day-over-day moves: too few
# runs = momentum/trend, too many = oscillation.  Runs and sign counts
# are exact integers (a lag self-join + boundary count — no session
# window); the expected-runs/variance algebra is one shared double
# tree.

_RUNS_SQL = """
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), mv AS (
  SELECT a.event_type, a.d,
         CASE WHEN b.x > a.x THEN 1 ELSE 0 END AS up
  FROM s a JOIN s b ON b.event_type = a.event_type AND b.d = a.d + 1
  WHERE b.x <> a.x
), lagged AS (
  SELECT m.event_type, m.up,
         (SELECT max(p.d) FROM mv p
          WHERE p.event_type = m.event_type AND p.d < m.d) AS pd
  FROM mv m
), runs AS (
  SELECT l.event_type,
         CAST(sum(CASE WHEN l.pd IS NULL THEN 1
                       WHEN l.up <> p.up THEN 1 ELSE 0 END) AS BIGINT)
           AS n_runs
  FROM lagged l LEFT JOIN mv p
    ON p.event_type = l.event_type AND p.d = l.pd
  GROUP BY 1
), cnt AS (
  SELECT event_type, CAST(sum(up) AS BIGINT) AS n_up,
         CAST(count(*) - sum(up) AS BIGINT) AS n_down
  FROM mv GROUP BY 1
)
SELECT c.event_type, c.n_up, c.n_down, r.n_runs,
       CAST(floor((1 + CAST(2 AS DOUBLE) * c.n_up * c.n_down / (c.n_up + c.n_down))
                  * 1000000 + 0.5) AS BIGINT) AS expected_runs_e6,
       CAST(floor(
         (r.n_runs - (1 + CAST(2 AS DOUBLE) * c.n_up * c.n_down / (c.n_up + c.n_down)))
         / sqrt(CAST(2 AS DOUBLE) * c.n_up * c.n_down
                * (CAST(2 AS DOUBLE) * c.n_up * c.n_down - c.n_up - c.n_down)
                / ((c.n_up + c.n_down) * (c.n_up + c.n_down)
                   * (c.n_up + c.n_down - 1))) * 1000000 + 0.5)
         AS BIGINT) AS z_e6
FROM cnt c JOIN runs r ON r.event_type = c.event_type
ORDER BY c.event_type
"""


# Kept port (keep-rule 2b, worse plan): the text adds a nested-loop join and a sort-merge join.
@_q("events_runs_test", _RUNS_SQL)
def events_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the up/down pattern of day-over-day
    daily counts per series (flat days dropped, the standard
    treatment): exact integer run and sign counts, expected runs
    1 + 2ab/(a+b) and the z statistic in one shared double tree
    (e6 rounding via floor(x*1e6 + 0.5) — small-count variances can be
    perfect squares, putting z*1e6 on an exact .5 where Spark rounds
    half-up and DuckDB half-to-even; floor is unambiguous in both).

    Scale: day-grain collapse + a d→d+1 lag self-join; the run-boundary
    count is a previous-move lookup join on the bounded move table —
    everything after the collapse is day-span work."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").cast("long").alias("x")
    )
    a, b = s.alias("a"), s.alias("b")
    mv = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") == F.date_add(F.col("a.d"), 1))
        & (F.col("b.x") != F.col("a.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.d").alias("d"),
        F.when(F.col("b.x") > F.col("a.x"), 1).otherwise(0).alias("up"),
    )
    wlag = W.partitionBy("event_type").orderBy("d")
    lagged = mv.withColumn("pup", F.lag("up").over(wlag))
    runs = lagged.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("pup").isNull() | (F.col("up") != F.col("pup")), 1)
            .otherwise(0)
        ).cast("long").alias("n_runs")
    )
    cnt = mv.groupBy("event_type").agg(
        F.sum("up").cast("long").alias("n_up"),
        (F.count("*") - F.sum("up")).cast("long").alias("n_down"),
    )
    return cnt.join(runs, "event_type").selectExpr(
        "event_type", "n_up", "n_down", "n_runs",
        "CAST(floor((1 + CAST(2 AS DOUBLE) * n_up * n_down / (n_up + n_down)) * 1000000"
        " + 0.5) AS BIGINT) AS expected_runs_e6",
        "CAST(floor((n_runs - (1 + CAST(2 AS DOUBLE) * n_up * n_down / (n_up + n_down)))"
        " / sqrt(CAST(2 AS DOUBLE) * n_up * n_down"
        " * (CAST(2 AS DOUBLE) * n_up * n_down - n_up - n_down)"
        " / ((n_up + n_down) * (n_up + n_down) * (n_up + n_down - 1)))"
        " * 1000000 + 0.5) AS BIGINT) AS z_e6",
    ).orderBy("event_type")
