"""Range join — first-class bounded time-range join, bucketized for scale.

The reference has NO first-class range/interval/as-of join: range predicates
ride as residual filters on hash or nested-loop joins
(``pm/sql/planner/plan/JoinNode.java`` — equi ``criteria`` + ``filter``;
SURVEY.md §2.3 row "Range/as-of/interval joins"). A naive
``JOIN ON key AND ts BETWEEN …`` in Spark becomes an equi-join on key with a
residual range filter — fine for small keys, quadratic within hot keys.

This module implements the scalable pattern: **bucketize the time axis** so
the range predicate becomes part of the equi-join key.

* left rows map to bucket ``floor(ts / W)``;
* right rows (matched when ``right_ts ∈ (left_ts, left_ts + W]``) are
  exploded to buckets ``{b, b-1}`` — every candidate pair shares exactly one
  (key, bucket) coordinate, so NO duplicate pairs are produced;
* one shuffle on ``(key, bucket)``; per-bucket candidate sets are bounded by
  bucket width, not key cardinality → no quadratic hot-key blowup at 100 TB.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..registry import family

QUERIES, ORACLE, _q = family()


def range_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Pairs (l, r) with same ``keys`` and ``r.right_ts ∈ (l.left_ts,
    l.left_ts + window_seconds]``. Output columns: left's + right's
    (caller should pre-alias to avoid collisions, keys kept once).

    Equi-join on (keys…, bucket) with an exact residual filter — the only
    shuffle is the co-partitioning join shuffle.
    """
    w_us = window_seconds * 1_000_000

    def bucket(ts: str) -> Column:
        return F.floor(F.unix_micros(F.col(ts)) / F.lit(w_us))

    # Explicit side aliases: both inputs often derive from the same scan
    # (self-range-join), where bare column refs are ambiguous.
    lb = left.withColumn("_rj_bucket", bucket(left_ts)).alias("_rj_l")
    rb = right.withColumn(
        "_rj_bucket", F.explode(F.array(bucket(right_ts), bucket(right_ts) - 1))
    ).alias("_rj_r")
    lcol = lambda c: F.col(f"_rj_l.{c}")  # noqa: E731
    rcol = lambda c: F.col(f"_rj_r.{c}")  # noqa: E731
    cond = [lcol(k) == rcol(k) for k in keys] + [lcol("_rj_bucket") == rcol("_rj_bucket")]
    exact = (F.unix_micros(rcol(right_ts)) > F.unix_micros(lcol(left_ts))) & (
        F.unix_micros(rcol(right_ts)) <= F.unix_micros(lcol(left_ts)) + w_us
    )
    out_cols = (
        [lcol(k).alias(k) for k in keys]
        + [lcol(c).alias(c) for c in left.columns if c not in keys]
        + [rcol(c).alias(c) for c in right.columns if c not in keys]
    )
    return lb.join(rb, reduce(lambda a, b: a & b, cond)).filter(exact).select(*out_cols)


@_q(
    "events_range_join",
    """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) AS delay_us
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution within 1 hour, per user — the canonical
    bounded range join. Oracle is the plain inequality join; the engine runs
    the bucketized plan (identical result set, shuffle-bounded)."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("buy_ts")
    )
    joined = range_join(clicks, buys, ["user_id"], "click_ts", "buy_ts", 3600)
    return joined.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.unix_micros("buy_ts") - F.unix_micros("click_ts")).alias("delay_us"),
    )


# Kept port (keep-rule 2d, helper coverage): range_join.
@_q(
    "events_interval_agg",
    """
SELECT c.user_id,
       CAST(count(p.event_id) AS BIGINT) AS n_attributed,
       round(coalesce(sum(p.value), 0), 6) AS attributed_value
FROM events c LEFT JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
GROUP BY c.user_id
""",
)
def events_interval_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user attributed-purchase rollup over the range join (LEFT variant:
    users whose clicks attribute nothing still appear with 0)."""
    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("buy_ts"),
        F.col("value").alias("buy_value"),
    )
    matched = range_join(clicks, buys, ["user_id"], "click_ts", "buy_ts", 3600)
    per_click = matched.groupBy("user_id", "click_id").agg(
        F.count("purchase_id").alias("n_p"), F.sum("buy_value").alias("v_p")
    )
    all_clicks = clicks.select("user_id", "click_id")
    filled = all_clicks.join(per_click, ["user_id", "click_id"], "left")
    return filled.groupBy("user_id").agg(
        F.coalesce(F.sum("n_p"), F.lit(0)).cast("long").alias("n_attributed"),
        F.round(F.coalesce(F.sum("v_p"), F.lit(0.0)), 6).alias("attributed_value"),
    )


def asof_join(
    probes: DataFrame,
    priors: DataFrame,
    keys: list[str],
    probe_ts: str,
    prior_ts: str,
    payload: list[str],
    strict: bool = True,
) -> DataFrame:
    """AS-OF join: attach to each probe row the LATEST prior row per key
    with ``prior_ts < probe_ts`` (``<=`` when ``strict=False``).

    The reference has no as-of join (SURVEY §2.3); the naive formulation is
    join-then-max_by — quadratic within hot keys. This is the linear
    union-sort-window form: tag both sides, ONE sort shuffle per key, carry
    the last-seen prior forward with IGNORE NULLS running windows.

    ``probes`` keeps all its columns; ``priors`` contributes ``prior_ts``
    and the ``payload`` columns (caller pre-aliases collisions away). Ties
    at equal prior_ts resolve to the row with the greatest payload tuple
    (deterministic). Probes with no qualifying prior are dropped (inner
    as-of semantics).
    """
    p = probes.withColumn("_asof_ts", F.col(probe_ts)).withColumn(
        "_is_probe", F.lit(1)
    )
    r = priors.select(
        *keys, F.col(prior_ts).alias("_asof_ts"), F.lit(0).alias("_is_probe"), *payload
    )
    # distinct internal names so probe columns never collide with payload
    r = r.select(
        *keys,
        "_asof_ts",
        "_is_probe",
        *[F.col(c).alias(f"_prior_{c}") for c in payload],
    )
    tagged = p.unionByName(r, allowMissingColumns=True)
    # strict: probes sort BEFORE priors at equal ts (prior not yet visible);
    # non-strict: priors first. Tie-break among priors = payload tuple order.
    probe_rank = F.desc("_is_probe") if strict else F.asc("_is_probe")
    w = (
        W.partitionBy(*keys)
        .orderBy("_asof_ts", probe_rank, *[f"_prior_{c}" for c in payload])
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # ONE struct carry: the whole prior row travels together, so NULLs in
    # individual payload values can never desync ts from payload.
    prior_struct = F.last(
        F.when(
            F.col("_is_probe") == 0,
            F.struct(
                F.col("_asof_ts").alias("ts"),
                *[F.col(f"_prior_{c}").alias(c) for c in payload],
            ),
        ),
        ignorenulls=True,
    ).over(w)
    out_cols = (
        [F.col(c) for c in probes.columns]
        + [F.col("_prior")[c].alias(c) for c in payload]
        + [F.col("_prior")["ts"].alias(prior_ts)]
    )
    return (
        tagged.withColumn("_prior", prior_struct)
        .filter((F.col("_is_probe") == 1) & F.col("_prior").isNotNull())
        .select(*out_cols)
    )


# --- nearest-direction as-of join --------------------------------------------

_ASOF_NEAREST_SQL = """
WITH p AS (
  SELECT event_id AS pid, user_id, epoch_us(ts) AS pm
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT event_id AS nid, user_id, epoch_us(ts) AS nm
  FROM events WHERE event_type = 'click'
), cand AS (
  SELECT p.pid, p.pm, c.nid, c.nm,
         abs(c.nm - p.pm) AS adt,
         CASE WHEN c.nm <= p.pm THEN 0 ELSE 1 END AS dir_rank
  FROM p JOIN c USING (user_id)
), best AS (
  SELECT pid, pm, nid, nm, dir_rank,
         row_number() OVER (PARTITION BY pid
                            ORDER BY adt, dir_rank, nid DESC) AS rn
  FROM cand
)
SELECT pid, nid, CAST(nm - pm AS BIGINT) AS dt_us,
       CASE WHEN dir_rank = 0 THEN 'B' ELSE 'F' END AS direction
FROM best WHERE rn = 1 ORDER BY pid
"""


@_q("join_asof_nearest", _ASOF_NEAREST_SQL)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (pandas ``merge_asof
    direction='nearest'``): each purchase attaches the click of the same
    user CLOSEST in time, in either direction — ties at equal distance
    prefer the backward match (dt = 0 counts as backward); ties at the
    same timestamp resolve to the greatest neighbor id (the same
    greatest-payload-tuple rule the backward `asof_join` documents, so
    both directions and the quadratic oracle agree bit-for-bit).

    Built as TWO linear union-sort as-of passes over the SAME machinery —
    backward non-strict on event-time micros, forward as backward on
    NEGATED micros (nearest-after in real time == nearest-before in
    reversed time; strict, so the equal-ts case is owned by exactly one
    side) — combined with a full outer join on the probe id and an
    integer distance comparison. The oracle is the naive quadratic
    argmin, which is exactly what this formulation avoids: per-key cost
    is sort-linear, never |probes|x|priors| within a hot user.

    100 TB: two sort shuffles on user_id (each the linear asof shape,
    bounded per-key state) + one probe-id equi-join of two narrow match
    tables; no window ever sees more than one user's history."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.unix_micros("ts").alias("pm"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("nid"),
        "user_id",
        F.unix_micros("ts").alias("cm"),
    )
    bk = asof_join(p, c, ["user_id"], "pm", "cm", ["nid"], strict=False).select(
        "pid", "pm",
        F.col("nid").alias("bk_nid"),
        F.col("cm").alias("bk_m"),
    )
    p2 = p.select("pid", "user_id", "pm", (-F.col("pm")).alias("npm"))
    c2 = c.select("nid", "user_id", (-F.col("cm")).alias("ncm"))
    fw = asof_join(p2, c2, ["user_id"], "npm", "ncm", ["nid"], strict=True).select(
        "pid",
        F.col("nid").alias("fw_nid"),
        (-F.col("ncm")).alias("fw_m"),
    )
    both = bk.join(fw, "pid", "full")
    pick_bk = F.col("fw_nid").isNull() | (
        F.col("bk_nid").isNotNull()
        & ((F.col("pm") - F.col("bk_m")) <= (F.col("fw_m") - F.col("pm")))
    )
    # pm rides the backward side; recover it from either side for
    # forward-only probes via the probe table
    both = both.join(p.select("pid", F.col("pm").alias("pm0")), "pid")
    return both.select(
        "pid",
        F.when(pick_bk, F.col("bk_nid")).otherwise(F.col("fw_nid")).alias("nid"),
        F.when(pick_bk, F.col("bk_m") - F.col("pm0"))
        .otherwise(F.col("fw_m") - F.col("pm0"))
        .cast("bigint")
        .alias("dt_us"),
        F.when(pick_bk, F.lit("B")).otherwise(F.lit("F")).alias("direction"),
    ).orderBy("pid")
