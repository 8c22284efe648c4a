"""Time-series / event-log operators over the ``events`` table.

The reference serves event tables with plain batch SQL (it has no streaming
runtime — SURVEY.md §2.10): window functions over timestamps. These queries
are the batch forms; :mod:`presto_db_spark.streaming` exposes the same
pipeline shapes on Structured Streaming as the scale-out path.

Scale notes: sessionization is a per-user window — shuffles once on
``user_id`` and stays partitioned for the gap/cumsum steps (one exchange in
the plan); tumbling buckets aggregate with partial combine before shuffle.

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table, small_df
from ..engine import sql_entry
from ..registry import family

QUERIES, ORACLE, _q = family()


# --- tumbling-window aggregation -------------------------------------------

sql_entry(
    _q, "events_tumbling",
    """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(round(value * 100)) / 100, 2) AS total_value,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)


# --- sessionization (30-min inactivity gap) --------------------------------

# Kept port (keep-rule 3, faster): it drops the text's running-sum window pass.
@_q(
    "events_sessionize",
    """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, event_id,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
)
SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id
""",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # micro-second exact gap compare (cast-to-seconds would truncate and
    # disagree with the oracle's INTERVAL comparison on sub-second gaps)
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > 1800 * 1_000_000,
            1,
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    # r07 rewrite: the per-user session COUNT is max(running sum of
    # new_session) == plain sum(new_session), so the oracle's second
    # window pass (the running sum) is algebraically unnecessary on the
    # Spark side — one lag window, then a hash agg that reuses the
    # window exchange's user_id partitioning (no second shuffle).  The
    # oracle keeps the literal two-window form, so the equivalence is
    # value-proven on every run.
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


# --- per-user running / moving aggregates ----------------------------------

sql_entry(
    _q, "events_moving",
    """
SELECT event_id, user_id,
       round(avg(round(value * 100)) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) / 100, 4) AS mov_avg,
       CAST(sum(round(value * 100)) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
FROM events WHERE user_id < 20
""",
)


# --- funnel: users who signup → purchase within 24h ------------------------

# Kept port (keep-rule 2d, helper coverage): rangejoin.range_join.
@_q(
    "events_funnel",
    """
SELECT CAST(count(DISTINCT s.user_id) AS BIGINT) AS converted_users
FROM events s JOIN events p
  ON s.user_id = p.user_id
 AND s.event_type = 'signup' AND p.event_type = 'purchase'
 AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 24 HOUR
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion within 24 h, routed through the bucketized
    ``range_join`` (rangejoin.py) rather than an equi-join on user_id with the
    window as a residual filter. The residual-filter form (what the reference
    runs: JoinNode equi ``criteria`` + ``filter``,
    pm/sql/planner/plan/JoinNode.java) is quadratic within hot users — a bot
    account with 1e5 signups and 1e5 purchases lands 1e10 candidate pairs on
    one reducer. Bucketizing the 24 h window into the join key bounds
    per-bucket candidates by bucket width, not user-key cardinality."""
    from .rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("sts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts")
    )
    joined = range_join(s, p, ["user_id"], "sts", "pts", 86400)
    return joined.agg(F.countDistinct("user_id").alias("converted_users"))


# --- pivot: event_type counts per user (top users) -------------------------

sql_entry(
    _q, "events_pivot",
    """
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS error
FROM events WHERE user_id < 50 GROUP BY user_id
""",
)


# --- as-of join: each error event matched to the user's latest prior event -

@_q(
    "events_asof",
    """
SELECT e.event_id,
       last(p.event_id ORDER BY p.ts, p.event_id) AS prior_event,
       max(p.ts) AS prior_ts
FROM events e JOIN events p
  ON e.user_id = p.user_id AND p.ts < e.ts
WHERE e.event_type = 'error' AND e.user_id < 30
GROUP BY e.event_id
""",
)
def events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (Presto lacks it as first-class — SURVEY.md §2.3 'range/
    as-of joins not supported') via the union-sort-window formulation:

    tag probes and priors, sort once per user (probes BEFORE priors at
    equal ts, so the match is strictly ``prior.ts < probe.ts``), and carry
    the last-seen prior forward with an IGNORE NULLS running window. ONE
    sort shuffle and linear work — the join-then-max_by alternative (the
    oracle) is quadratic within hot users at 100 TB.
    """
    from .rangejoin import asof_join

    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(
        (F.col("event_type") == "error") & (F.col("user_id") < 30)
    ).select("user_id", "ts", "event_id")
    priors = ev.select(
        "user_id",
        F.col("ts").alias("prior_ts"),
        F.col("event_id").alias("prior_event"),
    )
    return asof_join(
        probes, priors, ["user_id"], "ts", "prior_ts", ["prior_event"]
    ).select("event_id", "prior_event", "prior_ts")


# --- user-journey transition matrix ----------------------------------------

_TRANSITION_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events
)
SELECT event_type AS from_type, next_type AS to_type,
       CAST(count(*) AS BIGINT) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY event_type, next_type
ORDER BY from_type, to_type
"""


sql_entry(_q, "events_transition_matrix", _TRANSITION_SQL)


# --- hypertable-style gap-fill + LOCF rollup --------------------------------

_GAPFILL_SQL = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n, max(event_id) AS last_id
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id,
         CAST(unnest(generate_series(min(day), max(day), INTERVAL 1 DAY))
              AS DATE) AS day
  FROM daily GROUP BY user_id
)
SELECT s.user_id, s.day,
       coalesce(d.n, 0) AS n_events,
       d.n IS NULL AS is_gap,
       last_value(d.last_id IGNORE NULLS)
         OVER (PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS last_event_id_locf
FROM spans s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
"""


@_q("events_gapfill_locf", _GAPFILL_SQL)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous rollup: per-user DAILY buckets with the
    missing days materialized (``time_bucket_gapfill``) and the last
    observation carried forward across them (``locf``) — the
    TimescaleDB/InfluxDB shape the reference's plain SQL surface lacks.
    Gap rows report ``n_events = 0`` / ``is_gap = true`` and carry the
    most recent day's representative ``event_id`` forward via
    ``last_value(... IGNORE NULLS)``.

    100 TB: the raw scan collapses to narrow (user, day, n, last_id)
    rows FIRST (map-side combined groupBy — the only corpus-sized
    shuffle); the calendar explode is per-user bounded (span days, not
    events); the grid join and the LOCF window both run on the already
    user-partitioned daily rows, and AQE broadcasts the daily side when
    small. Nothing re-touches raw events after the first rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.max("event_id").alias("last_id"),
        )
    )
    spans = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
        )
    )
    filled = spans.join(daily, ["user_id", "day"], "left")
    w = (
        W.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return filled.select(
        "user_id",
        "day",
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.col("n").isNull().alias("is_gap"),
        F.last("last_id", ignorenulls=True).over(w).alias("last_event_id_locf"),
    )


# --- M4 downsampling (visualization-preserving reduction) -------------------

_M4_BUCKET_US = 6 * 3600 * 1_000_000  # 6-hour pixels over the 30-day fixture

# Total order inside a bucket: (ts, event_id) as one zero-padded string key
# (epoch micros fits 20 digits; event_id fits 20) — identical lexicographic
# ordering in both engines, so first/last picks can never diverge on ties.
_M4_SQL = f"""
SELECT user_id,
       CAST(epoch_us(ts) // {_M4_BUCKET_US} AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_points,
       round(min(value), 6) AS v_min,
       round(max(value), 6) AS v_max,
       round(arg_min(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                            || lpad(CAST(event_id AS VARCHAR), 20, '0')), 6)
         AS v_first,
       round(arg_max(value, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                            || lpad(CAST(event_id AS VARCHAR), 20, '0')), 6)
         AS v_last
FROM events
GROUP BY user_id, CAST(epoch_us(ts) // {_M4_BUCKET_US} AS BIGINT)
"""


@_q("events_downsample_m4", _M4_SQL)
def events_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling (Jugel et al., VLDB 2014 — the
    min/max/first/last-per-pixel-bucket reduction TimescaleDB and Grafana
    ship for lossless line-chart rendering): each (series, bucket) keeps
    exactly the four points a pixel-perfect plot needs.

    One aggregate — min/max are plain aggregates and first/last are
    ``min_by``/``max_by`` on a zero-padded (epoch-micros, event_id) string
    key, so the whole reduction combines map-side (partial aggregate)
    before the single (user_id, bucket) exchange; ties are impossible
    because event_id totalizes the key.  Spark plans this SortAggregate,
    not HashAggregate — the string-typed min_by buffer is not
    hash-mutable — which trades two local sorts for exact first/last
    determinism; the shuffle count and partial-combine property are
    identical (plan-gated in ``tests/test_plans.py``).

    100 TB: the canonical raw→rollup reduction — output is bounded by
    series × pixels regardless of input rate; no window, no sort, one
    shuffle of already-combined partials. The reference has no downsample
    surface (extension; its nearest shape is plain GROUP BY batch SQL)."""
    ev = load_table(spark, sf_dir, "events")
    ordkey = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    return (
        ev.withColumn("ordkey", ordkey)
        .groupBy(
            "user_id",
            # integer floor division — the double-division form would ride
            # through a float and risk last-ulp divergence vs the oracle's //
            F.expr(f"unix_micros(ts) div {_M4_BUCKET_US}").alias("bucket"),
        )
        .agg(
            F.count("*").alias("n_points"),
            F.round(F.min("value"), 6).alias("v_min"),
            F.round(F.max("value"), 6).alias("v_max"),
            F.round(F.min_by("value", F.col("ordkey")), 6).alias("v_first"),
            F.round(F.max_by("value", F.col("ordkey")), 6).alias("v_last"),
        )
    )


# --- CDC change-log apply (log -> snapshot) ----------------------------------

_CDC_SQL = """
WITH log AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 20, '0') AS ordkey
  FROM events
), folded AS (
  SELECT user_id,
         arg_max(op, ordkey) AS last_op,
         arg_max(value, ordkey) AS last_value,
         CAST(count(*) AS BIGINT) AS n_changes,
         CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
  FROM log GROUP BY user_id
)
SELECT user_id, round(last_value, 6) AS last_value, n_changes, n_deletes
FROM folded WHERE last_op <> 'D'
"""


@_q("cdc_apply_changes", _CDC_SQL)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-log application (the Debezium-log → table-snapshot fold
    every lakehouse ingestion runs; Delta's ``APPLY CHANGES`` / Iceberg
    upsert semantics): each record upserts its key with a new value, or
    deletes it — the snapshot is, per key, the LAST change's payload,
    with deleted keys absent.  The fixture log maps ``events`` rows to
    changes (``error`` → delete, anything else → upsert) ordered by the
    total (ts, event_id) key.

    One hash aggregate: ``max_by`` folds each key's latest (op, value)
    with map-side combine — no window, no per-key sort, no join.  The
    delete filter applies AFTER the fold, so a delete followed by a
    re-insert correctly survives (last op wins, exactly MERGE semantics).

    100 TB: cost ∝ log size with one shuffle of combined partials; state
    ∝ distinct keys.  The incremental form against a stored snapshot is
    ``scd2_merge_apply``'s broadcast anti/semi split; the streaming form
    is ``streaming/pipeline.py``'s stateful dedup."""
    ev = load_table(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "value",
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 20, "0"),
        ).alias("ordkey"),
    )
    folded = log.groupBy("user_id").agg(
        F.max_by("op", F.col("ordkey")).alias("last_op"),
        F.max_by("value", F.col("ordkey")).alias("last_value"),
        F.count("*").alias("n_changes"),
        F.sum(F.when(F.col("op") == "D", 1).otherwise(0))
        .cast("bigint")
        .alias("n_deletes"),
    )
    return folded.filter(F.col("last_op") != "D").select(
        "user_id",
        F.round("last_value", 6).alias("last_value"),
        "n_changes",
        "n_deletes",
    )


# --- snapshot diff (time-travel table_changes) --------------------------------

_SNAP_CUTOFF = "2024-01-16"  # mid-point of the 30-day fixture window

_SNAP_ONE = """
  SELECT user_id,
         arg_max(op, ordkey) AS last_op,
         arg_max(value, ordkey) AS last_value
  FROM (
    SELECT user_id,
           CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
           value,
           lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
             || lpad(CAST(event_id AS VARCHAR), 20, '0') AS ordkey
    FROM events {where}
  ) GROUP BY user_id
"""

_SNAP_DIFF_SQL = f"""
WITH s1 AS (
  SELECT user_id, round(last_value, 6) AS v FROM ({_SNAP_ONE.format(
      where=f"WHERE ts < TIMESTAMP '{_SNAP_CUTOFF}'")})
  WHERE last_op <> 'D'
), s2 AS (
  SELECT user_id, round(last_value, 6) AS v FROM ({_SNAP_ONE.format(where="")})
  WHERE last_op <> 'D'
)
SELECT CASE WHEN s1.user_id IS NULL THEN 'insert'
            WHEN s2.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       coalesce(s1.user_id, s2.user_id) AS user_id,
       s1.v AS value_before, s2.v AS value_after
FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
WHERE s1.user_id IS NULL OR s2.user_id IS NULL OR s1.v <> s2.v
"""


@_q("cdc_snapshot_diff", _SNAP_DIFF_SQL)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — Delta's ``table_changes`` / Iceberg's changelog
    view between two time-travel points: fold the change log up to the
    cutoff (snapshot 1) and up to now (snapshot 2) with the
    ``cdc_apply_changes`` semantics, then emit per-key inserts (absent →
    present), deletes (present → absent, i.e. the key's last op became a
    delete), and updates (value changed) from one FULL OUTER join.

    100 TB: each snapshot is the one-groupBy CDC fold (in production the
    older one is the stored table, not recomputed); the diff joins two
    key-narrow frames hash-partitioned on the SAME key, so the second
    exchange is partitioning-compatible; output ∝ churn, not table size."""
    ev = load_table(spark, sf_dir, "events")

    def snapshot(src: DataFrame) -> DataFrame:
        log = src.select(
            "user_id",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "value",
            F.concat(
                F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
                F.lpad(F.col("event_id").cast("string"), 20, "0"),
            ).alias("ordkey"),
        )
        return (
            log.groupBy("user_id")
            .agg(
                F.max_by("op", F.col("ordkey")).alias("last_op"),
                F.max_by("value", F.col("ordkey")).alias("last_value"),
            )
            .filter(F.col("last_op") != "D")
            .select("user_id", F.round("last_value", 6).alias("v"))
        )

    s1 = snapshot(ev.filter(F.col("ts") < F.lit(_SNAP_CUTOFF).cast("timestamp")))
    s2 = snapshot(ev)
    j = s1.alias("s1").join(
        s2.alias("s2"), F.col("s1.user_id") == F.col("s2.user_id"), "full_outer"
    )
    return j.filter(
        F.col("s1.user_id").isNull()
        | F.col("s2.user_id").isNull()
        | (F.col("s1.v") != F.col("s2.v"))
    ).select(
        F.when(F.col("s1.user_id").isNull(), F.lit("insert"))
        .when(F.col("s2.user_id").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
        .alias("change_type"),
        F.coalesce("s1.user_id", "s2.user_id").alias("user_id"),
        F.col("s1.v").alias("value_before"),
        F.col("s2.v").alias("value_after"),
    )


# --- multi-step window funnel -------------------------------------------------

_FUNNEL3_SQL = """
WITH s AS (
  SELECT user_id, min(ts) AS s_ts FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM events e JOIN s ON s.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND e.ts > s.s_ts AND e.ts <= s.s_ts + INTERVAL 24 HOUR
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 24 HOUR
  GROUP BY e.user_id
)
SELECT s.user_id,
       CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                 WHEN c.user_id IS NOT NULL THEN 2
                 ELSE 1 END AS INTEGER) AS step_reached,
       s.s_ts, c.c_ts, p.p_ts
FROM s LEFT JOIN c ON c.user_id = s.user_id
       LEFT JOIN p ON p.user_id = s.user_id
"""


sql_entry(_q, "events_windowfunnel", _FUNNEL3_SQL)


# --- RFM quintile scoring -----------------------------------------------------

_RFM_ASOF = "2024-02-01"  # scoring date just past the fixture window

_RFM_SQL = f"""
WITH base AS (
  SELECT user_id,
         CAST(date_diff('day', CAST(max(ts) AS DATE), DATE '{_RFM_ASOF}')
              AS BIGINT) AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT user_id, recency_days, frequency, monetary_cents,
       CAST(ntile(5) OVER (ORDER BY recency_days ASC, user_id) AS INTEGER) AS r_score,
       CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS INTEGER) AS f_score,
       CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, user_id) AS INTEGER) AS m_score
FROM base
"""


sql_entry(_q, "events_rfm_scores", _RFM_SQL)


# Kept port (keep-rule 2b, worse plan): the text's ntile window runs on one partition.
@_q("events_rfm_scores_scalable", _RFM_SQL)
def events_rfm_scores_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale twin of ``events_rfm_scores`` (VERDICT r09 #3: the
    promised fallback, shipped as code): identical output — the oracle is
    the SAME ntile SQL — but each quintile is computed from a distributed
    exact global rank (``distrank.global_index``: range partition + local
    sort + broadcast prefix offsets) fed through the arithmetic ntile
    formula, so NO window anywhere orders the full customer table on one
    partition. Per metric the work is one range exchange + one pid hash
    exchange of narrow (user_id, metric) rows; the three score tables
    join back on user_id. At 10^9 customers on 1000 executors every
    stage stays partition-parallel — the only single-partition state is
    the #partitions-row offset table, same as any range sort's sampled
    boundaries."""
    from .distrank import global_index, ntile_expr

    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit(_RFM_ASOF).cast("date"), F.max("ts").cast("date")
            )
            .cast("bigint")
            .alias("recency_days"),
            F.count("*").alias("frequency"),
            F.sum(F.round(F.col("value") * 100).cast("bigint"))
            .cast("bigint")
            .alias("monetary_cents"),
        )
        # base fans into FOUR consumers (three rank branches + the join
        # spine); materialize the purchase groupBy once — the same
        # materialize-once rule global_index applies internally (r10
        # review finding: without it, four full event scans per run).
        .localCheckpoint(eager=False)
    )

    def score(metric: str, descending: bool, out: str) -> DataFrame:
        key = F.desc(metric) if descending else F.asc(metric)
        gi = global_index(
            base.select("user_id", metric), [key, F.asc("user_id")]
        )
        return gi.select(
            "user_id", ntile_expr("__rn", "__n_total", 5).alias(out)
        )

    return (
        base.join(score("recency_days", False, "r_score"), "user_id")
        .join(score("frequency", True, "f_score"), "user_id")
        .join(score("monetary_cents", True, "m_score"), "user_id")
        .select(
            "user_id",
            "recency_days",
            "frequency",
            "monetary_cents",
            "r_score",
            "f_score",
            "m_score",
        )
    )


# --- rolling z-score anomaly detection ---------------------------------------

_ZS_WIN = 20     # trailing window (events), excluding the current row
_ZS_MIN_N = 10   # minimum history before a flag can fire
_ZS_K = 3        # |value - mean| > K * sample-stddev

# Exact integer anomaly test (no sqrt, no float): with cents c, trailing
# sum S, sum-of-squares Q over n rows,
#   |c - S/n| > K * s,  s^2 = (n*Q - S^2) / (n*(n-1))
# <=>  (c*n - S)^2 * (n - 1) > K^2 * n * (n*Q - S^2)
# Every term stays far inside int64 for cents <= ~10^6 and n <= 20.
_ZS_SQL = f"""
WITH w AS (
  SELECT user_id, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         CAST(count(*) OVER win AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER win AS BIGINT) AS s,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) OVER win AS BIGINT) AS q
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN {_ZS_WIN} PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id, cents, n
FROM w
WHERE n >= {_ZS_MIN_N}
  AND (cents * n - s) * (cents * n - s) * (n - 1)
      > {_ZS_K * _ZS_K} * n * (n * q - s * s)
"""


sql_entry(_q, "events_anomaly_zscore", _ZS_SQL)


# --- JSON property rollup (json_extract over a REAL column) -------------------

_JSON_PROPS_SQL = """
SELECT event_type,
       CAST(CAST(props->>'$.k' AS BIGINT) // 10 AS BIGINT) AS k_decile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users
FROM events
GROUP BY event_type, CAST(CAST(props->>'$.k' AS BIGINT) // 10 AS BIGINT)
"""


@_q("events_json_props_rollup", _JSON_PROPS_SQL)
def events_json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction over a real column at corpus scale (the
    scalar corpus's ``func_json`` exercises the function surface on
    literals; this applies it where it runs at 100 TB — a JSONPath
    extract per row feeding a grouped rollup). ``get_json_object`` is a
    JVM codegen expression, so the parse rides the scan with no Python
    and the rollup map-side-combines; the deciled key keeps output
    bounded by (event_type x deciles) regardless of corpus size. The
    reference's JsonFunctions (pm/operator/scalar/JsonFunctions.java)
    run the same extract-then-aggregate shape.

    ADVICE r09: the decile key is FLOOR division (matching the DuckDB
    oracle's ``//``), not Spark ``div`` truncation — ``(k - pmod(k, 10))
    div 10`` is exact integer arithmetic (the numerator is an exact
    multiple of 10, so truncation == floor) and agrees for negative k
    too, closing the latent divergence the fixture's k in [0,99] hid."""
    ev = load_table(spark, sf_dir, "events")
    _k = "CAST(get_json_object(props, '$.k') AS BIGINT)"
    return ev.groupBy(
        "event_type",
        F.expr(f"({_k} - pmod({_k}, 10)) div 10").alias("k_decile"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.countDistinct("user_id").alias("users"),
    )


# --- multi-touch attribution (first / last / linear credit) ------------------

ATTR_WINDOW_S = 86400  # lookback: touches within 24 h before the conversion
ATTR_PPM = 1_000_000

_ATTR_SQL = f"""
WITH touches AS (
  SELECT user_id, ts AS tts, event_id AS tid, event_type AS channel
  FROM events WHERE event_type IN ('click', 'view')
), purch AS (
  SELECT user_id, ts AS pts, event_id AS pid
  FROM events WHERE event_type = 'purchase'
), joined AS (
  SELECT p.pid, t.channel, t.tts, t.tid
  FROM touches t JOIN purch p
    ON t.user_id = p.user_id
   AND p.pts > t.tts AND p.pts <= t.tts + INTERVAL {ATTR_WINDOW_S} SECOND
), ranked AS (
  SELECT pid, channel,
         row_number() OVER (PARTITION BY pid ORDER BY tts, tid) AS rn_a,
         row_number() OVER (PARTITION BY pid ORDER BY tts DESC, tid DESC) AS rn_d,
         count(*) OVER (PARTITION BY pid) AS n
  FROM joined
), credited AS (
  SELECT pid, channel,
         CASE WHEN rn_a = 1 THEN {ATTR_PPM} ELSE 0 END AS first_ppm,
         CASE WHEN rn_d = 1 THEN {ATTR_PPM} ELSE 0 END AS last_ppm,
         {ATTR_PPM} // n
           + (CASE WHEN rn_d = 1 THEN {ATTR_PPM} % n ELSE 0 END) AS linear_ppm
  FROM ranked
)
SELECT channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT pid) AS BIGINT) AS n_conversions,
       CAST(sum(first_ppm) AS BIGINT) AS first_ppm,
       CAST(sum(last_ppm) AS BIGINT) AS last_ppm,
       CAST(sum(linear_ppm) AS BIGINT) AS linear_ppm
FROM credited GROUP BY channel ORDER BY channel
"""


@_q("events_attribution", _ATTR_SQL)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution — the marketing-analytics staple: every
    purchase distributes conversion credit over the click/view touchpoints
    of the same user in the 24 h before it, under THREE models at once
    (first-touch, last-touch, linear), reported per channel in exact ppm.
    Linear credit is integer floor division with the remainder assigned
    to the last touch, so per-conversion credit sums to exactly
    {ppm} ppm — an auditable integer invariant (pinned in
    tests/test_events.py) instead of a float that almost sums to 1.

    Scale shape: the touch-to-conversion pairing routes through the
    bucketized ``range_join`` (same device as events_funnel — per-bucket
    candidates bounded by window width, never user-key cardinality, so a
    bot user cannot land quadratic pairs on one reducer); the credit
    ranking is ONE window shuffle keyed on the conversion id (both
    row_numbers and the count share the pid partitioning); the channel
    rollup is a map-side-combined aggregate over a channel-cardinality
    key. No Python, no float anywhere.""".format(ppm=ATTR_PPM)
    from .rangejoin import range_join

    ev = load_table(spark, sf_dir, "events")
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("channel"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    joined = range_join(touches, purch, ["user_id"], "tts", "pts", ATTR_WINDOW_S)

    wp = W.partitionBy("pid")
    ranked = joined.select("pid", "channel", "tts", "tid").select(
        "pid",
        "channel",
        F.row_number().over(wp.orderBy("tts", "tid")).alias("rn_a"),
        F.row_number().over(wp.orderBy(F.desc("tts"), F.desc("tid"))).alias("rn_d"),
        F.count("*").over(wp).alias("n"),
    )
    credited = ranked.select(
        "pid",
        "channel",
        F.when(F.col("rn_a") == 1, ATTR_PPM).otherwise(0).alias("first_ppm"),
        F.when(F.col("rn_d") == 1, ATTR_PPM).otherwise(0).alias("last_ppm"),
        (
            F.expr(f"{ATTR_PPM} div n")
            + F.when(F.col("rn_d") == 1, F.expr(f"{ATTR_PPM} % n")).otherwise(0)
        ).alias("linear_ppm"),
    )
    return (
        credited.groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.countDistinct("pid").cast("long").alias("n_conversions"),
            F.sum("first_ppm").cast("long").alias("first_ppm"),
            F.sum("last_ppm").cast("long").alias("last_ppm"),
            F.sum("linear_ppm").cast("long").alias("linear_ppm"),
        )
        .orderBy("channel")
    )


# --- DAU / MAU / stickiness --------------------------------------------------

MAU_DAYS = 30

_DAU_MAU_SQL = f"""
WITH activity AS (
  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), days AS (
  SELECT DISTINCT d FROM activity
), dau AS (
  SELECT d, CAST(count(DISTINCT user_id) AS BIGINT) AS dau FROM activity GROUP BY d
), contrib AS (
  SELECT a.d + CAST(i AS INTEGER) AS td, a.user_id
  FROM activity a, unnest(generate_series(0, {MAU_DAYS - 1})) t(i)
), mau AS (
  SELECT c.td AS d, CAST(count(DISTINCT c.user_id) AS BIGINT) AS mau
  FROM contrib c JOIN days ON days.d = c.td
  GROUP BY c.td
)
SELECT dau.d, dau.dau, mau.mau,
       CAST(dau.dau * 1000000 // mau.mau AS BIGINT) AS stickiness_ppm
FROM dau JOIN mau ON dau.d = mau.d
ORDER BY dau.d
"""


@_q("events_dau_mau", _DAU_MAU_SQL)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / MAU / stickiness (DAU÷MAU in exact ppm) per active day — the
    product-analytics vital sign. The rolling 30-day distinct-user count
    is NOT a windowed distinct (no engine does distinct-in-frame
    efficiently) and NOT a date-range theta join: each (day, user)
    activity row EXPLODES into the {m} forward days it contributes to,
    turning MAU into a plain countDistinct per target day — pure
    equi-aggregation.

    Scale shape: the (day, user) activity table is the corpus's distinct
    footprint (bounded by users x days, far below raw events, built with
    one map-side-combined distinct); the {m}x fan-out multiplies that
    FOOTPRINT, not the event stream; the day filter is a broadcast
    semi-join against the tiny date dimension; both rollups are
    map-side-combined aggregates keyed on date. No Python, no float —
    stickiness is integer cross-multiplied ppm.""".format(m=MAU_DAYS)
    ev = load_table(spark, sf_dir, "events")
    activity = ev.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = activity.select("d").distinct()
    dau = activity.groupBy("d").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    contrib = activity.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(MAU_DAYS - 1)),
                lambda i: F.date_add(F.col("d"), i),
            )
        ).alias("td"),
        "user_id",
    )
    mau = (
        contrib.join(F.broadcast(days), contrib["td"] == days["d"])
        .groupBy("td")
        .agg(F.countDistinct("user_id").cast("long").alias("mau"))
    )
    return (
        dau.join(mau, dau["d"] == mau["td"])
        .select(
            dau["d"],
            "dau",
            "mau",
            F.expr("dau * 1000000 div mau").cast("long").alias("stickiness_ppm"),
        )
        .orderBy("d")
    )

# --- CUSUM change-point detection --------------------------------------------

CUSUM_H_CENTS = 25_000  # alarm threshold: cumulative positive drift > 250.00

_CUSUM_SQL = f"""
WITH c AS (
  SELECT user_id, event_type, event_id, ts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), t AS (
  SELECT event_type, CAST(sum(cents) // count(*) AS BIGINT) AS tgt
  FROM c GROUP BY event_type
), s AS (
  SELECT c.user_id, c.event_type, c.ts, c.event_id,
         sum(c.cents - t.tgt) OVER (
           PARTITION BY c.user_id, c.event_type
           ORDER BY c.ts, c.event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
  FROM c JOIN t USING (event_type)
), cu AS (
  SELECT user_id, event_type,
         run - least(0, min(run) OVER (
           PARTITION BY user_id, event_type
           ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS cusum
  FROM s
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN cusum > {CUSUM_H_CENTS} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarm_rows,
       CAST(count(DISTINCT CASE WHEN cusum > {CUSUM_H_CENTS} THEN user_id END)
         AS BIGINT) AS n_users_alarmed,
       CAST(max(cusum) AS BIGINT) AS max_cusum_cents
FROM cu GROUP BY event_type ORDER BY event_type
"""


@_q("events_cusum_changepoint", _CUSUM_SQL)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM (cumulative-sum) positive-drift change-point detection per
    (user, event_type) stream — the classical sequential drift detector
    (Page 1954), complementing the bounded-window z-score anomaly op:
    z-score flags POINT outliers, CUSUM accumulates SUSTAINED small
    shifts above the per-type target until the cumulative excess crosses
    the decision threshold h.

    The recursive textbook form S_i = max(0, S_{i-1} + dev_i) is not a
    window function, but it has a closed form: S_i = run_i - min(0,
    min(run_j, j<=i)) where run is the plain cumulative sum of deviations
    (the 0 is the empty prefix — dropping it understates S whenever every
    prefix sum stays positive; identity replayed against the recursive
    form row-by-row in tests/test_events.py) — so the
    whole detector is TWO stacked unbounded-preceding windows over the
    SAME (user, type) partitioning and (ts, event_id) order: one shuffle
    total, O(1) state per row, no recursion, no Python. Deviations are
    exact integer cents against an integer floor-mean target (one
    broadcast 5-row aggregate), so the alarm boundary cannot drift by an
    ulp between engines.

    100 TB: partitions are (user, type) — high cardinality, bounded
    per-user history; both windows run in the one sorted pass; the
    rollup is a map-side-combined aggregate on event_type."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    t = c.groupBy("event_type").agg(
        F.expr("sum(cents) div count(*)").cast("bigint").alias("tgt")
    )
    w = (
        W.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    s = c.join(F.broadcast(t), "event_type").withColumn(
        "run", F.sum(F.col("cents") - F.col("tgt")).over(w)
    )
    cu = s.withColumn(
        "cusum", F.col("run") - F.least(F.lit(0), F.min("run").over(w))
    )
    alarm = F.col("cusum") > CUSUM_H_CENTS
    return (
        cu.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.when(alarm, 1).otherwise(0)).cast("long").alias("n_alarm_rows"),
            F.countDistinct(F.when(alarm, F.col("user_id")))
            .cast("long")
            .alias("n_users_alarmed"),
            F.max("cusum").cast("long").alias("max_cusum_cents"),
        )
        .orderBy("event_type")
    )


# --- path analysis (Sankey): top 3-step event paths ---------------------------

PATH_TOP_K = 15

_PATH_SQL = f"""
WITH seq AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events
), paths AS (
  SELECT e1 || '>' || e2 || '>' || e3 AS path,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
  GROUP BY 1
), ranked AS (
  SELECT path, n, n_users,
         row_number() OVER (ORDER BY n DESC, path) AS rk
  FROM paths
)
SELECT CAST(rk AS INTEGER) AS rk, path, n, n_users
FROM ranked WHERE rk <= {PATH_TOP_K} ORDER BY rk
"""


sql_entry(_q, "events_path_analysis", _PATH_SQL)


# --- incremental materialized-view maintenance --------------------------------

_MV_SQL = f"""
WITH log AS (
  SELECT user_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         value, ts,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 20, '0') AS ordkey
  FROM events
), folded AS (
  SELECT user_id, arg_max(op, ordkey) AS last_op,
         arg_max(value, ordkey) AS last_value
  FROM log GROUP BY user_id
), live AS (
  SELECT user_id, CAST(round(last_value * 100) AS BIGINT) AS cents
  FROM folded WHERE last_op <> 'D'
), aff AS (
  SELECT user_id % 10 AS cohort,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_affected
  FROM log WHERE ts >= TIMESTAMP '{{cutoff}}' GROUP BY 1
), mv AS (
  SELECT user_id % 10 AS cohort,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(cents) AS BIGINT) AS sum_cents
  FROM live GROUP BY 1
)
SELECT mv.cohort, mv.n_keys, mv.sum_cents,
       coalesce(aff.n_affected, 0) AS n_affected
FROM mv LEFT JOIN aff ON aff.cohort = mv.cohort
ORDER BY mv.cohort
""".format(cutoff=_SNAP_CUTOFF)


@_q("mv_incremental_refresh", _MV_SQL)
def mv_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic incremental materialized-view maintenance — the
    lakehouse feature every warehouse grows eventually (Delta Live
    Tables / Materialize-style delta application): a per-cohort
    (user_id % 10) aggregate MV over the CDC'd key space is brought
    up to date by APPLYING the delta window's net effect, never
    rescanning the base log. The ORACLE is the full recompute, so
    "incremental == recompute" is the value-checked claim itself.

    The algebra, per affected key (a key with any change in the delta):
    subtract its pre-delta live contribution (fetched via a broadcast
    semi-join of affected keys against the stored base snapshot — the
    scd2_merge_apply device), add its post-delta contribution. Because
    the split is by TIME, every delta ordkey sorts after every base
    ordkey, so each affected key's new version is the fold of the DELTA
    alone — the base fold is never re-read beyond the affected-key
    fetch. Counts and cent-sums are group-mergeable, so the MV update
    is a 10-row combine.

    100 TB: base_snap here is derived in-query for self-containedness;
    in deployment it IS the stored snapshot (one narrow read of affected
    keys via the broadcast semi-join); the delta fold shuffles only the
    delta window; the MV merge touches #cohorts rows. No Python; exact
    integer cents."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_SNAP_CUTOFF).cast("timestamp")

    def log_of(df: DataFrame) -> DataFrame:
        return df.select(
            "user_id",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            "value",
            F.concat(
                F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
                F.lpad(F.col("event_id").cast("string"), 20, "0"),
            ).alias("ordkey"),
        )

    def fold(log: DataFrame) -> DataFrame:
        return (
            log.groupBy("user_id")
            .agg(
                F.max_by("op", F.col("ordkey")).alias("last_op"),
                F.max_by("value", F.col("ordkey")).alias("last_value"),
            )
        )

    def live_cents(folded: DataFrame) -> DataFrame:
        return folded.filter(F.col("last_op") != "D").select(
            "user_id",
            F.round(F.col("last_value") * 100).cast("bigint").alias("cents"),
        )

    def mv_of(live: DataFrame, n_col: str, s_col: str) -> DataFrame:
        return live.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
            F.count("*").cast("long").alias(n_col),
            F.sum("cents").cast("long").alias(s_col),
        )

    base_snap = live_cents(fold(log_of(ev.filter(F.col("ts") < cutoff))))
    delta_log = log_of(ev.filter(F.col("ts") >= cutoff))

    mv_old = mv_of(base_snap, "n_old", "s_old")
    # affected keys + their NEW versions: the time split makes the delta
    # fold alone each affected key's final state (delta ordkeys all sort
    # after base ordkeys)
    delta_fold = fold(delta_log)
    aff_keys = delta_fold.select("user_id")
    n_aff = delta_fold.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.count("*").cast("long").alias("n_affected")
    )
    old_contrib = mv_of(
        base_snap.join(F.broadcast(aff_keys), "user_id", "leftsemi"),
        "n_sub", "s_sub",
    )
    new_contrib = mv_of(live_cents(delta_fold), "n_add", "s_add")

    merged = (
        mv_old.join(old_contrib, "cohort", "full")
        .join(new_contrib, "cohort", "full")
        .join(n_aff, "cohort", "full")
        .select(
            "cohort",
            (
                F.coalesce("n_old", F.lit(0))
                - F.coalesce("n_sub", F.lit(0))
                + F.coalesce("n_add", F.lit(0))
            ).cast("long").alias("n_keys"),
            (
                F.coalesce("s_old", F.lit(0))
                - F.coalesce("s_sub", F.lit(0))
                + F.coalesce("s_add", F.lit(0))
            ).cast("long").alias("sum_cents"),
            F.coalesce("n_affected", F.lit(0)).cast("long").alias("n_affected"),
        )
    )
    return merged.filter(F.col("n_keys") > 0).orderBy("cohort")


# --- A/B experiment readout with exact chi-square significance ---------------

CHI2_CRIT_E6 = 3_841_459  # chi-square df=1 critical value at alpha=0.05, e6

_AB_SQL = f"""
WITH users AS (
  SELECT user_id,
         CASE WHEN (CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 2))
                    AS INTEGER) % 2) = 0 THEN 'A' ELSE 'B' END AS variant,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
), cells AS (
  SELECT
    CAST(sum(CASE WHEN variant = 'A' AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN variant = 'A' AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN variant = 'B' AND converted = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN variant = 'B' AND converted = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM users
), stat AS (
  SELECT a, b, c, d,
    CAST((a + b + c + d) AS DECIMAL(38, 0))
      * CAST((a * d - b * c) AS DECIMAL(38, 0))
      * CAST((a * d - b * c) AS DECIMAL(38, 0)) AS num,
    CAST((a + b) AS DECIMAL(38, 0)) * CAST((c + d) AS DECIMAL(38, 0))
      * CAST((a + c) AS DECIMAL(38, 0)) * CAST((b + d) AS DECIMAL(38, 0)) AS den
  FROM cells
)
SELECT a, b, c, d,
       CAST(a * 1000000 // (a + b) AS BIGINT) AS cvr_a_ppm,
       CAST(c * 1000000 // (c + d) AS BIGINT) AS cvr_b_ppm,
       CASE WHEN den = 0 THEN 0.0
            ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) END AS chi2,
       (den > 0 AND num * 1000000 > CAST({CHI2_CRIT_E6} AS DECIMAL(38, 0)) * den)
         AS significant
FROM stat
"""


@_q("events_ab_chisq", _AB_SQL)
def events_ab_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users assign to variants by a deterministic
    md5 bucket (the standard hash-based experiment split — no RNG state,
    identical membership at any partitioning), conversion = any purchase
    event, and the 2x2 contingency table gets the chi-square test with an
    EXACT-INTEGER significance decision: chi2 > 3.841459 (df=1, α=0.05)
    is evaluated as ``N·(ad−bc)² · 10⁶ > crit_e6 · (a+b)(c+d)(a+c)(b+d)``
    in DECIMAL(38,0) cross-multiplication — the flag cannot flip on a
    float ulp in either engine (the reported chi2 value itself is one
    IEEE division of two exactly-agreed integers, rounded for display).
    A degenerate table (a margin of zero — e.g. every user converted, as
    the smallest fixture produces) reports chi2 = 0 / not significant
    rather than dividing by zero.

    Scale shape: per-user conversion fold is one map-side-combined
    groupBy; the 2x2 table is a global aggregate of four counters; the
    statistic is a 1-row projection. No Python."""
    ev = load_table(spark, sf_dir, "events")
    hexd = "0123456789abcdef"
    h = F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string")))
    byte0 = (
        (F.instr(F.lit(hexd), F.substring(h, 1, 1)) - 1) * 16
        + (F.instr(F.lit(hexd), F.substring(h, 2, 1)) - 1)
    )
    users = ev.groupBy(
        "user_id",
        F.when(byte0 % 2 == 0, "A").otherwise("B").alias("variant"),
    ).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        )
    )
    cells = users.agg(
        F.sum(F.when((F.col("variant") == "A") & (F.col("converted") == 1), 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when((F.col("variant") == "A") & (F.col("converted") == 0), 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when((F.col("variant") == "B") & (F.col("converted") == 1), 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when((F.col("variant") == "B") & (F.col("converted") == 0), 1).otherwise(0)).cast("long").alias("d"),
    )
    stat = cells.select(
        "a", "b", "c", "d",
        F.expr(
            "CAST(a + b + c + d AS DECIMAL(38,0))"
            " * CAST(a * d - b * c AS DECIMAL(38,0))"
            " * CAST(a * d - b * c AS DECIMAL(38,0))"
        ).alias("num"),
        F.expr(
            "CAST(a + b AS DECIMAL(38,0)) * CAST(c + d AS DECIMAL(38,0))"
            " * CAST(a + c AS DECIMAL(38,0)) * CAST(b + d AS DECIMAL(38,0))"
        ).alias("den"),
    )
    return stat.select(
        "a", "b", "c", "d",
        F.expr("a * 1000000 div (a + b)").cast("bigint").alias("cvr_a_ppm"),
        F.expr("c * 1000000 div (c + d)").cast("bigint").alias("cvr_b_ppm"),
        F.when(F.col("den") == 0, F.lit(0.0))
        .otherwise(
            F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6)
        )
        .alias("chi2"),
        F.expr(
            "den > 0 AND "
            f"num * 1000000 > CAST({CHI2_CRIT_E6} AS DECIMAL(38,0)) * den"
        ).alias("significant"),
    )


# --- seasonal-naive forecast backtest -----------------------------------------

_SEASONAL_SQL = """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(extract(hour FROM ts) AS INTEGER) AS h,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
), cut AS (
  SELECT max(d) AS test_day FROM c
), train AS (
  SELECT event_type, h,
         CAST(sum(cents) // count(*) AS BIGINT) AS fc_cents
  FROM c CROSS JOIN cut WHERE c.d < cut.test_day
  GROUP BY event_type, h
), test AS (
  SELECT c.event_type, c.h, c.cents
  FROM c CROSS JOIN cut WHERE c.d = cut.test_day
)
SELECT t.event_type,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(abs(t.cents - f.fc_cents)) // count(*) AS BIGINT) AS mae_cents,
       CAST(sum(t.cents - f.fc_cents) // count(*) AS BIGINT) AS bias_cents
FROM test t JOIN train f ON f.event_type = t.event_type AND f.h = t.h
GROUP BY t.event_type ORDER BY t.event_type
"""


@_q("events_seasonal_backtest", _SEASONAL_SQL)
def events_seasonal_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every forecasting
    pipeline must beat, evaluated the way production does it: train a
    per-(type, hour-of-day) profile on history, hold out the final day,
    report MAE and signed bias per type. All integer-exact: the profile
    is floor-mean cents, errors are integer differences, both floor-mean
    rollups divide exactly the same integers in both engines.

    Scale shape: the cutoff is a 1-row broadcast max; the profile is one
    map-side-combined groupBy on (type, hour) — |types|x24 rows,
    broadcast to the held-out day's join; the readout is a
    type-cardinality aggregate. No window, no Python."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        F.hour("ts").alias("h"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    cut = c.agg(F.max("d").alias("test_day"))
    train = (
        c.crossJoin(F.broadcast(cut))
        .filter(F.col("d") < F.col("test_day"))
        .groupBy("event_type", "h")
        .agg(F.expr("sum(cents) div count(*)").cast("bigint").alias("fc_cents"))
    )
    test = (
        c.crossJoin(F.broadcast(cut))
        .filter(F.col("d") == F.col("test_day"))
        .select("event_type", "h", "cents")
    )
    return (
        test.join(F.broadcast(train), ["event_type", "h"])
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.expr("sum(abs(cents - fc_cents)) div count(*)")
            .cast("long")
            .alias("mae_cents"),
            F.expr("sum(cents - fc_cents) div count(*)")
            .cast("long")
            .alias("bias_cents"),
        )
        .orderBy("event_type")
    )


# --- row-pattern sequence match (MATCH_RECOGNIZE-shaped) ---------------------

# view → (later) click → (later) the FIRST purchase after that click, with
# no purchase allowed between the anchors.  Every match of this pattern
# necessarily ends at the first 'p' reachable from its start and cannot
# contain another 'p', so the match extents (and therefore the
# non-overlapping match COUNT) are engine-independent — Java regex
# (greedy+backtracking) and RE2 (leftmost-longest) agree by construction.
_SEQ_PATTERN = "v[^p]*c[^p]*p"

_SEQMATCH_SQL = f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS seq
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(seq) AS BIGINT) AS seq_len,
       CAST(len(regexp_extract_all(seq, '{_SEQ_PATTERN}')) AS BIGINT)
         AS n_matches,
       len(regexp_extract_all(seq, '{_SEQ_PATTERN}')) > 0 AS matched
FROM seqs ORDER BY user_id
"""


@_q("events_sequence_match", _SEQMATCH_SQL)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching over per-user event sequences — the
    MATCH_RECOGNIZE / ClickHouse-``sequenceMatch`` shape the reference's
    SQL surface lacks (Presto 0.236 has no row-pattern clause; its users
    emulate it with self-joins): encode each user's time-ordered event
    types as a 1-char-per-event string and run the pattern
    ``view →* click →* first-following-purchase`` as a regex, counting
    non-overlapping occurrences.  Differs from ``events_windowfunnel``
    (anchored step progression inside a time window) — this is free-gap
    ORDER matching with exclusion (``[^p]``) between anchors.

    Scale shape: ONE user_id exchange total — the sequence is built by a
    map-side-combinable collect (struct sort, not a window), bounded by
    per-user history exactly like `events_path_analysis`; the regex runs
    in codegen on the encoded string (no Python).  Match-count equality
    across engines is a property of the pattern (see _SEQ_PATTERN note),
    asserted by the oracle itself."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("ch"))
        .alias("s"),
    )
    seqs = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("s")), lambda s: s["ch"]),
            "",
        ).alias("seq")
    )
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("seq_len"),
        F.regexp_count(F.col("seq"), F.lit(_SEQ_PATTERN))
        .cast("long")
        .alias("n_matches"),
        (F.regexp_count(F.col("seq"), F.lit(_SEQ_PATTERN)) > 0).alias("matched"),
    ).orderBy("user_id")


# --- cross-user session-overlap interval join (bucket-blocked) --------------

_OVERLAP_SQL = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id < 40
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_id
  FROM flagged
), sessions AS (
  SELECT user_id, session_id,
         CAST(epoch_us(min(ts)) AS BIGINT) AS t0,
         CAST(epoch_us(max(ts)) AS BIGINT) AS t1
  FROM numbered GROUP BY user_id, session_id
)
SELECT a.user_id AS user_a, b.user_id AS user_b,
       CAST(count(*) AS BIGINT) AS n_overlaps
FROM sessions a JOIN sessions b
  ON a.user_id < b.user_id AND a.t0 <= b.t1 AND b.t0 <= a.t1
GROUP BY a.user_id, b.user_id
ORDER BY user_a, user_b
"""


@_q("events_interval_overlap", _OVERLAP_SQL)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user concurrent-session detection: for every user pair, the
    number of session-interval pairs that OVERLAP in time — the interval
    theta-join the reference's users write as ``a.t0 <= b.t1 AND b.t0 <=
    a.t1`` (a cartesian the optimizer cannot equi-fy), rewritten as a
    bucket-blocked equi join.

    Scale shape: sessions (one user_id window pass, the
    `events_sessionize` plan) explode into the HOUR buckets they span —
    fan-out bounded by session duration, never data size — and overlap
    candidates come from ONE bucket equi self-join: two intervals can
    only overlap if they share a covered hour, so the bucket join is a
    lossless candidate generator (the standard interval-blocking
    argument; Flink/interval-join and the DBToaster range-bucket device
    use the same decomposition).  The exact predicate verifies in
    codegen on candidates; shared-multi-bucket duplicates fall to one
    row via a distinct on the session-pair key BEFORE the count.  The
    quadratic theta join exists ONLY in the oracle.  At 100 TB the
    bucket width trades fan-out (long sessions → more buckets) against
    bucket occupancy (hot hours → bigger buckets) — both observable,
    neither |sessions|²."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_session",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
            > 1800 * 1_000_000,
            1,
        )
        .when(F.lag("ts").over(w).isNull(), 1)
        .otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    hour = 3600 * 1_000_000
    buckets = sessions.select(
        "user_id",
        "session_id",
        "t0",
        "t1",
        F.explode(
            F.sequence(
                (F.col("t0") / hour).cast("long"),
                (F.col("t1") / hour).cast("long"),
            )
        ).alias("bkt"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    pairs = (
        a.join(b, "bkt")
        .filter(
            (F.col("a.user_id") < F.col("b.user_id"))
            & (F.col("a.t0") <= F.col("b.t1"))
            & (F.col("b.t0") <= F.col("a.t1"))
        )
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("a.session_id").alias("sid_a"),
            F.col("b.user_id").alias("user_b"),
            F.col("b.session_id").alias("sid_b"),
        )
        .distinct()
    )
    return (
        pairs.groupBy("user_a", "user_b")
        .agg(F.count("*").cast("long").alias("n_overlaps"))
        .orderBy("user_a", "user_b")
    )


# --- event-type Markov transition matrix -------------------------------------

_MARKOV_SQL = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), trans AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
), totals AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n,
       CAST(t.n * 1000000 // tt.row_total AS BIGINT) AS p_micros
FROM trans t JOIN totals tt ON t.from_type = tt.from_type
ORDER BY t.from_type, t.to_type
"""


@_q("events_markov_transitions", _MARKOV_SQL)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the behavioral model behind next-action prediction and anomalous-flow
    detection: P(to | from) as exact integer micros (floor division — no
    float, engines agree bit-for-bit), estimated from every consecutive
    event pair within a user's timeline (never across users).

    Scale shape: ONE user_id window pass (the `events_sessionize`
    exchange — lag rides the same sort), then a map-side-combined
    groupBy on the (from, to) pair (|event_types|² rows at most — tiny
    at any corpus size) and a broadcast row-total join. The |types|²
    bound is what makes the MODEL table a safe broadcast even when the
    event stream is 100 TB — the opposite case from the vocabulary
    tables (`text_ngram_novelty`) where the key domain grows with
    data."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count("*").alias("n"))
    totals = trans.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        trans.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n"),
            F.expr("n * 1000000 div row_total").cast("long").alias("p_micros"),
        )
        .orderBy("from_type", "to_type")
    )


# --- cohort LTV curves --------------------------------------------------------

_COHORT_LTV_SQL = """
WITH firsts AS (
  SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS cohort_day
  FROM events GROUP BY user_id
), sizes AS (
  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
  FROM firsts GROUP BY cohort_day
), rev AS (
  SELECT f.cohort_day,
         CAST(date_diff('day', f.cohort_day,
                        CAST(date_trunc('day', e.ts) AS DATE)) AS BIGINT)
           AS age_days,
         CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_buyers,
         CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
)
SELECT r.cohort_day, r.age_days, r.n_buyers, r.rev_cents,
       CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort_day ORDER BY r.age_days
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_rev_cents,
       CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort_day ORDER BY r.age_days
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            * 1000000 // s.cohort_size AS BIGINT) AS ltv_micros
FROM rev r JOIN sizes s ON r.cohort_day = s.cohort_day
ORDER BY r.cohort_day, r.age_days
"""


@_q("events_cohort_ltv", _COHORT_LTV_SQL)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves — the growth-analytics readout built
    on the same first-touch table as `events_retention`: users are
    cohorted by their first-active day, purchase revenue is bucketed by
    cohort age in days, and the running per-member LTV is carried as
    exact integer micro-cents (floor division — both engines agree
    bit-for-bit, no float in any decision).

    Scale shape: the firsts table is ONE map-side-combined groupBy on
    user_id; revenue re-keys the purchase subset by user_id for the
    firsts join (same exchange `events_retention` pays — at 100 TB this
    is the one unavoidable user-keyed shuffle, and AQE handles the
    power-user skew). Everything after the (cohort, age) groupBy is
    |days|² rows at most, so the cumulative window and the cohort-size
    join are driver-trivial at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("cohort_day")
    )
    sizes = firsts.groupBy("cohort_day").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.date_trunc("day", "ts").cast("date"), F.col("cohort_day"))
            .cast("long")
            .alias("age_days"),
        )
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_buyers"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("rev_cents"),
        )
    )
    w = W.partitionBy("cohort_day").orderBy("age_days").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = F.sum("rev_cents").over(w)
    return (
        rev.join(F.broadcast(sizes), "cohort_day")
        .select(
            "cohort_day",
            "age_days",
            "n_buyers",
            F.col("rev_cents").cast("long").alias("rev_cents"),
            cum.cast("long").alias("cum_rev_cents"),
            F.expr(
                "sum(rev_cents) over (partition by cohort_day order by age_days "
                "rows between unbounded preceding and current row) "
                "* 1000000 div cohort_size"
            ).cast("long").alias("ltv_micros"),
        )
        .orderBy("cohort_day", "age_days")
    )


# --- discrete-time survival / churn hazard table ------------------------------

# A user whose last event is >= this many days before the corpus horizon
# is an observed churn; later last-events are right-censored.
_SURV_CENSOR_DAYS = 7

_SURVIVAL_SQL = f"""
WITH life AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS f, CAST(max(ts) AS DATE) AS l
  FROM events GROUP BY user_id
), horizon AS (
  SELECT CAST(max(ts) AS DATE) AS gmax FROM events
), obs AS (
  SELECT CAST(date_diff('day', f, l) AS INTEGER) AS t,
         CASE WHEN date_diff('day', l, gmax) >= {_SURV_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS churned
  FROM life CROSS JOIN horizon
), per_t AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_t,
         CAST(sum(churned) AS BIGINT) AS churned,
         CAST(count(*) - sum(churned) AS BIGINT) AS censored
  FROM obs GROUP BY t
), km AS (
  SELECT t, churned, censored,
         CAST(sum(n_t) OVER (ORDER BY t DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS at_risk
  FROM per_t
)
SELECT t, at_risk, churned, censored,
       CAST(churned * 1000000 // at_risk AS BIGINT) AS hazard_ppm
FROM km ORDER BY t
"""


@_q("events_survival_hazard", _SURVIVAL_SQL)
def events_survival_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival analysis of user churn — the Kaplan-Meier
    life table over observed activity spans: lifetime t = days between a
    user's first and last event; a user is an observed churn if their
    last event precedes the corpus horizon by >= ``_SURV_CENSOR_DAYS``
    days, otherwise right-censored (still active; standard censoring
    construction).  Emits per lifetime day: the at-risk count (users with
    lifetime >= t), observed churns, censored exits, and the discrete
    hazard d_t/n_t in exact integer ppm — so both engines produce the
    identical table (float survival products would drift; hazards are
    pure integer ratios and the KM survival curve is recoverable as
    prod(1 - h_t) downstream).

    Scale shape: lifetimes are one map-side-combined groupBy on user_id;
    the horizon is a broadcast single row; the at-risk reverse-cumulative
    window runs AFTER aggregation to per-day rows — its input is bounded
    by the day span of the corpus (hundreds), not the user count, so the
    single-partition window is a constant-size post-aggregation pass
    (same device as the gapfill/retention family)."""
    ev = load_table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("f"), F.max("ts").cast("date").alias("l")
    )
    gmax = ev.agg(F.max("ts").cast("date").alias("gmax"))
    obs = life.crossJoin(F.broadcast(gmax)).select(
        F.datediff("l", "f").cast("int").alias("t"),
        F.when(
            F.datediff("gmax", "l") >= _SURV_CENSOR_DAYS, F.lit(1)
        ).otherwise(F.lit(0)).alias("churned"),
    )
    per_t = obs.groupBy("t").agg(
        F.count("*").cast("long").alias("n_t"),
        F.sum("churned").cast("long").alias("churned"),
        (F.count("*") - F.sum("churned")).cast("long").alias("censored"),
    )
    w = (
        W.orderBy(F.desc("t"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    km = per_t.select(
        "t",
        "churned",
        "censored",
        F.sum("n_t").over(w).cast("long").alias("at_risk"),
    )
    return km.select(
        "t",
        "at_risk",
        "churned",
        "censored",
        F.expr("churned * 1000000 div at_risk").cast("long").alias("hazard_ppm"),
    ).orderBy("t")


# --- time-decayed engagement score ---------------------------------------------

# Exponential decay with a 7-day half-life, exact: weight = 1e6 >> (age/7),
# i.e. floor(1e6 / 2^k) with k capped at 19 (weight 1 — the tail floor).
# Powers of two keep the decay EXACT integer in both engines; arbitrary-base
# exp() decay would hang the ranking on libm ulps.
_DECAY_HALFLIFE_DAYS = 7
_DECAY_MAX_K = 19
_DECAY_TOPK = 50

_DECAY_SQL = f"""
WITH horizon AS (
  SELECT CAST(max(ts) AS DATE) AS gmax FROM events
), w AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         least(date_diff('day', CAST(ts AS DATE), gmax)
               // {_DECAY_HALFLIFE_DAYS}, {_DECAY_MAX_K}) AS k
  FROM events CROSS JOIN horizon
), s AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(cents) AS BIGINT) AS raw_cents,
         CAST(sum(cents * (1000000 // (1 << k))) AS BIGINT) AS decayed_micro
  FROM w GROUP BY user_id
)
SELECT user_id, n_events, raw_cents, decayed_micro,
       CAST(row_number() OVER (ORDER BY decayed_micro DESC, user_id)
            AS INTEGER) AS rk
FROM s
QUALIFY rk <= {_DECAY_TOPK}
"""


@_q("events_decay_score", _DECAY_SQL)
def events_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement scoring — the recency-weighted user value
    every ranking/retention system keeps (exponentially decayed counters,
    Ries & friends): each event contributes ``cents * 2^-(age/halflife)``
    with a 7-day half-life.  The decay factor is the exact integer
    ``floor(1e6 / 2^k)`` (power-of-two halving buckets, k capped), so the
    ranking is bit-identical in both engines — an exp()-based decay would
    tie-break on libm ulps.  Emits the top-``{_DECAY_TOPK}`` users by
    decayed score with raw totals alongside (the recency-vs-volume
    contrast is the point of the metric).

    Scale shape: the horizon is a broadcast single row; the score is ONE
    map-side-combined groupBy on user_id (weights are per-row
    projections); the top-k is a TakeOrderedAndProject via the rank
    window on the aggregated (one row per user) table.  A streaming twin
    would fold the same integer weights in GroupState keyed by user with
    periodic rebasing."""
    ev = load_table(spark, sf_dir, "events")
    gmax = ev.agg(F.max("ts").cast("date").alias("gmax"))
    w = ev.crossJoin(F.broadcast(gmax)).select(
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.least(
            F.floor(
                F.datediff("gmax", F.col("ts").cast("date"))
                / _DECAY_HALFLIFE_DAYS
            ),
            F.lit(_DECAY_MAX_K),
        ).cast("int").alias("k"),
    )
    s = w.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("raw_cents"),
        F.sum(F.expr("cents * (1000000 div shiftleft(1, k))"))
        .cast("long")
        .alias("decayed_micro"),
    )
    wr = W.orderBy(F.desc("decayed_micro"), "user_id")
    return (
        s.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rk") <= _DECAY_TOPK)
    )


# --- period-over-period metric decomposition -----------------------------------

_CONTRIB_SQL = """
WITH bounds AS (
  SELECT CAST(min(ts) AS DATE) AS g0,
         CAST(min(ts) AS DATE)
           + (date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
              // 2) * INTERVAL 1 DAY AS mid
  FROM events
), e AS (
  SELECT event_type,
         CASE WHEN CAST(ts AS DATE) < mid THEN 1 ELSE 2 END AS p,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events CROSS JOIN bounds
), s AS (
  SELECT event_type,
         CAST(sum(CASE WHEN p = 1 THEN cents ELSE 0 END) AS BIGINT) AS p1_cents,
         CAST(sum(CASE WHEN p = 2 THEN cents ELSE 0 END) AS BIGINT) AS p2_cents
  FROM e GROUP BY event_type
), t AS (
  SELECT CAST(sum(abs(p2_cents - p1_cents)) AS BIGINT) AS total_abs FROM s
)
SELECT event_type, p1_cents, p2_cents,
       CAST(p2_cents - p1_cents AS BIGINT) AS delta_cents,
       CAST((p2_cents - p1_cents) * 10000 // p1_cents AS BIGINT) AS change_bp,
       CAST(abs(p2_cents - p1_cents) * 1000000 // total_abs AS BIGINT)
         AS share_ppm
FROM s CROSS JOIN t
ORDER BY event_type
"""


@_q("events_delta_contribution", _CONTRIB_SQL)
def events_delta_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period metric decomposition — the "why did revenue
    move" query every BI stack answers first: split the corpus at its
    midpoint day, sum exact cents per segment and period, and attribute
    the total movement to segments (delta, basis-point change, and each
    segment's share of the total ABSOLUTE movement in ppm — the
    abs-share denominator stays meaningful when deltas cancel).  All
    integer arithmetic (truncating division matches in both engines, a
    measured contract), so the attribution table is bit-identical.

    Scale shape: the bounds row is a broadcast single row; the
    per-(segment, period) fold is ONE map-side-combined groupBy (the
    period flag is a projection, not a second scan); everything after
    runs on |segments| rows.  Deeper drilldowns (region x type x week)
    change the group key, not the shape."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("g0"),
        F.expr(
            "date_add(CAST(min(ts) AS DATE),"
            " CAST(datediff(CAST(max(ts) AS DATE), CAST(min(ts) AS DATE))"
            " div 2 AS INT))"
        ).alias("mid"),
    )
    e = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.col("ts").cast("date") < F.col("mid"), 1).otherwise(2).alias("p"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    s = e.groupBy("event_type").agg(
        F.sum(F.when(F.col("p") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("p1_cents"),
        F.sum(F.when(F.col("p") == 2, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("p2_cents"),
    )
    t = s.agg(
        F.sum(F.abs(F.col("p2_cents") - F.col("p1_cents")))
        .cast("long")
        .alias("total_abs")
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "event_type",
            "p1_cents",
            "p2_cents",
            (F.col("p2_cents") - F.col("p1_cents")).cast("long").alias("delta_cents"),
            F.expr("(p2_cents - p1_cents) * 10000 div p1_cents")
            .cast("long")
            .alias("change_bp"),
            F.expr("abs(p2_cents - p1_cents) * 1000000 div total_abs")
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy("event_type")
    )


# --- growth accounting (new / retained / resurrected / churned) ----------------

_GROWTH_SQL = """
WITH uw AS (
  SELECT DISTINCT user_id,
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
              AS BIGINT) AS wk
  FROM events
), marked AS (
  SELECT user_id, wk,
         lag(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
  FROM uw
), states AS (
  SELECT wk,
         CAST(sum(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS new_users,
         CAST(sum(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS retained,
         CAST(sum(CASE WHEN prev_wk IS NOT NULL AND prev_wk < wk - 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
         CAST(count(*) AS BIGINT) AS active
  FROM marked GROUP BY wk
)
SELECT wk, new_users, retained, resurrected, active,
       CAST(coalesce(lag(active) OVER (ORDER BY wk), 0) - retained AS BIGINT)
         AS churned_from_prev
FROM states
ORDER BY wk
"""


@_q("events_growth_accounting", _GROWTH_SQL)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting (the Social Capital / a16z framework every
    consumer company reports): per week, decompose the active-user count
    into NEW (first-ever week), RETAINED (also active the prior week),
    RESURRECTED (returning after a gap), and CHURNED (prior week's
    actives who did not retain — by construction
    ``churned = active(w-1) − retained(w)``, the accounting identity the
    framework is named for).  All counts are exact integers from one
    distinct + one per-user lag, so both engines produce the identical
    table.

    Scale shape: the (user, week) distinct collapses map-side; the lag
    rides ONE user_id-partitioned window (the sessionize exchange); the
    weekly rollup is |weeks| rows, and the final churn lag runs on that
    bounded table (post-aggregation single-partition window, the
    survival-hazard device)."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
            / 7
        ).cast("long").alias("wk"),
    ).distinct()
    wlag = W.partitionBy("user_id").orderBy("wk")
    marked = uw.select(
        "user_id", "wk", F.lag("wk").over(wlag).alias("prev_wk")
    )
    states = marked.groupBy("wk").agg(
        F.sum(F.when(F.col("prev_wk").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
        F.sum(F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0))
        .cast("long")
        .alias("retained"),
        F.sum(
            F.when(
                F.col("prev_wk").isNotNull()
                & (F.col("prev_wk") < F.col("wk") - 1),
                1,
            ).otherwise(0)
        ).cast("long").alias("resurrected"),
        F.count("*").cast("long").alias("active"),
    )
    wk_w = W.orderBy("wk")
    return states.select(
        "wk",
        "new_users",
        "retained",
        "resurrected",
        "active",
        (F.coalesce(F.lag("active").over(wk_w), F.lit(0)) - F.col("retained"))
        .cast("long")
        .alias("churned_from_prev"),
    ).orderBy("wk")


# --- peak concurrency (interval sweep-line) ----------------------------------

_CONCURRENCY_MIN = 15  # each event occupies a half-open 15-minute interval

_PEAK_SQL = f"""
WITH pts AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL {_CONCURRENCY_MIN} MINUTE, -1 FROM events
), grp AS (
  SELECT event_type, t, delta, CAST(count(*) AS BIGINT) AS n
  FROM pts GROUP BY event_type, t, delta
), run AS (
  SELECT event_type,
         sum(delta * n) OVER (PARTITION BY event_type ORDER BY t, delta)
           AS live
  FROM grp
), tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals
  FROM events GROUP BY event_type
)
SELECT r.event_type,
       CAST(max(r.live) AS BIGINT) AS peak_concurrency,
       max(tot.n_intervals) AS n_intervals
FROM run r JOIN tot ON tot.event_type = r.event_type
GROUP BY r.event_type ORDER BY r.event_type
"""


sql_entry(_q, "events_peak_concurrency", _PEAK_SQL)


# --- autocorrelation of the daily activity series ----------------------------

_ACF_SQL = """
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
  FROM s GROUP BY event_type
), dev AS (
  SELECT s.event_type, m.n,
         m.n * s.x - m.sx AS dv,
         lead(m.n * s.x - m.sx, 1) OVER w AS dv1,
         lead(m.n * s.x - m.sx, 2) OVER w AS dv2,
         lead(m.n * s.x - m.sx, 3) OVER w AS dv3
  FROM s JOIN m ON m.event_type = s.event_type
  WINDOW w AS (PARTITION BY s.event_type ORDER BY s.d)
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_days,
       CAST(sum(dv * dv) AS BIGINT) AS den,
       CAST(sum(dv * dv1) * 1000000 // sum(dv * dv) AS BIGINT) AS acf1_ppm,
       CAST(sum(dv * dv2) * 1000000 // sum(dv * dv) AS BIGINT) AS acf2_ppm,
       CAST(sum(dv * dv3) * 1000000 // sum(dv * dv) AS BIGINT) AS acf3_ppm
FROM dev GROUP BY event_type ORDER BY event_type
"""


@_q("events_acf", _ACF_SQL)
def events_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation (lags 1-3) of each event type's daily-count
    series — the first diagnostic every forecasting pipeline runs
    (Box-Jenkins model identification; seasonal_backtest's upstream).

    Exact-integer contract: deviations are scaled by n (``n*x - sum_x``
    is an integer multiple of the true deviation), so numerator and
    denominator carry a common n^2 factor that CANCELS in the ratio —
    ppm values are bit-identical in both engines with zero float math.
    Lags are over successive observations of the sorted daily series
    (missing days collapse; gapfill_locf is the densifying primitive if
    calendar lags are wanted).

    Scale shape: the daily rollup collapses map-side; the lead() rides
    ONE window partitioned by event_type over |types| x |days| rows; the
    final fold is |types| rows.  Deviations ~ n*x so products fit BIGINT
    for series up to ~1e6 days x 1e6 events/day."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").cast("long").alias("x"))
    m = s.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("sx")
    )
    w = W.partitionBy("event_type").orderBy("d")
    dv = F.col("n") * F.col("x") - F.col("sx")
    dev = s.join(m, "event_type").select(
        "event_type",
        "n",
        dv.alias("dv"),
        F.lead(dv, 1).over(w).alias("dv1"),
        F.lead(dv, 2).over(w).alias("dv2"),
        F.lead(dv, 3).over(w).alias("dv3"),
    )
    den = F.sum(F.col("dv") * F.col("dv"))
    return (
        dev.groupBy("event_type")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            den.cast("long").alias("den"),
            F.expr("sum(dv * dv1) * 1000000 div sum(dv * dv)")
            .cast("long")
            .alias("acf1_ppm"),
            F.expr("sum(dv * dv2) * 1000000 div sum(dv * dv)")
            .cast("long")
            .alias("acf2_ppm"),
            F.expr("sum(dv * dv3) * 1000000 div sum(dv * dv)")
            .cast("long")
            .alias("acf3_ppm"),
        )
        .orderBy("event_type")
    )


# --- simple exponential smoothing (closed-form, exact dyadic weights) --------

_SES_WINDOW = 16  # smooth over the most recent K observations

_SES_SQL = f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), tail AS (
  SELECT event_type, d, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY d DESC) AS rd
  FROM s
), kept AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS k
  FROM tail WHERE rd <= {_SES_WINDOW}
)
SELECT event_type, CAST(max(k) AS BIGINT) AS n_obs,
       CAST(sum(cents * CASE WHEN i = 1 THEN 1
                             ELSE CAST(power(2, i - 2) AS BIGINT) END)
            AS BIGINT) AS level_num,
       CAST(max(k) - 1 AS BIGINT) AS scale_pow,
       CAST(sum(cents * CASE WHEN i = 1 THEN 1
                             ELSE CAST(power(2, i - 2) AS BIGINT) END)
            // CAST(power(2, max(k) - 1) AS BIGINT) AS BIGINT) AS level_cents
FROM kept GROUP BY event_type ORDER BY event_type
"""


@_q("events_ses_forecast", _SES_SQL)
def events_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing (alpha = 1/2) of each event type's
    daily-revenue series — the one-number forecast primitive (the
    h-step-ahead SES forecast IS the final level).  Warm start: the
    oldest kept observation seeds the level (s_1 = x_1), smoothing over
    the most recent {_SES_WINDOW} days.

    Exact-dyadic contract: with alpha = 1/2 the recurrence
    ``s_t = (x_t + s_(t-1)) / 2`` unrolls to
    ``s_n * 2^(n-1) = x_1 + sum_(i=2..n) 2^(i-2) * x_i`` — every weight
    is an exact power of two, so ``level_num`` is a pure-integer fold
    (bit-identical in both engines) and the recursion disappears into
    ONE groupBy; no UDF, no iteration, no float drift.  The
    {_SES_WINDOW}-row cutoff bounds the exponent (2^14 * cents fits
    BIGINT with 10^5 headroom).

    Scale shape: daily rollup collapses map-side; the two row_numbers
    ride per-type windows over tiny per-type series; the final fold is
    |types| rows."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"))
    tail_w = W.partitionBy("event_type").orderBy(F.col("d").desc())
    tail = s.select(
        "event_type", "d", "cents", F.row_number().over(tail_w).alias("rd")
    ).filter(F.col("rd") <= _SES_WINDOW)
    asc_w = W.partitionBy("event_type").orderBy("d")
    cnt_w = W.partitionBy("event_type")
    kept = tail.select(
        "event_type",
        "cents",
        F.row_number().over(asc_w).alias("i"),
        F.count("*").over(cnt_w).cast("long").alias("k"),
    )
    weight = F.when(F.col("i") == 1, F.lit(1).cast("long")).otherwise(
        F.pow(F.lit(2.0), F.col("i") - 2).cast("long")
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.max("k").cast("long").alias("n_obs"),
            F.sum(F.col("cents") * weight).cast("long").alias("level_num"),
            (F.max("k") - 1).cast("long").alias("scale_pow"),
            F.expr(
                "sum(cents * (CASE WHEN i = 1 THEN 1"
                " ELSE CAST(power(2, i - 2) AS BIGINT) END))"
                " div CAST(power(2, max(k) - 1) AS BIGINT)"
            )
            .cast("long")
            .alias("level_cents"),
        )
        .orderBy("event_type")
    )


# --- Holt linear-trend smoothing (unrolled exact dyadic recurrence) -----------

_HOLT_K = 8  # smooth the most recent K daily observations


def _holt_step_sql(prev: str, t: int) -> str:
    cl, cb = 1 << (2 * t - 1), 1 << (2 * t - 2)
    return f"""h{t} AS (
  SELECT p.event_type,
         CASE WHEN k.cents IS NULL THEN p.L
              ELSE {cl} * k.cents + 2 * p.L + 2 * p.B END AS L,
         CASE WHEN k.cents IS NULL THEN p.B
              ELSE {cb} * k.cents - p.L + 3 * p.B END AS B,
         CASE WHEN k.cents IS NULL THEN p.steps ELSE p.steps + 1 END AS steps
  FROM {prev} p LEFT JOIN kept k
    ON k.event_type = p.event_type AND k.i = {t}
)"""


_HOLT_SQL = (
    f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), tail AS (
  SELECT event_type, d, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY d DESC) AS rd
  FROM s
), kept AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS i
  FROM tail WHERE rd <= {_HOLT_K}
), h1 AS (
  SELECT event_type, CAST(4 * cents AS BIGINT) AS L, CAST(0 AS BIGINT) AS B,
         1 AS steps
  FROM kept WHERE i = 1
), """
    + ", ".join(_holt_step_sql(f"h{t - 1}", t) for t in range(2, _HOLT_K + 1))
    + f"""
SELECT event_type, CAST(steps AS BIGINT) AS n_obs,
       CAST(L AS BIGINT) AS level_num, CAST(B AS BIGINT) AS trend_num,
       CAST((L + B) // CAST(power(4, steps) AS BIGINT) AS BIGINT)
         AS forecast_cents
FROM h{_HOLT_K} ORDER BY event_type
"""
)


@_q("events_holt_linear", _HOLT_SQL)
def events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing (double exponential smoothing,
    alpha = beta = 1/2) of each event type's daily-revenue series, with
    the one-step-ahead forecast ``x̂ = level + trend``.

    Exact-dyadic contract (the SES device, extended to the COUPLED
    recurrence): scaling the state by 4^t turns
    ``l_t = (x_t + l_(t-1) + b_(t-1))/2``,
    ``b_t = (l_t − l_(t-1) + b_(t-1))/2`` into the integer recurrence
    ``L_t = 2^(2t-1)·x_t + 2L + 2B``, ``B_t = 2^(2t-2)·x_t − L + 3B`` —
    every state is a BIGINT, so the {_HOLT_K}-step smoother is pure
    integer algebra unrolled as {_HOLT_K - 1} chained CTEs in BOTH
    engines (no recursion, no floats, bit-identical).  Types with fewer
    than {_HOLT_K} observations freeze their state (LEFT JOIN carries it),
    and the per-type denominator 4^steps tracks the applied steps.

    Scale shape: the state table is |types| rows — each unrolled step is
    a broadcast-sized left join against the {_HOLT_K}-row-per-type kept
    slice; the only data-scale work is the daily rollup (map-side
    combined) and two per-type windows over tiny series."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"))
    tail_w = W.partitionBy("event_type").orderBy(F.col("d").desc())
    kept = (
        s.select(
            "event_type", "d", "cents", F.row_number().over(tail_w).alias("rd")
        )
        .filter(F.col("rd") <= _HOLT_K)
        .select(
            "event_type",
            "cents",
            F.row_number()
            .over(W.partitionBy("event_type").orderBy("d"))
            .alias("i"),
        )
        .localCheckpoint(eager=False)
    )
    state = kept.filter(F.col("i") == 1).select(
        "event_type",
        (4 * F.col("cents")).cast("long").alias("L"),
        F.lit(0).cast("long").alias("B"),
        F.lit(1).alias("steps"),
    )
    for t in range(2, _HOLT_K + 1):
        cl, cb = 1 << (2 * t - 1), 1 << (2 * t - 2)
        k = kept.filter(F.col("i") == t).select(
            "event_type", F.col("cents").alias("x")
        )
        state = (
            state.join(F.broadcast(k), "event_type", "left")
            .select(
                "event_type",
                F.when(
                    F.col("x").isNull(), F.col("L")
                ).otherwise(cl * F.col("x") + 2 * F.col("L") + 2 * F.col("B"))
                .cast("long")
                .alias("L"),
                F.when(
                    F.col("x").isNull(), F.col("B")
                ).otherwise(cb * F.col("x") - F.col("L") + 3 * F.col("B"))
                .cast("long")
                .alias("B"),
                F.when(F.col("x").isNull(), F.col("steps"))
                .otherwise(F.col("steps") + 1)
                .alias("steps"),
            )
        )
    return state.select(
        "event_type",
        F.col("steps").cast("long").alias("n_obs"),
        F.col("L").cast("long").alias("level_num"),
        F.col("B").cast("long").alias("trend_num"),
        F.expr("(L + B) div CAST(power(4, steps) AS BIGINT)")
        .cast("long")
        .alias("forecast_cents"),
    ).orderBy("event_type")


# --- exact distributed median of the view->purchase conversion lag -----------

_CONV_LAG_SQL = """
WITH v AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), p AS (
  SELECT e.user_id, v.t_view, min(e.ts) AS t_buy
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t_view
  GROUP BY e.user_id, v.t_view
), lag AS (
  SELECT user_id,
         CAST(epoch_us(t_buy) - epoch_us(t_view) AS BIGINT) AS lag_us
  FROM p
), r AS (
  SELECT lag_us,
         row_number() OVER (ORDER BY lag_us, user_id) AS rn,
         count(*) OVER () AS n
  FROM lag
)
SELECT CAST(max(n) AS BIGINT) AS n_converted,
       CAST(min(lag_us) AS BIGINT) AS min_lag_us,
       CAST(max(lag_us) AS BIGINT) AS max_lag_us,
       CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN lag_us ELSE 0 END)
            + sum(CASE WHEN rn = (n + 2) // 2 THEN lag_us ELSE 0 END)
            AS BIGINT) AS median_x2_us
FROM r
"""


@_q("events_conversion_lag_median", _CONV_LAG_SQL)
def events_conversion_lag_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed median of the first-view → first-purchase lag —
    the conversion-latency number every funnel dashboard quotes, with
    the median computed exactly (not approx_percentile) and WITHOUT a
    single-partition sort: ``distrank.global_index`` range-partitions
    the per-user lags and derives the two middle ranks from prefix
    offsets; ``median_x2 = lag[(n+1)/2] + lag[(n+2)/2]`` stays integer
    for both parities (halve downstream).

    Lags are exact integer MICROSECONDS (``unix_micros`` /
    ``epoch_us``), so the selected middle elements are bit-identical in
    both engines; the purchase must be STRICTLY after the user's first
    view (the funnel ordering rule events_funnel uses).

    Scale shape: two map-side-combined min-groupBys on user_id + one
    broadcast-joinable per-user table; the median machinery is the
    distributed-sort device (one range exchange over the |converted|
    rows, per-partition counts broadcast back) — the oracle's global
    row_number window is exactly what this avoids."""
    from .distrank import global_index

    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_buy"))
    )
    lag = p.select(
        "user_id",
        (F.unix_micros("t_buy") - F.unix_micros("t_view")).alias("lag_us"),
    )
    r = global_index(lag, [F.col("lag_us"), F.col("user_id")])
    m1 = F.expr("(__n_total + 1) div 2")
    m2 = F.expr("(__n_total + 2) div 2")
    return r.agg(
        F.max("__n_total").cast("long").alias("n_converted"),
        F.min("lag_us").cast("long").alias("min_lag_us"),
        F.max("lag_us").cast("long").alias("max_lag_us"),
        (
            F.sum(F.when(F.col("__rn") == m1, F.col("lag_us")).otherwise(0))
            + F.sum(F.when(F.col("__rn") == m2, F.col("lag_us")).otherwise(0))
        )
        .cast("long")
        .alias("median_x2_us"),
    )


# --- MAD-based robust outlier days ---------------------------------------------

_MAD_OUT_SQL = """
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), rx AS (
  SELECT event_type, d, x,
         row_number() OVER (PARTITION BY event_type ORDER BY x, d) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM s
), med AS (
  SELECT event_type,
         CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN x ELSE 0 END)
              + sum(CASE WHEN rn = (n + 2) // 2 THEN x ELSE 0 END)
              AS BIGINT) AS med2
  FROM rx GROUP BY event_type
), dev AS (
  SELECT s.event_type, s.d, s.x, m.med2,
         CAST(abs(2 * s.x - m.med2) AS BIGINT) AS dev2
  FROM s JOIN med m ON m.event_type = s.event_type
), rd AS (
  SELECT event_type, d, x, med2, dev2,
         row_number() OVER (PARTITION BY event_type ORDER BY dev2, d) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev
), mad AS (
  SELECT event_type,
         CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN dev2 ELSE 0 END)
              + sum(CASE WHEN rn = (n + 2) // 2 THEN dev2 ELSE 0 END)
              AS BIGINT) AS mad4
  FROM rd GROUP BY event_type
)
SELECT dv.event_type, dv.d, dv.x, dv.med2, dv.dev2, md.mad4
FROM dev dv JOIN mad md ON md.event_type = dv.event_type
WHERE 2 * dv.dev2 > 3 * md.mad4
ORDER BY dv.event_type, dv.d
"""


@_q("events_mad_outlier_days", _MAD_OUT_SQL)
def events_mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier days per event type by the median/MAD rule
    (|x − median| > 3·MAD) — the robust twin of events_anomaly_zscore:
    mean/stddev get dragged by the very outliers they're hunting, the
    median/MAD pair does not (50% breakdown point; Leys et al. 2013 is
    the standard citation for preferring it).

    Exact-integer contract: medians of integers are half-integers, so
    everything carries a power-of-two scale — ``med2 = x_(n+1)/2 +
    x_(n+2)/2`` (2× the median), ``dev2 = |2x − med2|`` (2× the
    deviation), ``mad4`` (4× the MAD), and the flag rule
    ``dev > 3·MAD ⟺ 2·dev2 > 3·mad4`` is a pure BIGINT comparison —
    no float crosses the gate in either engine.

    Scale shape: the daily rollup collapses map-side; both median
    selections ride event_type-partitioned windows over tiny per-type
    series (a single giant series upgrades to the global_index device
    events_conversion_lag_median demonstrates); output is only the
    flagged days."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").cast("long").alias("x"))
    cnt_w = W.partitionBy("event_type")
    rx = s.select(
        "event_type",
        "d",
        "x",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("x", "d"))
        .alias("rn"),
        F.count("*").over(cnt_w).alias("n"),
    )
    pick = lambda c: (  # noqa: E731
        F.sum(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col(c)).otherwise(0))
        + F.sum(F.when(F.col("rn") == F.expr("(n + 2) div 2"), F.col(c)).otherwise(0))
    )
    med = rx.groupBy("event_type").agg(pick("x").cast("long").alias("med2"))
    dev = s.join(med, "event_type").select(
        "event_type",
        "d",
        "x",
        "med2",
        F.abs(2 * F.col("x") - F.col("med2")).cast("long").alias("dev2"),
    )
    rd = dev.select(
        "event_type",
        "dev2",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("dev2", "d"))
        .alias("rn"),
        F.count("*").over(cnt_w).alias("n"),
    )
    mad = rd.groupBy("event_type").agg(pick("dev2").cast("long").alias("mad4"))
    return (
        dev.join(mad, "event_type")
        .filter(2 * F.col("dev2") > 3 * F.col("mad4"))
        .select("event_type", "d", "x", "med2", "dev2", "mad4")
        .orderBy("event_type", "d")
    )


# --- Benford first-digit deviation ---------------------------------------------

# round(1e6 * log10(1 + 1/d)) for d = 1..9 — fixed integer constants, so
# no engine ever evaluates a logarithm.
_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in enumerate(_BENFORD_PPM, start=1)
)

_BENFORD_SQL = f"""
WITH c AS (
  SELECT CAST(substring(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
                        1, 1) AS BIGINT) AS digit
  FROM events
), obs AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM c GROUP BY digit
), tot AS (
  SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs
)
SELECT o.digit, o.n_obs,
       CAST(o.n_obs * 1000000 // tot.n AS BIGINT) AS obs_ppm,
       CAST(CASE o.digit {_BENFORD_CASE} END AS BIGINT) AS benford_ppm,
       CAST(o.n_obs * 1000000 // tot.n
            - CASE o.digit {_BENFORD_CASE} END AS BIGINT) AS delta_ppm
FROM obs o CROSS JOIN tot ORDER BY o.digit
"""


@_q("events_benford_deviation", _BENFORD_SQL)
def events_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of the value column — the
    fraud/anomaly screen every forensic-accounting pipeline runs
    (fabricated amounts over-represent mid digits; organic
    multiplicative data follows log10(1 + 1/d)): per leading digit, the
    observed share vs the Benford expectation and the signed deviation,
    all in exact integer ppm.

    Determinism: the leading digit comes from the DECIMAL STRING of the
    exact integer cents (never floor(x/10^floor(log10 x)) — no
    logarithm anywhere), and the Benford expectations are fixed integer
    constants, so neither engine evaluates a single transcendental.

    Scale shape: one projection + one 9-group map-side-combined count;
    the total attaches as a single-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        F.substring(F.round(F.col("value") * 100).cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    obs = c.groupBy("digit").agg(F.count("*").cast("long").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("long").alias("n"))
    bppm = F.expr(
        "CASE digit " + _BENFORD_CASE + " END"
    ).cast("long")
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.expr("n_obs * 1000000 div n").cast("long").alias("obs_ppm"),
            bppm.alias("benford_ppm"),
            (F.expr("n_obs * 1000000 div n") - bppm)
            .cast("long")
            .alias("delta_ppm"),
        )
        .orderBy("digit")
    )


# --- pairwise audience overlap between event types ----------------------------

_AUDIENCE_SQL = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), sz AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_users FROM ut
  GROUP BY event_type
), inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_common
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT i.type_a, i.type_b, sa.n_users AS n_a, sb.n_users AS n_b, i.n_common,
       CAST(i.n_common * 1000000
            // (sa.n_users + sb.n_users - i.n_common) AS BIGINT)
         AS jaccard_ppm,
       CAST(i.n_common * 1000000
            // least(sa.n_users, sb.n_users) AS BIGINT) AS containment_ppm
FROM inter i
JOIN sz sa ON sa.event_type = i.type_a
JOIN sz sb ON sb.event_type = i.type_b
ORDER BY i.type_a, i.type_b
"""


@_q("events_audience_overlap", _AUDIENCE_SQL)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT pairwise audience overlap between event types — the
    ground-truth twin of sketch_theta_intersection's estimate: Jaccard
    and smaller-side containment of the user sets for every type pair,
    in exact integer ppm.  (The sketch path is what ships at 100 TB;
    this exact path is the eval harness that certifies it, the same
    measured-not-asserted pattern as dedup_minhash_recall.)

    Scale shape: the (user, type) distinct collapses map-side; the
    intersection self-join keys on user_id, and its output is bounded
    by |types|² pairs per user — with a bounded type vocabulary this is
    a constant fan-out, not a quadratic blowup (the same argument as
    the band join); the final table is |types|² rows."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct().localCheckpoint(
        eager=False
    )
    sz = ut.groupBy("event_type").agg(F.count("*").cast("long").alias("n_users"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_common",
            F.expr("n_common * 1000000 div (n_a + n_b - n_common)")
            .cast("long")
            .alias("jaccard_ppm"),
            F.expr("n_common * 1000000 div least(n_a, n_b)")
            .cast("long")
            .alias("containment_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


# --- SLO burn-rate alerting (multi-window multi-burn-rate) --------------------

_SLO_BUDGET_PPM = 250000  # error budget: 25% of events may be errors
_SLO_FAST_BURN = 2        # short-window burn multiple that pages
_SLO_SLOW_BURN = 1        # long-window burn multiple that must confirm

_SLO_SQL = f"""
WITH hr AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_err
  FROM events GROUP BY date_trunc('hour', ts)
), win AS (
  SELECT h, n_total, n_err,
         sum(n_total) OVER w6 AS t6, sum(n_err) OVER w6 AS e6
  FROM hr
  WINDOW w6 AS (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
)
SELECT h, n_total, n_err,
       CAST(n_err * 1000000 // n_total AS BIGINT) AS rate_1h_ppm,
       CAST(e6 * 1000000 // t6 AS BIGINT) AS rate_6h_ppm,
       (n_err * 1000000 > n_total * {_SLO_BUDGET_PPM} * {_SLO_FAST_BURN}
        AND e6 * 1000000 > t6 * {_SLO_BUDGET_PPM} * {_SLO_SLOW_BURN})
         AS page_alert
FROM win ORDER BY h
"""


@_q("events_slo_burn_alerts", _SLO_SQL)
def events_slo_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window multi-burn-rate SLO alerting (the Google SRE
    workbook rule every modern on-call pipeline implements): page only
    when the SHORT window burns the error budget at ≥{_SLO_FAST_BURN}×
    AND the LONG window confirms at ≥{_SLO_SLOW_BURN}× — fast detection
    without one-bad-minute flappiness.  Budget here:
    {_SLO_BUDGET_PPM} ppm of events may be 'error'.

    Exact-integer contract: burn comparisons are cross-multiplied
    (``n_err·10⁶ > n_total·budget·burn``) so no rate is ever
    materialized as a float; the emitted ppm rates are truncating
    divisions — the alert column and the rates are bit-identical.

    Scale shape: the hourly rollup collapses map-side to |hours| rows;
    the 6-hour trailing window is a ROWS frame over that BOUNDED table
    (post-aggregation window, the survival-hazard device — its
    single-partition-ness is over hours, not events; partition by
    service/tenant when the table carries one)."""
    ev = load_table(spark, sf_dir, "events")
    hr = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_err"),
    )
    w6 = W.orderBy("h").rowsBetween(-5, 0)
    win = hr.select(
        "h",
        "n_total",
        "n_err",
        F.sum("n_total").over(w6).alias("t6"),
        F.sum("n_err").over(w6).alias("e6"),
    )
    return win.select(
        "h",
        "n_total",
        "n_err",
        F.expr("n_err * 1000000 div n_total").cast("long").alias("rate_1h_ppm"),
        F.expr("e6 * 1000000 div t6").cast("long").alias("rate_6h_ppm"),
        (
            (F.col("n_err") * 1000000 > F.col("n_total") * _SLO_BUDGET_PPM * _SLO_FAST_BURN)
            & (F.col("e6") * 1000000 > F.col("t6") * _SLO_BUDGET_PPM * _SLO_SLOW_BURN)
        ).alias("page_alert"),
    ).orderBy("h")


# --- Holt-Winters additive seasonal smoothing (r11u wave) --------------------
# Completes the exact-dyadic forecasting trio (events_ses_forecast,
# events_holt_linear): triple exponential smoothing with period m=4
# (6-hour intraday slots), alpha = beta = gamma = 1/2, over each type's
# most recent 12 slot observations (3 full seasons). Scaling the state
# by 4^j per step keeps the COUPLED level/trend/seasonal recurrence in
# BIGINTs; seasonal slots update every m steps, so each slot's scale is
# a STATIC power of four known at unroll time.
#
# The two engines derive the result INDEPENDENTLY (the bigstar-CC
# pattern): the oracle runs the recurrence step by step as 8 chained
# CTEs, while the Spark side exploits linearity — every final state is
# an integer linear combination of x_1..x_12 whose coefficient vectors
# are computed exactly in Python at import time and folded as ONE
# conditional-CASE aggregate (zero joins, zero windows past the tail
# pick). Agreement is equality of two different algorithms.

_HW_M = 4          # season length (6-hour slots per day)
_HW_T = 12         # observations smoothed (3 full seasons)
_HW_DEN = 4 ** (_HW_T - 3)   # final L/B scale: 4^9
_HW_S1_MULT = 64   # 4^9 / 4^6 — slot-1 seasonal scale deficit at forecast


def _hw_step_consts(t: int) -> tuple[int, int, int]:
    """(cx, c, slot0) for step t in 5..12: L' = cx*x - c*s_slot + 2L + 2B;
    the seasonal slot read/written is (t-1) mod 4 (0-based)."""
    q = 4 ** (t - 4)
    cx = 2 * q
    c = cx // 4 if t <= 2 * _HW_M else cx // (4 ** (t - 7))
    return cx, c, (t - 1) % _HW_M


def _hw_coefs() -> tuple[list[int], list[int], list[list[int]]]:
    """Exact integer coefficient vectors (length 12) for the final
    scaled states L', B', s'_1..s'_4 — the recurrence run symbolically."""
    def vec(i=None):
        return [1 if j == i else 0 for j in range(_HW_T)]

    def lin(*pairs):
        out = [0] * _HW_T
        for k, v in pairs:
            for j in range(_HW_T):
                out[j] += k * v[j]
        return out

    L = lin((1, vec(0)), (1, vec(1)), (1, vec(2)), (1, vec(3)))
    B = [0] * _HW_T
    s = [lin((4, vec(i)), (-1, L)) for i in range(_HW_M)]
    for t in range(5, _HW_T + 1):
        cx, c, slot = _hw_step_consts(t)
        x = vec(t - 1)
        L_new = lin((cx, x), (-c, s[slot]), (2, L), (2, B))
        assert all(v % 2 == 0 for v in L_new)
        half = [v // 2 for v in L_new]
        B = lin((1, half), (-2, L), (2, B))
        s[slot] = lin((cx, x), (-1, half), (c, s[slot]))
        L = L_new
    return L, B, s


_HW_L, _HW_B, _HW_S = _hw_coefs()


def _hw_case(coefs: list[int]) -> str:
    """SUM(cents * CASE i ...) folding one coefficient vector."""
    arms = " ".join(
        f"WHEN {i + 1} THEN {k}" for i, k in enumerate(coefs) if k != 0
    ) or "WHEN 0 THEN 0"
    return f"sum(cents * (CASE i {arms} ELSE 0 END))"


_HW_TDIV = (
    "CASE WHEN ({num}) >= 0 THEN ({num}) {div} {den} "
    "ELSE -((-({num})) {div} {den}) END"
)


def _hw_oracle_sql() -> str:
    steps = []
    for t in range(5, _HW_T + 1):
        cx, c, slot = _hw_step_consts(t)
        sl = f"s{slot + 1}"
        lnew = f"({cx} * k.cents - {c} * p.{sl} + 2 * p.L + 2 * p.B)"
        scols = ", ".join(
            f"{cx} * k.cents - {lnew} // 2 + {c} * p.{sl} AS s{i + 1}"
            if i == slot else f"p.s{i + 1} AS s{i + 1}"
            for i in range(_HW_M)
        )
        steps.append(
            f"""h{t} AS (
  SELECT p.event_type, {lnew} AS L,
         {lnew} // 2 - 2 * p.L + 2 * p.B AS B,
         {scols}
  FROM h{t - 1} p JOIN kept k ON k.event_type = p.event_type AND k.i = {t}
)"""
        )
    fnum = f"L + B + {_HW_S1_MULT} * s1"
    return f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(extract(hour FROM ts) // 6 AS INTEGER) AS slot,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2, 3
), tail AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY d DESC, slot DESC) AS rd
  FROM s
), kept AS (
  SELECT event_type, cents, {_HW_T + 1} - rd AS i
  FROM tail WHERE rd <= {_HW_T}
), full_types AS (
  SELECT event_type FROM kept GROUP BY event_type HAVING count(*) = {_HW_T}
), h4 AS (
  SELECT k.event_type,
         sum(CASE WHEN i <= 4 THEN cents ELSE 0 END) AS L,
         CAST(0 AS BIGINT) AS B,
         4 * sum(CASE WHEN i = 1 THEN cents ELSE 0 END)
           - sum(CASE WHEN i <= 4 THEN cents ELSE 0 END) AS s1,
         4 * sum(CASE WHEN i = 2 THEN cents ELSE 0 END)
           - sum(CASE WHEN i <= 4 THEN cents ELSE 0 END) AS s2,
         4 * sum(CASE WHEN i = 3 THEN cents ELSE 0 END)
           - sum(CASE WHEN i <= 4 THEN cents ELSE 0 END) AS s3,
         4 * sum(CASE WHEN i = 4 THEN cents ELSE 0 END)
           - sum(CASE WHEN i <= 4 THEN cents ELSE 0 END) AS s4
  FROM kept k JOIN full_types f ON f.event_type = k.event_type
  GROUP BY k.event_type
), {", ".join(steps)}
SELECT event_type,
       CAST({_HW_T} AS BIGINT) AS n_obs,
       CAST({_HW_TDIV.format(num="L", den=_HW_DEN, div="//")} AS BIGINT)
         AS level_cents,
       CAST({_HW_TDIV.format(num="B * 1000", den=_HW_DEN, div="//")} AS BIGINT)
         AS trend_millicents,
       CAST({_HW_TDIV.format(num=fnum, den=_HW_DEN, div="//")} AS BIGINT)
         AS forecast_cents
FROM h{_HW_T} ORDER BY event_type
"""


@_q("events_holt_winters", _hw_oracle_sql())
def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive seasonal smoothing (alpha=beta=gamma=1/2,
    period 4 six-hour slots) of each type's slot-revenue series, with
    the one-step-ahead forecast L + B + S_(next slot).

    Exact-dyadic contract, third rung: scaling by 4^step keeps level,
    trend AND the four seasonal slots in BIGINTs — a seasonal slot
    updates exactly every 4 steps, so its scale is a static power of
    four and every cross-scale coefficient (2q/q_s) is a power of two
    known at unroll time. Types lacking a full 12-observation tail are
    excluded (both engines' HAVING count = 12 — no freeze path, unlike
    events_holt_linear, because frozen steps would make the seasonal
    scales data-dependent).

    Two INDEPENDENT derivations (the dedup_cluster_bigstar device): the
    oracle unrolls the recurrence as 8 chained CTEs; this side folds
    the closed LINEAR form — final states are integer linear
    combinations of x_1..x_12, coefficient vectors computed exactly in
    Python (_hw_coefs, property-tested against a Fraction recurrence)
    and evaluated as ONE conditional-CASE aggregate. Scale shape: the
    slot rollup is map-side combined; the tail pick is one bounded
    per-type window; the smoother itself is a single |types|-row
    aggregate — no joins, no iteration."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        (F.hour("ts") / 6).cast("int").alias("slot"),
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"))
    tail_w = W.partitionBy("event_type").orderBy(
        F.col("d").desc(), F.col("slot").desc()
    )
    kept = (
        s.select("event_type", "cents", F.row_number().over(tail_w).alias("rd"))
        .filter(F.col("rd") <= _HW_T)
        .select("event_type", "cents", (_HW_T + 1 - F.col("rd")).alias("i"))
    )
    fnum = (
        f"({_hw_case(_HW_L)}) + ({_hw_case(_HW_B)})"
        f" + {_HW_S1_MULT} * ({_hw_case(_HW_S[0])})"
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count("*").alias("__cnt"),
            F.lit(_HW_T).cast("long").alias("n_obs"),
            F.expr(
                _HW_TDIV.format(num=_hw_case(_HW_L), den=_HW_DEN, div="div")
            ).cast("long").alias("level_cents"),
            F.expr(
                _HW_TDIV.format(
                    num=f"({_hw_case(_HW_B)}) * 1000", den=_HW_DEN, div="div"
                )
            ).cast("long").alias("trend_millicents"),
            F.expr(
                _HW_TDIV.format(num=fnum, den=_HW_DEN, div="div")
            ).cast("long").alias("forecast_cents"),
        )
        .filter(F.col("__cnt") == _HW_T)
        .drop("__cnt")
        .orderBy("event_type")
    )


# --- lagged cross-correlation (r11w wave) ------------------------------------
# The cross-series twin of events_acf: does series X lead series Y?
# (clicks→purchases etc. — the lead-lag diagnostic behind conversion
# attribution windows and forecasting feature selection.) Same
# exact-integer device as ACF: deviations scaled by each series' own n
# (n·x − Σx), whose n_x·n_y factor carries through numerator and
# denominator and cancels in the ratio. Reported as SIGN-PRESERVING
# r²·sign in ppm (num·|num| / (denx·deny)) — Pearson needs a sqrt, but
# squaring the ratio first keeps every operation integer; the square
# loses no information once the sign is kept.

_XCORR_PAIRS = [
    ("click", "purchase"),
    ("view", "purchase"),
    ("signup", "click"),
]
_XCORR_MAXLAG = 3

_XCORR_PAIRS_SQL = ", ".join(f"('{x}', '{y}')" for x, y in _XCORR_PAIRS)
_XCORR_LAGS_SQL = ", ".join(f"({g})" for g in range(_XCORR_MAXLAG + 1))

_XCORR_SQL = f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
  FROM s GROUP BY event_type
), dev AS (
  SELECT s.event_type, s.d, m.n * s.x - m.sx AS dv
  FROM s JOIN m ON m.event_type = s.event_type
), grid AS (
  SELECT p.xt, p.yt, l.lag
  FROM (VALUES {_XCORR_PAIRS_SQL}) p(xt, yt)
  CROSS JOIN (VALUES {_XCORR_LAGS_SQL}) l(lag)
), joined AS (
  SELECT g.xt, g.yt, g.lag, dx.dv AS dvx, dy.dv AS dvy
  FROM grid g
  JOIN dev dx ON dx.event_type = g.xt
  JOIN dev dy ON dy.event_type = g.yt AND dy.d = dx.d + g.lag
)
SELECT xt AS lead_type, yt AS lag_type, CAST(lag AS BIGINT) AS lag_days,
       CAST(count(*) AS BIGINT) AS n_overlap,
       CAST(CASE WHEN sum(dvx * dvx) = 0 OR sum(dvy * dvy) = 0 THEN 0
            ELSE CAST(sum(dvx * dvy) AS HUGEINT)
                 * CAST(abs(sum(dvx * dvy)) AS HUGEINT) * 1000000
                 // (CAST(sum(dvx * dvx) AS HUGEINT)
                     * CAST(sum(dvy * dvy) AS HUGEINT))
            END AS BIGINT) AS r2_signed_ppm
FROM joined GROUP BY xt, yt, lag
ORDER BY lead_type, lag_type, lag_days
"""


@_q("events_cross_correlation", _XCORR_SQL)
def events_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation of daily count series for three fixed
    lead→lag type pairs, lags 0..{_XCORR_MAXLAG}: r²·sign(r) in exact
    integer ppm (the ACF n-scaled-deviation device; full-series means,
    overlap-windowed sums — the standard large-sample simplification,
    documented). Scale shape: the daily rollup collapses map-side to a
    |types|×|days| table; the lag alignment is an equi-join on (type,
    day+lag) over that bounded table with the 12-row pair×lag grid
    broadcast; one final grouped fold. No windows, no floats."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count("*").cast("long").alias("x"))
    m = s.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    dev = (
        s.join(m, "event_type")
        .select(
            "event_type", "d",
            (F.col("n") * F.col("x") - F.col("sx")).cast("long").alias("dv"),
        )
        .localCheckpoint(eager=False)
    )
    grid = small_df(
        spark,
        [(x, y, g) for x, y in _XCORR_PAIRS for g in range(_XCORR_MAXLAG + 1)],
        "xt string, yt string, lag int",
    )
    dx = dev.select(
        F.col("event_type").alias("dx_type"), F.col("d").alias("dx_d"),
        F.col("dv").alias("dvx"),
    )
    dy = dev.select(
        F.col("event_type").alias("dy_type"), F.col("d").alias("dy_d"),
        F.col("dv").alias("dvy"),
    )
    joined = (
        F.broadcast(grid)
        .join(dx, F.col("dx_type") == F.col("xt"))
        .join(
            dy,
            (F.col("dy_type") == F.col("yt"))
            & (F.col("dy_d") == F.expr("date_add(dx_d, lag)")),
        )
    )
    return (
        joined.groupBy("xt", "yt", "lag")
        .agg(
            F.count("*").cast("long").alias("n_overlap"),
            F.expr(
                "CAST(CASE WHEN sum(dvx * dvx) = 0 OR sum(dvy * dvy) = 0 THEN 0"
                " ELSE CAST(sum(dvx * dvy) AS DECIMAL(38,0))"
                "      * CAST(abs(sum(dvx * dvy)) AS DECIMAL(38,0)) * 1000000"
                "      div (CAST(sum(dvx * dvx) AS DECIMAL(38,0))"
                "           * CAST(sum(dvy * dvy) AS DECIMAL(38,0)))"
                " END AS BIGINT)"
            ).alias("r2_signed_ppm"),
        )
        .select(
            F.col("xt").alias("lead_type"),
            F.col("yt").alias("lag_type"),
            F.col("lag").cast("bigint").alias("lag_days"),
            "n_overlap",
            "r2_signed_ppm",
        )
        .orderBy("lead_type", "lag_type", "lag_days")
    )


events_cross_correlation.__doc__ = events_cross_correlation.__doc__.format(_XCORR_MAXLAG=_XCORR_MAXLAG)


# --- Holt-Winters hold-out backtest (r11z wave) ------------------------------
# The eval for events_holt_winters (the seasonal_backtest pattern): train
# the smoother on observations 1..12 of each type's last-13 window,
# forecast the held-out 13th slot, and score against BOTH the actual and
# the seasonal-naive baseline (same slot one season back, x_9) — the
# denominator that tells you whether the smoother earns its complexity.
# Both engines evaluate the SAME closed linear form (the coefficient
# vectors are the ones the recurrence-vs-closed-form gate already
# cross-validates), so this op is pure exact-integer arithmetic.

_HWBT_T = _HW_T + 1  # 13-observation window: train 12, hold out 1


def _hwbt_fc_sql() -> str:
    fnum = (
        f"({_hw_case(_HW_L)}) + ({_hw_case(_HW_B)})"
        f" + {_HW_S1_MULT} * ({_hw_case(_HW_S[0])})"
    )
    return _HW_TDIV.format(num=fnum, den=_HW_DEN, div="//")


_HWBT_SQL = f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(extract(hour FROM ts) // 6 AS INTEGER) AS slot,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2, 3
), tail AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY d DESC, slot DESC) AS rd
  FROM s
), kept AS (
  SELECT event_type, cents, {_HWBT_T + 1} - rd AS i
  FROM tail WHERE rd <= {_HWBT_T}
), full_types AS (
  SELECT event_type FROM kept GROUP BY event_type HAVING count(*) = {_HWBT_T}
), sc AS (
  SELECT k.event_type,
         CAST({_hwbt_fc_sql()} AS BIGINT) AS hw_fc,
         CAST(sum(CASE WHEN i = {_HWBT_T} THEN cents ELSE 0 END) AS BIGINT)
           AS actual,
         CAST(sum(CASE WHEN i = 9 THEN cents ELSE 0 END) AS BIGINT) AS naive_fc
  FROM kept k JOIN full_types f ON f.event_type = k.event_type
  GROUP BY k.event_type
)
SELECT event_type, actual, hw_fc AS hw_forecast, naive_fc AS naive_forecast,
       CAST(abs(hw_fc - actual) AS BIGINT) AS hw_abs_err,
       CAST(abs(naive_fc - actual) AS BIGINT) AS naive_abs_err,
       CAST(CASE WHEN actual = 0 THEN NULL
            ELSE abs(hw_fc - actual) * 1000000 // actual END AS BIGINT)
         AS hw_ape_ppm,
       CAST(CASE WHEN abs(naive_fc - actual) = 0 THEN NULL
            ELSE abs(hw_fc - actual) * 1000000 // abs(naive_fc - actual)
            END AS BIGINT) AS err_vs_naive_ppm
FROM sc ORDER BY event_type
"""


@_q("events_holt_winters_backtest", _HWBT_SQL)
def events_holt_winters_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hold-out accuracy for the Holt-Winters smoother: train on the 12
    observations preceding each type's LAST slot, forecast that slot
    with the exact closed linear form, and report absolute error, APE
    (ppm) and the error ratio against the seasonal-naive baseline
    (x_9 — same slot one season back). A ratio under 1e6 means the
    smoother beats naive; the number is MEASURED, not asserted (the
    sim_ann_recall contract applied to forecasting). Same shuffle shape
    as events_holt_winters: one slot rollup, one bounded tail window,
    one |types|-row aggregate — the i=13 hold-out and the i=9 naive
    pick ride the same conditional-CASE pass as the 12 training
    coefficients."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("d"),
        (F.hour("ts") / 6).cast("int").alias("slot"),
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"))
    tail_w = W.partitionBy("event_type").orderBy(
        F.col("d").desc(), F.col("slot").desc()
    )
    kept = (
        s.select("event_type", "cents", F.row_number().over(tail_w).alias("rd"))
        .filter(F.col("rd") <= _HWBT_T)
        .select("event_type", "cents", (_HWBT_T + 1 - F.col("rd")).alias("i"))
    )
    fnum = (
        f"({_hw_case(_HW_L)}) + ({_hw_case(_HW_B)})"
        f" + {_HW_S1_MULT} * ({_hw_case(_HW_S[0])})"
    )
    sc = (
        kept.groupBy("event_type")
        .agg(
            F.count("*").alias("__cnt"),
            F.expr(
                _HW_TDIV.format(num=fnum, den=_HW_DEN, div="div")
            ).cast("long").alias("hw_fc"),
            F.sum(F.when(F.col("i") == _HWBT_T, F.col("cents")).otherwise(0))
            .cast("long").alias("actual"),
            F.sum(F.when(F.col("i") == 9, F.col("cents")).otherwise(0))
            .cast("long").alias("naive_fc"),
        )
        .filter(F.col("__cnt") == _HWBT_T)
    )
    return sc.select(
        "event_type",
        "actual",
        F.col("hw_fc").alias("hw_forecast"),
        F.col("naive_fc").alias("naive_forecast"),
        F.expr("abs(hw_fc - actual)").cast("bigint").alias("hw_abs_err"),
        F.expr("abs(naive_fc - actual)").cast("bigint").alias("naive_abs_err"),
        F.expr(
            "CAST(CASE WHEN actual = 0 THEN NULL"
            " ELSE abs(hw_fc - actual) * 1000000 div actual END AS BIGINT)"
        ).alias("hw_ape_ppm"),
        F.expr(
            "CAST(CASE WHEN abs(naive_fc - actual) = 0 THEN NULL"
            " ELSE abs(hw_fc - actual) * 1000000 div abs(naive_fc - actual)"
            " END AS BIGINT)"
        ).alias("err_vs_naive_ppm"),
    ).orderBy("event_type")


# --- adstock transform (r11z wave) -------------------------------------------
# Geometric-decay carryover (the marketing-mix "adstock": today's effect
# = today's spend + half of yesterday's effect, λ=1/2): the recurrence
# A_t = x_t + A_(t-1)/2 closes to A_t = Σ x_i / 2^(t-i), so scaling by
# 2^t makes it ONE per-type cumulative window sum of x_i·2^i — the SES
# dyadic device as a row-wise TRANSFORM (every day's carried value, not
# just the final smoothed state).

_ADSTOCK_K = 16  # transform the most recent K daily observations

_ADSTOCK_SQL = f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('purchase', 'click')
  GROUP BY event_type, CAST(ts AS DATE)
), tail AS (
  SELECT event_type, d, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY d DESC) AS rd
  FROM s
), kept AS (
  SELECT event_type, d, cents, {_ADSTOCK_K + 1} - rd AS i
  FROM tail WHERE rd <= {_ADSTOCK_K}
), acc AS (
  SELECT event_type, d, cents, i,
         CAST(sum(cents * (CAST(1 AS BIGINT) << i))
              OVER (PARTITION BY event_type ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS num
  FROM kept
)
SELECT event_type, d AS day, CAST(i AS BIGINT) AS i, cents,
       CAST((num * 100) // (CAST(1 AS BIGINT) << i) AS BIGINT) AS adstock_centi
FROM acc ORDER BY event_type, i
"""


@_q("events_adstock_transform", _ADSTOCK_SQL)
def events_adstock_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adstock (geometric carryover, λ=1/2) of the purchase/click daily
    cents series over the last {_ADSTOCK_K} days per type: 2^t scaling
    turns the recurrence into a cumulative window sum of x_i·2^i, so
    every day's carried value is exact integer centi-cents (truncating)
    — no recursion, no floats, bit-identical in both engines. The 2^K
    coefficient bounds the window at K={_ADSTOCK_K} (BIGINT headroom
    ~2^63/2^16 cents); longer horizons re-base the exponent per block
    (the train_webdataset_index per-shard device). One per-type window
    over a bounded daily table."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    s = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents"))
    tail_w = W.partitionBy("event_type").orderBy(F.col("d").desc())
    kept = (
        s.select("event_type", "d", "cents", F.row_number().over(tail_w).alias("rd"))
        .filter(F.col("rd") <= _ADSTOCK_K)
        .select(
            "event_type", "d", "cents",
            (_ADSTOCK_K + 1 - F.col("rd")).alias("i"),
        )
    )
    acc_w = (
        W.partitionBy("event_type")
        .orderBy("i")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    acc = kept.withColumn(
        "num",
        F.sum(F.expr("cents * (CAST(1 AS BIGINT) << i)")).over(acc_w)
        .cast("long"),
    )
    return acc.select(
        "event_type",
        F.col("d").alias("day"),
        F.col("i").cast("bigint").alias("i"),
        "cents",
        F.expr("(num * 100) div (CAST(1 AS BIGINT) << i)").cast("bigint")
        .alias("adstock_centi"),
    ).orderBy("event_type", "i")


# --- as-of join with staleness tolerance (r12 second wave) --------------------

_ASOF_TOL_MIN = 15  # max staleness in minutes

_ASOF_TOL_SQL = f"""
SELECT e.event_id,
       last(p.event_id ORDER BY p.ts, p.event_id) AS prior_event,
       CAST(epoch_us(e.ts) - max(epoch_us(p.ts)) AS BIGINT) AS staleness_us
FROM events e LEFT JOIN events p
  ON p.user_id = e.user_id AND p.ts < e.ts
 AND p.ts >= e.ts - INTERVAL {_ASOF_TOL_MIN} MINUTES
WHERE e.event_type = 'error' AND e.user_id < 60
GROUP BY e.event_id, e.ts
ORDER BY e.event_id
"""


@_q("events_asof_tolerance", _ASOF_TOL_SQL)
def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with a STALENESS BOUND — the production variant of
    events_asof (kdb's ``wj``/pandas' ``merge_asof(tolerance=...)``):
    each error event gets the user's latest prior event ONLY if it is
    at most {tol} minutes old; older matches are nulled (a stale sensor
    reading is worse than no reading). LEFT semantics: probes with no
    in-tolerance prior survive with nulls.

    Shape: the same linear union-sort-window as asof_join (ONE sort
    exchange per key — never the quadratic join-then-max_by, which
    exists only in the oracle), then the tolerance applied as a
    projection on the matched timestamp and a left join back to the
    probe set to restore dropped probes. Staleness is exact integer
    epoch-microseconds on both engines."""
    from .rangejoin import asof_join

    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(
        (F.col("event_type") == "error") & (F.col("user_id") < 60)
    ).select("user_id", "ts", "event_id")
    priors = ev.select(
        "user_id",
        F.col("ts").alias("prior_ts"),
        F.col("event_id").alias("prior_event"),
    )
    matched = asof_join(
        probes, priors, ["user_id"], "ts", "prior_ts", ["prior_event"]
    ).select("event_id", "prior_event", "prior_ts")
    out = probes.join(matched, "event_id", "left")
    in_tol = F.col("prior_ts") >= F.col("ts") - F.expr(
        f"INTERVAL {_ASOF_TOL_MIN} MINUTES"
    )
    return out.select(
        "event_id",
        F.when(in_tol, F.col("prior_event")).alias("prior_event"),
        F.when(
            in_tol, F.unix_micros("ts") - F.unix_micros("prior_ts")
        ).cast("long").alias("staleness_us"),
    ).orderBy("event_id")


events_asof_tolerance.__doc__ = events_asof_tolerance.__doc__.format(
    tol=_ASOF_TOL_MIN
)


# --- Markov stationary distribution (r13) ---------------------------------------
# The long-run state occupancy of the per-user behavior chain — the
# quantity capacity planning and anomaly baselines actually consume
# (events_markov_transitions estimates P; this solves πP = π). Power
# iteration with the module's exact-integer contract: the matrix is the
# transitions op's p_e6 integers, each iteration is
# v'[j] = (Σ_i v[i]·p_e6[i][j]) div 1e6 — the numerator is an order-free
# BIGINT sum, the single truncating division happens once per state per
# round, so every engine and every partitioning walks the identical
# trajectory. Fixed 20 rounds (the 5-state fixture chain mixes in ~8;
# the tail rounds prove the fixed point: the emitted vector satisfies
# v = step(v) exactly at e6 resolution, which the final residual column
# witnesses).

MARKOV_PI_ITERS = 20

_PI_BASE_SQL = """seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
), trans AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
), totals AS (
  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_total
  FROM trans GROUP BY from_type
), p AS MATERIALIZED (
  SELECT t.from_type, t.to_type,
         CAST(t.n * 1000000 // tt.row_total AS BIGINT) AS p_e6
  FROM trans t JOIN totals tt ON t.from_type = tt.from_type
), states AS MATERIALIZED (
  SELECT from_type AS state FROM totals
), v0 AS MATERIALIZED (
  SELECT state,
         CAST(1000000 // (SELECT count(*) FROM states) AS BIGINT) AS v_e6
  FROM states
)"""


def _pi_step_sql(prev: str, out: str) -> str:
    return f"""{out} AS MATERIALIZED (
  SELECT s.state,
         CAST(COALESCE(sum(v.v_e6 * p.p_e6), 0) // 1000000 AS BIGINT) AS v_e6
  FROM states s
  LEFT JOIN p ON p.to_type = s.state
  LEFT JOIN {prev} v ON v.state = p.from_type
  GROUP BY s.state
)"""


_PI_SQL = (
    f"WITH {_PI_BASE_SQL}, "
    + ", ".join(
        _pi_step_sql(f"v{t}", f"v{t + 1}") for t in range(MARKOV_PI_ITERS)
    )
    + f"""
SELECT a.state, a.v_e6 AS stationary_e6,
       CAST(abs(a.v_e6 - b.v_e6) AS BIGINT) AS residual_e6
FROM v{MARKOV_PI_ITERS} a JOIN v{MARKOV_PI_ITERS - 1} b ON b.state = a.state
ORDER BY a.state
"""
)


@_q("events_markov_stationary", _PI_SQL)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain via
    {iters} exact-integer power-iteration rounds; residual_e6 is the
    per-state |v_T − v_(T−1)| witness (0 at the fixed point).

    Scale: the transition matrix estimate is ONE user-partitioned lag
    window + a count groupBy (the events_markov_transitions shape);
    every iteration after it runs on the K×K matrix and the K-row
    vector — bounded by the state vocabulary, independent of data size;
    zero driver traffic, zero floats."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("row_total")
    )
    p = (
        trans.join(totals, "from_type")
        .select(
            "from_type", "to_type",
            F.expr("n * 1000000 div row_total").cast("long").alias("p_e6"),
        )
        .localCheckpoint(eager=False)
    )
    states = totals.select(F.col("from_type").alias("state")).localCheckpoint(
        eager=False
    )
    k = states.count()  # K-bounded scalar (state vocabulary size)
    v = states.select(
        "state", F.lit(1000000 // k).cast("long").alias("v_e6")
    )
    prev = v
    for t in range(MARKOV_PI_ITERS):
        prev = v
        v = (
            states.join(
                p.join(
                    v.select(F.col("state").alias("from_type"), "v_e6"),
                    "from_type",
                ).select(F.col("to_type").alias("state"),
                         (F.col("v_e6") * F.col("p_e6")).alias("m")),
                "state",
                "left",
            )
            .groupBy("state")
            .agg(
                F.expr("CAST(coalesce(sum(m), 0) div 1000000 AS BIGINT)")
                .alias("v_e6")
            )
        )
        if t % 5 == 4:
            v = v.localCheckpoint(eager=False)
    return (
        v.join(
            prev.select(F.col("state"), F.col("v_e6").alias("pv")), "state"
        )
        .select(
            "state",
            F.col("v_e6").alias("stationary_e6"),
            F.abs(F.col("v_e6") - F.col("pv")).cast("long").alias("residual_e6"),
        )
        .orderBy("state")
    )


events_markov_stationary.__doc__ = events_markov_stationary.__doc__.format(
    iters=MARKOV_PI_ITERS
)


# --- UCB1 bandit replay (r13) ----------------------------------------------------
# Offline policy evaluation for the explore/exploit loop every
# data-collection pipeline eventually runs: replay UCB1 (Auer et al.
# 2002) over the daily per-arm reward history and report which arm the
# policy would have pulled each day and the regret against that day's
# best arm. Full-information replay (the policy sees every arm's
# history — the deterministic textbook trace, documented as such).
# Exact discipline: rewards are binary, means are integer micros, the
# exploration bonus sqrt(2·ln N / n) is computed from the e6-rounded ln
# of an exact integer (cross-engine parity verified) and e6-rounded per
# cell; untried arms are pulled first by name — the whole trajectory is
# integer-deterministic.

UCB_REWARD_CENTS = 5000  # reward = 1 iff the event's value > this

_UCB_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d, event_type AS arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN round(value * 100) > {UCB_REWARD_CENTS}
                       THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM events GROUP BY 1, 2
), grid AS (
  SELECT d, arm, COALESCE(n, 0) AS n, COALESCE(pos, 0) AS pos
  FROM (SELECT DISTINCT d FROM daily)
  CROSS JOIN (SELECT DISTINCT arm FROM daily)
  LEFT JOIN daily USING (d, arm)
), cum AS (
  SELECT d, arm, n, pos,
         COALESCE(sum(n) OVER (PARTITION BY arm ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cn,
         COALESCE(sum(pos) OVER (PARTITION BY arm ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cpos
  FROM grid
), scored AS (
  SELECT d, arm, n, pos, cn, cpos,
         CAST(sum(cn) OVER (PARTITION BY d) AS BIGINT) AS nprev,
         CASE WHEN n > 0 THEN pos * 1000000 // n ELSE 0 END AS day_mean_e6
  FROM cum
), ucb AS (
  SELECT d, arm, n, pos, cn, day_mean_e6,
         CASE WHEN cn > 0 THEN
           cpos * 1000000 // cn
           + CAST(round(sqrt(CAST(2 * round(ln(CAST(nprev AS DOUBLE))
                                  * 1000000) AS DOUBLE)
                             * 1000000 / cn)) AS BIGINT)
         END AS ucb_e6
  FROM scored
), ranked AS (
  SELECT d, arm, day_mean_e6, ucb_e6,
         row_number() OVER (PARTITION BY d
             ORDER BY (cn = 0) DESC, ucb_e6 DESC, arm) AS rr,
         max(day_mean_e6) OVER (PARTITION BY d) AS best_day_mean_e6
  FROM ucb
)
SELECT d, arm AS chosen_arm, CAST(ucb_e6 AS BIGINT) AS chosen_ucb_e6,
       CAST(day_mean_e6 AS BIGINT) AS chosen_day_mean_e6,
       CAST(best_day_mean_e6 AS BIGINT) AS best_day_mean_e6,
       CAST(best_day_mean_e6 - day_mean_e6 AS BIGINT) AS regret_e6
FROM ranked WHERE rr = 1 ORDER BY d
"""


@_q("events_bandit_ucb_replay", _UCB_SQL)
def events_bandit_ucb_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic UCB1 replay over the daily arm-reward grid: per
    day, the arm the policy pulls (untried arms first, then max
    mean + sqrt(2·ln N / n) in e6), its realized day mean, and the
    regret against the day's best arm.

    Scale: ONE (day, arm) collapse of the raw stream (map-side
    combinable); every window after it runs on the bounded
    day×arm grid (the module's day-grain contract) — partitioned by
    arm for the cumulative counts and by day for the pick."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("d"), F.col("event_type").alias("arm")
    ).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(F.round(F.col("value") * 100) > UCB_REWARD_CENTS, 1)
            .otherwise(0)
        ).cast("long").alias("pos"),
    )
    grid = (
        daily.select("d").distinct()
        .crossJoin(daily.select("arm").distinct())
        .join(daily, ["d", "arm"], "left")
        .select(
            "d", "arm",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
            F.coalesce("pos", F.lit(0)).cast("long").alias("pos"),
        )
    )
    wprev = (
        W.partitionBy("arm").orderBy("d")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    cum = grid.select(
        "d", "arm", "n", "pos",
        F.coalesce(F.sum("n").over(wprev), F.lit(0)).alias("cn"),
        F.coalesce(F.sum("pos").over(wprev), F.lit(0)).alias("cpos"),
    )
    scored = cum.select(
        "d", "arm", "n", "pos", "cn", "cpos",
        F.sum("cn").over(W.partitionBy("d")).cast("long").alias("nprev"),
        F.when(F.col("n") > 0, F.expr("pos * 1000000 div n"))
        .otherwise(F.lit(0)).alias("day_mean_e6"),
    )
    ucb = scored.select(
        "d", "arm", "cn", "day_mean_e6",
        F.when(
            F.col("cn") > 0,
            F.expr("cpos * 1000000 div cn")
            + F.round(
                F.sqrt(
                    (2 * F.round(F.log(F.col("nprev").cast("double"))
                                 * 1000000)).cast("double")
                    * 1000000 / F.col("cn")
                )
            ).cast("long"),
        ).alias("ucb_e6"),
    )
    wd = W.partitionBy("d").orderBy(
        (F.col("cn") == 0).desc(), F.col("ucb_e6").desc(), "arm"
    )
    ranked = ucb.select(
        "d", "arm", "day_mean_e6", "ucb_e6",
        F.row_number().over(wd).alias("rr"),
        F.max("day_mean_e6").over(W.partitionBy("d"))
        .alias("best_day_mean_e6"),
    )
    return (
        ranked.filter(F.col("rr") == 1)
        .select(
            "d",
            F.col("arm").alias("chosen_arm"),
            F.col("ucb_e6").cast("long").alias("chosen_ucb_e6"),
            F.col("day_mean_e6").cast("long").alias("chosen_day_mean_e6"),
            F.col("best_day_mean_e6").cast("long"),
            (F.col("best_day_mean_e6") - F.col("day_mean_e6"))
            .cast("long").alias("regret_e6"),
        )
        .orderBy("d")
    )


# --- Kaplan-Meier product-limit conversion curve (r13) -----------------------
# events_survival_hazard emits the life table and leaves the survival
# product "recoverable downstream"; this op IS that downstream: the
# exact product-limit curve S(t) = prod_{s<=t} (n_s - d_s)/n_s for
# time-to-first-purchase, with users censored at their last observed
# event day.  The running product is an IN-ORDER integer fold on an
# e9 scale: each day's factor multiplies then integer-divides, the
# identical sequence on both engines, so the curve is bit-exact.  Days
# are packed t*1e12 + d*1e6 + n into BIGINTs so the sorted fold list
# needs no struct ordering semantics (valid while n < 1e6 per shard —
# the day-grain life table, not raw users).

_KM_SQL = """
WITH ud AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'purchase'
                  THEN date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1
             END) AS tp,
         max(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) + 1) AS tc
  FROM events GROUP BY 1
), obs AS (
  SELECT CASE WHEN tp IS NOT NULL THEN tp ELSE tc END AS t,
         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS e
  FROM ud
), lt AS (
  SELECT t, CAST(sum(e) AS BIGINT) AS d,
         CAST(count(*) - sum(e) AS BIGINT) AS c
  FROM obs GROUP BY t
), nn AS (
  SELECT t, d, c,
         CAST((SELECT count(*) FROM obs)
           - coalesce(sum(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n
  FROM lt
), packed AS (
  SELECT list_sort(list(t * 1000000000000 + d * 1000000 + n)) AS a FROM nn
)
SELECT nn.t, nn.d AS deaths, nn.c AS censored, nn.n AS at_risk,
       CAST(list_reduce(
         list_prepend(CAST(1000000000 AS BIGINT),
           list_filter(packed.a, x -> x // 1000000000000 <= nn.t)),
         (acc, x) -> acc * ((x % 1000000000000) // 1000000 * (-1)
                            + x % 1000000) // (x % 1000000)
       ) AS BIGINT) AS s_e9
FROM nn, packed
ORDER BY nn.t
"""


@_q("events_kaplan_meier", _KM_SQL)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit curve for time-to-first-purchase:
    death = first 'purchase' day, censor = last observed event day for
    never-purchasers; per day: deaths, censored exits, at-risk count,
    and the exact e9 survival S(t) via the in-order integer fold
    acc <- acc*(n_t - d_t) div n_t.

    Scale: one user groupBy collapses the stream; the life table is
    day-span-bounded (the module's post-collapse contract), so the
    O(days^2) prefix folds are constant work; the at-risk reverse
    cumulative is the survival_hazard device.  The packed-BIGINT fold
    list keeps the product exact with zero struct-ordering dependence."""
    ev = load_table(spark, sf_dir, "events")
    day0 = F.lit("2024-01-01").cast("date")
    ud = ev.groupBy("user_id").agg(
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.datediff(F.to_date("ts"), day0) + 1,
            )
        ).alias("tp"),
        F.max(F.datediff(F.to_date("ts"), day0) + 1).alias("tc"),
    )
    obs = ud.select(
        F.coalesce("tp", "tc").cast("long").alias("t"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("e"),
    )
    lt = obs.groupBy("t").agg(
        F.sum("e").cast("long").alias("d"),
        (F.count("*") - F.sum("e")).cast("long").alias("c"),
    )
    ntot = obs.agg(F.count("*").cast("long").alias("ntot"))
    wcum = W.orderBy("t").rowsBetween(W.unboundedPreceding, -1)
    nn = lt.crossJoin(F.broadcast(ntot)).withColumn(
        "n",
        F.col("ntot") - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wcum),
                                   F.lit(0)),
    )
    packed = nn.agg(
        F.array_sort(
            F.collect_list(
                F.expr("t * 1000000000000 + d * 1000000 + n")
            )
        ).alias("a")
    )
    return (
        nn.crossJoin(F.broadcast(packed))
        .select(
            "t",
            F.col("d").alias("deaths"),
            F.col("c").alias("censored"),
            F.col("n").alias("at_risk"),
            F.expr(
                "CAST(aggregate(filter(a, x -> x div 1000000000000 <= t),"
                " CAST(1000000000 AS BIGINT),"
                " (acc, x) -> acc * (x % 1000000 -"
                " (x % 1000000000000) div 1000000) div (x % 1000000))"
                " AS BIGINT)"
            ).alias("s_e9"),
        )
        .orderBy("t")
    )


# --- exact trailing rolling median (r13) -------------------------------------
# events_moving covers rolling MEANS (algebraic — a windowed sum); the
# rolling MEDIAN is holistic and Spark has no built-in window
# percentile, so the exact form rides the day-grain self-join: each
# (type, day) pairs with its trailing week of daily counts, and the
# lower median is the min value whose in-window rank doubles past the
# window size.  Quadratic in WINDOW x days — bounded, never row-scaled.

_ROLLMED_WIN = 7

_ROLLMED_SQL = f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, a.d, b.x AS v
  FROM s a JOIN s b
    ON b.event_type = a.event_type
   AND b.d BETWEEN a.d - {_ROLLMED_WIN - 1} AND a.d
), r AS (
  SELECT event_type, d, v,
         row_number() OVER (PARTITION BY event_type, d ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY event_type, d) AS cnt
  FROM pairs
)
SELECT event_type, d, CAST(min(CASE WHEN rn * 2 >= cnt THEN v END) AS BIGINT)
         AS med7,
       CAST(max(cnt) AS BIGINT) AS n_in_window
FROM r GROUP BY event_type, d
HAVING max(cnt) = {_ROLLMED_WIN}
ORDER BY event_type, d
"""


sql_entry(_q, "events_rolling_median", _ROLLMED_SQL)


# --- delta-method CI for a ratio metric (r13) --------------------------------
# The A/B family tests per-user means (welch) and ranks (mann-whitney);
# the workhorse PRODUCTION metric is a RATIO of sums (revenue per
# event, clicks per view) whose denominator is itself random — naive
# SEs are wrong, the delta method is the standard fix.  Moment sums are
# exact integers; the variance algebra runs in one shared double
# expression tree (the events_pacf_yw determinism device); z is an e9
# constant.

_DELTA_Z = 1.959963985  # normal 97.5% quantile, fixed literal

_DELTAM_SQL = f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(sum(round(value * 100)) AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), m AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM u GROUP BY 1
), d AS (
  SELECT arm, n,
         CAST(sx AS DOUBLE) / CAST(sy AS DOUBLE) AS r,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1) AS vx,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) / (n - 1) AS vy,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n) / (n - 1) AS cxy,
         CAST(sy AS DOUBLE) / n AS ybar
  FROM m
), s AS (
  SELECT arm, n, r,
         sqrt((vx + r * r * vy - 2 * r * cxy) / (ybar * ybar * n)) AS se
  FROM d
)
SELECT CAST(arm AS BIGINT) AS arm, n AS n_users,
       CAST(round(r * 1000000) AS BIGINT) AS ratio_e6,
       CAST(round(se * 1000000) AS BIGINT) AS se_e6,
       CAST(round((r - {_DELTA_Z} * se) * 1000000) AS BIGINT) AS ci_lo_e6,
       CAST(round((r + {_DELTA_Z} * se) * 1000000) AS BIGINT) AS ci_hi_e6
FROM s ORDER BY arm
"""


sql_entry(_q, "events_ab_delta_method", _DELTAM_SQL)


# --- Jarque-Bera normality test (r13) ----------------------------------------
# The omnibus normality check on each type's daily-revenue series —
# the gate before any Gaussian-assuming test (welch, power analysis)
# is trusted.  Central moment sums are exact via the n*x - S device
# (no float means); skewness/kurtosis/JB run in one shared double
# expression tree; the chi^2(2) 5% critical value is a fixed literal.

_JB_CRIT = 5.991465  # chi^2(2) upper 5%

_JB_SQL = f"""
WITH s AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(sum(round(value * 100)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         count(*) OVER (PARTITION BY event_type) * x
           - sum(x) OVER (PARTITION BY event_type) AS dev,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM s
), mm AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         sum(dev * dev) AS m2s,
         sum(dev * dev * dev) AS m3s,
         sum(dev * dev * dev * dev) AS m4s
  FROM m GROUP BY 1
), g AS (
  SELECT event_type, n,
         CAST(m2s AS DOUBLE) / n / n / n AS m2,
         CAST(m3s AS DOUBLE) / n / n / n / n AS m3,
         CAST(m4s AS DOUBLE) / n / n / n / n / n AS m4
  FROM mm
), jb AS (
  SELECT event_type, n,
         m3 / (m2 * sqrt(m2)) AS g1,
         m4 / (m2 * m2) - 3 AS g2
  FROM g
)
SELECT event_type, n AS n_days,
       CAST(round(g1 * 1000000) AS BIGINT) AS skew_e6,
       CAST(round(g2 * 1000000) AS BIGINT) AS exkurt_e6,
       CAST(round(CAST(n AS DOUBLE) / 6 * (g1 * g1 + g2 * g2 / 4) * 1000000)
            AS BIGINT) AS jb_e6,
       CAST(n AS DOUBLE) / 6 * (g1 * g1 + g2 * g2 / 4) < {_JB_CRIT}
         AS normal_5pct
FROM jb ORDER BY event_type
"""


@_q("events_jarque_bera", _JB_SQL)
def events_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera omnibus normality test per daily-revenue series:
    population skewness g1 and excess kurtosis g2 from exact integer
    central-moment sums (dev = n*x - S), JB = n/6*(g1^2 + g2^2/4)
    against the chi^2(2) 5% critical value.

    Scale: day-grain collapse + per-series windows bounded by the day
    span + a per-series single-row DECIMAL(38,0) moment aggregate; the
    double algebra (incl. sqrt — IEEE correctly rounded) is one shared
    expression tree, so e6 outputs and the verdict agree bit-for-bit
    across engines."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("x")
    )
    wp = W.partitionBy("event_type")
    m = s.select(
        "event_type",
        (F.count("*").over(wp) * F.col("x") - F.sum("x").over(wp))
        .alias("dev"),
        F.count("*").over(wp).alias("n"),
    )
    mm = m.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.sum(F.expr("CAST(dev AS DECIMAL(38,0)) * dev")).alias("m2s"),
        F.sum(F.expr("CAST(dev AS DECIMAL(38,0)) * dev * dev")).alias("m3s"),
        F.sum(F.expr("CAST(dev AS DECIMAL(38,0)) * dev * dev * dev"))
        .alias("m4s"),
    )
    g = mm.selectExpr(
        "event_type", "n",
        "CAST(m2s AS DOUBLE) / n / n / n AS m2",
        "CAST(m3s AS DOUBLE) / n / n / n / n AS m3",
        "CAST(m4s AS DOUBLE) / n / n / n / n / n AS m4",
    ).selectExpr(
        "event_type", "n",
        "m3 / (m2 * sqrt(m2)) AS g1",
        "m4 / (m2 * m2) - 3 AS g2",
    )
    return g.selectExpr(
        "event_type", "n AS n_days",
        "CAST(round(g1 * 1000000) AS BIGINT) AS skew_e6",
        "CAST(round(g2 * 1000000) AS BIGINT) AS exkurt_e6",
        "CAST(round(CAST(n AS DOUBLE) / 6 * (g1 * g1 + g2 * g2 / 4) * 1000000)"
        " AS BIGINT) AS jb_e6",
        f"CAST(n AS DOUBLE) / 6 * (g1 * g1 + g2 * g2 / 4) < {_JB_CRIT}"
        " AS normal_5pct",
    ).orderBy("event_type")


# --- G-test of independence (r13) --------------------------------------------
# The log-likelihood-ratio sibling of events_ab_chisq: G = 2 sum n_ij
# ln(n_ij N / (r_i c_j)) over the event_type x arm contingency table.
# ln is libm — NOT correctly rounded in general — but every argument
# here is an EXACT-INTEGER-valued double (verified engine-identical at
# e6 over 200k inputs in r13), and each cell's term is rounded to an
# e9 INTEGER BEFORE the cross-cell sum, so summation order cannot
# reintroduce drift (the PSI/Theil idiom).

_G_CRIT = 9.487729  # chi^2(4) upper 5%

_GTEST_SQL = f"""
WITH cells AS (
  SELECT event_type, user_id % 2 AS arm, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
), margins AS (
  SELECT event_type, CAST(sum(n) AS BIGINT) AS r FROM cells GROUP BY 1
), cols AS (
  SELECT arm, CAST(sum(n) AS BIGINT) AS c FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS nn FROM cells
), terms AS (
  SELECT cells.event_type, cells.arm,
         CAST(round(cells.n * (ln(CAST(cells.n AS DOUBLE))
                               + ln(CAST(tot.nn AS DOUBLE))
                               - ln(CAST(margins.r AS DOUBLE))
                               - ln(CAST(cols.c AS DOUBLE))) * 1000000000)
              AS BIGINT) AS t_e9
  FROM cells
  JOIN margins USING (event_type)
  JOIN cols USING (arm), tot
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(2 * sum(t_e9) // 1000 AS BIGINT) AS g_e6,
       CAST(2 * sum(t_e9) AS DOUBLE) / 1000000000 > {_G_CRIT}
         AS dependent_5pct
FROM terms
"""


@_q("events_g_test", _GTEST_SQL)
def events_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence between event_type
    and experiment arm: per-cell terms n*ln(nN/(rc)) rounded to e9
    integers before the sum (order-independent), the statistic at e6,
    and the chi^2(4) 5% verdict.

    Scale: one (type, arm) count groupBy + two margin groupBys over the
    10-row cell table + a single-row total; the transcendental touches
    only integer-valued doubles — the engine-identical class."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.col("user_id") % 2).alias("arm")
    ).agg(F.count("*").cast("long").alias("n"))
    margins = cells.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("r")
    )
    cols = cells.groupBy("arm").agg(F.sum("n").cast("long").alias("c"))
    tot = cells.agg(F.sum("n").cast("long").alias("nn"))
    terms = (
        cells.join(F.broadcast(margins), "event_type")
        .join(F.broadcast(cols), "arm")
        .crossJoin(F.broadcast(tot))
        .select(
            F.expr(
                "CAST(round(n * (ln(CAST(n AS DOUBLE))"
                " + ln(CAST(nn AS DOUBLE)) - ln(CAST(r AS DOUBLE))"
                " - ln(CAST(c AS DOUBLE))) * 1000000000) AS BIGINT)"
            ).alias("t_e9")
        )
    )
    return terms.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.expr("CAST(2 * sum(t_e9) div 1000 AS BIGINT)").alias("g_e6"),
        F.expr(
            f"CAST(2 * sum(t_e9) AS DOUBLE) / 1000000000 > {_G_CRIT}"
        ).alias("dependent_5pct"),
    )


# --- Lorenz decile table (r13) -----------------------------------------------
# agg_gini_coefficient gives the scalar; this is the curve behind it:
# users ranked by revenue, arithmetic deciles (rank math on
# distrank.global_index — the rfm_scalable device, never an ntile
# window), per-decile revenue share and the cumulative Lorenz share.
# The "top decile holds X% of revenue" table every mix/royalty/abuse
# report starts from.

_LORENZ_SQL = """
WITH u AS (
  SELECT user_id, CAST(sum(round(value * 100)) AS BIGINT) AS cents
  FROM events GROUP BY 1
), r AS (
  SELECT cents,
         row_number() OVER (ORDER BY cents, user_id) AS rn,
         count(*) OVER () AS n
  FROM u
), d AS (
  SELECT CAST((rn - 1) * 10 // n + 1 AS BIGINT) AS decile, cents FROM r
), agg AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM d GROUP BY decile
), tot AS (
  SELECT CAST(sum(cents) AS BIGINT) AS tc FROM agg
)
SELECT a.decile, a.n_users, a.cents AS revenue_cents,
       CAST(a.cents * 1000000 // tot.tc AS BIGINT) AS share_e6,
       CAST(sum(a.cents) OVER (ORDER BY a.decile) * 1000000 // tot.tc
            AS BIGINT) AS cum_share_e6
FROM agg a, tot ORDER BY a.decile
"""


@_q("events_lorenz_deciles", _LORENZ_SQL)
def events_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz decile table of per-user revenue: arithmetic deciles from
    the exact global rank, per-decile revenue share and cumulative
    share (e6) — the curve whose area complement is
    agg_gini_coefficient.

    Scale: one user collapse, ONE distrank range exchange for the rank
    (no ntile window, no single-partition sort over users), a 10-row
    decile aggregate and 10-row windows after it."""
    from ..operators.distrank import global_index

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100)).cast("long").alias("cents")
    )
    r = global_index(u, [F.col("cents"), F.col("user_id")])
    d = r.select(
        F.expr("CAST((__rn - 1) * 10 div __n_total + 1 AS BIGINT)")
        .alias("decile"),
        "cents",
    )
    agg = d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("cents"),
    )
    tot = agg.agg(F.sum("cents").cast("long").alias("tc"))
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_users", "cents", "tc",
            F.sum("cents").over(wc).alias("cum_cents"),
        )
        .select(
            "decile", "n_users",
            F.col("cents").alias("revenue_cents"),
            F.expr("CAST(cents * 1000000 div tc AS BIGINT)")
            .alias("share_e6"),
            F.expr("CAST(cum_cents * 1000000 div tc AS BIGINT)")
            .alias("cum_share_e6"),
        )
        .orderBy("decile")
    )
