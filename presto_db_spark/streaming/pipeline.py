"""Structured Streaming veneer over the event pipeline.

The reference has NO streaming runtime (SURVEY.md §2.10 — presto-kafka is a
batch scan of offsets). This module is the post-parity extension the build
plan calls for: the same event aggregations exposed on ``readStream`` with
watermarks, so the engine covers late-data pipelines at scale.

Parity proof: ``streaming_tumbling`` runs the *streaming* pipeline with an
``availableNow`` trigger over the same parquet and returns the finished
result — the driver's DuckDB oracle checks it against the batch SQL. The
streaming and batch plans are the same Catalyst expressions; watermark +
append mode only change completeness semantics, which availableNow closes.

Scale notes: file-source streaming shards by files (maxFilesPerTrigger);
the tumbling agg is a stateful window agg with watermark-based state
eviction — at 100 TB/day the state store holds only open windows
(1h window + 1h watermark → bounded state), checkpointed incrementally.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table

from ..operators.events import _CDC_SQL as _BATCH_CDC_SQL
from ..registry import family

QUERIES, ORACLE, _q = family()

# One temp root per process, removed at exit — repeated sweeps/bench runs
# must not accumulate mkdtemp dirs (staging symlink dirs are additionally
# cached per sf_dir so N queries share one).
_TMP_ROOT: str | None = None
_STAGE_CACHE: dict[str, str] = {}


def _tmp_root() -> str:
    global _TMP_ROOT
    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="pds_streaming_")
        atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)
    return _TMP_ROOT


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (schema from the batch reader,
    including the nanos→micros ts normalization)."""
    # Defensive (mirrors catalog.load_table): timestamp[us] without UTC
    # adjustment must infer as TIMESTAMP, not TIMESTAMP_NTZ.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file stream source needs a *directory*; the driver testdata is a
    # single parquet file, so expose it through a temp symlink dir (no
    # copy). On a real deployment the events feed is already a directory
    # (or Kafka) and this indirection disappears.
    cache_key = os.path.abspath(sf_dir)  # relative/absolute spellings share one stage
    stage = _STAGE_CACHE.get(cache_key)
    if stage is None:
        stage = tempfile.mkdtemp(prefix="src_", dir=_tmp_root())
        os.symlink(
            os.path.abspath(f"{sf_dir}/events.parquet"),
            os.path.join(stage, "events.parquet"),
        )
        _STAGE_CACHE[cache_key] = stage
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def tumbling_counts(stream: DataFrame) -> DataFrame:
    """1h tumbling window with 1h watermark: count + exact-cents value sum
    per (window, event_type)."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(F.round(F.col("value") * 100)) / 100, 2).alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour_start"),
            "event_type",
            "cnt",
            "total_value",
        )
    )


# State-store partitions per stream: enough for the tens of keys the
# stateful streams here hold (see _run_to_completion).
_STATE_PARTITIONS = 8


def _run_to_completion(result: DataFrame, sink_prefix: str, output_mode: str) -> DataFrame:
    """availableNow trigger + memory sink: run the stream until the source
    drains, return the materialized table (driver checks vs batch oracle).

    State partitioning (r14): every stateful stream in this module keys on
    a LOW-CARDINALITY domain (event_type, hour windows — tens of groups at
    any data scale), so state-store partitions should track KEY CARDINALITY,
    not the data-scale shuffle parallelism. Each extra state partition costs
    a per-microbatch task + state-store open/commit + (for the pandas ops)
    a Python round trip even when empty — measured 3x on streaming_topk at
    local[32] (6.9 -> 2.3 s: 32 state partitions for ~5 keys). The count is
    pinned at stream start from spark.sql.shuffle.partitions (each stream
    here starts on a fresh checkpoint), so it is set to
    ``min(shuffle.partitions, _STATE_PARTITIONS)`` for the stream clone
    only and restored immediately. Results are partitioning-independent
    (state ops group per key)."""
    spark = result.sparkSession
    sink = f"{sink_prefix}_{uuid.uuid4().hex[:8]}"
    writer = (
        result.writeStream.format("memory")
        .queryName(sink)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_", dir=_tmp_root()))
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    target = min(int(old), _STATE_PARTITIONS) if str(old).isdigit() else _STATE_PARTITIONS
    spark.conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        # StreamExecution clones the session (and its conf) at start(), so
        # the lowered value applies to this stream only
        q = writer.start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    q.awaitTermination()
    return spark.table(sink)


@_q(
    "streaming_tumbling",
    """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(round(value * 100)) / 100, 2) AS total_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
)
def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the streaming pipeline to completion (availableNow) and return
    the materialized result — batch SQL is the oracle."""
    return _run_to_completion(
        tumbling_counts(events_stream(spark, sf_dir)), "stream_tumbling", "complete"
    )


@_q(
    "streaming_sliding",
    """
WITH starts AS (
  SELECT event_type,
         CAST(to_timestamp(floor(epoch(ts) / 1800) * 1800) AS TIMESTAMP)
           + (s.k * INTERVAL 30 MINUTE) AS win_start
  FROM events, unnest([0, -1]) s(k)
)
SELECT win_start, event_type, CAST(count(*) AS BIGINT) AS cnt
FROM starts GROUP BY win_start, event_type
""",
)
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h window sliding every 30min (each event lands in exactly 2
    windows). Oracle expands the two window starts per event in SQL."""
    stream = events_stream(spark, sf_dir)
    res = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.col("win.start").alias("win_start"), "event_type", "cnt")
    )
    return _run_to_completion(res, "stream_sliding", "complete")


@_q(
    "streaming_session_window",
    """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 300 THEN 1 ELSE 0 END
           AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id, sid
""",
)
def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (5 min inactivity) via session_window —
    Structured Streaming's native stateful sessionization. Oracle is the
    batch lag/cumsum sessionization; the session boundaries coincide
    because both close a session after >300 s of silence."""
    stream = events_stream(spark, sf_dir)
    res = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id", F.col("sw.start").alias("session_start"), "n_events"
        )
    )
    return _run_to_completion(res, "stream_session", "complete")


@_q(
    "streaming_dedup",
    """
WITH d AS (
  SELECT DISTINCT user_id, event_type, date_trunc('minute', ts) AS m
  FROM events
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_unique
FROM d GROUP BY event_type
""",
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: dropDuplicates on (user, type, minute) with
    watermark-bounded state (the streaming face of dedup_exact — state only
    holds keys newer than the watermark, so memory is bounded at 100 TB/day)."""
    stream = events_stream(spark, sf_dir)
    deduped = (
        stream.withColumn("m", F.date_trunc("minute", "ts"))
        .withWatermark("m", "1 hour")
        .dropDuplicates(["user_id", "event_type", "m"])
    )
    res = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return _run_to_completion(res, "stream_dedup", "complete")


@_q(
    "streaming_stream_join",
    """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) AS delay_us
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
""",
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition — the
    streaming face of operators/rangejoin.py (same oracle). Watermarks on
    both sides + the time-bound condition let Spark evict join state: a
    click older than watermark-1h can never match again, so state is
    bounded at any input rate — the property that makes stream-stream
    joins viable at 100 TB/day."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "2 hours")
    )
    buys = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        buys,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("interval 1 hour")),
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("delay_us"),
    )
    return _run_to_completion(joined, "stream_join", "append")


@_q(
    "streaming_stateful_custom",
    """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       max(ts) AS last_ts,
       round(sum(round(value * 100)) / 100, 2) AS total_value
FROM events GROUP BY user_id
""",
)
def streaming_stateful_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (the
    applyInPandasWithState extension point SURVEY §2.10 reserves for
    operators Spark lacks): per-user running (count, last_ts, value_sum)
    kept in explicit GroupState, emitted in update mode. Arrow-batched;
    state is a fixed-width tuple per user → bounded memory at any scale.
    Oracle: the equivalent batch aggregation (final states must agree)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    stream = events_stream(spark, sf_dir).select("user_id", "ts", "value")

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("last_ts", TimestampType()),
            StructField("total_value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("last_us", LongType()),
            StructField("cents", LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        n, last_us, cents = state.get if state.exists else (0, 0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # normalize to µs regardless of pandas datetime unit (ns vs us)
            ts_us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
            last_us = max(last_us, int(ts_us.max()))
            cents += int(pdf["value"].mul(100).round().astype("int64").sum())
        state.update((n, last_us, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "total_value": [round(cents / 100, 2)],
            }
        )

    res = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    # update-mode emissions accumulate in the memory sink; the final state
    # per user is the last emission → reduce to it (single-file source =>
    # single microbatch, so emissions are already final; the max-reduce
    # keeps this correct if the source ever arrives as multiple files).
    raw = _run_to_completion(res, "stream_stateful", "update")
    return raw.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("last_ts").alias("last_ts"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


@_q(
    "streaming_tdigest",
    """
SELECT user_id % 8 AS bucket, CAST(count(*) AS BIGINT) AS n,
       TRUE AS ok_p50, TRUE AS ok_p90
FROM events GROUP BY user_id % 8 ORDER BY bucket
""",
)
def streaming_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming t-digest: incremental quantile state per group via
    applyInPandasWithState, the streaming face of ``operators/tdigest.py``
    (reference digests are engine-mergeable state for exactly this reason —
    ``pm/tdigest/TDigest.java`` merge()). State = the centroid arrays;
    each microbatch builds a digest of its rows and re-clusters it into
    the carried state, so memory stays ≤ 2·compression doubles per group
    forever. The oracle asserts the accuracy contract: the final streamed
    estimate must land inside the exact [q−ε, q+ε] percentile band
    computed batch-side (booleans pinned TRUE)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.tdigest import EPS, build_digest, digest_quantile

    stream = events_stream(spark, sf_dir).select(
        (F.col("user_id") % 8).alias("bucket"), "value"
    )
    out_schema = StructType(
        [
            StructField("bucket", LongType()),
            StructField("n", LongType()),
            StructField("p50", DoubleType()),
            StructField("p90", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("means", ArrayType(DoubleType())),
            StructField("weights", ArrayType(DoubleType())),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        import numpy as np
        import pandas as pd

        n, means, weights = state.get if state.exists else (0, [], [])
        m = np.asarray(means, dtype=np.float64)
        w = np.asarray(weights, dtype=np.float64)
        for pdf in pdf_iter:
            n += len(pdf)
            bm, bw = build_digest(
                pdf["value"].to_numpy(dtype=np.float64), np.ones(len(pdf))
            )
            m, w = build_digest(np.r_[m, bm], np.r_[w, bw])
        # native-float lists: numpy scalars don't unpickle JVM-side
        state.update((int(n), np.asarray(m).tolist(), np.asarray(w).tolist()))
        yield pd.DataFrame(
            {
                "bucket": [key[0]],
                "n": [n],
                "p50": [digest_quantile(m, w, 0.5)],
                "p90": [digest_quantile(m, w, 0.9)],
            }
        )

    res = stream.groupBy("bucket").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_tdigest", "update")
    final = raw.groupBy("bucket").agg(
        F.max("n").alias("n"),
        F.max_by("p50", "n").alias("p50"),
        F.max_by("p90", "n").alias("p90"),
    )
    # batch-side exact bands for the contract
    events = load_table(spark, sf_dir, "events")
    band = events.groupBy((F.col("user_id") % 8).alias("bucket")).agg(
        F.expr(f"percentile(value, array({0.5 - EPS}, {0.9 - EPS}))").alias("lo"),
        F.expr(f"percentile(value, array({0.5 + EPS}, {0.9 + EPS}))").alias("hi"),
    )
    return (
        final.join(band, "bucket")
        .select(
            "bucket",
            "n",
            ((F.col("p50") >= F.col("lo")[0]) & (F.col("p50") <= F.col("hi")[0])).alias("ok_p50"),
            ((F.col("p90") >= F.col("lo")[1]) & (F.col("p90") <= F.col("hi")[1])).alias("ok_p90"),
        )
        .orderBy("bucket")
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the documents table, staged as TWO parquet files so
    availableNow produces TWO microbatches (maxFilesPerTrigger=1) — the
    stateful operators genuinely carry state across batches."""
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    cache_key = "docs2:" + os.path.abspath(sf_dir)
    stage = _STAGE_CACHE.get(cache_key)
    if stage is None:
        stage = tempfile.mkdtemp(prefix="docsrc_", dir=_tmp_root())
        (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .repartitionByRange(2, "doc_id")
            .write.mode("overwrite").parquet(stage)
        )
        _STAGE_CACHE[cache_key] = stage
    schema = spark.read.parquet(stage).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )


def _stream_minhash_oracle() -> str:
    from ..operators.dedup import (
        _MH_BANDS_SQL,
        _MH_PERM_SQL,
        _SQL_ROLL,
        MERSENNE31,
        WORD_COMBINE,
    )

    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, band{b} AS bkey FROM banded"
        for b in range(4)
    )
    return f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS words,
         list_transform(words, w -> {_SQL_ROLL.format(s="w")} % {MERSENNE31}) AS wh,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> ((coalesce(wh[i], 0) * {WORD_COMBINE} + coalesce(wh[i+1], 0))
                   % {MERSENNE31} * {WORD_COMBINE} + coalesce(wh[i+2], 0))
                  % {MERSENNE31})) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, {_MH_PERM_SQL} FROM sh
), banded AS MATERIALIZED (
  SELECT doc_id, {_MH_BANDS_SQL} FROM sigs
), bands AS MATERIALIZED ({bands_union})
SELECT a.band_id AS band_id, a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.bkey = b.bkey AND a.doc_id < b.doc_id
"""


@_q("streaming_minhash_pairs", None)
def streaming_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING MinHash-LSH candidate generation — the training-pipeline
    near-dup detector as an INCREMENTAL operator: documents arrive as a
    stream, each microbatch computes the 16-permutation signature (the
    same Arrow UDF as batch `dedup_minhash_lsh` — math identical to the
    oracle), band keys explode, and an applyInPandasWithState bucket
    keeps the doc_ids previously seen per (band, key): every NEW document
    emits a candidate pair against each EARLIER member of its bucket, so
    near-dups are flagged the moment the second copy arrives. Output =
    per-band candidate pairs as unordered (min, max) ids — a SET, so it
    is arrival-order-independent and equals the batch band self-join
    (the DuckDB oracle). Scale: state per bucket is the doc_id list —
    ∝ collision rate, the same band-bucket bound as the batch design;
    emission is incremental (new × earlier), never a bucket re-scan."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    from ..operators.dedup import N_BANDS, _band_expr, _minhash_mh_pd

    stream = documents_stream(spark, sf_dir)
    sig = stream.select(
        "doc_id", _minhash_mh_pd()(F.col("text")).alias("mh")
    ).select(
        "doc_id", *[F.col("mh").getItem(k).alias(f"mh{k}") for k in range(16)]
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band_id"), _band_expr("", bi).alias("bkey"))
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.bkey").alias("bkey"))

    out_schema = StructType(
        [
            StructField("band_id", LongType()),
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
        ]
    )
    state_schema = StructType([StructField("ids", ArrayType(LongType()))])

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        (seen,) = state.get if state.exists else ([],)
        seen = list(seen)
        band_id = int(key[0])
        out_a, out_b = [], []
        for pdf in pdf_iter:
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                for prev in seen:
                    lo, hi = (prev, doc_id) if prev < doc_id else (doc_id, prev)
                    out_a.append(lo)
                    out_b.append(hi)
                seen.append(doc_id)
        state.update((seen,))
        if out_a:
            yield pd.DataFrame(
                {"band_id": [band_id] * len(out_a), "id_a": out_a, "id_b": out_b}
            )

    res = bands.groupBy("band_id", "bkey").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_minhash", "append")
    # a pair can only form once per bucket (new × earlier), but the same
    # unordered pair may appear under several bands — exactly like the
    # batch band join; keep per-band rows distinct as the oracle does.
    return raw.select("band_id", "id_a", "id_b").distinct()


ORACLE["streaming_minhash_pairs"] = _stream_minhash_oracle()


# --- watermark late-data semantics -----------------------------------------

_LATE_SQL = """
WITH bounds AS (
  SELECT date_trunc('hour', max(ts)) AS cut, max(ts) AS gm FROM events
), s0max AS (
  SELECT max(e.ts) AS m FROM events e, bounds b
  WHERE e.event_id % 2 = 0 AND e.ts < b.cut
), kept AS (
  SELECT e.ts FROM events e, bounds b
  WHERE (e.event_id % 2 = 0 AND e.ts < b.cut) OR e.ts >= b.cut
  UNION ALL
  SELECT e.ts FROM events e, bounds b, s0max
  WHERE e.event_id % 2 = 1 AND e.ts < b.cut
    AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR > s0max.m - INTERVAL 1 HOUR
)
SELECT date_trunc('hour', kept.ts) AS hour_start, CAST(count(*) AS BIGINT) AS cnt
FROM kept, bounds b
WHERE date_trunc('hour', kept.ts) + INTERVAL 1 HOUR <= b.gm - INTERVAL 1 HOUR
GROUP BY 1 ORDER BY 1
"""


def events_three_batch_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events staged as THREE parquet files with ORDERED modification times
    (FileStreamSource processes oldest-first), so availableNow yields three
    deterministic microbatches:

    * batch 0 — even event_ids before the final hour (establishes windows
      and the max event time that will gate the late slice),
    * batch 1 — everything in the final hour (the fresh tail; its own
      late-filter threshold is still epoch, and it pushes the FINAL
      watermark high enough to flush kept-late windows),
    * batch 2 — odd event_ids before the final hour (the LATE slice: its
      filter threshold is the watermark in effect during batch 1, i.e.
      ``max(batch 0) − delay``).
    """
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    cache_key = "events3:" + os.path.abspath(sf_dir)
    stage = _STAGE_CACHE.get(cache_key)
    if stage is None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        stage = tempfile.mkdtemp(prefix="evsrc_", dir=_tmp_root())
        tbl = pq.read_table(f"{sf_dir}/events.parquet")
        ts = tbl.column("ts")
        cut = pc.floor_temporal(pc.max(ts), unit="hour")
        old = pc.less(ts, cut)
        even = pc.equal(pc.bit_wise_and(tbl.column("event_id"), 1), 0)
        # Order matters: the late filter in batch M uses the watermark in
        # effect during batch M-1, which is max(ts through batch M-2) —
        # victims must therefore arrive in batch 2 for batch 0's max to
        # gate them. The fresh tail rides in batch 1 so the FINAL
        # watermark (max all ts − delay) flushes the kept-late windows.
        parts = [
            ("batch-0.parquet", pc.and_(old, even)),
            ("batch-1.parquet", pc.invert(old)),
            ("batch-2.parquet", pc.and_(old, pc.invert(even))),
        ]
        now = os.stat(f"{sf_dir}/events.parquet").st_mtime
        for i, (name, mask) in enumerate(parts):
            p = os.path.join(stage, name)
            pq.write_table(tbl.filter(mask), p)
            os.utime(p, (now + 100 * i, now + 100 * i))
        _STAGE_CACHE[cache_key] = stage
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    if dict(stream.dtypes)["ts"] == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


# Kept port (keep-rule 2a, surface SQL does not reach): a Structured Streaming query with state.
@_q("streaming_late_data", _LATE_SQL)
def streaming_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics, value-checked against Spark's actual
    drop/flush rules (probed empirically, Spark 4.1):

    * the late-input filter in micro-batch M uses the watermark in effect
      during batch M−1 (``max(ts through batch M−2) − delay``) — one
      batch behind the eviction watermark;
    * eviction/emission in batch M uses the CURRENT watermark
      (``max(ts through batch M−1) − delay``);
    * availableNow's final empty batch flushes windows whose end ≤
      ``max(all ts) − delay``.

    Topology: batch 0 = on-time evens, batch 1 = the final hour (fresh
    tail), batch 2 = the late odd slice (dropped iff its hour-window end
    ≤ max(batch 0) − 1 h — BOTH outcomes occur: old odds drop, near-cut
    odds merge into still-live windows and flush with the final
    watermark). The oracle reproduces all three rules in batch SQL, so this
    pins Spark's real late semantics — not just a drained stream. Scale:
    state is the open windows only (bounded by the delay), the same
    contract as streaming_tumbling."""
    stream = events_three_batch_stream(spark, sf_dir)
    res = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(F.col("win.start").alias("hour_start"), "cnt")
    )
    return _run_to_completion(res, "stream_late", "append").orderBy("hour_start")


# --- incremental per-group top-k -------------------------------------------

STREAM_TOP_K = 5

_STREAM_TOPK_SQL = f"""
WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rank
  FROM events
)
SELECT event_type, CAST(rank AS INTEGER) AS rank, event_id,
       round(value, 6) AS value
FROM ranked WHERE rank <= {STREAM_TOP_K}
ORDER BY event_type, rank
"""


# Kept port (keep-rule 2a, surface SQL does not reach): a Structured Streaming query with state.
@_q("streaming_topk", _STREAM_TOPK_SQL)
def streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental per-group TOP-K (the streaming face of
    win_topn_per_group): GroupState holds each event_type's current top-5
    (value DESC, event_id tie-break) as fixed-width parallel arrays —
    K·16 B per key, bounded at any scale — merged with each microbatch's
    candidates (pre-pruned to its own top-5 in numpy before touching
    state). Each batch emits the running top-k stamped with n_seen; the
    final answer per key is the emission with the largest n_seen (a
    deterministic reduce — top-k merge is associative and
    arrival-order-insensitive, which is what makes the batch window query
    the exact oracle). Three deterministic microbatches exercise real
    cross-batch state merging."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    stream = events_three_batch_stream(spark, sf_dir).select(
        "event_type", "event_id", "value"
    )
    out_schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("n_seen", LongType()),
            StructField("rank", IntegerType()),
            StructField("event_id", LongType()),
            StructField("value", DoubleType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("ids", ArrayType(LongType())),
            StructField("vals", ArrayType(DoubleType())),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        import numpy as np
        import pandas as pd

        n, ids, vals = state.get if state.exists else (0, [], [])
        pairs = list(zip(vals, [-i for i in ids]))  # sort key: value DESC, id ASC
        for pdf in pdf_iter:
            n += len(pdf)
            bv = pdf["value"].to_numpy()
            bi = pdf["event_id"].to_numpy()
            # pre-prune the batch to its own top-K before merging
            order = np.lexsort((bi, -bv))[:STREAM_TOP_K]
            pairs.extend((float(bv[j]), -int(bi[j])) for j in order)
        pairs.sort(reverse=True)
        pairs = pairs[:STREAM_TOP_K]
        state.update((n, [-p[1] for p in pairs], [p[0] for p in pairs]))
        yield pd.DataFrame(
            {
                "event_type": key[0],
                "n_seen": n,
                "rank": range(1, len(pairs) + 1),
                "event_id": [-p[1] for p in pairs],
                "value": [p[0] for p in pairs],
            }
        )

    res = stream.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_topk", "update")
    from pyspark.sql.window import Window as W

    w = W.partitionBy("event_type")
    return (
        raw.withColumn("max_n", F.max("n_seen").over(w))
        .filter(F.col("n_seen") == F.col("max_n"))
        .select(
            "event_type", "rank", "event_id", F.round("value", 6).alias("value")
        )
        .orderBy("event_type", "rank")
    )


# --- streaming cross-document substring-span dedup --------------------------

from ..operators.dedup import W_SUB as _W_SUB

_STREAM_SUBSTR_SQL = f"""
WITH win AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(
           string_split_regex(trim(text), '\\s+')[i:i+{_W_SUB - 1}], ' ')) AS h
  FROM documents,
       LATERAL unnest(generate_series(1,
         greatest(len(string_split_regex(trim(text), '\\s+')) - {_W_SUB - 1}, 0)
       )) AS t(i)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared_windows
FROM win a JOIN win b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY id_a, id_b
"""


# Kept port (keep-rule 2a, surface SQL does not reach): a Structured Streaming query with state.
@_q("streaming_substring_pairs", _STREAM_SUBSTR_SQL)
def streaming_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING counterpart of ``dedup_substring_spans``: documents
    arrive as a stream, each microbatch explodes its W_SUB=8-token
    window hashes (identical md5 to the batch operator), and an
    applyInPandasWithState bucket keyed on the window hash keeps the
    DISTINCT doc_ids previously seen for that hash — a NEW document
    sharing a span with EARLIER documents is flagged the moment it
    arrives (new × earlier emission, never a bucket re-scan). The
    per-pair shared-window counts are finalized batch-side from the
    sink, so the result is a SET — arrival-order-independent and equal
    to the batch self-join (the DuckDB oracle). State per hash is the
    distinct-doc list, ∝ cross-doc dup rate — the same bound as the
    batch design's groupBy."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..operators.dedup import W_SUB

    stream = documents_stream(spark, sf_dir)
    ws = F.split(F.trim(F.col("text")), r"\s+")
    windows = F.when(
        F.size(ws) >= W_SUB,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - (W_SUB - 1)),
                lambda i: F.md5(
                    F.array_join(F.slice(ws, i, W_SUB), " ").cast("binary")
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    win = stream.select("doc_id", F.explode(windows).alias("h"))

    out_schema = StructType(
        [
            StructField("h", StringType()),
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
        ]
    )
    state_schema = StructType([StructField("ids", ArrayType(LongType()))])

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        (seen,) = state.get if state.exists else ([],)
        seen = list(seen)
        h = key[0]
        out_a, out_b = [], []
        for pdf in pdf_iter:
            for doc_id in pdf["doc_id"].astype("int64"):
                doc_id = int(doc_id)
                if doc_id in seen:
                    continue  # distinct (h, doc) — batch DISTINCT semantics
                for prev in seen:
                    lo, hi = (prev, doc_id) if prev < doc_id else (doc_id, prev)
                    out_a.append(lo)
                    out_b.append(hi)
                seen.append(doc_id)
        state.update((seen,))
        if out_a:
            yield pd.DataFrame(
                {"h": [h] * len(out_a), "id_a": out_a, "id_b": out_b}
            )

    res = win.groupBy("h").applyInPandasWithState(
        update, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_substr", "append")
    # batch-side finalize: one (h, pair) row can only form once, so the
    # per-pair count of rows IS the shared-window count.
    return (
        raw.groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("n_shared_windows"))
        .orderBy("id_a", "id_b")
    )


@_q(
    "streaming_dedup_stateful",
    """
SELECT user_id, event_type,
       min(event_id) AS keep_event_id,
       CAST(count(*) AS BIGINT) AS n_seen,
       count(*) = 1 AS is_unique
FROM events GROUP BY user_id, event_type
""",
)
def streaming_dedup_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup — the stateful mirror of
    ``dropDuplicates`` with an explicit, DETERMINISTIC survivor rule:
    per (user_id, event_type) key the canonical kept record is
    ``min(event_id)`` (arrival-order "first seen" is nondeterministic
    under batch parallelism, so real pipelines pin a total order; the
    min rule makes the final state independent of file/batch arrival
    and therefore batch-oracle-checkable).

    State per key is a fixed-width (keep_id, n_seen) tuple in
    GroupState — memory ∝ distinct keys, never events. Production adds
    a watermark timeout (``GroupStateTimeout.EventTimeTimeout``) so keys
    idle past the late-data horizon evict, exactly like
    ``dropDuplicatesWithinWatermark``; the fixture source is finite so
    the state lives for the run and the final emission per key equals
    the batch aggregate."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    stream = events_stream(spark, sf_dir).select("user_id", "event_type", "event_id")

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("keep_event_id", LongType()),
            StructField("n_seen", LongType()),
            StructField("is_unique", BooleanType()),
        ]
    )
    state_schema = StructType(
        [StructField("keep_id", LongType()), StructField("n", LongType())]
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        keep_id, n = state.get if state.exists else (None, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            batch_min = int(pdf["event_id"].min())
            keep_id = batch_min if keep_id is None else min(keep_id, batch_min)
        state.update((keep_id, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "keep_event_id": [keep_id],
                "n_seen": [n],
                "is_unique": [n == 1],
            }
        )

    res = stream.groupBy("user_id", "event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    # update-mode emissions accumulate; the per-key FINAL state is the one
    # with the largest n_seen (n is monotone across emissions).
    raw = _run_to_completion(res, "stream_dedup", "update")
    return raw.groupBy("user_id", "event_type").agg(
        F.min("keep_event_id").alias("keep_event_id"),
        F.max("n_seen").alias("n_seen"),
        (F.max("n_seen") == 1).alias("is_unique"),
    )


# Kept port (keep-rule 2a, surface SQL does not reach): a Structured Streaming query with state.
@_q("streaming_cdc_apply", _BATCH_CDC_SQL)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply — the stateful face of
    ``operators/events.cdc_apply_changes`` (Debezium-log → live snapshot):
    per-key GroupState holds (last ordkey, last op, last value, counters);
    each microbatch folds its rows into the state with the same total
    (ts, event_id) order key, and the emitted snapshot row is replaced on
    every update.  Deleted keys are filtered AFTER the fold so a
    delete→re-insert inside or across microbatches correctly survives —
    the exact MERGE semantics the batch op value-proves.

    State is one fixed-width tuple per live key (bounded by distinct
    keys, not stream length).  The oracle below is set at registration
    time to the batch operator's own SQL — final streaming states must
    equal the batch fold bit-for-bit."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    stream = events_stream(spark, sf_dir).select(
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

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("last_op", StringType()),
            StructField("last_value", DoubleType()),
            StructField("n_changes", LongType()),
            StructField("n_deletes", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ordkey", StringType()),
            StructField("op", StringType()),
            StructField("val", DoubleType()),
            StructField("n", LongType()),
            StructField("nd", LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        ordkey, op, val, n, nd = (
            state.get if state.exists else ("", "U", 0.0, 0, 0)
        )
        for pdf in pdf_iter:
            # ADVICE r09: applyInPandasWithState's iterator may yield an
            # empty chunk; idxmax on it raises ValueError and kills the
            # stream — skip before touching the per-chunk reductions.
            if len(pdf) == 0:
                continue
            n += len(pdf)
            nd += int((pdf["op"] == "D").sum())
            i = pdf["ordkey"].idxmax()
            if pdf["ordkey"].loc[i] > ordkey:
                ordkey = pdf["ordkey"].loc[i]
                op = pdf["op"].loc[i]
                val = float(pdf["value"].loc[i])
        state.update((ordkey, op, val, n, nd))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "last_op": [op],
                "last_value": [val],
                "n_changes": [n],
                "n_deletes": [nd],
            }
        )

    res = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_cdc", "update")
    # keep each key's LAST emission (n_changes is monotone per key), then
    # apply the delete filter — identical to the batch fold's final step.
    final = raw.groupBy("user_id").agg(
        F.max_by("last_op", "n_changes").alias("last_op"),
        F.max_by("last_value", "n_changes").alias("last_value"),
        F.max("n_changes").alias("n_changes"),
        F.max("n_deletes").alias("n_deletes"),
    )
    return final.filter(F.col("last_op") != "D").select(
        "user_id",
        F.round("last_value", 6).alias("last_value"),
        "n_changes",
        "n_deletes",
    )


# --- streaming count-min sketch (mergeable counters as GroupState) ----------

from ..operators.sketch import _CMS_SQL as _BATCH_CMS_SQL  # noqa: E402


# Kept port (keep-rule 2a, surface SQL does not reach): a Structured Streaming query with state.
@_q("streaming_count_min", _BATCH_CMS_SQL)
def streaming_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``sketch_count_min`` — the count-min sketch as
    it actually runs in an ingestion pipeline: documents arrive in
    microbatches, each batch's tokens fan out to their (hash row, bucket)
    cells, and every cell is ONE BIGINT GroupState counter (CMS_D x CMS_W
    keys, fixed state no matter the stream length — the entire point of
    carrying CMS instead of exact counts). Cell addition is associative
    and commutative, so the stream-built sketch is bit-identical to the
    batch sketch and the oracle is the BATCH CMS SQL itself (the
    streaming_cdc_apply pattern). The counter is monotone, so the final
    cell value is the max across a key's per-batch emissions.

    The heavy-hitter report (tracked keys, min-over-rows estimate,
    pinned overestimate invariant) is the SAME code path as batch
    (`cms_estimate_report`), fed by the streamed cells."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from ..operators.sketch import CMS_D, _cms_bucket_col, cms_estimate_report

    stream = documents_stream(spark, sf_dir)
    toks = stream.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    ).select(
        "word",
        F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("j"),
    ).select(
        "j", _cms_bucket_col(F.col("j"), F.col("word")).alias("bucket")
    )

    out_schema = StructType(
        [
            StructField("j", IntegerType()),
            StructField("bucket", LongType()),
            StructField("cell", LongType()),
        ]
    )
    state_schema = StructType([StructField("n", LongType())])

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        (n,) = state.get if state.exists else (0,)
        for pdf in pdf_iter:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"j": [key[0]], "bucket": [key[1]], "cell": [n]})

    res = toks.groupBy("j", "bucket").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_cms", "update")
    cells = raw.groupBy("j", "bucket").agg(F.max("cell").cast("long").alias("cell"))
    return cms_estimate_report(load_table(spark, sf_dir, "documents"), cells)


# --- streaming row-pattern matching (DFA GroupState) -------------------------

from ..operators.events import _SEQMATCH_SQL as _BATCH_SEQMATCH_SQL  # noqa: E402


# Kept port (keep-rule 2a, surface SQL does not reach): a Structured Streaming query with state.
@_q("streaming_sequence_match", _BATCH_SEQMATCH_SQL)
def streaming_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``operators/events.events_sequence_match``: the
    row-pattern ``v[^p]*c[^p]*p`` evaluated ONLINE as a 3-state DFA held
    in per-user GroupState — (last ordkey, dfa state, match count, chars
    seen), one fixed-width tuple per user REGARDLESS of stream length
    (the batch op buffers the whole per-user sequence; the streaming
    form never materializes it — this is the state-bound argument that
    makes row-pattern matching deployable on an unbounded feed).

    DFA ≡ regex for this pattern family: a leftmost match must end at
    the first 'p' reachable after its anchor and cannot contain one, so
    online anchor-reset-on-'p' reproduces the non-overlapping match
    count exactly — and the oracle is set at registration time to the
    BATCH operator's SQL, so stream ≡ batch is value-proven, not argued.
    Each microbatch's chunks are buffered per key and sorted by the
    total (ts, event_id) order key before the walk (per-user history
    bounded, the same bound the batch collect carries)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    stream = events_stream(spark, sf_dir).select(
        "user_id",
        F.substring("event_type", 1, 1).alias("ch"),
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 20, "0"),
        ).alias("ordkey"),
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("seq_len", LongType()),
            StructField("n_matches", LongType()),
            StructField("matched", BooleanType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("ordkey", StringType()),
            StructField("dfa", LongType()),
            StructField("n_matches", LongType()),
            StructField("seq_len", LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        ordkey, dfa, n_matches, seq_len = (
            state.get if state.exists else ("", 0, 0, 0)
        )
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            batch = pd.concat(chunks).sort_values("ordkey")
            assert batch["ordkey"].iloc[0] > ordkey, "out-of-order microbatch"
            ordkey = batch["ordkey"].iloc[-1]
            seq_len += len(batch)
            # 0: want v | 1: v seen, want c (p resets) | 2: c seen, want p
            for ch in batch["ch"]:
                if dfa == 0:
                    dfa = 1 if ch == "v" else 0
                elif dfa == 1:
                    dfa = 2 if ch == "c" else (0 if ch == "p" else 1)
                else:
                    if ch == "p":
                        n_matches += 1
                        dfa = 0
        state.update((ordkey, int(dfa), int(n_matches), int(seq_len)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "seq_len": [seq_len],
                "n_matches": [n_matches],
                "matched": [n_matches > 0],
            }
        )

    res = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_seqmatch", "update")
    # keep each key's LAST emission (seq_len is monotone per key)
    return (
        raw.groupBy("user_id")
        .agg(
            F.max("seq_len").cast("long").alias("seq_len"),
            F.max_by("n_matches", "seq_len").cast("long").alias("n_matches"),
            F.max_by("matched", "seq_len").alias("matched"),
        )
        .orderBy("user_id")
    )


# --- streaming Bloom membership (per-word bitmap as GroupState) --------------

from ..operators.dedup import _BLOOM_SQL as _BATCH_BLOOM_SQL  # noqa: E402
from ..operators.dedup import bloom_positions, bloom_probe  # noqa: E402


# Kept port (keep-rule 2a, surface SQL does not reach): a Structured Streaming query with state.
@_q("streaming_bloom_dedup", _BATCH_BLOOM_SQL)
def streaming_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``dedup_bloom_prefilter`` — the seen-set Bloom
    bitmap as it actually accrues in an ingestion pipeline: history
    documents arrive in microbatches, each batch's probe positions fan
    out to their 32-bit words, and every word is ONE BIGINT GroupState
    cell OR-accumulated in place (≤64 keys, fixed state at ANY stream
    length — the membership-index point). OR is associative,
    commutative, and MONOTONE (bits only gain), so the stream-built
    bitmap is bit-identical to the batch bitmap, the final per-word
    value is the max over that key's emissions, and the oracle is the
    batch Bloom SQL itself (the `streaming_count_min` device). The
    new-batch probe + exact verify run batch-side against the streamed
    bitmap — identical columns to the batch op."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    stream = documents_stream(spark, sf_dir).filter(F.col("doc_id") % 5 != 0)
    pos = bloom_positions(stream).select(
        (F.col("pos") / 32).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
            "mask"
        ),
    )

    out_schema = StructType(
        [StructField("word", LongType()), StructField("bits", LongType())]
    )
    state_schema = StructType([StructField("bits", LongType())])

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        (bits,) = state.get if state.exists else (0,)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            for m in pdf["mask"]:
                bits |= int(m)
        state.update((bits,))
        yield pd.DataFrame({"word": [key[0]], "bits": [bits]})

    res = pos.groupBy("word").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_bloom", "update")
    # bits are OR-monotone per word: the final bitmap is each key's max
    bitmap = raw.groupBy("word").agg(F.max("bits").cast("long").alias("bits"))

    return bloom_probe(load_table(spark, sf_dir, "documents"), bitmap)


# --- streaming time-decayed engagement (day-bucketed GroupState) -------------

from ..operators.events import _DECAY_SQL as _BATCH_DECAY_SQL  # noqa: E402


@_q("streaming_decay_score", _BATCH_DECAY_SQL)
def streaming_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``operators/events.events_decay_score`` — decayed
    engagement counters as an ingestion pipeline carries them: the decay
    weight depends on the read-time horizon, so the stream does NOT bake
    weights into state (they would be stale the moment the horizon
    moves); it accumulates exact per-day (cents, n) sums in per-USER
    GroupState as parallel arrays — one key per user, one fixed-width
    cell per active day (bounded by the corpus day span; compaction of
    old days into coarser buckets is the documented aging path) — and
    the power-of-two decay weights are applied at READ time over the
    streamed cells, horizon included.  Per-cell sums are associative,
    commutative and monotone, so stream ≡ batch bit-for-bit and the
    oracle is the batch decay SQL itself (the streaming_count_min /
    streaming_bloom_dedup device); three deterministic microbatches
    exercise real cross-batch state merging.  Keying by user (not
    user-day) cuts the Python-invocation count by the active-day factor
    — measured 7.4 s → 5.0 s at sf0.1."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from ..operators.events import (
        _DECAY_HALFLIFE_DAYS,
        _DECAY_MAX_K,
        _DECAY_TOPK,
    )

    stream = events_three_batch_stream(spark, sf_dir).select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("int")
        .alias("day_i"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("day_i", IntegerType()),
            StructField("cents", LongType()),
            StructField("n", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("days", ArrayType(IntegerType())),
            StructField("cents", ArrayType(LongType())),
            StructField("ns", ArrayType(LongType())),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        if state.exists:
            days, cents, ns = state.get
            acc = {d: [c, n] for d, c, n in zip(days, cents, ns)}
        else:
            acc = {}
        for pdf in pdf_iter:
            g = pdf.groupby("day_i")["cents"].agg(["sum", "count"])
            for d, (c, n) in g.iterrows():
                cell = acc.setdefault(int(d), [0, 0])
                cell[0] += int(c)
                cell[1] += int(n)
        days = sorted(acc)
        state.update(
            ([int(d) for d in days],
             [acc[d][0] for d in days],
             [acc[d][1] for d in days])
        )
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(days),
                "day_i": days,
                "cents": [acc[d][0] for d in days],
                "n": [acc[d][1] for d in days],
            }
        )

    res = stream.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_decay", "update")
    # Monotone per-cell sums: the final cell value is the max emission.
    cells = raw.groupBy("user_id", "day_i").agg(
        F.max("cents").cast("long").alias("cents"),
        F.max("n").cast("long").alias("n"),
    )
    gmax = cells.agg(F.max("day_i").alias("gmax"))
    w = cells.crossJoin(F.broadcast(gmax)).select(
        "user_id",
        "cents",
        "n",
        F.least(
            F.floor((F.col("gmax") - F.col("day_i")) / _DECAY_HALFLIFE_DAYS),
            F.lit(_DECAY_MAX_K),
        ).cast("int").alias("k"),
    )
    s = w.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("raw_cents"),
        F.sum(F.expr("cents * (1000000 div shiftleft(1, k))"))
        .cast("long")
        .alias("decayed_micro"),
    )
    from pyspark.sql.window import Window as W

    wr = W.orderBy(F.desc("decayed_micro"), "user_id")
    return (
        s.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rk") <= _DECAY_TOPK)
    )


# --- streaming AMS F2 sketch (8 signed GroupState counters) ------------------

from ..operators.stats import _AMS_K, _AMS_SIGN, _AMS_SQL as _BATCH_AMS_SQL  # noqa: E402


@_q("streaming_ams_f2", _BATCH_AMS_SQL)
def streaming_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ``sketch_ams_f2`` — the tug-of-war F2 sketch as
    an ingestion-time accumulator: events arrive in microbatches, each
    row adds its ±1 sign to one of 8 estimator counters, and the WHOLE
    state is 8 BIGINTs regardless of stream length (the mergeable-sketch
    property, streamed). Sign addition is associative/commutative, so
    the stream-built counters are bit-identical to the batch aggregate
    and the oracle is the BATCH AMS SQL itself (the streaming_count_min
    device). The exact-F2 anchor (reported error, not asserted) is the
    same batch groupBy the batch op uses, fed from the settled table."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    stream = events_stream(spark, sf_dir)
    signed = stream.select(
        F.explode(F.sequence(F.lit(0), F.lit(_AMS_K - 1))).alias("j"),
        F.col("user_id"),
    ).select(
        F.col("j").cast("int").alias("j"),
        F.expr(_AMS_SIGN.format(j="j")).cast("long").alias("sign"),
    )

    out_schema = StructType(
        [
            StructField("j", IntegerType()),
            StructField("x_sum", LongType()),
            StructField("nb", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("s", LongType()), StructField("nb", LongType())]
    )

    # The signed counter is NOT monotone (signs go both ways), so unlike
    # streaming_count_min a max() over per-batch snapshots is wrong; the
    # state carries a per-key batch counter, which IS monotone, and the
    # settled value is the snapshot with the highest batch count.
    def update(key, pdf_iter, state: GroupState):
        import pandas as pd

        (s, nb) = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            s += int(pdf["sign"].sum())
        nb += 1
        state.update((s, nb))
        yield pd.DataFrame({"j": [key[0]], "x_sum": [s], "nb": [nb]})

    res = signed.groupBy("j").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    raw = _run_to_completion(res, "stream_ams", "update")
    x = raw.groupBy("j").agg(F.max_by("x_sum", "nb").alias("x_sum"))
    ev = load_table(spark, sf_dir, "events").select("user_id")
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("f2"))
    )
    wide = x.crossJoin(F.broadcast(exact))
    return wide.select(
        F.col("j").cast("bigint").alias("estimator"),
        F.col("x_sum").cast("long").alias("x_sum"),
        (F.col("x_sum") * F.col("x_sum")).cast("long").alias("estimate"),
        F.col("f2").alias("exact_f2"),
        F.expr("abs(x_sum * x_sum - f2) * 1000000 div f2").cast("bigint")
        .alias("err_ppm"),
    ).orderBy("estimator")
