"""TIME / TIME WITH TIME ZONE / at_timezone — the modeled type semantics.

The reference has first-class ``time`` and ``time with time zone`` types
(``presto-common/.../type/TimeType.java``, ``TimeWithTimeZoneType.java``,
packed-zone encoding in ``DateTimeEncoding.java``) and the zone functions
``at_timezone``/``with_timezone``/``timezone_hour``/``timezone_minute``
(``pm/operator/scalar/DateTimeFunctions.java``). Spark has neither type,
so SURVEY §1.2 prescribes the model implemented here:

* ``time``                → LongType **millis-of-day** (0 .. 86_399_999);
* ``time with time zone`` → struct<millis_of_day: long, offset_minutes: int>
  (the explicit form of the reference's packed long+zone-key encoding);
  comparison/normalization = ``millis_of_day - offset_minutes*60_000``
  modulo a day, mirroring ``DateTimeEncoding.unpackMillisUtc``;
* ``at_timezone(ts, tz)`` → ``convert_timezone('UTC', tz, ts)``: Spark
  timestamps are zone-less instants, so the observable effect of Presto's
  display-zone change is the wall-clock shift.

All integer arithmetic — both engines agree bit-for-bit, so everything is
oracle-checked. No UDFs: pure JVM expressions, codegen-friendly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import family

QUERIES, ORACLE, _q = family()

MS_DAY = 86_400_000


def time_of_day_millis(ts) -> F.Column:
    """Project a timestamp (UTC instant) to the modeled TIME value
    (floor to millis — integer division, engine-portable)."""
    return F.floor((F.unix_micros(ts) % (MS_DAY * 1000)) / F.lit(1000))


def time_with_timezone(millis, offset_minutes) -> F.Column:
    """Construct the modeled TIME WITH TIME ZONE struct."""
    return F.struct(
        millis.cast("long").alias("millis_of_day"),
        offset_minutes.cast("int").alias("offset_minutes"),
    )


def timetz_to_utc_millis(tz_struct) -> F.Column:
    """Normalize to UTC millis-of-day — the comparison key
    (``DateTimeEncoding.unpackMillisUtc`` analog)."""
    raw = tz_struct["millis_of_day"] - tz_struct["offset_minutes"] * 60_000
    return ((raw % MS_DAY) + MS_DAY) % MS_DAY


@_q(
    "func_time_types",
    f"""
WITH t AS (
  SELECT event_id, ts,
         (epoch_us(ts) % {MS_DAY * 1000}) // 1000 AS tod
  FROM events WHERE event_id < 500
)
SELECT event_id,
       CAST(tod AS BIGINT) AS tod_ms,
       CAST(tod // 3600000 AS BIGINT) AS t_hour,
       CAST(tod // 60000 % 60 AS BIGINT) AS t_min,
       CAST(tod // 1000 % 60 AS BIGINT) AS t_sec,
       ts + INTERVAL 5 HOUR + INTERVAL 30 MINUTE AS kolkata_wall,
       CAST((((tod + 330 * 60000) % {MS_DAY}) - 330 * 60000 + {MS_DAY}) % {MS_DAY}
            AS BIGINT) AS timetz_utc_ms,
       CAST(5 AS BIGINT) AS tz_hour, CAST(30 AS BIGINT) AS tz_minute
FROM t
""",
)
def func_time_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME extraction, TIME WITH TIME ZONE round-trip, at_timezone.

    ``kolkata_wall`` is ``at_timezone(ts, 'Asia/Kolkata')`` via Spark's
    convert_timezone (oracle: the fixed +05:30 shift — Kolkata has no DST,
    so the IANA answer equals the literal offset). ``timetz_utc_ms``
    constructs a +05:30 TIME WITH TIME ZONE from the local wall-clock time
    and normalizes it back to UTC millis — which must equal the original
    tod_ms (round-trip through the packed encoding). ``timezone_hour`` /
    ``timezone_minute`` read the struct's offset."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    tod = time_of_day_millis(F.col("ts")).cast("long")
    local_kolkata = (tod + 330 * 60_000) % MS_DAY  # wall-clock at +05:30
    timetz = time_with_timezone(local_kolkata, F.lit(330))
    return ev.select(
        "event_id",
        tod.alias("tod_ms"),
        F.floor(tod / 3_600_000).alias("t_hour"),
        (F.floor(tod / 60_000) % 60).alias("t_min"),
        (F.floor(tod / 1_000) % 60).alias("t_sec"),
        F.convert_timezone(F.lit("UTC"), F.lit("Asia/Kolkata"), F.col("ts"))
        .cast("timestamp")
        .alias("kolkata_wall"),
        timetz_to_utc_millis(timetz).cast("long").alias("timetz_utc_ms"),
        F.floor(timetz["offset_minutes"] / 60).cast("long").alias("tz_hour"),
        (timetz["offset_minutes"] % 60).cast("long").alias("tz_minute"),
    )
