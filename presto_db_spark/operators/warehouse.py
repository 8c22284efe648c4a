"""Warehouse/lakehouse layout + history operators.

Extension operators past the reference's surface (no counterpart in
/root/reference — its layout story is Hive partitioning/bucketing, which
`sources/io.py` covers):

* **Z-order layout** — the multi-column data-clustering key every modern
  lakehouse (Delta OPTIMIZE ZORDER, Iceberg sort orders) uses so row-group
  min/max statistics prune on BOTH columns. The operator computes the
  Morton interleave and then MEASURES the claim: per Z-bucket min/max
  spans on each source column — the exact statistics a parquet writer
  would persist and a scan would prune on (`join_index_lookup` is the
  read side of the same contract).
* **SCD type-2 intervals** — the standard dimension-history shape:
  per-key ordered versions with [valid_from, valid_to) ranges, one
  window pass.

Both are pure JVM expression pipelines (whole-stage codegen; no Python)
with exact integer math, so the DuckDB oracles reproduce them bit-for-bit.

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table
from ..engine import sql_entry
from ..registry import family

QUERIES, ORACLE, _q = family()


# --- Z-order (Morton) layout key + locality report --------------------------

_Z_BITS = 16
_Z_BUCKET_SHIFT = 22  # 2^32 z-space -> 1024 buckets

# Morton interleave: x occupies even bits, y odd bits. Same operator text
# in Spark SQL and DuckDB (>> << & are common syntax).
_Z_INTERLEAVE = " + ".join(
    f"(((x >> {b}) & 1) << {2 * b}) + (((y >> {b}) & 1) << {2 * b + 1})"
    for b in range(_Z_BITS)
)

_Z_NORM = "CAST(({v} - {mn}) * 65535 // greatest({mx} - {mn}, 1) AS BIGINT)"

_ZORDER_SQL = f"""
WITH src AS (
  SELECT o_orderkey,
         o_custkey AS xr,
         date_diff('day', DATE '1992-01-01', o_orderdate) AS yr
  FROM orders
), bounds AS (
  SELECT min(xr) AS minx, max(xr) AS maxx, min(yr) AS miny, max(yr) AS maxy
  FROM src
), norm AS (
  SELECT s.o_orderkey, s.xr, s.yr,
         {_Z_NORM.format(v="s.xr", mn="b.minx", mx="b.maxx")} AS x,
         {_Z_NORM.format(v="s.yr", mn="b.miny", mx="b.maxy")} AS y
  FROM src s CROSS JOIN bounds b
), z AS (
  SELECT o_orderkey, xr, yr, CAST({_Z_INTERLEAVE} AS BIGINT) AS zkey FROM norm
)
SELECT CAST(zkey >> {_Z_BUCKET_SHIFT} AS BIGINT) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(xr) AS min_custkey, max(xr) AS max_custkey,
       min(yr) AS min_day, max(yr) AS max_day,
       CAST(max(xr) - min(xr) AS BIGINT) AS span_custkey,
       CAST(max(yr) - min(yr) AS BIGINT) AS span_day
FROM z GROUP BY z_bucket
"""


def _zkeyed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with the exact-integer Morton key: (o_orderkey, xr=custkey,
    yr=days-since-1992, zkey).  Shared by the locality report and the
    write-side operator."""
    orders = load_table(spark, sf_dir, "orders")
    src = orders.select(
        "o_orderkey",
        F.col("o_custkey").alias("xr"),
        F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")).alias("yr"),
    )
    bounds = src.agg(
        F.min("xr").alias("minx"), F.max("xr").alias("maxx"),
        F.min("yr").alias("miny"), F.max("yr").alias("maxy"),
    )
    norm = src.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey", "xr", "yr",
        F.expr("CAST((xr - minx) * 65535 div greatest(maxx - minx, 1) AS BIGINT)")
        .alias("x"),
        F.expr("CAST((yr - miny) * 65535 div greatest(maxy - miny, 1) AS BIGINT)")
        .alias("y"),
    )
    return norm.withColumn("zkey", F.expr(f"CAST({_Z_INTERLEAVE} AS BIGINT)"))


@_q("layout_zorder", _ZORDER_SQL)
def layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key + the locality statistics that justify it.

    The Morton interleave of (custkey, order-day) maps 2-D proximity to
    1-D proximity, so sorting/bucketing by ``zkey`` gives row groups
    whose min/max spans are TIGHT on BOTH columns — the per-bucket
    (min, max, span) emitted here is exactly what the parquet footer
    would record, and a filter on EITHER column prunes most buckets
    (single-column sort gives this on one column only). Both columns are
    first min/max-normalized to the full 16-bit domain (exact integer
    arithmetic) — without it a narrow domain occupies only low interleave
    bits and fixed-granularity buckets lose all locality; real Z-order
    writers normalize to ranks for the same reason.

    100 TB: the bounds are one tiny broadcast aggregate; the interleave
    is a pure integer projection (codegen'd, zero shuffle); the report is
    one groupBy on the bucket key. The write-side use is
    ``df.repartitionByRange(zkey).sortWithinPartitions(zkey)`` before the
    parquet write (`sources/io.py` bucketed-write pattern); the read side
    is `join_index_lookup`'s row-group pruning."""
    z = _zkeyed_orders(spark, sf_dir)
    return (
        z.withColumn("z_bucket", F.shiftright("zkey", _Z_BUCKET_SHIFT).cast("bigint"))
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("xr").alias("min_custkey"),
            F.max("xr").alias("max_custkey"),
            F.min("yr").alias("min_day"),
            F.max("yr").alias("max_day"),
            (F.max("xr") - F.min("xr")).cast("bigint").alias("span_custkey"),
            (F.max("yr") - F.min("yr")).cast("bigint").alias("span_day"),
        )
    )


# --- Z-order write + pruned read (the end-to-end layout contract) -----------

# Both-column predicate over the written table. Constants chosen to select
# a thin NON-EMPTY slice of each dimension at every fixture SF (custkey
# domain starts at 0; the driver fixtures' order dates span 1995-2001,
# i.e. days 1096..3500 since 1992-01-01).
_ZREAD_CUST_LO, _ZREAD_CUST_HI = 1, 120
_ZREAD_DAY_LO, _ZREAD_DAY_HI = 1500, 1900

def _zorder_write_path(sf_dir: str) -> str:
    """Fixed per-(process, SF) scratch dir for the clustered write.

    VERDICT r08 #4: ``mkdtemp`` per invocation leaked a full orders copy
    per run under repeated bench/correctness batteries.  A deterministic
    path + the write's ``mode="overwrite"`` means repeated runs reuse ONE
    directory; keying on the SF basename keeps different fixtures from
    clobbering each other, and the pid suffix keeps concurrent test
    processes (pytest vs bench) from racing on the same files.  An
    atexit hook removes the dir so back-to-back pytest runs (new pid
    each) don't accumulate either."""
    import atexit
    import shutil
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(
        tempfile.gettempdir(), f"zorder_orders_{tag}_{os.getpid()}"
    )
    if path not in _ZORDER_SCRATCH_DIRS:
        _ZORDER_SCRATCH_DIRS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_ZORDER_SCRATCH_DIRS: set[str] = set()


_ZORDER_READ_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
       CAST(max(o_orderkey) AS BIGINT) AS max_orderkey,
       CAST(sum(o_custkey) AS BIGINT) AS sum_custkey,
       CAST(sum(day_1992) AS BIGINT) AS sum_day
FROM (
  SELECT o_orderkey, o_custkey,
         date_diff('day', DATE '1992-01-01', o_orderdate) AS day_1992
  FROM orders
)
WHERE o_custkey BETWEEN {_ZREAD_CUST_LO} AND {_ZREAD_CUST_HI}
  AND day_1992 BETWEEN {_ZREAD_DAY_LO} AND {_ZREAD_DAY_HI}
"""


# Kept port (keep-rule 2d, helper coverage): sources.io.write_zordered.
@_q("layout_zorder_pruned_read", _ZORDER_READ_SQL)
def layout_zorder_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Z-order layout: WRITE the orders table clustered on the
    Morton key (``sources.io.write_zordered``: repartitionByRange(zkey) →
    sortWithinPartitions(zkey) → parquet), then run a both-column filtered
    aggregate over the written table.  The interleaved columns (custkey,
    day) are materialized as plain columns so the read predicate pushes
    into the parquet scan and prunes on the row-group min/max statistics
    the clustered write made tight — the claim ``layout_zorder`` measures
    is exercised here for real (``tests/test_zorder_layout.py`` asserts
    the pruning fraction vs an unclustered write of the same rows via the
    parquet footers, plus PushedFilters in the plan).

    The oracle applies the same predicate to the source table directly —
    layout must never change values, only scan cost.

    100 TB: the write is one range exchange + local sort (paid once, like
    bucketing); every later read with a predicate on EITHER interleaved
    column touches only the row groups whose stats overlap it."""
    from ..sources.io import write_zordered

    z = _zkeyed_orders(spark, sf_dir).select(
        "o_orderkey",
        F.col("xr").alias("o_custkey"),
        F.col("yr").alias("day_1992"),
        "zkey",
    )
    path = _zorder_write_path(sf_dir)
    write_zordered(z, path, zcol="zkey", n_files=16)
    back = spark.read.parquet(path).filter(
        F.col("o_custkey").between(_ZREAD_CUST_LO, _ZREAD_CUST_HI)
        & F.col("day_1992").between(_ZREAD_DAY_LO, _ZREAD_DAY_HI)
    )
    return back.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("o_orderkey").cast("bigint").alias("min_orderkey"),
        F.max("o_orderkey").cast("bigint").alias("max_orderkey"),
        F.sum("o_custkey").cast("bigint").alias("sum_custkey"),
        F.sum("day_1992").cast("bigint").alias("sum_day"),
    )


# --- SCD type-2 history intervals -------------------------------------------

_SCD2_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
       lead(o_orderdate) OVER w AS valid_to,
       CAST(row_number() OVER w AS BIGINT) AS version,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM orders
WHERE o_custkey % 100 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


sql_entry(_q, "scd2_order_history", _SCD2_SQL)


# --- SCD2 incremental merge-apply -------------------------------------------

_SCD2_SPLIT = "2000-01-01"  # fixture orders span 1995-2001

# The oracle is the FULL RECOMPUTE over every source row — deliberately the
# same text as _SCD2_SQL: the operator takes the incremental path (stored
# history + incoming batch, touching only affected keys) and the value gate
# proves the merge theorem "incremental apply == recompute" holds exactly.
_SCD2_MERGE_SQL = _SCD2_SQL


# Kept port (keep-rule 2b, worse plan): the text fails test_scd2_merge_apply_broadcasts_affected_keys.
@_q("scd2_merge_apply", _SCD2_MERGE_SQL)
def scd2_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD type-2 maintenance (the MERGE INTO every warehouse
    runs nightly): given the stored dimension history and an incoming
    change batch, close the formerly-current intervals and append the new
    versions — WITHOUT rebuilding unaffected keys.

    Shape: ``affected`` = incoming's distinct keys; untouched history
    passes through via LEFT ANTI join (no window, no re-sort); only the
    affected keys' rows (existing + incoming, a LEFT SEMI join) re-window.
    The oracle is the full recompute over all rows, so the equivalence
    "merge-apply == recompute" is value-proven, not asserted.

    100 TB: nightly cost ∝ changed keys, not dimension size — the anti/
    semi joins broadcast the (small) affected-key set, the untouched
    branch is a pure scan-through, and the re-window shuffles only the
    affected keys' rows. The fixture derives the "stored" history from
    the pre-split orders; production reads it from the dimension table."""
    base = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") % 100) == 0
    )
    existing_src = base.filter(F.col("o_orderdate") < F.lit(_SCD2_SPLIT))
    incoming = base.filter(F.col("o_orderdate") >= F.lit(_SCD2_SPLIT))

    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")

    def _intervals(src: DataFrame) -> DataFrame:
        return src.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").alias("valid_from"),
            F.lead("o_orderdate").over(w).alias("valid_to"),
            F.row_number().over(w).cast("bigint").alias("version"),
            F.lead("o_orderdate").over(w).isNull().alias("is_current"),
        )

    # the "stored" dimension, as production would read it back
    stored = _intervals(existing_src)
    affected = incoming.select("o_custkey").distinct()
    untouched = stored.join(F.broadcast(affected), "o_custkey", "left_anti")
    touched_src = existing_src.join(
        F.broadcast(affected), "o_custkey", "left_semi"
    ).unionByName(incoming)
    return untouched.unionByName(_intervals(touched_src))


# --- ABC (Pareto) inventory classification -----------------------------------

_ABC_SQL = """
WITH rev AS (
  SELECT l_partkey AS part,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
), ranked AS (
  SELECT part, cents,
         CAST(row_number() OVER (ORDER BY cents DESC, part) AS BIGINT) AS rk,
         CAST(sum(cents) OVER (ORDER BY cents DESC, part
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_cents,
         CAST(sum(cents) OVER () AS BIGINT) AS total_cents
  FROM rev
)
SELECT part, cents, rk,
       CAST(cum_cents * 1000000 // total_cents AS BIGINT) AS cum_share_ppm,
       CASE WHEN cum_cents * 10 <= total_cents * 7 THEN 'A'
            WHEN cum_cents * 10 <= total_cents * 9 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked
"""


@_q("part_abc_classification", _ABC_SQL)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification (the 70/90 revenue-share
    rule every supply-chain warehouse runs): parts ranked by exact-cents
    revenue, cumulative share as integer ppm, class boundaries compared
    by cross-multiplication (``cum*10 <= total*7``) so no float touches
    the classification and both engines draw the A/B/C lines on the
    identical rows; (cents, part) tie-break totalizes the rank.

    100 TB: one map-side-combined revenue groupBy, then a global
    cumulative window over PART-cardinality rows (items, not line items
    — the same bounded-window-input argument as ``events_rfm_scores``).
    When even the item table outgrows one partition,
    ``part_abc_scalable`` below produces the identical classification
    via distributed rank + running sum with no single-partition window."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(cents).cast("bigint").alias("cents")
    )
    w = W.orderBy(F.desc("cents"), "part")
    ranked = rev.select(
        "part",
        "cents",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.sum("cents")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("bigint")
        .alias("cum_cents"),
        F.sum("cents").over(W.partitionBy()).cast("bigint").alias("total_cents"),
    )
    return ranked.select(
        "part",
        "cents",
        "rk",
        F.expr("cum_cents * 1000000 div total_cents")
        .cast("bigint")
        .alias("cum_share_ppm"),
        F.when(F.col("cum_cents") * 10 <= F.col("total_cents") * 7, "A")
        .when(F.col("cum_cents") * 10 <= F.col("total_cents") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@_q("part_abc_scalable", _ABC_SQL)
def part_abc_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The at-scale twin of ``part_abc_classification`` (VERDICT r09 #3:
    the promised fallback, shipped as code): identical output — the
    oracle is the SAME cumulative-window SQL — but the global rank AND
    the global running revenue sum come from ``distrank.global_index``
    (range partition on (cents DESC, part) + local sort/cumsum +
    broadcast prefix offsets), so no window anywhere pulls the item
    table onto one partition. The classification itself stays the exact
    cross-multiplied integer comparison; grand-total cents arrive via a
    1-row broadcast from the same materialized per-partition counts the
    offsets use."""
    from .distrank import global_index

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(cents).cast("bigint").alias("cents")
    )
    gi = global_index(rev, [F.desc("cents"), F.asc("part")], sum_col="cents")
    return gi.select(
        "part",
        "cents",
        F.col("__rn").alias("rk"),
        F.expr("__csum * 1000000 div __sum_total")
        .cast("bigint")
        .alias("cum_share_ppm"),
        F.when(F.col("__csum") * 10 <= F.col("__sum_total") * 7, "A")
        .when(F.col("__csum") * 10 <= F.col("__sum_total") * 9, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# --- Hilbert-curve layout key (the locality upgrade over Z-order) -----------
#
# Same contract as `layout_zorder` (min/max-normalized 16-bit domains,
# 1024 fixed buckets, per-bucket span report = the parquet footer stats a
# scan would prune on), but the 1-D key is the HILBERT index: unlike the
# Morton interleave, consecutive Hilbert addresses are always spatially
# adjacent (no quadrant-boundary jumps), so bucket spans are tighter on
# both columns — Hilbert is what Delta Lake's OPTIMIZE offers past
# ZORDER and what Iceberg's hilbert sort order implements, for exactly
# this reason. `tests/test_zorder_layout.py` MEASURES the claim against
# the Z-order report rather than asserting it blind.
#
# The encode is the published xy2d bit transform (16 levels, the
# Wikipedia/Hamilton form): per level s = 2^k, d += s*s*((3*rx) XOR ry)
# and a conditional reflect+swap. Pure integer CASE expressions — the
# SAME per-level formula text is emitted for Spark (withColumn chain)
# and the DuckDB oracle (chained CTEs) from one Python generator, so the
# two engines cannot drift.

_H_SIDE = 1 << _Z_BITS  # 65536 grid (matches the Z-order normalization)
_H_RUNS = 256  # simulated row groups: equal-count runs of the sort key


def _hilbert_step(s: int, xor_fmt: str) -> tuple[str, str, str]:
    """(new_x, new_y, d_increment) SQL for one xy2d level.

    ry=1 -> no rotation; ry=0,rx=1 -> reflect both then swap
    (new_x = n-1-y, new_y = n-1-x); ry=0,rx=0 -> swap."""
    rx = f"(CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END)"
    ry = f"(CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)"
    inc = f"CAST({s} AS BIGINT) * {s} * ({xor_fmt.format(a=f'(3 * {rx})', b=ry)})"
    new_x = (
        f"CASE WHEN (y & {s}) > 0 THEN x "
        f"WHEN (x & {s}) > 0 THEN {_H_SIDE - 1} - y ELSE y END"
    )
    new_y = (
        f"CASE WHEN (y & {s}) > 0 THEN y "
        f"WHEN (x & {s}) > 0 THEN {_H_SIDE - 1} - x ELSE x END"
    )
    return new_x, new_y, inc


def _hilbert_cte_chain() -> str:
    """DuckDB: one CTE per level, threading (x, y, d)."""
    parts = []
    prev = "norm"
    for i, k in enumerate(range(_Z_BITS - 1, -1, -1)):
        nx, ny, inc = _hilbert_step(1 << k, "xor({a}, {b})")
        parts.append(
            f"lvl{i} AS (SELECT o_orderkey, xr, yr, "
            f"({nx}) AS x, ({ny}) AS y, d + ({inc}) AS d FROM {prev})"
        )
        prev = f"lvl{i}"
    return ", ".join(parts), prev


_H_CTES, _H_LAST = _hilbert_cte_chain()

_HILBERT_SQL = f"""
WITH src AS (
  SELECT o_orderkey,
         o_custkey AS xr,
         date_diff('day', DATE '1992-01-01', o_orderdate) AS yr
  FROM orders
), bounds AS (
  SELECT min(xr) AS minx, max(xr) AS maxx, min(yr) AS miny, max(yr) AS maxy
  FROM src
), norm AS (
  SELECT s.o_orderkey, s.xr, s.yr,
         {_Z_NORM.format(v="s.xr", mn="b.minx", mx="b.maxx")} AS x,
         {_Z_NORM.format(v="s.yr", mn="b.miny", mx="b.maxy")} AS y,
         CAST(0 AS BIGINT) AS d
  FROM src s CROSS JOIN bounds b
), {_H_CTES}, ranked AS (
  SELECT xr, yr, d,
         row_number() OVER (ORDER BY d, o_orderkey) AS rn,
         count(*) OVER () AS n
  FROM {_H_LAST}
)
SELECT CAST((rn - 1) * {_H_RUNS} // n AS BIGINT) AS run_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(xr) AS min_custkey, max(xr) AS max_custkey,
       min(yr) AS min_day, max(yr) AS max_day,
       CAST(max(xr) - min(xr) AS BIGINT) AS span_custkey,
       CAST(max(yr) - min(yr) AS BIGINT) AS span_day
FROM ranked GROUP BY run_id
"""


_HILBERT_UDF = None


def _hilbert_pd():
    global _HILBERT_UDF
    if _HILBERT_UDF is None:
        _HILBERT_UDF = F.pandas_udf(_hilbert_impl, "long")
    return _HILBERT_UDF


def _hilbert_impl(x, y):
    """All 16 xy2d levels in ONE Arrow batch pass — vectorized int64
    numpy, rows in parallel, levels sequential. Bit-identical to the
    unrolled CASE-expression chain (`_hkeyed_orders_expr`,
    parity-pinned in tests/test_zorder_layout.py) and to the oracle's
    CTE chain: every operation is exact integer arithmetic.

    Why Python here when `layout_zorder` stays pure-JVM: the 16-level
    chain is 16 stacked Projects of non-cheap CASE trees — measured 3 s
    cold / JIT-deopt-unstable per execution at sf0.1 (5-16 s full-op
    scatter on identical plans), the same pathology that moved the
    cosine fold to `similarity._cosine_pd`. The Arrow pass is one batch
    transfer + 16 vectorized numpy steps (sub-ms per 100k rows)."""
    import numpy as np
    import pandas as pd

    X = x.to_numpy().astype(np.int64).copy()
    Y = y.to_numpy().astype(np.int64).copy()
    D = np.zeros_like(X)
    n1 = np.int64(_H_SIDE - 1)
    for k in range(_Z_BITS - 1, -1, -1):
        s = np.int64(1 << k)
        rx = (X & s) > 0
        ry = (Y & s) > 0
        D += (s * s) * ((3 * rx.astype(np.int64)) ^ ry.astype(np.int64))
        swap = ~ry
        refl = swap & rx
        nX = np.where(swap, np.where(refl, n1 - Y, Y), X)
        nY = np.where(swap, np.where(refl, n1 - X, X), Y)
        X, Y = nX, nY
    return pd.Series(D)


def _hkeyed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with the exact-integer Hilbert key (same normalized inputs
    as `_zkeyed_orders`); the key is one Arrow batch pass — see
    `_hilbert_impl` for why this beats the unrolled JVM chain."""
    z = _zkeyed_orders(spark, sf_dir).select("o_orderkey", "xr", "yr", "x", "y")
    return z.select(
        "o_orderkey", "xr", "yr",
        _hilbert_pd()(F.col("x"), F.col("y")).alias("hkey"),
    )


def _hkeyed_orders_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-expression twin of `_hkeyed_orders`: 16 chained integer
    Projects generated from the SAME `_hilbert_step` formula text the
    DuckDB oracle inlines. Kept for composition and the three-way parity
    test (expression chain == Arrow pass == oracle); the operator path
    uses the Arrow form (JIT-deopt measurements in `_hilbert_impl`)."""
    z = _zkeyed_orders(spark, sf_dir).select(
        "o_orderkey", "xr", "yr", "x", "y"
    ).withColumn("d", F.lit(0).cast("bigint"))
    for k in range(_Z_BITS - 1, -1, -1):
        nx, ny, inc = _hilbert_step(1 << k, "({a} ^ {b})")
        # aliases may target "x"/"y" directly: select computes from INPUT
        # columns only (no withColumnsRenamed — that triggers an eager
        # schema analysis of the growing plan on every level, measured
        # ~5 s of pure driver time at 16 levels)
        z = z.select(
            "o_orderkey", "xr", "yr",
            F.expr(nx).alias("x"), F.expr(ny).alias("y"),
            (F.col("d") + F.expr(inc)).alias("d"),
        )
    return z.select("o_orderkey", "xr", "yr", F.col("d").alias("hkey"))


def _run_span_report(keyed: DataFrame, key: str) -> DataFrame:
    """Per-run min/max span report over equal-count runs of the sort key —
    the physical row-group model: a clustered parquet write lays rows out
    in CONSECUTIVE runs of the key order (repartitionByRange + local
    sort), so footer stats cover key runs, not aligned grid cells. (At
    fixed cell granularity Morton and Hilbert bucket contents are the
    IDENTICAL partition — both keys' top bits name the same quadtree
    cell — which is why the comparison must be run-based; measured in
    tests/test_zorder_layout.py.) The global rank comes from
    `distrank.global_index` (range partition + local index + broadcast
    prefix offsets) — never a single-partition window."""
    from .distrank import global_index

    gi = global_index(keyed, [F.asc(key), F.asc("o_orderkey")])
    return (
        gi.withColumn(
            "run_id",
            F.expr(f"(__rn - 1) * {_H_RUNS} div __n_total").cast("bigint"),
        )
        .groupBy("run_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("xr").alias("min_custkey"),
            F.max("xr").alias("max_custkey"),
            F.min("yr").alias("min_day"),
            F.max("yr").alias("max_day"),
            (F.max("xr") - F.min("xr")).cast("bigint").alias("span_custkey"),
            (F.max("yr") - F.min("yr")).cast("bigint").alias("span_day"),
        )
    )


@_q("layout_hilbert", _HILBERT_SQL)
def layout_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key + the row-group locality report that
    justifies choosing it over Z-order: rows are ranked by the Hilbert
    index and cut into {runs} equal-count runs (exactly the rows a
    clustered writer would put in one row group), and each run reports
    the min/max/span footer stats a scan would prune on. Hilbert's no
    quadrant-boundary-jump property makes these RUN spans tighter than
    Morton's — measured against the Z-order twin, not asserted (see
    tests/test_zorder_layout.py::test_hilbert_run_locality_vs_zorder).

    100 TB: one tiny broadcast bounds agg; the 16 xy2d levels run as ONE
    Arrow batch pass (vectorized int64 numpy — the JVM CASE-chain twin is
    kept and parity-pinned, but measured JIT-deopt-unstable; see
    `_hilbert_impl`), zero shuffle; the run report is the scalable
    global-index path (one range exchange) + a run_id groupBy. Write side:
    `repartitionByRange(hkey).sortWithinPartitions(hkey)` before the
    parquet write, exactly as Iceberg's hilbert sort order does.""".format(
        runs=_H_RUNS
    )
    return _run_span_report(_hkeyed_orders(spark, sf_dir), "hkey")


# --- 2-D skyline (Pareto front) ----------------------------------------------

_SKYLINE_SQL = """
WITH p AS (
  SELECT p_partkey,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
         CAST(p_size AS BIGINT) AS p_size
  FROM part
)
SELECT p_partkey, price_cents, p_size
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size)
)
ORDER BY price_cents, p_partkey
"""


# Kept port (keep-rule 2b, worse plan): the text is a nested-loop NOT EXISTS; the port sweeps a prefix max.
@_q("part_skyline_pareto", _SKYLINE_SQL)
def part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto front) over ``part``: the parts no other part
    dominates on (price low, size high) — the classic SKYLINE OF operator
    (Börzsönyi/Kossmann/Stocker, ICDE 2001; the reference, like most
    engines, makes users write the quadratic NOT EXISTS — which IS the
    oracle here).

    Scale shape: the O(n²) dominance test collapses to a monotone sweep —
    a point survives iff it holds its price-group's max size AND every
    strictly-cheaper group's max size is below it.  So: one map-side
    combined groupBy(price) → max(size) (price-cardinality-bounded), a
    prefix-max over that REDUCED table done distributively (range
    partition by price, per-partition running max, #partitions-row
    broadcast prefix of per-partition maxes — the `distrank` offsets
    device, never a single-partition window over data), then one
    broadcast join back to flag survivors.  The quadratic join exists
    ONLY in the oracle."""
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )
    groups = parts.groupBy("price_cents").agg(F.max("p_size").alias("gmax"))

    n = spark.sparkContext.defaultParallelism
    ranged = (
        groups.repartitionByRange(n, "price_cents")
        .sortWithinPartitions("price_cents")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    lw = (
        W.partitionBy("__pid")
        .orderBy("price_cents")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = ranged.withColumn("__lpm", F.max("gmax").over(lw))
    pid_max = ranged.groupBy("__pid").agg(F.max("gmax").alias("__pm"))
    ow = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offs = pid_max.withColumn("__prevmax", F.max("__pm").over(ow)).select(
        "__pid", "__prevmax"
    )
    flagged = (
        local.join(F.broadcast(offs), "__pid")
        # greatest() ignores NULLs: NULL prefix == "no cheaper group"
        .withColumn("prefmax", F.greatest("__lpm", "__prevmax"))
        .select("price_cents", "gmax", "prefmax")
    )
    return (
        parts.join(F.broadcast(flagged), "price_cents")
        .filter(
            (F.col("p_size") == F.col("gmax"))
            & (F.col("prefmax").isNull() | (F.col("prefmax") < F.col("p_size")))
        )
        .select("p_partkey", "price_cents", "p_size")
        .orderBy("price_cents", "p_partkey")
    )


# --- small-file compaction planner (lakehouse OPTIMIZE binpack) --------------

_COMPACT_SQL = """
WITH inv AS (
  SELECT CAST(strftime(l_shipdate, '%Y-%m') AS VARCHAR) AS mon,
         CAST(count(*) AS BIGINT) AS rows_
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(sum(rows_) AS BIGINT) AS total FROM inv
), csum AS (
  SELECT mon, rows_, t.total,
         CAST(sum(rows_) OVER (ORDER BY mon
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run
  FROM inv, tot t
)
SELECT CAST((8 * (run - rows_)) // total AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(rows_) AS BIGINT) AS bin_rows,
       min(mon) AS mon_from, max(mon) AS mon_to
FROM csum
GROUP BY 1 ORDER BY bin_id
"""


@_q("layout_compaction_plan", _COMPACT_SQL)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the bin-packing step behind
    Iceberg rewrite_data_files / Delta OPTIMIZE: pack a sort-ordered
    file inventory into ~equal-weight compaction bins WITHOUT breaking
    the sort order (bin = exact-integer ``(8·cum_before) div total`` —
    cross-multiplied, so no per-bin size constant to retune across SFs
    and no float division to disagree on).  The inventory here is the
    per-ship-month lineitem row counts (the metadata a real table format
    serves from manifests without touching data).

    Scale shape: the inventory is metadata-scale (|files| rows, not
    |data|), but the running sum still goes through
    ``distrank.global_index`` — range partition + per-partition index +
    #partitions-row offsets — so the plan carries NO single-partition
    window even for a billion-file catalog; the bin readout is one
    groupBy over |files| rows.  The oracle keeps the literal
    single-window cumsum form, value-proving the distributed rank
    against it on every run."""
    from .distrank import global_index

    li = load_table(spark, sf_dir, "lineitem")
    inv = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("mon")
    ).agg(F.count("*").alias("rows_"))
    gi = global_index(inv, [F.asc("mon")], sum_col="rows_")
    return (
        gi.select(
            "mon",
            "rows_",
            F.expr("(8 * (__csum - rows_)) div __sum_total").alias("bin_id"),
        )
        .groupBy("bin_id")
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("rows_").cast("long").alias("bin_rows"),
            F.min("mon").alias("mon_from"),
            F.max("mon").alias("mon_to"),
        )
        .orderBy("bin_id")
    )


# --- dynamic partition pruning (partitioned write + dim-filtered read) --------

_DPP_YEAR = 1997


def _dpp_write_path(sf_dir: str) -> str:
    """Per-(process, SF) scratch dir for the partitioned write — same
    leak-proof contract as ``_zorder_write_path``."""
    import atexit
    import shutil
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path = os.path.join(
        tempfile.gettempdir(), f"dpp_orders_{tag}_{os.getpid()}"
    )
    if path not in _ZORDER_SCRATCH_DIRS:
        _ZORDER_SCRATCH_DIRS.add(path)
        atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


_DPP_SQL = f"""
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT (year(o_orderdate) * 100 + month(o_orderdate)))
            AS BIGINT) AS n_months,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders
WHERE year(o_orderdate) = {_DPP_YEAR}
"""


# Kept port (keep-rule 2b, worse plan): the text fails test_dpp_read_plan_shape.
@_q("layout_dpp_read", _DPP_SQL)
def layout_dpp_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning end to end — THE device that makes
    star-schema scans survivable at 100 TB when the partition filter is
    only implied through a dimension: WRITE orders Hive-partitioned by
    order month (year*100+month — ~84 directories), build a months
    dimension with a derived year attribute, and run
    ``fact JOIN dim ON ym WHERE dim.year = {_DPP_YEAR}``.  The month
    filter never appears on the fact side of the query text — Spark's
    DPP turns the broadcast dim into a runtime IN-subquery on the
    partition column (``dynamicpruningexpression`` in the scan, asserted
    by the plan gate), so only the 12 matching directories are read out
    of ~84.  The join is key-preserving (every fact row matches exactly
    one dim row), so the oracle is the direct predicate on the source
    table — layout and join must never change values, only scan cost.

    100 TB: the partitioned write is paid once (like bucketing); every
    dim-filtered join after that reads only the partitions the dim
    selects at RUNTIME — no manual predicate rewriting, no full scan."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("ym"),
    )
    path = _dpp_write_path(sf_dir)
    if not os.path.isdir(path):  # write once per process (overwrite-safe)
        orders.write.mode("overwrite").partitionBy("ym").parquet(path)
    fact = spark.read.parquet(path)
    months = spark.range(84).select(
        (
            (F.lit(1995) + (F.col("id") / 12).cast("int")) * 100
            + (F.col("id") % 12 + 1)
        ).cast("int").alias("ym"),
        (F.lit(1995) + (F.col("id") / 12).cast("int")).cast("int").alias("year"),
    )
    dim = months.filter(F.col("year") == _DPP_YEAR)
    joined = fact.join(F.broadcast(dim), fact["ym"] == dim["ym"])
    return joined.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.countDistinct(fact["ym"]).cast("long").alias("n_months"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


# --- Laspeyres price index (1996 -> 1997) --------------------------------------

_LASPEYRES_SQL = """
WITH li AS (
  SELECT l.l_partkey AS pk, year(o.o_orderdate) AS yr,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS rev_cents,
         CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE year(o.o_orderdate) IN (1996, 1997)
  GROUP BY l.l_partkey, year(o.o_orderdate)
), px AS (
  SELECT pk,
         max(CASE WHEN yr = 1996 THEN rev_cents END) AS rev0,
         max(CASE WHEN yr = 1996 THEN qty END) AS q0,
         max(CASE WHEN yr = 1997 THEN rev_cents END) AS rev1,
         max(CASE WHEN yr = 1997 THEN qty END) AS q1
  FROM li GROUP BY pk
), common AS (
  SELECT pk, rev0, q0, rev1, q1 FROM px
  WHERE q0 IS NOT NULL AND q1 IS NOT NULL AND q0 > 0 AND q1 > 0
), sums AS (
  SELECT CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(rev0) AS BIGINT) AS base_cents,
         CAST(sum((rev1 // q1) * q0) AS BIGINT) AS repriced_cents
  FROM common
)
SELECT n_parts, base_cents, repriced_cents,
       CAST(repriced_cents * 1000000 // base_cents AS BIGINT) AS laspeyres_ppm
FROM sums
"""


@_q("part_price_index_laspeyres", _LASPEYRES_SQL)
def part_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index 1996→1997 over the parts both years traded:
    reprice the BASE-year basket at current-year unit prices —
    ``Σ p₁·q₀ / Σ p₀·q₀`` — the fixed-basket inflation measure every
    statistics office publishes (CPI is a Laspeyres-type index).

    Exact-integer contract: unit prices are truncating-integer cents
    (``rev₁ // q₁``, the measured cross-engine division contract), the
    base-year spend Σp₀q₀ is simply the exact 1996 revenue cents, and
    the index lands in truncating ppm — bit-identical in both engines.

    Scale shape: one fact-side join (orders dim broadcast after the
    year filter), one map-side-combined (part, year) rollup, a |parts|
    pivot, and a single-row fold."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1996, 1997)
    )
    rolled = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_partkey").alias("pk"), F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        )
    )
    px = rolled.groupBy("pk").agg(
        F.max(F.when(F.col("yr") == 1996, F.col("rev_cents"))).alias("rev0"),
        F.max(F.when(F.col("yr") == 1996, F.col("qty"))).alias("q0"),
        F.max(F.when(F.col("yr") == 1997, F.col("rev_cents"))).alias("rev1"),
        F.max(F.when(F.col("yr") == 1997, F.col("qty"))).alias("q1"),
    )
    common = px.filter(
        F.col("q0").isNotNull()
        & F.col("q1").isNotNull()
        & (F.col("q0") > 0)
        & (F.col("q1") > 0)
    )
    return common.agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("rev0").cast("long").alias("base_cents"),
        F.sum(F.expr("(rev1 div q1) * q0")).cast("long").alias("repriced_cents"),
    ).selectExpr(
        "n_parts",
        "base_cents",
        "repriced_cents",
        "CAST(repriced_cents * 1000000 div base_cents AS BIGINT) AS laspeyres_ppm",
    )


# --- Gini concentration of part revenue -----------------------------------------

_GINI_SQL = """
WITH pr AS (
  SELECT l_partkey AS pk,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM lineitem GROUP BY l_partkey
), r AS (
  SELECT rev_cents,
         row_number() OVER (ORDER BY rev_cents, pk) AS rn,
         count(*) OVER () AS n
  FROM pr
), f AS (
  SELECT CAST(max(n) AS BIGINT) AS n_parts,
         CAST(sum(rev_cents) AS BIGINT) AS total_cents,
         CAST(sum(rn * rev_cents) AS BIGINT) AS rank_weighted_cents,
         CAST(2 * sum(rn * rev_cents) - (max(n) + 1) * sum(rev_cents)
              AS BIGINT) AS num,
         CAST(max(n) * sum(rev_cents) AS BIGINT) AS den
  FROM r
)
SELECT n_parts, total_cents, rank_weighted_cents,
       CAST((num * 1000 // den) * 1000
            + ((num * 1000 % den) * 1000) // den AS BIGINT) AS gini_ppm
FROM f
"""


@_q("part_gini_concentration", _GINI_SQL)
def part_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across parts — the
    inequality number behind every "top X% of SKUs drive Y% of revenue"
    statement (the continuous refinement of part_abc_classification's
    three buckets), via the rank identity
    ``G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx)`` over the ascending-sorted
    revenues.

    Exact-integer contract: revenues are exact cents, ranks are exact
    (total order with pk tiebreak), so numerator and denominator are
    BIGINTs; the ppm lands via the exact two-stage identity
    ``⌊a·10⁶/d⌋ = ⌊a·10³/d⌋·10³ + ⌊(a·10³ mod d)·10³/d⌋`` so the widest
    intermediate is num·10³ (overflow-safe while n·Σcents < 9·10¹⁵ —
    three orders past this harness; beyond that, fold at dollar grain).

    Scale shape: the per-part rollup is map-side combined; the global
    rank comes from ``distrank.global_index`` (range exchange + prefix
    offsets — never a single-partition window over |parts|); the final
    fold is one row."""
    from .distrank import global_index

    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("rev_cents")
    )
    r = global_index(pr, [F.col("rev_cents"), F.col("pk")])
    f = r.agg(
        F.max("__n_total").cast("long").alias("n_parts"),
        F.sum("rev_cents").cast("long").alias("total_cents"),
        F.sum(F.col("__rn") * F.col("rev_cents"))
        .cast("long")
        .alias("rank_weighted_cents"),
        F.expr(
            "CAST(2 * sum(__rn * rev_cents)"
            " - (max(__n_total) + 1) * sum(rev_cents) AS BIGINT)"
        ).alias("num"),
        F.expr(
            "CAST(max(__n_total) * sum(rev_cents) AS BIGINT)"
        ).alias("den"),
    )
    return f.selectExpr(
        "n_parts",
        "total_cents",
        "rank_weighted_cents",
        "CAST((num * 1000 div den) * 1000"
        " + ((num * 1000 % den) * 1000) div den AS BIGINT) AS gini_ppm",
    )


# --- snapshot data-diff (r12 wave) --------------------------------------------

_SNAPDIFF_SQL = """
WITH a AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(round(o_totalprice * 100)
              - CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS BIGINT)
           AS cents
  FROM orders WHERE o_orderkey % 7 <> 0
), b AS (
  SELECT CAST(o_orderkey AS BIGINT) AS k,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 11 <> 0
), j AS (
  SELECT coalesce(a.k, b.k) AS k, a.cents AS ac, b.cents AS bc,
         CASE WHEN a.k IS NULL THEN 'added'
              WHEN b.k IS NULL THEN 'removed'
              WHEN a.cents <> b.cents THEN 'changed'
              ELSE 'unchanged' END AS category
  FROM a FULL OUTER JOIN b ON b.k = a.k
)
SELECT category, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum((coalesce(bc, 0) - coalesce(ac, 0))) AS BIGINT)
         AS cents_delta,
       CAST(sum(k % 1000000007) AS BIGINT) AS key_checksum
FROM j GROUP BY category ORDER BY category
"""


sql_entry(_q, "warehouse_snapshot_diff", _SNAPDIFF_SQL)


# --- clustering depth (r13) ------------------------------------------------------
# THE layout-quality metric a lakehouse optimizer reads before deciding
# whether to recluster: for a clustering key, how many files' [min,max]
# key ranges overlap at each key point. A perfectly clustered layout has
# depth 1 everywhere; a hash layout has depth ≈ n_files. Computed with
# the boundary-sweep (+1 at range start, −1 past range end, running sum
# = depth), so the cost is O(2·n_files) boundary rows — never a pairwise
# range join. Two layouts of the same fact are audited side by side:
# 'hash' (files keyed by l_orderkey % 64 — ships every key range to
# every file) and 'range' (files = ship-date months — disjoint by
# construction, the depth-1 witness).

_CLDEPTH_FILES = 64

_CLDEPTH_SQL = f"""
WITH ranged AS (
  SELECT layout, f,
         CAST(min(sd) AS BIGINT) AS lo, CAST(max(sd) AS BIGINT) AS hi
  FROM (
    SELECT 'hash' AS layout, l_orderkey % {_CLDEPTH_FILES} AS f,
           datediff('day', DATE '1992-01-01', l_shipdate) AS sd
    FROM lineitem
    UNION ALL
    SELECT 'range', year(l_shipdate) * 100 + month(l_shipdate),
           datediff('day', DATE '1992-01-01', l_shipdate)
    FROM lineitem
  ) GROUP BY 1, 2
), bounds AS (
  SELECT layout, lo AS d, 1 AS delta FROM ranged
  UNION ALL
  SELECT layout, hi + 1, -1 FROM ranged
), sweep AS (
  SELECT layout, d,
         sum(delta) OVER (PARTITION BY layout ORDER BY d
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS depth,
         lead(d) OVER (PARTITION BY layout ORDER BY d) AS next_d
  FROM (SELECT layout, d, sum(delta) AS delta FROM bounds GROUP BY 1, 2)
), spans AS (
  SELECT layout, depth, next_d - d AS span
  FROM sweep WHERE next_d IS NOT NULL AND depth > 0
)
SELECT s.layout,
       (SELECT CAST(count(*) AS BIGINT) FROM ranged r
        WHERE r.layout = s.layout) AS n_files,
       CAST(sum(span) AS BIGINT) AS covered_days,
       CAST(max(depth) AS BIGINT) AS max_depth,
       CAST(sum(CAST(depth AS HUGEINT) * span) * 1000000 // sum(span)
            AS BIGINT) AS avg_depth_e6
FROM spans s GROUP BY 1 ORDER BY 1
"""


@_q("warehouse_clustering_depth", _CLDEPTH_SQL)
def warehouse_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit of two file layouts over the ship-date
    key: per layout, file count, covered key span (days), max overlap
    depth, and the span-weighted average depth in exact micros.

    Scale: one (layout, file) min/max collapse (map-side combinable)
    → ≤ 2 boundary rows per file → a running-sum sweep over the bounded
    boundary table (partitioned by layout). The depth integral is exact
    integer day-weighting; no pairwise range join anywhere."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    sd = F.datediff(F.col("l_shipdate"), F.lit("1992-01-01")).alias("sd")
    both = (
        li.select(
            F.lit("hash").alias("layout"),
            (F.col("l_orderkey") % _CLDEPTH_FILES).alias("f"),
            sd,
        )
    ).unionByName(
        li.select(
            F.lit("range").alias("layout"),
            (F.year("l_shipdate") * 100 + F.month("l_shipdate")).alias("f"),
            sd,
        )
    )
    ranged = both.groupBy("layout", "f").agg(
        F.min("sd").cast("long").alias("lo"), F.max("sd").cast("long").alias("hi")
    ).localCheckpoint(eager=False)
    bounds = (
        ranged.select("layout", F.col("lo").alias("d"), F.lit(1).alias("delta"))
        .unionByName(
            ranged.select(
                "layout", (F.col("hi") + 1).alias("d"), F.lit(-1).alias("delta")
            )
        )
        .groupBy("layout", "d")
        .agg(F.sum("delta").alias("delta"))
    )
    wl = W.partitionBy("layout").orderBy("d")
    sweep = bounds.select(
        "layout", "d",
        F.sum("delta").over(
            wl.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("depth"),
        F.lead("d").over(wl).alias("next_d"),
    )
    spans = sweep.filter(
        F.col("next_d").isNotNull() & (F.col("depth") > 0)
    ).select("layout", "depth", (F.col("next_d") - F.col("d")).alias("span"))
    nf = ranged.groupBy("layout").agg(F.count("*").cast("long").alias("n_files"))
    return (
        spans.groupBy("layout")
        .agg(
            F.sum("span").cast("long").alias("covered_days"),
            F.max("depth").cast("long").alias("max_depth"),
            F.expr(
                "CAST(sum(CAST(depth AS DECIMAL(38,0)) * span) * 1000000 "
                "div sum(span) AS BIGINT)"
            ).alias("avg_depth_e6"),
        )
        .join(F.broadcast(nf), "layout")
        .select("layout", "n_files", "covered_days", "max_depth",
                "avg_depth_e6")
        .orderBy("layout")
    )


# --- retention / TTL expiry plan (r13) ---------------------------------------
# The plan a lakehouse TTL job emits before touching any data: per
# month-partition, how many rows each retention class has expired, and
# whether the partition can be DROPPED whole (metadata-only delete — the
# only affordable kind at 100 TB), needs a row-level DELETE rewrite, or
# is untouched.  Retention is per record class, which is what makes the
# plan non-trivial: transactional classes age out on different horizons,
# so a partition can be all-expired for one class and live for another.

RETENTION_CUTOFFS = {"F": "1998-07-01", "O": "1996-07-01", "P": "1996-07-01"}

_RETEXP_SQL = f"""
WITH tagged AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS part,
         CASE o_orderstatus
           WHEN 'F' THEN DATE '{RETENTION_CUTOFFS["F"]}'
           WHEN 'O' THEN DATE '{RETENTION_CUTOFFS["O"]}'
           ELSE DATE '{RETENTION_CUTOFFS["P"]}' END AS cutoff,
         o_orderdate
  FROM orders
), agg AS (
  SELECT part,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN CAST(o_orderdate AS DATE) < cutoff
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_expired
  FROM tagged GROUP BY part
)
SELECT part, n_rows, n_expired,
       CAST(n_expired * 100 // n_rows AS BIGINT) AS expired_pct,
       CASE WHEN n_expired = n_rows THEN 'drop_partition'
            WHEN n_expired > 0 THEN 'delete_rows'
            ELSE 'keep' END AS action
FROM agg ORDER BY part
"""


@_q("warehouse_retention_expiry", _RETEXP_SQL)
def warehouse_retention_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition retention expiry plan over orders: month partitions,
    per-status TTL horizons ({cuts}), action = drop_partition (all rows
    expired — metadata-only), delete_rows (mixed — needs a rewrite), or
    keep.

    Scale: ONE map-side-combinable groupBy on the partition key; output
    cardinality = partition count, independent of rows.  The plan's
    whole point at 100 TB is maximizing the drop_partition bucket —
    partition-aligned retention makes deletes O(partitions); the
    delete_rows rows are exactly the rewrite bill the layout owes."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = (
        F.when(F.col("o_orderstatus") == "F",
               F.lit(RETENTION_CUTOFFS["F"]).cast("date"))
        .when(F.col("o_orderstatus") == "O",
              F.lit(RETENTION_CUTOFFS["O"]).cast("date"))
        .otherwise(F.lit(RETENTION_CUTOFFS["P"]).cast("date"))
    )
    agg = (
        orders.select(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long").alias("part"),
            F.when(F.to_date("o_orderdate") < cutoff, 1).otherwise(0)
            .alias("exp"),
        )
        .groupBy("part")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("exp").cast("long").alias("n_expired"),
        )
    )
    return agg.select(
        "part", "n_rows", "n_expired",
        F.expr("CAST(n_expired * 100 div n_rows AS BIGINT)")
        .alias("expired_pct"),
        F.when(F.col("n_expired") == F.col("n_rows"), "drop_partition")
        .when(F.col("n_expired") > 0, "delete_rows")
        .otherwise("keep").alias("action"),
    ).orderBy("part")


warehouse_retention_expiry.__doc__ = warehouse_retention_expiry.__doc__.format(
    cuts=", ".join(f"{k}<{v}" for k, v in sorted(RETENTION_CUTOFFS.items()))
)


# --- XYZ demand-variability classification (r13) -----------------------------
# The companion axis to part_abc_classification: ABC ranks by VALUE,
# XYZ classes by demand VARIABILITY (coefficient of variation of
# monthly quantity), and inventory policy reads the cross of the two.
# Zero-demand months cost nothing here: with population moments over
# the GLOBAL month span N, absent months contribute 0 to both sums, so
# CV^2 = (N*Sxx - S^2)/S^2 needs no calendar expansion — and the class
# cuts (X < 0.5, Y < 1.0) are integer cross-multiplications.

_XYZ_SQL = """
WITH months AS (
  SELECT CAST(count(DISTINCT year(l_shipdate)) AS BIGINT) AS nm
  FROM lineitem
), pm AS (
  SELECT l_partkey,
         year(l_shipdate) AS ym,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), p AS (
  SELECT l_partkey, CAST(sum(q) AS BIGINT) AS s,
         CAST(sum(q * q) AS BIGINT) AS sxx,
         CAST(count(*) AS BIGINT) AS active_years
  FROM pm GROUP BY 1
), cls AS (
  SELECT p.l_partkey, p.active_years,
         CASE WHEN 4 * (months.nm * p.sxx - p.s * p.s) < p.s * p.s THEN 'X'
              WHEN months.nm * p.sxx - p.s * p.s < p.s * p.s THEN 'Y'
              ELSE 'Z' END AS xyz
  FROM p, months
)
SELECT xyz, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(active_years) AS BIGINT) AS total_active_years,
       CAST(count(*) * 1000 // (SELECT count(*) FROM cls) AS BIGINT)
         AS share_pm
FROM cls GROUP BY xyz ORDER BY xyz
"""


@_q("part_xyz_variability", _XYZ_SQL)
def part_xyz_variability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ classification of parts by yearly-demand variability:
    population CV over the global year span (absent years are exact
    zeros by construction — no calendar expansion), with the X/Y cuts
    at CV 0.5 / 1.0 done as integer cross-multiplications of
    N*Sxx - S^2 against S^2 — no square roots, no floats.  Yearly is
    the grain that separates classes on this corpus's 7-year span
    (monthly demand at TPC-H sparsity is all-Z — the grain is the
    policy knob, the math is grain-free).

    Scale: one (part, year) collapse + one per-part moment groupBy
    (both map-side combinable) + a 1-row month-span broadcast; output
    is 3 rows.  The cross with part_abc_classification is the
    inventory-policy matrix."""
    li = load_table(spark, sf_dir, "lineitem")
    ym = F.year("l_shipdate")
    months = li.agg(
        F.countDistinct(ym).cast("long").alias("nm")
    )
    pm = li.groupBy(F.col("l_partkey"), ym.alias("ym")).agg(
        F.sum(F.round("l_quantity").cast("long")).cast("long").alias("q")
    )
    p = pm.groupBy("l_partkey").agg(
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sxx"),
        F.count("*").cast("long").alias("active_years"),
    )
    cls = p.crossJoin(F.broadcast(months)).select(
        "l_partkey", "active_years",
        F.when(
            4 * (F.col("nm") * F.col("sxx") - F.col("s") * F.col("s"))
            < F.col("s") * F.col("s"), "X",
        )
        .when(
            F.col("nm") * F.col("sxx") - F.col("s") * F.col("s")
            < F.col("s") * F.col("s"), "Y",
        )
        .otherwise("Z").alias("xyz"),
    )
    tot = cls.agg(F.count("*").cast("long").alias("ntot"))
    return (
        cls.groupBy("xyz")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("active_years").cast("long").alias("total_active_years"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "xyz", "n_parts", "total_active_years",
            F.expr("CAST(n_parts * 1000 div ntot AS BIGINT)")
            .alias("share_pm"),
        )
        .orderBy("xyz")
    )
