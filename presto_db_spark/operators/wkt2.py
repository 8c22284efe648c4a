"""WKT geometry slice, round-5 widening: MULTI* geometries, polygon
interior rings (holes), geometry_union / geometry_union_agg on the point
subtype, exact union-of-envelopes area, and simplify_geometry.

Extends :mod:`operators.wkt` toward the reference's full surface
(``presto-geospatial/src/main/java/com/facebook/presto/plugin/geospatial/
GeoFunctions.java``): ``ST_NumGeometries`` (:761), ``ST_GeometryN``
(:785), ``ST_NumInteriorRing`` (:700), area/contains with holes,
``geometry_union`` / ``geometry_union_agg`` (GeometryUnionAgg.java — true
dissolve semantics on the POINT/MULTIPOINT subtype: duplicate points
collapse), ``simplify_geometry`` (:379 — here a deterministic one-shot
vertex-relevance decimation, the documented subset of ESRI's
Douglas-Peucker), and the union AREA of axis-aligned envelopes computed
EXACTLY by slab decomposition + gaps-and-islands interval merging — the
number ``ST_Area(geometry_union_agg(ST_Envelope(g)))`` would produce,
without materializing the union geometry.

Model: multi-part geometries parse to
``array<struct<xs: array<double>, ys: array<double>>>`` (POLYGON: ring 0
is the shell, rings 1.. are holes; MULTI*: one entry per part). All math
is identical pure-SQL text in Spark and DuckDB, so every query is
value-hash-checked.

Scale: parsing and per-geometry functions are projections (fuse into the
scan). The union-area pipeline is window work partitioned by the group
key — each group's slab sweep is independent, no cross-group shuffle
beyond the grouping itself; rectangles-per-group bounds the window state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_tables
from ..registry import family
from .wkt import _wkt_pentagon

QUERIES, ORACLE, _q = family()


# --- multi-part parsing ----------------------------------------------------
# Body = text with the type word and outermost parens stripped; parts split
# on the between-ring / between-part delimiter `), (` (tolerating spaces).

def _wkt_body(w: Column) -> Column:
    return F.regexp_replace(
        F.regexp_replace(w, r"^\s*[A-Z]+\s*\(", ""), r"\)\s*$", ""
    )


def _part_strings(w: Column) -> Column:
    """Ring / part strings of a POLYGON, MULTILINESTRING or MULTIPOINT."""
    return F.transform(
        F.split(_wkt_body(w), r"\)\s*,\s*\("),
        lambda p: F.regexp_replace(p, r"[()]", ""),
    )


def _part_xs(p: Column) -> Column:
    return F.transform(
        F.split(p, ","), lambda c: F.split(F.trim(c), " +").getItem(0).cast("double")
    )


def _part_ys(p: Column) -> Column:
    return F.transform(
        F.split(p, ","), lambda c: F.split(F.trim(c), " +").getItem(1).cast("double")
    )


def st_parts(w: Column) -> Column:
    """array<struct<xs, ys>> — one entry per ring/part."""
    return F.transform(
        _part_strings(w),
        lambda p: F.struct(_part_xs(p).alias("xs"), _part_ys(p).alias("ys")),
    )


# DuckDB equivalents (same splits, 1-based subscripts).
_SQL_BODY = (
    "regexp_replace(regexp_replace({w}, '^\\s*[A-Z]+\\s*\\(', ''), '\\)\\s*$', '')"
)
_SQL_PART_STRS = (
    "list_transform(string_split_regex(" + _SQL_BODY + ", '\\)\\s*,\\s*\\('), "
    "p -> regexp_replace(p, '[()]', '', 'g'))"
)
_SQL_P_XS = (
    "list_transform(string_split({p}, ','), "
    "c -> CAST(string_split_regex(trim(c), ' +')[1] AS DOUBLE))"
)
_SQL_P_YS = (
    "list_transform(string_split({p}, ','), "
    "c -> CAST(string_split_regex(trim(c), ' +')[2] AS DOUBLE))"
)

# ring shoelace |area|·2 (closed rings: consecutive segments only)
_SQL_RING_AREA2 = (
    "abs(list_sum(list_transform(generate_series(1, len({xs}) - 1), "
    "i -> {xs}[i] * {ys}[i + 1] - {xs}[i + 1] * {ys}[i])))"
)

# ray-cast point-in-ring (crossing parity), identical in both engines
_SQL_IN_RING = (
    "(len(list_filter(generate_series(1, len({xs}) - 1), i -> "
    "(({ys}[i] > {py}) <> ({ys}[i + 1] > {py})) AND "
    "({px} < ({xs}[i + 1] - {xs}[i]) * ({py} - {ys}[i]) / ({ys}[i + 1] - {ys}[i]) + {xs}[i]))) % 2 = 1)"
)


def _ring_area2(xs: Column, ys: Column) -> Column:
    return F.abs(
        F.aggregate(
            F.sequence(F.lit(1), F.size(xs) - 1),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(xs, i) * F.element_at(ys, i + 1)
            - F.element_at(xs, i + 1) * F.element_at(ys, i),
        )
    )


def _in_ring(xs: Column, ys: Column, px: Column, py: Column) -> Column:
    hits = F.filter(
        F.sequence(F.lit(1), F.size(xs) - 1),
        lambda i: (
            (F.element_at(ys, i) > py) != (F.element_at(ys, i + 1) > py)
        )
        & (
            px
            < (F.element_at(xs, i + 1) - F.element_at(xs, i))
            * (py - F.element_at(ys, i))
            / (F.element_at(ys, i + 1) - F.element_at(ys, i))
            + F.element_at(xs, i)
        ),
    )
    return F.size(hits) % 2 == 1


# --- fixtures --------------------------------------------------------------

# Pentagon shell with a centered square hole (strictly inside: shell radius
# ≥ 8, hole half-side 2) — a real POLYGON-with-hole WKT per nation.
def _wkt_pent_hole(key: str) -> str:
    cx, cy = f"(({key} * 17) % 80 + 10)", f"(({key} * 29) % 80 + 10)"
    shell = _wkt_pentagon(key)
    hole_pts = [
        f"CAST({cx} {sx} 2 AS STRING) || ' ' || CAST({cy} {sy} 2 AS STRING)"
        for sx, sy in [("-", "-"), ("+", "-"), ("+", "+"), ("-", "+"), ("-", "-")]
    ]
    hole = " || ', ' || ".join(hole_pts)
    # shell text minus its trailing '))', then ', (' hole '))'
    return (
        f"(substr({shell}, 1, length({shell}) - 2) || '), (' || {hole} || '))')"
    )


_WKT_MULTIPOINT = (
    "('MULTIPOINT ((' || CAST((c_custkey * 37) % 100 AS STRING) || ' ' || "
    "CAST((c_custkey * 73) % 100 AS STRING) || '), (' || "
    "CAST((c_custkey * 41) % 100 AS STRING) || ' ' || "
    "CAST((c_custkey * 43) % 100 AS STRING) || '))')"
)

_SQL_XS_FLAT = "list_transform(string_split(trim(regexp_replace(w, '[^0-9,.\\- ]', '', 'g')), ','), p -> CAST(string_split_regex(trim(p), ' +')[1] AS DOUBLE))"
_SQL_YS_FLAT = "list_transform(string_split(trim(regexp_replace(w, '[^0-9,.\\- ]', '', 'g')), ','), p -> CAST(string_split_regex(trim(p), ' +')[2] AS DOUBLE))"

_WKT_MULTILINE = (
    "('MULTILINESTRING ((' || CAST((c_custkey * 11) % 100 AS STRING) || ' ' || "
    "CAST((c_custkey * 19) % 100 AS STRING) || ', ' || "
    "CAST((c_custkey * 23) % 100 AS STRING) || ' ' || "
    "CAST((c_custkey * 29) % 100 AS STRING) || '), (' || "
    "CAST((c_custkey * 31) % 100 AS STRING) || ' ' || "
    "CAST((c_custkey * 47) % 100 AS STRING) || ', ' || "
    "CAST((c_custkey * 53) % 100 AS STRING) || ' ' || "
    "CAST((c_custkey * 59) % 100 AS STRING) || '))')"
)


# --- queries ---------------------------------------------------------------

@_q(
    "geo_wkt_multi",
    f"""
WITH g AS (
  SELECT c_custkey AS gid, {_WKT_MULTIPOINT} AS mp, {_WKT_MULTILINE} AS ml
  FROM customer WHERE c_custkey < 500
), parsed AS (
  SELECT gid,
         {_SQL_PART_STRS.format(w='mp')} AS mp_parts,
         {_SQL_PART_STRS.format(w='ml')} AS ml_parts
  FROM g
)
SELECT gid,
       CAST(len(mp_parts) AS INTEGER) AS mp_ngeom,
       CAST(len(ml_parts) AS INTEGER) AS ml_ngeom,
       CAST(len({_SQL_P_XS.format(p='ml_parts[1]')}) +
            len({_SQL_P_XS.format(p='ml_parts[2]')}) AS INTEGER) AS ml_npoints,
       round(list_sum(list_transform(ml_parts, p ->
         list_sum(list_transform(generate_series(1, len({_SQL_P_XS.format(p='p')}) - 1), i ->
           sqrt(pow({_SQL_P_XS.format(p='p')}[i + 1] - {_SQL_P_XS.format(p='p')}[i], 2)
              + pow({_SQL_P_YS.format(p='p')}[i + 1] - {_SQL_P_YS.format(p='p')}[i], 2)))))), 6)
         AS ml_length,
       round({_SQL_P_XS.format(p='mp_parts[2]')}[1], 6) AS g2_x,
       round({_SQL_P_YS.format(p='mp_parts[2]')}[1], 6) AS g2_y
FROM parsed
ORDER BY gid
""",
)
def geo_wkt_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPOINT / MULTILINESTRING: ST_NumGeometries (GeoFunctions:761),
    ST_NumPoints across parts (:724), ST_Length as the sum of part
    lengths (:426 — multi dispatch), and ST_GeometryN (:785) extracting
    the 2nd point's coordinates."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    g = cust.filter(F.col("c_custkey") < 500).selectExpr(
        "c_custkey AS gid",
        f"{_WKT_MULTIPOINT} AS mp",
        f"{_WKT_MULTILINE} AS ml",
    )
    mp_parts = st_parts(F.col("mp"))
    ml_parts = st_parts(F.col("ml"))

    def part_len(p):
        xs, ys = p["xs"], p["ys"]
        return F.aggregate(
            F.sequence(F.lit(1), F.size(xs) - 1),
            F.lit(0.0),
            lambda acc, i: acc
            + F.sqrt(
                F.pow(F.element_at(xs, i + 1) - F.element_at(xs, i), 2)
                + F.pow(F.element_at(ys, i + 1) - F.element_at(ys, i), 2)
            ),
        )

    total_len = F.aggregate(
        ml_parts, F.lit(0.0), lambda acc, p: acc + part_len(p)
    )
    return g.select(
        "gid",
        F.size(mp_parts).cast("int").alias("mp_ngeom"),
        F.size(ml_parts).cast("int").alias("ml_ngeom"),
        (
            F.size(F.element_at(ml_parts, 1)["xs"])
            + F.size(F.element_at(ml_parts, 2)["xs"])
        ).cast("int").alias("ml_npoints"),
        F.round(total_len, 6).alias("ml_length"),
        F.round(F.element_at(F.element_at(mp_parts, 2)["xs"], 1), 6).alias("g2_x"),
        F.round(F.element_at(F.element_at(mp_parts, 2)["ys"], 1), 6).alias("g2_y"),
    ).orderBy("gid")


@_q(
    "geo_wkt_polygon_holes",
    f"""
WITH g AS (
  SELECT n_nationkey AS gid, {_wkt_pent_hole('n_nationkey')} AS w,
         CAST((n_nationkey * 17) % 80 + 10 AS DOUBLE) AS cx,
         CAST((n_nationkey * 29) % 80 + 10 AS DOUBLE) AS cy
  FROM nation
), parsed AS (
  SELECT gid, w, cx, cy, {_SQL_PART_STRS.format(w='w')} AS rings FROM g
), rx AS (
  SELECT gid, w, cx, cy,
         {_SQL_P_XS.format(p='rings[1]')} AS sxs, {_SQL_P_YS.format(p='rings[1]')} AS sys,
         {_SQL_P_XS.format(p='rings[2]')} AS hxs, {_SQL_P_YS.format(p='rings[2]')} AS hys,
         CAST(len(rings) - 1 AS INTEGER) AS n_interior
  FROM parsed
)
SELECT gid, n_interior,
       round(({_SQL_RING_AREA2.format(xs='sxs', ys='sys')}
            - {_SQL_RING_AREA2.format(xs='hxs', ys='hys')}) / 2, 6) AS area,
       ({_SQL_IN_RING.format(xs='sxs', ys='sys', px='cx', py='cy')}
        AND NOT {_SQL_IN_RING.format(xs='hxs', ys='hys', px='cx', py='cy')})
         AS center_inside,
       ({_SQL_IN_RING.format(xs='sxs', ys='sys', px='(cx + 5)', py='cy')}
        AND NOT {_SQL_IN_RING.format(xs='hxs', ys='hys', px='(cx + 5)', py='cy')})
         AS offset_inside
FROM rx
ORDER BY gid
""",
)
def geo_wkt_polygon_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYGON with an interior ring: ST_NumInteriorRing
    (GeoFunctions:700), ST_Area = shell − holes (:300 — ESRI holes carry
    opposite orientation), ST_Contains honoring holes (in shell AND not
    in any hole). The polygon center sits inside the hole → NOT
    contained; a point offset past the hole but inside the shell IS."""
    (nation,) = load_tables(spark, sf_dir, "nation")
    g = nation.selectExpr(
        "n_nationkey AS gid",
        f"{_wkt_pent_hole('n_nationkey')} AS w",
        "CAST((n_nationkey * 17) % 80 + 10 AS DOUBLE) AS cx",
        "CAST((n_nationkey * 29) % 80 + 10 AS DOUBLE) AS cy",
    )
    rings = st_parts(F.col("w"))
    shell = F.element_at(rings, 1)
    hole = F.element_at(rings, 2)
    sxs, sys_ = shell["xs"], shell["ys"]
    hxs, hys = hole["xs"], hole["ys"]
    cx, cy = F.col("cx"), F.col("cy")
    return g.select(
        "gid",
        (F.size(rings) - 1).cast("int").alias("n_interior"),
        F.round((_ring_area2(sxs, sys_) - _ring_area2(hxs, hys)) / 2, 6).alias("area"),
        (_in_ring(sxs, sys_, cx, cy) & ~_in_ring(hxs, hys, cx, cy)).alias("center_inside"),
        (_in_ring(sxs, sys_, cx + 5, cy) & ~_in_ring(hxs, hys, cx + 5, cy)).alias("offset_inside"),
    ).orderBy("gid")


@_q(
    "geo_union_agg_points",
    f"""
WITH pts AS (
  SELECT c_nationkey AS grp,
         CAST((c_custkey * 37) % 50 AS BIGINT) AS x,
         CAST((c_custkey * 73) % 50 AS BIGINT) AS y
  FROM customer
), dedup AS (
  SELECT DISTINCT grp, x, y FROM pts
), agg AS (
  SELECT grp, CAST(count(*) AS INTEGER) AS n_geoms,
         'MULTIPOINT (' || string_agg(
             '(' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR) || ')',
             ', ' ORDER BY x, y) || ')' AS union_wkt
  FROM dedup GROUP BY grp
)
SELECT grp, n_geoms, union_wkt FROM agg ORDER BY grp
""",
)
def geo_union_agg_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geometry_union_agg over a POINT column (GeometryUnionAgg.java):
    true dissolve semantics on the point subtype — duplicate points
    collapse, the union is the canonical (sorted) MULTIPOINT, and
    ST_NumGeometries of the union counts distinct points. Scale: one
    distinct + one grouping shuffle; the per-group sort is bounded by
    distinct points per group."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    pts = cust.select(
        F.col("c_nationkey").alias("grp"),
        ((F.col("c_custkey") * 37) % 50).cast("bigint").alias("x"),
        ((F.col("c_custkey") * 73) % 50).cast("bigint").alias("y"),
    ).distinct()
    body = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("x"), F.col("y")))
            ),
            lambda p: F.concat(
                F.lit("("), p["x"].cast("string"), F.lit(" "),
                p["y"].cast("string"), F.lit(")"),
            ),
        ),
        ", ",
    )
    return (
        pts.groupBy("grp")
        .agg(
            F.count("*").cast("int").alias("n_geoms"),
            F.concat(F.lit("MULTIPOINT ("), body, F.lit(")")).alias("union_wkt"),
        )
        .orderBy("grp")
    )


@_q(
    "geo_union_envelope_area",
    f"""
WITH g AS (
  SELECT n_nationkey AS gid, n_regionkey AS grp, {_wkt_pentagon('n_nationkey')} AS w
  FROM nation
), parsed AS (
  SELECT gid, grp,
         {_SQL_XS_FLAT} AS xs,
         {_SQL_YS_FLAT} AS ys
  FROM g
), rects AS (
  SELECT grp, gid, list_min(xs) AS x1, list_max(xs) AS x2,
         list_min(ys) AS y1, list_max(ys) AS y2
  FROM parsed
), bounds AS (
  SELECT DISTINCT grp, x1 AS x FROM rects
  UNION SELECT DISTINCT grp, x2 FROM rects
), slabs AS (
  SELECT grp, x AS xs_, lead(x) OVER (PARTITION BY grp ORDER BY x) AS xe
  FROM bounds
), active AS (
  SELECT s.grp, s.xs_, s.xe, r.y1, r.y2
  FROM slabs s JOIN rects r ON r.grp = s.grp AND r.x1 < s.xe AND r.x2 > s.xs_
  WHERE s.xe IS NOT NULL
), marked AS (
  SELECT *, max(y2) OVER (PARTITION BY grp, xs_ ORDER BY y1, y2
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
  FROM active
), islands AS (
  SELECT *, sum(CASE WHEN prev_max IS NULL OR y1 > prev_max THEN 1 ELSE 0 END)
              OVER (PARTITION BY grp, xs_ ORDER BY y1, y2) AS isl
  FROM marked
), merged AS (
  SELECT grp, xs_, xe, isl, max(y2) - min(y1) AS h
  FROM islands GROUP BY grp, xs_, xe, isl
)
SELECT grp, round(sum(h * (xe - xs_)), 6) AS union_area
FROM merged GROUP BY grp ORDER BY grp
""",
)
def geo_union_envelope_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact area of geometry_union_agg(ST_Envelope(g)) per group — the
    union of axis-aligned rectangles via slab decomposition: x-boundaries
    cut each group into slabs, active rectangles per slab merge their
    y-intervals with the gaps-and-islands running-max pattern, and the
    union area is Σ slab_width × merged_height. Every step is window /
    group work partitioned by the group key (no cross join, no geometry
    library), identical SQL in DuckDB. Overlapping envelopes are counted
    ONCE — the dissolve semantic that distinguishes union from sum."""
    (nation,) = load_tables(spark, sf_dir, "nation")
    from .wkt import st_xs, st_ys

    g = nation.selectExpr(
        "n_nationkey AS gid", "n_regionkey AS grp",
        f"{_wkt_pentagon('n_nationkey')} AS w",
    )
    parsed = g.select(
        "gid", "grp", st_xs(F.col("w")).alias("xs"), st_ys(F.col("w")).alias("ys")
    )
    rects = parsed.select(
        "grp", "gid",
        F.array_min("xs").alias("x1"), F.array_max("xs").alias("x2"),
        F.array_min("ys").alias("y1"), F.array_max("ys").alias("y2"),
    )
    bounds = (
        rects.select("grp", F.col("x1").alias("x"))
        .union(rects.select("grp", F.col("x2").alias("x")))
        .distinct()
    )
    slabs = bounds.select(
        "grp", F.col("x").alias("xs_"),
        F.lead("x").over(W.partitionBy("grp").orderBy("x")).alias("xe"),
    ).filter(F.col("xe").isNotNull())
    active = (
        slabs.alias("s")
        .join(
            rects.alias("r"),
            (F.col("s.grp") == F.col("r.grp"))
            & (F.col("r.x1") < F.col("s.xe"))
            & (F.col("r.x2") > F.col("s.xs_")),
        )
        .select(F.col("s.grp").alias("grp"), "xs_", "xe", "y1", "y2")
    )
    wi = W.partitionBy("grp", "xs_").orderBy("y1", "y2")
    marked = active.withColumn(
        "prev_max", F.max("y2").over(wi.rowsBetween(W.unboundedPreceding, -1))
    )
    islands = marked.withColumn(
        "isl",
        F.sum(
            F.when(F.col("prev_max").isNull() | (F.col("y1") > F.col("prev_max")), 1)
            .otherwise(0)
        ).over(wi),
    )
    merged = islands.groupBy("grp", "xs_", "xe", "isl").agg(
        (F.max("y2") - F.min("y1")).alias("h")
    )
    return (
        merged.groupBy("grp")
        .agg(F.round(F.sum(F.col("h") * (F.col("xe") - F.col("xs_"))), 6).alias("union_area"))
        .orderBy("grp")
    )


@_q(
    "geo_simplify",
    f"""
WITH g AS (
  SELECT n_nationkey AS gid, {_wkt_pentagon('n_nationkey')} AS w FROM nation
), parsed AS (
  SELECT gid, w,
         list_transform(string_split(trim(regexp_replace(w, '[^0-9,.\\- ]', '', 'g')), ','), p -> CAST(string_split_regex(trim(p), ' +')[1] AS DOUBLE)) AS xs,
         list_transform(string_split(trim(regexp_replace(w, '[^0-9,.\\- ]', '', 'g')), ','), p -> CAST(string_split_regex(trim(p), ' +')[2] AS DOUBLE)) AS ys
  FROM g
), kept AS (
  SELECT gid, xs, ys,
         list_filter(generate_series(1, len(xs)), i ->
           i = 1 OR i = len(xs) OR
           abs((xs[i + 1] - xs[i - 1]) * (ys[i - 1] - ys[i])
             - (xs[i - 1] - xs[i]) * (ys[i + 1] - ys[i - 1]))
           / sqrt(pow(xs[i + 1] - xs[i - 1], 2) + pow(ys[i + 1] - ys[i - 1], 2))
           >= 4.0) AS keep_idx
  FROM parsed
)
SELECT gid,
       CAST(len(xs) AS INTEGER) AS n_in,
       CAST(len(keep_idx) AS INTEGER) AS n_out,
       array_to_string(list_transform(keep_idx,
         i -> CAST(round(xs[i] * 1000000) AS BIGINT)), ',') AS out_xs,
       array_to_string(list_transform(keep_idx,
         i -> CAST(round(ys[i] * 1000000) AS BIGINT)), ',') AS out_ys
FROM kept
ORDER BY gid
""",
)
def geo_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """simplify_geometry(g, tolerance) (GeoFunctions:379) as one-shot
    vertex-relevance decimation: an interior vertex survives when its
    perpendicular distance to the chord (prev → next) is ≥ tolerance
    (endpoints always survive) — the deterministic single-pass subset of
    ESRI's Douglas-Peucker, identical arithmetic in both engines. Pure
    projection — fuses into the scan at any scale."""
    (nation,) = load_tables(spark, sf_dir, "nation")
    from .wkt import st_xs, st_ys

    g = nation.selectExpr("n_nationkey AS gid", f"{_wkt_pentagon('n_nationkey')} AS w")
    parsed = g.select("gid", st_xs(F.col("w")).alias("xs"), st_ys(F.col("w")).alias("ys"))
    xs, ys = F.col("xs"), F.col("ys")

    def relevant(i):
        x0, y0 = F.element_at(xs, i - 1), F.element_at(ys, i - 1)
        x1, y1 = F.element_at(xs, i), F.element_at(ys, i)
        x2, y2 = F.element_at(xs, i + 1), F.element_at(ys, i + 1)
        num = F.abs((x2 - x0) * (y0 - y1) - (x0 - x1) * (y2 - y0))
        den = F.sqrt(F.pow(x2 - x0, 2) + F.pow(y2 - y0, 2))
        return num / den >= 4.0

    keep = F.filter(
        F.sequence(F.lit(1), F.size(xs)),
        lambda i: (i == 1) | (i == F.size(xs)) | relevant(i),
    )
    # surviving vertices serialized as integer-micro strings (driver
    # canonicalizer can't sort list columns; micros are bit-comparable)
    return parsed.select(
        "gid",
        F.size(xs).cast("int").alias("n_in"),
        F.size(keep).cast("int").alias("n_out"),
        F.array_join(
            F.transform(
                keep,
                lambda i: F.round(F.element_at(xs, i) * 1000000)
                .cast("long")
                .cast("string"),
            ),
            ",",
        ).alias("out_xs"),
        F.array_join(
            F.transform(
                keep,
                lambda i: F.round(F.element_at(ys, i) * 1000000)
                .cast("long")
                .cast("string"),
            ),
            ",",
        ).alias("out_ys"),
    ).orderBy("gid")


# --- accessor battery: Start/End/PointN/Dimension/IsEmpty/CoordDim ---------

@_q(
    "geo_wkt_accessors",
    f"""
WITH g AS (
  SELECT c_custkey AS gid,
         ('LINESTRING (' || CAST((c_custkey * 11) % 500 AS STRING) || ' ' ||
          CAST((c_custkey * 19) % 500 AS STRING) || ', ' ||
          CAST((c_custkey * 23) % 500 AS STRING) || ' ' ||
          CAST((c_custkey * 29) % 500 AS STRING) || ', ' ||
          CAST((c_custkey * 31) % 500 AS STRING) || ' ' ||
          CAST((c_custkey * 41) % 500 AS STRING) || ')') AS lw,
         ('POINT (' || CAST((c_custkey * 37) % 1000 AS STRING) || ' ' ||
          CAST((c_custkey * 73) % 1000 AS STRING) || ')') AS pw
  FROM customer WHERE c_custkey < 400
), parsed AS (
  SELECT gid, lw, pw,
         regexp_extract(lw, '^\\s*([A-Z]+)', 1) AS ltype,
         regexp_extract(pw, '^\\s*([A-Z]+)', 1) AS ptype,
         list_transform(string_split(trim(regexp_replace(lw, '[^0-9,.\\- ]', '', 'g')), ','), p -> CAST(string_split_regex(trim(p), ' +')[1] AS DOUBLE)) AS xs,
         list_transform(string_split(trim(regexp_replace(lw, '[^0-9,.\\- ]', '', 'g')), ','), p -> CAST(string_split_regex(trim(p), ' +')[2] AS DOUBLE)) AS ys
  FROM g
)
SELECT gid,
       'ST_' || ltype AS l_geometry_type,
       'ST_' || ptype AS p_geometry_type,
       CASE ltype WHEN 'POINT' THEN 0 WHEN 'LINESTRING' THEN 1 ELSE 2 END AS l_dimension,
       CASE ptype WHEN 'POINT' THEN 0 WHEN 'LINESTRING' THEN 1 ELSE 2 END AS p_dimension,
       2 AS coord_dim,
       (len(xs) = 0) AS is_empty,
       round(xs[1], 6) AS start_x, round(ys[1], 6) AS start_y,
       round(xs[-1], 6) AS end_x, round(ys[-1], 6) AS end_y,
       round(xs[2], 6) AS p2_x, round(ys[2], 6) AS p2_y,
       'MULTIPOINT ((' || CAST(CAST(xs[1] AS BIGINT) AS STRING) || ' ' ||
         CAST(CAST(ys[1] AS BIGINT) AS STRING) || '), (' ||
         CAST(CAST(xs[-1] AS BIGINT) AS STRING) || ' ' ||
         CAST(CAST(ys[-1] AS BIGINT) AS STRING) || '))' AS boundary
FROM parsed
ORDER BY gid
""",
)
def geo_wkt_accessors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry accessor battery (GeoFunctions.java): ST_GeometryType
    (:~type prefix with the reference's 'ST_' spelling), ST_Dimension
    (:340), ST_CoordDim (:332 — always 2 in the planar model), ST_IsEmpty
    (:368), ST_StartPoint (:745) / ST_EndPoint (:779) / ST_PointN (:668)
    on the LINESTRING subtype, and ST_Boundary (:859) of a linestring =
    the MULTIPOINT of its endpoints. Pure projections — fuse into the
    scan."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    from .wkt import st_geometry_type, st_xs, st_ys

    g = cust.filter(F.col("c_custkey") < 400).selectExpr(
        "c_custkey AS gid",
        "('LINESTRING (' || CAST((c_custkey * 11) % 500 AS STRING) || ' ' || "
        "CAST((c_custkey * 19) % 500 AS STRING) || ', ' || "
        "CAST((c_custkey * 23) % 500 AS STRING) || ' ' || "
        "CAST((c_custkey * 29) % 500 AS STRING) || ', ' || "
        "CAST((c_custkey * 31) % 500 AS STRING) || ' ' || "
        "CAST((c_custkey * 41) % 500 AS STRING) || ')') AS lw",
        "('POINT (' || CAST((c_custkey * 37) % 1000 AS STRING) || ' ' || "
        "CAST((c_custkey * 73) % 1000 AS STRING) || ')') AS pw",
    )
    xs, ys = st_xs(F.col("lw")), st_ys(F.col("lw"))
    ltype = st_geometry_type(F.col("lw"))
    ptype = st_geometry_type(F.col("pw"))
    dim = lambda t: F.when(t == "POINT", 0).when(t == "LINESTRING", 1).otherwise(2)  # noqa: E731
    bpt = lambda v: F.element_at(v, 1).cast("bigint").cast("string")  # noqa: E731
    ept = lambda v: F.element_at(v, -1).cast("bigint").cast("string")  # noqa: E731
    return g.select(
        "gid",
        F.concat(F.lit("ST_"), ltype).alias("l_geometry_type"),
        F.concat(F.lit("ST_"), ptype).alias("p_geometry_type"),
        dim(ltype).alias("l_dimension"), dim(ptype).alias("p_dimension"),
        F.lit(2).alias("coord_dim"),
        (F.size(xs) == 0).alias("is_empty"),
        F.round(F.element_at(xs, 1), 6).alias("start_x"),
        F.round(F.element_at(ys, 1), 6).alias("start_y"),
        F.round(F.element_at(xs, -1), 6).alias("end_x"),
        F.round(F.element_at(ys, -1), 6).alias("end_y"),
        F.round(F.element_at(xs, 2), 6).alias("p2_x"),
        F.round(F.element_at(ys, 2), 6).alias("p2_y"),
        F.concat(
            F.lit("MULTIPOINT (("), bpt(xs), F.lit(" "), bpt(ys),
            F.lit("), ("), ept(xs), F.lit(" "), ept(ys), F.lit("))"),
        ).alias("boundary"),
    ).orderBy("gid")


# --- KdbTree-style adaptive spatial partitioning ---------------------------

_KDB_RADIUS = 3.0


# Kept port (keep-rule 2b, worse plan): the text's pair join is a nested loop.
@_q(
    "geo_kdb_radius_join",
    f"""
WITH pts AS (
  SELECT c_custkey AS pid,
         CAST(c_custkey * 37 % 1000 AS DOUBLE) / 10 AS x,
         CAST(c_custkey * 73 % 1000 AS DOUBLE) / 10 AS y
  FROM customer WHERE c_custkey < 1500
)
SELECT a.pid AS id_a, b.pid AS id_b,
       round(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)), 6) AS dist
FROM pts a JOIN pts b
  ON a.pid < b.pid
 AND sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= {_KDB_RADIUS}
""",
)
def geo_kdb_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-radius self-join under KdbTree-STYLE adaptive spatial
    partitioning (the reference's ``spatial_partitioning`` /
    ``common/type/KdbTreeType.java`` + partitioned
    ``SpatialJoinOperator``): space splits at the DATA MEDIANS — x median,
    then per-half y medians — into 4 leaf cells, so skewed point clouds
    get balanced partitions where a fixed grid would hotspot. The build
    side lands in its single containing leaf; the probe side explodes to
    every leaf its radius-envelope overlaps; the only pair-producing join
    is the equi-join on leaf id. Pair-completeness is the oracle: DuckDB
    runs the NAIVE O(n²) theta-join and results must match exactly.
    Deeper trees recurse the same split; two levels demonstrate the
    machinery. Scale: two tiny median aggregations broadcast as scalars
    (the distributed analog of the reference's build-side tree sample);
    no cartesian product anywhere."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    pts = cust.filter(ck < 1500).select(
        ck.alias("pid"),
        ((ck * 37 % 1000).cast("double") / 10).alias("x"),
        ((ck * 73 % 1000).cast("double") / 10).alias("y"),
    )
    r = _KDB_RADIUS
    xm = pts.agg(F.expr("percentile(x, 0.5)").alias("xm"))
    yms = (
        pts.crossJoin(F.broadcast(xm))
        .groupBy((F.col("x") < F.col("xm")).alias("left_side"))
        .agg(F.expr("percentile(y, 0.5)").alias("ym"))
        .agg(
            F.max(F.when(F.col("left_side"), F.col("ym"))).alias("ym_lo"),
            F.max(F.when(~F.col("left_side"), F.col("ym"))).alias("ym_hi"),
        )
    )
    base = pts.crossJoin(F.broadcast(xm)).crossJoin(F.broadcast(yms))
    x, y = F.col("x"), F.col("y")
    xmv, ylo, yhi = F.col("xm"), F.col("ym_lo"), F.col("ym_hi")
    cell = F.when(x < xmv, F.when(y < ylo, 0).otherwise(1)).otherwise(
        F.when(y < yhi, 2).otherwise(3)
    )
    build = base.select(F.col("pid").alias("id_b"), x.alias("xb"), y.alias("yb"),
                        cell.alias("cell"))
    cand = F.filter(
        F.array(F.lit(0), F.lit(1), F.lit(2), F.lit(3)),
        lambda c: (
            F.when(c == 0, (x - r < xmv) & (y - r < ylo))
            .when(c == 1, (x - r < xmv) & (y + r >= ylo))
            .when(c == 2, (x + r >= xmv) & (y - r < yhi))
            .otherwise((x + r >= xmv) & (y + r >= yhi))
        ),
    )
    probe = base.select(F.col("pid").alias("id_a"), x.alias("xa"), y.alias("ya"),
                        F.explode(cand).alias("cell"))
    dist = F.sqrt(
        (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
        + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
    )
    return (
        probe.join(build, "cell")
        .filter((F.col("id_a") < F.col("id_b")) & (dist <= r))
        .select("id_a", "id_b", F.round(dist, 6).alias("dist"))
    )
