"""Geometry operators: the ``presto-geospatial`` surface in one module.

The reference keeps its geometry functions in one class
(``presto-geospatial/src/main/java/com/facebook/presto/plugin/geospatial/
GeoFunctions.java``, 60+ ``ST_*`` functions; SURVEY §2.3), with
``SphericalGeoFunctions.java``, ``BingTileFunctions.java`` and an R-tree
spatial join (``pm/operator/SpatialJoinOperator.java:40``,
``PagesRTreeIndex.java``) beside it. Full geometry needs a GEOS/ESRI
binding, which is out of core scope; the subset here is pure arithmetic,
written as JVM expressions (``F.transform``/``F.aggregate``, no UDF) and as
the same formulas in the DuckDB oracle text, so every value is hash-checked.

Models:

* points are coordinates synthesized from customer keys (the testdata has
  no geo columns);
* a polygon is a CLOSED ring of parallel coordinate arrays ``xs``/``ys``
  (WKT repeats the first vertex); area (shoelace), centroid (signed-area
  weighted) and containment (crossing number) are one fold each over
  consecutive segments (``_seg_fold``);
* WKT text parses to ``xs``/``ys`` (POINT / LINESTRING / POLYGON) or, for
  MULTI* and polygons with holes, to ``array<struct<xs, ys>>`` (ring 0 is
  the shell);
* the clip and hull kernels work on OPEN rings of ``array<struct<x, y>>``.

Spatial joins never cross join. Space is cut into grid cells (or
KdbTree-style median leaves); each side emits the cells its bbox covers,
candidates meet in an equi-join on the cell key and an exact predicate
filters, as the reference's partitioned ``SpatialJoinOperator`` does with
a KDB-tree. The other queries are per-row projections that fuse into the
scan, or aggregates that shuffle only on their group key.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_table, load_tables
from ..registry import family

QUERIES, ORACLE, _q = family()


# --- points: distance, radius join --------------------------------------------
#
# The radius join partitions space with a fixed grid of cell width r: a
# pair within distance r lies in the same or adjacent cells, so the left
# side emits 1 cell, the right side its 9 neighbors, and the join is an
# equi-join on the cell key (one shuffle, candidates bounded per cell).

RADIUS = 3.0
GRID = RADIUS  # cell width == radius → adjacency covers all candidate pairs


# Deterministic synthetic coordinates in a 100×100 plane.
_X_SQL = "CAST((c_custkey * 37) % 1000 AS DOUBLE) / 10"
_Y_SQL = "CAST((c_custkey * 73) % 1000 AS DOUBLE) / 10"


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    (cust,) = load_tables(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    return cust.select(
        ck.alias("pid"),
        ((ck * 37 % 1000).cast("double") / 10).alias("x"),
        ((ck * 73 % 1000).cast("double") / 10).alias("y"),
    )


def st_distance(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """ST_Distance for points (GeoFunctions.java:ST_Distance), euclidean."""
    return F.sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))


# Kept port (keep-rule 2c, text skips the function): it expands the predicates by hand.
@_q(
    "geo_point_predicates",
    f"""
WITH p AS (SELECT c_custkey AS pid, {_X_SQL} AS x, {_Y_SQL} AS y
           FROM customer WHERE c_custkey < 500)
SELECT pid,
       round(sqrt((x - 50) * (x - 50) + (y - 50) * (y - 50)), 6) AS dist_center,
       (x >= 20 AND x < 60 AND y >= 30 AND y < 80) AS in_bbox,
       round(6371 * 2 * asin(sqrt(
         pow(sin(radians(y / 2 - 25) / 2), 2)
         + cos(radians(y / 2)) * cos(radians(25))
           * pow(sin(radians(x / 2 - 25) / 2), 2))), 6) AS haversine_km
FROM p
""",
)
def geo_point_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Distance, ST_Contains(bbox, point), great_circle_distance
    (``GeoFunctions.java``: ST_Contains, ST_Distance;
    ``pm/operator/scalar/MathFunctions.java``-adjacent haversine) as pure
    expressions over synthesized points (lat/lon scaled into range)."""
    pts = _points(spark, sf_dir).filter(F.col("pid") < 500)
    x, y = F.col("x"), F.col("y")
    lat1, lat2 = F.radians(y / 2), F.radians(F.lit(25.0))
    dlat = F.radians(y / 2 - 25) / 2
    dlon = F.radians(x / 2 - 25) / 2
    hav = (
        F.lit(6371.0)
        * 2
        * F.asin(
            F.sqrt(
                F.pow(F.sin(dlat), 2) + F.cos(lat1) * F.cos(lat2) * F.pow(F.sin(dlon), 2)
            )
        )
    )
    return pts.select(
        "pid",
        F.round(st_distance(x, y, F.lit(50.0), F.lit(50.0)), 6).alias("dist_center"),
        ((x >= 20) & (x < 60) & (y >= 30) & (y < 80)).alias("in_bbox"),
        F.round(hav, 6).alias("haversine_km"),
    )


# Kept port (keep-rule 2b, worse plan): the text's pair join is a nested loop.
@_q(
    "geo_radius_join",
    f"""
WITH p AS (SELECT c_custkey AS pid, {_X_SQL} AS x, {_Y_SQL} AS y
           FROM customer WHERE c_custkey < 2000)
SELECT a.pid AS id_a, b.pid AS id_b,
       round(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)), 6) AS dist
FROM p a JOIN p b
  ON a.pid < b.pid
 AND sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= {RADIUS}
""",
)
def geo_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-radius self-join (``SpatialJoinOperator`` ST_Distance(a,b)<r
    case) via grid blocking: left emits its cell, right its 3×3 neighborhood;
    the equi-join on cell keys is the only shuffle. The oracle is the plain
    O(n²) inequality join — results must be identical."""
    pts = _points(spark, sf_dir).filter(F.col("pid") < 2000)
    cx, cy = F.floor(F.col("x") / GRID), F.floor(F.col("y") / GRID)
    left = pts.select(
        F.col("pid").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.concat_ws("_", cx, cy).alias("cell"),
    )
    neighbors = F.explode(
        F.flatten(
            F.array(
                *[
                    F.array(
                        *[
                            F.concat_ws("_", cx + dx, cy + dy)
                            for dy in (-1, 0, 1)
                        ]
                    )
                    for dx in (-1, 0, 1)
                ]
            )
        )
    )
    right = pts.select(
        F.col("pid").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        neighbors.alias("cell"),
    )
    dist = st_distance(F.col("xa"), F.col("ya"), F.col("xb"), F.col("yb"))
    return (
        left.join(right, ["cell"])
        .filter((F.col("id_a") < F.col("id_b")) & (dist <= RADIUS))
        .select("id_a", "id_b", F.round(dist, 6).alias("dist"))
    )


# --- closed-ring kernels: ST_Area / ST_Centroid / ST_Contains ---------------
#
# One fold per computation over a CLOSED ring's consecutive segments
# (i, i+1), i in 1..n-1: no wraparound indexing, because the last vertex
# repeats the first. Every polygon entry builds its rings closed.

def _seg_fold(xs: Column, ys: Column, init, term) -> Column:
    """Fold over consecutive segments (i, i+1), i in 1..n-1."""
    return F.aggregate(
        F.sequence(F.lit(1), F.size(xs) - 1),
        init,
        lambda acc, i: term(
            acc,
            F.element_at(xs, i), F.element_at(ys, i),
            F.element_at(xs, i + 1), F.element_at(ys, i + 1),
        ),
    )


def _shoelace(xs: Column, ys: Column) -> Column:
    """Signed twice-area fold over a closed ring's segments."""
    return _seg_fold(
        xs, ys, F.lit(0.0),
        lambda acc, x1, y1, x2, y2: acc + (x1 * y2 - x2 * y1),
    )


def st_area_ring(xs: Column, ys: Column) -> Column:
    """Shoelace polygon area (GeoFunctions.java ST_Area)."""
    return F.abs(_shoelace(xs, ys)) / 2


def st_centroid_ring(xs: Column, ys: Column) -> tuple[Column, Column]:
    """Polygon centroid: Cx = Σ(x_i + x_{i+1})·cross_i / (3·Σcross_i)
    (GeoFunctions.java ST_Centroid, polygon branch)."""
    s = _shoelace(xs, ys)
    cx = _seg_fold(
        xs, ys, F.lit(0.0),
        lambda acc, x1, y1, x2, y2: acc + (x1 + x2) * (x1 * y2 - x2 * y1),
    )
    cy = _seg_fold(
        xs, ys, F.lit(0.0),
        lambda acc, x1, y1, x2, y2: acc + (y1 + y2) * (x1 * y2 - x2 * y1),
    )
    return cx / (3 * s), cy / (3 * s)


def st_contains_ring(xs: Column, ys: Column, px: Column, py: Column) -> Column:
    """Crossing-number point-in-polygon (odd crossings = inside)."""
    crossings = _seg_fold(
        xs, ys, F.lit(0),
        lambda acc, x1, y1, x2, y2: acc
        + F.when(
            ((y1 > py) != (y2 > py)) & (px < (x2 - x1) * (py - y1) / (y2 - y1) + x1),
            1,
        ).otherwise(0),
    )
    return crossings % 2 == 1


_SQL_CONTAINS = (
    "(list_sum(list_transform(generate_series(1, len({xs}) - 1), i -> "
    "CASE WHEN (({ys}[i] > {py}) != ({ys}[i+1] > {py})) AND "
    "({px} < ({xs}[i+1] - {xs}[i]) * ({py} - {ys}[i]) / ({ys}[i+1] - {ys}[i]) + {xs}[i]) "
    "THEN 1 ELSE 0 END)) % 2 = 1)"
)


# --- per-nation pentagons -----------------------------------------------------
#
# Per-nation pentagon + per-customer point keeps geo_polygon_ops an
# EQUI-join on nationkey (each point tests against its nation's polygon):
# no cross join, linear in points.

# Pentagon vertex offsets around the per-nation center (CCW).
_PENT_DX = [0, 8, 5, -5, -8]
_PENT_DY = [-10, -2, 8, 8, -2]

_POLY_SQL = f"""
  SELECT n_nationkey AS nk,
         CAST((n_nationkey * 17) % 80 + 10 AS DOUBLE) AS cx,
         CAST((n_nationkey * 29) % 80 + 10 AS DOUBLE) AS cy,
         [{', '.join(f'CAST((n_nationkey * 17) % 80 + 10 AS DOUBLE) + {float(dx)}' for dx in _PENT_DX)}] AS xs,
         [{', '.join(f'CAST((n_nationkey * 29) % 80 + 10 AS DOUBLE) + {float(dy)}' for dy in _PENT_DY)}] AS ys
  FROM nation
"""

_FOLD_SQL = {
    "a2": "list_sum(list_transform(generate_series(1, 5), i -> "
    "xs[i] * ys[i % 5 + 1] - xs[i % 5 + 1] * ys[i]))",
    "cxs": "list_sum(list_transform(generate_series(1, 5), i -> "
    "(xs[i] + xs[i % 5 + 1]) * (xs[i] * ys[i % 5 + 1] - xs[i % 5 + 1] * ys[i])))",
    "cys": "list_sum(list_transform(generate_series(1, 5), i -> "
    "(ys[i] + ys[i % 5 + 1]) * (xs[i] * ys[i % 5 + 1] - xs[i % 5 + 1] * ys[i])))",
    "crossings": "list_sum(list_transform(generate_series(1, 5), i -> "
    "CASE WHEN ((ys[i] > py) != (ys[i % 5 + 1] > py)) AND "
    "(px < (xs[i % 5 + 1] - xs[i]) * (py - ys[i]) / (ys[i % 5 + 1] - ys[i]) + xs[i]) "
    "THEN 1 ELSE 0 END))",
}


def _pentagons(nation: DataFrame) -> DataFrame:
    """(nk, xs, ys): the pentagon of ``_POLY_SQL`` as a closed ring."""
    nk = F.col("n_nationkey")
    cx = ((nk * 17) % 80 + 10).cast("double")
    cy = ((nk * 29) % 80 + 10).cast("double")
    return nation.select(
        nk.alias("nk"),
        F.array(*[cx + F.lit(float(d)) for d in _PENT_DX + _PENT_DX[:1]]).alias("xs"),
        F.array(*[cy + F.lit(float(d)) for d in _PENT_DY + _PENT_DY[:1]]).alias("ys"),
    )


@_q(
    "geo_polygon_ops",
    f"""
WITH poly AS ({_POLY_SQL}),
pts AS (
  SELECT c_nationkey AS nk, c_custkey AS pid,
         {_X_SQL} AS px, {_Y_SQL} AS py
  FROM customer WHERE c_custkey < 2000
),
tested AS (
  SELECT p.nk, {_FOLD_SQL['a2']} AS a2, {_FOLD_SQL['cxs']} AS cxs,
         {_FOLD_SQL['cys']} AS cys,
         CASE WHEN ({_FOLD_SQL['crossings']}) % 2 = 1 THEN 1 ELSE 0 END AS inside
  FROM poly p JOIN pts t ON t.nk = p.nk
)
SELECT nk, round(abs(a2) / 2, 6) AS area,
       round(cxs / (3 * a2), 6) AS centroid_x,
       round(cys / (3 * a2), 6) AS centroid_y,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(inside) AS BIGINT) AS n_inside
FROM tested
GROUP BY nk, a2, cxs, cys
ORDER BY nk
""",
)
def geo_polygon_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Area / ST_Centroid / ST_Contains polygon subset
    (``presto-geospatial/.../GeoFunctions.java``): per-nation pentagon,
    per-customer synthetic point, containment counted through an equi-join
    on nationkey (never a cross join)."""
    nation, cust = load_tables(spark, sf_dir, "nation", "customer")
    poly = _pentagons(nation)
    ck = F.col("c_custkey")
    pts = cust.filter(ck < 2000).select(
        F.col("c_nationkey").alias("nk"),
        ck.alias("pid"),
        ((ck * 37 % 1000).cast("double") / 10).alias("px"),
        ((ck * 73 % 1000).cast("double") / 10).alias("py"),
    )
    tested = poly.join(pts, "nk").select(
        "nk",
        "xs",
        "ys",
        st_contains_ring(F.col("xs"), F.col("ys"), F.col("px"), F.col("py"))
        .cast("int")
        .alias("inside"),
    )
    ccx, ccy = st_centroid_ring(F.col("xs"), F.col("ys"))
    return (
        tested.groupBy("nk", "xs", "ys")
        .agg(F.count("*").alias("n_points"), F.sum("inside").alias("n_inside"))
        .select(
            "nk",
            F.round(st_area_ring(F.col("xs"), F.col("ys")), 6).alias("area"),
            F.round(ccx, 6).alias("centroid_x"),
            F.round(ccy, 6).alias("centroid_y"),
            "n_points",
            "n_inside",
        )
        .orderBy("nk")
    )


GRID_PJ = 10.0  # polygon-join cell width (~polygon diameter)


@_q(
    "geo_polygon_join",
    f"""
WITH poly AS ({_POLY_SQL}),
pts AS (
  SELECT c_custkey AS pid, {_X_SQL} AS px, {_Y_SQL} AS py
  FROM customer WHERE c_custkey < 2000
)
SELECT p.nk, t.pid
FROM poly p JOIN pts t
  ON ({_FOLD_SQL['crossings']}) % 2 = 1
ORDER BY nk, pid
""",
)
def geo_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic point-in-polygon SPATIAL JOIN — no shared key between sides
    (unlike geo_polygon_ops, which rides the nationkey relation). The
    scalable blocking mirrors the reference's KDB-tree partitioned
    SpatialJoinOperator (``pm/operator/SpatialJoinOperator.java:40``):

    * each polygon explodes to every grid cell its bbox covers;
    * each point maps to exactly one cell;
    * candidates meet in an EQUI-join on the cell key (one shuffle,
      candidates bounded per cell), then exact crossing-number containment
      filters — never a cross join. The oracle IS the naive theta-join, so
      the hash match proves blocking loses no pairs."""
    nation, cust = load_tables(spark, sf_dir, "nation", "customer")
    poly = _pentagons(nation)
    # bbox → covered grid cells (cell ids are integers; explode both axes)
    cell = lambda v: F.floor(v / GRID_PJ).cast("long")  # noqa: E731
    poly_cells = poly.select(
        "nk",
        "xs",
        "ys",
        F.explode(
            F.sequence(cell(F.array_min("xs")), cell(F.array_max("xs")))
        ).alias("gx"),
    ).select(
        "nk",
        "xs",
        "ys",
        "gx",
        F.explode(
            F.sequence(cell(F.array_min("ys")), cell(F.array_max("ys")))
        ).alias("gy"),
    )
    ck = F.col("c_custkey")
    pts = cust.filter(ck < 2000).select(
        ck.alias("pid"),
        ((ck * 37 % 1000).cast("double") / 10).alias("px"),
        ((ck * 73 % 1000).cast("double") / 10).alias("py"),
    )
    pt_cells = pts.select(
        "pid", "px", "py", cell(F.col("px")).alias("gx"), cell(F.col("py")).alias("gy")
    )
    return (
        poly_cells.join(pt_cells, ["gx", "gy"])
        .filter(
            st_contains_ring(F.col("xs"), F.col("ys"), F.col("px"), F.col("py"))
        )
        .select("nk", "pid")
        .orderBy("nk", "pid")
    )


# --- Bing tiles (BingTileFunctions.java) -----------------------------------
#
# bing_tile_at / bing_tile_coordinates / bing_tile_quadkey / bing_tile
# (from quadkey) / tile→lat-lon corners, as pure integer/double
# expressions (the reference's web-mercator math, BingTileFunctions.java:
# 617-657 longitudeToTileX/Y, 600-609 tileXYToLatitudeLongitude;
# quadkey bit-interleave BingTile.java). mapSize = 256·2^zoom; shifts are
# spelled as DIV-by-power-of-2 so Spark and DuckDB evaluate identically.


@_q(
    "geo_bing_tiles",
    """
WITH pts AS (
  SELECT c_custkey AS pid,
         CAST((c_custkey * 73) % 17000 AS DOUBLE) / 100 - 85 AS lat,
         CAST((c_custkey * 37) % 36000 AS DOUBLE) / 100 - 180 AS lon,
         c_custkey % 7 + 10 AS zoom
  FROM customer WHERE c_custkey < 2000
), tiles AS (
  SELECT pid, zoom, lat, lon,
         CAST(floor(least(greatest(((lon + 180) / 360) * (256 * CAST(pow(2, zoom) AS BIGINT)), 0),
                    (256 * CAST(pow(2, zoom) AS BIGINT)) - 1)) AS BIGINT) // 256 AS tile_x,
         CAST(floor(least(greatest((0.5 - ln((1 + sin(lat * pi() / 180)) / (1 - sin(lat * pi() / 180))) / (4 * pi()))
                      * (256 * CAST(pow(2, zoom) AS BIGINT)), 0),
                    (256 * CAST(pow(2, zoom) AS BIGINT)) - 1)) AS BIGINT) // 256 AS tile_y
  FROM pts
), keyed AS (
  SELECT pid, zoom, tile_x, tile_y,
         array_to_string(list_transform(generate_series(zoom, 1, -1), i ->
           CAST((tile_x // CAST(pow(2, i - 1) AS BIGINT)) % 2
                + 2 * ((tile_y // CAST(pow(2, i - 1) AS BIGINT)) % 2) AS STRING)), '') AS quadkey
  FROM tiles
)
SELECT pid, zoom, tile_x, tile_y, quadkey,
       (CAST(list_sum(list_transform(generate_series(1, zoom), j ->
          (CAST(quadkey[j] AS BIGINT) % 2) * CAST(pow(2, zoom - j) AS BIGINT))) AS BIGINT) = tile_x
        AND
        CAST(list_sum(list_transform(generate_series(1, zoom), j ->
          (CAST(quadkey[j] AS BIGINT) // 2) * CAST(pow(2, zoom - j) AS BIGINT))) AS BIGINT) = tile_y
       ) AS roundtrip,
       round(360 * ((CAST(tile_x * 256 AS DOUBLE) / (256 * CAST(pow(2, zoom) AS BIGINT))) - 0.5), 6) AS corner_lon,
       TRUE AS center_roundtrip
FROM keyed
ORDER BY pid
""",
)
def geo_bing_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bing_tile_at / bing_tile_quadkey / bing_tile(quadkey) roundtrip /
    tile→corner lat-lon (BingTileFunctions.java:183 bing_tile_at, :127
    toQuadKey, :174 fromQuadKey, :600 tileXYToLatitudeLongitude). All
    JVM expressions — the web-mercator forward/backward transforms and
    the quadkey bit-interleave spelled as DIV-by-2^k arithmetic that
    both engines evaluate bit-identically."""
    cust = load_tables(spark, sf_dir, "customer")[0]
    pts = cust.filter(F.col("c_custkey") < 2000).select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 73 % 17000).cast("double") / 100 - 85).alias("lat"),
        ((F.col("c_custkey") * 37 % 36000).cast("double") / 100 - 180).alias("lon"),
        (F.col("c_custkey") % 7 + 10).alias("zoom"),
    )
    map_size = (F.lit(256) * F.pow(2, F.col("zoom")).cast("bigint")).alias("map_size")
    xaxis = (F.col("lon") + 180) / 360
    sinlat = F.sin(F.col("lat") * F.lit(3.141592653589793) / 180)
    yaxis = 0.5 - F.log((1 + sinlat) / (1 - sinlat)) / (4 * F.lit(3.141592653589793))
    ms = F.col("map_size")
    tiles = pts.withColumn("map_size", map_size).select(
        "pid", "zoom",
        F.expr(
            "CAST(least(greatest(((lon + 180) / 360) * map_size, 0), map_size - 1) AS BIGINT) DIV 256"
        ).alias("tile_x"),
        F.expr(
            "CAST(least(greatest((0.5 - ln((1 + sin(lat * pi() / 180)) / (1 - sin(lat * pi() / 180))) / (4 * pi())) * map_size, 0), map_size - 1) AS BIGINT) DIV 256"
        ).alias("tile_y"),
        "map_size",
    )
    keyed = tiles.withColumn(
        "quadkey",
        F.expr(
            "array_join(transform(sequence(zoom, 1, -1), i -> "
            "CAST((tile_x DIV CAST(pow(2, i - 1) AS BIGINT)) % 2 "
            "+ 2 * ((tile_y DIV CAST(pow(2, i - 1) AS BIGINT)) % 2) AS STRING)), '')"
        ),
    )
    return keyed.select(
        "pid", "zoom", "tile_x", "tile_y", "quadkey",
        F.expr(
            "CAST(aggregate(sequence(1, zoom), CAST(0 AS BIGINT), (acc, j) -> acc + "
            "(CAST(substring(quadkey, j, 1) AS BIGINT) % 2) * CAST(pow(2, zoom - j) AS BIGINT)) AS BIGINT) = tile_x "
            "AND CAST(aggregate(sequence(1, zoom), CAST(0 AS BIGINT), (acc, j) -> acc + "
            "(CAST(substring(quadkey, j, 1) AS BIGINT) DIV 2) * CAST(pow(2, zoom - j) AS BIGINT)) AS BIGINT) = tile_y"
        ).alias("roundtrip"),
        F.round(
            360 * ((F.col("tile_x") * 256).cast("double") / ms - 0.5), 6
        ).alias("corner_lon"),
        # Backward transform checked IN-ENGINE (trig last-ulp differs
        # across libms, so the oracle pins the boolean, not the radians):
        # tile → center lat/lon (tileXYToLatitudeLongitude at x+0.5, y+0.5)
        # → forward transform → must land on the same tile.
        F.expr(
            "CAST(least(greatest((( (360 * (((tile_x + 0.5) * 256) / map_size - 0.5)) + 180) / 360) * map_size, 0), map_size - 1) AS BIGINT) DIV 256 = tile_x "
            "AND CAST(least(greatest((0.5 - ln((1 + sin((90 - 360 * atan(exp(-(0.5 - ((tile_y + 0.5) * 256) / map_size) * 2 * pi())) / pi()) * pi() / 180)) "
            "/ (1 - sin((90 - 360 * atan(exp(-(0.5 - ((tile_y + 0.5) * 256) / map_size) * 2 * pi())) / pi()) * pi() / 180))) / (4 * pi())) * map_size, 0), map_size - 1) AS BIGINT) DIV 256 = tile_y"
        ).alias("center_roundtrip"),
    ).orderBy("pid")


# --- WKT text: parsing ------------------------------------------------------
#
# GeoFunctions.java ST_GeometryFromText (:237), ST_AsText (:253),
# ST_X/ST_Y (:832/:846), ST_NumPoints (:724), ST_IsClosed (:349),
# ST_Length (:426), ST_Distance (:933), ST_Intersects (:1076) over the
# POINT / LINESTRING / single-ring POLYGON subset. The parser is regex
# strip + split + casts in BOTH engines.

def st_geometry_type(w: Column) -> Column:
    """Leading keyword: POINT / LINESTRING / POLYGON."""
    return F.regexp_extract(w, r"^\s*([A-Z]+)", 1)


def _coord_parts(w: Column) -> Column:
    """Comma-separated 'x y' pieces with type word and parens stripped."""
    return F.split(F.trim(F.regexp_replace(w, r"[^0-9,.\- ]", "")), ",")


def st_xs(w: Column) -> Column:
    return F.transform(
        _coord_parts(w), lambda p: F.split(F.trim(p), " +").getItem(0).cast("double")
    )


def st_ys(w: Column) -> Column:
    return F.transform(
        _coord_parts(w), lambda p: F.split(F.trim(p), " +").getItem(1).cast("double")
    )


# DuckDB equivalents (1-based subscripts, list_transform).
_SQL_TYPE = "regexp_extract({w}, '^\\s*([A-Z]+)', 1)"
_SQL_PARTS = "string_split(trim(regexp_replace({w}, '[^0-9,.\\- ]', '', 'g')), ',')"
_SQL_XS = (
    "list_transform(" + _SQL_PARTS + ", p -> CAST(string_split_regex(trim(p), ' +')[1] AS DOUBLE))"
)
_SQL_YS = (
    "list_transform(" + _SQL_PARTS + ", p -> CAST(string_split_regex(trim(p), ' +')[2] AS DOUBLE))"
)


def st_astext(gtype: Column, xs: Column, ys: Column) -> Column:
    """Canonical WKT rendering — integral coordinates print without a
    decimal point (as the reference's ESRI writer does)."""
    num = lambda v: F.when(  # noqa: E731
        v == F.floor(v), v.cast("bigint").cast("string")
    ).otherwise(v.cast("string"))
    body = F.array_join(
        F.zip_with(xs, ys, lambda x, y: F.concat_ws(" ", num(x), num(y))), ", "
    )
    return F.when(gtype == "POLYGON", F.concat(gtype, F.lit(" (("), body, F.lit("))"))).otherwise(
        F.concat(gtype, F.lit(" ("), body, F.lit(")"))
    )


_SQL_NUM = "(CASE WHEN {v} = floor({v}) THEN CAST(CAST({v} AS BIGINT) AS STRING) ELSE CAST({v} AS STRING) END)"
_SQL_ASTEXT = (
    "({g} || (CASE WHEN {g} = 'POLYGON' THEN ' ((' ELSE ' (' END) || "
    "array_to_string(list_transform(generate_series(1, len({xs})), i -> "
    + _SQL_NUM.format(v="{xs}[i]")
    + " || ' ' || "
    + _SQL_NUM.format(v="{ys}[i]")
    + "), ', ') || (CASE WHEN {g} = 'POLYGON' THEN '))' ELSE ')' END))"
)


# --- per-geometry functions ------------------------------------------------

def st_length(xs: Column, ys: Column) -> Column:
    """Sum of segment lengths (GeoFunctions.java ST_Length — linestrings)."""
    return _seg_fold(
        xs, ys, F.lit(0.0),
        lambda acc, x1, y1, x2, y2: acc + F.sqrt((x2 - x1) ** 2 + (y2 - y1) ** 2),
    )


_SQL_LENGTH = (
    "list_sum(list_transform(generate_series(1, len({xs}) - 1), i -> "
    "sqrt(({xs}[i+1] - {xs}[i]) * ({xs}[i+1] - {xs}[i]) + "
    "({ys}[i+1] - {ys}[i]) * ({ys}[i+1] - {ys}[i]))))"
)


def st_is_closed(xs: Column, ys: Column) -> Column:
    return (F.element_at(xs, 1) == F.element_at(xs, -1)) & (
        F.element_at(ys, 1) == F.element_at(ys, -1)
    )


_SQL_IS_CLOSED = "({xs}[1] = {xs}[-1] AND {ys}[1] = {ys}[-1])"


def st_distance_point_segments(px: Column, py: Column, xs: Column, ys: Column) -> Column:
    """Min distance from point to any consecutive segment (point↔linestring,
    and the outside branch of point↔polygon). Classic clamped projection:
    t = clamp(((p-a)·(b-a)) / |b-a|², 0, 1)."""

    def seg_d(acc, x1, y1, x2, y2):
        dx, dy = x2 - x1, y2 - y1
        den = dx * dx + dy * dy
        t_raw = ((px - x1) * dx + (py - y1) * dy) / den
        t = F.when(den == 0, F.lit(0.0)).otherwise(F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0)))
        cx, cy = x1 + t * dx, y1 + t * dy
        return F.least(acc, F.sqrt((px - cx) ** 2 + (py - cy) ** 2))

    return _seg_fold(xs, ys, F.lit(float("inf")).cast("double"), seg_d)


_SQL_PT_SEG_DIST = (
    "list_min(list_transform(generate_series(1, len({xs}) - 1), i -> ("
    "sqrt(({px} - ({xs}[i] + (CASE WHEN (({xs}[i+1]-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({ys}[i+1]-{ys}[i])*({ys}[i+1]-{ys}[i])) = 0 THEN 0.0 ELSE "
    "least(greatest((({px}-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({py}-{ys}[i])*({ys}[i+1]-{ys}[i])) / "
    "(({xs}[i+1]-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({ys}[i+1]-{ys}[i])*({ys}[i+1]-{ys}[i])), 0.0), 1.0) END) * ({xs}[i+1]-{xs}[i]))) * "
    "({px} - ({xs}[i] + (CASE WHEN (({xs}[i+1]-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({ys}[i+1]-{ys}[i])*({ys}[i+1]-{ys}[i])) = 0 THEN 0.0 ELSE "
    "least(greatest((({px}-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({py}-{ys}[i])*({ys}[i+1]-{ys}[i])) / "
    "(({xs}[i+1]-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({ys}[i+1]-{ys}[i])*({ys}[i+1]-{ys}[i])), 0.0), 1.0) END) * ({xs}[i+1]-{xs}[i]))) + "
    "({py} - ({ys}[i] + (CASE WHEN (({xs}[i+1]-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({ys}[i+1]-{ys}[i])*({ys}[i+1]-{ys}[i])) = 0 THEN 0.0 ELSE "
    "least(greatest((({px}-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({py}-{ys}[i])*({ys}[i+1]-{ys}[i])) / "
    "(({xs}[i+1]-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({ys}[i+1]-{ys}[i])*({ys}[i+1]-{ys}[i])), 0.0), 1.0) END) * ({ys}[i+1]-{ys}[i]))) * "
    "({py} - ({ys}[i] + (CASE WHEN (({xs}[i+1]-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({ys}[i+1]-{ys}[i])*({ys}[i+1]-{ys}[i])) = 0 THEN 0.0 ELSE "
    "least(greatest((({px}-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({py}-{ys}[i])*({ys}[i+1]-{ys}[i])) / "
    "(({xs}[i+1]-{xs}[i])*({xs}[i+1]-{xs}[i]) + ({ys}[i+1]-{ys}[i])*({ys}[i+1]-{ys}[i])), 0.0), 1.0) END) * ({ys}[i+1]-{ys}[i]))))"
    ")))"
)


def st_intersects_rings(axs: Column, ays: Column, bxs: Column, bys: Column) -> Column:
    """Ring↔ring intersects: any segment pair crosses/touches, or either
    ring contains the other's first vertex (covers full containment)."""

    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    def seg_pair_hit(x1, y1, x2, y2):
        # inner fold over B's segments for one A segment
        def inner(acc, x3, y3, x4, y4):
            d1 = cross(x3, y3, x4, y4, x1, y1)
            d2 = cross(x3, y3, x4, y4, x2, y2)
            d3 = cross(x1, y1, x2, y2, x3, y3)
            d4 = cross(x1, y1, x2, y2, x4, y4)
            proper = (d1 * d2 < 0) & (d3 * d4 < 0)
            bbox = (
                (F.least(x1, x2) <= F.greatest(x3, x4))
                & (F.least(x3, x4) <= F.greatest(x1, x2))
                & (F.least(y1, y2) <= F.greatest(y3, y4))
                & (F.least(y3, y4) <= F.greatest(y1, y2))
            )
            touch = ((d1 == 0) | (d2 == 0) | (d3 == 0) | (d4 == 0)) & bbox
            return acc + F.when(proper | touch, 1).otherwise(0)

        return _seg_fold(bxs, bys, F.lit(0), inner)

    seg_hits = _seg_fold(
        axs, ays, F.lit(0), lambda acc, x1, y1, x2, y2: acc + seg_pair_hit(x1, y1, x2, y2)
    )
    return (
        (seg_hits > 0)
        | st_contains_ring(axs, ays, F.element_at(bxs, 1), F.element_at(bys, 1))
        | st_contains_ring(bxs, bys, F.element_at(axs, 1), F.element_at(ays, 1))
    )


def _sql_intersects(axs: str, ays: str, bxs: str, bys: str) -> str:
    cross = "(({ax} - {ox}) * ({by} - {oy}) - ({ay} - {oy}) * ({bx} - {ox}))"
    d1 = cross.format(ox=f"{bxs}[j]", oy=f"{bys}[j]", ax=f"{bxs}[j+1]", ay=f"{bys}[j+1]", bx=f"{axs}[i]", by=f"{ays}[i]")
    d2 = cross.format(ox=f"{bxs}[j]", oy=f"{bys}[j]", ax=f"{bxs}[j+1]", ay=f"{bys}[j+1]", bx=f"{axs}[i+1]", by=f"{ays}[i+1]")
    d3 = cross.format(ox=f"{axs}[i]", oy=f"{ays}[i]", ax=f"{axs}[i+1]", ay=f"{ays}[i+1]", bx=f"{bxs}[j]", by=f"{bys}[j]")
    d4 = cross.format(ox=f"{axs}[i]", oy=f"{ays}[i]", ax=f"{axs}[i+1]", ay=f"{ays}[i+1]", bx=f"{bxs}[j+1]", by=f"{bys}[j+1]")
    bbox = (
        f"(least({axs}[i], {axs}[i+1]) <= greatest({bxs}[j], {bxs}[j+1]) AND "
        f"least({bxs}[j], {bxs}[j+1]) <= greatest({axs}[i], {axs}[i+1]) AND "
        f"least({ays}[i], {ays}[i+1]) <= greatest({bys}[j], {bys}[j+1]) AND "
        f"least({bys}[j], {bys}[j+1]) <= greatest({ays}[i], {ays}[i+1]))"
    )
    pair = (
        f"CASE WHEN (({d1}) * ({d2}) < 0 AND ({d3}) * ({d4}) < 0) OR "
        f"((({d1}) = 0 OR ({d2}) = 0 OR ({d3}) = 0 OR ({d4}) = 0) AND {bbox}) "
        f"THEN 1 ELSE 0 END"
    )
    seg_hits = (
        f"list_sum(list_transform(generate_series(1, len({axs}) - 1), i -> "
        f"list_sum(list_transform(generate_series(1, len({bxs}) - 1), j -> {pair}))))"
    )
    in_a = _SQL_CONTAINS.format(xs=axs, ys=ays, px=f"{bxs}[1]", py=f"{bys}[1]")
    in_b = _SQL_CONTAINS.format(xs=bxs, ys=bys, px=f"{axs}[1]", py=f"{ays}[1]")
    return f"(({seg_hits}) > 0 OR {in_a} OR {in_b})"


# --- synthetic WKT columns (identical || text in both engines) -------------

# point per customer; linestring per customer (closed when custkey%3=0);
# pentagon ring per nation (closed — WKT repeats the first vertex)
_WKT_POINT = (
    "('POINT (' || CAST((c_custkey * 37) % 1000 AS STRING) || ' ' || "
    "CAST((c_custkey * 73) % 1000 AS STRING) || ')')"
)
_WKT_LINE = (
    "('LINESTRING (' || CAST((c_custkey * 11) % 500 AS STRING) || ' ' || CAST((c_custkey * 19) % 500 AS STRING)"
    " || ', ' || CAST((c_custkey * 23) % 500 AS STRING) || ' ' || CAST((c_custkey * 29) % 500 AS STRING)"
    " || ', ' || (CASE WHEN c_custkey % 3 = 0 THEN CAST((c_custkey * 11) % 500 AS STRING) || ' ' || CAST((c_custkey * 19) % 500 AS STRING)"
    " ELSE CAST((c_custkey * 31) % 500 AS STRING) || ' ' || CAST((c_custkey * 41) % 500 AS STRING) END) || ')')"
)


def _wkt_pentagon(key: str, sx: str | None = None, sy: str | None = None) -> str:
    """The per-nation pentagon as closed WKT text; ``sx``/``sy`` (SQL
    expressions) shift its center."""
    ox = f" + {sx}" if sx is not None else ""
    oy = f" + {sy}" if sy is not None else ""
    cx, cy = f"(({key} * 17) % 80 + 10{ox})", f"(({key} * 29) % 80 + 10{oy})"
    pts = [
        f"CAST({cx} + {dx} AS STRING) || ' ' || CAST({cy} + {dy} AS STRING)"
        for dx, dy in zip(_PENT_DX + [_PENT_DX[0]], _PENT_DY + [_PENT_DY[0]])
    ]
    return "('POLYGON ((' || " + " || ', ' || ".join(pts) + " || '))')"


def _wkt_diamond(
    key: str, cx_expr: str, cy_expr: str, r: int = 6, r_expr: str | None = None
) -> str:
    rx = r_expr if r_expr is not None else str(r)
    pts = [
        f"CAST({cx_expr} {sx} {rx if dx else 0} AS STRING) || ' ' || "
        f"CAST({cy_expr} {sy} {rx if dy else 0} AS STRING)"
        for dx, dy, sx, sy in [
            (0, 1, "+", "-"), (1, 0, "+", "+"), (0, 1, "+", "+"),
            (1, 0, "-", "+"), (0, 1, "+", "-"),
        ]
    ]
    return "('POLYGON ((' || " + " || ', ' || ".join(pts) + " || '))')"


# --- WKT queries -----------------------------------------------------------

@_q(
    "geo_wkt_roundtrip",
    f"""
WITH g AS (
  SELECT c_custkey AS pid, {_WKT_POINT} AS pw, {_WKT_LINE} AS lw
  FROM customer WHERE c_custkey < 1000
), parsed AS (
  SELECT pid, pw,
         {_SQL_TYPE.format(w='pw')} AS ptype,
         {_SQL_XS.format(w='pw')} AS pxs, {_SQL_YS.format(w='pw')} AS pys,
         {_SQL_XS.format(w='lw')} AS lxs, {_SQL_YS.format(w='lw')} AS lys
  FROM g
)
SELECT pid,
       round(pxs[1], 6) AS px, round(pys[1], 6) AS py,
       CAST(len(lxs) AS INTEGER) AS n_points,
       {_SQL_IS_CLOSED.format(xs='lxs', ys='lys')} AS closed,
       round({_SQL_LENGTH.format(xs='lxs', ys='lys')}, 6) AS line_len,
       ({_SQL_ASTEXT.format(g='ptype', xs='pxs', ys='pys')} = pw) AS roundtrip
FROM parsed
ORDER BY pid
""",
)
def geo_wkt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_GeometryFromText / ST_AsText / ST_X / ST_Y / ST_NumPoints /
    ST_IsClosed / ST_Length over parsed WKT (GeoFunctions.java:237-431)."""
    cust = load_tables(spark, sf_dir, "customer")[0]
    g = cust.filter(F.col("c_custkey") < 1000).select(
        F.col("c_custkey").alias("pid"),
        F.expr(_WKT_POINT).alias("pw"),
        F.expr(_WKT_LINE).alias("lw"),
    )
    parsed = g.select(
        "pid", "pw",
        st_geometry_type(F.col("pw")).alias("ptype"),
        st_xs(F.col("pw")).alias("pxs"), st_ys(F.col("pw")).alias("pys"),
        st_xs(F.col("lw")).alias("lxs"), st_ys(F.col("lw")).alias("lys"),
    )
    return parsed.select(
        "pid",
        F.round(F.element_at("pxs", 1), 6).alias("px"),
        F.round(F.element_at("pys", 1), 6).alias("py"),
        F.size("lxs").cast("int").alias("n_points"),
        st_is_closed(F.col("lxs"), F.col("lys")).alias("closed"),
        F.round(st_length(F.col("lxs"), F.col("lys")), 6).alias("line_len"),
        (st_astext(F.col("ptype"), F.col("pxs"), F.col("pys")) == F.col("pw")).alias("roundtrip"),
    ).orderBy("pid")


@_q(
    "geo_wkt_distance",
    f"""
WITH pts AS (
  SELECT c_custkey AS pid, c_nationkey AS nk,
         CAST((c_custkey * 37) % 1000 AS DOUBLE) / 10 AS px,
         CAST((c_custkey * 73) % 1000 AS DOUBLE) / 10 AS py
  FROM customer WHERE c_custkey < 2000
), polys AS (
  SELECT n_nationkey AS nk, {_wkt_pentagon('n_nationkey')} AS poly_w FROM nation
), parsed AS (
  SELECT nk, {_SQL_XS.format(w='poly_w')} AS xs, {_SQL_YS.format(w='poly_w')} AS ys FROM polys
), d AS (
  SELECT p.nk, t.pid,
         CASE WHEN {_SQL_CONTAINS.format(xs='xs', ys='ys', px='t.px', py='t.py')}
              THEN 0.0
              ELSE {_SQL_PT_SEG_DIST.format(xs='xs', ys='ys', px='t.px', py='t.py')}
         END AS dist
  FROM parsed p JOIN pts t ON t.nk = p.nk
)
SELECT nk, CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       round(min(dist), 6) AS min_dist, round(max(dist), 6) AS max_dist
FROM d GROUP BY nk ORDER BY nk
""",
)
def geo_wkt_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Distance point↔polygon (GeoFunctions.java:933): zero inside
    (crossing-number), else clamped-projection min distance to the ring's
    segments. Equi-join on nationkey — scan-shaped, no cross join."""
    nation, cust = load_tables(spark, sf_dir, "nation", "customer")
    pts = cust.filter(F.col("c_custkey") < 2000).select(
        F.col("c_custkey").alias("pid"),
        F.col("c_nationkey").alias("nk"),
        ((F.col("c_custkey") * 37 % 1000).cast("double") / 10).alias("px"),
        ((F.col("c_custkey") * 73 % 1000).cast("double") / 10).alias("py"),
    )
    polys = nation.select(
        F.col("n_nationkey").alias("nk"), F.expr(_wkt_pentagon("n_nationkey")).alias("poly_w")
    )
    parsed = polys.select("nk", st_xs(F.col("poly_w")).alias("xs"), st_ys(F.col("poly_w")).alias("ys"))
    joined = F.broadcast(parsed).join(pts, "nk")
    dist = F.when(
        st_contains_ring(F.col("xs"), F.col("ys"), F.col("px"), F.col("py")), F.lit(0.0)
    ).otherwise(st_distance_point_segments(F.col("px"), F.col("py"), F.col("xs"), F.col("ys")))
    d = joined.select("nk", "pid", dist.alias("dist"))
    return (
        d.groupBy("nk")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.sum(F.when(F.col("dist") == 0, 1).otherwise(0)).cast("bigint").alias("n_inside"),
            F.round(F.min("dist"), 6).alias("min_dist"),
            F.round(F.max("dist"), 6).alias("max_dist"),
        )
        .orderBy("nk")
    )


GRID_WKT = 20.0  # cell width ≥ polygon diameter so a bbox spans ≤ 4 cells


@_q(
    "geo_wkt_intersects_join",
    f"""
WITH na AS (
  SELECT n_nationkey AS nk, {_wkt_pentagon('n_nationkey')} AS w FROM nation
), a AS (
  SELECT nk, {_SQL_XS.format(w='w')} AS axs, {_SQL_YS.format(w='w')} AS ays FROM na
), cb AS (
  SELECT c_custkey AS pid,
         {_wkt_diamond('c_custkey', 'CAST((c_custkey * 37) % 1000 AS BIGINT) / 10', 'CAST((c_custkey * 73) % 1000 AS BIGINT) / 10')} AS w
  FROM customer WHERE c_custkey < 500
), b AS (
  SELECT pid, {_SQL_XS.format(w='w')} AS bxs, {_SQL_YS.format(w='w')} AS bys FROM cb
)
SELECT a.nk, b.pid
FROM a JOIN b ON {_sql_intersects('axs', 'ays', 'bxs', 'bys')}
ORDER BY nk, pid
""",
)
def geo_wkt_intersects_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersects polygon↔polygon SPATIAL JOIN (GeoFunctions.java:1076)
    over WKT-parsed rings, grid-blocked like geo_polygon_join: both
    sides explode to bbox-covered cells, candidates meet in a cell
    equi-join, the exact segment-crossing + mutual-containment predicate
    filters. Oracle is the naive theta-join — the hash match proves the
    blocking loses no pairs."""
    nation, cust = load_tables(spark, sf_dir, "nation", "customer")
    a = nation.select(
        F.col("n_nationkey").alias("nk"), F.expr(_wkt_pentagon("n_nationkey")).alias("w")
    ).select("nk", st_xs(F.col("w")).alias("axs"), st_ys(F.col("w")).alias("ays"))
    b = cust.filter(F.col("c_custkey") < 500).select(
        F.col("c_custkey").alias("pid"),
        F.expr(
            _wkt_diamond(
                "c_custkey",
                "CAST((c_custkey * 37) % 1000 AS BIGINT) / 10",
                "CAST((c_custkey * 73) % 1000 AS BIGINT) / 10",
            )
        ).alias("w"),
    ).select("pid", st_xs(F.col("w")).alias("bxs"), st_ys(F.col("w")).alias("bys"))

    cell = lambda v: F.floor(v / GRID_WKT).cast("long")  # noqa: E731

    def cells(df, xs, ys):
        return df.select(
            "*", F.explode(F.sequence(cell(F.array_min(xs)), cell(F.array_max(xs)))).alias("gx")
        ).select(
            "*", F.explode(F.sequence(cell(F.array_min(ys)), cell(F.array_max(ys)))).alias("gy")
        )

    ac = cells(a, F.col("axs"), F.col("ays"))
    bc = cells(b, F.col("bxs"), F.col("bys"))
    return (
        ac.join(bc, ["gx", "gy"])
        .filter(st_intersects_rings(F.col("axs"), F.col("ays"), F.col("bxs"), F.col("bys")))
        .select("nk", "pid")
        .distinct()
        .orderBy("nk", "pid")
    )


# --- measures: area / centroid / envelope ----------------------------------

def st_envelope_wkt(xs: Column, ys: Column) -> Column:
    """Axis-aligned bounding box rendered as canonical POLYGON WKT
    (GeoFunctions.java ST_Envelope; corner order xmin/ymin → xmax/ymin →
    xmax/ymax → xmin/ymax, ring closed)."""
    xmin, xmax = F.array_min(xs), F.array_max(xs)
    ymin, ymax = F.array_min(ys), F.array_max(ys)
    exs = F.array(xmin, xmax, xmax, xmin, xmin)
    eys = F.array(ymin, ymin, ymax, ymax, ymin)
    return st_astext(F.lit("POLYGON"), exs, eys)


_SQL_SHOELACE = (
    "list_sum(list_transform(generate_series(1, len({xs}) - 1), i -> "
    "({xs}[i] * {ys}[i+1] - {xs}[i+1] * {ys}[i])))"
)
_SQL_AREA = "(abs(" + _SQL_SHOELACE + ") / 2)"
_SQL_CX = (
    "(list_sum(list_transform(generate_series(1, len({xs}) - 1), i -> "
    "({xs}[i] + {xs}[i+1]) * ({xs}[i] * {ys}[i+1] - {xs}[i+1] * {ys}[i]))) / (3 * "
    + _SQL_SHOELACE + "))"
)
_SQL_CY = (
    "(list_sum(list_transform(generate_series(1, len({xs}) - 1), i -> "
    "({ys}[i] + {ys}[i+1]) * ({xs}[i] * {ys}[i+1] - {xs}[i+1] * {ys}[i]))) / (3 * "
    + _SQL_SHOELACE + "))"
)
_SQL_ENVELOPE = _SQL_ASTEXT.format(
    g="'POLYGON'",
    xs="list_value(list_min({xs}), list_max({xs}), list_max({xs}), list_min({xs}), list_min({xs}))",
    ys="list_value(list_min({ys}), list_min({ys}), list_max({ys}), list_max({ys}), list_min({ys}))",
)


@_q(
    "geo_wkt_envelope",
    f"""
WITH g AS (
  SELECT c_custkey AS pid,
         {_wkt_diamond('c_custkey',
                       'CAST((c_custkey * 37) % 1000 AS BIGINT) / 10',
                       'CAST((c_custkey * 73) % 1000 AS BIGINT) / 10',
                       r_expr='(c_custkey % 5 + 3)')} AS w
  FROM customer WHERE c_custkey < 2000
), parsed AS (
  SELECT pid, {_SQL_XS.format(w='w')} AS xs, {_SQL_YS.format(w='w')} AS ys FROM g
)
SELECT pid,
       round({_SQL_AREA.format(xs='xs', ys='ys')}, 6) AS area,
       round({_SQL_LENGTH.format(xs='xs', ys='ys')}, 6) AS perimeter,
       round({_SQL_CX.format(xs='xs', ys='ys')}, 6) AS cx,
       round({_SQL_CY.format(xs='xs', ys='ys')}, 6) AS cy,
       round(list_min(xs), 6) AS xmin, round(list_max(xs), 6) AS xmax,
       round(list_min(ys), 6) AS ymin, round(list_max(ys), 6) AS ymax,
       {_SQL_ENVELOPE.format(xs='xs', ys='ys')} AS envelope,
       {_SQL_CONTAINS.format(xs='xs', ys='ys',
                             px=_SQL_CX.format(xs='xs', ys='ys'),
                             py=_SQL_CY.format(xs='xs', ys='ys'))} AS centroid_within
FROM parsed
ORDER BY pid
""",
)
def geo_wkt_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Area / ST_Length(perimeter) / ST_Centroid / ST_XMin..ST_YMax /
    ST_Envelope / ST_Within over variable-radius WKT diamonds
    (GeoFunctions.java:517 ST_Area, :568 ST_Centroid, :700 ST_Envelope,
    :861-929 ST_XMin family, :1195 ST_Within). Pure expression folds —
    one scan, no shuffle, no UDF; centroid_within re-applies the
    crossing-number predicate at the computed centroid (true for these
    convex rings)."""
    cust = load_tables(spark, sf_dir, "customer")[0]
    g = cust.filter(F.col("c_custkey") < 2000).select(
        F.col("c_custkey").alias("pid"),
        F.expr(
            _wkt_diamond(
                "c_custkey",
                "CAST((c_custkey * 37) % 1000 AS BIGINT) / 10",
                "CAST((c_custkey * 73) % 1000 AS BIGINT) / 10",
                r_expr="(c_custkey % 5 + 3)",
            )
        ).alias("w"),
    )
    parsed = g.select("pid", st_xs(F.col("w")).alias("xs"), st_ys(F.col("w")).alias("ys"))
    xs, ys = F.col("xs"), F.col("ys")
    cx, cy = st_centroid_ring(xs, ys)
    return parsed.select(
        "pid",
        F.round(st_area_ring(xs, ys), 6).alias("area"),
        F.round(st_length(xs, ys), 6).alias("perimeter"),
        F.round(cx, 6).alias("cx"),
        F.round(cy, 6).alias("cy"),
        F.round(F.array_min(xs), 6).alias("xmin"),
        F.round(F.array_max(xs), 6).alias("xmax"),
        F.round(F.array_min(ys), 6).alias("ymin"),
        F.round(F.array_max(ys), 6).alias("ymax"),
        st_envelope_wkt(xs, ys).alias("envelope"),
        st_contains_ring(xs, ys, cx, cy).alias("centroid_within"),
    ).orderBy("pid")


# --- line_interpolate_point ------------------------------------------------
#
# GeoFunctions.java line_interpolate_point(geometry, fraction): the point
# at fraction t of a linestring's length. Both engines compute cumulative
# segment lengths with the SAME left-to-right summation (O(n²) over the
# 3-vertex lines here — n is tiny), pick the first segment whose cumulative
# reaches t·total, and interpolate within it — identical IEEE ops, so the
# rounded coordinates hash-match.


@_q(
    "geo_wkt_line_interpolate",
    f"""
WITH g AS (
  SELECT c_custkey AS pid, CAST(c_custkey % 5 AS DOUBLE) / 4 AS frac, {_WKT_LINE} AS lw
  FROM customer WHERE c_custkey < 1000
), parsed AS (
  SELECT pid, frac, {_SQL_XS.format(w='lw')} AS lxs, {_SQL_YS.format(w='lw')} AS lys FROM g
), staged AS (
  SELECT pid, frac, lxs, lys,
         list_transform(generate_series(1, len(lxs) - 1), i ->
           list_sum(list_transform(generate_series(1, i), j ->
             sqrt((lxs[j+1] - lxs[j]) * (lxs[j+1] - lxs[j]) + (lys[j+1] - lys[j]) * (lys[j+1] - lys[j]))))) AS cums
  FROM parsed
), picked AS (
  SELECT pid, frac, lxs, lys,
         frac * cums[-1] AS target,
         len(list_filter(cums, c -> c < frac * cums[-1])) + 1 AS k
  FROM staged
), seg AS (
  SELECT pid, frac, lxs, lys, k,
         target - (CASE WHEN k = 1 THEN 0.0 ELSE
           list_sum(list_transform(generate_series(1, k - 1), j ->
             sqrt((lxs[j+1] - lxs[j]) * (lxs[j+1] - lxs[j]) + (lys[j+1] - lys[j]) * (lys[j+1] - lys[j])))) END) AS t_in,
         sqrt((lxs[k+1] - lxs[k]) * (lxs[k+1] - lxs[k]) + (lys[k+1] - lys[k]) * (lys[k+1] - lys[k])) AS lk
  FROM picked
)
SELECT pid, frac,
       round(lxs[k] + (CASE WHEN lk = 0 THEN 0.0 ELSE t_in / lk END) * (lxs[k+1] - lxs[k]), 6) AS px,
       round(lys[k] + (CASE WHEN lk = 0 THEN 0.0 ELSE t_in / lk END) * (lys[k+1] - lys[k]), 6) AS py
FROM seg
ORDER BY pid
""",
)
def geo_wkt_line_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_interpolate_point (GeoFunctions.java line_interpolate_point):
    fraction-of-length point on a WKT linestring, as pure expressions —
    cumulative segment lengths, first-reaching segment, linear
    interpolation. Zero-length segments fall back to the segment start;
    frac 0/1 land exactly on the endpoints."""
    cust = load_tables(spark, sf_dir, "customer")[0]
    g = cust.filter(F.col("c_custkey") < 1000).select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") % 5).cast("double") / 4).alias("frac"),
        F.expr(_WKT_LINE).alias("lw"),
    )
    parsed = g.select(
        "pid", "frac", st_xs(F.col("lw")).alias("lxs"), st_ys(F.col("lw")).alias("lys")
    )
    seglen = (
        "sqrt((element_at(lxs, {j} + 1) - element_at(lxs, {j})) * (element_at(lxs, {j} + 1) - element_at(lxs, {j}))"
        " + (element_at(lys, {j} + 1) - element_at(lys, {j})) * (element_at(lys, {j} + 1) - element_at(lys, {j})))"
    )
    cum_expr = (
        "transform(sequence(1, size(lxs) - 1), i -> "
        "aggregate(sequence(1, i), CAST(0.0 AS DOUBLE), (a, j) -> a + " + seglen.format(j="j") + "))"
    )
    staged = parsed.withColumn("cums", F.expr(cum_expr))
    picked = staged.withColumn(
        "target", F.col("frac") * F.element_at("cums", -1)
    ).withColumn(
        "k", F.expr("size(filter(cums, c -> c < frac * element_at(cums, -1))) + 1")
    )
    seg = picked.withColumn(
        "t_in",
        F.col("target")
        - F.expr(
            "CASE WHEN k = 1 THEN CAST(0.0 AS DOUBLE) ELSE "
            "aggregate(sequence(1, k - 1), CAST(0.0 AS DOUBLE), (a, j) -> a + "
            + seglen.format(j="j") + ") END"
        ),
    ).withColumn("lk", F.expr(seglen.format(j="k")))
    frac_in = F.when(F.col("lk") == 0, F.lit(0.0)).otherwise(F.col("t_in") / F.col("lk"))
    return seg.select(
        "pid", "frac",
        F.round(
            F.expr("element_at(lxs, k)")
            + frac_in * (F.expr("element_at(lxs, k + 1)") - F.expr("element_at(lxs, k)")),
            6,
        ).alias("px"),
        F.round(
            F.expr("element_at(lys, k)")
            + frac_in * (F.expr("element_at(lys, k + 1)") - F.expr("element_at(lys, k)")),
            6,
        ).alias("py"),
    ).orderBy("pid")


# --- multi-part geometries: MULTI*, holes, unions, simplify -------------------
#
# GeoFunctions.java ST_NumGeometries (:761), ST_GeometryN (:785),
# ST_NumInteriorRing (:700), area/contains with holes, geometry_union /
# geometry_union_agg (GeometryUnionAgg.java — dissolve semantics on the
# POINT/MULTIPOINT subtype: duplicate points collapse), simplify_geometry
# (:379 — a deterministic one-shot vertex-relevance decimation, the
# documented subset of ESRI's Douglas-Peucker), and the union AREA of
# axis-aligned envelopes computed exactly by slab decomposition +
# gaps-and-islands interval merging: the number
# ST_Area(geometry_union_agg(ST_Envelope(g))) would produce, without
# materializing the union geometry. The union-area pipeline is window work
# partitioned by the group key.
#
# Multi-part parsing: body = text with the type word and outermost parens
# stripped; parts split on the between-ring / between-part delimiter `), (`
# (tolerating spaces). A POLYGON's ring 0 is the shell, rings 1.. are holes.

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

# Oracle text of ring |2·area| and crossing-parity containment; the Spark
# side is st_area_ring and st_contains_ring (integer coordinates, so the
# two summation orders give the same doubles).
_SQL_RING_AREA2 = (
    "abs(list_sum(list_transform(generate_series(1, len({xs}) - 1), "
    "i -> {xs}[i] * {ys}[i + 1] - {xs}[i + 1] * {ys}[i])))"
)

_SQL_IN_RING = (
    "(len(list_filter(generate_series(1, len({xs}) - 1), i -> "
    "(({ys}[i] > {py}) <> ({ys}[i + 1] > {py})) AND "
    "({px} < ({xs}[i + 1] - {xs}[i]) * ({py} - {ys}[i]) / ({ys}[i + 1] - {ys}[i]) + {xs}[i]))) % 2 = 1)"
)


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


# --- multi-part queries ----------------------------------------------------

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

    total_len = F.aggregate(
        ml_parts, F.lit(0.0), lambda acc, p: acc + st_length(p["xs"], p["ys"])
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
        F.round(st_area_ring(sxs, sys_) - st_area_ring(hxs, hys), 6).alias("area"),
        (st_contains_ring(sxs, sys_, cx, cy) & ~st_contains_ring(hxs, hys, cx, cy))
        .alias("center_inside"),
        (st_contains_ring(sxs, sys_, cx + 5, cy) & ~st_contains_ring(hxs, hys, cx + 5, cy))
        .alias("offset_inside"),
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
         {_SQL_XS.format(w='w')} AS xs,
         {_SQL_YS.format(w='w')} AS ys
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


# --- SphericalGeography and ST_Buffer ----------------------------------------
#
# * great_circle_distance(lat1, lon1, lat2, lon2): the Vincenty-form
#   great-circle formula in KM with the reference's constant
#   EARTH_RADIUS_KM = 6371.01 (presto-geospatial-toolkit/.../
#   SphericalGeographyUtils.java:36,82-108); ST_Distance on
#   SphericalGeography points is the same formula × 1000 (:61-74).
# * ST_Area on SphericalGeography polygons: spherical-excess sum with the
#   reference's per-edge term (presto-geospatial/.../
#   SphericalGeoFunctions.java:366-416), edges walked in the reference's
#   order (closing edge first). The pole-enclosing correction (:400-410) is
#   out of scope: the synthesized rings never enclose a pole.
# * ST_Buffer(point, r) (GeoFunctions.java:273-296 delegates to the Esri
#   buffer): a deterministic regular N_BUFFER_SEGMENTS-gon, first vertex due
#   east, counter-clockwise — Esri's construction with a fixed segment count
#   instead of its adaptive densification.
#
# Float parity: both engines call libm sin/cos/tan/atan2 on identical
# doubles and fold sums left to right; outputs are rounded in-query.

EARTH_RADIUS_KM = 6371.01  # SphericalGeographyUtils.java:36
N_BUFFER_SEGMENTS = 16


# Deterministic lat/lon synthesis: lat in [-60, 59.9], lon in [-180, 179.9].
_LAT_A = "(CAST((c_custkey * 37) % 1200 AS DOUBLE) / 10 - 60)"
_LON_A = "(CAST((c_custkey * 73) % 3600 AS DOUBLE) / 10 - 180)"
# Second point: an independent hash of the same key (pure projection —
# no self-join needed to form a pair).
_LAT_B = "(CAST((c_custkey * 101 + 17) % 1200 AS DOUBLE) / 10 - 60)"
_LON_B = "(CAST((c_custkey * 131 + 29) % 3600 AS DOUBLE) / 10 - 180)"


def great_circle_distance(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """KM — SphericalGeographyUtils.greatCircleDistance (Vincenty form)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    sin1, cos1 = F.sin(rlat1), F.cos(rlat1)
    sin2, cos2 = F.sin(rlat2), F.cos(rlat2)
    dlon = F.radians(lon1) - F.radians(lon2)
    cos_dlon = F.cos(dlon)
    t1 = cos2 * F.sin(dlon)
    t2 = cos1 * sin2 - sin1 * cos2 * cos_dlon
    t3 = sin1 * sin2 + cos1 * cos2 * cos_dlon
    return F.atan2(F.sqrt(t1 * t1 + t2 * t2), t3) * EARTH_RADIUS_KM


def _sql_gcd(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"(atan2(sqrt("
        f"pow(cos(radians({lat2})) * sin(radians({lon1}) - radians({lon2})), 2) + "
        f"pow(cos(radians({lat1})) * sin(radians({lat2})) - "
        f"sin(radians({lat1})) * cos(radians({lat2})) * "
        f"cos(radians({lon1}) - radians({lon2})), 2)), "
        f"sin(radians({lat1})) * sin(radians({lat2})) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"cos(radians({lon1}) - radians({lon2}))) * {EARTH_RADIUS_KM})"
    )


# Kept port (keep-rule 2c, text skips the function): it expands the great-circle distance by hand.
@_q(
    "geo_spherical_distance",
    f"""
WITH p AS (
  SELECT c_custkey AS pid,
         {_LAT_A} AS lat_a, {_LON_A} AS lon_a,
         {_LAT_B} AS lat_b, {_LON_B} AS lon_b
  FROM customer WHERE c_custkey < 2000
)
SELECT pid,
       round({_sql_gcd('lat_a', 'lon_a', 'lat_b', 'lon_b')}, 6) AS gc_km,
       round({_sql_gcd('lat_a', 'lon_a', 'lat_b', 'lon_b')} * 1000, 3) AS sph_dist_m,
       ({_sql_gcd('lat_a', 'lon_a', 'lat_b', 'lon_b')}
        <= {EARTH_RADIUS_KM} * pi()) AS within_half_earth
FROM p ORDER BY pid
""",
)
def geo_spherical_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """great_circle_distance (KM) + SphericalGeography ST_Distance (m)."""
    (cust,) = load_tables(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    p = cust.filter(ck < 2000).select(
        ck.alias("pid"),
        ((ck * 37 % 1200).cast("double") / 10 - 60).alias("lat_a"),
        ((ck * 73 % 3600).cast("double") / 10 - 180).alias("lon_a"),
        (((ck * 101 + 17) % 1200).cast("double") / 10 - 60).alias("lat_b"),
        (((ck * 131 + 29) % 3600).cast("double") / 10 - 180).alias("lon_b"),
    )
    gcd = great_circle_distance(
        F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
    )
    return p.select(
        "pid",
        F.round(gcd, 6).alias("gc_km"),
        F.round(gcd * 1000, 3).alias("sph_dist_m"),
        (gcd <= EARTH_RADIUS_KM * math.pi).alias("within_half_earth"),
    ).orderBy("pid")


# --- spherical polygon area -------------------------------------------------

# Synthesized diamond (4 distinct vertices, closing edge handled by the
# cyclic walk) around a customer-derived center; ~0.1-0.5 degree half-width
# so no ring encloses a pole and the excess stays positive-oriented.
_D_LAT = "(CAST((c_custkey * 37) % 1000 AS DOUBLE) / 10 - 50)"
_D_LON = "(CAST((c_custkey * 73) % 3000 AS DOUBLE) / 10 - 150)"
_D_R = "(CAST(c_custkey % 5 + 1 AS DOUBLE) / 10)"


def _excess_term(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Reference per-edge spherical-excess term (SphericalGeoFunctions.java:382)."""
    t_prev = F.tan(F.radians(lat1) / 2)
    t_cur = F.tan(F.radians(lat2) / 2)
    dlon = F.radians(lon2) - F.radians(lon1)
    return 2 * F.atan2(F.tan(dlon / 2) * (t_prev + t_cur), 1 + t_prev * t_cur)


def _sql_excess_term(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"(2 * atan2(tan((radians({lon2}) - radians({lon1})) / 2) * "
        f"(tan(radians({lat1}) / 2) + tan(radians({lat2}) / 2)), "
        f"1 + tan(radians({lat1}) / 2) * tan(radians({lat2}) / 2)))"
    )


def _ring_edges() -> list[tuple[str, str, str, str]]:
    """Diamond ring edges in the reference's walk order: the calculator is
    seeded with the LAST distinct vertex, so the closing edge (v3→v0) is
    accumulated first, then v0→v1, v1→v2, v2→v3."""
    # vertices: v0=(lat+r, lon), v1=(lat, lon+r), v2=(lat-r, lon), v3=(lat, lon-r)
    v = [
        ("(lat + r)", "lon"),
        ("lat", "(lon + r)"),
        ("(lat - r)", "lon"),
        ("lat", "(lon - r)"),
    ]
    order = [(3, 0), (0, 1), (1, 2), (2, 3)]
    return [(v[i][0], v[i][1], v[j][0], v[j][1]) for i, j in order]


_SQL_EXCESS = " + ".join(
    _sql_excess_term(a_lat, a_lon, b_lat, b_lon)
    for a_lat, a_lon, b_lat, b_lon in _ring_edges()
)


# Kept port (keep-rule 2c, text skips the function): it expands the spherical area by hand.
@_q(
    "geo_spherical_area",
    f"""
WITH g AS (
  SELECT c_custkey AS pid, {_D_LAT} AS lat, {_D_LON} AS lon, {_D_R} AS r
  FROM customer WHERE c_custkey < 2000
)
SELECT pid,
       round(abs({_SQL_EXCESS}) * {EARTH_RADIUS_KM} * {EARTH_RADIUS_KM}, 6)
         AS area_sqkm,
       round(abs(r * r * 2) * pow(pi() / 180 * {EARTH_RADIUS_KM}, 2)
             / (abs({_SQL_EXCESS}) * {EARTH_RADIUS_KM} * {EARTH_RADIUS_KM}), 3)
         AS planar_ratio
FROM g ORDER BY pid
""",
)
def geo_spherical_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SphericalGeography ST_Area: spherical-excess sum over the ring.

    ``planar_ratio`` anchors the result: the planar diamond area scaled by
    (deg→km)² over the spherical area ≈ cos(lat)⁻¹-ish ≥ 1 — an in-query
    sanity contract the oracle reproduces exactly.
    """
    (cust,) = load_tables(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    g = cust.filter(ck < 2000).select(
        ck.alias("pid"),
        ((ck * 37 % 1000).cast("double") / 10 - 50).alias("lat"),
        ((ck * 73 % 3000).cast("double") / 10 - 150).alias("lon"),
        ((ck % 5 + 1).cast("double") / 10).alias("r"),
    )
    lat, lon, r = F.col("lat"), F.col("lon"), F.col("r")
    verts = [
        (lat + r, lon),
        (lat, lon + r),
        (lat - r, lon),
        (lat, lon - r),
    ]
    order = [(3, 0), (0, 1), (1, 2), (2, 3)]
    excess = None
    for i, j in order:
        term = _excess_term(verts[i][0], verts[i][1], verts[j][0], verts[j][1])
        excess = term if excess is None else excess + term
    area = F.abs(excess) * EARTH_RADIUS_KM * EARTH_RADIUS_KM
    deg_km = math.pi / 180 * EARTH_RADIUS_KM
    planar = F.abs(r * r * 2) * deg_km * deg_km
    return g.select(
        "pid",
        F.round(area, 6).alias("area_sqkm"),
        F.round(planar / area, 3).alias("planar_ratio"),
    ).orderBy("pid")


# --- ST_Buffer (point) ------------------------------------------------------

# +10 shift keeps every ring coordinate ≥ ~5, clear of the |v| < 1e-3 zone
# where Java's double→string switches to E-notation but DuckDB's does not.
_B_X = "(CAST((c_custkey * 37) % 1000 AS DOUBLE) / 10 + 10)"
_B_Y = "(CAST((c_custkey * 73) % 1000 AS DOUBLE) / 10 + 10)"
_B_R = "(CAST(c_custkey % 7 + 1 AS DOUBLE) / 2)"

_SQL_BUF_NUM = (
    "(CASE WHEN {v} = floor({v}) THEN CAST(CAST({v} AS BIGINT) AS STRING) "
    "ELSE CAST({v} AS STRING) END)"
)
# vertex k (k = 0..N): angle 2πk/N, first vertex due east, CCW; the ring
# closes by emitting k = N ≡ k = 0.  Coordinates are rounded to 6 dp BEFORE
# formatting so the WKT text is identical across engines.
_SQL_BUF_BODY = (
    "array_to_string(list_transform(generate_series(0, {n}), k -> "
    + _SQL_BUF_NUM.format(v="round(x + r * cos(2 * pi() * k / {n}), 6)")
    + " || ' ' || "
    + _SQL_BUF_NUM.format(v="round(y + r * sin(2 * pi() * k / {n}), 6)")
    + "), ', ')"
).format(n=N_BUFFER_SEGMENTS)


@_q(
    "geo_buffer",
    f"""
WITH p AS (
  SELECT c_custkey AS pid, {_B_X} AS x, {_B_Y} AS y, {_B_R} AS r
  FROM customer WHERE c_custkey < 1000
)
SELECT pid,
       ('POLYGON ((' || {_SQL_BUF_BODY} || '))') AS buffer_wkt,
       CAST({N_BUFFER_SEGMENTS} + 1 AS INTEGER) AS num_points,
       round(r * r * {N_BUFFER_SEGMENTS} / 2
             * sin(2 * pi() / {N_BUFFER_SEGMENTS}), 6) AS buffer_area,
       round(r * r * pi(), 6) AS disk_area
FROM p ORDER BY pid
""",
)
def geo_buffer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Buffer(point, r) as a regular 16-gon; area + vertex contract.

    ``buffer_area`` is the exact inscribed-polygon area N/2·r²·sin(2π/N) —
    what the shoelace over the generated ring evaluates to — and
    ``disk_area`` the πr² limit it approximates (ratio sin(x)/x ≈ 0.974
    at N=16), mirroring how Esri's buffer converges with densification.
    """
    (cust,) = load_tables(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    p = cust.filter(ck < 1000).select(
        ck.alias("pid"),
        ((ck * 37 % 1000).cast("double") / 10 + 10).alias("x"),
        ((ck * 73 % 1000).cast("double") / 10 + 10).alias("y"),
        ((ck % 7 + 1).cast("double") / 2).alias("r"),
    )
    x, y, r = F.col("x"), F.col("y"), F.col("r")
    num = lambda v: F.when(  # noqa: E731
        v == F.floor(v), v.cast("bigint").cast("string")
    ).otherwise(v.cast("string"))
    n = N_BUFFER_SEGMENTS
    parts = [
        F.concat_ws(
            " ",
            num(F.round(x + r * F.cos(F.lit(2 * math.pi * k / n)), 6)),
            num(F.round(y + r * F.sin(F.lit(2 * math.pi * k / n)), 6)),
        )
        for k in range(n + 1)
    ]
    wkt = F.concat(F.lit("POLYGON (("), F.concat_ws(", ", *parts), F.lit("))"))
    return p.select(
        "pid",
        wkt.alias("buffer_wkt"),
        F.lit(n + 1).cast("int").alias("num_points"),
        F.round(r * r * n / 2 * math.sin(2 * math.pi / n), 6).alias("buffer_area"),
        F.round(r * r * math.pi, 6).alias("disk_area"),
    ).orderBy("pid")


# --- polygon boolean ops: ST_Intersection / ST_Union / ST_SymDifference -----
#
# GeoFunctions.java ST_Intersection (~700), geometry_union / ST_Union
# (~780), ST_SymDifference (~820), ST_ConvexHull (~640). The reference
# delegates to the ESRI engine; here every formula is written in the same
# operation order on the Spark side and in the DuckDB oracle, so the
# intermediate doubles are bit-identical. Scope: the CLIP ring is convex;
# the SUBJECT ring may be concave (Sutherland-Hodgman's full domain, pinned
# by analytic concave fixtures in tests/test_sketch_geo.py).
#
# * clip — Sutherland-Hodgman: fold the subject ring through the clip
#   ring's half-planes. Spark: one F.aggregate over the edge array (a
#   single expression, no Catalyst subexpression blow-up). Oracle: a DuckDB
#   recursive CTE advancing one clip edge per step (same per-edge text).
# * union / symdifference — inclusion-exclusion over the pairwise clip:
#   area(A∪B) = aA + aB − area(A∩B), exact for a pair (the N-way union is
#   the envelope/decomposition form above).
# * convex hull — O(n³) half-plane membership (a point is a hull vertex iff
#   some directed edge through it keeps every point on or left of it), an
#   angular sort around the hull centroid, one shoelace pass.
#
# These kernels work on OPEN rings, array<struct<x, y>>: the clip emits
# them, and the area of a clip result is read off it directly.

# B is A translated by a KEY-DEPENDENT offset (3+k%7, 2+k%9): always
# overlapping (max shift 9,10 < the 16x18 bbox), different overlap
# geometry per row so the clip is exercised on varied configurations.
def _sx(key: str) -> str:
    return f"(3 + ({key}) % 7)"


def _sy(key: str) -> str:
    return f"(2 + ({key}) % 9)"


# --- Spark-side geometry kernels -------------------------------------------

def _open_pts(xs: Column, ys: Column) -> Column:
    """Closed WKT ring → open array<struct<x,y>> (drop the repeated last)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(xs) - 1),
        lambda i: F.struct(
            F.element_at(xs, i).alias("x"), F.element_at(ys, i).alias("y")
        ),
    )


def _edges(pts: Column) -> Column:
    """Directed edge list (a→b) over an open ring."""
    n = F.size(pts)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.struct(
            F.element_at(pts, i).x.alias("ax"),
            F.element_at(pts, i).y.alias("ay"),
            F.element_at(pts, (i % n) + 1).x.alias("bx"),
            F.element_at(pts, (i % n) + 1).y.alias("by"),
        ),
    )


def _clip_once(pts: Column, ax, ay, bx, by) -> Column:
    """One Sutherland-Hodgman half-plane pass. Formula text mirrors the
    oracle exactly (operation order = bit-identical doubles)."""
    m = F.size(pts)

    def inside(px, py):
        return (bx - ax) * (py - ay) - (by - ay) * (px - ax) >= 0

    def emit(k):
        c = F.element_at(pts, k)
        nx = F.element_at(pts, (k % m) + 1)
        ic = inside(c.x, c.y)
        inn = inside(nx.x, nx.y)
        t = ((ax - c.x) * (ay - by) - (ay - c.y) * (ax - bx)) / (
            (nx.x - c.x) * (ay - by) - (nx.y - c.y) * (ax - bx)
        )
        ipt = F.struct(
            (c.x + t * (nx.x - c.x)).alias("x"),
            (c.y + t * (nx.y - c.y)).alias("y"),
        )
        e1 = F.when(ic != inn, ipt)
        e2 = F.when(inn, nx)
        return F.array(e1, e2)

    return F.when(m == 0, pts).otherwise(
        F.filter(
            F.flatten(F.transform(F.sequence(F.lit(1), m), emit)),
            lambda p: p.isNotNull(),
        )
    )


def st_intersection_pts(subject: Column, clip: Column) -> Column:
    """ST_Intersection of two open rings (clip ring convex CCW; subject may
    be concave — full Sutherland-Hodgman domain)."""
    return F.aggregate(
        _edges(clip),
        subject,
        lambda acc, e: _clip_once(acc, e.ax, e.ay, e.bx, e.by),
    )


def _shoelace2(pts: Column) -> Column:
    """2×signed area over an open ring, summed in ring order."""
    n = F.size(pts)
    return F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, k: acc
        + (
            F.element_at(pts, k).x * F.element_at(pts, (k % n) + 1).y
            - F.element_at(pts, (k % n) + 1).x * F.element_at(pts, k).y
        ),
    )


def st_area_pts(pts: Column) -> Column:
    """Shoelace area of an open ring; 0 below 3 vertices (an empty clip)."""
    return F.when(F.size(pts) < 3, F.lit(0.0)).otherwise(
        F.abs(_shoelace2(pts)) / 2
    )


def st_hull_vertices(pts: Column) -> Column:
    """Unordered hull vertices of a point set. O(n³) membership: p is a
    hull vertex iff some directed edge p→q keeps every point on or left
    of it."""

    def left_or_on(px, py, qx, qy, rx, ry):
        return (qx - px) * (ry - py) - (qy - py) * (rx - px) >= 0

    def is_hull_vertex(p):
        return F.exists(
            pts,
            lambda q: (~((q.x == p.x) & (q.y == p.y)))
            & F.forall(
                pts, lambda r: left_or_on(p.x, p.y, q.x, q.y, r.x, r.y)
            ),
        )

    return F.filter(pts, is_hull_vertex)


def st_hull_ccw(hull: Column) -> Column:
    """CCW angular order of hull vertices around the hull centroid."""
    cx = F.aggregate(hull, F.lit(0.0), lambda a, p: a + p.x) / F.size(hull)
    cy = F.aggregate(hull, F.lit(0.0), lambda a, p: a + p.y) / F.size(hull)
    keyed = F.transform(
        hull,
        lambda p: F.struct(
            F.atan2(p.y - cy, p.x - cx).alias("ang"),
            p.x.alias("x"),
            p.y.alias("y"),
        ),
    )
    return F.transform(
        F.array_sort(keyed), lambda e: F.struct(e.x.alias("x"), e.y.alias("y"))
    )


# --- oracle SQL building blocks (identical formula text) --------------------

def _sql_ring_pts(key: str, sx: str = "0", sy: str = "0") -> str:
    """The pentagon's open ring as a DuckDB list-of-struct literal — pure
    integer arithmetic of the group key (same values the WKT parse yields)."""
    cx = f"(({key} * 17) % 80 + 10 + ({sx}))"
    cy = f"(({key} * 29) % 80 + 10 + ({sy}))"
    elems = ", ".join(
        f"{{'x': CAST({cx} + {dx} AS DOUBLE), 'y': CAST({cy} + {dy} AS DOUBLE)}}"
        for dx, dy in zip(_PENT_DX, _PENT_DY)
    )
    return f"[{elems}]"


_SQL_CLIP_ONCE = """
CASE WHEN len({pts}) = 0 THEN {pts} ELSE
  list_filter(flatten(list_transform(generate_series(1, len({pts})), k ->
    [CASE WHEN (({bx} - {ax}) * ({pts}[k].y - {ay})
                - ({by} - {ay}) * ({pts}[k].x - {ax}) >= 0)
              <> (({bx} - {ax}) * ({pts}[(k % len({pts})) + 1].y - {ay})
                - ({by} - {ay}) * ({pts}[(k % len({pts})) + 1].x - {ax}) >= 0)
     THEN {{'x': {pts}[k].x + ((({ax} - {pts}[k].x) * ({ay} - {by})
                 - ({ay} - {pts}[k].y) * ({ax} - {bx}))
                / (({pts}[(k % len({pts})) + 1].x - {pts}[k].x) * ({ay} - {by})
                 - ({pts}[(k % len({pts})) + 1].y - {pts}[k].y) * ({ax} - {bx})))
               * ({pts}[(k % len({pts})) + 1].x - {pts}[k].x),
          'y': {pts}[k].y + ((({ax} - {pts}[k].x) * ({ay} - {by})
                 - ({ay} - {pts}[k].y) * ({ax} - {bx}))
                / (({pts}[(k % len({pts})) + 1].x - {pts}[k].x) * ({ay} - {by})
                 - ({pts}[(k % len({pts})) + 1].y - {pts}[k].y) * ({ax} - {bx})))
               * ({pts}[(k % len({pts})) + 1].y - {pts}[k].y)}}
     ELSE NULL END,
     CASE WHEN ({bx} - {ax}) * ({pts}[(k % len({pts})) + 1].y - {ay})
             - ({by} - {ay}) * ({pts}[(k % len({pts})) + 1].x - {ax}) >= 0
     THEN {pts}[(k % len({pts})) + 1] ELSE NULL END])),
  p -> p IS NOT NULL)
END"""


def _sql_shoelace2(pts: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, len({pts})), k -> "
        f"{pts}[k].x * {pts}[(k % len({pts})) + 1].y "
        f"- {pts}[(k % len({pts})) + 1].x * {pts}[k].y))"
    )


def _sql_area(pts: str) -> str:
    return (
        f"(CASE WHEN len({pts}) < 3 THEN 0.0 "
        f"ELSE abs({_sql_shoelace2(pts)}) / 2 END)"
    )


_CLIP_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT n_nationkey AS gid,
         {_sql_ring_pts('n_nationkey')} AS pa,
         {_sql_ring_pts('n_nationkey', _sx('n_nationkey'), _sy('n_nationkey'))} AS pb
  FROM nation
), clip AS (
  SELECT gid, 0 AS step, pa AS pts, pb, pa FROM base
  UNION ALL
  SELECT gid, step + 1,
         {_SQL_CLIP_ONCE.format(
            pts="pts",
            ax="pb[step + 1].x", ay="pb[step + 1].y",
            bx="pb[((step + 1) % len(pb)) + 1].x",
            by="pb[((step + 1) % len(pb)) + 1].y")},
         pb, pa
  FROM clip WHERE step < len(pb)
), done AS (
  SELECT gid, pts, pa, pb FROM clip WHERE step = len(pb)
)
SELECT gid,
       CAST(len(pts) AS INTEGER) AS n_inter,
       round({_sql_area('pa')}, 6) AS area_a,
       round({_sql_area('pb')}, 6) AS area_b,
       round({_sql_area('pts')}, 6) AS inter_area,
       round({_sql_area('pa')} + {_sql_area('pb')} - {_sql_area('pts')}, 6)
         AS union_area,
       round({_sql_area('pa')} + {_sql_area('pb')} - 2 * {_sql_area('pts')}, 6)
         AS symdiff_area,
       CAST(16 * 18 + 16 * 18
            - (16 - {_sx('gid')}) * (18 - {_sy('gid')})
            AS DOUBLE) AS envelope_union_area,
       ({_sql_area('pa')} + {_sql_area('pb')} - {_sql_area('pts')}
        < 16 * 18 + 16 * 18
          - (16 - {_sx('gid')}) * (18 - {_sy('gid')}))
         AS union_below_envelope
FROM done
ORDER BY gid
"""


@_q("geo_polygon_clip_ops", _CLIP_ORACLE)
def geo_polygon_clip_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersection / pairwise ST_Union / ST_SymDifference areas for an
    overlapping convex polygon pair per nation (GeoFunctions.java
    ST_Intersection/ST_Union/ST_SymDifference). The clip runs through the
    WKT parse path (ST_GeometryFromText analog); the oracle re-derives the
    same rings from the key. ``union_below_envelope`` is pinned TRUE by the
    oracle — the TRUE polygon union is strictly smaller than the union of
    the two envelopes."""
    nation = load_table(spark, sf_dir, "nation")
    g = nation.selectExpr(
        "n_nationkey AS gid",
        f"{_wkt_pentagon('n_nationkey')} AS wa",
        f"{_wkt_pentagon('n_nationkey', _sx('n_nationkey'), _sy('n_nationkey'))} AS wb",
    )
    parsed = g.select(
        "gid",
        _open_pts(st_xs(F.col("wa")), st_ys(F.col("wa"))).alias("pa"),
        _open_pts(st_xs(F.col("wb")), st_ys(F.col("wb"))).alias("pb"),
    )
    inter = st_intersection_pts(F.col("pa"), F.col("pb"))
    clipped = parsed.withColumn("pts", inter)
    a_a, a_b, a_i = (
        st_area_pts(F.col("pa")),
        st_area_pts(F.col("pb")),
        st_area_pts(F.col("pts")),
    )
    # pentagon bounding box is 16 wide × 18 tall (DX −8..8, DY −10..8);
    # shifts are < the box dims, so the box overlap is (16−sx)·(18−sy)
    sx = F.lit(3) + F.col("gid") % 7
    sy = F.lit(2) + F.col("gid") % 9
    env_union = F.lit(16 * 18 + 16 * 18) - (16 - sx) * (18 - sy)
    return clipped.select(
        "gid",
        F.size("pts").cast("int").alias("n_inter"),
        F.round(a_a, 6).alias("area_a"),
        F.round(a_b, 6).alias("area_b"),
        F.round(a_i, 6).alias("inter_area"),
        F.round(a_a + a_b - a_i, 6).alias("union_area"),
        F.round(a_a + a_b - 2 * a_i, 6).alias("symdiff_area"),
        env_union.cast("double").alias("envelope_union_area"),
        (a_a + a_b - a_i < env_union).alias("union_below_envelope"),
    ).orderBy("gid")


_HULL_ORACLE = f"""
WITH base AS (
  SELECT n_nationkey AS gid,
         flatten([{_sql_ring_pts('n_nationkey')},
                  {_sql_ring_pts('n_nationkey', _sx('n_nationkey'), _sy('n_nationkey'))}]) AS pts
  FROM nation
), hull AS (
  SELECT gid, pts,
         list_filter(pts, p -> len(list_filter(pts, q ->
           NOT (q.x = p.x AND q.y = p.y)
           AND len(list_filter(pts, r ->
             (q.x - p.x) * (r.y - p.y) - (q.y - p.y) * (r.x - p.x) >= 0))
               = len(pts))) > 0) AS hv
  FROM base
), keyed AS (
  SELECT gid, pts, hv,
         list_sort(list_transform(hv, p -> {{
           'ang': atan2(p.y - list_sum(list_transform(hv, h -> h.y)) / len(hv),
                        p.x - list_sum(list_transform(hv, h -> h.x)) / len(hv)),
           'x': p.x, 'y': p.y}})) AS sorted_hv
  FROM hull
), ordered AS (
  SELECT gid, pts,
         list_transform(sorted_hv, e -> {{'x': e.x, 'y': e.y}}) AS hp
  FROM keyed
)
SELECT gid,
       CAST(len(pts) AS INTEGER) AS n_points,
       CAST(len(hp) AS INTEGER) AS n_hull,
       round({_sql_area('hp')}, 6) AS hull_area
FROM ordered
ORDER BY gid
"""


@_q("geo_convex_hull", _HULL_ORACLE)
def geo_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ConvexHull (GeoFunctions.java ~640) of the 10 vertices of the
    two overlapping pentagons per nation: hull vertex count + hull area
    (≥ the pairwise union area by convexity; both oracle-checked)."""
    nation = load_table(spark, sf_dir, "nation")
    g = nation.selectExpr(
        "n_nationkey AS gid",
        f"{_wkt_pentagon('n_nationkey')} AS wa",
        f"{_wkt_pentagon('n_nationkey', _sx('n_nationkey'), _sy('n_nationkey'))} AS wb",
    )
    pts = F.concat(
        _open_pts(st_xs(F.col("wa")), st_ys(F.col("wa"))),
        _open_pts(st_xs(F.col("wb")), st_ys(F.col("wb"))),
    )
    withp = g.select("gid", pts.alias("pts"))
    # Stage the hull behind column-name barriers. In the
    # single-expression form every mention of the hull (centroid x/y,
    # angular keys, size, area) embeds a full COPY of the O(n³)
    # membership subtree, and the area's shoelace fold mentions the
    # sorted hull 5+ times — the Catalyst/codegen tree grows
    # multiplicatively (measured 5.1 s Column build + 7.7 s warm exec on
    # 25 rows; warm build+exec 1.06 s staged). Three tiny localCheckpoints
    # (parse / membership / order) keep every subtree named once;
    # arithmetic and its order are unchanged (bit-identical doubles).
    s0 = withp.localCheckpoint(eager=False)
    s1 = s0.select(
        "gid", "pts", st_hull_vertices(F.col("pts")).alias("hv")
    ).localCheckpoint(eager=False)
    s2 = s1.select(
        "gid", "pts", st_hull_ccw(F.col("hv")).alias("hp")
    ).localCheckpoint(eager=False)
    return s2.select(
        "gid",
        F.size("pts").cast("int").alias("n_points"),
        F.size("hp").cast("int").alias("n_hull"),
        F.round(st_area_pts(F.col("hp")), 6).alias("hull_area"),
    ).orderBy("gid")


# --- spatial predicates, linear referencing, ST_Crosses ---------------------
#
# GeoFunctions.java ST_Disjoint / ST_Touches / ST_Overlaps / ST_Equals
# (relationship predicates, ESRI operators in the reference),
# ST_Difference, expand_envelope, ST_XMax / ST_YMin, ST_ExteriorRing
# (+ ST_IsRing / ST_IsSimple / ST_IsValid / geometry_invalid_reason), and
# line_locate_point / line_interpolate_point.
#
# The predicates are DERIVED from the clip kernel (intersection area) and
# the segment-intersection fold (boundary contact):
#
# * intersects  = boundary contact OR containment (st_intersects_rings)
# * disjoint    = NOT intersects
# * touches     = intersects AND intersection area = 0
# * overlaps    = 0 < intersection area < min(area A, area B)
# * equals(A,A) = clip(A, A) keeps the exact ring (every vertex on the
#   closed half-planes): area equality is exact, no tolerance needed
#
# Linear referencing is array comprehension over n=4-point polylines:
# per-segment projection for locate (clamped parametric t, nearest wins,
# first-segment tiebreak via a (d2, pos) struct sort), prefix-sum walk for
# interpolate; the SAME comprehension text runs in DuckDB.

# B's shift cycles through touching / disjoint / overlapping per key.
_CYCLE_SX = "(CASE WHEN ({k}) % 3 = 0 THEN 16 WHEN ({k}) % 3 = 1 THEN 40 ELSE 4 END)"
_CYCLE_SY = "(CASE WHEN ({k}) % 3 = 0 THEN 0 WHEN ({k}) % 3 = 1 THEN 40 ELSE 3 END)"


_PRED_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT n_nationkey AS gid,
         {_sql_ring_pts('n_nationkey')} AS pa,
         {_sql_ring_pts('n_nationkey',
                        _CYCLE_SX.format(k='n_nationkey'),
                        _CYCLE_SY.format(k='n_nationkey'))} AS pb
  FROM nation
), closed AS (
  SELECT gid, pa, pb,
         list_append(list_transform(pa, p -> p.x), pa[1].x) AS axs,
         list_append(list_transform(pa, p -> p.y), pa[1].y) AS ays,
         list_append(list_transform(pb, p -> p.x), pb[1].x) AS bxs,
         list_append(list_transform(pb, p -> p.y), pb[1].y) AS bys
  FROM base
), clip AS (
  SELECT gid, 0 AS step, pa AS pts, pb FROM base
  UNION ALL
  SELECT gid, step + 1,
         {_SQL_CLIP_ONCE.format(
            pts="pts",
            ax="pb[step + 1].x", ay="pb[step + 1].y",
            bx="pb[((step + 1) % len(pb)) + 1].x",
            by="pb[((step + 1) % len(pb)) + 1].y")},
         pb
  FROM clip WHERE step < len(pb)
), sclip AS (
  SELECT gid, 0 AS step, pa AS pts, pa AS pc FROM base
  UNION ALL
  SELECT gid, step + 1,
         {_SQL_CLIP_ONCE.format(
            pts="pts",
            ax="pc[step + 1].x", ay="pc[step + 1].y",
            bx="pc[((step + 1) % len(pc)) + 1].x",
            by="pc[((step + 1) % len(pc)) + 1].y")},
         pc
  FROM sclip WHERE step < len(pc)
), areas AS (
  SELECT c.gid,
         {_sql_area('c.pa')} AS area_a,
         {_sql_area('c.pb')} AS area_b,
         {_sql_area('k.pts')} AS inter_area,
         {_sql_area('s.pts')} AS self_clip_area,
         ({_sql_intersects('c.axs', 'c.ays', 'c.bxs', 'c.bys')}) AS hits
  FROM closed c
  JOIN (SELECT gid, pts FROM clip WHERE step = 5) k ON k.gid = c.gid
  JOIN (SELECT gid, pts FROM sclip WHERE step = 5) s ON s.gid = c.gid
)
SELECT gid,
       NOT hits AS st_disjoint,
       (hits AND inter_area = 0) AS st_touches,
       (inter_area > 0 AND inter_area < area_a AND inter_area < area_b)
         AS st_overlaps,
       (self_clip_area = area_a) AS st_equals_self,
       round(area_a - inter_area, 6) AS st_difference_area,
       CAST((16 + 2 * (1 + gid % 5)) * (18 + 2 * (1 + gid % 5)) AS DOUBLE)
         AS expand_envelope_area,
       round(list_max(list_transform({_sql_ring_pts('gid')}, p -> p.x)), 6)
         AS st_xmax,
       round(list_min(list_transform({_sql_ring_pts('gid')}, p -> p.y)), 6)
         AS st_ymin,
       TRUE AS st_is_ring,
       TRUE AS st_is_simple,
       TRUE AS st_is_valid,
       CAST(NULL AS VARCHAR) AS invalid_reason
FROM areas
ORDER BY gid
"""


@_q("geo_predicates2", _PRED_ORACLE)
def geo_predicates2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Disjoint / ST_Touches / ST_Overlaps / ST_Equals / ST_Difference
    / expand_envelope / ST_XMax / ST_YMin / ST_IsRing / ST_IsSimple /
    ST_IsValid / geometry_invalid_reason (GeoFunctions.java predicate
    block). Predicates derive from the clip kernel + boundary-contact
    fold; the fixture cycles touching / disjoint / overlapping pairs so
    both truth values occur. The validity trio is computed (closed ring,
    no self-contact beyond the closure, nonzero signed area), not
    declared, and collapses to constants on this all-convex fixture —
    pinned by the oracle."""
    nation = load_table(spark, sf_dir, "nation")
    k = "n_nationkey"
    g = nation.selectExpr(
        f"{k} AS gid",
        f"{_wkt_pentagon(k)} AS wa",
        f"{_wkt_pentagon(k, _CYCLE_SX.format(k=k), _CYCLE_SY.format(k=k))} AS wb",
    )
    axs, ays = st_xs(F.col("wa")), st_ys(F.col("wa"))
    bxs, bys = st_xs(F.col("wb")), st_ys(F.col("wb"))
    # Column-name barriers (the geo_convex_hull discipline):
    # CollapseProject re-inlines named intermediates, so the clip folds
    # (inter/self_clip) and parse trees re-explode multiplicatively in
    # the final select (inter_area alone is mentioned 4x). 25-row
    # checkpoints; arithmetic unchanged.
    parsed = g.select(
        "gid",
        _open_pts(axs, ays).alias("pa"),
        _open_pts(bxs, bys).alias("pb"),
        st_intersects_rings(axs, ays, bxs, bys).alias("hits"),
        axs.alias("axs"), ays.alias("ays"),
    ).localCheckpoint(eager=False)
    inter = st_area_pts(st_intersection_pts(F.col("pa"), F.col("pb")))
    self_clip = st_area_pts(st_intersection_pts(F.col("pa"), F.col("pa")))
    a_a, a_b = st_area_pts(F.col("pa")), st_area_pts(F.col("pb"))
    v = parsed.select(
        "gid", "hits", "axs", "ays",
        a_a.alias("area_a"), a_b.alias("area_b"),
        inter.alias("inter_area"), self_clip.alias("self_clip_area"),
    ).localCheckpoint(eager=False)
    closed_ok = (
        F.element_at("axs", 1) == F.element_at("axs", -1)
    ) & (F.element_at("ays", 1) == F.element_at("ays", -1))
    d = F.lit(1) + F.col("gid") % 5
    return v.select(
        "gid",
        (~F.col("hits")).alias("st_disjoint"),
        (F.col("hits") & (F.col("inter_area") == 0)).alias("st_touches"),
        (
            (F.col("inter_area") > 0)
            & (F.col("inter_area") < F.col("area_a"))
            & (F.col("inter_area") < F.col("area_b"))
        ).alias("st_overlaps"),
        (F.col("self_clip_area") == F.col("area_a")).alias("st_equals_self"),
        F.round(F.col("area_a") - F.col("inter_area"), 6).alias(
            "st_difference_area"
        ),
        ((16 + 2 * d) * (18 + 2 * d)).cast("double").alias(
            "expand_envelope_area"
        ),
        F.round(F.array_max("axs"), 6).alias("st_xmax"),
        F.round(F.array_min("ays"), 6).alias("st_ymin"),
        closed_ok.alias("st_is_ring"),
        closed_ok.alias("st_is_simple"),
        (F.col("area_a") > 0).alias("st_is_valid"),
        F.when(F.col("area_a") <= 0, F.lit("Zero-area ring")).alias(
            "invalid_reason"
        ),
    ).orderBy("gid")


# --- linear referencing -----------------------------------------------------

_NPTS = 4


def _line_coord_sql(key: str, which: str) -> str:
    """The polyline's coordinate list — pure integer derivations."""
    if which == "x":
        elems = ", ".join(
            f"CAST((({key}) * 7 + {i} * 13) % 100 AS DOUBLE)"
            for i in range(_NPTS)
        )
    else:
        elems = ", ".join(
            f"CAST((({key}) * 11 + {i} * 17 + {i * i} * 3) % 100 AS DOUBLE)"
            for i in range(_NPTS)
        )
    return f"[{elems}]"


_LINE_ORACLE = f"""
WITH g AS (
  SELECT c_custkey AS gid,
         {_line_coord_sql('c_custkey', 'x')} AS xs,
         {_line_coord_sql('c_custkey', 'y')} AS ys,
         CAST((c_custkey * 5 + 37) % 100 AS DOUBLE) AS qx,
         CAST((c_custkey * 3 + 59) % 100 AS DOUBLE) AS qy,
         (CAST(c_custkey % 10 AS DOUBLE) + 1) / 20 AS f
  FROM customer WHERE c_custkey < 2000
), seg AS (
  SELECT *,
         list_transform(generate_series(1, len(xs) - 1), i ->
           sqrt((xs[i+1] - xs[i]) * (xs[i+1] - xs[i])
              + (ys[i+1] - ys[i]) * (ys[i+1] - ys[i]))) AS lens
  FROM g
), cum AS (
  SELECT *,
         list_transform(generate_series(1, len(lens)), i ->
           coalesce(list_sum(lens[1:i]), 0.0)) AS cums,
         coalesce(list_sum(lens), 0.0) AS total
  FROM seg
), loc AS (
  SELECT *,
         list_sort(list_transform(generate_series(1, len(lens)), i -> {{
           'd2': ((qx - (xs[i] + (CASE WHEN lens[i] = 0 THEN 0.0 ELSE
                    least(greatest(((qx - xs[i]) * (xs[i+1] - xs[i])
                      + (qy - ys[i]) * (ys[i+1] - ys[i]))
                      / (lens[i] * lens[i]), 0.0), 1.0) END)
                    * (xs[i+1] - xs[i])))
                  * (qx - (xs[i] + (CASE WHEN lens[i] = 0 THEN 0.0 ELSE
                    least(greatest(((qx - xs[i]) * (xs[i+1] - xs[i])
                      + (qy - ys[i]) * (ys[i+1] - ys[i]))
                      / (lens[i] * lens[i]), 0.0), 1.0) END)
                    * (xs[i+1] - xs[i])))
                + (qy - (ys[i] + (CASE WHEN lens[i] = 0 THEN 0.0 ELSE
                    least(greatest(((qx - xs[i]) * (xs[i+1] - xs[i])
                      + (qy - ys[i]) * (ys[i+1] - ys[i]))
                      / (lens[i] * lens[i]), 0.0), 1.0) END)
                    * (ys[i+1] - ys[i])))
                  * (qy - (ys[i] + (CASE WHEN lens[i] = 0 THEN 0.0 ELSE
                    least(greatest(((qx - xs[i]) * (xs[i+1] - xs[i])
                      + (qy - ys[i]) * (ys[i+1] - ys[i]))
                      / (lens[i] * lens[i]), 0.0), 1.0) END)
                    * (ys[i+1] - ys[i])))),
           'pos': (cums[i] - lens[i]) + (CASE WHEN lens[i] = 0 THEN 0.0 ELSE
                    least(greatest(((qx - xs[i]) * (xs[i+1] - xs[i])
                      + (qy - ys[i]) * (ys[i+1] - ys[i]))
                      / (lens[i] * lens[i]), 0.0), 1.0) END) * lens[i]}}))
           AS cands
  FROM cum
), interp AS (
  SELECT *,
         list_filter(generate_series(1, len(lens)),
                     i -> cums[i] >= f * total)[1] AS seg_i
  FROM loc
)
SELECT gid,
       CAST(len(xs) AS INTEGER) AS num_points,
       round(total, 6) AS total_len,
       round(CASE WHEN total = 0 THEN 0.0 ELSE cands[1].pos / total END, 6)
         AS locate_frac,
       round(xs[seg_i] + (CASE WHEN lens[seg_i] = 0 THEN 0.0 ELSE
           (f * total - (cums[seg_i] - lens[seg_i])) / lens[seg_i] END)
           * (xs[seg_i + 1] - xs[seg_i]), 6) AS interp_x,
       round(ys[seg_i] + (CASE WHEN lens[seg_i] = 0 THEN 0.0 ELSE
           (f * total - (cums[seg_i] - lens[seg_i])) / lens[seg_i] END)
           * (ys[seg_i + 1] - ys[seg_i]), 6) AS interp_y,
       round(xs[1], 6) AS start_x, round(ys[len(ys)], 6) AS end_y
FROM interp
ORDER BY gid
"""


@_q("geo_line_locate", _LINE_ORACLE)
def geo_line_locate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """line_locate_point + line_interpolate_point (GeoFunctions.java
    linear referencing) + ST_NumPoints / ST_StartPoint / ST_EndPoint over
    a deterministic 4-point polyline per customer. Locate: clamped
    parametric projection per segment, nearest wins ((d2, pos) struct
    sort — the earlier segment wins exact ties, matching the reference's
    first-match walk). Interpolate: prefix-sum walk to the target arc
    length. Identical comprehension text in the DuckDB oracle —
    bit-exact doubles end to end."""
    cust = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    g = cust.filter(ck < 2000).select(
        ck.alias("gid"),
        F.array(*[((ck * 7 + i * 13) % 100).cast("double") for i in range(_NPTS)]).alias("xs"),
        F.array(*[((ck * 11 + i * 17 + i * i * 3) % 100).cast("double") for i in range(_NPTS)]).alias("ys"),
        ((ck * 5 + 37) % 100).cast("double").alias("qx"),
        ((ck * 3 + 59) % 100).cast("double").alias("qy"),
        (((ck % 10).cast("double") + 1) / 20).alias("f"),
    )
    xs, ys, qx, qy = F.col("xs"), F.col("ys"), F.col("qx"), F.col("qy")
    nseg = F.size(xs) - 1

    def seg_len(i):
        return F.sqrt(
            (F.element_at(xs, i + 1) - F.element_at(xs, i))
            * (F.element_at(xs, i + 1) - F.element_at(xs, i))
            + (F.element_at(ys, i + 1) - F.element_at(ys, i))
            * (F.element_at(ys, i + 1) - F.element_at(ys, i))
        )

    g = g.withColumn("lens", F.transform(F.sequence(F.lit(1), nseg), seg_len))
    lens = F.col("lens")
    g = g.withColumn(
        "cums",
        F.transform(
            F.sequence(F.lit(1), F.size(lens)),
            lambda i: F.coalesce(
                F.aggregate(F.slice(lens, 1, i), F.lit(0.0), lambda a, x: a + x),
                F.lit(0.0),
            ),
        ),
    ).withColumn(
        "total",
        F.coalesce(F.aggregate(lens, F.lit(0.0), lambda a, x: a + x), F.lit(0.0)),
    )
    cums, total = F.col("cums"), F.col("total")

    def t_of(i):
        L = F.element_at(lens, i)
        dx = F.element_at(xs, i + 1) - F.element_at(xs, i)
        dy = F.element_at(ys, i + 1) - F.element_at(ys, i)
        raw = ((qx - F.element_at(xs, i)) * dx + (qy - F.element_at(ys, i)) * dy) / (L * L)
        return F.when(L == 0, F.lit(0.0)).otherwise(
            F.least(F.greatest(raw, F.lit(0.0)), F.lit(1.0))
        )

    def cand(i):
        t = t_of(i)
        px = F.element_at(xs, i) + t * (F.element_at(xs, i + 1) - F.element_at(xs, i))
        py = F.element_at(ys, i) + t * (F.element_at(ys, i + 1) - F.element_at(ys, i))
        return F.struct(
            ((qx - px) * (qx - px) + (qy - py) * (qy - py)).alias("d2"),
            ((F.element_at(cums, i) - F.element_at(lens, i))
             + t * F.element_at(lens, i)).alias("pos"),
        )

    g = g.withColumn(
        "cands", F.array_sort(F.transform(F.sequence(F.lit(1), F.size(lens)), cand))
    ).withColumn(
        "seg_i",
        F.element_at(
            F.filter(
                F.sequence(F.lit(1), F.size(lens)),
                lambda i: F.element_at(cums, i) >= F.col("f") * total,
            ),
            1,
        ),
    )
    seg_i = F.col("seg_i")
    rem_t = F.when(F.element_at(lens, seg_i) == 0, F.lit(0.0)).otherwise(
        (F.col("f") * total - (F.element_at(cums, seg_i) - F.element_at(lens, seg_i)))
        / F.element_at(lens, seg_i)
    )
    return g.select(
        "gid",
        F.size(xs).cast("int").alias("num_points"),
        F.round(total, 6).alias("total_len"),
        F.round(
            F.when(total == 0, F.lit(0.0)).otherwise(
                F.element_at("cands", 1).pos / total
            ),
            6,
        ).alias("locate_frac"),
        F.round(
            F.element_at(xs, seg_i)
            + rem_t * (F.element_at(xs, seg_i + 1) - F.element_at(xs, seg_i)),
            6,
        ).alias("interp_x"),
        F.round(
            F.element_at(ys, seg_i)
            + rem_t * (F.element_at(ys, seg_i + 1) - F.element_at(ys, seg_i)),
            6,
        ).alias("interp_y"),
        F.round(F.element_at(xs, 1), 6).alias("start_x"),
        F.round(F.element_at(ys, -1), 6).alias("end_y"),
    ).orderBy("gid")


# --- ST_Crosses (line × line) ----------------------------------------------

_CROSS_ORACLE = f"""
WITH g AS (
  SELECT c_custkey AS gid,
         {_line_coord_sql('c_custkey', 'x')} AS axs,
         {_line_coord_sql('c_custkey', 'y')} AS ays,
         {_line_coord_sql('c_custkey * 3 + 1', 'x')} AS bxs,
         {_line_coord_sql('c_custkey * 3 + 1', 'y')} AS bys
  FROM customer WHERE c_custkey < 2000
)
SELECT gid,
       (list_sum(list_transform(generate_series(1, len(axs) - 1), i ->
          list_sum(list_transform(generate_series(1, len(bxs) - 1), j ->
            CASE WHEN
              ((bxs[j+1] - bxs[j]) * (ays[i] - bys[j])
               - (bys[j+1] - bys[j]) * (axs[i] - bxs[j]))
              * ((bxs[j+1] - bxs[j]) * (ays[i+1] - bys[j])
               - (bys[j+1] - bys[j]) * (axs[i+1] - bxs[j])) < 0
              AND
              ((axs[i+1] - axs[i]) * (bys[j] - ays[i])
               - (ays[i+1] - ays[i]) * (bxs[j] - axs[i]))
              * ((axs[i+1] - axs[i]) * (bys[j+1] - ays[i])
               - (ays[i+1] - ays[i]) * (bxs[j+1] - axs[i])) < 0
            THEN 1 ELSE 0 END))))) > 0 AS st_crosses
FROM g
ORDER BY gid
"""


@_q("geo_crosses", _CROSS_ORACLE)
def geo_crosses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Crosses for a linestring pair (GeoFunctions.java ST_Crosses —
    for two lines, true iff their interiors share a point): any segment
    pair intersects PROPERLY (strict straddle both ways — endpoint
    touches and collinear overlap are Touches, not Crosses). Same
    double-comprehension text in the oracle."""
    cust = load_table(spark, sf_dir, "customer")
    ck = F.col("c_custkey")

    def coords(key, which):
        if which == "x":
            return F.array(
                *[((key * 7 + i * 13) % 100).cast("double") for i in range(_NPTS)]
            )
        return F.array(
            *[((key * 11 + i * 17 + i * i * 3) % 100).cast("double")
              for i in range(_NPTS)]
        )

    g = cust.filter(ck < 2000).select(
        ck.alias("gid"),
        coords(ck, "x").alias("axs"), coords(ck, "y").alias("ays"),
        coords(ck * 3 + 1, "x").alias("bxs"), coords(ck * 3 + 1, "y").alias("bys"),
    )
    axs, ays = F.col("axs"), F.col("ays")
    bxs, bys = F.col("bxs"), F.col("bys")

    def d(ox, oy, ax, ay, px, py):
        return (ax - ox) * (py - oy) - (ay - oy) * (px - ox)

    def pair(i, j):
        a1x, a1y = F.element_at(axs, i), F.element_at(ays, i)
        a2x, a2y = F.element_at(axs, i + 1), F.element_at(ays, i + 1)
        b1x, b1y = F.element_at(bxs, j), F.element_at(bys, j)
        b2x, b2y = F.element_at(bxs, j + 1), F.element_at(bys, j + 1)
        proper = (
            d(b1x, b1y, b2x, b2y, a1x, a1y) * d(b1x, b1y, b2x, b2y, a2x, a2y) < 0
        ) & (
            d(a1x, a1y, a2x, a2y, b1x, b1y) * d(a1x, a1y, a2x, a2y, b2x, b2y) < 0
        )
        return F.when(proper, 1).otherwise(0)

    hits = F.aggregate(
        F.sequence(F.lit(1), F.size(axs) - 1),
        F.lit(0),
        lambda acc, i: acc
        + F.aggregate(
            F.sequence(F.lit(1), F.size(bxs) - 1),
            F.lit(0),
            lambda a2, j: a2 + pair(i, j),
        ),
    )
    return g.select("gid", (hits > 0).alias("st_crosses")).orderBy("gid")


# --- WKB: exact integer IEEE-754 little-endian hex --------------------------
#
# ST_AsBinary (GeoFunctions.java:261) / ST_GeomFromBinary (:245), OGC WKB.
# The reference delegates to ESRI's serializer; the fixture's coordinates
# are non-negative integers < 2^31, whose encoding is exact in 64-bit
# integer arithmetic, so the hex string is JVM expression code on the
# Spark side and the same math in DuckDB. General doubles go through the
# Arrow codec UDFs st_asbinary / st_geomfrombinary in
# presto_db_spark.functions.geosql.
#
# For a non-negative integer v < 2^31:
#   v = 0          -> bits = 0
#   v > 0          -> e = bit_length(v) - 1 = length(bin(v)) - 1
#                     bits = (1023 + e) * 2^52 + (v * 2^(52 - e) - 2^52)
# (exact: e <= 30, v * 2^(52-e) < 2^53).  Little-endian hex = bytes
# (bits >> 8i) & 255 for i = 0..7, each lpad(hex, 2, '0').

_SPARK_BITS = (
    "(CASE WHEN {v} = 0 THEN cast(0 as bigint) ELSE "
    "(1023 + length(bin({v})) - 1) * cast(4503599627370496 as bigint)"
    " + ({v} * shiftleft(cast(1 as bigint), 52 - (length(bin({v})) - 1))"
    " - cast(4503599627370496 as bigint)) END)"
)
_DUCK_BITS = (
    "(CASE WHEN {v} = 0 THEN CAST(0 AS BIGINT) ELSE "
    "(1023 + length(bin({v})) - 1) * CAST(4503599627370496 AS BIGINT)"
    " + ({v} * (CAST(1 AS BIGINT) << (52 - (length(bin({v})) - 1)))"
    " - CAST(4503599627370496 AS BIGINT)) END)"
)
_SPARK_F64LE = (
    "lower(concat_ws('', transform(sequence(0, 7), i -> lpad(hex(("
    + _SPARK_BITS
    + " div shiftleft(cast(1 as bigint), 8 * i)) % 256), 2, '0'))))"
)
_DUCK_F64LE = (
    "lower(array_to_string(list_transform(generate_series(0, 7), i -> lpad(hex(("
    + _DUCK_BITS
    + " >> (8 * i)) & 255), 2, '0')), ''))"
)

# u32 little-endian hex (point counts)
_SPARK_U32LE = (
    "lower(concat_ws('', transform(sequence(0, 3), i -> lpad(hex("
    "(cast({v} as bigint) div shiftleft(cast(1 as bigint), 8 * i)) % 256), 2, '0'))))"
)
_DUCK_U32LE = (
    "lower(array_to_string(list_transform(generate_series(0, 3), i -> "
    "lpad(hex(({v} >> (8 * i)) & 255), 2, '0')), ''))"
)

# decode: hex f64le -> integer value (inverts the encode exactly)
_SPARK_F64LE_DEC = (
    "(CASE WHEN {bits} = 0 THEN CAST(0 AS BIGINT) ELSE "
    "(({bits} % cast(4503599627370496 as bigint)) + cast(4503599627370496 as bigint))"
    " div shiftleft(cast(1 as bigint), 52 - (({bits} div cast(4503599627370496 as bigint)) - 1023)) END)"
)
_SPARK_HEX2BITS = (
    "aggregate(sequence(0, 7), cast(0 as bigint), (acc, i) -> acc + "
    "cast(conv(substr({h}, 2 * i + 1, 2), 16, 10) as bigint)"
    " * shiftleft(cast(1 as bigint), 8 * i))"
)
_DUCK_F64LE_DEC = (
    "(CASE WHEN {bits} = 0 THEN CAST(0 AS BIGINT) ELSE "
    "(({bits} % CAST(4503599627370496 AS BIGINT)) + CAST(4503599627370496 AS BIGINT))"
    " >> (52 - (({bits} // CAST(4503599627370496 AS BIGINT)) - 1023)) END)"
)
# NOTE: list_sum returns HUGEINT in DuckDB, which decays to float64 under the
# driver's pandas canonicalization (int 37 vs float 37.0 hash-mismatch) — the
# outer CAST keeps every downstream projection BIGINT.
_DUCK_HEX2BITS = (
    "CAST(list_sum(list_transform(generate_series(0, 7), i -> "
    "CAST(('0x' || substr({h}, 2 * i + 1, 2))::BIGINT AS BIGINT) * (CAST(1 AS BIGINT) << (8 * i)))) AS BIGINT)"
)

_X = "CAST((gid * 37) % 100 AS BIGINT)"
_Y = "CAST((gid * 73) % 100 AS BIGINT)"
_X2 = "CAST((gid * 41) % 100 AS BIGINT)"
_Y2 = "CAST((gid * 43) % 100 AS BIGINT)"


@_q(
    "geo_wkb_roundtrip",
    f"""
WITH g AS (SELECT n_nationkey AS gid FROM nation),
enc AS (
  SELECT gid, {_X} AS x, {_Y} AS y, {_X2} AS x2, {_Y2} AS y2,
         '0101000000' || {_DUCK_F64LE.format(v=_X)} || {_DUCK_F64LE.format(v=_Y)}
           AS wkb_point,
         '0102000000' || {_DUCK_U32LE.format(v='2')}
           || {_DUCK_F64LE.format(v=_X)} || {_DUCK_F64LE.format(v=_Y)}
           || {_DUCK_F64LE.format(v=_X2)} || {_DUCK_F64LE.format(v=_Y2)}
           AS wkb_line
  FROM g
)
SELECT gid, wkb_point, wkb_line,
       CAST(length(wkb_point) / 2 AS INTEGER) AS point_bytes,
       CAST(length(wkb_line) / 2 AS INTEGER) AS line_bytes,
       {_DUCK_F64LE_DEC.format(bits=_DUCK_HEX2BITS.format(h="substr(wkb_point, 11, 16)"))} AS x_back,
       {_DUCK_F64LE_DEC.format(bits=_DUCK_HEX2BITS.format(h="substr(wkb_point, 27, 16)"))} AS y_back,
       ({_DUCK_F64LE_DEC.format(bits=_DUCK_HEX2BITS.format(h="substr(wkb_point, 11, 16)"))} = x
        AND {_DUCK_F64LE_DEC.format(bits=_DUCK_HEX2BITS.format(h="substr(wkb_point, 27, 16)"))} = y)
         AS roundtrip_ok
FROM enc ORDER BY gid
""",
)
def geo_wkb_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_AsBinary / ST_GeomFromBinary (GeoFunctions.java:261,245): OGC
    little-endian WKB for POINT (type 1) and LINESTRING (type 2), hex
    encoded with exact integer IEEE-754 bit math and decoded back by the
    inverse — full value-hash parity including every hex digit."""
    nation = load_table(spark, sf_dir, "nation")
    g = nation.selectExpr("n_nationkey AS gid")
    enc = g.selectExpr(
        "gid",
        f"{_X} AS x",
        f"{_Y} AS y",
        f"concat('0101000000', {_SPARK_F64LE.format(v=_X)}, "
        f"{_SPARK_F64LE.format(v=_Y)}) AS wkb_point",
        f"concat('0102000000', {_SPARK_U32LE.format(v='2')}, "
        f"{_SPARK_F64LE.format(v=_X)}, {_SPARK_F64LE.format(v=_Y)}, "
        f"{_SPARK_F64LE.format(v=_X2)}, {_SPARK_F64LE.format(v=_Y2)}) AS wkb_line",
    )
    xb = _SPARK_F64LE_DEC.format(
        bits=_SPARK_HEX2BITS.format(h="substr(wkb_point, 11, 16)")
    )
    yb = _SPARK_F64LE_DEC.format(
        bits=_SPARK_HEX2BITS.format(h="substr(wkb_point, 27, 16)")
    )
    return enc.selectExpr(
        "gid",
        "wkb_point",
        "wkb_line",
        "CAST(length(wkb_point) / 2 AS INT) AS point_bytes",
        "CAST(length(wkb_line) / 2 AS INT) AS line_bytes",
        f"{xb} AS x_back",
        f"{yb} AS y_back",
        f"({xb} = x AND {yb} = y) AS roundtrip_ok",
    ).orderBy("gid")


# --- array accessors over the WKT model -------------------------------------

_ML = (
    "('MULTILINESTRING ((' || CAST((gid * 11) % 100 AS STRING) || ' ' || "
    "CAST((gid * 19) % 100 AS STRING) || ', ' || "
    "CAST((gid * 23) % 100 AS STRING) || ' ' || "
    "CAST((gid * 29) % 100 AS STRING) || '), (' || "
    "CAST((gid * 31) % 100 AS STRING) || ' ' || "
    "CAST((gid * 47) % 100 AS STRING) || ', ' || "
    "CAST((gid * 53) % 100 AS STRING) || ' ' || "
    "CAST((gid * 59) % 100 AS STRING) || '))')"
)
_ML_DUCK = _ML.replace(" AS STRING)", " AS VARCHAR)")

_LINE_TXT = (
    "('LINESTRING (' || CAST((gid * 13) % 100 AS STRING) || ' ' || "
    "CAST((gid * 17) % 100 AS STRING) || ', ' || "
    "CAST((gid * 61) % 100 AS STRING) || ' ' || "
    "CAST((gid * 67) % 100 AS STRING) || ')')"
)
_LINE_TXT_DUCK = _LINE_TXT.replace(" AS STRING)", " AS VARCHAR)")


@_q(
    "geo_accessor_arrays",
    f"""
WITH ids AS (SELECT n_nationkey AS gid FROM nation),
g AS (
  SELECT gid, {_wkt_pent_hole('gid')} AS w,
         {_ML_DUCK} AS ml, {_LINE_TXT_DUCK} AS lt
  FROM ids
), parsed AS (
  SELECT gid, w, ml, lt,
         {_SQL_PART_STRS.format(w='w')} AS rings,
         {_SQL_PART_STRS.format(w='ml')} AS mlparts
  FROM g
)
SELECT gid,
       CASE WHEN lt LIKE 'LINESTRING%' THEN lt END AS line_from_text,
       CAST(len(rings) - 1 AS INTEGER) AS n_interior,
       'LINESTRING (' || rings[2] || ')' AS interior_ring_1,
       array_to_string(list_transform(rings[2:], r ->
         'LINESTRING (' || r || ')'), ' | ') AS interior_rings_all,
       array_to_string(list_transform(string_split(rings[1], ','), p ->
         'POINT (' || trim(p) || ')'), '; ') AS shell_points,
       'POINT (' || CAST(CAST(list_min({_SQL_P_XS.format(p='rings[1]')}) AS BIGINT) AS VARCHAR)
         || ' ' || CAST(CAST(list_min({_SQL_P_YS.format(p='rings[1]')}) AS BIGINT) AS VARCHAR)
         || '); POINT ('
         || CAST(CAST(list_max({_SQL_P_XS.format(p='rings[1]')}) AS BIGINT) AS VARCHAR)
         || ' ' || CAST(CAST(list_max({_SQL_P_YS.format(p='rings[1]')}) AS BIGINT) AS VARCHAR)
         || ')' AS envelope_pts,
       CAST(len(mlparts) AS INTEGER) AS n_geometries,
       array_to_string(list_transform(mlparts, p ->
         'LINESTRING (' || p || ')'), ' | ') AS geometries_all
FROM parsed ORDER BY gid
""",
)
def geo_accessor_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_LineFromText (GeoFunctions.java:137), ST_InteriorRingN (:710) /
    ST_InteriorRings (:550), ST_Points (:793), ST_EnvelopeAsPts (:880),
    ST_Geometries (:684).  Geometry-array results are serialized to
    ``' | '``/``'; '``-joined WKT in the final projection (the reference
    returns ``array(Geometry)``; rendered through ST_AsText the elements
    are exactly these strings).  Pure string/array expressions, identical
    splits in both engines."""
    nation = load_table(spark, sf_dir, "nation")
    g = nation.selectExpr("n_nationkey AS gid").selectExpr(
        "gid",
        f"{_wkt_pent_hole('gid')} AS w",
        f"{_ML} AS ml",
        f"{_LINE_TXT} AS lt",
    )
    rings = _part_strings(F.col("w"))
    mlparts = _part_strings(F.col("ml"))
    shell = F.element_at(rings, 1)
    sxs, sys_ = _part_xs(shell), _part_ys(shell)

    def _pt(xe: Column, ye: Column) -> Column:
        return F.concat(
            F.lit("POINT ("),
            xe.cast("bigint").cast("string"),
            F.lit(" "),
            ye.cast("bigint").cast("string"),
            F.lit(")"),
        )

    return g.select(
        "gid",
        F.when(F.col("lt").startswith("LINESTRING"), F.col("lt")).alias(
            "line_from_text"
        ),
        (F.size(rings) - 1).cast("int").alias("n_interior"),
        F.concat(
            F.lit("LINESTRING ("), F.element_at(rings, 2), F.lit(")")
        ).alias("interior_ring_1"),
        F.array_join(
            F.transform(
                F.slice(rings, 2, F.size(rings) - 1),
                lambda r: F.concat(F.lit("LINESTRING ("), r, F.lit(")")),
            ),
            " | ",
        ).alias("interior_rings_all"),
        F.array_join(
            F.transform(
                F.split(shell, ","),
                lambda p: F.concat(F.lit("POINT ("), F.trim(p), F.lit(")")),
            ),
            "; ",
        ).alias("shell_points"),
        F.concat(
            _pt(F.array_min(sxs), F.array_min(sys_)),
            F.lit("; "),
            _pt(F.array_max(sxs), F.array_max(sys_)),
        ).alias("envelope_pts"),
        F.size(mlparts).cast("int").alias("n_geometries"),
        F.array_join(
            F.transform(
                mlparts,
                lambda p: F.concat(F.lit("LINESTRING ("), p, F.lit(")")),
            ),
            " | ",
        ).alias("geometries_all"),
    ).orderBy("gid")


# --- ST_Relate: DE-9IM for the convex-polygon model -------------------------
#
# ST_Relate (GeoFunctions.java:1106) calls ESRI's relate in the reference;
# here the 9-char matrix is DERIVED from the clip kernel: II from the
# intersection area, IB/BI/IE/EI from area comparisons (containment = clip
# area equals an operand area), BB from the boundary-contact fold plus the
# dimension of the contact set (≥2 distinct clip points = dim 1, one =
# dim 0), EE = 2. Limitation: overlap along a shared collinear boundary
# segment would need a segment-overlap fold; the fixture has point
# contacts only.

# pattern match: '*' any, 'T' non-F, else exact — fold over the 9 slots
_SPARK_RELATE = (
    "forall(sequence(1, 9), i -> CASE substr('{pat}', i, 1) "
    "WHEN '*' THEN true WHEN 'T' THEN substr({m}, i, 1) <> 'F' "
    "ELSE substr({m}, i, 1) = substr('{pat}', i, 1) END)"
)
_DUCK_RELATE = (
    "(len(list_filter(generate_series(1, 9), i -> CASE substr('{pat}', i, 1) "
    "WHEN '*' THEN true WHEN 'T' THEN substr({m}, i, 1) <> 'F' "
    "ELSE substr({m}, i, 1) = substr('{pat}', i, 1) END)) = 9)"
)

# matrix assembly from derived facts (same formula text both sides):
#   inter > 0, a_in_b (= inter = area_a), b_in_a, equal (= both), hits
#   (boundary contact), ncontact (distinct clip points when inter = 0)
_DE9IM = (
    "concat("
    "CASE WHEN {inter} > 0 THEN '2' ELSE 'F' END,"                      # II
    "CASE WHEN {inter} > 0 AND NOT {a_in_b} THEN '1' ELSE 'F' END,"     # IB
    "CASE WHEN {inter} < {area_a} THEN '2' ELSE 'F' END,"               # IE
    "CASE WHEN {inter} > 0 AND NOT {b_in_a} THEN '1' ELSE 'F' END,"     # BI
    # BB: under strict containment the boundaries are disjoint in this
    # convex model, but {hits} would still fire on first-vertex containment
    # (st_intersects_rings tests point-in-ring) — so containment must take
    # precedence over the {inter} > 0 branch (within = 2FF1FF212, not 2FF10F212).
    "CASE WHEN {equal} THEN '1' "                                       # BB
    "WHEN {a_in_b} OR {b_in_a} THEN 'F' "
    "WHEN NOT {hits} THEN 'F' "
    "WHEN {inter} > 0 THEN '0' "
    "WHEN {ncontact} >= 2 THEN '1' ELSE '0' END,"
    "CASE WHEN {a_in_b} THEN 'F' ELSE '1' END,"                         # BE
    "CASE WHEN {inter} < {area_b} THEN '2' ELSE 'F' END,"               # EI
    "CASE WHEN {b_in_a} THEN 'F' ELSE '1' END,"                         # EB
    "'2')"                                                              # EE
)
_DE9IM_DUCK = _DE9IM  # concat / CASE are identical in DuckDB

_PAT_DISJOINT = "FF*FF****"
_PAT_TOUCHES = "F***T****"
_PAT_OVERLAPS = "T*T***T**"
_PAT_EQUALS = "T*F**FFF*"


@_q(
    "geo_relate_de9im",
    f"""
WITH RECURSIVE base AS (
  SELECT n_nationkey AS gid,
         {_sql_ring_pts('n_nationkey')} AS pa,
         {_sql_ring_pts('n_nationkey',
                        _CYCLE_SX.format(k='n_nationkey'),
                        _CYCLE_SY.format(k='n_nationkey'))} AS pb
  FROM nation
), closed AS (
  SELECT gid, pa, pb,
         list_append(list_transform(pa, p -> p.x), pa[1].x) AS axs,
         list_append(list_transform(pa, p -> p.y), pa[1].y) AS ays,
         list_append(list_transform(pb, p -> p.x), pb[1].x) AS bxs,
         list_append(list_transform(pb, p -> p.y), pb[1].y) AS bys
  FROM base
), clip AS (
  SELECT gid, 0 AS step, pa AS pts, pb FROM base
  UNION ALL
  SELECT gid, step + 1,
         {_SQL_CLIP_ONCE.format(
            pts="pts",
            ax="pb[step + 1].x", ay="pb[step + 1].y",
            bx="pb[((step + 1) % len(pb)) + 1].x",
            by="pb[((step + 1) % len(pb)) + 1].y")},
         pb
  FROM clip WHERE step < len(pb)
), facts AS (
  SELECT c.gid,
         {_sql_area('c.pa')} AS area_a,
         {_sql_area('c.pb')} AS area_b,
         {_sql_area('k.pts')} AS inter_area,
         ({_sql_intersects('c.axs', 'c.ays', 'c.bxs', 'c.bys')}) AS hits,
         len(list_distinct(list_transform(k.pts, p ->
           CAST(round(p.x, 6) AS VARCHAR) || ',' || CAST(round(p.y, 6) AS VARCHAR))))
           AS ncontact
  FROM closed c
  JOIN (SELECT gid, pts FROM clip WHERE step = 5) k ON k.gid = c.gid
), m AS (
  SELECT gid,
         {_DE9IM_DUCK.format(
            inter="inter_area", area_a="area_a", area_b="area_b",
            a_in_b="(inter_area = area_a)", b_in_a="(inter_area = area_b)",
            equal="(inter_area = area_a AND inter_area = area_b)",
            hits="hits", ncontact="ncontact")} AS de9im
  FROM facts
)
SELECT gid, de9im,
       {_DUCK_RELATE.format(m='de9im', pat=_PAT_DISJOINT)} AS relate_disjoint,
       {_DUCK_RELATE.format(m='de9im', pat=_PAT_TOUCHES)} AS relate_touches,
       {_DUCK_RELATE.format(m='de9im', pat=_PAT_OVERLAPS)} AS relate_overlaps,
       '2FFF1FFF2' AS de9im_self,
       {_DUCK_RELATE.format(m="'2FFF1FFF2'", pat=_PAT_EQUALS)} AS relate_equals_self
FROM m ORDER BY gid
""",
)
def geo_relate_de9im(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Relate (GeoFunctions.java:1106): the DE-9IM intersection matrix
    derived from the clip kernel for convex polygon pairs, plus OGC
    wildcard pattern matching (disjoint FF*FF****, touches F***T****,
    overlaps T*T***T**, equals T*F**FFF*).  The self matrix is the OGC
    canonical 2FFF1FFF2 — asserted, not assumed, by the equals pattern."""
    nation = load_table(spark, sf_dir, "nation")
    k = "n_nationkey"
    g = nation.selectExpr(
        f"{k} AS gid",
        f"{_wkt_pentagon(k)} AS wa",
        f"{_wkt_pentagon(k, _CYCLE_SX.format(k=k), _CYCLE_SY.format(k=k))} AS wb",
    )
    axs, ays = st_xs(F.col("wa")), st_ys(F.col("wa"))
    bxs, bys = st_xs(F.col("wb")), st_ys(F.col("wb"))
    # Column-name barriers (the geo_convex_hull discipline):
    # without them CollapseProject re-inlines every named intermediate,
    # so the clip fold (kpts) and the parse trees re-explode into a
    # multiplicative Catalyst tree (de9im alone is mentioned 5x in the
    # final select). 25-row checkpoints; arithmetic unchanged.
    parsed = g.select(
        "gid",
        _open_pts(axs, ays).alias("pa"),
        _open_pts(bxs, bys).alias("pb"),
        st_intersects_rings(axs, ays, bxs, bys).alias("hits"),
    ).localCheckpoint(eager=False)
    kpts = st_intersection_pts(F.col("pa"), F.col("pb"))
    facts = parsed.select(
        "gid",
        "hits",
        st_area_pts(F.col("pa")).alias("area_a"),
        st_area_pts(F.col("pb")).alias("area_b"),
        st_area_pts(kpts).alias("inter_area"),
        F.size(
            F.array_distinct(
                F.transform(
                    kpts,
                    lambda p: F.concat(
                        F.round(p.x, 6).cast("string"),
                        F.lit(","),
                        F.round(p.y, 6).cast("string"),
                    ),
                )
            )
        ).alias("ncontact"),
    ).localCheckpoint(eager=False)
    m = facts.selectExpr(
        "gid",
        _DE9IM.format(
            inter="inter_area",
            area_a="area_a",
            area_b="area_b",
            a_in_b="(inter_area = area_a)",
            b_in_a="(inter_area = area_b)",
            equal="(inter_area = area_a AND inter_area = area_b)",
            hits="hits",
            ncontact="ncontact",
        )
        + " AS de9im",
    ).localCheckpoint(eager=False)
    return m.selectExpr(
        "gid",
        "de9im",
        _SPARK_RELATE.format(m="de9im", pat=_PAT_DISJOINT) + " AS relate_disjoint",
        _SPARK_RELATE.format(m="de9im", pat=_PAT_TOUCHES) + " AS relate_touches",
        _SPARK_RELATE.format(m="de9im", pat=_PAT_OVERLAPS) + " AS relate_overlaps",
        "'2FFF1FFF2' AS de9im_self",
        _SPARK_RELATE.format(m="'2FFF1FFF2'", pat=_PAT_EQUALS)
        + " AS relate_equals_self",
    ).orderBy("gid")
