"""Geospatial point operators — grid-blocked spatial join + point predicates.

The reference ships a geospatial plugin (``presto-geospatial/.../GeoFunctions
.java``, 60+ ``ST_*`` functions) and an R-tree spatial join
(``pm/operator/SpatialJoinOperator.java:40``, ``PagesRTreeIndex.java``;
SURVEY §2.3). Full geometry needs a GEOS binding (Sedona) — out of core
scope — but the *point* subset that covers the common analytics cases
(distance, radius join, bounding-box containment) is pure math, and the
scalable join strategy translates directly:

* Presto partitions space with a KDB-tree and R-tree-probes per partition;
* here space is partitioned with a **fixed grid of cell width r** (the
  radius): a pair within distance r must lie in the same or adjacent cells,
  so the left side emits 1 cell, the right side 9 neighbors, and the join
  is an equi-join on the cell key — one shuffle, candidates bounded per
  cell, no quadratic blowup (the same blocking idea as the LSH dedup and
  the bucketized range join).

Points are synthesized deterministically from customer keys (the testdata
has no geo columns); all predicates are plain expressions so the DuckDB
oracle value-checks everything.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import family

QUERIES, ORACLE, _q = family()

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


# --- polygon subset: ST_Area / ST_Centroid / ST_Contains -------------------
#
# Polygons are modeled as parallel coordinate arrays (xs, ys) — the
# GeoFunctions.java polygon subset that is pure arithmetic: shoelace area,
# signed-area centroid, crossing-number containment. All folds are JVM
# expressions over F.transform/F.aggregate (no UDF), and the identical
# formulas run in the DuckDB oracle, so every value is hash-checked.
# Per-nation pentagon + per-customer point keeps the join an EQUI-join on
# nationkey (each point tests against its nation's polygon) — no cross
# join, scales linearly in points.

def _poly_fold(xs, ys, n, term):
    """sum_i term(i) for i in 1..n with wraparound i+1 (JVM expression)."""
    nxt = lambda i: F.when(i == n, F.lit(1)).otherwise(i + 1)  # noqa: E731
    return F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc + term(
            F.element_at(xs, i), F.element_at(ys, i),
            F.element_at(xs, nxt(i)), F.element_at(ys, nxt(i)),
        ),
    )


def st_area(xs, ys, n) -> Column:
    """Shoelace |signed area| / 2 (GeoFunctions.java ST_Area)."""
    return F.abs(_poly_fold(xs, ys, n, lambda x1, y1, x2, y2: x1 * y2 - x2 * y1)) / 2


def st_centroid(xs, ys, n) -> tuple[Column, Column]:
    """Signed-area-weighted centroid (GeoFunctions.java ST_Centroid)."""
    a2 = _poly_fold(xs, ys, n, lambda x1, y1, x2, y2: x1 * y2 - x2 * y1)
    cx = _poly_fold(xs, ys, n, lambda x1, y1, x2, y2: (x1 + x2) * (x1 * y2 - x2 * y1))
    cy = _poly_fold(xs, ys, n, lambda x1, y1, x2, y2: (y1 + y2) * (x1 * y2 - x2 * y1))
    return cx / (3 * a2), cy / (3 * a2)


def st_contains(xs, ys, n, px, py) -> Column:
    """Crossing-number point-in-polygon (odd crossings = inside)."""
    crossings = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            (
                (F.element_at(ys, i) > py)
                != (F.element_at(ys, F.when(i == n, F.lit(1)).otherwise(i + 1)) > py)
            )
            & (
                px
                < (
                    F.element_at(xs, F.when(i == n, F.lit(1)).otherwise(i + 1))
                    - F.element_at(xs, i)
                )
                * (py - F.element_at(ys, i))
                / (
                    F.element_at(ys, F.when(i == n, F.lit(1)).otherwise(i + 1))
                    - F.element_at(ys, i)
                )
                + F.element_at(xs, i)
            ),
            1,
        ).otherwise(0),
    )
    return crossings % 2 == 1


# Pentagon vertex offsets around the per-nation center (CCW).
_PENT_DX = [0.0, 8.0, 5.0, -5.0, -8.0]
_PENT_DY = [-10.0, -2.0, 8.0, 8.0, -2.0]

_POLY_SQL = f"""
  SELECT n_nationkey AS nk,
         CAST((n_nationkey * 17) % 80 + 10 AS DOUBLE) AS cx,
         CAST((n_nationkey * 29) % 80 + 10 AS DOUBLE) AS cy,
         [{', '.join(f'CAST((n_nationkey * 17) % 80 + 10 AS DOUBLE) + {dx}' for dx in _PENT_DX)}] AS xs,
         [{', '.join(f'CAST((n_nationkey * 29) % 80 + 10 AS DOUBLE) + {dy}' for dy in _PENT_DY)}] AS ys
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
    nk = F.col("n_nationkey")
    cx = ((nk * 17) % 80 + 10).cast("double")
    cy = ((nk * 29) % 80 + 10).cast("double")
    poly = nation.select(
        nk.alias("nk"),
        F.array(*[cx + F.lit(d) for d in _PENT_DX]).alias("xs"),
        F.array(*[cy + F.lit(d) for d in _PENT_DY]).alias("ys"),
    )
    ck = F.col("c_custkey")
    pts = cust.filter(ck < 2000).select(
        F.col("c_nationkey").alias("nk"),
        ck.alias("pid"),
        ((ck * 37 % 1000).cast("double") / 10).alias("px"),
        ((ck * 73 % 1000).cast("double") / 10).alias("py"),
    )
    n5 = F.lit(5)
    tested = poly.join(pts, "nk").select(
        "nk",
        "xs",
        "ys",
        st_contains(F.col("xs"), F.col("ys"), n5, F.col("px"), F.col("py"))
        .cast("int")
        .alias("inside"),
    )
    ccx, ccy = st_centroid(F.col("xs"), F.col("ys"), n5)
    return (
        tested.groupBy("nk", "xs", "ys")
        .agg(F.count("*").alias("n_points"), F.sum("inside").alias("n_inside"))
        .select(
            "nk",
            F.round(st_area(F.col("xs"), F.col("ys"), n5), 6).alias("area"),
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
    nk = F.col("n_nationkey")
    cx = ((nk * 17) % 80 + 10).cast("double")
    cy = ((nk * 29) % 80 + 10).cast("double")
    poly = nation.select(
        nk.alias("nk"),
        F.array(*[cx + F.lit(d) for d in _PENT_DX]).alias("xs"),
        F.array(*[cy + F.lit(d) for d in _PENT_DY]).alias("ys"),
    )
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
            st_contains(F.col("xs"), F.col("ys"), F.lit(5), F.col("px"), F.col("py"))
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
