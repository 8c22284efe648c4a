"""SphericalGeography slice + ST_Buffer — the remaining GeoFunctions rows.

Reference surface reproduced here (all math, no GEOS binding):

* ``great_circle_distance(lat1, lon1, lat2, lon2)`` — the Vincenty-form
  great-circle formula in KM with the reference's exact constant
  ``EARTH_RADIUS_KM = 6371.01``
  (`presto-geospatial-toolkit/.../SphericalGeographyUtils.java:36,82-108`).
* ``ST_Distance`` on SphericalGeography points — the same formula × 1000
  (meters) (`SphericalGeographyUtils.java:61-74`).
* ``ST_Area`` on SphericalGeography polygons — spherical-excess sum with
  the reference's per-edge term
  ``2·atan2(tan(Δλ/2)·(tan(φ₁/2)+tan(φ₂/2)), 1 + tan(φ₁/2)·tan(φ₂/2))``
  (`presto-geospatial/.../SphericalGeoFunctions.java:366-416`), edges
  walked in the reference's order (closing edge first); the
  pole-enclosing course-delta correction (`:400-410`) is out of scope —
  the synthesized rings never enclose a pole.
* ``ST_Buffer(point, r)`` — `GeoFunctions.java:273-296` delegates to the
  Esri engine's buffer; here the point case is produced directly as a
  deterministic regular ``N_BUFFER_SEGMENTS``-gon (first vertex due east,
  counter-clockwise), which is the same construction Esri uses with a
  fixed segment count instead of its adaptive densification.  The WKT
  text, vertex count, closure flag, and shoelace area are all checked.

Scale: every query is a pure projection over the customer scan — no
joins, no shuffles beyond the final ORDER BY; at 100 TB each stays a
single map stage inside WholeStageCodegen.

Float parity with DuckDB: both engines call libm sin/cos/tan/atan2 on
identical doubles and both fold sums left-to-right; outputs are rounded
in-query (6 dp) exactly as the rest of the geo corpus does.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import family

QUERIES, ORACLE, _q = family()

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
