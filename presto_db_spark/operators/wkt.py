"""WKT geometry slice — parse WKT text into the coordinate-array model and
run real geometry predicates on it.

Extends :mod:`operators.geo` (which models points/polygons as coordinate
arrays synthesized from keys) with the reference's text-first surface
(``presto-geospatial/src/main/java/com/facebook/presto/plugin/geospatial/
GeoFunctions.java``): ``ST_GeometryFromText`` (:237), ``ST_AsText`` (:253),
``ST_X``/``ST_Y`` (:832/:846), ``ST_NumPoints`` (:724), ``ST_IsClosed``
(:349), ``ST_Length`` (:426), ``ST_Distance`` (:933), ``ST_Intersects``
(:1076), over the POINT / LINESTRING / single-ring POLYGON subset.

Model: ``struct<gtype: string, xs: array<double>, ys: array<double>>``.
The parser is pure expression work (regex strip + split + casts) in BOTH
engines, so every query here is value-hash-checked against DuckDB running
the same math. Polygon rings arrive closed (WKT repeats the first vertex),
so all folds walk consecutive segments 1..n-1 — no wraparound indexing.

Scale notes: parsing and per-geometry predicates are projections (fuse
into the scan; no shuffle). The intersects JOIN uses the same grid-cell
blocking as ``geo.geo_polygon_join`` — both sides explode to the cells
their bbox covers, candidates meet in a cell equi-join, exact predicates
filter — mirroring the reference's partitioned SpatialJoinOperator
(``pm/operator/SpatialJoinOperator.java:40``); never a cross join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..registry import family

QUERIES, ORACLE, _q = family()


# --- parsing ---------------------------------------------------------------

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


def st_contains_ring(xs: Column, ys: Column, px: Column, py: Column) -> Column:
    """Crossing-number containment over a CLOSED ring's consecutive
    segments (same math as geo.st_contains, without wraparound)."""
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

_PENT_DX = [0, 8, 5, -5, -8]
_PENT_DY = [-10, -2, 8, 8, -2]


def _wkt_pentagon(key: str) -> str:
    cx, cy = f"(({key} * 17) % 80 + 10)", f"(({key} * 29) % 80 + 10)"
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


# --- queries ---------------------------------------------------------------

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
    over WKT-parsed rings, grid-blocked like geo.geo_polygon_join: both
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
