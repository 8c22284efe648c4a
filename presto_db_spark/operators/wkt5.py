"""Spatial predicates + linear referencing: the remaining GeoFunctions rows.

Reference surface: ``presto-geospatial/.../GeoFunctions.java`` —
``ST_Disjoint`` / ``ST_Touches`` / ``ST_Overlaps`` / ``ST_Equals``
(relationship predicates, delegated to ESRI operators in the reference),
``ST_Difference``, ``expand_envelope``, ``ST_XMax`` / ``ST_YMin``,
``ST_ExteriorRing`` (+ ``ST_IsRing`` / ``ST_IsSimple`` / ``ST_IsValid`` /
``geometry_invalid_reason``), and the linear-referencing pair
``line_locate_point`` / ``line_interpolate_point``.

Predicates are DERIVED, not declared: the clip kernel from
:mod:`.wkt4` gives the intersection area, the segment-intersection fold
from :mod:`.wkt` gives boundary contact, and the predicate algebra is

* intersects  = boundary contact OR containment (st_intersects_rings)
* disjoint    = NOT intersects
* touches     = intersects AND intersection area = 0
* overlaps    = 0 < intersection area < min(area A, area B)
* equals(A,A) = clip(A, A) keeps the exact ring (every vertex on the
  closed half-planes) — area equality is exact, no tolerance needed

The fixture cycles B through three configurations per group key (touching
edge-to-vertex at +16,0; fully disjoint at +40,40; overlapping at +4,3),
so every predicate is exercised in both truth values across the table.

Linear referencing is pure array comprehension (n=4-point polylines):
per-segment projection for locate (clamped parametric t, nearest wins,
first-segment tiebreak via (d2, pos) struct sort), prefix-sum walk for
interpolate. The SAME comprehension text runs in DuckDB — every
intermediate double is bit-identical, full value-hash parity.

Scale: pure projections, no shuffle/UDF/Python; O(ring²) per row on O(10)
vertices.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import family
from .wkt import (
    _sql_intersects,
    _wkt_pentagon,
    st_intersects_rings,
    st_xs,
    st_ys,
)
from .wkt4 import (
    _open_pts,
    _sql_area,
    _SQL_CLIP_ONCE,
    _sql_ring_pts,
    st_area_ring,
    st_intersection_pts,
)

QUERIES, ORACLE, _q = family()


# B's shift cycles through touching / disjoint / overlapping per key.
_SX = "(CASE WHEN ({k}) % 3 = 0 THEN 16 WHEN ({k}) % 3 = 1 THEN 40 ELSE 4 END)"
_SY = "(CASE WHEN ({k}) % 3 = 0 THEN 0 WHEN ({k}) % 3 = 1 THEN 40 ELSE 3 END)"


def _wkt_pentagon_at(key: str, sx: str, sy: str) -> str:
    from .wkt import _PENT_DX, _PENT_DY

    cx = f"(({key} * 17) % 80 + 10 + {sx})"
    cy = f"(({key} * 29) % 80 + 10 + {sy})"
    pts = [
        f"CAST({cx} + {dx} AS STRING) || ' ' || CAST({cy} + {dy} AS STRING)"
        for dx, dy in zip(_PENT_DX + [_PENT_DX[0]], _PENT_DY + [_PENT_DY[0]])
    ]
    return "('POLYGON ((' || " + " || ', ' || ".join(pts) + " || '))')"


_PRED_ORACLE = f"""
WITH RECURSIVE base AS (
  SELECT n_nationkey AS gid,
         {_sql_ring_pts('n_nationkey')} AS pa,
         {_sql_ring_pts('n_nationkey',
                        _SX.format(k='n_nationkey'),
                        _SY.format(k='n_nationkey'))} AS pb
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
        f"{_wkt_pentagon_at(k, _SX.format(k=k), _SY.format(k=k))} AS wb",
    )
    axs, ays = st_xs(F.col("wa")), st_ys(F.col("wa"))
    bxs, bys = st_xs(F.col("wb")), st_ys(F.col("wb"))
    # r13 opt: column-name barriers (the geo_convex_hull discipline) —
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
    inter = st_area_ring(st_intersection_pts(F.col("pa"), F.col("pb")))
    self_clip = st_area_ring(st_intersection_pts(F.col("pa"), F.col("pa")))
    a_a, a_b = st_area_ring(F.col("pa")), st_area_ring(F.col("pb"))
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
