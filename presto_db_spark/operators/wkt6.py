"""The last GeoFunctions rows: WKB, array accessors, and ST_Relate.

Reference surface (``presto-geospatial/.../GeoFunctions.java``):

* ``ST_AsBinary`` (:261) / ``ST_GeomFromBinary`` (:245) — OGC WKB.  The
  reference delegates to ESRI's serializer; here the little-endian IEEE-754
  encoding is computed with EXACT INTEGER ARITHMETIC (coordinates in the
  fixture are non-negative integers < 2^31, for which
  ``bits = (1023+e)·2^52 + (v·2^(52-e) − 2^52)``, ``e = len(bin(v)) − 1``
  is exact in 64-bit integers) — so the full hex string is pure JVM
  expression code on the Spark side and bit-identical DuckDB SQL on the
  oracle side.  The decode path inverts the same math.  General
  (non-integer) doubles go through the Arrow codec UDFs defined in
  :mod:`presto_db_spark.functions.geosql`
  (``st_asbinary`` / ``st_geomfrombinary`` — a serialization codec, the
  same exception class as the BMP/WAV multimodal codecs).
* ``ST_Points`` (:793), ``ST_EnvelopeAsPts`` (:880), ``ST_Geometries``
  (:684), ``ST_InteriorRings`` (:550), ``ST_InteriorRingN`` (:710),
  ``ST_LineFromText`` (:137) — constructors/accessors over the WKT model;
  array-valued results are serialized to joined strings in the final
  projection (driver-canonicalizer-safe), full DuckDB value parity.
* ``ST_Relate`` (:1106) — DE-9IM.  The reference calls ESRI's relate; here
  the 9-char matrix is DERIVED for the convex-polygon model from the
  wkt4 clip kernel: II from the intersection area, IB/BI/IE/EI from
  area comparisons (containment = clip area equals an operand area),
  BB from the boundary-contact fold plus the dimension of the contact
  set (≥2 distinct clip points = dim 1, one = dim 0), EE = 2.  Pattern
  matching implements the OGC wildcard alphabet (``*`` any, ``T`` non-F,
  ``0|1|2|F`` exact).  Limitation (documented): overlap with a shared
  collinear boundary segment would need a segment-overlap fold; the
  fixture (and the convex-position model) has point contacts only.

Scale: everything is per-row expression code — no shuffle, no UDF, no
Python; WholeStageCodegen end to end.  O(ring² ) per row on O(10)-vertex
rings, constant per row at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import family
from .wkt import _sql_intersects, _wkt_pentagon, st_intersects_rings, st_xs, st_ys
from .wkt2 import _part_strings, _SQL_PART_STRS, _SQL_P_XS, _SQL_P_YS, _wkt_pent_hole
from .wkt4 import (
    _open_pts,
    _sql_area,
    _SQL_CLIP_ONCE,
    _sql_ring_pts,
    st_area_ring,
    st_intersection_pts,
)
from .wkt5 import _SX, _SY, _wkt_pentagon_at

QUERIES, ORACLE, _q = family()


# --- WKB: exact integer IEEE-754 little-endian hex --------------------------
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
    sxs = F.transform(
        F.split(shell, ","),
        lambda c: F.split(F.trim(c), " +").getItem(0).cast("double"),
    )
    sys_ = F.transform(
        F.split(shell, ","),
        lambda c: F.split(F.trim(c), " +").getItem(1).cast("double"),
    )

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
        f"{_wkt_pentagon_at(k, _SX.format(k=k), _SY.format(k=k))} AS wb",
    )
    axs, ays = st_xs(F.col("wa")), st_ys(F.col("wa"))
    bxs, bys = st_xs(F.col("wb")), st_ys(F.col("wb"))
    # r13 opt: column-name barriers (the geo_convex_hull discipline) —
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
        st_area_ring(F.col("pa")).alias("area_a"),
        st_area_ring(F.col("pb")).alias("area_b"),
        st_area_ring(kpts).alias("inter_area"),
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
