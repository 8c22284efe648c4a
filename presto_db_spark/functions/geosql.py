"""SQL-callable ST_* geometry functions over the WKT-string model.

The operator module ``operators/geo.py`` implements the geospatial
plans; this module makes the scalar surface PASTE-COMPATIBLE:
a user of the reference can run ``SELECT ST_AsText(ST_Point(1, 2))`` or
``ST_Area(ST_GeometryFromText('POLYGON ((...))'))`` through
:meth:`Engine.sql` directly (``presto-geospatial/.../GeoFunctions.java``
scalar registrations).

Everything is a Spark SQL *function* (``CREATE TEMPORARY FUNCTION ...
RETURN <expr>``) whose body is pure JVM expression code — higher-order
folds for length/area/centroid, no Python anywhere, so a pasted ST_*
over a billion-row table stays inside WholeStageCodegen.

Geometry value = WKT string (the reference's geometry type rendered
through ST_AsText; construction/accessor semantics match the operator
modules' parsers, so values round-trip between the two surfaces).

Documented deviations (same model as the operator modules):

* ``ST_Distance`` is point↔point here (the general point↔polygon form is
  the operator ``geo_wkt_distance``);
* ``ST_Centroid`` is the signed-area centroid for polygons (the
  reference formula), the vertex mean for linestrings/multipoints (the
  reference weights linestrings by segment length);
* single-ring polygons (holes/MULTI* are the operator module's
  multi-part section).
"""

from __future__ import annotations

import struct

import pandas as pd

from .compat import pandas_udf, sql_functions

# -- shared body fragments (inlined into each function's RETURN) ------------

_PARTS = "split(trim(regexp_replace({g}, '[^0-9,.\\\\- ]', '')), ',')"
_XS = (
    "transform(" + _PARTS + ", p -> CAST(element_at(split(trim(p), ' +'), 1)"
    " AS DOUBLE))"
)
_YS = (
    "transform(" + _PARTS + ", p -> CAST(element_at(split(trim(p), ' +'), 2)"
    " AS DOUBLE))"
)
_TYPE = "regexp_extract({g}, '^\\\\s*([A-Z]+)', 1)"
_NUM = (
    "(CASE WHEN {v} = floor({v}) THEN CAST(CAST({v} AS BIGINT) AS STRING) "
    "ELSE CAST({v} AS STRING) END)"
)

# shoelace 2*signed-area over the CLOSED ring (consecutive segments)
_A2 = (
    "aggregate(sequence(1, size({xs}) - 1), CAST(0.0 AS DOUBLE), (acc, i) -> "
    "acc + (element_at({xs}, i) * element_at({ys}, i + 1) "
    "- element_at({xs}, i + 1) * element_at({ys}, i)))"
)


def _fn(name: str, params: str, rtype: str, body: str) -> str:
    return (
        f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
        f"RETURNS {rtype} RETURN {body}"
    )


def _point(xe: str, ye: str) -> str:
    return (
        "concat('POINT (', " + _NUM.format(v=xe) + ", ' ', "
        + _NUM.format(v=ye) + ", ')')"
    )


_XS_G, _YS_G = _XS.format(g="g"), _YS.format(g="g")

_GEO_FUNCTIONS: list[str] = [
    # constructors / text round-trip
    _fn("st_point", "x DOUBLE, y DOUBLE", "STRING", _point("x", "y")),
    _fn(
        "st_geometryfromtext", "s STRING", "STRING",
        "CASE WHEN trim(s) RLIKE "
        "'^(POINT|LINESTRING|POLYGON|MULTIPOINT|MULTILINESTRING|MULTIPOLYGON)' "
        "THEN trim(s) ELSE CAST(raise_error(concat('Invalid WKT: ', s)) "
        "AS STRING) END",
    ),
    _fn("st_astext", "g STRING", "STRING", "g"),
    _fn(
        "st_geometrytype", "g STRING", "STRING",
        "CASE " + _TYPE.format(g="g") + " WHEN 'POINT' THEN 'ST_Point' "
        "WHEN 'LINESTRING' THEN 'ST_LineString' "
        "WHEN 'POLYGON' THEN 'ST_Polygon' "
        "WHEN 'MULTIPOINT' THEN 'ST_MultiPoint' "
        "WHEN 'MULTILINESTRING' THEN 'ST_MultiLineString' "
        "WHEN 'MULTIPOLYGON' THEN 'ST_MultiPolygon' END",
    ),
    # coordinate accessors
    _fn(
        "st_x", "g STRING", "DOUBLE",
        "CASE WHEN " + _TYPE.format(g="g") + " = 'POINT' "
        "THEN element_at(" + _XS_G + ", 1) END",
    ),
    _fn(
        "st_y", "g STRING", "DOUBLE",
        "CASE WHEN " + _TYPE.format(g="g") + " = 'POINT' "
        "THEN element_at(" + _YS_G + ", 1) END",
    ),
    _fn("st_xmin", "g STRING", "DOUBLE", "array_min(" + _XS_G + ")"),
    _fn("st_xmax", "g STRING", "DOUBLE", "array_max(" + _XS_G + ")"),
    _fn("st_ymin", "g STRING", "DOUBLE", "array_min(" + _YS_G + ")"),
    _fn("st_ymax", "g STRING", "DOUBLE", "array_max(" + _YS_G + ")"),
    _fn("st_numpoints", "g STRING", "INT", "CAST(size(" + _XS_G + ") AS INT)"),
    _fn(
        "st_isempty", "g STRING", "BOOLEAN",
        "NOT (g RLIKE '[0-9]')",
    ),
    _fn(
        "st_isclosed", "g STRING", "BOOLEAN",
        "element_at(" + _XS_G + ", 1) = element_at(" + _XS_G + ", -1) "
        "AND element_at(" + _YS_G + ", 1) = element_at(" + _YS_G + ", -1)",
    ),
    _fn(
        "st_dimension", "g STRING", "TINYINT",
        "CAST(CASE WHEN " + _TYPE.format(g="g")
        + " IN ('POINT', 'MULTIPOINT') THEN 0 "
        "WHEN " + _TYPE.format(g="g")
        + " IN ('LINESTRING', 'MULTILINESTRING') THEN 1 "
        "ELSE 2 END AS TINYINT)",
    ),
    _fn("st_coorddim", "g STRING", "TINYINT", "CAST(2 AS TINYINT)"),
    # point extraction
    _fn(
        "st_startpoint", "g STRING", "STRING",
        _point("element_at(" + _XS_G + ", 1)", "element_at(" + _YS_G + ", 1)"),
    ),
    _fn(
        "st_endpoint", "g STRING", "STRING",
        _point("element_at(" + _XS_G + ", -1)", "element_at(" + _YS_G + ", -1)"),
    ),
    _fn(
        "st_pointn", "g STRING, n INT", "STRING",
        "CASE WHEN n >= 1 AND n <= size(" + _XS_G + ") THEN "
        + _point("element_at(" + _XS_G + ", n)", "element_at(" + _YS_G + ", n)")
        + " END",
    ),
    # measures
    _fn(
        "st_length", "g STRING", "DOUBLE",
        "aggregate(sequence(1, size(" + _XS_G + ") - 1), CAST(0.0 AS DOUBLE), "
        "(acc, i) -> acc + sqrt("
        "(element_at(" + _XS_G + ", i + 1) - element_at(" + _XS_G + ", i)) "
        "* (element_at(" + _XS_G + ", i + 1) - element_at(" + _XS_G + ", i)) "
        "+ (element_at(" + _YS_G + ", i + 1) - element_at(" + _YS_G + ", i)) "
        "* (element_at(" + _YS_G + ", i + 1) - element_at(" + _YS_G + ", i))))",
    ),
    _fn(
        "st_area", "g STRING", "DOUBLE",
        "CASE WHEN " + _TYPE.format(g="g") + " = 'POLYGON' THEN "
        "abs(" + _A2.format(xs=_XS_G, ys=_YS_G) + ") / 2 ELSE 0.0 END",
    ),
    _fn(
        "st_distance", "a STRING, b STRING", "DOUBLE",
        "CASE WHEN " + _TYPE.format(g="a") + " = 'POINT' AND "
        + _TYPE.format(g="b") + " = 'POINT' THEN sqrt("
        "(element_at(" + _XS.format(g="a") + ", 1) - element_at("
        + _XS.format(g="b") + ", 1)) * (element_at(" + _XS.format(g="a")
        + ", 1) - element_at(" + _XS.format(g="b") + ", 1)) + "
        "(element_at(" + _YS.format(g="a") + ", 1) - element_at("
        + _YS.format(g="b") + ", 1)) * (element_at(" + _YS.format(g="a")
        + ", 1) - element_at(" + _YS.format(g="b") + ", 1))) END",
    ),
    _fn(
        "st_envelope", "g STRING", "STRING",
        "concat('POLYGON ((', "
        + _NUM.format(v="array_min(" + _XS_G + ")") + ", ' ', "
        + _NUM.format(v="array_min(" + _YS_G + ")") + ", ', ', "
        + _NUM.format(v="array_max(" + _XS_G + ")") + ", ' ', "
        + _NUM.format(v="array_min(" + _YS_G + ")") + ", ', ', "
        + _NUM.format(v="array_max(" + _XS_G + ")") + ", ' ', "
        + _NUM.format(v="array_max(" + _YS_G + ")") + ", ', ', "
        + _NUM.format(v="array_min(" + _XS_G + ")") + ", ' ', "
        + _NUM.format(v="array_max(" + _YS_G + ")") + ", ', ', "
        + _NUM.format(v="array_min(" + _XS_G + ")") + ", ' ', "
        + _NUM.format(v="array_min(" + _YS_G + ")") + ", '))')",
    ),
    _fn(
        "st_centroid", "g STRING", "STRING",
        "CASE WHEN " + _TYPE.format(g="g") + " = 'POINT' THEN g "
        "WHEN " + _TYPE.format(g="g") + " = 'POLYGON' THEN "
        + _point(
            "(aggregate(sequence(1, size(" + _XS_G + ") - 1), "
            "CAST(0.0 AS DOUBLE), (acc, i) -> acc + "
            "(element_at(" + _XS_G + ", i) + element_at(" + _XS_G + ", i + 1))"
            " * (element_at(" + _XS_G + ", i) * element_at(" + _YS_G + ", i + 1)"
            " - element_at(" + _XS_G + ", i + 1) * element_at(" + _YS_G + ", i))))"
            " / (3 * " + _A2.format(xs=_XS_G, ys=_YS_G) + ")",
            "(aggregate(sequence(1, size(" + _XS_G + ") - 1), "
            "CAST(0.0 AS DOUBLE), (acc, i) -> acc + "
            "(element_at(" + _YS_G + ", i) + element_at(" + _YS_G + ", i + 1))"
            " * (element_at(" + _XS_G + ", i) * element_at(" + _YS_G + ", i + 1)"
            " - element_at(" + _XS_G + ", i + 1) * element_at(" + _YS_G + ", i))))"
            " / (3 * " + _A2.format(xs=_XS_G, ys=_YS_G) + ")",
        )
        + " ELSE "
        + _point(
            "aggregate(" + _XS_G + ", CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            " / size(" + _XS_G + ")",
            "aggregate(" + _YS_G + ", CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
            " / size(" + _YS_G + ")",
        )
        + " END",
    ),
]


# body of a geometry = text after the type head and outer paren pair
_GBODY = (
    "regexp_replace(regexp_replace({g}, '^\\\\s*[A-Z]+\\\\s*\\\\(', ''), "
    "'\\\\)\\\\s*$', '')"
)
# ring / part strings of POLYGON / MULTILINESTRING (split the body on the
# ')...(' seams, drop residual parens)
_PARTS_MULTI = (
    "transform(split(" + _GBODY + ", '\\\\)\\\\s*,\\\\s*\\\\('), "
    "p -> regexp_replace(p, '[()]', ''))"
)
# MULTIPOINT accepts BOTH WKT forms — '((1 2), (3 4))' and flat
# '(1 2, 3 4)' — so its parts split on commas, parens stripped per element
_PARTS_MPOINT = (
    "transform(split(" + _GBODY + ", ','), "
    "p -> trim(regexp_replace(p, '[()]', '')))"
)
# MULTIPOLYGON parts split on the POLYGON seams '))...((' so a polygon's
# interior rings stay inside their own part; per-part cleanup strips the
# residual outer paren pair only
_PARTS_MPOLY = (
    "transform(split(" + _GBODY + ", '\\\\)\\\\)\\\\s*,\\\\s*\\\\(\\\\('), "
    "p -> regexp_replace(regexp_replace(p, '^\\\\s*\\\\(\\\\(', ''), "
    "'\\\\)\\\\)\\\\s*$', ''))"
)

_GEO_FUNCTIONS += [
    # ST_LineFromText (GeoFunctions.java:137) — LINESTRING-only validation
    # (word-boundary anchor: 'LINESTRINGX...' must NOT pass)
    _fn(
        "st_linefromtext", "s STRING", "STRING",
        "CASE WHEN trim(s) RLIKE '^LINESTRING\\\\s*\\\\(' THEN trim(s) "
        "ELSE CAST(raise_error(concat('ST_LineFromText: not a LINESTRING: ', s)) "
        "AS STRING) END",
    ),
    # ST_Points (:793) — every vertex as a POINT, flat across parts
    _fn(
        "st_points", "g STRING", "ARRAY<STRING>",
        "transform(" + _PARTS.format(g="g")
        + ", p -> concat('POINT (', trim(p), ')'))",
    ),
    # ST_EnvelopeAsPts (:880) — [lower-left, upper-right]
    _fn(
        "st_envelopeaspts", "g STRING", "ARRAY<STRING>",
        "array(" + _point("array_min(" + _XS_G + ")", "array_min(" + _YS_G + ")")
        + ", " + _point("array_max(" + _XS_G + ")", "array_max(" + _YS_G + ")")
        + ")",
    ),
    # ST_Geometries (:684) — parts of a MULTI* (single geometry → [g])
    _fn(
        "st_geometries", "g STRING", "ARRAY<STRING>",
        "CASE WHEN " + _TYPE.format(g="g") + " = 'MULTIPOINT' THEN "
        "transform(" + _PARTS_MPOINT.format(g="g")
        + ", p -> concat('POINT (', p, ')')) "
        "WHEN " + _TYPE.format(g="g") + " = 'MULTILINESTRING' THEN "
        "transform(" + _PARTS_MULTI.format(g="g")
        + ", p -> concat('LINESTRING (', trim(p), ')')) "
        "WHEN " + _TYPE.format(g="g") + " = 'MULTIPOLYGON' THEN "
        "transform(" + _PARTS_MPOLY.format(g="g")
        + ", p -> concat('POLYGON ((', trim(p), '))')) "
        "ELSE array(g) END",
    ),
    # ST_InteriorRings (:550) / ST_InteriorRingN (:710) — polygon holes as
    # LINESTRINGs (rings 2.. of the paren-part split)
    _fn(
        "st_interiorrings", "g STRING", "ARRAY<STRING>",
        "transform(slice(" + _PARTS_MULTI.format(g="g") + ", 2, "
        "greatest(size(" + _PARTS_MULTI.format(g="g") + ") - 1, 0)), "
        "p -> concat('LINESTRING (', trim(p), ')'))",
    ),
    _fn(
        "st_interiorringn", "g STRING, n INT", "STRING",
        "CASE WHEN n >= 1 AND n <= size(" + _PARTS_MULTI.format(g="g") + ") - 1 "
        "THEN concat('LINESTRING (', trim(element_at("
        + _PARTS_MULTI.format(g="g") + ", n + 1)), ')') END",
    ),
    _fn(
        "st_numgeometries", "g STRING", "INT",
        "CAST(CASE WHEN " + _TYPE.format(g="g") + " = 'MULTIPOINT' THEN "
        "size(" + _PARTS_MPOINT.format(g="g") + ") "
        "WHEN " + _TYPE.format(g="g") + " = 'MULTIPOLYGON' THEN "
        "size(" + _PARTS_MPOLY.format(g="g") + ") "
        "WHEN " + _TYPE.format(g="g") + " LIKE 'MULTI%' THEN "
        "size(" + _PARTS_MULTI.format(g="g") + ") ELSE 1 END AS INT)",
    ),
]


# ``ST_AsBinary`` / ``ST_GeomFromBinary`` (GeoFunctions.java:261,245) for
# ARBITRARY doubles: Arrow-batched pandas UDFs over ``struct`` — a
# serialization codec (the same exception class as the BMP/WAV multimodal
# codecs), never a relational hot path. The exact-integer pure-SQL encoding
# lives in ``operators/geo.py``.
_WKB_TYPES = {"POINT": 1, "LINESTRING": 2}


def _wkt_coords(w: str) -> list[tuple[float, float]]:
    body = w[w.index("(") + 1 :].rstrip(") \t")
    return [
        (float(p.split()[0]), float(p.split()[1]))
        for p in body.replace("(", "").replace(")", "").split(",")
    ]


def _st_asbinary(col: pd.Series) -> pd.Series:
    out = []
    for w in col:
        if w is None:
            out.append(None)
            continue
        head = w.split()[0].split("(")[0].strip().upper()
        code = _WKB_TYPES.get(head)
        if code is None:
            raise ValueError(f"ST_AsBinary: unsupported geometry {head}")
        pts = _wkt_coords(w)
        if code == 1:
            out.append(struct.pack("<BI2d", 1, 1, *pts[0]))
        else:
            buf = struct.pack("<BII", 1, 2, len(pts))
            for x, y in pts:
                buf += struct.pack("<2d", x, y)
            out.append(buf)
    return pd.Series(out)


def _wkt_num(v: float) -> str:
    return str(int(v)) if v == int(v) else repr(v)


def _st_geomfrombinary(col: pd.Series) -> pd.Series:
    out = []
    for b in col:
        if b is None:
            out.append(None)
            continue
        b = bytes(b)
        (order,) = struct.unpack_from("<B", b, 0)
        fmt = "<" if order == 1 else ">"
        (code,) = struct.unpack_from(fmt + "I", b, 1)
        if code == 1:
            x, y = struct.unpack_from(fmt + "2d", b, 5)
            out.append(f"POINT ({_wkt_num(x)} {_wkt_num(y)})")
        elif code == 2:
            (n,) = struct.unpack_from(fmt + "I", b, 5)
            pts = struct.unpack_from(fmt + f"{2 * n}d", b, 9)
            body = ", ".join(
                f"{_wkt_num(pts[2 * i])} {_wkt_num(pts[2 * i + 1])}" for i in range(n)
            )
            out.append(f"LINESTRING ({body})")
        else:
            raise ValueError(f"ST_GeomFromBinary: unsupported type {code}")
    return pd.Series(out)


FUNCTIONS = {
    **sql_functions(_GEO_FUNCTIONS),
    "st_asbinary": pandas_udf(_st_asbinary, "binary"),
    "st_geomfrombinary": pandas_udf(_st_geomfrombinary, "string"),
}
