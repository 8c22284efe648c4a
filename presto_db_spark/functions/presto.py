"""Presto-compat function layer.

The reference registers its scalar library in one place
(``presto-main/.../metadata/BuiltInFunctionNamespaceManager.java:433-700``,
412 ``@ScalarFunction`` impls under ``pm/operator/scalar/``). Spark covers
almost all of it natively (SURVEY.md §2.8); this module closes the gaps:

* **Column helpers** (pure ``pyspark.sql.functions`` compositions — stay
  JVM-side / codegen'd, zero Python in the hot path) for Presto names whose
  Spark spelling differs (``strpos``, ``to_unixtime``, 1-based
  ``element_at`` is already Presto-compatible in Spark, …).
* **SQL temp functions** (Spark ``CREATE TEMPORARY FUNCTION … RETURN expr``
  — compiled by Catalyst like any expression) so Presto-flavored SQL text
  runs against :meth:`Engine.sql`.
* **Python UDFs only as a last resort** for genuinely procedural gaps
  (``word_stem``, MySQL-pattern ``date_parse``) — never used by the
  built-in operators' hot paths.

The SQL functions and UDFs are definitions in :data:`FUNCTIONS`; the
table in :mod:`.compat` registers each into a session on first reference.

Presto semantic quirks handled deliberately:
  - ``strpos`` is 1-based, 0 = not found (``pm/operator/scalar/StringFunctions.java``)
  - ``to_unixtime`` returns DOUBLE seconds (``DateTimeFunctions.java``)
  - ``date_parse``/``date_format`` use MySQL ``%`` patterns (``DateTimeFunctions.java``)
  - arrays are 1-based — matches Spark's ``element_at``/``get`` (1-based too)
"""

from __future__ import annotations

import math

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .color import (
    RENDERED_FALSE,
    RENDERED_TRUE,
    bar_py,
    color_interp,
    parse_color,
    render_py,
    rgb_int,
)
from .compat import ensure_functions, functions, python_udf, sql_functions

# ---------------------------------------------------------------------------
# Column helpers (JVM-side expressions)
# ---------------------------------------------------------------------------


def strpos(col: Column | str, sub: str) -> Column:
    """1-based position of first occurrence, 0 if absent (Presto strpos)."""
    return F.instr(F.col(col) if isinstance(col, str) else col, sub)


def to_unixtime(ts: Column) -> Column:
    """Seconds-since-epoch as DOUBLE with fractional seconds (Presto returns
    double — ``pm/operator/scalar/DateTimeFunctions.java`` to_unixtime).
    unix_micros keeps microsecond precision; unix_timestamp would truncate."""
    return F.unix_micros(ts).cast("double") / 1e6


# ---------------------------------------------------------------------------
# MySQL <-> Java datetime pattern translation (Presto date_parse/date_format)
# ---------------------------------------------------------------------------

_MYSQL_TO_JAVA = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%c": "M",
    "%d": "dd",
    "%e": "d",
    "%H": "HH",
    "%k": "H",
    "%h": "hh",
    "%i": "mm",
    "%s": "ss",
    "%f": "SSSSSS",
    "%p": "a",
    "%W": "EEEE",
    "%a": "EEE",
    "%M": "MMMM",
    "%b": "MMM",
    "%j": "DDD",
    "%T": "HH:mm:ss",
    "%%": "%",
}


def mysql_to_java_pattern(fmt: str) -> str:
    """Translate a MySQL %-pattern to a Java SimpleDateFormat pattern."""
    out: list[str] = []
    i = 0
    literal: list[str] = []

    def flush_literal() -> None:
        if literal:
            chunk = "".join(literal)
            if any(c.isalpha() for c in chunk):
                out.append("'" + chunk.replace("'", "''") + "'")
            else:
                out.append(chunk)
            literal.clear()

    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i : i + 2]
            flush_literal()
            out.append(_MYSQL_TO_JAVA.get(tok, tok[1]))
            i += 2
        else:
            literal.append(fmt[i])
            i += 1
    flush_literal()
    return "".join(out)


# Joda-Time → Java DateTimeFormatter, longest-first. The documented Joda
# subset (see _JODA_TO_PY below) is nearly identical in Java pattern space;
# the only divergent tokens are the zone offsets (Joda ZZ '+00:00' → Java
# XXX, Joda Z '+0000' → Java xx).
_JODA_TO_JAVA = [
    ("yyyy", "yyyy"), ("yy", "yy"), ("MMMM", "MMMM"), ("MMM", "MMM"),
    ("MM", "MM"), ("M", "M"), ("dd", "dd"), ("d", "d"), ("HH", "HH"),
    ("H", "H"), ("hh", "hh"), ("h", "h"), ("mm", "mm"), ("m", "m"),
    ("ss", "ss"), ("s", "s"), ("SSS", "SSS"), ("a", "a"), ("EEEE", "EEEE"),
    ("EEE", "EEE"), ("ZZ", "XXX"), ("Z", "xx"),
]


def joda_to_java_pattern(fmt: str) -> str:
    """Translate a Joda-Time pattern (Presto ``parse_datetime``,
    ``DateTimeFunctions.java``) to a Spark/Java DateTimeFormatter pattern.
    Covers the same documented subset as :func:`_joda_to_py`; unknown
    alphabetic characters are quoted so they stay literal text."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "'":  # literal quoting is identical in Java — copy span
            end = fmt.find("'", i + 1)
            end = end if end != -1 else len(fmt) - 1
            out.append(fmt[i : end + 1] if end > i else "''")
            i = end + 1
            continue
        for joda, java in _JODA_TO_JAVA:
            if fmt.startswith(joda, i):
                out.append(java)
                i += len(joda)
                break
        else:
            c = fmt[i]
            out.append("'" + c + "'" if c.isalpha() else c)
            i += 1
    return "".join(out)


def date_parse(col: Column, mysql_fmt: str) -> Column:
    """Presto ``date_parse(string, '%Y-%m-%d')`` → timestamp (JVM-side)."""
    return F.to_timestamp(col, mysql_to_java_pattern(mysql_fmt))


def date_format_mysql(col: Column, mysql_fmt: str) -> Column:
    """Presto ``date_format(ts, '%Y-%m-%d')`` → string (JVM-side)."""
    return F.date_format(col, mysql_to_java_pattern(mysql_fmt))


# ---------------------------------------------------------------------------
# Python UDFs — last-resort gaps only
# ---------------------------------------------------------------------------


def _word_stem(word: str | None) -> str | None:
    """Tiny Porter-style suffix stripper (Presto ``word_stem``,
    ``pm/operator/scalar/WordStemFunction.java`` uses Lucene; we provide a
    deterministic lightweight equivalent)."""
    if word is None:
        return None
    w = word.lower()
    for suf in ("ational", "iveness", "fulness", "ousness", "ization"):
        if w.endswith(suf) and len(w) > len(suf) + 2:
            return w[: -len(suf)]
    for suf in ("ing", "edly", "ed", "ies", "es", "s", "ly", "ment"):
        if w.endswith(suf) and len(w) > len(suf) + 2:
            return w[: -len(suf)]
    return w


def _normal_cdf(mean: float | None, sd: float | None, value: float | None) -> float | None:
    """Presto normal_cdf (``pm/operator/scalar/MathFunctions.java``)."""
    if mean is None or sd is None or value is None:
        return None
    # SQL decimal literals arrive as decimal.Decimal — coerce.
    mean, sd, value = float(mean), float(sd), float(value)
    return 0.5 * (1.0 + math.erf((value - mean) / (sd * math.sqrt(2.0))))


def _hamming_distance(a: str | None, b: str | None) -> int | None:
    if a is None or b is None:
        return None
    if len(a) != len(b):
        raise ValueError("hamming_distance: equal lengths required")
    return sum(1 for x, y in zip(a, b) if x != y)


# SQL temp functions: expression-bodied, compiled by Catalyst (no Python).
_SQL_FUNCTIONS = [
    # Presto strpos(string, substring) — 1-based, 0 when absent.
    "CREATE OR REPLACE TEMPORARY FUNCTION strpos(s STRING, sub STRING) "
    "RETURNS INT RETURN instr(s, sub)",
    # Presto to_unixtime(timestamp) -> double seconds.
    "CREATE OR REPLACE TEMPORARY FUNCTION to_unixtime(ts TIMESTAMP) "
    "RETURNS DOUBLE RETURN cast(unix_micros(ts) as double) / 1e6",
    # Presto from_unixtime(double) -> timestamp.
    "CREATE OR REPLACE TEMPORARY FUNCTION presto_from_unixtime(s DOUBLE) "
    "RETURNS TIMESTAMP RETURN timestamp_micros(cast(s * 1e6 as bigint))",
    # Presto truncate(double) -> integer part toward zero (MathFunctions.java).
    "CREATE OR REPLACE TEMPORARY FUNCTION presto_truncate(x DOUBLE) "
    "RETURNS DOUBLE RETURN cast(cast(x as long) as double)",
    # Presto index/cardinality-style helpers already native in Spark.
    # url_extract_* family over parse_url (UrlFunctions.java).
    "CREATE OR REPLACE TEMPORARY FUNCTION url_extract_protocol(u STRING) "
    "RETURNS STRING RETURN parse_url(u, 'PROTOCOL')",
    "CREATE OR REPLACE TEMPORARY FUNCTION url_extract_host(u STRING) "
    "RETURNS STRING RETURN parse_url(u, 'HOST')",
    "CREATE OR REPLACE TEMPORARY FUNCTION url_extract_path(u STRING) "
    "RETURNS STRING RETURN parse_url(u, 'PATH')",
    "CREATE OR REPLACE TEMPORARY FUNCTION url_extract_query(u STRING) "
    "RETURNS STRING RETURN parse_url(u, 'QUERY')",
    # Teradata-compat strings (presto-teradata-functions/.../
    # TeradataStringFunctions.java:40 index, :109 char2hexint).
    "CREATE OR REPLACE TEMPORARY FUNCTION index(s STRING, sub STRING) "
    "RETURNS INT RETURN instr(s, sub)",
    "CREATE OR REPLACE TEMPORARY FUNCTION char2hexint(s STRING) "
    "RETURNS STRING RETURN upper(hex(encode(s, 'UTF-16BE')))",
    # String / binary aliases (StringFunctions.java, VarbinaryFunctions.java).
    "CREATE OR REPLACE TEMPORARY FUNCTION split_to_map(s STRING, ed STRING, kd STRING) "
    "RETURNS MAP<STRING, STRING> RETURN str_to_map(s, ed, kd)",
    "CREATE OR REPLACE TEMPORARY FUNCTION codepoint(s STRING) "
    "RETURNS INT RETURN ascii(s)",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_utf8(s STRING) "
    "RETURNS BINARY RETURN encode(s, 'UTF-8')",
    "CREATE OR REPLACE TEMPORARY FUNCTION from_utf8(b BINARY) "
    "RETURNS STRING RETURN decode(b, 'UTF-8')",
    # Bitwise shift names (BitwiseFunctions.java).
    "CREATE OR REPLACE TEMPORARY FUNCTION bitwise_left_shift(x BIGINT, n INT) "
    "RETURNS BIGINT RETURN shiftleft(x, n)",
    "CREATE OR REPLACE TEMPORARY FUNCTION bitwise_arithmetic_shift_right(x BIGINT, n INT) "
    "RETURNS BIGINT RETURN shiftright(x, n)",
    "CREATE OR REPLACE TEMPORARY FUNCTION bitwise_logical_shift_right(x BIGINT, n INT) "
    "RETURNS BIGINT RETURN shiftrightunsigned(x, n)",
    # JSON classification (JsonFunctions.java is_json_scalar,
    # json_array_contains string form; json_parse/json_format/json_extract/
    # json_size are JVM variant expressions below — our JSON type model IS
    # the string, canonicalized the way the reference canonicalizes).
    "CREATE OR REPLACE TEMPORARY FUNCTION is_json_scalar(j STRING) "
    "RETURNS BOOLEAN RETURN get_json_object(j, '$') IS NOT NULL "
    "AND NOT (startswith(ltrim(j), '[') OR startswith(ltrim(j), '{'))",
    "CREATE OR REPLACE TEMPORARY FUNCTION json_array_contains(j STRING, v STRING) "
    "RETURNS BOOLEAN RETURN exists(from_json(j, 'array<string>'), x -> x = v)",
    # ISO-8601 family (DateTimeFunctions.java from_iso8601_*, to_iso8601).
    "CREATE OR REPLACE TEMPORARY FUNCTION from_iso8601_timestamp(s STRING) "
    "RETURNS TIMESTAMP RETURN to_timestamp(s)",
    "CREATE OR REPLACE TEMPORARY FUNCTION from_iso8601_date(s STRING) "
    "RETURNS DATE RETURN to_date(s)",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_iso8601(ts TIMESTAMP) "
    "RETURNS STRING RETURN date_format(ts, \"yyyy-MM-dd'T'HH:mm:ss.SSS\")",
    # Presto day_of_week (ISO: 1=Monday..7=Sunday) and year_of_week (ISO
    # week-year) — Spark's extract() has both fields natively.
    "CREATE OR REPLACE TEMPORARY FUNCTION day_of_week(ts TIMESTAMP) "
    "RETURNS INT RETURN CAST(extract(dayofweek_iso FROM ts) AS INT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION dow(ts TIMESTAMP) "
    "RETURNS INT RETURN CAST(extract(dayofweek_iso FROM ts) AS INT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION day_of_year(ts TIMESTAMP) "
    "RETURNS INT RETURN CAST(dayofyear(ts) AS INT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION doy(ts TIMESTAMP) "
    "RETURNS INT RETURN CAST(dayofyear(ts) AS INT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION year_of_week(ts TIMESTAMP) "
    "RETURNS INT RETURN CAST(extract(yearofweek FROM ts) AS INT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION yow(ts TIMESTAMP) "
    "RETURNS INT RETURN CAST(extract(yearofweek FROM ts) AS INT)",
    # parse_duration('2.5m') -> seconds as DOUBLE (DateTimeFunctions.java
    # parse_duration returns interval; seconds is the zone-free scalar form).
    # A missing/unknown unit raises, matching the reference's PrestoException
    # (io.airlift.units.Duration accepts ns..d only) instead of silent NULL.
    "CREATE OR REPLACE TEMPORARY FUNCTION parse_duration(s STRING) "
    "RETURNS DOUBLE RETURN CASE WHEN s IS NULL THEN CAST(NULL AS DOUBLE) "
    # full-string anchor: number immediately followed (optional ws) by a known
    # unit; anything else — exponents ('1.5e2s'), embedded digits, garbage —
    # raises like airlift Duration's IllegalArgumentException.
    "WHEN trim(s) NOT RLIKE '^[0-9]*\\\\.?[0-9]+\\\\s*(ns|us|ms|s|m|h|d)$' "
    "THEN CAST(raise_error(concat('parse_duration: invalid duration ', s)) "
    "AS DOUBLE) ELSE "
    "CAST(regexp_extract(trim(s), '^([0-9]*\\\\.?[0-9]+)', 1) AS DOUBLE) * "
    "CASE regexp_extract(trim(s), '([a-z]+)$', 1) "
    "  WHEN 'ns' THEN 1e-9 WHEN 'us' THEN 1e-6 WHEN 'ms' THEN 1e-3 "
    "  WHEN 's' THEN 1.0 WHEN 'm' THEN 60.0 WHEN 'h' THEN 3600.0 "
    "  WHEN 'd' THEN 86400.0 END END",
    # Presto at_timezone(ts, tz) — Spark timestamps are zone-less instants,
    # so the observable display-zone change is the wall-clock shift
    # (operators/timetypes.py documents the full time/timetz model).
    "CREATE OR REPLACE TEMPORARY FUNCTION at_timezone(ts TIMESTAMP, tz STRING) "
    "RETURNS TIMESTAMP RETURN CAST(convert_timezone('UTC', tz, ts) AS TIMESTAMP)",
    "CREATE OR REPLACE TEMPORARY FUNCTION url_extract_parameter(u STRING, p STRING) "
    "RETURNS STRING RETURN parse_url(u, 'QUERY', p)",
    "CREATE OR REPLACE TEMPORARY FUNCTION url_extract_fragment(u STRING) "
    "RETURNS STRING RETURN parse_url(u, 'REF')",
    # json helpers with Presto names (JsonFunctions.java).
    "CREATE OR REPLACE TEMPORARY FUNCTION json_extract_scalar(j STRING, p STRING) "
    "RETURNS STRING RETURN get_json_object(j, p)",
    # Presto json_extract returns the JSON *text* at the path — for a string
    # scalar that is the quoted form ('\"b\"') and for JSON null the text
    # 'null', unlike get_json_object/json_extract_scalar which unquote
    # (JsonFunctions.java json_extract → JsonExtract.ObjectExtractor, vs
    # json_extract_scalar → ScalarValueJsonExtractor). Spark's variant type
    # round-trips exactly those semantics as a JVM expression: missing path
    # → SQL NULL, JSON null → 'null', strings re-quoted, objects/arrays
    # canonical-compact.
    "CREATE OR REPLACE TEMPORARY FUNCTION json_extract(j STRING, p STRING) "
    "RETURNS STRING RETURN to_json(try_variant_get(try_parse_json(j), p))",
    # json_array_get returns JSON text and supports negative (from-end)
    # indices (JsonFunctions.java json_array_get).
    "CREATE OR REPLACE TEMPORARY FUNCTION json_array_get(j STRING, i BIGINT) "
    "RETURNS STRING RETURN to_json(try_variant_get(try_parse_json(j), "
    "concat('$[', CAST(CASE WHEN i < 0 THEN json_array_length(j) + i ELSE i END "
    "AS STRING), ']')))",
    # json_size: member count of the object/array at the path, 0 for a
    # scalar, NULL for a missing path (JsonFunctions.java json_size). The
    # variant path extractor is a real JsonPath parser, so malformed paths
    # raise instead of silently truncating.
    "CREATE OR REPLACE TEMPORARY FUNCTION json_size(j STRING, p STRING) "
    "RETURNS BIGINT RETURN "
    "CASE WHEN to_json(try_variant_get(try_parse_json(j), p)) IS NULL THEN NULL "
    "WHEN startswith(to_json(try_variant_get(try_parse_json(j), p)), '[') "
    "THEN json_array_length(to_json(try_variant_get(try_parse_json(j), p))) "
    "WHEN startswith(to_json(try_variant_get(try_parse_json(j), p)), '{') "
    "THEN size(json_object_keys(to_json(try_variant_get(try_parse_json(j), p)))) "
    "ELSE 0 END",
    # json_parse canonicalizes — object keys SORTED, compact separators —
    # exactly the reference's SORTED_MAPPER contract ('ordered by key is
    # required in Presto', JsonUtil.java:99-101; jsonParse at
    # JsonFunctions.java:140). Malformed input raises (PrestoException
    # INVALID_FUNCTION_ARGUMENT in the reference; parse_json here).
    "CREATE OR REPLACE TEMPORARY FUNCTION json_parse(j STRING) "
    "RETURNS STRING RETURN to_json(parse_json(j))",
    # json_format serializes a JSON value; on the string model it is the
    # same canonicalization with NULL for malformed input (the reference's
    # jsonFormat is the identity over an already-canonical JSON slice).
    "CREATE OR REPLACE TEMPORARY FUNCTION json_format(j STRING) "
    "RETURNS STRING RETURN to_json(try_parse_json(j))",
    # cosine_similarity over dense float arrays (extension form).
    "CREATE OR REPLACE TEMPORARY FUNCTION cosine_similarity_dense(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) "
    "RETURNS DOUBLE RETURN "
    "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (s, v) -> s + v) / "
    "(sqrt(aggregate(a, cast(0.0 as double), (s, v) -> s + v * v)) * "
    " sqrt(aggregate(b, cast(0.0 as double), (s, v) -> s + v * v)))",
    # cosine_similarity over SPARSE maps — the reference's native form
    # (MathFunctions.java cosineSimilarity(map, map)): dot over the key
    # intersection, norms over each map's values.
    "CREATE OR REPLACE TEMPORARY FUNCTION cosine_similarity"
    "(a MAP<STRING, DOUBLE>, b MAP<STRING, DOUBLE>) RETURNS DOUBLE RETURN "
    "aggregate(map_keys(a), cast(0.0 as double), "
    " (s, k) -> s + element_at(a, k) * coalesce(element_at(b, k), cast(0.0 as double))) / "
    "(sqrt(aggregate(map_values(a), cast(0.0 as double), (s, v) -> s + v * v)) * "
    " sqrt(aggregate(map_values(b), cast(0.0 as double), (s, v) -> s + v * v)))",
    # MathFunctions.java nan()/infinity()/is_finite/is_infinite.
    "CREATE OR REPLACE TEMPORARY FUNCTION nan() RETURNS DOUBLE "
    "RETURN CAST('NaN' AS DOUBLE)",
    "CREATE OR REPLACE TEMPORARY FUNCTION infinity() RETURNS DOUBLE "
    "RETURN CAST('Infinity' AS DOUBLE)",
    "CREATE OR REPLACE TEMPORARY FUNCTION is_finite(x DOUBLE) RETURNS BOOLEAN "
    "RETURN NOT isnan(x) AND abs(x) <> CAST('Infinity' AS DOUBLE)",
    "CREATE OR REPLACE TEMPORARY FUNCTION is_infinite(x DOUBLE) RETURNS BOOLEAN "
    "RETURN abs(x) = CAST('Infinity' AS DOUBLE)",
    # StringFunctions.java strrpos: 1-based position of the LAST occurrence
    # (0 when absent) — found by searching the reversed strings.
    "CREATE OR REPLACE TEMPORARY FUNCTION strrpos(s STRING, sub STRING) "
    "RETURNS BIGINT RETURN CASE "
    "WHEN length(sub) = 0 THEN length(s) + 1 "
    "WHEN position(reverse(sub), reverse(s)) = 0 THEN 0 "
    "ELSE length(s) - position(reverse(sub), reverse(s)) - length(sub) + 2 END",
]


_MYSQL_TO_PY = {
    "%Y": "%Y", "%y": "%y", "%m": "%m", "%c": "%m", "%d": "%d", "%e": "%d",
    "%H": "%H", "%k": "%H", "%h": "%I", "%i": "%M", "%s": "%S", "%f": "%f",
    "%p": "%p", "%W": "%A", "%a": "%a", "%M": "%B", "%b": "%b", "%j": "%j",
    "%T": "%H:%M:%S", "%%": "%%",
}


def _mysql_to_py_pattern(fmt: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            out.append(_MYSQL_TO_PY.get(fmt[i : i + 2], fmt[i + 1]))
            i += 2
        else:
            out.append(fmt[i].replace("%", "%%"))
            i += 1
    return "".join(out)


def _date_parse_py(s: str | None, fmt: str | None):
    """SQL-callable date_parse with runtime (non-literal) MySQL patterns.

    Hot paths should use the :func:`date_parse` column helper (pure JVM
    expression via pattern translation at plan time); this row-at-a-time
    UDF exists for full SQL-surface parity (``DateTimeFunctions.java``
    date_parse), where the format can be a column.
    """
    import datetime

    if s is None or fmt is None:
        return None
    return datetime.datetime.strptime(s, _mysql_to_py_pattern(fmt))


def _date_format_py(ts, fmt: str | None):
    if ts is None or fmt is None:
        return None
    return ts.strftime(_mysql_to_py_pattern(fmt))


# Joda-Time pattern → strptime, longest-first (DateTimeFunctions.java
# parse_datetime uses Joda DateTimeFormat). Documented subset: date/time
# fields + literal text; no era/week-year.
_JODA_TO_PY = [
    ("yyyy", "%Y"), ("yy", "%y"), ("MMMM", "%B"), ("MMM", "%b"), ("MM", "%m"),
    ("M", "%m"), ("dd", "%d"), ("d", "%d"), ("HH", "%H"), ("H", "%H"),
    ("hh", "%I"), ("h", "%I"), ("mm", "%M"), ("m", "%M"), ("ss", "%S"),
    ("s", "%S"), ("SSS", "%f"), ("a", "%p"), ("EEEE", "%A"), ("EEE", "%a"),
    ("ZZ", "%z"), ("Z", "%z"),
]


def _joda_to_py(fmt: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "'":  # Joda literal quoting: 'T', '' = literal quote
            end = fmt.find("'", i + 1)
            if end == i + 1:
                out.append("'")
                i += 2
                continue
            out.append(fmt[i + 1 : end if end != -1 else len(fmt)].replace("%", "%%"))
            i = (end if end != -1 else len(fmt)) + 1
            continue
        for joda, py in _JODA_TO_PY:
            if fmt.startswith(joda, i):
                out.append(py)
                i += len(joda)
                break
        else:
            ch = fmt[i]
            if ch.isascii() and ch.isalpha():
                # same contract as the format direction: an unquoted
                # pattern letter outside the supported table raises
                # (Joda's IllegalArgumentException) instead of silently
                # matching the raw letter as literal input text
                n = 1
                while i + n < len(fmt) and fmt[i + n] == ch:
                    n += 1
                raise ValueError(f"Illegal pattern component: {ch * n}")
            out.append(ch.replace("%", "%%"))
            i += 1
    return "".join(out)


def _parse_datetime_py(s: str | None, fmt: str | None):
    """Presto parse_datetime(string, joda_format) — documented Joda subset."""
    import datetime

    if s is None or fmt is None:
        return None
    return datetime.datetime.strptime(s, _joda_to_py(fmt))


_MONTHS = ["January", "February", "March", "April", "May", "June", "July",
           "August", "September", "October", "November", "December"]
_DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
         "Saturday", "Sunday"]

# Format-direction Joda fields with JODA WIDTH SEMANTICS (single letter =
# no padding — 'M/d' renders 2/3, matching what the literal path's JVM
# date_format produces; strftime cannot express unpadded or 3-digit-milli
# fields portably, so this is a direct field walker, not a strftime map).
# The walker consumes RUNS of the same pattern letter (Joda semantics:
# repeat count = minimum width for numeric fields, style selector for
# text fields) over the FULL Joda alphabet (DateTimeFormat.java) — an
# unquoted ASCII letter outside the alphabet raises, mirroring Joda's
# IllegalArgumentException, so this fallback can never silently emit a
# pattern letter as literal text where the JVM literal-rewrite path
# would have failed or formatted it.
def _joda_render_field(letter: str, n: int, t) -> str:
    if letter in ("y", "Y"):  # year / year-of-era (equal for CE years)
        return f"{t.year % 100:02d}" if n == 2 else f"{t.year:0{n}d}"
    if letter == "x":  # weekyear (ISO)
        wy = t.isocalendar()[0]
        return f"{wy % 100:02d}" if n == 2 else f"{wy:0{n}d}"
    if letter == "w":  # week of weekyear (ISO)
        return f"{t.isocalendar()[1]:0{n}d}"
    if letter == "M":
        if n >= 4:
            return _MONTHS[t.month - 1]
        if n == 3:
            return _MONTHS[t.month - 1][:3]
        return f"{t.month:0{n}d}"
    if letter == "d":
        return f"{t.day:0{n}d}"
    if letter == "D":  # day of year
        return f"{t.timetuple().tm_yday:0{n}d}"
    if letter == "e":  # day of week numeric, Monday=1
        return f"{t.weekday() + 1:0{n}d}"
    if letter == "E":
        return _DAYS[t.weekday()] if n >= 4 else _DAYS[t.weekday()][:3]
    if letter == "H":  # hour of day 0-23
        return f"{t.hour:0{n}d}"
    if letter == "k":  # clockhour of day 1-24
        return f"{t.hour or 24:0{n}d}"
    if letter == "h":  # clockhour of halfday 1-12
        return f"{(t.hour % 12) or 12:0{n}d}"
    if letter == "K":  # hour of halfday 0-11
        return f"{t.hour % 12:0{n}d}"
    if letter == "m":
        return f"{t.minute:0{n}d}"
    if letter == "s":
        return f"{t.second:0{n}d}"
    if letter == "S":  # fraction of second, n digits
        return f"{t.microsecond:06d}"[:n].ljust(n, "0")
    if letter == "a":
        return "AM" if t.hour < 12 else "PM"
    if letter == "G":  # era (proleptic CE only in this model)
        return "AD"
    if letter == "C":  # century of era
        return f"{t.year // 100:0{n}d}"
    if letter == "z":  # zone name — zone-less instants carry session UTC
        return "UTC"
    if letter == "Z":  # zone offset; ZZ = colon form (Joda)
        return "+00:00" if n >= 2 else "+0000"
    raise ValueError(f"Illegal pattern component: {letter * n}")


def _format_datetime_py(ts, fmt: str | None):
    """Presto format_datetime(timestamp, joda_format) — the output mirror
    of parse_datetime (DateTimeFunctions.java formatDatetime). Literal
    Joda formats are rewritten to JVM ``date_format`` by the dialect pass
    (`_LITERAL_FORMAT_REWRITES`); this UDF is the non-literal fallback and
    walks the Joda fields directly so widths match the literal path
    (strftime would zero-pad single-letter fields and cannot emit
    3-digit milliseconds). Unknown pattern letters raise (Joda's
    IllegalArgumentException contract) instead of leaking literal text."""
    if ts is None or fmt is None:
        return None
    out: list[str] = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "'":  # Joda literal quoting: 'T', '' = literal quote
            end = fmt.find("'", i + 1)
            if end == i + 1:
                out.append("'")
                i += 2
                continue
            out.append(fmt[i + 1 : end if end != -1 else len(fmt)])
            i = (end if end != -1 else len(fmt)) + 1
            continue
        if ch.isascii() and ch.isalpha():
            n = 1
            while i + n < len(fmt) and fmt[i + n] == ch:
                n += 1
            out.append(_joda_render_field(ch, n, ts))
            i += n
            continue
        out.append(ch)
        i += 1
    return "".join(out)


# Teradata-compat date tokens (presto-teradata-functions/.../dateformat/
# DateFormatParser.java:34-66): YYYY YY MM DD HH24 HH MI SS + literal text.
_TD_TOKENS = [
    ("YYYY", "%Y"), ("YY", "%y"), ("MM", "%m"), ("DD", "%d"),
    ("HH24", "%H"), ("HH", "%I"), ("MI", "%M"), ("SS", "%S"),
]


def _td_to_py(fmt: str) -> str:
    out: list[str] = []
    i = 0
    up = fmt.upper()
    while i < len(fmt):
        for tok, py in _TD_TOKENS:
            if up.startswith(tok, i):
                out.append(py)
                i += len(tok)
                break
        else:
            out.append(fmt[i].replace("%", "%%"))
            i += 1
    return "".join(out)


def _td_to_char(ts, fmt: str | None):
    """Teradata to_char(timestamp, fmt)
    (``presto-teradata-functions/.../TeradataDateFunctions.java:63``).
    Registered as ``to_char_td`` — a UDF named ``to_char`` would shadow
    Spark's native numeric ``to_char(expr, fmt)`` for the whole session,
    the same no-shadowing rule that suffixed to_timestamp_td/to_date_td."""
    if ts is None or fmt is None:
        return None
    return ts.strftime(_td_to_py(fmt))


def _td_to_timestamp(s: str | None, fmt: str | None):
    """Teradata to_timestamp(string, fmt) (TeradataDateFunctions.java:94).
    Registered as ``to_timestamp_td`` so Spark's native 1-arg to_timestamp
    keeps resolving (a UDF would shadow the builtin for ALL arities)."""
    import datetime

    if s is None or fmt is None:
        return None
    return datetime.datetime.strptime(s, _td_to_py(fmt))


def _td_to_date(s: str | None, fmt: str | None):
    """Teradata to_date(string, fmt) (TeradataDateFunctions.java:78)."""
    out = _td_to_timestamp(s, fmt)
    return out.date() if out is not None else None


# DataSizeFunctions.java parse_presto_data_size: leading digits/dots are
# the value (BigDecimal), the exact-case remainder is the unit (B..YB,
# powers of 1024), result truncated toward zero as decimal(38,0). Python
# ints/Decimal reproduce the reference's arbitrary-precision math exactly
# (a pure-expression form would overflow DECIMAL(38) intermediates at YB).
_DS_FACTORS = {
    "B": 1, "kB": 1 << 10, "MB": 1 << 20, "GB": 1 << 30, "TB": 1 << 40,
    "PB": 1 << 50, "EB": 1 << 60, "ZB": 1 << 70, "YB": 1 << 80,
}


def _parse_presto_data_size(s: str | None):
    import decimal

    if s is None:
        return None
    i = 0
    while i < len(s) and s[i] in "0123456789.":
        i += 1
    if i == 0:
        raise ValueError(f"Invalid data size: '{s}'")
    try:
        value = decimal.Decimal(s[:i])
    except decimal.InvalidOperation:
        raise ValueError(f"Invalid data size: '{s}'") from None
    factor = _DS_FACTORS.get(s[i:])
    if factor is None:
        raise ValueError(f"Invalid data size: '{s}'")
    return decimal.Decimal(int(value * factor))


# ColorFunctions.java surface — paste-compat SQL names with the reference's
# overloads (ColorFunctions.java:85-186). The color type is its bigint
# encoding (rgb >= 0, system colors negative), matching the reference's
# ColorType long representation.
def _color(a, b=None, c=None, d=None, e=None):
    if b is None:
        return parse_color(a)
    if d is None:  # color(fraction, lowColor, highColor)
        return color_interp(float(a), int(b), int(c))
    # color(value, low, high, lowColor, highColor)
    return color_interp(
        (float(a) - float(b)) / (float(c) - float(b)), int(d), int(e)
    )


def _render(v, c=None):
    if c is None:
        return RENDERED_TRUE if v else RENDERED_FALSE
    if isinstance(v, float):  # Java Double.toString: always a decimal point
        v = repr(v)
    return render_py(str(v), int(c))


def _bar(p, w, lo=0xFF0000, hi=0x00FF00):
    return bar_py(p, int(w), int(lo), int(hi))


FUNCTIONS = {
    **sql_functions(_SQL_FUNCTIONS),
    "word_stem": python_udf(_word_stem, T.StringType()),
    "normal_cdf": python_udf(_normal_cdf, T.DoubleType()),
    "hamming_distance": python_udf(_hamming_distance, T.LongType()),
    "date_parse": python_udf(_date_parse_py, T.TimestampType()),
    "date_format_mysql": python_udf(_date_format_py, T.StringType()),
    "to_char_td": python_udf(_td_to_char, T.StringType()),
    "to_timestamp_td": python_udf(_td_to_timestamp, T.TimestampType()),
    "to_date_td": python_udf(_td_to_date, T.DateType()),
    "parse_datetime": python_udf(_parse_datetime_py, T.TimestampType()),
    "format_datetime": python_udf(_format_datetime_py, T.StringType()),
    "parse_presto_data_size": python_udf(_parse_presto_data_size, T.DecimalType(38, 0)),
    "color": python_udf(_color, T.LongType()),
    "rgb": python_udf(rgb_int, T.LongType()),
    "render": python_udf(_render, T.StringType()),
    "bar": python_udf(_bar, T.StringType()),
}


def register_presto_functions(spark: SparkSession) -> None:
    """Register the whole compat table (every module's functions) into the
    session — for listings such as SHOW FUNCTIONS. Queries need not call
    it: the engine registers the names a statement references."""
    ensure_functions(spark, functions())
