"""Late scalar-surface stragglers — every remaining name from the
reference's scalar registry probe (``operator/scalar/*.java``
``@ScalarFunction`` names) made SQL-callable through ``Engine.sql``.

Mechanism choice per function:

* **SQL temp functions** (JVM expressions, codegen'd) wherever Spark has
  the building blocks — base64/hex/big-endian spellings, bitwise ops,
  sha2 wrappers, wilson intervals, url port.
* **Python UDFs** only for procedural scalars with no JVM expression
  form (HMAC, FNV, IEEE754 bit views, unicode normalize, ip prefix
  arithmetic, beta distribution CDFs). None of these sit in analytic
  hot paths — they are spelling-compat for pasted Presto SQL.
* **Dialect templates** (``functions/dialect.py``) for the forms that
  need argument rewriting (``fail`` → ``raise_error``, keyword-arg
  ``normalize``, ``multimap_from_entries`` on ROW() arrays).

Reference files: ``VarbinaryFunctions.java`` (base64/hex/big-endian/
ieee754/hmac/fnv/spooky), ``BitwiseFunctions.java``, ``MathFunctions
.java`` (beta_cdf/inverse_*, wilson), ``StringFunctions.java``
(normalize/split_to_multimap), ``IpPrefixFunctions.java``,
``CombineHashFunction.java``, ``UrlFunctions.java``.

Documented non-registrations: ``spooky_hash_v2_*`` (nonstandard 128-bit
mix, no consumer in the corpus), ``empty_approx_set``/``merge_hll``
(HLL sketch VALUES are served by the Spark-native ``hll_sketch_agg`` /
``hll_union`` family in ``operators/sketch.py``; ``combinations`` is a
type-generic dialect template — ``_COMBINATIONS_TEMPLATE`` in
``dialect.py``).  ``timezone_hour``/``timezone_minute`` are registered
with SESSION-zone semantics (the retained-zone form needs a
timestamp-with-time-zone type — the documented model gap in
``operators/timetypes.py``; for zone-less literals the session-zone
offset is exactly the reference's answer).
"""

from __future__ import annotations

import hashlib
import hmac as _hmac
import ipaddress
import math
import struct
import unicodedata

from pyspark.sql import types as T

from .compat import python_udf, sql_functions

SQL_FUNCTIONS_2 = [
    # BitwiseFunctions.java (two's-complement 64-bit, like Java longs).
    "CREATE OR REPLACE TEMPORARY FUNCTION bitwise_and(x BIGINT, y BIGINT) "
    "RETURNS BIGINT RETURN x & y",
    "CREATE OR REPLACE TEMPORARY FUNCTION bitwise_or(x BIGINT, y BIGINT) "
    "RETURNS BIGINT RETURN x | y",
    "CREATE OR REPLACE TEMPORARY FUNCTION bitwise_xor(x BIGINT, y BIGINT) "
    "RETURNS BIGINT RETURN x ^ y",
    "CREATE OR REPLACE TEMPORARY FUNCTION bitwise_not(x BIGINT) "
    "RETURNS BIGINT RETURN ~x",
    "CREATE OR REPLACE TEMPORARY FUNCTION bitwise_shift_left(x BIGINT, s BIGINT) "
    "RETURNS BIGINT RETURN shiftleft(x, cast(s AS INT))",
    # VarbinaryFunctions.java base64/hex family.
    "CREATE OR REPLACE TEMPORARY FUNCTION to_base64(b BINARY) "
    "RETURNS STRING RETURN base64(b)",
    "CREATE OR REPLACE TEMPORARY FUNCTION from_base64(s STRING) "
    "RETURNS BINARY RETURN unbase64(s)",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_base64url(b BINARY) "
    "RETURNS STRING RETURN translate(base64(b), '+/', '-_')",
    "CREATE OR REPLACE TEMPORARY FUNCTION from_base64url(s STRING) "
    "RETURNS BINARY RETURN unbase64(translate(s, '-_', '+/'))",
    "CREATE OR REPLACE TEMPORARY FUNCTION to_hex(b BINARY) "
    "RETURNS STRING RETURN hex(b)",
    "CREATE OR REPLACE TEMPORARY FUNCTION from_hex(s STRING) "
    "RETURNS BINARY RETURN unhex(s)",
    # sha256/sha512 return VARBINARY in Presto; sha2 emits hex text.
    "CREATE OR REPLACE TEMPORARY FUNCTION sha256(b BINARY) "
    "RETURNS BINARY RETURN unhex(sha2(b, 256))",
    "CREATE OR REPLACE TEMPORARY FUNCTION sha512(b BINARY) "
    "RETURNS BINARY RETURN unhex(sha2(b, 512))",
    # WilsonInterval.java (closed form; z = zScore).
    "CREATE OR REPLACE TEMPORARY FUNCTION wilson_interval_lower("
    "s BIGINT, n BIGINT, z DOUBLE) RETURNS DOUBLE RETURN "
    "(s + z*z/2) / (n + z*z) - z / (n + z*z) * sqrt(s * (n - s) / n + z*z/4)",
    "CREATE OR REPLACE TEMPORARY FUNCTION wilson_interval_upper("
    "s BIGINT, n BIGINT, z DOUBLE) RETURNS DOUBLE RETURN "
    "(s + z*z/2) / (n + z*z) + z / (n + z*z) * sqrt(s * (n - s) / n + z*z/4)",
    # UrlFunctions.java url_extract_port (null when absent).
    "CREATE OR REPLACE TEMPORARY FUNCTION url_extract_port(u STRING) "
    "RETURNS BIGINT RETURN cast(nullif(regexp_extract("
    "parse_url(u, 'AUTHORITY'), ':([0-9]+)$', 1), '') AS BIGINT)",
    # DateTimeFunctions.java week_of_year alias (= week = weekofyear).
    "CREATE OR REPLACE TEMPORARY FUNCTION week_of_year(x DATE) "
    "RETURNS INT RETURN weekofyear(x)",
    # DateTimeFunctions.java timezone_hour/minute: the reference reads the
    # RETAINED zone of a timestamp-with-time-zone value; Spark timestamps
    # are zone-less instants (documented model, operators/timetypes.py),
    # so these return the SESSION zone's offset at that instant — exactly
    # what the reference gives for a zone-less timestamp literal.
    "CREATE OR REPLACE TEMPORARY FUNCTION timezone_hour(x TIMESTAMP) "
    "RETURNS BIGINT RETURN CAST((to_unix_timestamp(x) - "
    "to_unix_timestamp(to_utc_timestamp(x, current_timezone()))) div 3600 "
    "AS BIGINT)",
    "CREATE OR REPLACE TEMPORARY FUNCTION timezone_minute(x TIMESTAMP) "
    "RETURNS BIGINT RETURN CAST(((to_unix_timestamp(x) - "
    "to_unix_timestamp(to_utc_timestamp(x, current_timezone()))) % 3600) "
    "div 60 AS BIGINT)",
]


# --- procedural scalars ------------------------------------------------------

def _combine_hash(a, b):
    """CombineHashFunction.java: 31*h + v with Java long wraparound
    (Spark bigint arithmetic is ANSI here — it would raise on overflow)."""
    if a is None or b is None:
        return None
    v = (31 * int(a) + int(b)) & 0xFFFFFFFFFFFFFFFF
    return v - (1 << 64) if v >= (1 << 63) else v


def _fnv(data, basis: int, prime: int, bits: int, a_variant: bool):
    if data is None:
        return None
    mask = (1 << bits) - 1
    h = basis
    for byte in bytes(data):
        if a_variant:
            h = ((h ^ byte) * prime) & mask
        else:
            h = ((h * prime) & mask) ^ byte
    if bits == 64 and h >= (1 << 63):
        h -= 1 << 64
    if bits == 32 and h >= (1 << 31):
        h -= 1 << 32
    return h


def _ieee754_from_64(b):
    return None if b is None else struct.unpack(">d", bytes(b))[0]


def _ieee754_to_64(x):
    return None if x is None else struct.pack(">d", float(x))


def _ieee754_from_32(b):
    return None if b is None else float(struct.unpack(">f", bytes(b))[0])


def _ieee754_to_32(x):
    return None if x is None else struct.pack(">f", float(x))


def _big_endian(fmt: str):
    def from_(b):
        return None if b is None else struct.unpack(fmt, bytes(b))[0]

    def to_(x):
        return None if x is None else struct.pack(fmt, int(x))

    return from_, to_


def _hmac_fn(algo: str):
    def f(b, key):
        if b is None or key is None:
            return None
        return _hmac.new(bytes(key), bytes(b), getattr(hashlib, algo)).digest()

    return f


def _normalize_form(s, form):
    if s is None:
        return None
    return unicodedata.normalize((form or "NFC").upper(), s)


def _split_to_multimap(s, entry_delim, kv_delim):
    if s is None:
        return None
    out: dict[str, list[str]] = {}
    for entry in s.split(entry_delim):
        k, _, v = entry.partition(kv_delim)
        out.setdefault(k, []).append(v)
    return out


# Regularized incomplete beta I_x(a,b) by Lentz continued fraction —
# standard public algorithm (same math MathFunctions.java delegates to
# commons-math BetaDistribution).
def _betacf(a: float, b: float, x: float) -> float:
    tiny = 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    if abs(d) < tiny:
        d = tiny
    d = 1.0 / d
    h = d
    for m in range(1, 300):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < tiny:
            d = tiny
        c = 1.0 + aa / c
        if abs(c) < tiny:
            c = tiny
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < 1e-15:
            break
    return h


def _beta_cdf(a, b, x):
    if a is None or b is None or x is None:
        return None
    a, b, x = float(a), float(b), float(x)
    if not (a > 0 and b > 0):
        raise ValueError("alpha and beta must be > 0")
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    front = math.exp(a * math.log(x) + b * math.log(1.0 - x) - ln_beta)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def _inverse_beta_cdf(a, b, p):
    if a is None or b is None or p is None:
        return None
    p = float(p)
    if not (0.0 <= p <= 1.0):
        raise ValueError("p must be in [0, 1]")
    lo, hi = 0.0, 1.0
    for _ in range(200):
        mid = (lo + hi) / 2.0
        if _beta_cdf(a, b, mid) < p:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2.0


def _inverse_normal_cdf(mean, sd, p):
    """Acklam's rational approximation + one Halley refinement — the
    standard public inverse-normal algorithm (~1e-15 relative)."""
    if mean is None or sd is None or p is None:
        return None
    p = float(p)
    if not (0.0 < p < 1.0):
        raise ValueError("p must be in (0, 1)")
    a = (-3.969683028665376e+01, 2.209460984245205e+02, -2.759285104469687e+02,
         1.383577518672690e+02, -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02, -1.556989798598866e+02,
         6.680131188771972e+01, -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e+00,
         -2.549732539343734e+00, 4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e+00,
         3.754408661907416e+00)
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        x = (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / \
            ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    elif p <= phigh:
        q = p - 0.5
        r = q * q
        x = (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r + a[5]) * q / \
            (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1)
    else:
        q = math.sqrt(-2 * math.log(1 - p))
        x = -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q + c[5]) / \
            ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    # Halley refinement against the exact CDF
    e = 0.5 * math.erfc(-x / math.sqrt(2)) - p
    u = e * math.sqrt(2 * math.pi) * math.exp(x * x / 2)
    x = x - u / (1 + x * u / 2)
    return float(mean) + float(sd) * x


# --- ip prefix family (IpPrefixFunctions.java; address-as-string model,
# consistent with the ipaddress rows in functions_corpus) --------------------

def _ip_prefix(ip, bits):
    if ip is None or bits is None:
        return None
    net = ipaddress.ip_network(f"{ip}/{int(bits)}", strict=False)
    return str(net)


def _ip_subnet_min(prefix):
    return None if prefix is None else str(
        ipaddress.ip_network(prefix, strict=False).network_address)


def _ip_subnet_max(prefix):
    return None if prefix is None else str(
        ipaddress.ip_network(prefix, strict=False).broadcast_address)


def _ip_subnet_range(prefix):
    if prefix is None:
        return None
    net = ipaddress.ip_network(prefix, strict=False)
    return [str(net.network_address), str(net.broadcast_address)]


def _is_subnet_of(prefix, ip_or_prefix):
    if prefix is None or ip_or_prefix is None:
        return None
    net = ipaddress.ip_network(prefix, strict=False)
    if "/" in str(ip_or_prefix):
        return ipaddress.ip_network(ip_or_prefix, strict=False).subnet_of(net)
    return ipaddress.ip_address(ip_or_prefix) in net


_FB64, _TB64 = _big_endian(">q")
_FB32, _TB32 = _big_endian(">i")

FUNCTIONS = {
    **sql_functions(SQL_FUNCTIONS_2),
    "combine_hash": python_udf(_combine_hash, T.LongType()),
    "fnv1_32": python_udf(
        lambda b: _fnv(b, 0x811C9DC5, 0x01000193, 32, False), T.LongType()),
    "fnv1_64": python_udf(
        lambda b: _fnv(b, 0xCBF29CE484222325, 0x100000001B3, 64, False), T.LongType()),
    "fnv1a_32": python_udf(
        lambda b: _fnv(b, 0x811C9DC5, 0x01000193, 32, True), T.LongType()),
    "fnv1a_64": python_udf(
        lambda b: _fnv(b, 0xCBF29CE484222325, 0x100000001B3, 64, True), T.LongType()),
    "from_ieee754_64": python_udf(_ieee754_from_64, T.DoubleType()),
    "to_ieee754_64": python_udf(_ieee754_to_64, T.BinaryType()),
    "from_ieee754_32": python_udf(_ieee754_from_32, T.DoubleType()),
    "to_ieee754_32": python_udf(_ieee754_to_32, T.BinaryType()),
    "from_big_endian_64": python_udf(_FB64, T.LongType()),
    "to_big_endian_64": python_udf(_TB64, T.BinaryType()),
    "from_big_endian_32": python_udf(_FB32, T.LongType()),
    "to_big_endian_32": python_udf(_TB32, T.BinaryType()),
    **{
        f"hmac_{algo}": python_udf(_hmac_fn(algo), T.BinaryType())
        for algo in ("md5", "sha1", "sha256", "sha512")
    },
    "normalize_form": python_udf(_normalize_form, T.StringType()),
    "split_to_multimap": python_udf(
        _split_to_multimap, T.MapType(T.StringType(), T.ArrayType(T.StringType()))),
    "beta_cdf": python_udf(_beta_cdf, T.DoubleType()),
    "inverse_beta_cdf": python_udf(_inverse_beta_cdf, T.DoubleType()),
    "inverse_normal_cdf": python_udf(_inverse_normal_cdf, T.DoubleType()),
    "ip_prefix": python_udf(_ip_prefix, T.StringType()),
    "ip_subnet_min": python_udf(_ip_subnet_min, T.StringType()),
    "ip_subnet_max": python_udf(_ip_subnet_max, T.StringType()),
    "ip_subnet_range": python_udf(_ip_subnet_range, T.ArrayType(T.StringType())),
    "is_subnet_of": python_udf(_is_subnet_of, T.BooleanType()),
}
