from __future__ import annotations

import pytest

from presto_db_spark.operators import functions_corpus as fc3

from .oracle_utils import check_query, names_between


@pytest.mark.parametrize("name", names_between(fc3.QUERIES, first="agg_reduce"))
def test_functions3_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, fc3.QUERIES[name], fc3.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"


def test_color_interpolate_matches_jvm_awt(spark):
    """The float32 HSB interpolation must be bit-identical to the JVM's
    java.awt.Color — checked live through the Spark JVM gateway, exactly
    the math ColorFunctions.interpolate runs."""
    import numpy as np

    from presto_db_spark.functions import color as C

    jvm = spark.sparkContext._jvm
    Color = jvm.java.awt.Color

    def jvm_interpolate(fraction, low, high):
        lo = Color.RGBtoHSB((low >> 16) & 0xFF, (low >> 8) & 0xFF, low & 0xFF, None)
        hi = Color.RGBtoHSB((high >> 16) & 0xFF, (high >> 8) & 0xFF, high & 0xFF, None)
        f32 = np.float32
        h = float(f32(fraction) * (f32(hi[0]) - f32(lo[0])) + f32(lo[0]))
        s = float(f32(fraction) * (f32(hi[1]) - f32(lo[1])) + f32(lo[1]))
        v = float(f32(fraction) * (f32(hi[2]) - f32(lo[2])) + f32(lo[2]))
        return Color.HSBtoRGB(h, s, v) & 0xFFFFFF

    pairs = [(0xFF0000, 0x00FF00), (0xFF0000, 0x0000FF),
             (0x123456, 0xFEDCBA), (0x000000, 0xFFFFFF)]
    for low, high in pairs:
        for w in (5, 10, 16):
            for i in range(w):
                frac = float(np.float32(np.float64(i) * 1.0 / np.float64(w - 1)))
                assert C.interpolate(frac, low, high) == jvm_interpolate(frac, low, high)


def test_color_parse_and_sql_surface(spark):
    """color()/rgb()/render()/bar() SQL names (ColorFunctions.java)."""
    import pytest as _pytest

    from presto_db_spark.engine import Engine
    from presto_db_spark.functions.color import ANSI_RESET, parse_color

    assert parse_color("#f00") == 0xFF0000
    assert parse_color("#1a9") == 0x11AA99
    assert parse_color("red") == -2 and parse_color("GREEN") == -3
    with _pytest.raises(ValueError):
        parse_color("notacolor")

    eng = Engine(spark, sf_dir=None)
    row = eng.sql(
        "SELECT color('#f00') c, rgb(0, 128, 255) r, "
        "render('hi', color('green')) g, bar(CAST(0.5 AS DOUBLE), 4) b"
    ).collect()[0]
    assert row.c == 0xFF0000
    assert row.r == (128 << 8) | 255
    assert row.g == "\x1b[38;5;2mhi" + ANSI_RESET
    assert row.b.count("█") == 2 and row.b.endswith("  ")
