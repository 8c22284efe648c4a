"""Property-based tests (hypothesis) — systematic randomized coverage the
reference lacks (SURVEY.md §5: 'Randomized/property-based: none').

Each property pins an algebraic invariant of a custom operator on small
generated inputs: salting must be result-invariant, the bucketized range
join must equal the naive inequality join, sketch merge must be
associative, and the MySQL→Java pattern translator must round-trip the
date values it claims to support."""

from __future__ import annotations

import datetime

from hypothesis import HealthCheck, given, settings, strategies as st

from presto_db_spark.functions.presto import (
    _mysql_to_py_pattern,
    mysql_to_java_pattern,
)

SLOW = settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)


@given(
    ts=st.datetimes(
        min_value=datetime.datetime(1970, 1, 2),
        max_value=datetime.datetime(2100, 1, 1),
    )
)
@settings(max_examples=200, deadline=None)
def test_mysql_pattern_roundtrip_python(ts):
    """date_parse(date_format(ts, f), f) == ts for the canonical pattern."""
    fmt = "%Y-%m-%d %H:%i:%s"
    py = _mysql_to_py_pattern(fmt)
    assert datetime.datetime.strptime(ts.strftime(py), py) == ts.replace(microsecond=0)


@given(st.text(alphabet="YymcdeHkhisfpWaMbjT%-/: ", max_size=20))
@settings(max_examples=200, deadline=None)
def test_mysql_to_java_never_crashes(fmt):
    mysql_to_java_pattern(fmt)
    _mysql_to_py_pattern(fmt)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 5),  # key (few hot keys — the skew case)
            st.integers(-1000, 1000),
        ),
        min_size=1,
        max_size=200,
    )
)
@SLOW
def test_salted_agg_invariance(spark, rows):
    """salted_agg == plain groupBy for any input, including all-hot-key."""
    from pyspark.sql import functions as F

    from presto_db_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, ["k", "v"])
    plain = {
        (r.k): (r.s, r.n)
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    salted = {
        (r.k): (r.s, r.n)
        for r in salted_agg(
            df,
            keys=["k"],
            salt_src="v",
            partial=[F.sum("v").alias("_s"), F.count("*").alias("_n")],
            merge=lambda p: [
                F.sum("_s").alias("s"),
                F.sum("_n").cast("long").alias("n"),
            ],
            n_salts=4,
        ).collect()
    }
    assert plain == salted


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 10_000)), max_size=40),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 10_000)), max_size=40),
    window=st.sampled_from([1, 7, 100, 3600]),
)
@SLOW
def test_range_join_equals_naive(spark, left, right, window):
    """Bucketized range join == naive inequality join for any timestamps."""
    from pyspark.sql import functions as F

    from presto_db_spark.operators.rangejoin import range_join

    if not left or not right:
        return
    ldf = spark.createDataFrame(
        [(k, i, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s))
         for i, (k, s) in enumerate(left)],
        ["k", "lid", "lts"],
    )
    rdf = spark.createDataFrame(
        [(k, i, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s))
         for i, (k, s) in enumerate(right)],
        ["k", "rid", "rts"],
    )
    fast = {
        (r.lid, r.rid)
        for r in range_join(ldf, rdf, ["k"], "lts", "rts", window).collect()
    }
    naive = {
        (r.lid, r.rid)
        for r in ldf.join(
            rdf,
            (ldf.k == rdf.k)
            & (F.unix_micros(rdf.rts) > F.unix_micros(ldf.lts))
            & (F.unix_micros(rdf.rts) <= F.unix_micros(ldf.lts) + window * 1_000_000),
        ).collect()
    }
    assert fast == naive


_sql_fragments = st.lists(
    st.one_of(
        st.sampled_from(
            ["SELECT ", " FROM t", " WHERE x ", "(", ")", ",", " + ", "1", "abc",
             "approx_distinct", "regexp_extract_all", "count", " ", "\n",
             # round-5 rewriter surface: templates, renames, ORDER BY
             # null-ordering, bare keywords, typed literals
             "kurtosis", "map_agg", "histogram", "truncate", "bit_count",
             "ngrams", "date_add", "zip", "contains", "localtimestamp",
             " ORDER BY ", " DESC", " NULLS LAST", "DECIMAL ", "'1.5'",
             "VARCHAR", " MAP", " x -> x",
             # presto-ml + bounded random surface
             "features", "classify", "regress", "learn_classifier",
             "learn_regressor", "random", "rand", "fail", "normalize",
             "multimap_from_entries", "qdigest_agg", "VARBINARY",
             "map_union", "approx_set", "merge_hll",
             # round-6 rewriter surface
             "combinations", "format_datetime", "week_of_year",
             "timezone_hour"]
        ),
        # string literals / quoted identifiers / comments with tricky content
        st.sampled_from(
            ["'approx_distinct(x)'", "'it''s'", '"col_name"', '"not-ident"',
             "-- try(1)\n", "/* regexp_extract_all(a,b) */",
             "'yyyy-MM-dd''T''HH:mm'", '"30 days"', '"a.b.c"']
        ),
    ),
    min_size=1,
    max_size=12,
)


@given(frags=_sql_fragments)
@settings(max_examples=200, deadline=None)
def test_dialect_rewrite_idempotent_and_literal_safe(frags):
    """rewrite∘rewrite == rewrite, and string literals / comments are
    byte-preserved no matter how rewritable names appear inside them."""
    from presto_db_spark.functions.dialect import rewrite_presto_sql

    q = "".join(frags)
    try:
        once = rewrite_presto_sql(q)
    except ValueError:
        return  # TRY() guidance or unbalanced parens — both are fine
    assert rewrite_presto_sql(once) == once
    # every literal/comment fragment must survive verbatim
    for lit in ["'approx_distinct(x)'", "'it''s'", "-- try(1)", "/* regexp_extract_all(a,b) */"]:
        if lit in q:
            assert lit in once


@given(
    probes=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=1, max_size=25
    ),
    priors=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 40)), min_size=1, max_size=25
    ),
    strict=st.booleans(),
)
@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_join_equals_naive(spark, probes, priors, strict):
    """Linear union-sort-window asof_join == the quadratic join-then-argmax
    formulation, strict and non-strict, with deterministic tie-breaks."""
    from pyspark.sql import functions as F

    from presto_db_spark.operators.rangejoin import asof_join

    pdf = spark.createDataFrame(
        [(k, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s), i)
         for i, (k, s) in enumerate(probes)],
        ["k", "pts", "pid"],
    )
    rdf = spark.createDataFrame(
        [(k, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s), i)
         for i, (k, s) in enumerate(priors)],
        ["k", "rts", "rid"],
    )
    fast = {
        (r.pid, r.rid, r.rts)
        for r in asof_join(pdf, rdf, ["k"], "pts", "rts", ["rid"], strict=strict).collect()
    }
    cmp = (F.col("rts") < F.col("pts")) if strict else (F.col("rts") <= F.col("pts"))
    naive = {
        (r.pid, r.rid, r.rts)
        for r in pdf.join(rdf, "k")
        .filter(cmp)
        .groupBy("pid")
        .agg(F.max(F.struct("rts", "rid")).alias("m"))
        .select("pid", F.col("m.rid").alias("rid"), F.col("m.rts").alias("rts"))
        .collect()
    }
    assert fast == naive


def _hull(points):
    """Monotone-chain convex hull (host-side generator helper only)."""
    pts = sorted(set(points))
    if len(pts) < 3:
        return []

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    lower, upper = half(pts), half(reversed(pts))
    return lower[:-1] + upper[:-1]  # CCW


@given(
    a_raw=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=5, max_size=9
    ),
    b_raw=st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)), min_size=5, max_size=9
    ),
)
@SLOW
def test_polygon_clip_invariants_random(spark, a_raw, b_raw):
    """Sutherland-Hodgman clip kernel on RANDOM convex polygons:
    symmetric (area(A∩B) == area(B∩A)), idempotent on self
    (area(A∩A) == area(A) for integer rings), bounded
    (0 <= inter <= min areas), and every clipped vertex lies inside
    both input polygons (independent containment check)."""
    from hypothesis import assume
    from pyspark.sql import functions as F

    from presto_db_spark.operators.geo import (
        st_area_pts, st_intersection_pts,
    )

    a, b = _hull(a_raw), _hull(b_raw)
    assume(len(a) >= 3 and len(b) >= 3)

    def lit_ring(pts):
        return F.array(
            *[
                F.struct(
                    F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y")
                )
                for x, y in pts
            ]
        )

    df = spark.range(1).select(
        lit_ring(a).alias("pa"), lit_ring(b).alias("pb")
    )
    row = df.select(
        st_area_pts(F.col("pa")).alias("aa"),
        st_area_pts(F.col("pb")).alias("ab"),
        st_area_pts(st_intersection_pts(F.col("pa"), F.col("pb"))).alias("iab"),
        st_area_pts(st_intersection_pts(F.col("pb"), F.col("pa"))).alias("iba"),
        st_area_pts(st_intersection_pts(F.col("pa"), F.col("pa"))).alias("iaa"),
        st_intersection_pts(F.col("pa"), F.col("pb")).alias("cpts"),
    ).collect()[0]
    eps = 1e-7
    assert abs(row.iab - row.iba) <= eps, (row.iab, row.iba, a, b)
    assert abs(row.iaa - row.aa) <= eps, (row.iaa, row.aa, a)
    assert -eps <= row.iab <= min(row.aa, row.ab) + eps

    def inside(pts, px, py):
        n = len(pts)
        for i in range(n):
            ax, ay = pts[i]
            bx, by = pts[(i + 1) % n]
            if (bx - ax) * (py - ay) - (by - ay) * (px - ax) < -1e-6:
                return False
        return True

    for p in row.cpts:
        assert inside(a, p.x, p.y) and inside(b, p.x, p.y), (p, a, b)


@given(
    st.lists(st.integers(min_value=0, max_value=2**31 - 1),
             min_size=1, max_size=8)
)
@settings(max_examples=60, deadline=None)
def test_wkb_integer_bits_match_struct_pack(spark, vals):
    """The pure-SQL exact-integer IEEE-754 encode (operators/geo.py
    _SPARK_F64LE) equals struct.pack('<d') for ANY non-negative int
    < 2^31, not just the fixture values — the formula's documented
    domain."""
    import struct

    from presto_db_spark.operators.geo import _SPARK_F64LE

    rows = spark.createDataFrame([(v,) for v in vals], "v bigint").selectExpr(
        "v", _SPARK_F64LE.format(v="v") + " AS h"
    ).collect()
    for r in rows:
        assert r.h == struct.pack("<d", float(r.v)).hex(), r


# --- streaming sequence-match DFA ≡ regex (the equivalence the streaming
# twin's docstring argues; here it is property-tested directly) --------------

@given(
    st.text(alphabet="vcpse", min_size=0, max_size=60),
    st.integers(min_value=1, max_value=5),
)
def test_seqmatch_dfa_equals_regex(s, n_splits):
    """The 3-state online DFA in streaming_sequence_match must count
    exactly the non-overlapping regex matches of v[^p]*c[^p]*p — for any
    event string and ANY microbatch split of it (state carries across
    batch boundaries)."""
    import re as _re

    expected = len(_re.findall(r"v[^p]*c[^p]*p", s))
    # replay through the DFA in n_splits chunks
    dfa = n_matches = 0
    bounds = sorted({min(len(s), (len(s) * i) // n_splits) for i in range(n_splits + 1)})
    for lo, hi in zip(bounds, bounds[1:]):
        for ch in s[lo:hi]:
            if dfa == 0:
                dfa = 1 if ch == "v" else 0
            elif dfa == 1:
                dfa = 2 if ch == "c" else (0 if ch == "p" else 1)
            else:
                if ch == "p":
                    n_matches += 1
                    dfa = 0
    assert n_matches == expected


@settings(max_examples=150, deadline=None)
@given(
    data=st.binary(min_size=16, max_size=600),
    ins_pos=st.integers(min_value=0, max_value=600),
    ins_byte=st.integers(min_value=0, max_value=255),
)
def test_cdc_chunker_insert_shift_locality(data, ins_pos, ins_byte):
    """The FastCDC/LBFS claim multimodal_cdc_chunks rests on, proven on
    arbitrary byte strings: inserting ONE byte perturbs only boundaries
    whose W-byte window overlaps the edit — every cut at least W bytes
    past the insertion point survives shifted by exactly +1 (fixed-size
    blocks would reshuffle every later block).  Runs the REAL chunker
    (numpy rolling hash) pure-Python-side, no Spark session needed."""
    import numpy as np
    import pandas as pd

    from presto_db_spark.operators.multimodal import _cdc_chunk_batches

    ins_pos = min(ins_pos, len(data))
    mutated = data[:ins_pos] + bytes([ins_byte]) + data[ins_pos:]

    def cuts(payload: bytes) -> list[int]:
        pdf = pd.DataFrame({"doc_id": [0], "payload": [payload]})
        chunks = next(iter(_cdc_chunk_batches(iter([pdf]))))
        return sorted(int(e) for e in chunks["e"])[:-1]  # drop the EOF end

    before = cuts(data)
    after = cuts(mutated)
    w = 4  # _CDC_WINDOW_COEFFS window
    # Cuts strictly inside the unchanged prefix are untouched (a cut
    # exactly at EOF is excluded — it is indistinguishable from the
    # unconditional end-of-payload cut in the chunk list)...
    lim = min(ins_pos, len(data))
    assert [c for c in after if c < lim] == [c for c in before if c < lim]
    # ...and every interior cut whose hash window cleared the edit
    # survives shifted by exactly +1.
    far_before = {c + 1 for c in before if ins_pos + w <= c < len(data)}
    assert far_before.issubset(set(after)), (ins_pos, before, after)
