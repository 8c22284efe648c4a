from __future__ import annotations

import pytest

from presto_db_spark.operators import geo, sketch

from .oracle_utils import check_query, names_between

ALL = {**{n: (sketch.QUERIES[n], sketch.ORACLE.get(n)) for n in sketch.QUERIES},
       **{n: (geo.QUERIES[n], geo.ORACLE.get(n))
          for n in names_between(geo.QUERIES, stop="geo_wkt_roundtrip")}}


@pytest.mark.parametrize("name", sorted(ALL))
def test_sketch_geo_vs_duckdb(spark, sf_dir, name):
    fn, sql = ALL[name]
    problems = check_query(spark, name, fn, sql, sf_dir)
    assert not problems, f"{name}: {problems}"


def test_sketch_merge_associativity(spark, sf_dir):
    """Merging per-nation sketches must equal the directly-built global
    sketch — the mergeability property that makes digests distributable."""
    from pyspark.sql import functions as F

    from presto_db_spark.catalog import load_tables

    li, orders, cust = load_tables(spark, sf_dir, "lineitem", "orders", "customer")
    enriched = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_nationkey", "l_extendedprice")
    )
    per_nation = sketch.sketch_histogram(
        enriched, ["c_nationkey"], "l_extendedprice"
    )
    merged = per_nation.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    direct = sketch.sketch_histogram(enriched, [], "l_extendedprice")
    a = sorted((r.bin, r.cnt) for r in merged.collect())
    b = sorted((r.bin, r.cnt) for r in direct.collect())
    assert a == b


def test_sketch_accuracy_bound(spark, sf_dir):
    """The fixed-grid sketch's documented error contract: every estimated
    quantile is within one grid cell (BIN) of the exact percentile — the
    analog of qdigest's maxError accuracy bound
    (QuantileDigestAggregationFunction.java)."""
    from pyspark.sql import functions as F

    from presto_db_spark.catalog import load_table
    from presto_db_spark.operators.sketch import BIN

    li = load_table(spark, sf_dir, "lineitem")
    # Exact ORDER STATISTICS (same contract as the sketch: smallest value
    # whose rank reaches q*n) — not the interpolated percentile, which can
    # sit between data points. percentile_approx at max accuracy is exact.
    exact = {
        r["l_returnflag"]: r["qs"]
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile_approx(l_extendedprice, array(0.25, 0.5, 0.75), 2147483647)"
            ).alias("qs")
        )
        .collect()
    }
    est = {
        r["l_returnflag"]: [r["p25"], r["p50"], r["p75"]]
        for r in sketch.QUERIES["sketch_quantile_array"](spark, sf_dir).collect()
    }
    assert set(est) == set(exact)
    for flag, qs in est.items():
        for e, x in zip(qs, exact[flag]):
            # est is the left edge of the bin containing the order stat
            assert e <= x < e + 2 * BIN, (flag, e, x)


def test_sketch_weighted_matches_expanded(spark, sf_dir):
    """Weighted sketch == unweighted sketch over the weight-expanded rows
    (the defining property of the weighted approx_percentile form)."""
    from pyspark.sql import functions as F

    from presto_db_spark.catalog import load_table
    from presto_db_spark.operators.sketch import sketch_histogram, value_at_quantile

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "w", F.col("l_quantity").cast("long")
    )
    expanded = li.withColumn("_i", F.explode(F.sequence(F.lit(1), F.col("w"))))
    sk_w = sketch_histogram(li, ["l_returnflag"], "l_extendedprice", weight="w")
    sk_x = sketch_histogram(expanded, ["l_returnflag"], "l_extendedprice")
    got_w = {
        r["l_returnflag"]: r["wp50"]
        for r in value_at_quantile(sk_w, ["l_returnflag"], 0.5, "wp50").collect()
    }
    got_x = {
        r["l_returnflag"]: r["wp50"]
        for r in value_at_quantile(sk_x, ["l_returnflag"], 0.5, "wp50").collect()
    }
    assert got_w == got_x


@pytest.mark.parametrize(
    "name",
    ["geo_wkt_roundtrip", "geo_wkt_distance", "geo_wkt_intersects_join",
     "geo_wkt_envelope", "geo_wkt_line_interpolate"],
)
def test_wkt_vs_duckdb(spark, sf_dir, name):
    from presto_db_spark.operators import geo

    problems = check_query(spark, name, geo.QUERIES[name], geo.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"


def test_wkt_roundtrip_is_nonvacuous(spark, sf_dir):
    """The roundtrip flag must actually be TRUE (text → parse → render
    identity) and the closed flag must split the rows."""
    from presto_db_spark.operators import geo

    df = geo.QUERIES["geo_wkt_roundtrip"](spark, sf_dir)
    rows = df.collect()
    assert rows and all(r.roundtrip for r in rows)
    assert 0 < sum(1 for r in rows if r.closed) < len(rows)


def test_wkt_intersects_join_no_cross_join(spark, sf_dir):
    """The WKT intersects join must meet candidates in the grid-cell
    equi-join — same contract as geo_polygon_join."""
    from presto_db_spark.operators import geo

    df = geo.QUERIES["geo_wkt_intersects_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_adaptive_digest_accuracy_bound_on_skew(spark, sf_dir):
    """The adaptive (equi-depth) digest's rank error stays within
    1/ADAPTIVE_B + sampling slack on a power-law column — while a fixed
    grid sized to the same domain span collapses: almost all mass lands
    in its first cell, so its p25/p50 estimates carry rank error near
    the entire lower half. This is exactly why the reference uses
    adaptive digests (qdigest/tdigest) rather than fixed histograms."""
    from pyspark.sql import functions as F

    from presto_db_spark.catalog import load_table
    from presto_db_spark.operators.sketch import ADAPTIVE_B, QUERIES

    est = QUERIES["sketch_adaptive_quantiles"](spark, sf_dir).collect()[0]
    skew = load_table(spark, sf_dir, "lineitem").select(
        (lambda c: (c * c * c * c * c * c * c * c * c))(F.col("l_extendedprice") / 1000.0).alias("v")
    )
    n = skew.count()

    def rank_of(x: float) -> float:
        return skew.filter(F.col("v") <= x).count() / n

    bound = 1.0 / ADAPTIVE_B + 0.05  # bin width + systematic-sample slack
    for q, val in [(0.25, est.p25), (0.50, est.p50), (0.75, est.p75)]:
        assert abs(rank_of(val) - q) <= bound, (q, val, rank_of(val))

    # fixed grid sized to the domain span: span/100 cells of equal WIDTH —
    # the skewed mass piles into the low cells, and the left-edge estimate
    # for p50 has rank error far beyond the adaptive bound
    lo, hi = skew.agg(F.min("v"), F.max("v")).collect()[0]
    bin_w = (hi - lo) / 100.0
    fixed = (
        skew.groupBy(F.floor((F.col("v") - lo) / bin_w).alias("bin"))
        .count()
        .orderBy("bin")
        .collect()
    )
    cum, total = 0, sum(r["count"] for r in fixed)
    fixed_p50 = None
    for r in fixed:
        cum += r["count"]
        if cum >= total * 0.5:
            fixed_p50 = lo + r["bin"] * bin_w
            break
    assert abs(rank_of(fixed_p50) - 0.5) > bound, "fixed grid unexpectedly fine"


@pytest.mark.parametrize(
    "name",
    ["geo_wkt_multi", "geo_wkt_polygon_holes", "geo_union_agg_points",
     "geo_union_envelope_area", "geo_simplify", "geo_wkt_accessors"],
)
def test_wkt2_vs_duckdb(spark, sf_dir, name):
    from presto_db_spark.operators import geo

    problems = check_query(spark, name, geo.QUERIES[name], geo.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"


def test_union_envelope_dissolves_overlap(spark, sf_dir):
    """The union area must be at most the SUM of the envelope areas, and
    strictly less when envelopes overlap in a group — i.e. the slab sweep
    dissolves, it doesn't just add."""
    from pyspark.sql import functions as F

    from presto_db_spark.operators import geo

    union = {
        r.grp: r.union_area
        for r in geo.QUERIES["geo_union_envelope_area"](spark, sf_dir).collect()
    }
    # independent per-rect sum over the same fixture
    from presto_db_spark.catalog import load_table
    from presto_db_spark.operators.geo import _wkt_pentagon, st_xs, st_ys

    nation = load_table(spark, sf_dir, "nation")
    g = nation.selectExpr(
        "n_regionkey AS grp", f"{_wkt_pentagon('n_nationkey')} AS w"
    ).select("grp", st_xs(F.col("w")).alias("xs"), st_ys(F.col("w")).alias("ys"))
    sums = {
        r.grp: r.s
        for r in g.select(
            "grp",
            ((F.array_max("xs") - F.array_min("xs"))
             * (F.array_max("ys") - F.array_min("ys"))).alias("a"),
        ).groupBy("grp").agg(F.sum("a").alias("s")).collect()
    }
    assert set(union) == set(sums)
    for grp in union:
        assert union[grp] <= sums[grp] + 1e-9
    assert any(union[g_] < sums[g_] - 1e-9 for g_ in union), (
        "fixture has no overlapping envelopes; dissolve untested")


def test_kdb_radius_join_partitioned_no_cartesian(spark, sf_dir):
    """The KdbTree-style spatial join's only pair-producing join must be
    the leaf-cell equi-join — no CartesianProduct (the scalar-median
    broadcast attaches are 1-row BroadcastNestedLoops, which is the
    intended scalar pattern)."""
    from presto_db_spark.operators import geo

    df = geo.QUERIES["geo_kdb_radius_join"](spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    problems = check_query(
        spark, "geo_kdb_radius_join", geo.QUERIES["geo_kdb_radius_join"],
        geo.ORACLE.get("geo_kdb_radius_join"), sf_dir)
    assert not problems, problems


@pytest.mark.parametrize(
    "name", ["geo_spherical_distance", "geo_spherical_area", "geo_buffer"]
)
def test_wkt3_vs_duckdb(spark, sf_dir, name):
    from presto_db_spark.operators import geo

    problems = check_query(spark, name, geo.QUERIES[name], geo.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"


def test_spherical_distance_properties(spark, sf_dir):
    """great_circle_distance contracts: symmetric, bounded by half the
    Earth's circumference, zero iff the points coincide; the spherical
    meters column is exactly km × 1000 before rounding."""
    from presto_db_spark.operators import geo

    rows = geo.QUERIES["geo_spherical_distance"](spark, sf_dir).collect()
    assert rows
    import math
    half = geo.EARTH_RADIUS_KM * math.pi
    for r in rows:
        assert 0.0 <= r.gc_km <= half + 1e-6
        assert r.within_half_earth
        assert abs(r.sph_dist_m - round(r.gc_km * 1000, 0)) < 1.0


def test_buffer_ring_closed_and_area(spark, sf_dir):
    """The buffer polygon is a closed ring of N+1 points whose inscribed
    area is sin(2π/N)·N/(2π) of the disk area (≈ 0.974 at N=16)."""
    import math

    from presto_db_spark.operators import geo

    rows = geo.QUERIES["geo_buffer"](spark, sf_dir).collect()
    assert rows
    ratio = math.sin(2 * math.pi / geo.N_BUFFER_SEGMENTS) * geo.N_BUFFER_SEGMENTS / (2 * math.pi)
    for r in rows[:50]:
        body = r.buffer_wkt.removeprefix("POLYGON ((").removesuffix("))")
        pts = body.split(", ")
        assert len(pts) == geo.N_BUFFER_SEGMENTS + 1 == r.num_points
        assert pts[0] == pts[-1], "ring must close on the first vertex"
        assert abs(r.buffer_area / r.disk_area - ratio) < 1e-3


def test_set_digest_estimator_accuracy(spark, sf_dir):
    """SetDigest estimators must track truth: jaccard_est within the
    K=128 minhash error band of jaccard_exact, and the union-cardinality
    order statistic within 25% of the true union (both sides exceed K on
    this data, so the estimator path — not the exact fallback — runs)."""
    from presto_db_spark.operators import sketch as sk

    rows = sk.QUERIES["agg_set_digest"](spark, sf_dir).collect()
    assert rows
    est_path = 0
    for r in rows:
        assert abs(r.jaccard_est - r.jaccard_exact) <= 0.12, r
        if r.union_card_est != 0:
            est_path += 1
    assert est_path == len(rows)


def test_khll_distribution_properties(spark, sf_dir):
    """KHLL contracts: fractions sum to 1, multiple buckets populated,
    reid_potential equals the mass of buckets <= threshold (buckets below
    the overflow bucket are exact cardinalities)."""
    from presto_db_spark.operators import sketch as sk

    rows = sk.QUERIES["agg_khyperloglog"](spark, sf_dir).collect()
    assert [r.bucket for r in rows] == list(range(1, sk.KHLL_HIST + 1))
    total = sum(r.fraction for r in rows)
    assert abs(total - 1.0) < 1e-4
    assert sum(1 for r in rows if r.fraction > 0) >= 2, "degenerate histogram"
    low_mass = sum(r.fraction for r in rows if r.bucket <= sk.KHLL_REID_T)
    assert abs(low_mass - rows[0].reid_potential) < 1e-4


@pytest.mark.parametrize("name", ["geo_polygon_clip_ops", "geo_convex_hull"])
def test_wkt4_vs_duckdb(spark, sf_dir, name):
    from presto_db_spark.operators import geo

    problems = check_query(
        spark, name, geo.QUERIES[name], geo.ORACLE.get(name), sf_dir
    )
    assert not problems, f"{name}: {problems}"


def test_polygon_clip_invariants(spark, sf_dir):
    """Geometry sanity independent of the oracle: 0 < inter <= min(aA,aB),
    union = aA + aB - inter < envelope union, symdiff = union - inter,
    and the convex hull area dominates the pairwise union area."""
    from presto_db_spark.operators import geo

    clip = {r.gid: r for r in
            geo.QUERIES["geo_polygon_clip_ops"](spark, sf_dir).collect()}
    hull = {r.gid: r for r in
            geo.QUERIES["geo_convex_hull"](spark, sf_dir).collect()}
    assert clip and set(clip) == set(hull)
    for gid, r in clip.items():
        assert 0 < r.inter_area <= min(r.area_a, r.area_b) + 1e-9, r
        assert r.union_area == pytest.approx(
            r.area_a + r.area_b - r.inter_area, abs=1e-5)
        assert r.symdiff_area == pytest.approx(
            r.union_area - r.inter_area, abs=1e-5)
        assert r.union_area < r.envelope_union_area, r
        assert hull[gid].hull_area >= r.union_area - 1e-9, (r, hull[gid])
        assert 3 <= hull[gid].n_hull <= hull[gid].n_points


@pytest.mark.parametrize("name", ["geo_predicates2", "geo_line_locate"])
def test_wkt5_vs_duckdb(spark, sf_dir, name):
    from presto_db_spark.operators import geo

    problems = check_query(
        spark, name, geo.QUERIES[name], geo.ORACLE.get(name), sf_dir
    )
    assert not problems, f"{name}: {problems}"


def test_spatial_predicates_cover_all_relations(spark, sf_dir):
    """The cycling fixture must exercise every relationship class —
    touching, disjoint and overlapping all occur, and they partition the
    rows (exactly one true per row)."""
    from presto_db_spark.operators import geo

    rows = geo.QUERIES["geo_predicates2"](spark, sf_dir).collect()
    assert rows
    seen = set()
    for r in rows:
        flags = (r.st_disjoint, r.st_touches, r.st_overlaps)
        assert sum(flags) == 1, r
        seen.add(flags.index(True))
        assert r.st_equals_self and r.st_is_valid and r.invalid_reason is None
    assert seen == {0, 1, 2}


def test_line_locate_interp_bounds(spark, sf_dir):
    """locate_frac ∈ [0,1]; the interpolated point sits inside the
    polyline's bounding box; endpoints match the coordinate formulas."""
    from presto_db_spark.operators import geo

    for r in geo.QUERIES["geo_line_locate"](spark, sf_dir).limit(200).collect():
        assert 0.0 <= r.locate_frac <= 1.0, r
        assert r.num_points == 4
        if r.total_len > 0:
            assert -1e-6 <= r.interp_x <= 100 and -1e-6 <= r.interp_y <= 100, r


def test_geo_crosses_both_values(spark, sf_dir):
    from presto_db_spark.operators import geo

    problems = check_query(
        spark, "geo_crosses", geo.QUERIES["geo_crosses"],
        geo.ORACLE.get("geo_crosses"), sf_dir,
    )
    assert not problems, problems
    vals = {r.st_crosses for r in
            geo.QUERIES["geo_crosses"](spark, sf_dir).collect()}
    assert vals == {True, False}


@pytest.mark.parametrize(
    "name", ["geo_wkb_roundtrip", "geo_accessor_arrays", "geo_relate_de9im"]
)
def test_wkt6_vs_duckdb(spark, sf_dir, name):
    from presto_db_spark.operators import geo

    problems = check_query(
        spark, name, geo.QUERIES[name], geo.ORACLE.get(name), sf_dir
    )
    assert not problems, f"{name}: {problems}"


def test_wkb_hex_matches_struct_pack(spark, sf_dir):
    """The pure-SQL integer IEEE-754 encode agrees with the platform's
    struct.pack('<d') for every fixture value, and the canonical OGC
    header bytes are in place."""
    import struct

    from presto_db_spark.operators import geo

    for r in geo.QUERIES["geo_wkb_roundtrip"](spark, sf_dir).collect():
        x, y = (r.gid * 37) % 100, (r.gid * 73) % 100
        exp = (
            "0101000000"
            + struct.pack("<d", float(x)).hex()
            + struct.pack("<d", float(y)).hex()
        )
        assert r.wkb_point == exp, (r.gid, r.wkb_point, exp)
        assert r.roundtrip_ok and r.x_back == x and r.y_back == y
        assert r.point_bytes == 21 and r.line_bytes == 9 + 2 * 16
        assert r.wkb_line.startswith("010200000002000000")


def test_de9im_canonical_matrices(spark, sf_dir):
    """The derived DE-9IM strings are exactly the OGC canonical matrices
    for the three fixture configurations, and each row satisfies exactly
    one of disjoint/touches/overlaps."""
    from presto_db_spark.operators import geo

    seen = set()
    for r in geo.QUERIES["geo_relate_de9im"](spark, sf_dir).collect():
        assert r.de9im in {"FF2F01212", "FF2FF1212", "212101212"}, r
        flags = (r.relate_disjoint, r.relate_touches, r.relate_overlaps)
        assert sum(flags) == 1, r
        seen.add(r.de9im)
        assert r.de9im_self == "2FFF1FFF2" and r.relate_equals_self
    assert seen == {"FF2F01212", "FF2FF1212", "212101212"}


def test_de9im_containment_matrices():
    """Strict containment must yield the OGC canonical within/contains
    matrices (2FF1FF212 / 212FF1FF2).  Regression for the r06 ADVICE bug:
    ``hits`` (st_intersects_rings) fires on first-vertex containment, so
    without the containment branch the BB cell read '0' instead of 'F'.
    The template is dialect-shared, so one DuckDB evaluation pins both
    sides."""
    import duckdb

    from presto_db_spark.operators.geo import _DE9IM

    con = duckdb.connect()

    def m(inter, area_a, area_b, hits, ncontact=0):
        expr = _DE9IM.format(
            inter=str(inter), area_a=str(area_a), area_b=str(area_b),
            a_in_b=f"({inter} = {area_a})", b_in_a=f"({inter} = {area_b})",
            equal=f"({inter} = {area_a} AND {inter} = {area_b})",
            hits=str(hits).lower(), ncontact=str(ncontact),
        )
        return con.execute(f"SELECT {expr}").fetchone()[0]

    # within: A strictly inside B — hits=true simulates the first-vertex
    # point-in-ring artifact that used to corrupt BB
    assert m(inter=10, area_a=10, area_b=40, hits=True) == "2FF1FF212"
    # contains: B strictly inside A
    assert m(inter=10, area_a=40, area_b=10, hits=True) == "212FF1FF2"
    # sanity: the three fixture classes are unchanged
    assert m(inter=0, area_a=10, area_b=10, hits=False) == "FF2FF1212"  # disjoint
    assert m(inter=0, area_a=10, area_b=10, hits=True, ncontact=1) == "FF2F01212"  # touches (point)
    assert m(inter=0, area_a=10, area_b=10, hits=True, ncontact=2) == "FF2F11212"  # touches (edge)
    assert m(inter=3, area_a=10, area_b=10, hits=True) == "212101212"  # overlaps
    con.close()


def test_clip_kernel_concave_subject_analytic(spark):
    """Sutherland-Hodgman's documented domain is wider than the convex
    fixture: the SUBJECT ring may be concave (only the clip ring must be
    convex). Pinned against hand-computed areas: an L-shape clipped by an
    offset square (area 5), and a concave arrow fully inside the clip
    (area 12 — the kernel must not destroy the notch)."""
    from pyspark.sql import functions as F

    from presto_db_spark.operators.geo import st_area_pts, st_intersection_pts

    def pts(coords):
        body = ", ".join(
            f"struct({x}d as x, {y}d as y)" for x, y in coords
        )
        return F.expr(f"array({body})")

    df = spark.range(1).select(
        st_area_pts(
            st_intersection_pts(
                pts([(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4)]),
                pts([(1, 1), (5, 1), (5, 5), (1, 5)]),
            )
        ).alias("l_clip"),
        st_area_pts(
            st_intersection_pts(
                pts([(0, 0), (4, 0), (2, 2), (4, 4), (0, 4)]),
                pts([(-1, -1), (5, -1), (5, 5), (-1, 5)]),
            )
        ).alias("arrow_full"),
    ).collect()[0]
    assert df.l_clip == 5.0
    assert df.arrow_full == 12.0
