"""Mergeable quantile sketch + decimal-type semantics.

* **Fixed-grid quantile sketch** — the qdigest/tdigest capability
  (``pm/type/QuantileDigestType.java``, ``pm/tdigest/``,
  ``QuantileDigestAggregationFunction.java``; scalars
  ``value_at_quantile``/``quantile_at_value`` in
  ``QuantileDigestFunctions.java``) re-expressed as a deterministic
  mergeable sketch: per-partition histograms on a fixed grid, merged by
  adding counts (associative/commutative — the mergeability property that
  makes digests work as PARTIAL/FINAL distributed aggregates). Documented
  accuracy contract (asserted by tests/test_sketch_geo.py::
  test_sketch_accuracy_bound): the estimate is the left edge of the grid
  cell holding the exact order statistic — error bounded by the cell width
  BIN, the analog of qdigest's maxError. Covers the plain, weighted
  (x, w, p) and array (x, ARRAY[p...]) approx_percentile forms
  (``ApproximateLongPercentileAggregations.java``). Unlike t-digest, the
  fixed grid is exactly reproducible in the DuckDB oracle, so
  value_at_quantile and quantile_at_value are value-checked, not rows-only.
* **Decimal arithmetic** — ``DecimalType(p,s)`` semantics (SURVEY §1.2,
  ``UnscaledDecimal128Arithmetic.java``): exact sums/products at scale 2,
  no float drift; built from exact cents so both engines agree bit-for-bit.

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..engine import sql_entry
from ..registry import family

QUERIES, ORACLE, _q = family()

BIN = 100.0  # sketch grid width over l_extendedprice (domain ~[900, 105000])


def sketch_histogram(
    df: DataFrame, keys: list[str], value: str, weight: str | None = None
) -> DataFrame:
    """Build the mergeable sketch: counts per (keys…, bin). Merging two
    sketches = union + sum(cnt) on bin — used by both the partial/final
    split and cross-group rollups. With ``weight``, each row contributes
    its weight instead of 1 — Presto's weighted ``approx_percentile(x, w,
    p)`` form (``ApproximateLongPercentileAggregations.java``)."""
    cnt = F.sum(F.col(weight)) if weight else F.count("*")
    return df.groupBy(*keys, F.floor(F.col(value) / BIN).alias("bin")).agg(
        cnt.alias("cnt")
    )


def value_at_quantile(sk: DataFrame, keys: list[str], q: float, out: str) -> DataFrame:
    """Smallest grid value whose cumulative count reaches q·total (the
    qdigest value_at_quantile contract, error ≤ one bin)."""
    w_cum = W.partitionBy(*keys).orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    w_all = W.partitionBy(*keys)
    cum = sk.select(
        *keys,
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    hit = cum.filter(F.col("cum") >= F.ceil(F.col("total") * q))
    return hit.groupBy(*keys).agg((F.min("bin") * BIN).alias(out))


@_q(
    "sketch_quantiles",
    f"""
WITH sk AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice / {BIN}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, bin
), cum AS (
  SELECT l_returnflag, bin,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY l_returnflag) AS total
  FROM sk
)
SELECT q25.l_returnflag,
       q25.v AS p25, q50.v AS p50, q75.v AS p75
FROM      (SELECT l_returnflag, min(bin) * {BIN} AS v FROM cum
           WHERE cum >= ceil(total * 0.25) GROUP BY l_returnflag) q25
JOIN      (SELECT l_returnflag, min(bin) * {BIN} AS v FROM cum
           WHERE cum >= ceil(total * 0.50) GROUP BY l_returnflag) q50
  ON q25.l_returnflag = q50.l_returnflag
JOIN      (SELECT l_returnflag, min(bin) * {BIN} AS v FROM cum
           WHERE cum >= ceil(total * 0.75) GROUP BY l_returnflag) q75
  ON q25.l_returnflag = q75.l_returnflag
""",
)
def sketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_at_quantile(sketch, 0.25/0.5/0.75) per return flag."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    sk = sketch_histogram(li, ["l_returnflag"], "l_extendedprice")
    p25 = value_at_quantile(sk, ["l_returnflag"], 0.25, "p25")
    p50 = value_at_quantile(sk, ["l_returnflag"], 0.50, "p50")
    p75 = value_at_quantile(sk, ["l_returnflag"], 0.75, "p75")
    return p25.join(p50, "l_returnflag").join(p75, "l_returnflag")


@_q(
    "sketch_weighted_quantiles",
    f"""
WITH sk AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice / {BIN}) AS BIGINT) AS bin,
         sum(CAST(l_quantity AS BIGINT)) AS cnt
  FROM lineitem GROUP BY l_returnflag, bin
), cum AS (
  SELECT l_returnflag, bin,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY l_returnflag) AS total
  FROM sk
)
SELECT l_returnflag, min(bin) * {BIN} AS wp50
FROM cum WHERE cum >= ceil(total * 0.50) GROUP BY l_returnflag
""",
)
def sketch_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted approx_percentile(x, w, 0.5): quantity-weighted median price
    (``ApproximateLongPercentileAggregations.java`` weighted overloads) —
    each row contributes l_quantity units of mass to its price bin."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    li = li.withColumn("w", F.col("l_quantity").cast("long"))
    sk = sketch_histogram(li, ["l_returnflag"], "l_extendedprice", weight="w")
    return value_at_quantile(sk, ["l_returnflag"], 0.50, "wp50")


@_q(
    "sketch_quantile_array",
    f"""
WITH sk AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice / {BIN}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, bin
), cum AS (
  SELECT l_returnflag, bin,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY l_returnflag) AS total
  FROM sk
)
SELECT q25.l_returnflag, q25.v AS p25, q50.v AS p50, q75.v AS p75
FROM      (SELECT l_returnflag, min(bin) * {BIN} AS v FROM cum
           WHERE cum >= ceil(total * 0.25) GROUP BY l_returnflag) q25
JOIN      (SELECT l_returnflag, min(bin) * {BIN} AS v FROM cum
           WHERE cum >= ceil(total * 0.50) GROUP BY l_returnflag) q50
  ON q25.l_returnflag = q50.l_returnflag
JOIN      (SELECT l_returnflag, min(bin) * {BIN} AS v FROM cum
           WHERE cum >= ceil(total * 0.75) GROUP BY l_returnflag) q75
  ON q25.l_returnflag = q75.l_returnflag
""",
)
def sketch_quantile_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array form approx_percentile(x, ARRAY[0.25, 0.5, 0.75]) — one sketch
    pass, one output row per group with the quantile vector (emitted as
    three scalar columns: the driver's canonicalizer can't sort lists)."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    sk = sketch_histogram(li, ["l_returnflag"], "l_extendedprice")
    p25 = value_at_quantile(sk, ["l_returnflag"], 0.25, "p25")
    p50 = value_at_quantile(sk, ["l_returnflag"], 0.50, "p50")
    p75 = value_at_quantile(sk, ["l_returnflag"], 0.75, "p75")
    return (
        p25.join(p50, "l_returnflag")
        .join(p75, "l_returnflag")
        .select("l_returnflag", "p25", "p50", "p75")
    )


# Kept port (keep-rule 2d, helper coverage): sketch_histogram.
@_q(
    "sketch_quantile_at_value",
    f"""
WITH sk AS (
  SELECT l_returnflag, CAST(floor(l_extendedprice / {BIN}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM lineitem GROUP BY l_returnflag, bin
)
SELECT l_returnflag,
       round(CAST(sum(CASE WHEN bin * {BIN} <= 50000 THEN cnt ELSE 0 END) AS DOUBLE)
             / sum(cnt), 6) AS q_at_50k
FROM sk GROUP BY l_returnflag
""",
)
def sketch_quantile_at_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quantile_at_value(sketch, 50000) — inverse lookup on the same sketch."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    sk = sketch_histogram(li, ["l_returnflag"], "l_extendedprice")
    return sk.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.when(F.col("bin") * BIN <= 50000, F.col("cnt")).otherwise(0)).cast(
                "double"
            )
            / F.sum("cnt"),
            6,
        ).alias("q_at_50k")
    )


# Kept port (keep-rule 2c, text skips the function): it expands the decimal functions by hand.
@_q(
    "func_decimal",
    """
SELECT l_returnflag,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS dec_sum_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(l_quantity AS BIGINT)) AS BIGINT) AS dec_weighted_cents,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem GROUP BY l_returnflag
""",
)
def func_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL aggregation compared in integer cents: prices become
    exact cent counts (BIGINT), summed without any floating point.  On the
    Spark side the arithmetic runs through DECIMAL(18,2)/DECIMAL(9,0)
    (exercising decimal sum and decimal×decimal precision growth per the
    reference's DecimalOperators), then converts to cents by an exact
    ×100 at the very end.  The oracle stays in BIGINT cents throughout —
    DuckDB decimal division decays to DOUBLE, so any in-sum division can
    never hash-match; integer cents are bit-comparable on both engines.
    """
    (li,) = load_tables(spark, sf_dir, "lineitem")
    dec_price = (
        F.round(F.col("l_extendedprice") * 100).cast("long").cast("decimal(18,2)") / 100
    )
    dec_qty = F.col("l_quantity").cast("long").cast("decimal(9,0)")
    return li.groupBy("l_returnflag").agg(
        (F.sum(dec_price) * 100).cast("long").alias("dec_sum_cents"),
        (F.sum(dec_price * dec_qty) * 100).cast("long").alias("dec_weighted_cents"),
        F.count("*").alias("n"),
    )


# --- adaptive-domain digest (two-pass equi-depth grid) ---------------------
#
# The fixed BIN grid above needs domain knowledge (BIN=100 is sized for
# l_extendedprice); on an unknown or heavily skewed domain its rank error
# is unbounded — exactly the gap a real qdigest/tdigest closes by adapting
# bins to the data (pm/tdigest/TDigest.java, QuantileDigestAggregation-
# Function.java). This is the adaptive analog, kept deterministic so the
# DuckDB oracle reproduces it bit-for-bit:
#
#   pass 1: a deterministic systematic sample (key-modulus predicate, no
#           RNG) is ranked and cut into ADAPTIVE_B equi-depth buckets
#           (ntile with a total tiebreak order); bucket minima become the
#           bin boundaries — equi-DEPTH, so skew concentrates boundaries
#           where the mass is;
#   pass 2: rows histogram into [lo, hi) boundary ranges via a BROADCAST
#           range join (ADAPTIVE_B rows — N·B map-side predicate evals,
#           linear, no shuffle beyond the final per-bin groupBy).
#
# Accuracy contract (tests/test_sketch_geo.py::test_adaptive_digest_*):
# rank error of value_at_quantile ≤ 1/ADAPTIVE_B + sampling slack,
# INDEPENDENT of the value distribution — asserted on a power-law column
# (domain ~[1, 1e10]) where the fixed grid's rank error collapses to ~1.

ADAPTIVE_B = 16
# x^9 as an explicit left-associative product: engines'
# pow() differ in the last ulp, a product chain is IEEE-identical
_SKEW_SQL = "((l_extendedprice / 1000.0) * (l_extendedprice / 1000.0) * (l_extendedprice / 1000.0) * (l_extendedprice / 1000.0) * (l_extendedprice / 1000.0) * (l_extendedprice / 1000.0) * (l_extendedprice / 1000.0) * (l_extendedprice / 1000.0) * (l_extendedprice / 1000.0))"  # heavy right skew
_SAMPLE_SQL = "(l_orderkey * 31 + l_linenumber) % 7 = 0"


def adaptive_boundaries(df: DataFrame, value_col, order_cols: list[str]) -> DataFrame:
    """Pass 1: equi-depth boundaries (lo, hi] per ntile bucket; hi of the
    last bucket is NULL (open right edge)."""
    w = W.orderBy(value_col, *[F.col(c) for c in order_cols])
    b = (
        df.select(value_col.alias("v"), *order_cols)
        .withColumn("nt", F.ntile(ADAPTIVE_B).over(w))
        .groupBy("nt")
        .agg(F.min("v").alias("lo"))
    )
    w_nt = W.orderBy("nt")
    return b.select("nt", "lo", F.lead("lo").over(w_nt).alias("hi"))


# Kept port (keep-rule 2d, helper coverage): adaptive_boundaries.
@_q(
    "sketch_adaptive_quantiles",
    f"""
WITH skew AS (
  SELECT {_SKEW_SQL} AS v, l_orderkey, l_linenumber FROM lineitem
), bounds AS (
  SELECT nt, lo, lead(lo) OVER (ORDER BY nt) AS hi FROM (
    SELECT nt, min(v) AS lo FROM (
      SELECT v, ntile({ADAPTIVE_B}) OVER (ORDER BY v, l_orderkey, l_linenumber) AS nt
      FROM skew WHERE {_SAMPLE_SQL}
    ) GROUP BY nt
  )
), hist AS (
  SELECT b.nt, b.lo, count(*) AS cnt
  FROM skew s JOIN bounds b
    ON s.v >= b.lo AND (b.hi IS NULL OR s.v < b.hi)
  GROUP BY b.nt, b.lo
), cum AS (
  SELECT nt, lo,
         sum(cnt) OVER (ORDER BY nt ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER () AS total
  FROM hist
)
SELECT round((SELECT min(lo) FROM cum WHERE cum >= ceil(total * 0.25)), 6) AS p25,
       round((SELECT min(lo) FROM cum WHERE cum >= ceil(total * 0.50)), 6) AS p50,
       round((SELECT min(lo) FROM cum WHERE cum >= ceil(total * 0.75)), 6) AS p75
""",
)
def sketch_adaptive_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile on an UNKNOWN, power-law domain via the two-pass
    equi-depth digest — value_at_quantile = left boundary of the bin
    holding the order statistic, rank error ≤ 1/ADAPTIVE_B + sampling
    slack regardless of the value distribution."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    t = F.col("l_extendedprice") / 1000.0
    skew = li.select(
        (t * t * t * t * t * t * t * t * t).alias("v"),
        "l_orderkey",
        "l_linenumber",
    )
    sample = skew.filter((F.col("l_orderkey") * 31 + F.col("l_linenumber")) % 7 == 0)
    bounds = adaptive_boundaries(sample, F.col("v"), ["l_orderkey", "l_linenumber"])
    hist = (
        skew.join(
            F.broadcast(bounds),
            (F.col("v") >= F.col("lo")) & (F.col("hi").isNull() | (F.col("v") < F.col("hi"))),
        )
        .groupBy("nt", "lo")
        .agg(F.count("*").alias("cnt"))
    )
    w_cum = W.orderBy("nt").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.select(
        "nt", "lo",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("total"),
    )

    def at(q: float, out: str) -> DataFrame:
        return cum.filter(F.col("cum") >= F.ceil(F.col("total") * q)).agg(
            F.round(F.min("lo"), 6).alias(out)
        )

    return at(0.25, "p25").crossJoin(at(0.50, "p50")).crossJoin(at(0.75, "p75"))


# --- SetDigest (type/setdigest/SetDigest.java) -----------------------------

SETDIGEST_K = 128  # bottom-k minhash size (reference DEFAULT_MAX_HASHES=8192)
_SD_MOD = 2**48  # md5-prefix hash domain
_SD_NGROUPS = 8  # suppliers 0..7 -> 28 digest pairs


def _sd_hash_sql(s: str) -> str:
    """Uniform 48-bit portable hash: first 12 hex digits of md5 — identical
    text → identical integer in both engines, uniform over [0, 2^48) (the
    rolling hash is NOT uniform for short strings, which breaks the
    k-th-order-statistic cardinality estimator)."""
    return f"CAST(('0x' || substr(md5({s}), 1, 12)) AS BIGINT)"


def _set_digest_sql() -> str:
    return f"""
WITH h AS (
  SELECT DISTINCT l_suppkey AS grp, {_sd_hash_sql("CAST(l_partkey AS VARCHAR)")} AS hv
  FROM lineitem WHERE l_suppkey < {_SD_NGROUPS}
), ranked AS (
  SELECT grp, hv, row_number() OVER (PARTITION BY grp ORDER BY hv) AS rn FROM h
), dig AS (
  SELECT grp, list_sort(list(hv)) AS mh, CAST(count(*) AS BIGINT) AS k
  FROM ranked WHERE rn <= {SETDIGEST_K} GROUP BY grp
), exact_sizes AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n FROM h GROUP BY grp
), exact_inter AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b, CAST(count(*) AS BIGINT) AS ni
  FROM h a JOIN h b ON a.hv = b.hv AND a.grp < b.grp
  GROUP BY a.grp, b.grp
), pairs AS (
  SELECT a.grp AS grp_a, b.grp AS grp_b,
         a.mh AS ma, b.mh AS mb,
         least(a.k, b.k) AS smaller
  FROM dig a JOIN dig b ON a.grp < b.grp
), est AS (
  SELECT grp_a, grp_b, smaller,
         len(list_intersect(
               list_sort(list_distinct(ma || mb))[1:CAST(smaller AS INTEGER)],
               list_intersect(ma, mb))) AS inter_k,
         list_sort(list_distinct(ma || mb)) AS u
  FROM pairs
)
SELECT e.grp_a, e.grp_b,
       round(CAST(e.inter_k AS DOUBLE) / e.smaller, 6) AS jaccard_est,
       CAST(CASE WHEN len(e.u) >= {SETDIGEST_K}
            THEN ({SETDIGEST_K} - 1) * {_SD_MOD} // e.u[{SETDIGEST_K}]
            ELSE len(e.u) END AS BIGINT) AS union_card_est,
       CAST(e.inter_k * (CASE WHEN len(e.u) >= {SETDIGEST_K}
            THEN ({SETDIGEST_K} - 1) * {_SD_MOD} // e.u[{SETDIGEST_K}]
            ELSE len(e.u) END) // e.smaller AS BIGINT) AS intersection_card_est,
       round(CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni), 6) AS jaccard_exact
FROM est e
JOIN exact_inter i ON i.grp_a = e.grp_a AND i.grp_b = e.grp_b
JOIN exact_sizes sa ON sa.grp = e.grp_a
JOIN exact_sizes sb ON sb.grp = e.grp_b
ORDER BY e.grp_a, e.grp_b
"""


@_q("agg_set_digest", _set_digest_sql())
def agg_set_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SetDigest slice (``type/setdigest/SetDigest.java``): bottom-k
    minhash digests over each supplier's distinct part set (real partial
    overlaps — pairwise jaccard ~0.15 on the testdata, sets of ~500 ≥ K
    so the estimator path is genuinely exercised), then the reference's
    pairwise estimators —

    * ``jaccard_index`` (`SetDigest.java:166-184`): walk the sorted union
      of the two digests, count members of BOTH among the first
      ``min(|a|,|b|)`` entries, divide by that size — reproduced exactly;
    * ``cardinality``/``intersection_cardinality``
      (`SetDigestFunctions.java:45-74`): the reference pairs the minhash
      with an HLL; here the union cardinality comes from the bottom-k
      k-th-order-statistic estimator ``(K−1)·M / u[K]`` in EXACT integer
      division (documented substitution — same mergeable-digest contract,
      and unlike HLL it is bit-reproducible in the oracle), and
      ``intersection ≈ jaccard · union`` as in the reference.

    Build is scale-shaped: distinct (group, element-hash) → per-group
    bottom-k via the WindowGroupLimit pattern (rank ≤ K prunes before any
    collect), digests are K longs per group, pairwise math runs on the
    tiny digest table. ``jaccard_exact`` (a distributed count join, no
    digest) rides along so the estimator error is visible in the output.
    The md5-prefix 48-bit hash stands in for Murmur3 (`:180 add()`)
    so every value is reproducible in DuckDB."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    hv = F.conv(F.substring(F.md5(F.col("l_partkey").cast("string")), 1, 12), 16, 10).cast("long")
    h = (
        li.filter(F.col("l_suppkey") < _SD_NGROUPS)
        .select(F.col("l_suppkey").alias("grp"), hv.alias("hv"))
        .distinct()
    )
    rn = F.row_number().over(W.partitionBy("grp").orderBy("hv"))
    dig = (
        h.withColumn("rn", rn)
        .filter(F.col("rn") <= SETDIGEST_K)
        .groupBy("grp")
        .agg(
            F.array_sort(F.collect_list("hv")).alias("mh"),
            F.count("*").cast("bigint").alias("k"),
        )
    )
    sizes = h.groupBy("grp").agg(F.count("*").cast("bigint").alias("n"))
    inter = (
        h.alias("a")
        .join(
            h.alias("b"),
            (F.col("a.hv") == F.col("b.hv")) & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(F.col("a.grp").alias("grp_a"), F.col("b.grp").alias("grp_b"))
        .agg(F.count("*").cast("bigint").alias("ni"))
    )
    pairs = (
        dig.alias("a")
        .join(dig.alias("b"), F.col("a.grp") < F.col("b.grp"))
        .select(
            F.col("a.grp").alias("grp_a"), F.col("b.grp").alias("grp_b"),
            F.col("a.mh").alias("ma"), F.col("b.mh").alias("mb"),
            F.least(F.col("a.k"), F.col("b.k")).alias("smaller"),
        )
    )
    u = F.array_sort(F.array_distinct(F.concat(F.col("ma"), F.col("mb"))))
    est = pairs.select(
        "grp_a", "grp_b", "smaller", u.alias("u"),
        F.size(
            F.array_intersect(
                F.slice(u, F.lit(1), F.col("smaller").cast("int")),
                F.array_intersect(F.col("ma"), F.col("mb")),
            )
        ).alias("inter_k"),
    )
    # EXACT integer floor-division parity with the oracle's `//` — computing
    # (K-1)*2^48 / u[K] in double then flooring can land one off when the
    # true quotient sits within an ulp of an integer, so both estimates run
    # through Spark's integral `div` on longs ((K-1)*2^48 < 2^52, and
    # inter_k * union_est < 2^57, both long-safe).
    numer = (SETDIGEST_K - 1) * _SD_MOD
    est = est.withColumn("u_k", F.element_at("u", SETDIGEST_K).cast("long"))
    union_est_i = F.when(
        F.size("u") >= SETDIGEST_K,
        F.expr(f"CAST({numer} AS BIGINT) div u_k"),
    ).otherwise(F.size("u").cast("long"))
    out = est.withColumn("union_card_est", union_est_i).select(
        "grp_a", "grp_b",
        F.round(F.col("inter_k").cast("double") / F.col("smaller"), 6).alias("jaccard_est"),
        "union_card_est",
        F.expr("(inter_k * union_card_est) div smaller")
        .cast("bigint")
        .alias("intersection_card_est"),
    )
    ex = (
        inter.join(sizes.alias("sa"), F.col("grp_a") == F.col("sa.grp"))
        .join(sizes.alias("sb"), F.col("grp_b") == F.col("sb.grp"))
        .select(
            "grp_a", "grp_b",
            F.round(
                F.col("ni").cast("double")
                / (F.col("sa.n") + F.col("sb.n") - F.col("ni")),
                6,
            ).alias("jaccard_exact"),
        )
    )
    return out.join(ex, ["grp_a", "grp_b"]).orderBy("grp_a", "grp_b")


# --- KHyperLogLog (type/khyperloglog/KHyperLogLog.java) --------------------

KHLL_K = 256  # bottom-k value sample (reference DEFAULT_MAX_SIZE=4096)
KHLL_HIST = 8  # uniqueness histogram size (buckets 1..8, 8 = overflow)
KHLL_REID_T = 2  # reidentification threshold


def _khll_sql() -> str:
    hv = "CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 12)) AS BIGINT)"
    return f"""
WITH vals AS (
  SELECT DISTINCT l_orderkey, {hv} AS hv FROM lineitem
), ranked AS (
  SELECT l_orderkey, hv, row_number() OVER (ORDER BY hv) AS rn FROM vals
), sampled AS (
  SELECT l_orderkey FROM ranked WHERE rn <= {KHLL_K}
), per_key AS (
  SELECT li.l_orderkey, CAST(count(DISTINCT li.l_suppkey) AS BIGINT) AS card
  FROM lineitem li JOIN sampled s ON li.l_orderkey = s.l_orderkey
  GROUP BY li.l_orderkey
), sz AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         round(CAST(sum(CASE WHEN card <= {KHLL_REID_T} THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*), 6) AS reid
  FROM per_key
), hist AS (
  SELECT least(card, {KHLL_HIST}) AS bucket, count(*) AS c FROM per_key GROUP BY 1
)
SELECT b.bucket, round(coalesce(h.c, 0) / CAST(sz.n AS DOUBLE), 6) AS fraction,
       sz.reid AS reid_potential, sz.n AS n_sampled
FROM (SELECT unnest(generate_series(1, {KHLL_HIST})) AS bucket) b
LEFT JOIN hist h ON h.bucket = b.bucket, sz
ORDER BY b.bucket
"""


@_q("agg_khyperloglog", _khll_sql())
def agg_khyperloglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KHyperLogLog (``type/khyperloglog/KHyperLogLog.java``) — the
    reidentification-risk digest: a bottom-k minhash sample of the VALUE
    column where every retained value carries the cardinality of its
    associated entity column. Reproduced here over (l_partkey →
    distinct l_suppkey):

    * ``uniqueness_distribution`` (`KHyperLogLog.java:312-327`): for each
      sampled value, bucket ``min(cardinality, histogramSize)``; emit the
      fraction of samples per bucket (zero-filled buckets included);
    * ``reidentification_potential`` (`:297-305`): fraction of sampled
      values whose entity cardinality ≤ threshold.

    Substitution (documented): the reference pairs each retained key with
    a per-key HyperLogLog; here the per-key count is EXACT
    ``count(DISTINCT)`` — the per-key sets are small by construction and
    the digest's state bound comes from the bottom-k sample, which is
    kept (K={KHLL_K} via the WindowGroupLimit pattern, uniform 48-bit
    md5-prefix hash). Only sampled keys are aggregated: the join is a
    broadcast semi over K keys, so 100 TB of fact rows reduce to K
    groups."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    hv = F.conv(
        F.substring(F.md5(F.col("l_orderkey").cast("string")), 1, 12), 16, 10
    ).cast("long")
    vals = li.select("l_orderkey").distinct().select("l_orderkey", hv.alias("hv"))
    sampled = (
        vals.withColumn("rn", F.row_number().over(W.orderBy("hv")))
        .filter(F.col("rn") <= KHLL_K)
        .select("l_orderkey")
    )
    per_key = (
        li.join(F.broadcast(sampled), "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("card"))
    )
    sz = per_key.agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            F.sum(F.when(F.col("card") <= KHLL_REID_T, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("reid"),
    )
    hist = per_key.groupBy(
        F.least(F.col("card"), F.lit(KHLL_HIST)).alias("bucket")
    ).agg(F.count("*").alias("c"))
    buckets = spark.range(1, KHLL_HIST + 1).select(F.col("id").alias("bucket"))
    return (
        buckets.join(hist, "bucket", "left")
        .crossJoin(F.broadcast(sz))
        .select(
            "bucket",
            F.round(F.coalesce(F.col("c"), F.lit(0)) / F.col("n").cast("double"), 6)
            .alias("fraction"),
            F.col("reid").alias("reid_potential"),
            F.col("n").alias("n_sampled"),
        )
        .orderBy("bucket")
    )


# --- count-min sketch: mergeable heavy-hitter counters -----------------------
#
# The reference's frequent-item story is `approx_most_frequent`
# (pm/operator/aggregation/ApproximateMostFrequentFunction.java — a
# space-saving summary). Count-min is the other classic mergeable
# frequency sketch (Cormode-Muthukrishnan), and the one whose cells are
# plain integer counters — the natural Spark shape, because a CMS row is
# literally a groupBy over (hash row, bucket) with map-side combine, and
# two sketches merge by cell-wise addition (partial/final agg for free).
#
# Determinism: hash j of a word is an md5-prefix integer — identical text
# in Spark (`conv(substr(md5(..),1,8),16,10)`) and DuckDB
# (`('0x' || substr(md5(..),1,8))::BIGINT`) — so the sketch, the
# estimates, and the CMS overestimate invariant (est >= exact, an
# equality-or-over that holds by construction, not probabilistically) are
# all value-checked exactly.

CMS_D = 4   # hash rows
CMS_W = 64  # buckets per row
CMS_TRACKED = 10  # report the top-N exact heavy hitters


def _cms_bucket_sql(j: str, word: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('cms' || CAST({j} AS VARCHAR) || ':' || {word}), 1, 8)) "
        f"AS BIGINT) % {CMS_W}"
    )


_CMS_SQL = f"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word FROM documents
), wc AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY word
), js AS (
  SELECT unnest(generate_series(0, {CMS_D - 1})) AS j
), cells AS (
  SELECT js.j, {_cms_bucket_sql('js.j', 'wc.word')} AS bucket,
         CAST(sum(wc.cnt) AS BIGINT) AS cell
  FROM wc CROSS JOIN js GROUP BY 1, 2
), tracked AS (
  SELECT word, cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk FROM wc
), est AS (
  SELECT t.rk, t.word, t.cnt, CAST(min(c.cell) AS BIGINT) AS est_cnt
  FROM tracked t CROSS JOIN js
  JOIN cells c
    ON c.j = js.j AND c.bucket = {_cms_bucket_sql('js.j', 't.word')}
  WHERE t.rk <= {CMS_TRACKED}
  GROUP BY t.rk, t.word, t.cnt
)
SELECT CAST(rk AS INTEGER) AS rk, word, cnt AS exact_cnt, est_cnt,
       (est_cnt >= cnt) AS over_ok
FROM est ORDER BY rk
"""


def _cms_bucket_col(j, word) -> F.Column:
    h = F.md5(F.concat(F.lit("cms"), j.cast("string"), F.lit(":"), word))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % CMS_W


@_q("sketch_count_min", _CMS_SQL)
def sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream + the heavy-hitter
    estimates it serves, with the CMS overestimate invariant pinned in
    the output (`over_ok` — min over rows of a cell that each include the
    word's own full count is >= the exact count BY CONSTRUCTION; the
    oracle re-derives it, so a hash or fold bug fails the value check).

    Scale shape: token counts are ONE map-side-combined groupBy (the only
    corpus-wide shuffle); the sketch is a second aggregate over the
    word-count table — NOT the raw stream — because sum of counts per
    cell equals sum of occurrences per cell (aggregation pushdown; the
    vocabulary table is orders of magnitude smaller than the corpus).
    The materialized sketch is CMS_D x CMS_W = {d}x{w} BIGINT cells —
    broadcast-trivial, mergeable cell-wise across shards/days (partial =
    final = integer addition), which is the entire point of carrying CMS
    instead of the exact vocabulary at 100 TB: the sketch is fixed-size
    state for a streaming/incremental counter, and the estimate path
    (tracked keys x CMS_D lookups joined against the broadcast cells)
    never rescans the corpus. No Python anywhere; all integer codegen.

    Reference anchor: approx_most_frequent
    (ApproximateMostFrequentFunction.java) serves the same question with
    space-saving; CMS is the mergeable-counter formulation (extension).
    """.format(d=CMS_D, w=CMS_W)
    (docs,) = load_tables(spark, sf_dir, "documents")
    wc = _cms_word_counts(docs)
    js = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("j")
    cells = (
        wc.select("word", "cnt", js)
        .select("j", _cms_bucket_col(F.col("j"), F.col("word")).alias("bucket"), "cnt")
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cell"))
    )
    return cms_estimate_report(docs, cells)


def _cms_word_counts(docs: DataFrame) -> DataFrame:
    tok = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("word")
    )
    return tok.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))


def cms_estimate_report(docs: DataFrame, cells: DataFrame) -> DataFrame:
    """Heavy-hitter report from a CMS cell table — shared by the batch
    operator and the streaming twin (whose cells are GroupState counters
    folded across microbatches; cell-wise addition is associative, so
    the stream-built sketch is bit-identical to the batch one)."""
    wc = _cms_word_counts(docs)
    js = F.explode(F.sequence(F.lit(0), F.lit(CMS_D - 1))).alias("j")
    # Vocabulary-bounded global ranking (same bound as text_tfidf_topk's
    # df table): the word-count table, not the corpus, feeds this window;
    # Catalyst plans it as TakeOrderedAndProject (plan-gated).
    tracked = (
        wc.withColumn("rk", F.row_number().over(W.orderBy(F.desc("cnt"), "word")))
        .filter(F.col("rk") <= CMS_TRACKED)
    )
    est = (
        tracked.select("rk", "word", "cnt", js)
        .withColumn("bucket", _cms_bucket_col(F.col("j"), F.col("word")))
        .join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("rk", "word", "cnt")
        .agg(F.min("cell").cast("long").alias("est_cnt"))
    )
    return est.select(
        F.col("rk").cast("int").alias("rk"),
        "word",
        F.col("cnt").alias("exact_cnt"),
        "est_cnt",
        (F.col("est_cnt") >= F.col("cnt")).alias("over_ok"),
    ).orderBy("rk")


# --- median absolute deviation (robust dispersion) ---------------------------

_MAD_SQL = """
WITH cents AS (
  SELECT o_orderpriority, CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
), med AS (
  SELECT o_orderpriority,
         CAST(2 * median(c) AS BIGINT) AS med_halfcents,
         CAST(count(*) AS BIGINT) AS n
  FROM cents GROUP BY o_orderpriority
), dev AS (
  SELECT c.o_orderpriority, m.med_halfcents, m.n,
         abs(2 * c.c - m.med_halfcents) AS d
  FROM cents c JOIN med m ON c.o_orderpriority = m.o_orderpriority
)
SELECT o_orderpriority,
       CAST(max(med_halfcents) AS BIGINT) AS med_halfcents,
       CAST(2 * median(d) AS BIGINT) AS mad_quartercents,
       CAST(max(n) AS BIGINT) AS n
FROM dev GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


sql_entry(_q, "agg_mad", _MAD_SQL)


# --- bottom-k (KMV) sample + distinct estimate --------------------------------

_BK_K = 100
_BK_DOMAIN = 2**48  # md5-prefix hash domain (same convention as SetDigest)

_BK_SQL = f"""
WITH vals AS (
  SELECT DISTINCT o_custkey AS v FROM orders
), hashed AS (
  SELECT v, CAST(('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 12)) AS BIGINT)
           AS h
  FROM vals
), bk AS (
  SELECT v, h, row_number() OVER (ORDER BY h, v) AS rk
  FROM hashed QUALIFY rk <= {_BK_K}
)
SELECT CAST(count(*) AS BIGINT) AS k_used,
       CAST(max(h) AS BIGINT) AS kth_hash,
       CAST(({_BK_K} - 1) * {_BK_DOMAIN} // max(h) AS BIGINT) AS est_distinct,
       CAST((SELECT count(*) FROM vals) AS BIGINT) AS true_distinct,
       CAST(sum(v) AS BIGINT) AS sample_sum
FROM bk
"""


@_q("sketch_bottomk_sample", _BK_SQL)
def sketch_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k / KMV sketch (Bar-Yossef et al. 2002; the k-minimum-values
    estimator behind DataSketches theta and the reference's SetDigest
    minhash side, ``SetDigest.java``): keep the k smallest 48-bit hashes
    of the distinct key set — simultaneously a MERGEABLE uniform sample
    WITHOUT replacement (union two sketches, re-take the k smallest —
    associative, no RNG state) and a distinct-count estimator
    ``(k-1)·2^48 / h_k`` evaluated in exact integer floor division so
    both engines report the identical estimate.  The true distinct count
    ships in the output row, so the estimator's error is measured, not
    asserted.

    Scale shape: the distinct collapses map-side; the bottom-k is a
    TakeOrderedAndProject (per-partition k survivors, single tiny merge)
    — the sketch never materializes more than k rows per partition; at
    100 TB shard sketches merge associatively (the same contract as the
    HLL/CMS family)."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    vals = orders.select(F.col("o_custkey").alias("v")).distinct()
    hashed = vals.select(
        "v",
        F.conv(F.substring(F.md5(F.col("v").cast("string")), 1, 12), 16, 10)
        .cast("long")
        .alias("h"),
    )
    bk = hashed.orderBy("h", "v").limit(_BK_K)
    n_true = vals.agg(F.count("*").cast("long").alias("true_distinct"))
    return (
        bk.agg(
            F.count("*").cast("long").alias("k_used"),
            F.max("h").cast("long").alias("kth_hash"),
            F.expr(f"CAST(({_BK_K} - 1) * {_BK_DOMAIN} div max(h) AS BIGINT)")
            .alias("est_distinct"),
            F.sum("v").cast("long").alias("sample_sum"),
        )
        .crossJoin(F.broadcast(n_true))
        .select("k_used", "kth_hash", "est_distinct", "true_distinct", "sample_sum")
    )


# --- theta-sketch intersection (bottom-k set algebra) --------------------------

_TH_K = 128
_TH_HASH = "CAST(('0x' || substr(md5(CAST({v} AS VARCHAR)), 1, 12)) AS BIGINT)"

_TH_SQL = f"""
WITH a AS (
  SELECT DISTINCT o_custkey AS v FROM orders WHERE year(o_orderdate) = 1996
), b AS (
  SELECT DISTINCT o_custkey AS v FROM orders WHERE year(o_orderdate) = 1997
), ha AS (
  SELECT v, {_TH_HASH.format(v='v')} AS h, row_number() OVER (ORDER BY
    {_TH_HASH.format(v='v')}, v) AS rk FROM a QUALIFY rk <= {_TH_K}
), hb AS (
  SELECT v, {_TH_HASH.format(v='v')} AS h, row_number() OVER (ORDER BY
    {_TH_HASH.format(v='v')}, v) AS rk FROM b QUALIFY rk <= {_TH_K}
), theta AS (
  SELECT least((SELECT max(h) FROM ha), (SELECT max(h) FROM hb)) AS th
), cap AS (
  SELECT CAST(count(*) AS BIGINT) AS n_common
  FROM ha JOIN hb ON ha.h = hb.h AND ha.v = hb.v CROSS JOIN theta
  WHERE ha.h <= theta.th
)
SELECT CAST((SELECT th FROM theta) AS BIGINT) AS theta,
       n_common AS sample_common,
       CAST(n_common * {2**48} // (SELECT th FROM theta) AS BIGINT)
         AS est_common,
       CAST((SELECT count(*) FROM a JOIN b ON a.v = b.v) AS BIGINT)
         AS true_common
FROM cap
"""


@_q("sketch_theta_intersection", _TH_SQL)
def sketch_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set intersection (the DataSketches theta algebra over
    the bottom-k sketch of `sketch_bottomk_sample`): estimate the overlap
    between two customer segments — 1996 buyers vs 1997 buyers — from
    their k-minimum-value sketches alone.  θ = min of the two sketches'
    k-th hashes; the intersection SAMPLE is the common hashes below θ;
    the estimate is ``|sample| * 2^48 / θ`` in exact integer floor
    division.  The true intersection ships in the output row, so the
    estimator's error is measured, not asserted.  This is the audience-
    overlap query every ad/analytics stack answers from sketches because
    the exact distinct-join over raw data is the expensive path.

    Scale shape: each segment collapses to k rows via
    TakeOrderedAndProject (per-partition survivors); the sketch-side
    join touches k x k at most; only the truth column (eval-only,
    dropped in production) pays the exact distinct-join."""
    (orders,) = load_tables(spark, sf_dir, "orders")
    h = lambda c: (  # noqa: E731
        F.conv(F.substring(F.md5(c.cast("string")), 1, 12), 16, 10).cast("long")
    )
    segs = []
    for yr in (1996, 1997):
        seg = (
            orders.filter(F.year("o_orderdate") == yr)
            .select(F.col("o_custkey").alias("v"))
            .distinct()
        )
        segs.append(
            seg.select("v", h(F.col("v")).alias("h"))
            .orderBy("h", "v")
            .limit(_TH_K)
            .localCheckpoint(eager=False)
        )
    ha, hb = segs
    theta = (
        ha.agg(F.max("h").alias("tha"))
        .crossJoin(hb.agg(F.max("h").alias("thb")))
        .select(F.least("tha", "thb").alias("th"))
    )
    common = (
        ha.join(hb, ["h", "v"])
        .crossJoin(F.broadcast(theta))
        .filter(F.col("h") <= F.col("th"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    a = (
        orders.filter(F.year("o_orderdate") == 1996)
        .select(F.col("o_custkey").alias("v"))
        .distinct()
    )
    b = (
        orders.filter(F.year("o_orderdate") == 1997)
        .select(F.col("o_custkey").alias("v"))
        .distinct()
    )
    truth = a.join(b, "v").agg(F.count("*").cast("long").alias("true_common"))
    return (
        common.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(truth))
        .select(
            F.col("th").cast("long").alias("theta"),
            F.col("n_common").alias("sample_common"),
            F.expr(f"CAST(n_common * {2**48} div th AS BIGINT)").alias(
                "est_common"
            ),
            "true_common",
        )
    )


# --- Bloom filter size planner (r13) -----------------------------------------
# dedup_bloom_prefilter and join_bloom_prefilter USE Bloom filters; this
# op plans them: for each (relation key, target FPR) pair, the optimal
# bit count m = ceil(n * ln(1/p) / ln(2)^2) and hash count
# k = round(m/n * ln 2) from the measured NDV.  The two transcendental
# constants are e9-quantized Python literals embedded identically in
# both engines, so the plan is exact integer arithmetic — the sizing
# table a 100 TB shuffle-pruning deploy reads before allocating bits.

import math as _math

_BLOOM_FPRS = (100, 1000)  # 1/fpr: 1% and 0.1%
_BLOOM_C = {  # ln(1/p)/ln(2)^2, e9
    f: round(_math.log(f) / (_math.log(2) ** 2) * 1e9) for f in _BLOOM_FPRS
}
_LN2_E9 = round(_math.log(2) * 1e9)

_BLOOMPLAN_SQL = f"""
WITH ndv AS (
  SELECT 'orders.o_custkey' AS rel, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n
  FROM orders
  UNION ALL
  SELECT 'lineitem.l_partkey', CAST(count(DISTINCT l_partkey) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'events.user_id', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
), fpr(inv_fpr, c_e9) AS (
  VALUES {", ".join(f"({f}, {c})" for f, c in sorted(_BLOOM_C.items()))}
), plan AS (
  SELECT rel, n, inv_fpr,
         (n * c_e9 + 999999999) // 1000000000 AS m_bits
  FROM ndv, fpr
)
SELECT rel, n AS ndv, CAST(inv_fpr AS BIGINT) AS inv_fpr,
       CAST(m_bits AS BIGINT) AS m_bits,
       CAST((m_bits + 7) // 8 AS BIGINT) AS m_bytes,
       CAST((m_bits * {_LN2_E9} + n * 500000000) // (n * 1000000000)
            AS BIGINT) AS k_hashes,
       CAST(m_bits * 100 // n AS BIGINT) AS bits_per_key_e2
FROM plan ORDER BY rel, inv_fpr
"""


@_q("sketch_bloom_size_planner", _BLOOMPLAN_SQL)
def sketch_bloom_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom sizing plan for three join/dedup key columns at 1% and 0.1%
    target FPR: measured NDV -> optimal bits (ceil(n*ln(1/p)/ln2^2)),
    bytes, and hash count (round(m/n*ln2)) — all via e9 integer
    constants, no runtime transcendentals.

    Scale: three map-side-combinable count-distincts (exact NDV here;
    swap in approx_distinct at 100 TB — the plan formula is the same),
    cross-joined with a 2-row constant FPR table; output is
    |keys| x |FPRs| rows."""
    orders = load_tables(spark, sf_dir, "orders")[0]
    li = load_tables(spark, sf_dir, "lineitem")[0]
    ev = load_tables(spark, sf_dir, "events")[0]
    ndv = (
        orders.agg(F.countDistinct("o_custkey").cast("long").alias("n"))
        .select(F.lit("orders.o_custkey").alias("rel"), "n")
        .unionAll(
            li.agg(F.countDistinct("l_partkey").cast("long").alias("n"))
            .select(F.lit("lineitem.l_partkey").alias("rel"), "n")
        )
        .unionAll(
            ev.agg(F.countDistinct("user_id").cast("long").alias("n"))
            .select(F.lit("events.user_id").alias("rel"), "n")
        )
    )
    from ..catalog import small_df

    fpr = F.broadcast(
        small_df(spark, sorted(_BLOOM_C.items()), "inv_fpr long, c_e9 long")
    )
    plan = ndv.crossJoin(fpr).withColumn(
        "m_bits", F.expr("(n * c_e9 + 999999999) div 1000000000")
    )
    return plan.select(
        "rel",
        F.col("n").alias("ndv"),
        "inv_fpr",
        "m_bits",
        F.expr("(m_bits + 7) div 8").alias("m_bytes"),
        F.expr(
            f"(m_bits * {_LN2_E9} + n * 500000000) div (n * 1000000000)"
        ).alias("k_hashes"),
        F.expr("m_bits * 100 div n").alias("bits_per_key_e2"),
    ).orderBy("rel", "inv_fpr")
