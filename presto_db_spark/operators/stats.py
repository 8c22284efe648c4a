"""Experiment-analysis statistics: Welch t-test, Mann-Whitney U, one-way
ANOVA, model-calibration reliability, and the AMS F2 moment sketch.

The reference exposes the building blocks (``variance``/``stddev`` in
``pm/operator/aggregation/VarianceAggregation``-family,
``StatisticalDigest``, ``wilson_interval_*`` in
``presto-main/.../MathFunctions.java``) but no packaged hypothesis tests;
these extend the r10 ``events_ab_chisq`` family with the three tests an
experimentation platform runs beside the chi-square, following the same
contract: experiment membership is a deterministic md5 bucket (identical
at any partitioning and in both engines), every accumulated statistic is
an EXACT INTEGER (cents, counts, sums of squares), and each significance
flag is decided by integer cross-multiplication wherever 128-bit
arithmetic can hold it — a float ulp can never flip a decision the two
engines would disagree on. Displayed statistics (t, z, F) are a fixed
IEEE expression tree over exactly-agreed integers, so both engines
produce bit-identical doubles.

Scale shape notes (100 TB):

* every test folds events → per-user metrics with ONE map-side-combined
  groupBy, then reduces to a handful of group accumulators — a global
  aggregate of O(1) counters;
* Mann-Whitney needs a global rank; it ranks the DISTINCT metric values
  via ``distrank.global_index`` (range-partition + prefix-offset running
  sum — never a single-partition window), so the ordered pass touches
  |distinct values| ≤ |users| rows, already aggregated.

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, small_df
from ..engine import sql_entry
from ..registry import family
from .events import CHI2_CRIT_E6

QUERIES, ORACLE, _q = family()


# chi-square df=2 critical value at alpha=0.05, e6 (for the ANOVA F with
# df1=2 against the large-sample F(2, inf) = chi2(2)/2 limit).
CHI2_DF2_CRIT_E6 = 5_991_465


def _md5_bucket(prefix: str, col: str, ndigits: int) -> F.Column:
    """First ``ndigits`` hex digits of md5(prefix || col) as a BIGINT —
    the deterministic experiment-assignment hash (identical in DuckDB via
    CAST('0x' || substr(md5(...), 1, n) AS INTEGER))."""
    h = F.md5(F.concat(F.lit(prefix), F.col(col).cast("string")))
    return F.conv(F.substring(h, 1, ndigits), 16, 10).cast("bigint")


_SPEND_USERS_SQL = """
  SELECT user_id,
         CASE WHEN (CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 2))
                    AS INTEGER) % 2) = 0 THEN 'A' ELSE 'B' END AS variant,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
"""


def _spend_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase spend in exact cents + md5 variant (same 'ab:'
    split as events_ab_chisq — one experiment, several readouts)."""
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(_md5_bucket("ab:", "user_id", 2) % 2 == 0, "A").otherwise("B")
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("bigint"),
    ).otherwise(F.lit(0))
    return ev.groupBy("user_id", variant.alias("variant")).agg(
        F.sum(cents).cast("bigint").alias("cents")
    )


# --- Welch's t-test ----------------------------------------------------------

_WELCH_SQL = f"""
WITH users AS ({_SPEND_USERS_SQL}
), g AS (
  SELECT
    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(sum(CASE WHEN variant = 'A' THEN cents ELSE 0 END) AS BIGINT) AS sa,
    CAST(sum(CASE WHEN variant = 'B' THEN cents ELSE 0 END) AS BIGINT) AS sb,
    CAST(sum(CASE WHEN variant = 'A' THEN cents * cents ELSE 0 END) AS BIGINT) AS qa,
    CAST(sum(CASE WHEN variant = 'B' THEN cents * cents ELSE 0 END) AS BIGINT) AS qb
  FROM users
), s AS (
  SELECT na, nb, sa, sb,
         sa * nb - sb * na AS dd,
         na * qa - sa * sa AS van,
         nb * qb - sb * sb AS vbn
  FROM g
), x AS (
  SELECT na, nb, sa, sb, dd, van, vbn,
    CAST(dd AS DECIMAL(38, 0)) * CAST(dd AS DECIMAL(38, 0))
      * CAST((na - 1) * (nb - 1) AS DECIMAL(38, 0)) * 1000000 AS lhs,
    CAST({CHI2_CRIT_E6} AS DECIMAL(38, 0))
      * (CAST(van AS DECIMAL(38, 0)) * CAST(nb * nb * (nb - 1) AS DECIMAL(38, 0))
         + CAST(vbn AS DECIMAL(38, 0)) * CAST(na * na * (na - 1) AS DECIMAL(38, 0)))
      AS rhs
  FROM s
)
SELECT na AS n_a, nb AS n_b,
       CAST(sa * 100 // na AS BIGINT) AS mean_a_centi,
       CAST(sb * 100 // nb AS BIGINT) AS mean_b_centi,
       CASE WHEN na < 2 OR nb < 2 OR van + vbn = 0 THEN 0.0
            ELSE round(
              (CAST(dd AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
              / sqrt(
                  CAST(van AS DOUBLE)
                    / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))
                  + CAST(vbn AS DOUBLE)
                    / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))
                ), 4) END AS t_stat,
       (na > 1 AND nb > 1 AND
        CASE WHEN rhs = 0 THEN dd <> 0 ELSE lhs > rhs END) AS significant
FROM x
"""


@_q("events_ab_welch_ttest", _WELCH_SQL)
def events_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on per-user spend (cents). The
    decision is EXACT-INTEGER: with D = sa*nb - sb*na and the variance
    numerators v_i = n_i*q_i - s_i^2, the condition t^2 > z_crit^2
    cross-multiplies to D^2 (na-1)(nb-1) 1e6 > crit_e6 * (va*nb^2(nb-1) +
    vb*na^2(na-1)) in DECIMAL(38,0) — exact through roughly sf 1 (the
    128-bit bound; the margin at that scale is many orders of magnitude,
    and the displayed t is the same IEEE expression in both engines).
    Large-sample critical value (z 1.96, df -> inf): per-variant user
    counts at any production scale put the t and z quantiles within 1e-4.
    Scale: one groupBy(user) fold + one global 6-counter aggregate."""
    users = _spend_users(spark, sf_dir)
    a = F.col("variant") == "A"
    g = users.agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(~a, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(a, F.col("cents")).otherwise(0)).cast("long").alias("sa"),
        F.sum(F.when(~a, F.col("cents")).otherwise(0)).cast("long").alias("sb"),
        F.sum(F.when(a, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("long").alias("qa"),
        F.sum(F.when(~a, F.col("cents") * F.col("cents")).otherwise(0))
        .cast("long").alias("qb"),
    )
    s = g.select(
        "*",
        F.expr("sa * nb - sb * na").alias("dd"),
        F.expr("na * qa - sa * sa").alias("van"),
        F.expr("nb * qb - sb * sb").alias("vbn"),
    )
    x = s.select(
        "*",
        F.expr(
            "CAST(dd AS DECIMAL(38,0)) * CAST(dd AS DECIMAL(38,0))"
            " * CAST((na - 1) * (nb - 1) AS DECIMAL(38,0)) * 1000000"
        ).alias("lhs"),
        F.expr(
            f"CAST({CHI2_CRIT_E6} AS DECIMAL(38,0))"
            " * (CAST(van AS DECIMAL(38,0)) * CAST(nb * nb * (nb - 1) AS DECIMAL(38,0))"
            "    + CAST(vbn AS DECIMAL(38,0)) * CAST(na * na * (na - 1) AS DECIMAL(38,0)))"
        ).alias("rhs"),
    )
    return x.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr("sa * 100 div na").cast("bigint").alias("mean_a_centi"),
        F.expr("sb * 100 div nb").cast("bigint").alias("mean_b_centi"),
        F.expr(
            "CASE WHEN na < 2 OR nb < 2 OR van + vbn = 0 THEN 0.0"
            " ELSE round("
            "   (CAST(dd AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))"
            "   / sqrt("
            "       CAST(van AS DOUBLE)"
            "         / (CAST(na AS DOUBLE) * CAST(na AS DOUBLE) * CAST(na - 1 AS DOUBLE))"
            "       + CAST(vbn AS DOUBLE)"
            "         / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE) * CAST(nb - 1 AS DOUBLE))"
            "     ), 4) END"
        ).alias("t_stat"),
        F.expr(
            "na > 1 AND nb > 1 AND"
            " CASE WHEN rhs = 0 THEN dd <> 0 ELSE lhs > rhs END"
        ).alias("significant"),
    )


# --- Mann-Whitney U (rank-sum, tie-corrected) --------------------------------

_MW_SQL = f"""
WITH users AS ({_SPEND_USERS_SQL}
), byval AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a
  FROM users GROUP BY cents
), ranked AS (
  SELECT cents, cnt, cnt_a,
         CAST(coalesce(sum(cnt) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum_before
  FROM byval
), g AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(cnt_a) AS BIGINT) AS na,
         CAST(sum(cnt_a * (2 * cum_before + cnt + 1)) AS BIGINT) AS r2a,
         CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
  FROM ranked
), s AS (
  SELECT n, na, n - na AS nb, r2a,
         r2a - na * (na + 1) - na * (n - na) AS d,
         n * n * n - n - ties AS tt
  FROM g
)
SELECT na AS n_a, nb AS n_b,
       CAST(r2a - na * (na + 1) AS BIGINT) AS u1_times2,
       CASE WHEN na = 0 OR nb = 0 OR tt = 0 THEN 0.0
            ELSE round(CAST(d AS DOUBLE)
                 / sqrt(CAST(na * nb AS DOUBLE) * CAST(tt AS DOUBLE)
                        / (3.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 4)
            END AS z_stat,
       (na > 0 AND nb > 0 AND tt > 0 AND
        CAST(d AS DECIMAL(38, 0)) * CAST(d AS DECIMAL(38, 0))
          * CAST(3 * n * (n - 1) AS DECIMAL(38, 0)) * 1000000
        > CAST({CHI2_CRIT_E6} AS DECIMAL(38, 0))
          * CAST(na * nb AS DECIMAL(38, 0)) * CAST(tt AS DECIMAL(38, 0)))
         AS significant
FROM s
"""


@_q("events_ab_mann_whitney", _MW_SQL)
def events_ab_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (tie-corrected normal approximation)
    on per-user spend. Average ranks over tie groups are kept EXACT by
    doubling: 2*avgrank = 2*cum_before + cnt + 1, so the rank sum R2a =
    sum(cnt_a * (2 cum_before + cnt + 1)) and d = 2U1 - na*nb are
    integers, and the tie-corrected decision z^2 > crit cross-multiplies
    to 3 d^2 N(N-1) 1e6 > crit_e6 * na*nb*(N^3 - N - ties) — all
    128-bit-exact well past sf 10.

    Scale: the ordered pass runs over DISTINCT cents values (already one
    groupBy down from users), and the running count comes from
    ``distrank.global_index``'s range-partition + prefix-offset sum —
    there is NO single-partition window anywhere in the plan."""
    from .distrank import global_index

    users = _spend_users(spark, sf_dir)
    byval = users.groupBy("cents").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("long").alias("cnt_a"),
    )
    ranked = global_index(byval, ["cents"], sum_col="cnt").select(
        "cents", "cnt", "cnt_a",
        (F.col("__csum") - F.col("cnt")).cast("long").alias("cum_before"),
    )
    g = ranked.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt_a").cast("long").alias("na"),
        F.sum(
            F.col("cnt_a") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        ).cast("long").alias("r2a"),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).cast("long").alias("ties"),
    )
    s = g.select(
        "*",
        F.expr("n - na").alias("nb"),
        F.expr("r2a - na * (na + 1) - na * (n - na)").alias("d"),
        F.expr("n * n * n - n - ties").alias("tt"),
    )
    return s.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr("r2a - na * (na + 1)").cast("bigint").alias("u1_times2"),
        F.expr(
            "CASE WHEN na = 0 OR nb = 0 OR tt = 0 THEN 0.0"
            " ELSE round(CAST(d AS DOUBLE)"
            "      / sqrt(CAST(na * nb AS DOUBLE) * CAST(tt AS DOUBLE)"
            "             / (3.0 * CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))), 4)"
            " END"
        ).alias("z_stat"),
        F.expr(
            "na > 0 AND nb > 0 AND tt > 0 AND"
            " CAST(d AS DECIMAL(38,0)) * CAST(d AS DECIMAL(38,0))"
            "   * CAST(3 * n * (n - 1) AS DECIMAL(38,0)) * 1000000"
            f" > CAST({CHI2_CRIT_E6} AS DECIMAL(38,0))"
            "   * CAST(na * nb AS DECIMAL(38,0)) * CAST(tt AS DECIMAL(38,0))"
        ).alias("significant"),
    )


# --- one-way ANOVA (3 md5 variants) ------------------------------------------

_ANOVA_USERS_SQL = """
  SELECT user_id,
         CAST(('0x' || substr(md5('ab3:' || CAST(user_id AS VARCHAR)), 1, 2))
              AS INTEGER) % 3 AS variant,
         CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
           AS cents
  FROM events GROUP BY 1, 2
"""

_ANOVA_SQL = f"""
WITH users AS ({_ANOVA_USERS_SQL}
), g AS (
  SELECT
    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
    CAST(sum(CASE WHEN variant = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
    CAST(sum(CASE WHEN variant = 0 THEN cents ELSE 0 END) AS BIGINT) AS sa,
    CAST(sum(CASE WHEN variant = 1 THEN cents ELSE 0 END) AS BIGINT) AS sb,
    CAST(sum(CASE WHEN variant = 2 THEN cents ELSE 0 END) AS BIGINT) AS sc,
    CAST(sum(cents * cents) AS BIGINT) AS q
  FROM users
), d AS (
  SELECT na, nb, nc, na + nb + nc AS n,
         sa + sb + sc AS s, q,
         CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)
           + CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
           + CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE) AS sg
  FROM g
), f AS (
  SELECT na, nb, nc, n,
         sg - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
         CAST(q AS DOUBLE) - sg AS ssw
  FROM d
)
SELECT na AS n_a, nb AS n_b, nc AS n_c,
       round(ssb, 2) AS ssb, round(ssw, 2) AS ssw,
       CASE WHEN n < 4 OR ssw <= 0.0 THEN 0.0
            ELSE round((ssb / 2.0) / (ssw / CAST(n - 3 AS DOUBLE)), 4) END AS f_stat,
       (n > 3 AND ssw > 0.0 AND
        (ssb / 2.0) / (ssw / CAST(n - 3 AS DOUBLE))
          > {CHI2_DF2_CRIT_E6} / 2.0e6) AS significant
FROM f
"""


@_q("events_ab_anova", _ANOVA_SQL)
def events_ab_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across THREE md5 variants ('ab3:' split, mod 3) on
    per-user spend. All accumulators (n_i, s_i, sum of squares) are exact
    integers; SSB/SSW/F are then ONE fixed IEEE expression tree over
    those integers, so both engines produce bit-identical doubles and the
    F > F_crit(2, inf) = chi2_crit(2)/2 comparison cannot diverge. (The
    three-group cross-multiplied exact form needs ~2^140 at target SF —
    past 128-bit — which is why this test, unlike Welch/MW, documents the
    deterministic-double decision instead.) Scale: one groupBy(user) fold
    + one 7-counter global aggregate."""
    ev = load_table(spark, sf_dir, "events")
    variant = (_md5_bucket("ab3:", "user_id", 2) % 3).cast("int")
    cents = F.when(
        F.col("event_type") == "purchase",
        F.round(F.col("value") * 100).cast("bigint"),
    ).otherwise(F.lit(0))
    users = ev.groupBy("user_id", variant.alias("variant")).agg(
        F.sum(cents).cast("bigint").alias("cents")
    )
    g = users.agg(
        *[
            F.sum(F.when(F.col("variant") == i, 1).otherwise(0))
            .cast("long").alias(n)
            for i, n in ((0, "na"), (1, "nb"), (2, "nc"))
        ],
        *[
            F.sum(F.when(F.col("variant") == i, F.col("cents")).otherwise(0))
            .cast("long").alias(n)
            for i, n in ((0, "sa"), (1, "sb"), (2, "sc"))
        ],
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("q"),
    )
    d = g.select(
        "na", "nb", "nc",
        F.expr("na + nb + nc").alias("n"),
        F.expr("sa + sb + sc").alias("s"),
        "q",
        F.expr(
            "CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
            " + CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)"
            " + CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE)"
        ).alias("sg"),
    )
    f = d.select(
        "na", "nb", "nc", "n",
        F.expr(
            "sg - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
        ).alias("ssb"),
        F.expr("CAST(q AS DOUBLE) - sg").alias("ssw"),
    )
    return f.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.col("nc").alias("n_c"),
        F.round("ssb", 2).alias("ssb"),
        F.round("ssw", 2).alias("ssw"),
        F.expr(
            "CASE WHEN n < 4 OR ssw <= 0.0 THEN 0.0"
            " ELSE round((ssb / 2.0) / (ssw / CAST(n - 3 AS DOUBLE)), 4) END"
        ).alias("f_stat"),
        F.expr(
            "n > 3 AND ssw > 0.0 AND"
            " (ssb / 2.0) / (ssw / CAST(n - 3 AS DOUBLE))"
            f" > {CHI2_DF2_CRIT_E6} / 2.0e6"
        ).alias("significant"),
    )


# --- calibration reliability (binned predicted vs observed) ------------------

_CALIB_SQL = """
WITH users AS (
  SELECT user_id,
         CAST(('0x' || substr(md5('cal:' || CAST(user_id AS VARCHAR)), 1, 5))
              AS INTEGER) % 1000000 AS pred_ppm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
)
SELECT CAST(pred_ppm // 100000 AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(pred_ppm) // count(*) AS BIGINT) AS mean_pred_ppm,
       CAST(sum(converted) * 1000000 // count(*) AS BIGINT) AS obs_ppm,
       CAST(abs(sum(pred_ppm) // count(*)
                - sum(converted) * 1000000 // count(*)) AS BIGINT) AS gap_ppm
FROM users GROUP BY 1 ORDER BY bin
"""


@_q("ml_calibration_reliability", _CALIB_SQL)
def ml_calibration_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram (model calibration): a deterministic md5 score
    in ppm stands in for a model's predicted conversion probability, the
    observed rate is the user's actual purchase conversion, and each
    decile bin reports mean-predicted vs observed ppm plus the exact
    integer gap — the per-bin table an ECE/calibration monitor ingests
    (complements the r11i/j ROC-AUC, PR-curve and Brier entries). Scale:
    one groupBy(user) fold + one 10-bin groupBy. No floats anywhere."""
    ev = load_table(spark, sf_dir, "events")
    pred = (_md5_bucket("cal:", "user_id", 5) % 1000000).alias("pred_ppm")
    users = ev.groupBy("user_id", pred).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    return (
        users.groupBy(
            F.expr("pred_ppm div 100000").cast("bigint").alias("bin")
        )
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.expr("sum(pred_ppm) div count(*)").cast("bigint")
            .alias("mean_pred_ppm"),
            F.expr("sum(converted) * 1000000 div count(*)").cast("bigint")
            .alias("obs_ppm"),
            F.expr(
                "abs(sum(pred_ppm) div count(*)"
                " - sum(converted) * 1000000 div count(*))"
            ).cast("bigint").alias("gap_ppm"),
        )
        .orderBy("bin")
    )


# --- AMS F2 moment sketch ----------------------------------------------------

# 8 independent +/-1 hash estimators; the sign hash is explicit integer
# arithmetic ((u*2654435761 + j*40503) mod 2^31-1 mod 2) so both engines
# agree bit-for-bit. Alon-Matias-Szegedy 1996: E[(sum_u f_u s_j(u))^2]=F2.
_AMS_K = 8
_AMS_SIGN = "(1 - 2 * (((user_id * 2654435761 + {j} * 40503) % 2147483647) % 2))"

_AMS_SQL = f"""
WITH sk AS (
  SELECT t.j AS estimator,
         CAST(sum({_AMS_SIGN.format(j='t.j')}) AS BIGINT) AS x_sum
  FROM events, range(0, {_AMS_K}) t(j)
  GROUP BY t.j
), exact AS (
  SELECT CAST(sum(f * f) AS BIGINT) AS f2
  FROM (SELECT count(*) AS f FROM events GROUP BY user_id)
)
SELECT CAST(estimator AS BIGINT) AS estimator, x_sum,
       CAST(x_sum * x_sum AS BIGINT) AS estimate, f2 AS exact_f2,
       CAST(abs(x_sum * x_sum - f2) * 1000000 // f2 AS BIGINT) AS err_ppm
FROM sk, exact
ORDER BY estimator
"""


@_q("sketch_ams_f2", _AMS_SQL)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS (tug-of-war) sketch for the second frequency moment F2 =
    sum_u f_u^2 of the per-user event counts: 8 +/-1-hash estimators,
    each a single signed counter, squared. The sketch side never builds
    the frequency vector — it is 8 sum expressions in ONE map-side-
    combined global aggregate over raw events (mergeable across any
    partitioning; this is the property that makes it a 100 TB sketch).
    The exact F2 (oracle anchor + reported error) is one groupBy(user).
    Sign hashes are explicit integer arithmetic — identical in both
    engines — so estimates match bit-for-bit, and the measured err_ppm
    is REPORTED, not asserted."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    sign_sums = ev.agg(
        *[
            F.expr(f"sum({_AMS_SIGN.format(j=j)})").cast("long").alias(f"x{j}")
            for j in range(_AMS_K)
        ]
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("f"))
        .agg(F.sum(F.col("f") * F.col("f")).cast("long").alias("f2"))
    )
    wide = sign_sums.crossJoin(exact)
    est = wide.select(
        F.posexplode(F.array(*[F.col(f"x{j}") for j in range(_AMS_K)])).alias(
            "estimator", "x_sum"
        ),
        "f2",
    )
    return est.select(
        F.col("estimator").cast("bigint").alias("estimator"),
        F.col("x_sum").cast("long").alias("x_sum"),
        (F.col("x_sum") * F.col("x_sum")).cast("long").alias("estimate"),
        F.col("f2").alias("exact_f2"),
        F.expr("abs(x_sum * x_sum - f2) * 1000000 div f2").cast("bigint")
        .alias("err_ppm"),
    ).orderBy("estimator")


# --- experiment power analysis (r11y wave) -----------------------------------
# The planning half of the A/B family (chisq/Welch/MW read out a finished
# experiment; this sizes the next one): required users per arm for a
# two-proportion z-test at alpha=0.05 / power=0.8 across a grid of
# relative minimum-detectable-effects. z quantiles enter as FIXED e6
# integer constants (z_0.975 = 1.959964, z_0.8 = 0.841621 — no libm at
# runtime), so n = ceil(z_sum^2 * (p1q1 + p2q2) / delta^2) is one exact
# 128-bit cross-multiplication with a ceil via (num + den - 1) / den.

Z_SUM_E6 = 1_959_964 + 841_621          # z_alpha/2 + z_beta, e6
Z_SUM_SQ_E12 = Z_SUM_E6 * Z_SUM_E6      # exact integer, e12 scale
POWER_MDES_PPM = [10_000, 20_000, 50_000, 100_000]  # +1%, +2%, +5%, +10%
POWER_CONV_MIN_PURCHASES = 15

_POWER_USERS_SQL = f"""
  SELECT user_id,
         CASE WHEN (CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 2))
                    AS INTEGER) % 2) = 0 THEN 'A' ELSE 'B' END AS variant,
         CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   >= {POWER_CONV_MIN_PURCHASES} THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY 1, 2
"""

_POWER_SQL = f"""
WITH users AS ({_POWER_USERS_SQL}
), base AS (
  SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN variant = 'A' THEN converted ELSE 0 END) AS BIGINT)
           AS conv_a
  FROM users
), p AS (
  SELECT na, nb, conv_a * 1000000 // na AS p1 FROM base
), grid AS (
  SELECT p.na, p.nb, p.p1, m.mde_ppm,
         least(p.p1 * (1000000 + m.mde_ppm) // 1000000, 999999) AS p2
  FROM p CROSS JOIN (VALUES {", ".join(f"({m})" for m in POWER_MDES_PPM)})
       m(mde_ppm)
)
SELECT CAST(mde_ppm AS BIGINT) AS mde_ppm,
       p1 AS p1_ppm, CAST(p2 AS BIGINT) AS p2_ppm,
       CAST(CASE WHEN p2 <= p1 THEN NULL
            ELSE (CAST({Z_SUM_SQ_E12} AS HUGEINT)
                  * CAST(p1 * (1000000 - p1) + p2 * (1000000 - p2) AS HUGEINT)
                  + CAST(p2 - p1 AS HUGEINT) * CAST(p2 - p1 AS HUGEINT)
                    * 1000000000000 - 1)
                 // (CAST(p2 - p1 AS HUGEINT) * CAST(p2 - p1 AS HUGEINT)
                     * 1000000000000)
            END AS BIGINT) AS n_required_per_arm,
       least(na, nb) AS n_observed_min,
       (p2 > p1 AND least(na, nb)
          * (CAST(p2 - p1 AS HUGEINT) * CAST(p2 - p1 AS HUGEINT)
             * 1000000000000)
          >= CAST({Z_SUM_SQ_E12} AS HUGEINT)
             * CAST(p1 * (1000000 - p1) + p2 * (1000000 - p2) AS HUGEINT))
         AS adequately_powered
FROM grid ORDER BY mde_ppm
"""


@_q("events_ab_power_analysis", _POWER_SQL)
def events_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion sample-size calculator over the live baseline:
    conversion = heavy purchaser (>= {K} purchases — mid-range rate at
    every SF, unlike any-purchase which saturates), baseline p1 from
    variant A, and for each relative MDE the required users per arm
    n = ceil(z_sum^2 (p1q1 + p2q2) / delta^2) — all exact integer ppm
    cross-multiplication (z constants are fixed e6 literals; ceil is
    (num + den - 1) div den; p2 caps at 999999 and a non-positive delta
    reports NULL rather than dividing by zero). adequately_powered
    compares the observed min arm against the requirement with the SAME
    integers, so the boolean cannot disagree across engines. Scale: one
    per-user fold + one 3-counter aggregate + a 4-row broadcast grid."""
    users_variant = F.when(
        _md5_bucket("ab:", "user_id", 2) % 2 == 0, "A"
    ).otherwise("B")
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id", users_variant.alias("variant")).agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            >= POWER_CONV_MIN_PURCHASES,
            1,
        ).otherwise(0).alias("converted")
    )
    base = users.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("long").alias("na"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("long").alias("nb"),
        F.sum(F.when(F.col("variant") == "A", F.col("converted")).otherwise(0))
        .cast("long").alias("conv_a"),
    )
    p = base.select(
        "na", "nb", F.expr("conv_a * 1000000 div na").alias("p1")
    )
    mdes = small_df(spark, [(m,) for m in POWER_MDES_PPM], "mde_ppm int")
    grid = p.crossJoin(F.broadcast(mdes)).select(
        "na", "nb", "p1", "mde_ppm",
        F.expr(
            "least(p1 * (1000000 + mde_ppm) div 1000000, 999999)"
        ).alias("p2"),
    )
    dec = "DECIMAL(38,0)"
    d2e12 = (
        f"CAST(p2 - p1 AS {dec}) * CAST(p2 - p1 AS {dec}) * 1000000000000"
    )
    varsum = f"CAST(p1 * (1000000 - p1) + p2 * (1000000 - p2) AS {dec})"
    return grid.select(
        F.col("mde_ppm").cast("bigint").alias("mde_ppm"),
        F.col("p1").cast("bigint").alias("p1_ppm"),
        F.col("p2").cast("bigint").alias("p2_ppm"),
        F.expr(
            f"CAST(CASE WHEN p2 <= p1 THEN NULL"
            f" ELSE (CAST({Z_SUM_SQ_E12} AS {dec}) * {varsum}"
            f"       + {d2e12} - 1) div ({d2e12})"
            f" END AS BIGINT)"
        ).alias("n_required_per_arm"),
        F.expr("least(na, nb)").cast("bigint").alias("n_observed_min"),
        F.expr(
            f"p2 > p1 AND CAST(least(na, nb) AS {dec}) * ({d2e12})"
            f" >= CAST({Z_SUM_SQ_E12} AS {dec}) * {varsum}"
        ).alias("adequately_powered"),
    ).orderBy("mde_ppm")


events_ab_power_analysis.__doc__ = events_ab_power_analysis.__doc__.format(
    K=POWER_CONV_MIN_PURCHASES
)


# --- sample-ratio mismatch (r11y wave) ---------------------------------------
# THE experiment health check: before reading any metric, test whether
# the observed assignment split matches the designed 50/50 ratio — a
# mismatch (SRM) invalidates the experiment (broken logging, bot
# filtering, redirect loss). One-sample chi-square against expectation
# n/2 per arm: chi2 = (na - nb)^2 / n, decided by the events_ab_chisq
# integer cross-multiplication so the alarm cannot flip on a float ulp.

_SRM_SQL = f"""
WITH users AS (
  SELECT DISTINCT user_id,
         CASE WHEN (CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 2))
                    AS INTEGER) % 2) = 0 THEN 'A' ELSE 'B' END AS variant
  FROM events
), c AS (
  SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb
  FROM users
)
SELECT na AS n_a, nb AS n_b,
       CAST((na - nb) * 1000000 // (na + nb) AS BIGINT) AS imbalance_ppm,
       CASE WHEN na + nb = 0 THEN 0.0
            ELSE round(CAST((na - nb) * (na - nb) AS DOUBLE)
                       / CAST(na + nb AS DOUBLE), 6) END AS chi2,
       (na + nb > 0 AND
        (na - nb) * (na - nb) * 1000000 > {CHI2_CRIT_E6} * (na + nb))
         AS srm_detected
FROM c
"""


@_q("events_ab_srm_check", _SRM_SQL)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for the 'ab:' experiment: exact
    one-sample chi-square of the observed arm counts against the
    designed 50/50 split — (na−nb)²/n with the pure-integer decision
    (na−nb)²·10⁶ > crit_e6·n (int64-safe to ~9·10⁶ users per arm²...
    the cross term (na−nb)² caps at n², so BIGINT holds through ~3·10⁶
    imbalanced users; DECIMAL widening is the documented upgrade).
    Runs BEFORE any metric readout — an SRM invalidates the experiment.
    Scale: one distinct per-user fold + one 2-counter aggregate."""
    ev = load_table(spark, sf_dir, "events")
    variant = F.when(_md5_bucket("ab:", "user_id", 2) % 2 == 0, "A").otherwise("B")
    users = ev.select("user_id", variant.alias("variant")).distinct()
    c = users.agg(
        F.sum(F.when(F.col("variant") == "A", 1).otherwise(0))
        .cast("long").alias("na"),
        F.sum(F.when(F.col("variant") == "B", 1).otherwise(0))
        .cast("long").alias("nb"),
    )
    return c.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.expr("(na - nb) * 1000000 div (na + nb)").cast("bigint")
        .alias("imbalance_ppm"),
        F.expr(
            "CASE WHEN na + nb = 0 THEN 0.0"
            " ELSE round(CAST((na - nb) * (na - nb) AS DOUBLE)"
            "            / CAST(na + nb AS DOUBLE), 6) END"
        ).alias("chi2"),
        F.expr(
            "na + nb > 0 AND"
            f" (na - nb) * (na - nb) * 1000000 > {CHI2_CRIT_E6} * (na + nb)"
        ).alias("srm_detected"),
    )


# --- CUPED variance reduction (r11z wave) ------------------------------------
# Controlled-experiment Using Pre-Experiment Data (Deng et al., WSDM'13)
# — the standard variance-reduction technique: regress the experiment
# metric on each user's PRE-period value, subtract the predictable part,
# and the adjusted metric's variance shrinks by the squared correlation.
# theta = cov(x,y)/var(x) and the variance-reduction ratio
# rho^2 = cov^2/(var_x var_y) are ratios of integer sufficient
# statistics — the ml_linear_regression algebra pointed at experiment
# design. Dollar grain keeps the 128-bit cross-multiplication exact
# through ~sf 3 (cents would square past DECIMAL(38) at sf 1).

_CUPED_SQL = """
WITH bounds AS (
  SELECT (CAST(epoch_us(min(ts)) AS BIGINT) + CAST(epoch_us(max(ts)) AS BIGINT)) // 2
           AS mid_us
  FROM events
), users AS (
  SELECT e.user_id,
         CAST(sum(CASE WHEN e.event_type = 'purchase'
                       AND CAST(epoch_us(e.ts) AS BIGINT) < b.mid_us
                  THEN CAST(round(e.value) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN e.event_type = 'purchase'
                       AND CAST(epoch_us(e.ts) AS BIGINT) >= b.mid_us
                  THEN CAST(round(e.value) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
  FROM events e CROSS JOIN bounds b
  GROUP BY e.user_id
), g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM users
), d AS (
  SELECT n, sx, sy,
         n * sxy - sx * sy AS cov_n,
         n * sxx - sx * sx AS varx_n,
         n * syy - sy * sy AS vary_n
  FROM g
)
SELECT n AS n_users,
       CAST(CASE WHEN varx_n = 0 THEN 0
            ELSE CASE WHEN cov_n >= 0 THEN cov_n * 1000000 // varx_n
                 ELSE -((-cov_n) * 1000000 // varx_n) END
            END AS BIGINT) AS theta_micros,
       CAST(CASE WHEN varx_n = 0 OR vary_n = 0 THEN 0
            ELSE CAST(cov_n AS HUGEINT) * CAST(cov_n AS HUGEINT) * 1000000
                 // (CAST(varx_n AS HUGEINT) * CAST(vary_n AS HUGEINT))
            END AS BIGINT) AS var_reduction_ppm
FROM d
"""


@_q("events_cuped_theta", _CUPED_SQL)
def events_cuped_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED coefficient + variance-reduction readout: pre/post-period
    per-user purchase dollars split at the exact integer-microsecond
    data midpoint (timestamp-interval halving rounds differently across
    engines; epoch math cannot), theta = cov/var_x by sign-safe truncating
    micros, and the variance reduction rho^2 = cov^2/(var_x var_y) as
    one exact 128-bit cross-multiplication (HUGEINT oracle /
    DECIMAL(38,0) Spark, quotient bounded by 10^6 — inside the pinned
    long-quotient contract). Scale: one per-user fold (the midpoint is
    a 1-row broadcast) + one 6-counter global aggregate."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.expr(
            "(unix_micros(min(ts)) + unix_micros(max(ts))) div 2"
        ).alias("mid_us")
    )
    e = ev.crossJoin(F.broadcast(bounds))
    pre = F.expr("unix_micros(ts)") < F.col("mid_us")
    dollars = F.round(F.col("value")).cast("long")
    purchase = F.col("event_type") == "purchase"
    users = e.groupBy("user_id").agg(
        F.sum(F.when(purchase & pre, dollars).otherwise(0))
        .cast("long").alias("x"),
        F.sum(F.when(purchase & ~pre, dollars).otherwise(0))
        .cast("long").alias("y"),
    )
    g = users.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    d = g.select(
        "n", "sx", "sy",
        F.expr("n * sxy - sx * sy").alias("cov_n"),
        F.expr("n * sxx - sx * sx").alias("varx_n"),
        F.expr("n * syy - sy * sy").alias("vary_n"),
    )
    return d.select(
        F.col("n").alias("n_users"),
        F.expr(
            "CAST(CASE WHEN varx_n = 0 THEN 0"
            " ELSE CASE WHEN cov_n >= 0 THEN cov_n * 1000000 div varx_n"
            "      ELSE -((-cov_n) * 1000000 div varx_n) END"
            " END AS BIGINT)"
        ).alias("theta_micros"),
        F.expr(
            "CAST(CASE WHEN varx_n = 0 OR vary_n = 0 THEN 0"
            " ELSE CAST(cov_n AS DECIMAL(38,0)) * CAST(cov_n AS DECIMAL(38,0))"
            "      * 1000000"
            "      div (CAST(varx_n AS DECIMAL(38,0))"
            "           * CAST(vary_n AS DECIMAL(38,0)))"
            " END AS BIGINT)"
        ).alias("var_reduction_ppm"),
    )


# --- frequency-cap simulation (r11z wave) ------------------------------------

_FREQCAP_CAPS = [3, 5, 10]

_FREQCAP_SQL = f"""
WITH per_user AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type = 'view' GROUP BY user_id
), tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS total_views,
         CAST(count(*) AS BIGINT) AS n_users
  FROM per_user
)
SELECT CAST(c.cap AS BIGINT) AS cap,
       t.n_users, t.total_views,
       CAST(sum(least(p.n, c.cap)) AS BIGINT) AS served_views,
       CAST((t.total_views - sum(least(p.n, c.cap))) * 1000000
            // t.total_views AS BIGINT) AS suppressed_ppm,
       CAST(sum(CASE WHEN p.n > c.cap THEN 1 ELSE 0 END) AS BIGINT)
         AS n_users_capped
FROM per_user p
CROSS JOIN (VALUES {", ".join(f"({c})" for c in _FREQCAP_CAPS)}) c(cap)
CROSS JOIN tot t
GROUP BY c.cap, t.n_users, t.total_views
ORDER BY cap
"""


@_q("events_frequency_cap", _FREQCAP_SQL)
def events_frequency_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-cap planning (the ad-serving/notification knob): for
    each candidate per-user cap, the exact views served, the suppressed
    share in ppm, and how many users the cap touches — all from ONE
    per-user fold crossed with the 3-row cap grid (broadcast) and a
    1-row total. Pure integer arithmetic; the capped sum uses
    least(n, cap), so no row-level simulation is ever materialized."""
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = per_user.agg(
        F.sum("n").cast("long").alias("total_views"),
        F.count("*").cast("long").alias("n_users"),
    )
    caps = small_df(spark, [(c,) for c in _FREQCAP_CAPS], "cap int")
    return (
        per_user.crossJoin(F.broadcast(caps))
        .crossJoin(F.broadcast(tot))
        .groupBy("cap", "n_users", "total_views")
        .agg(
            F.sum(F.least(F.col("n"), F.col("cap"))).cast("long")
            .alias("served_views"),
            F.sum(F.when(F.col("n") > F.col("cap"), 1).otherwise(0))
            .cast("long").alias("n_users_capped"),
        )
        .select(
            F.col("cap").cast("bigint").alias("cap"),
            "n_users", "total_views", "served_views",
            F.expr(
                "(total_views - served_views) * 1000000 div total_views"
            ).cast("bigint").alias("suppressed_ppm"),
            "n_users_capped",
        )
        .orderBy("cap")
    )


# --- sequential probability ratio test (r13) ----------------------------------------
# Wald's SPRT — the always-valid sequential A/B primitive that lets an
# experiment STOP the day the evidence crosses a boundary instead of
# waiting out a fixed horizon. Tests H0: p = 19/100 vs H1: p = 21/100 on
# the treatment stream's daily purchase conversions with α = β = 0.05
# (boundaries ±ln 19). Exact discipline: the two per-event log-LR
# increments and the boundary are CONSTANTS formed as differences of ln
# over exact integers, micros-rounded ONCE (cross-engine parity
# verified); everything after is integer counts × integer constants and
# a cumulative sum over the bounded day grain.

SPRT_P0_NUM, SPRT_P1_NUM, SPRT_DEN = 19, 21, 100
SPRT_ALPHA_INV = 19  # (1-β)/α with α = β = 0.05

_SPRT_CONST_SQL = f"""
  SELECT CAST(round((ln({SPRT_P1_NUM}) - ln({SPRT_P0_NUM})) * 1000000)
              AS BIGINT) AS l1_e6,
         CAST(round((ln({SPRT_DEN - SPRT_P1_NUM})
                     - ln({SPRT_DEN - SPRT_P0_NUM})) * 1000000)
              AS BIGINT) AS l0_e6,
         CAST(round(ln({SPRT_ALPHA_INV}) * 1000000) AS BIGINT) AS bound_e6
"""

_SPRT_SQL = f"""
WITH k AS ({_SPRT_CONST_SQL}
), daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS n_trials,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_success
  FROM events WHERE user_id % 2 = 1
  GROUP BY 1
), llr AS (
  SELECT d, n_trials, n_success,
         n_success * k.l1_e6 + (n_trials - n_success) * k.l0_e6
           AS day_llr_e6,
         k.bound_e6
  FROM daily, k
), c AS (
  SELECT d, n_trials, n_success, day_llr_e6, bound_e6,
         sum(day_llr_e6) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_llr_e6
  FROM llr
)
SELECT d, n_trials, n_success,
       CAST(day_llr_e6 AS BIGINT) AS day_llr_e6,
       CAST(cum_llr_e6 AS BIGINT) AS cum_llr_e6,
       CASE WHEN cum_llr_e6 >= bound_e6 THEN 'accept_h1'
            WHEN cum_llr_e6 <= -bound_e6 THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM c ORDER BY d
"""


sql_entry(_q, "events_ab_sequential_sprt", _SPRT_SQL)
