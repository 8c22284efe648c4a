"""Distributed ML operators — the presto-ml surface, Spark-first.

The reference's ML module (``presto-ml/src/main/java/com/facebook/presto/
ml/``) trains SINGLE-NODE: ``LearnClassifierAggregation`` /
``LearnRegressorAggregation`` gather every row into aggregation state
(``LearnState.java``) and hand the materialized dataset to in-process
libsvm (``AbstractSvmModel.java``).  That collect-then-train shape is
reproduced faithfully for pasted SQL by :mod:`functions.mlcompat`; THESE
operators are the scale path the reference does not have — model fitting
as pure DataFrame aggregation:

* ``ml_regress_ols`` — grouped least-squares (one model per group) from
  EXACT integer power sums (map-side partial agg, one shuffle of 5
  numbers per group), closed form in deterministic IEEE doubles.
* ``ml_classify_centroid`` — nearest-centroid classifier
  (train: groupBy mean over exact integer sums; apply: broadcast the
  k-row centroid table, map-side ``min(struct(d², label))`` — the
  shuffle carries one candidate per (row, centroid) pair pre-collapsed
  by partial aggregation).
* ``ml_evaluate_classifier`` — ``evaluate_classifier_predictions``
  (``EvaluateClassifierPredictionsAggregation.java:96-117``): per-class
  precision/recall lines and the accuracy line in the reference's exact
  string format, with the percent rendered by EXACT integer half-up
  rounding so the DuckDB oracle matches bit-for-bit.

Determinism contract (why the oracles hash-match): every statistic is a
BIGINT/DECIMAL(38,0) sum of per-row integers (cents / keys), and every
double is derived from those exact integers by a fixed sequence of IEEE
operations (cast, subtract, multiply, divide) that Spark and DuckDB
evaluate identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import load_tables
from ..registry import family

QUERIES, ORACLE, _q = family()


# --- grouped OLS regression --------------------------------------------------

@_q(
    "ml_regress_ols",
    """
WITH s AS (
  SELECT l_returnflag AS flag,
         COUNT(*) AS n,
         SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS sx,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sy,
         SUM(CAST(round(l_quantity * 100) AS BIGINT)
             * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy,
         SUM(CAST(round(l_quantity * 100) AS BIGINT)
             * CAST(round(l_quantity * 100) AS BIGINT)) AS sxx
  FROM lineitem GROUP BY l_returnflag
), m AS (
  SELECT flag, n, sx, sy,
         CAST(CAST(n AS HUGEINT) * CAST(sxy AS HUGEINT)
              - CAST(sx AS HUGEINT) * CAST(sy AS HUGEINT) AS DOUBLE)
         / CAST(CAST(n AS HUGEINT) * CAST(sxx AS HUGEINT)
              - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS DOUBLE) AS slope
  FROM s
)
SELECT flag, CAST(n AS BIGINT) AS n,
       round(slope, 9) AS slope,
       round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE), 4) AS icept,
       round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE) + slope * 2500.0, 4) AS pred_q25
FROM m ORDER BY flag
""",
)
def ml_regress_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One least-squares model per l_returnflag: price-cents ~ a +
    b*quantity-cents, fitted from exact BIGINT power sums (the whole
    training pass is one partial-aggregated groupBy — at 100 TB the
    shuffle moves 5 numbers per group).  Closed form evaluated in a
    fixed IEEE order; DECIMAL(38,0) carries the cross products the
    oracle holds in HUGEINT (both exact at ~1e22)."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    xq = F.round(F.col("l_quantity") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    s = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.count("*").alias("n"),
        F.sum(xq).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(xq * y).alias("sxy"),
        F.sum(xq * xq).alias("sxx"),
    )
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    slope = (
        (d("n") * d("sxy") - d("sx") * d("sy")).cast("double")
        / (d("n") * d("sxx") - d("sx") * d("sx")).cast("double")
    )
    m = s.select("flag", "n", "sx", "sy", slope.alias("slope"))
    icept = (
        F.col("sy").cast("double") - F.col("slope") * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return m.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        F.round("slope", 9).alias("slope"),
        F.round(icept, 4).alias("icept"),
        F.round(icept + F.col("slope") * F.lit(2500.0), 4).alias("pred_q25"),
    ).orderBy("flag")


# --- nearest-centroid classifier --------------------------------------------

_CENTROID_SQL = """
  SELECT c_mktsegment AS label,
         CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS c1,
         CAST(SUM(CAST(c_nationkey AS BIGINT)) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS c2
  FROM customer GROUP BY c_mktsegment
"""


# Kept port (keep-rule 2b, worse plan): the text fails test_ml_plans_scale_shape.
@_q(
    "ml_classify_centroid",
    f"""
WITH cen AS ({_CENTROID_SQL}),
feat AS (
  SELECT s_suppkey,
         CAST(CAST(round(s_acctbal * 100) AS BIGINT) AS DOUBLE) AS x1,
         CAST(s_nationkey AS DOUBLE) AS x2
  FROM supplier
), scored AS (
  SELECT s_suppkey, label,
         ((x1 - c1) * (x1 - c1)) + ((x2 - c2) * (x2 - c2)) AS d2
  FROM feat CROSS JOIN cen
), best AS (
  SELECT s_suppkey, label,
         row_number() OVER (PARTITION BY s_suppkey ORDER BY d2, label) AS rn
  FROM scored
)
SELECT label AS predicted, COUNT(*) AS n
FROM best WHERE rn = 1 GROUP BY label ORDER BY label
""",
)
def ml_classify_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train nearest-centroid on customer (label = mktsegment, features
    = [acctbal-cents, nationkey]), classify every supplier.  The model
    is a k-row DataFrame (k = |labels|) broadcast into the apply join;
    the argmin is ``min(struct(d², label))`` so partial aggregation
    collapses the k candidates map-side — no window sort, and the only
    shuffle is the final label count.  Centroids are exact-integer sums
    divided once in IEEE double (identical in the oracle)."""
    cust, supp = load_tables(spark, sf_dir, "customer", "supplier")
    cen = cust.groupBy(F.col("c_mktsegment").alias("label")).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("c1"),
        (
            F.sum(F.col("c_nationkey").cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("c2"),
    )
    feat = supp.select(
        "s_suppkey",
        F.round(F.col("s_acctbal") * 100).cast("long").cast("double").alias("x1"),
        F.col("s_nationkey").cast("double").alias("x2"),
    )
    dx1 = F.col("x1") - F.col("c1")
    dx2 = F.col("x2") - F.col("c2")
    scored = feat.crossJoin(F.broadcast(cen)).select(
        "s_suppkey", "label", ((dx1 * dx1) + (dx2 * dx2)).alias("d2")
    )
    best = scored.groupBy("s_suppkey").agg(
        F.min(F.struct("d2", "label")).alias("b")
    )
    return (
        best.select(F.col("b.label").alias("predicted"))
        .groupBy("predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("predicted")
    )


# --- evaluate_classifier_predictions ----------------------------------------

# Exact half-up percent with two decimals from integers p/q:
# hundredths = (20000*p + q) // (2*q); rendered as "D.dd".
_PCT = (
    "CAST(({p}) * 20000 + ({q}) AS BIGINT) // CAST(2 * ({q}) AS BIGINT)"
)


def _pct_str(p: str, q: str) -> str:
    h = _PCT.format(p=p, q=q)
    return (
        f"CASE WHEN ({q}) = 0 THEN 'NaN' ELSE "
        f"CAST(({h}) // 100 AS VARCHAR) || '.' || "
        f"lpad(CAST(({h}) % 100 AS VARCHAR), 2, '0') END"
    )


@_q(
    "ml_evaluate_classifier",
    f"""
WITH cen AS ({_CENTROID_SQL}),
feat AS (
  SELECT c_custkey, c_mktsegment AS truth,
         CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE) AS x1,
         CAST(c_nationkey AS DOUBLE) AS x2
  FROM customer
), scored AS (
  SELECT c_custkey, truth, label,
         ((x1 - c1) * (x1 - c1)) + ((x2 - c2) * (x2 - c2)) AS d2
  FROM feat CROSS JOIN cen
), pred AS (
  SELECT c_custkey, truth, label AS predicted
  FROM (SELECT c_custkey, truth, label,
               row_number() OVER (PARTITION BY c_custkey
                                  ORDER BY d2, label) AS rn
        FROM scored) z
  WHERE rn = 1
), counts AS (
  SELECT l AS label,
         SUM(CASE WHEN truth = predicted AND predicted = l THEN 1 ELSE 0 END) AS tp,
         SUM(CASE WHEN predicted = l AND truth <> l THEN 1 ELSE 0 END) AS fp,
         SUM(CASE WHEN truth = l AND predicted <> l THEN 1 ELSE 0 END) AS fn
  FROM pred CROSS JOIN (SELECT DISTINCT truth AS l FROM pred) labels
  GROUP BY l
)
SELECT label,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       'Precision: ' || CAST(tp AS VARCHAR) || '/' ||
         CAST(tp + fp AS VARCHAR) || ' (' ||
         ({_pct_str('tp', 'tp + fp')}) || '%)' AS precision_line,
       'Recall: ' || CAST(tp AS VARCHAR) || '/' ||
         CAST(tp + fn AS VARCHAR) || ' (' ||
         ({_pct_str('tp', 'tp + fn')}) || '%)' AS recall_line
FROM counts
UNION ALL
SELECT '(all)',
       -- SUM(BIGINT) is HUGEINT in DuckDB and would widen the whole UNION's
       -- tp/fp/fn to HUGEINT (float64 under pandas) — CAST keeps them BIGINT
       CAST(SUM(tp) AS BIGINT), CAST(SUM(fp) AS BIGINT), CAST(SUM(fn) AS BIGINT),
       'Accuracy: ' || CAST(SUM(tp) AS VARCHAR) || '/' ||
         CAST(SUM(tp) + SUM(fp) AS VARCHAR) || ' (' ||
         ({_pct_str('SUM(tp)', 'SUM(tp) + SUM(fp)')}) || '%)',
       ''
FROM counts
ORDER BY label
""",
)
def ml_evaluate_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``evaluate_classifier_predictions`` parity
    (``EvaluateClassifierPredictionsAggregation.java:96-117``): the
    centroid model applied back to its training set, per-class
    ``Precision: p/q (xx.xx%)`` / ``Recall: ...`` lines plus the
    ``Accuracy`` line in the reference's exact format — except the
    class order: the reference iterates a Java HashSet union (arbitrary
    order), here one ROW PER CLASS sorted by label (and the reference's
    ``%.2f`` of a double ratio is rendered by exact-rational half-up —
    equal wherever the double arithmetic is not on a tie knife-edge).
    Truth and prediction stay distributed; only per-class counters
    (the reference's own aggregation state) reach the driver."""
    cust, = load_tables(spark, sf_dir, "customer")
    cen = cust.groupBy(F.col("c_mktsegment").alias("label")).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("c1"),
        (
            F.sum(F.col("c_nationkey").cast("long")).cast("double")
            / F.count("*").cast("double")
        ).alias("c2"),
    )
    feat = cust.select(
        "c_custkey",
        F.col("c_mktsegment").alias("truth"),
        F.round(F.col("c_acctbal") * 100).cast("long").cast("double").alias("x1"),
        F.col("c_nationkey").cast("double").alias("x2"),
    )
    dx1 = F.col("x1") - F.col("c1")
    dx2 = F.col("x2") - F.col("c2")
    scored = feat.crossJoin(F.broadcast(cen)).select(
        "c_custkey", "truth", "label", ((dx1 * dx1) + (dx2 * dx2)).alias("d2")
    )
    pred = (
        scored.groupBy("c_custkey", "truth")
        .agg(F.min(F.struct("d2", "label")).alias("b"))
        .select("truth", F.col("b.label").alias("predicted"))
    )
    labels = pred.select(F.col("truth").alias("l")).distinct()
    counts = (
        pred.crossJoin(F.broadcast(labels))
        .groupBy("l")
        .agg(
            F.sum(
                F.when(
                    (F.col("truth") == F.col("predicted"))
                    & (F.col("predicted") == F.col("l")),
                    1,
                ).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(
                    (F.col("predicted") == F.col("l"))
                    & (F.col("truth") != F.col("l")),
                    1,
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("truth") == F.col("l"))
                    & (F.col("predicted") != F.col("l")),
                    1,
                ).otherwise(0)
            ).alias("fn"),
        )
        .withColumnRenamed("l", "label")
    )

    # Exact integer half-up "D.dd" percent (Spark `div` = DuckDB `//`).
    def pct(p: str, q: str) -> str:
        h = f"(({p}) * 20000 + ({q})) div (2 * ({q}))"
        return (
            f"CASE WHEN ({q}) = 0 THEN 'NaN' ELSE "
            f"CAST(({h}) div 100 AS STRING) || '.' || "
            f"lpad(CAST(({h}) % 100 AS STRING), 2, '0') END"
        )

    per_label = counts.selectExpr(
        "label",
        "CAST(tp AS LONG) AS tp",
        "CAST(fp AS LONG) AS fp",
        "CAST(fn AS LONG) AS fn",
        "'Precision: ' || CAST(tp AS STRING) || '/' || "
        "CAST(tp + fp AS STRING) || ' (' || "
        f"({pct('tp', 'tp + fp')}) || '%)' AS precision_line",
        "'Recall: ' || CAST(tp AS STRING) || '/' || "
        "CAST(tp + fn AS STRING) || ' (' || "
        f"({pct('tp', 'tp + fn')}) || '%)' AS recall_line",
    )
    tot = counts.agg(
        F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
    ).selectExpr(
        "'(all)' AS label",
        "CAST(tp AS LONG) AS tp",
        "CAST(fp AS LONG) AS fp",
        "CAST(fn AS LONG) AS fn",
        "'Accuracy: ' || CAST(tp AS STRING) || '/' || "
        "CAST(tp + fp AS STRING) || ' (' || "
        f"({pct('tp', 'tp + fp')}) || '%)' AS precision_line",
        "'' AS recall_line",
    )
    return per_label.unionAll(tot).orderBy("label")


# --- closed-form OLS trainer (exact-integer normal equations) ----------------

_OLS_TDIV = (
    "CASE WHEN ({num}) >= 0 THEN ({num}) {div} ({den}) "
    "ELSE -((-({num})) {div} ({den})) END"
)

_OLS_SQL = f"""
WITH pts AS (
  SELECT l_returnflag AS grp,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), m AS (
  SELECT grp, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         CAST(sum(x * x) AS HUGEINT) AS sxx, CAST(sum(x * y) AS HUGEINT) AS sxy
  FROM pts GROUP BY grp
)
SELECT grp, CAST(n AS BIGINT) AS n,
       CAST({_OLS_TDIV.format(num="(n * sxy - sx * sy) * 1000000",
                              den="n * sxx - sx * sx", div="//")} AS BIGINT)
         AS slope_micros,
       CAST({_OLS_TDIV.format(num="(sy * sxx - sx * sxy) * 100",
                              den="n * sxx - sx * sx", div="//")} AS BIGINT)
         AS intercept_centimicros
FROM m
ORDER BY grp
"""


@_q("ml_linear_regression", _OLS_SQL)
def ml_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ordinary-least-squares trainer, closed-form — the
    reference's `learn_linear_regressor`
    (presto-ml/.../LearnRegressorAggregation.java) shape re-expressed
    as the NORMAL EQUATIONS over exact integers: per group, the four
    sufficient statistics (Σx, Σy, Σx², Σxy) are one map-side-combined
    aggregate over cents, and slope/intercept come out of Cramer's rule
    as exact rationals folded to micros with SIGN-SAFE truncating
    division (the `emb_pca_power` CASE device) — no float in any
    reduction, so the fitted model is bit-identical at any partitioning
    and the oracle recomputes it from the same algebra.

    Scale shape: ONE aggregation pass — the sufficient-statistic
    pattern is why distributed OLS scales (model solve is O(d³) on
    d ≤ dozens, data pass is the only big cost); multi-feature d>1
    generalizes to the d×d Gram matrix as d(d+1)/2 sum columns in the
    same single pass. The sufficient statistics accumulate in BIGINT
    but the Cramer products run in DECIMAL(38,0) (oracle: HUGEINT —
    internal only, the output columns stay BIGINT): n·sxy·10⁶ crosses
    10¹⁹ already at sf0.01, so the wide type is a correctness
    requirement, not headroom polish."""
    li = load_tables(spark, sf_dir, "lineitem")[0]
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    dec = "decimal(38,0)"
    m = pts.groupBy("grp").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("sxy"),
    )
    slope = _OLS_TDIV.format(
        num="(n * sxy - sx * sy) * 1000000", den="n * sxx - sx * sx", div="div"
    )
    intercept = _OLS_TDIV.format(
        num="(sy * sxx - sx * sxy) * 100", den="n * sxx - sx * sx", div="div"
    )
    return m.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.expr(slope).cast("long").alias("slope_micros"),
        F.expr(intercept).cast("long").alias("intercept_centimicros"),
    ).orderBy("grp")


# --- multinomial naive Bayes --------------------------------------------------

_NB_SQL = """
WITH tok AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
  FROM documents WHERE trim(text) <> ''
), train AS (
  SELECT * FROM tok WHERE doc_id % 5 <> 0
), test AS (
  SELECT * FROM tok WHERE doc_id % 5 = 0
), n_tc AS (
  SELECT token, lang, CAST(count(*) AS BIGINT) AS n
  FROM train GROUP BY token, lang
), tot AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS tot_tokens
  FROM train GROUP BY lang
), vocab AS (
  SELECT CAST(count(DISTINCT token) AS BIGINT) AS v FROM train
), prior AS (
  SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM train GROUP BY lang
), n_total AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS n_all FROM prior
), classes AS (
  SELECT p.lang AS cls,
         CAST(floor(1000000 * ln(CAST(p.n_docs AS DOUBLE)
                                 / CAST(nt.n_all AS DOUBLE))) AS BIGINT)
           AS prior_w,
         CAST(floor(1000000 * ln(1.0 / CAST(t.tot_tokens + vb.v AS DOUBLE)))
              AS BIGINT) AS unseen_w,
         t.tot_tokens, vb.v
  FROM prior p JOIN tot t ON p.lang = t.lang
  CROSS JOIN vocab vb CROSS JOIN n_total nt
), weights AS (
  SELECT c.cls, n.token,
         CAST(floor(1000000 * ln(CAST(n.n + 1 AS DOUBLE)
                                 / CAST(c.tot_tokens + c.v AS DOUBLE)))
              AS BIGINT) AS w
  FROM n_tc n JOIN classes c ON n.lang = c.cls
), scored AS (
  SELECT te.doc_id, te.lang AS true_lang, c.cls,
         CAST(sum(COALESCE(w.w, c.unseen_w)) + min(c.prior_w) AS BIGINT)
           AS score_micros
  FROM test te CROSS JOIN classes c
  LEFT JOIN weights w ON w.token = te.token AND w.cls = c.cls
  GROUP BY te.doc_id, te.lang, c.cls
), ranked AS (
  SELECT doc_id, true_lang, cls AS pred_lang, score_micros,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_micros DESC, cls) AS rn
  FROM scored
)
SELECT doc_id, true_lang, pred_lang, score_micros,
       CAST(CASE WHEN pred_lang = true_lang THEN 1 ELSE 0 END AS INTEGER)
         AS is_correct
FROM ranked WHERE rn = 1
ORDER BY doc_id
"""


@_q("ml_naive_bayes", _NB_SQL)
def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes text classifier, trained and applied as
    pure DataFrame algebra — the scale path for the reference's
    collect-then-train classifier surface (``presto-ml``'s
    ``LearnClassifierAggregation`` gathers every row into single-node
    libsvm state; here the model IS a distributed aggregate). Laplace
    add-one smoothing; every log-weight is floor-quantized to integer
    micros from exact BIGINT counts (floor, not round — no rounding-mode
    divergence between engines), so the per-class scores and the argmax
    are bit-stable at any partitioning.

    Scale shape: training is ONE map-side-combined groupBy on (token,
    class) — at 100 TB the shuffle carries the vocab × |classes| count
    table, never document text. Scoring joins test-token instances to
    the weight table keyed by token (AQE absorbs stopword skew), with
    the |classes|-row prior/unseen table a broadcast; the per-doc argmax
    is a WindowGroupLimit over |docs| × |classes| scored rows.

    Reference anchor: presto-ml/src/main/java/com/facebook/presto/ml/
    LearnClassifierAggregation.java (single-node trainer this replaces)."""
    docs = load_tables(spark, sf_dir, "documents")[0].filter(F.trim("text") != "")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    )
    train = tok.filter(F.col("doc_id") % 5 != 0)
    test = tok.filter(F.col("doc_id") % 5 == 0)
    n_tc = train.groupBy("token", "lang").agg(F.count("*").alias("n"))
    tot = train.groupBy("lang").agg(F.count("*").alias("tot_tokens"))
    vocab = n_tc.select("token").distinct().agg(
        F.count("*").cast("long").alias("v")
    )
    prior = train.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    n_total = prior.agg(F.sum("n_docs").cast("long").alias("n_all"))
    classes = (
        prior.join(tot, "lang")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("lang").alias("cls"),
            F.floor(
                1000000
                * F.log(
                    F.col("n_docs").cast("double") / F.col("n_all").cast("double")
                )
            ).cast("long").alias("prior_w"),
            F.floor(
                1000000
                * F.log(F.lit(1.0) / (F.col("tot_tokens") + F.col("v")).cast("double"))
            ).cast("long").alias("unseen_w"),
            "tot_tokens",
            "v",
        )
    )
    weights = n_tc.join(classes, n_tc["lang"] == classes["cls"]).select(
        "cls",
        "token",
        F.floor(
            1000000
            * F.log(
                (F.col("n") + 1).cast("double")
                / (F.col("tot_tokens") + F.col("v")).cast("double")
            )
        ).cast("long").alias("w"),
    )
    scored = (
        test.crossJoin(F.broadcast(classes.select("cls", "prior_w", "unseen_w")))
        .join(
            weights,
            ["token", "cls"],
            "left",
        )
        .groupBy("doc_id", F.col("lang").alias("true_lang"), "cls")
        .agg(
            (
                F.sum(F.coalesce(F.col("w"), F.col("unseen_w")))
                + F.min("prior_w")
            ).cast("long").alias("score_micros")
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score_micros"), "cls")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            "true_lang",
            F.col("cls").alias("pred_lang"),
            "score_micros",
            F.when(F.col("cls") == F.col("true_lang"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_correct"),
        )
        .orderBy("doc_id")
    )


# --- decision-stump split finder ----------------------------------------------

# Weighted-Gini split cost, fixed-point scale.  Both engines evaluate the
# identical integer expression (floor division per side), so the argmin
# cannot diverge.  BIGINT bound: pos*neg*SCALE <= (N/2)^2 * 1e6, safe to
# N ~ 6e6 rows; past that the two products move to DECIMAL(38,0)/HUGEINT
# exactly like ml_regress_ols's normal equations.
_STUMP_SCALE = 1_000_000
_STUMP_TOPK = 5

_STUMP_SQL = f"""
WITH pts AS (
  SELECT 'quantity' AS feature, CAST(round(l_quantity) AS INTEGER) AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS pos FROM lineitem
  UNION ALL
  SELECT 'discount_c', CAST(round(l_discount * 100) AS INTEGER),
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
  UNION ALL
  SELECT 'tax_c', CAST(round(l_tax * 100) AS INTEGER),
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
), grp AS (
  SELECT feature, v, CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS p
  FROM pts GROUP BY feature, v
), cum AS (
  SELECT feature, v,
         CAST(sum(n) OVER w AS BIGINT) AS n_l,
         CAST(sum(p) OVER w AS BIGINT) AS pos_l,
         CAST(sum(n) OVER (PARTITION BY feature) AS BIGINT) AS n_tot,
         CAST(sum(p) OVER (PARTITION BY feature) AS BIGINT) AS p_tot
  FROM grp
  WINDOW w AS (PARTITION BY feature ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), split AS (
  SELECT feature, v AS threshold, n_l, pos_l,
         n_tot - n_l AS n_r, p_tot - pos_l AS pos_r,
         (pos_l * (n_l - pos_l) * {_STUMP_SCALE}) // n_l
         + ((p_tot - pos_l) * ((n_tot - n_l) - (p_tot - pos_l))
            * {_STUMP_SCALE}) // (n_tot - n_l) AS cost_scaled
  FROM cum WHERE n_l < n_tot
)
SELECT feature, threshold,
       n_l AS n_left, pos_l AS pos_left, n_r AS n_right, pos_r AS pos_right,
       CAST(cost_scaled AS BIGINT) AS cost_scaled,
       CAST(row_number() OVER (ORDER BY cost_scaled, feature, threshold)
            AS INTEGER) AS rk
FROM split
QUALIFY rk <= {_STUMP_TOPK}
"""


@_q("ml_decision_stump", _STUMP_SQL)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed decision-stump induction — the split-finding inner
    loop of every distributed tree learner (PLANET, Panda et al. 2009;
    XGBoost's exact greedy): over three integer-bucketized lineitem
    features, score every candidate threshold ``v <= t`` by the
    weighted Gini impurity of the induced (left, right) partition and
    report the global top-``{_STUMP_TOPK}`` splits for the label
    ``l_returnflag = 'R'``.  Cost is the exact fixed-point integer
    ``sum over sides of floor(pos*neg*SCALE/n)`` (monotone transform of
    weighted Gini: per-side n*gini = 2*pos*neg/n), with (feature,
    threshold) tie-breaks, so both engines select identical splits.

    Scale shape — the PLANET recipe: per-row work is a 3-way stack
    projection; candidate statistics collapse to ONE map-side-combined
    groupBy on (feature, bucket-value) — the shuffle carries at most
    |features| x |distinct buckets| rows regardless of row count; the
    prefix-sum windows then run on that tiny aggregate (bounded by the
    bucket vocabulary, ~150 rows here), and the final ranking is a
    TakeOrderedAndProject.  Deeper trees iterate this operator per node
    on filtered partitions."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    pos = F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos")
    pts = li.select(
        F.expr(
            "stack(3,"
            " 'quantity',   CAST(round(l_quantity) AS INT),"
            " 'discount_c', CAST(round(l_discount * 100) AS INT),"
            " 'tax_c',      CAST(round(l_tax * 100) AS INT)"
            ") AS (feature, v)"
        ),
        pos,
    )
    grp = pts.groupBy("feature", "v").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    wcum = (
        W.partitionBy("feature")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wtot = W.partitionBy("feature")
    cum = grp.select(
        "feature",
        "v",
        F.sum("n").over(wcum).cast("long").alias("n_l"),
        F.sum("p").over(wcum).cast("long").alias("pos_l"),
        F.sum("n").over(wtot).cast("long").alias("n_tot"),
        F.sum("p").over(wtot).cast("long").alias("p_tot"),
    )
    split = cum.filter(F.col("n_l") < F.col("n_tot")).select(
        "feature",
        F.col("v").alias("threshold"),
        F.col("n_l").alias("n_left"),
        F.col("pos_l").alias("pos_left"),
        (F.col("n_tot") - F.col("n_l")).alias("n_right"),
        (F.col("p_tot") - F.col("pos_l")).alias("pos_right"),
        F.expr(
            f"(pos_l * (n_l - pos_l) * {_STUMP_SCALE}) div n_l"
            f" + ((p_tot - pos_l) * ((n_tot - n_l) - (p_tot - pos_l))"
            f" * {_STUMP_SCALE}) div (n_tot - n_l)"
        ).cast("long").alias("cost_scaled"),
    )
    wr = W.orderBy("cost_scaled", "feature", "threshold")
    return (
        split.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rk") <= _STUMP_TOPK)
    )


# --- logistic regression (distributed integer gradient descent) ----------------

# Learning-rate divisor: per-iteration step_j = trunc(G_j / (n * _LOGIT_LR_DIV)).
_LOGIT_LR_DIV = 20
_LOGIT_ITERS = 3

# Fast sigmoid s(z) = 1/2 + z/(2(1+|z|)) in exact micro-units: a pure
# integer rational — unlike exp(), it cannot diverge between libm
# implementations, so the whole training trajectory is bit-identical in
# both engines at any partitioning (sums are integer ⇒ order-free).
_LOGIT_S = "500000 + (z * 500000) {div} (1000000 + abs(z))"


def _logit_oracle() -> str:
    pts = """
  SELECT CAST(round(l_quantity) AS BIGINT) - 25 AS x1,
         CAST((year(l_shipdate) - 1998) * 12 + month(l_shipdate) - 6 AS BIGINT)
           AS x2,
         CASE WHEN CAST(round(l_quantity) AS BIGINT) - 25
                   + 2 * ((year(l_shipdate) - 1998) * 12 + month(l_shipdate) - 6)
                   + CAST(round(l_discount * 100) AS BIGINT) - 5 >= 0
              THEN 1 ELSE 0 END AS y
  FROM lineitem
"""
    s = _LOGIT_S.format(div="//")
    ctes = [f"pts AS ({pts})", "w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS c)"]
    for i in range(1, _LOGIT_ITERS + 1):
        ctes.append(f"""g{i} AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(err) AS BIGINT) AS g0,
         CAST(sum(err * x1) AS BIGINT) AS g1,
         CAST(sum(err * x2) AS BIGINT) AS g2,
         CAST(sum(CASE WHEN (s >= 500000) = (y = 1) THEN 1 ELSE 0 END)
              AS BIGINT) AS ncorrect
  FROM (SELECT y, x1, x2, s, s - 1000000 * y AS err
        FROM (SELECT y, x1, x2, {s} AS s
              FROM (SELECT y, x1, x2, a + b * x1 + c * x2 AS z
                    FROM pts CROSS JOIN w{i - 1})))
)""")
        ctes.append(f"""w{i} AS (
  SELECT a - g0 // (n * {_LOGIT_LR_DIV}) AS a,
         b - g1 // (n * {_LOGIT_LR_DIV}) AS b,
         c - g2 // (n * {_LOGIT_LR_DIV}) AS c
  FROM g{i} CROSS JOIN w{i - 1}
)""")
    rows = "\nUNION ALL\n".join(
        f"SELECT {i} AS iter, w{i - 1}.a AS w0_ppm, w{i - 1}.b AS w1_ppm,"
        f" w{i - 1}.c AS w2_ppm, g{i}.ncorrect AS n_correct,"
        f" CAST(g{i}.ncorrect * 1000000 // g{i}.n AS BIGINT) AS accuracy_ppm"
        f" FROM w{i - 1} CROSS JOIN g{i}"
        for i in range(1, _LOGIT_ITERS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + rows + "\nORDER BY iter"


@_q("ml_logistic_regression", _logit_oracle())
def ml_logistic_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression training by distributed batch gradient descent
    — the iterative-optimizer shape the reference's single-node
    ``LearnClassifierAggregation`` cannot scale (it materializes the
    dataset in one aggregation state; ``LearnState.java``).  Each of the
    ``_LOGIT_ITERS`` iterations is ONE map-side-combined full-data
    aggregation producing four integers (gradient sums + the running
    training-accuracy counter); the weight update is exact integer
    arithmetic on those sums.  The sigmoid is the rational fast-sigmoid
    in micro-units (see ``_LOGIT_S``): no exp(), no float — the entire
    trajectory is BIT-DETERMINISTIC at any partitioning and in both
    engines, proven by the fully unrolled 3-iteration CTE oracle
    (the `emb_pca_power` device).  Emits one row per iteration
    (pre-update weights + training accuracy) so convergence is visible
    in the result, not asserted: 49.8% → 94.1% → 95.4% at sf0.01.

    Label construction: the testdata's categorical columns are mutually
    independent noise (measured — returnflag/lang carry no signal), so
    the label is the standard synthetic-teacher construction every GD
    test uses: y = [x1 + 2*x2 + discount-noise >= 0], a noisy linear
    function of the features.  The trainer provably RECOVERS the teacher
    direction (w2/w1 → ~2 in z-units, visible in the emitted weights) —
    which is exactly what a trainer demo on synthetic data can honestly
    show.

    Scale shape: per-iteration cost is one scan + one 4-number exchange
    (partial aggregation collapses everything map-side); the only
    driver-side values are the 4 integers per iteration (the k-means
    centroid-collect pattern, K=1 row).  At 100 TB: iterations stream
    the same cached scan; the update math never touches data size.
    BIGINT bound: |err| <= 1e6, so G_1 <= 1e6*50*rows — safe past 1e11
    rows."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    pts = li.select(
        F.expr("CAST(round(l_quantity) AS BIGINT) - 25").alias("x1"),
        F.expr(
            "CAST((year(l_shipdate) - 1998) * 12 + month(l_shipdate) - 6"
            " AS BIGINT)"
        ).alias("x2"),
        F.when(
            F.expr(
                "CAST(round(l_quantity) AS BIGINT) - 25"
                " + 2 * ((year(l_shipdate) - 1998) * 12 + month(l_shipdate) - 6)"
                " + CAST(round(l_discount * 100) AS BIGINT) - 5"
            ) >= 0,
            1,
        ).otherwise(0).alias("y"),
    ).localCheckpoint(eager=False)

    def trunc_div(a: int, b: int) -> int:
        q = abs(a) // b
        return q if a >= 0 else -q

    a = b = c = 0
    out_rows = []
    s_expr = _LOGIT_S.format(div="div")
    for i in range(1, _LOGIT_ITERS + 1):
        it = (
            pts.withColumn("z", F.expr(f"{a} + {b} * x1 + {c} * x2"))
            .withColumn("s", F.expr(s_expr))
            .withColumn("err", F.expr("s - 1000000 * y"))
            .agg(
                F.count("*").alias("n"),
                F.sum("err").alias("g0"),
                F.sum(F.expr("err * x1")).alias("g1"),
                F.sum(F.expr("err * x2")).alias("g2"),
                F.sum(
                    F.expr("CASE WHEN (s >= 500000) = (y = 1) THEN 1 ELSE 0 END")
                ).alias("ncorrect"),
            )
            .collect()[0]
        )
        out_rows.append(
            (i, a, b, c, int(it["ncorrect"]),
             (int(it["ncorrect"]) * 1000000) // int(it["n"]))
        )
        n = int(it["n"])
        a -= trunc_div(int(it["g0"]), n * _LOGIT_LR_DIV)
        b -= trunc_div(int(it["g1"]), n * _LOGIT_LR_DIV)
        c -= trunc_div(int(it["g2"]), n * _LOGIT_LR_DIV)
    from ..catalog import small_df

    return small_df(
        spark,
        out_rows,
        "iter int, w0_ppm bigint, w1_ppm bigint, w2_ppm bigint,"
        " n_correct bigint, accuracy_ppm bigint",
    ).orderBy("iter")


# --- k-fold cross-validation (leave-fold-out stump, one data pass) -------------

_CV_FOLDS = 5
_CV_TEACHER = (
    "CAST(round(l_quantity) AS BIGINT) - 25"
    " + 2 * ((year(l_shipdate) - 1998) * 12 + month(l_shipdate) - 6)"
    " + CAST(round(l_discount * 100) AS BIGINT) - 5 >= 0"
)

_CV_SQL = f"""
WITH pts AS (
  SELECT 'quantity' AS feature, CAST(round(l_quantity) AS INTEGER) AS v,
         CAST(l_orderkey % {_CV_FOLDS} AS INTEGER) AS fold,
         CASE WHEN {_CV_TEACHER} THEN 1 ELSE 0 END AS y FROM lineitem
  UNION ALL
  SELECT 'ship_month',
         CAST((year(l_shipdate) - 1992) * 12 + month(l_shipdate) AS INTEGER),
         CAST(l_orderkey % {_CV_FOLDS} AS INTEGER),
         CASE WHEN {_CV_TEACHER} THEN 1 ELSE 0 END FROM lineitem
  UNION ALL
  SELECT 'discount_c', CAST(round(l_discount * 100) AS INTEGER),
         CAST(l_orderkey % {_CV_FOLDS} AS INTEGER),
         CASE WHEN {_CV_TEACHER} THEN 1 ELSE 0 END FROM lineitem
), grp AS (
  SELECT feature, v, fold,
         CAST(count(*) AS BIGINT) AS nf, CAST(sum(y) AS BIGINT) AS pf
  FROM pts GROUP BY feature, v, fold
), tot AS (
  SELECT feature, v, CAST(sum(nf) AS BIGINT) AS nn, CAST(sum(pf) AS BIGINT) AS pp
  FROM grp GROUP BY feature, v
), grid AS (
  SELECT t.feature, t.v, f.fold, t.nn, t.pp,
         coalesce(g.nf, 0) AS nf, coalesce(g.pf, 0) AS pf
  FROM tot t
  CROSS JOIN (SELECT unnest(range({_CV_FOLDS})) AS fold) f
  LEFT JOIN grp g ON g.feature = t.feature AND g.v = t.v AND g.fold = f.fold
), cum AS (
  SELECT feature, v, fold,
         CAST(sum(nn - nf) OVER w AS BIGINT) AS n_l,
         CAST(sum(pp - pf) OVER w AS BIGINT) AS pos_l,
         CAST(sum(nf) OVER w AS BIGINT) AS tn_l,
         CAST(sum(pf) OVER w AS BIGINT) AS tp_l,
         CAST(sum(nn - nf) OVER wt AS BIGINT) AS n_tot,
         CAST(sum(pp - pf) OVER wt AS BIGINT) AS p_tot,
         CAST(sum(nf) OVER wt AS BIGINT) AS tn_tot,
         CAST(sum(pf) OVER wt AS BIGINT) AS tp_tot
  FROM grid
  WINDOW w AS (PARTITION BY fold, feature ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY fold, feature)
), split AS (
  SELECT feature, v, fold, n_l, pos_l, tn_l, tp_l, n_tot, p_tot, tn_tot, tp_tot,
         (pos_l * (n_l - pos_l) * 1000000) // n_l
         + ((p_tot - pos_l) * ((n_tot - n_l) - (p_tot - pos_l)) * 1000000)
           // (n_tot - n_l) AS cost_scaled
  FROM cum WHERE n_l > 0 AND n_l < n_tot
), best AS (
  SELECT *, row_number() OVER (PARTITION BY fold
                               ORDER BY cost_scaled, feature, v) AS rk
  FROM split
), eval AS (
  SELECT fold, feature, v AS threshold, cost_scaled,
         CASE WHEN 2 * pos_l > n_l THEN 1 ELSE 0 END AS left_label,
         CASE WHEN 2 * (p_tot - pos_l) > (n_tot - n_l) THEN 1 ELSE 0 END
           AS right_label,
         tn_l, tp_l, tn_tot, tp_tot
  FROM best WHERE rk = 1
)
SELECT CAST(fold AS INTEGER) AS fold, feature, threshold,
       CAST(cost_scaled AS BIGINT) AS train_cost,
       left_label, right_label,
       tn_tot AS test_n,
       CAST(CASE WHEN left_label = 1 THEN tp_l ELSE tn_l - tp_l END
            + CASE WHEN right_label = 1 THEN tp_tot - tp_l
                   ELSE (tn_tot - tn_l) - (tp_tot - tp_l) END AS BIGINT)
         AS test_correct,
       CAST((CASE WHEN left_label = 1 THEN tp_l ELSE tn_l - tp_l END
             + CASE WHEN right_label = 1 THEN tp_tot - tp_l
                    ELSE (tn_tot - tn_l) - (tp_tot - tp_l) END)
            * 1000000 // tn_tot AS BIGINT) AS test_accuracy_ppm
FROM eval ORDER BY fold
"""


@_q("ml_kfold_cv", _CV_SQL)
def ml_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation of the decision stump (`ml_decision_stump`)
    in ONE pass over the data — the algebraic leave-fold-out device: the
    only data-scale aggregate is the (feature, bucket, fold) count table;
    every fold's TRAINING statistics are then total-minus-fold
    differences and its TEST statistics are the fold's own prefix sums,
    all computed on the tiny grid (|features| x |buckets| x k rows).  No
    k-times re-scan, no per-fold shuffle — the k models and their
    held-out accuracies fall out of the same aggregate.  Folds are
    assigned by ``l_orderkey % k`` (group-level assignment — whole
    orders stay in one fold, the standard leakage guard).  Label is the
    same noisy linear teacher as `ml_logistic_regression` (the testdata's
    categorical columns are measured noise), so per-fold test accuracy
    ~90% demonstrates real generalization, and every statistic is exact
    integer so the oracle matches bit-for-bit.

    Scale shape: one map-side-combined groupBy carrying at most
    |features| x |buckets| x k rows regardless of data size; the dense
    (value x fold) grid, prefix windows, per-fold argmin, and held-out
    evaluation all run on that aggregate — the 100 TB cost is the scan,
    exactly once."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    y = F.when(F.expr(_CV_TEACHER), 1).otherwise(0)
    fold = F.expr(f"CAST(l_orderkey % {_CV_FOLDS} AS INT)")
    pts = li.select(
        F.expr(
            "stack(3,"
            " 'quantity',   CAST(round(l_quantity) AS INT),"
            " 'ship_month', CAST((year(l_shipdate) - 1992) * 12"
            "               + month(l_shipdate) AS INT),"
            " 'discount_c', CAST(round(l_discount * 100) AS INT)"
            ") AS (feature, v)"
        ),
        fold.alias("fold"),
        y.alias("y"),
    )
    grp = pts.groupBy("feature", "v", "fold").agg(
        F.count("*").cast("long").alias("nf"),
        F.sum("y").cast("long").alias("pf"),
    )
    tot = grp.groupBy("feature", "v").agg(
        F.sum("nf").cast("long").alias("nn"), F.sum("pf").cast("long").alias("pp")
    )
    folds = spark.range(_CV_FOLDS).select(F.col("id").cast("int").alias("fold"))
    grid = (
        tot.crossJoin(F.broadcast(folds))
        .join(grp, ["feature", "v", "fold"], "left")
        .select(
            "feature",
            "v",
            "fold",
            "nn",
            "pp",
            F.coalesce("nf", F.lit(0)).cast("long").alias("nf"),
            F.coalesce("pf", F.lit(0)).cast("long").alias("pf"),
        )
    )
    w = (
        W.partitionBy("fold", "feature")
        .orderBy("v")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy("fold", "feature")
    cum = grid.select(
        "feature",
        "v",
        "fold",
        F.sum(F.col("nn") - F.col("nf")).over(w).cast("long").alias("n_l"),
        F.sum(F.col("pp") - F.col("pf")).over(w).cast("long").alias("pos_l"),
        F.sum("nf").over(w).cast("long").alias("tn_l"),
        F.sum("pf").over(w).cast("long").alias("tp_l"),
        F.sum(F.col("nn") - F.col("nf")).over(wt).cast("long").alias("n_tot"),
        F.sum(F.col("pp") - F.col("pf")).over(wt).cast("long").alias("p_tot"),
        F.sum("nf").over(wt).cast("long").alias("tn_tot"),
        F.sum("pf").over(wt).cast("long").alias("tp_tot"),
    )
    split = cum.filter((F.col("n_l") > 0) & (F.col("n_l") < F.col("n_tot"))).select(
        "*",
        F.expr(
            "(pos_l * (n_l - pos_l) * 1000000) div n_l"
            " + ((p_tot - pos_l) * ((n_tot - n_l) - (p_tot - pos_l)) * 1000000)"
            " div (n_tot - n_l)"
        ).cast("long").alias("cost_scaled"),
    )
    wr = W.partitionBy("fold").orderBy("cost_scaled", "feature", "v")
    ev = (
        split.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") == 1)
        .select(
            F.col("fold").cast("int").alias("fold"),
            "feature",
            F.col("v").alias("threshold"),
            F.col("cost_scaled").alias("train_cost"),
            F.when(2 * F.col("pos_l") > F.col("n_l"), 1).otherwise(0)
            .alias("left_label"),
            F.when(
                2 * (F.col("p_tot") - F.col("pos_l"))
                > (F.col("n_tot") - F.col("n_l")),
                1,
            ).otherwise(0).alias("right_label"),
            "tn_l",
            "tp_l",
            "tn_tot",
            "tp_tot",
        )
    )
    correct = F.when(
        F.col("left_label") == 1, F.col("tp_l")
    ).otherwise(F.col("tn_l") - F.col("tp_l")) + F.when(
        F.col("right_label") == 1, F.col("tp_tot") - F.col("tp_l")
    ).otherwise(
        (F.col("tn_tot") - F.col("tn_l")) - (F.col("tp_tot") - F.col("tp_l"))
    )
    return ev.select(
        "fold",
        "feature",
        "threshold",
        "train_cost",
        "left_label",
        "right_label",
        F.col("tn_tot").alias("test_n"),
        correct.cast("long").alias("test_correct"),
        F.expr(
            "CAST((CASE WHEN left_label = 1 THEN tp_l ELSE tn_l - tp_l END"
            " + CASE WHEN right_label = 1 THEN tp_tot - tp_l"
            " ELSE (tn_tot - tn_l) - (tp_tot - tp_l) END)"
            " * 1000000 div tn_tot AS BIGINT)"
        ).alias("test_accuracy_ppm"),
    ).orderBy("fold")


# --- ROC AUC via the tie-aware Mann-Whitney U statistic -----------------------

_AUC_SQL = """
WITH s AS (
  SELECT CAST(label % 2 AS BIGINT) AS y,
         5 * CAST(round(1000 * CAST(embedding[1] AS DOUBLE)) AS BIGINT)
         - 3 * CAST(round(1000 * CAST(embedding[2] AS DOUBLE)) AS BIGINT)
         + 2 * CAST(round(1000 * CAST(embedding[3] AS DOUBLE)) AS BIGINT)
         - CAST(round(1000 * CAST(embedding[4] AS DOUBLE)) AS BIGINT) AS score
  FROM embeddings
), g AS (
  SELECT score, CAST(sum(y) AS BIGINT) AS pos_n,
         CAST(sum(1 - y) AS BIGINT) AS neg_n
  FROM s GROUP BY score
), r AS (
  SELECT pos_n, neg_n, sum(neg_n) OVER (ORDER BY score) AS cneg
  FROM g
)
SELECT CAST(sum(pos_n) AS BIGINT) AS n_pos,
       CAST(sum(neg_n) AS BIGINT) AS n_neg,
       CAST(sum(pos_n * (2 * (cneg - neg_n) + neg_n)) AS BIGINT) AS u2,
       CAST(sum(pos_n * (2 * (cneg - neg_n) + neg_n)) * 1000000 //
            (2 * sum(pos_n) * sum(neg_n)) AS BIGINT) AS auc_ppm
FROM r
"""


@_q("ml_roc_auc", _AUC_SQL)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of a fixed linear scorer over the embedding table, as the
    tie-aware Mann-Whitney U statistic — the rank identity every
    evaluation library uses (AUC = P(score_pos > score_neg) + ½·P(tie)).

    Exact-integer contract: scores are integer-quantized (milli-units of
    the first four embedding dims under fixed ±{5,-3,2,-1} weights), so
    tie groups are EXACT; the doubled statistic
    ``2U = Σ_groups pos_g · (2·neg_below + neg_eq)`` counts each tie as
    exactly 1 (= 2·½) with zero float math, and ``auc_ppm = 2U·10⁶ ÷
    2PN`` is a pure integer division — bit-identical in both engines.

    Scale shape: the per-score tally is ONE map-side-combined groupBy;
    the running negative count uses ``distrank.global_index`` (range
    partition + per-partition sums + prefix offsets) so there is NO
    single-partition window over the score distribution — this is the
    distributed-sort device, which is what separates this from the
    textbook window formulation that dies on one reducer at 100 TB."""
    from ..catalog import load_table
    from .distrank import global_index

    emb = load_table(spark, sf_dir, "embeddings")
    q = [
        F.round(1000 * F.expr(f"CAST(embedding[{i}] AS DOUBLE)")).cast("long")
        for i in range(4)
    ]
    s = emb.select(
        (F.col("label") % 2).cast("long").alias("y"),
        (5 * q[0] - 3 * q[1] + 2 * q[2] - q[3]).alias("score"),
    )
    g = s.groupBy("score").agg(
        F.sum("y").cast("long").alias("pos_n"),
        F.sum(1 - F.col("y")).cast("long").alias("neg_n"),
    )
    r = global_index(g, [F.col("score")], sum_col="neg_n")
    contrib = F.col("pos_n") * (
        2 * (F.col("__csum") - F.col("neg_n")) + F.col("neg_n")
    )
    return r.agg(
        F.sum("pos_n").cast("long").alias("n_pos"),
        F.sum("neg_n").cast("long").alias("n_neg"),
        F.sum(contrib).cast("long").alias("u2"),
        F.expr(
            "sum(pos_n * (2 * (__csum - neg_n) + neg_n)) * 1000000"
            " div (2 * sum(pos_n) * sum(neg_n))"
        )
        .cast("long")
        .alias("auc_ppm"),
    )


# --- precision/recall curve at exact decile thresholds ------------------------

_PR_SCORE_SQL = """
  SELECT CAST(label % 2 AS BIGINT) AS y,
         5 * CAST(round(1000 * CAST(embedding[1] AS DOUBLE)) AS BIGINT)
         - 3 * CAST(round(1000 * CAST(embedding[2] AS DOUBLE)) AS BIGINT)
         + 2 * CAST(round(1000 * CAST(embedding[3] AS DOUBLE)) AS BIGINT)
         - CAST(round(1000 * CAST(embedding[4] AS DOUBLE)) AS BIGINT) AS score
  FROM embeddings
"""

_PR_CURVE_SQL = f"""
WITH s AS ({_PR_SCORE_SQL}
), g AS (
  SELECT score, CAST(sum(y) AS BIGINT) AS pos_n,
         CAST(sum(1 - y) AS BIGINT) AS neg_n,
         CAST(count(*) AS BIGINT) AS tot_n
  FROM s GROUP BY score
), r AS (
  SELECT score, pos_n, neg_n, tot_n,
         sum(tot_n) OVER (ORDER BY score) AS ccum
  FROM g
), tot AS (
  SELECT CAST(sum(pos_n) AS BIGINT) AS p_total,
         CAST(sum(tot_n) AS BIGINT) AS n_total
  FROM g
), js AS (
  SELECT unnest(range(1, 10)) AS j
), th AS (
  SELECT js.j, r.score AS thr
  FROM js, r, tot
  WHERE (js.j * tot.n_total) // 10 > r.ccum - r.tot_n
    AND (js.j * tot.n_total) // 10 <= r.ccum
), pr AS (
  SELECT t.j, t.thr,
         CAST(sum(CASE WHEN g.score >= t.thr THEN g.pos_n ELSE 0 END)
              AS BIGINT) AS tp,
         CAST(sum(CASE WHEN g.score >= t.thr THEN g.neg_n ELSE 0 END)
              AS BIGINT) AS fp
  FROM th t CROSS JOIN g GROUP BY t.j, t.thr
)
SELECT CAST(pr.j AS BIGINT) AS decile, pr.thr AS threshold, pr.tp, pr.fp,
       CAST(tot.p_total - pr.tp AS BIGINT) AS fn,
       CAST(pr.tp * 1000000 // (pr.tp + pr.fp) AS BIGINT) AS precision_ppm,
       CAST(pr.tp * 1000000 // tot.p_total AS BIGINT) AS recall_ppm
FROM pr CROSS JOIN tot ORDER BY decile
"""


@_q("ml_pr_curve", _PR_CURVE_SQL)
def ml_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve of the fixed linear scorer at its EXACT
    score deciles — the threshold-sweep view of the ml_roc_auc setup
    (same integer-quantized scorer, same label), one row per decile
    with TP/FP/FN and integer-ppm precision/recall.

    Thresholds are data-derived but exact: decile j's threshold is the
    score of the global rank ⌊j·N/10⌋ element, located from the SAME
    prefix-offset running count the AUC uses (``distrank.global_index``
    — no single-partition window over the score distribution).  The
    9-row threshold table then broadcasts back over the per-score tally
    for the confusion counts — a constant-factor (9×) pass over the
    |distinct scores| table, never over raw rows.

    All counts and ratios are exact integers (truncating ppm division),
    so the curve is bit-identical in both engines."""
    from ..catalog import load_table
    from .distrank import global_index

    emb = load_table(spark, sf_dir, "embeddings")
    q = [
        F.round(1000 * F.expr(f"CAST(embedding[{i}] AS DOUBLE)")).cast("long")
        for i in range(4)
    ]
    s = emb.select(
        (F.col("label") % 2).cast("long").alias("y"),
        (5 * q[0] - 3 * q[1] + 2 * q[2] - q[3]).alias("score"),
    )
    g = (
        s.groupBy("score")
        .agg(
            F.sum("y").cast("long").alias("pos_n"),
            F.sum(1 - F.col("y")).cast("long").alias("neg_n"),
            F.count("*").cast("long").alias("tot_n"),
        )
        .localCheckpoint(eager=False)
    )
    r = global_index(g, [F.col("score")], sum_col="tot_n")
    js = spark.range(1, 10).select(F.col("id").alias("j"))
    th = (
        r.crossJoin(F.broadcast(js))
        .filter(
            (F.expr("(j * __sum_total) div 10") > F.col("__csum") - F.col("tot_n"))
            & (F.expr("(j * __sum_total) div 10") <= F.col("__csum"))
        )
        .select("j", F.col("score").alias("thr"))
    )
    tot = g.agg(
        F.sum("pos_n").cast("long").alias("p_total"),
    )
    pr = (
        g.crossJoin(F.broadcast(th))
        .groupBy("j", "thr")
        .agg(
            F.sum(F.when(F.col("score") >= F.col("thr"), F.col("pos_n")).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(F.col("score") >= F.col("thr"), F.col("neg_n")).otherwise(0))
            .cast("long")
            .alias("fp"),
        )
    )
    return (
        pr.crossJoin(F.broadcast(tot))
        .select(
            F.col("j").cast("long").alias("decile"),
            F.col("thr").alias("threshold"),
            "tp",
            "fp",
            (F.col("p_total") - F.col("tp")).cast("long").alias("fn"),
            F.expr("tp * 1000000 div (tp + fp)")
            .cast("long")
            .alias("precision_ppm"),
            F.expr("tp * 1000000 div p_total").cast("long").alias("recall_ppm"),
        )
        .orderBy("decile")
    )


# --- Kolmogorov-Smirnov separation statistic -----------------------------------

_KS_SQL = f"""
WITH s AS ({_PR_SCORE_SQL}
), g AS (
  SELECT score, CAST(sum(y) AS BIGINT) AS pos_n,
         CAST(sum(1 - y) AS BIGINT) AS neg_n
  FROM s GROUP BY score
), r AS (
  SELECT score, pos_n, neg_n,
         sum(pos_n) OVER (ORDER BY score) AS cpos,
         sum(neg_n) OVER (ORDER BY score) AS cneg
  FROM g
), tot AS (
  SELECT CAST(sum(pos_n) AS BIGINT) AS np, CAST(sum(neg_n) AS BIGINT) AS nn
  FROM g
)
SELECT tot.np AS n_pos, tot.nn AS n_neg,
       CAST(max(abs(r.cpos * tot.nn - r.cneg * tot.np)) AS BIGINT)
         AS ks_scaled,
       CAST(max(abs(r.cpos * tot.nn - r.cneg * tot.np)) * 1000000
            // (tot.np * tot.nn) AS BIGINT) AS ks_ppm
FROM r CROSS JOIN tot GROUP BY tot.np, tot.nn
"""


@_q("ml_ks_statistic", _KS_SQL)
def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov separation of the positive/negative score
    distributions — the credit-scoring industry's standard separation
    measure (alongside ml_roc_auc's AUC and ml_pr_curve's deciles, this
    completes the binary-classifier evaluation family):
    ``KS = max_s |F_pos(s) − F_neg(s)|``.

    Exact-integer contract: at each score group the scaled gap
    ``|cpos·N_neg − cneg·N_pos|`` is a BIGINT (cross-multiplying clears
    both CDF denominators), so the max and the final truncating-ppm
    division are bit-identical in both engines — the KS statistic with
    zero float math.

    Scale shape: per-score tally map-side; BOTH running counts ride ONE
    ``distrank.global_index`` range exchange by packing (pos, neg) into
    a single BIGINT (pos·2³¹ + neg — exact while cumulative counts stay
    below 2³¹, i.e. ~2·10⁹ rows per side; beyond that widen the pack
    shift or run a second index pass), then unpacking the cumulative
    with div/mod; no single-partition window over scores."""
    from ..catalog import load_table
    from .distrank import global_index

    emb = load_table(spark, sf_dir, "embeddings")
    q = [
        F.round(1000 * F.expr(f"CAST(embedding[{i}] AS DOUBLE)")).cast("long")
        for i in range(4)
    ]
    s = emb.select(
        (F.col("label") % 2).cast("long").alias("y"),
        (5 * q[0] - 3 * q[1] + 2 * q[2] - q[3]).alias("score"),
    )
    g = (
        s.groupBy("score")
        .agg(
            F.sum("y").cast("long").alias("pos_n"),
            F.sum(1 - F.col("y")).cast("long").alias("neg_n"),
            F.count("*").cast("long").alias("tot_n"),
        )
        .localCheckpoint(eager=False)
    )
    # both cumulative counts from one exchange: pack (pos, neg) into a
    # single BIGINT and cumsum the packed value (see docstring bound).
    packed = g.select(
        "score",
        "pos_n",
        "neg_n",
        (F.col("pos_n") * F.lit(1 << 31) + F.col("neg_n")).alias("pk"),
    )
    r = global_index(packed, [F.col("score")], sum_col="pk")
    cpos = F.expr("__csum div 2147483648")
    cneg = F.expr("__csum % 2147483648")
    tot = g.agg(
        F.sum("pos_n").cast("long").alias("np_"),
        F.sum("neg_n").cast("long").alias("nn_"),
    )
    return (
        r.crossJoin(F.broadcast(tot))
        .select(
            "np_",
            "nn_",
            F.abs(cpos * F.col("nn_") - cneg * F.col("np_")).alias("gap"),
        )
        .groupBy("np_", "nn_")
        .agg(
            F.max("gap").cast("long").alias("ks_scaled"),
        )
        .select(
            F.col("np_").alias("n_pos"),
            F.col("nn_").alias("n_neg"),
            "ks_scaled",
            F.expr("ks_scaled * 1000000 div (np_ * nn_)")
            .cast("long")
            .alias("ks_ppm"),
        )
    )


# --- Brier score of the calibrated fast-sigmoid scorer -------------------------

_BRIER_Z_SCALE = 100  # score milli-units -> sigmoid micro-units

_BRIER_SQL = f"""
WITH s AS ({_PR_SCORE_SQL}
), p AS (
  SELECT y, {_LOGIT_S.format(div='//').replace('z', f'(score * {_BRIER_Z_SCALE})')}
           AS p_micro
  FROM s
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(sum((p_micro - 1000000 * y) * (p_micro - 1000000 * y))
            AS BIGINT) AS brier_num,
       CAST(sum((p_micro - 1000000 * y) * (p_micro - 1000000 * y))
            // (count(*) * 1000000) AS BIGINT) AS brier_micro
FROM p
"""


@_q("ml_brier_score", _BRIER_SQL)
def ml_brier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score (mean squared probability error) of the linear scorer
    calibrated through the rational fast-sigmoid — the PROPER scoring
    rule that completes the evaluation family (AUC/KS measure ranking,
    the PR curve measures thresholds, Brier measures CALIBRATION: a
    ranking-perfect but overconfident model scores badly here).

    Exact-integer contract: probabilities come from the same
    ``s(z) = 1/2 + z/(2(1+|z|))`` integer rational the logistic trainer
    uses (ml.py `_LOGIT_S` — no exp(), no libm variance), so
    ``Σ(p_micro − 10⁶·y)²`` is a BIGINT and brier_micro is one
    truncating division — bit-identical in both engines.

    Scale shape: pure projection + one global fold — zero shuffles; the
    per-row square is ≤10¹², safe to ~9·10⁶ rows per final aggregate
    before the sum needs a decimal widen (documented bound)."""
    from ..catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = [
        F.round(1000 * F.expr(f"CAST(embedding[{i}] AS DOUBLE)")).cast("long")
        for i in range(4)
    ]
    s = emb.select(
        (F.col("label") % 2).cast("long").alias("y"),
        (5 * q[0] - 3 * q[1] + 2 * q[2] - q[3]).alias("score"),
    )
    sig = _LOGIT_S.format(div="div").replace("z", f"(score * {_BRIER_Z_SCALE})")
    p = s.selectExpr("y", f"{sig} AS p_micro")
    return p.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            (F.col("p_micro") - 1000000 * F.col("y"))
            * (F.col("p_micro") - 1000000 * F.col("y"))
        )
        .cast("long")
        .alias("brier_num"),
        F.expr(
            "sum((p_micro - 1000000 * y) * (p_micro - 1000000 * y))"
            " div (count(*) * 1000000)"
        )
        .cast("long")
        .alias("brier_micro"),
    )


# --- grouped multiple regression (2 features + intercept, r11p wave) ---------
# The d>1 generalization ml_linear_regression's docstring promises: the
# 3x3 Gram matrix [[n,a,b],[a,c,d],[b,d,e]] from d(d+1)/2 + d + 1 = 8
# sufficient-statistic sums in ONE aggregation pass, solved by Cramer's
# rule with every determinant an EXACT 128-bit integer. Features:
# x1 = l_quantity, x2 = discount cents; target y = extendedprice cents.

_MREG_STATS = """
  SELECT l_returnflag AS grp,
         CAST(count(*) AS {big}) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS {big}) AS a,
         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS {big}) AS b,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              AS {big}) AS c,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS {big}) AS d,
         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS {big}) AS e,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS {big}) AS sy,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS {big}) AS s1y,
         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                  * CAST(round(l_extendedprice * 100) AS BIGINT)) AS {big}) AS s2y
  FROM lineitem GROUP BY l_returnflag
"""

# Cramer determinants over the symmetric normal matrix — shared text for
# both engines (wide integer type differs: HUGEINT vs DECIMAL(38,0)).
_MREG_DETS = """
         n * (c * e - d * d) - a * (a * e - b * d) + b * (a * d - b * c)
           AS det_a,
         sy * (c * e - d * d) - a * (s1y * e - d * s2y)
           + b * (s1y * d - c * s2y) AS det_0,
         n * (s1y * e - d * s2y) - sy * (a * e - b * d)
           + b * (a * s2y - b * s1y) AS det_1,
         n * (c * s2y - d * s1y) - a * (a * s2y - b * s1y)
           + sy * (a * d - b * c) AS det_2
"""

_MREG_SQL = f"""
WITH s AS ({_MREG_STATS.format(big="HUGEINT")}
), dets AS (
  SELECT grp, n,
{_MREG_DETS}
  FROM s
)
SELECT grp, CAST(n AS BIGINT) AS n,
       CAST({_OLS_TDIV.format(num="det_0 * 1000000", den="det_a", div="//")}
            AS BIGINT) AS intercept_micros,
       CAST({_OLS_TDIV.format(num="det_1 * 1000000", den="det_a", div="//")}
            AS BIGINT) AS beta_qty_micros,
       CAST({_OLS_TDIV.format(num="det_2 * 1000000", den="det_a", div="//")}
            AS BIGINT) AS beta_disc_micros
FROM dets ORDER BY grp
"""


@_q("ml_multiple_regression", _MREG_SQL)
def ml_multiple_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped MULTIPLE regression (price ~ quantity + discount +
    intercept), one model per l_returnflag, via the exact normal
    equations: eight integer sufficient statistics in one map-side-
    combined pass, then Cramer's rule on the 3x3 Gram matrix with every
    determinant computed in DECIMAL(38,0) (oracle: HUGEINT) and folded
    to micros by the sign-safe truncating division ml_linear_regression
    uses. Coefficients are bit-identical at any partitioning/engine;
    the 128-bit margin holds through ~sf 1 (det numerators reach ~2e37
    at sf 1 — same documented envelope as the single-feature op).
    Scale: ONE data pass; the solve is O(1) per group."""
    li = load_tables(spark, sf_dir, "lineitem")[0]
    dec = "decimal(38,0)"
    q = F.col("l_quantity").cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    y = F.round(F.col("l_extendedprice") * 100).cast("long")
    s = li.select(
        F.col("l_returnflag").alias("grp"),
        q.alias("x1"), disc.alias("x2"), y.alias("yy"),
    ).groupBy("grp").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("x1").cast(dec).alias("a"),
        F.sum("x2").cast(dec).alias("b"),
        F.sum(F.col("x1") * F.col("x1")).cast(dec).alias("c"),
        F.sum(F.col("x1") * F.col("x2")).cast(dec).alias("d"),
        F.sum(F.col("x2") * F.col("x2")).cast(dec).alias("e"),
        F.sum("yy").cast(dec).alias("sy"),
        F.sum(F.col("x1") * F.col("yy")).cast(dec).alias("s1y"),
        F.sum(F.col("x2") * F.col("yy")).cast(dec).alias("s2y"),
    )
    dets = s.select(
        "grp", "n",
        *[
            F.expr(expr_txt.strip().rstrip(",").replace("\n", " ")).alias(name)
            for name, expr_txt in (
                ("det_a",
                 "n * (c * e - d * d) - a * (a * e - b * d)"
                 " + b * (a * d - b * c)"),
                ("det_0",
                 "sy * (c * e - d * d) - a * (s1y * e - d * s2y)"
                 " + b * (s1y * d - c * s2y)"),
                ("det_1",
                 "n * (s1y * e - d * s2y) - sy * (a * e - b * d)"
                 " + b * (a * s2y - b * s1y)"),
                ("det_2",
                 "n * (c * s2y - d * s1y) - a * (a * s2y - b * s1y)"
                 " + sy * (a * d - b * c)"),
            )
        ],
    )
    return dets.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.expr(
            _OLS_TDIV.format(num="det_0 * 1000000", den="det_a", div="div")
        ).cast("long").alias("intercept_micros"),
        F.expr(
            _OLS_TDIV.format(num="det_1 * 1000000", den="det_a", div="div")
        ).cast("long").alias("beta_qty_micros"),
        F.expr(
            _OLS_TDIV.format(num="det_2 * 1000000", den="det_a", div="div")
        ).cast("long").alias("beta_disc_micros"),
    ).orderBy("grp")


# --- hashing-trick feature extraction (r12 wave) --------------------------------
# The Vowpal-Wabbit / scikit HashingVectorizer primitive: tokens hash
# into a fixed bucket space with a +/-1 sign hash, so the feature matrix
# needs no vocabulary pass, no dictionary state, and merges by addition —
# the embarrassingly-parallel featurizer a 100 TB text pipeline runs
# before any linear model. Buckets and signs come from disjoint md5 hex
# slices (engine-identical), values are exact integer counts.

FH_BUCKETS = 64

_FH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents WHERE doc_id < 500
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(w), 1, 8)) AS BIGINT) % {FH_BUCKETS}
           AS bucket,
         CASE WHEN CAST(('0x' || substr(md5(w), 9, 1)) AS INTEGER) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM tok
), feat AS (
  SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS v
  FROM hashed GROUP BY doc_id, bucket
)
SELECT doc_id,
       CAST(count(*) FILTER (v <> 0) AS BIGINT) AS nnz,
       CAST(sum(abs(v)) AS BIGINT) AS l1,
       CAST(sum(v * v) AS BIGINT) AS l2sq,
       CAST(sum(v * bucket) AS BIGINT) AS checksum
FROM feat GROUP BY doc_id ORDER BY doc_id
"""


@_q("ml_feature_hashing", _FH_SQL)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization over a doc slice: every token lands
    in one of {B} buckets via an md5 slice with a second-slice ±1 sign
    (the collision-debiasing device from the original hashing-trick
    paper), per-doc bucket values are exact signed counts, and the
    emitted per-doc profile (nnz / L1 / L2² / weighted checksum) pins
    the entire sparse vector under the value hash.

    Scale: explode → (doc, bucket) sum-groupBy (map-side combinable,
    bucket space fixed at {B}) → per-doc fold. No vocabulary state, no
    broadcast, no Python — the whole featurizer is three codegen'd
    stages that merge by addition at any partitioning."""
    from ..catalog import load_table
    from .text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)

    tok = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("w"))
    hashed = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("long")
            % FH_BUCKETS
        ).alias("bucket"),
        F.when(
            F.conv(F.substring(F.md5("w"), 9, 1), 16, 10).cast("int") % 2 == 0, 1
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    feat = hashed.groupBy("doc_id", "bucket").agg(
        F.sum("sgn").cast("long").alias("v")
    )
    return (
        feat.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("v") != 0, 1).otherwise(0)).cast("long").alias("nnz"),
            F.sum(F.abs("v")).cast("long").alias("l1"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("l2sq"),
            F.sum(F.col("v") * F.col("bucket")).cast("long").alias("checksum"),
        )
        .orderBy("doc_id")
    )


ml_feature_hashing.__doc__ = ml_feature_hashing.__doc__.format(B=FH_BUCKETS)


# --- decile lift / gains table (r13) -------------------------------------------
# THE model-evaluation table every targeting campaign reads: rank the
# population by model score descending, cut into 10 equal-depth deciles,
# and report per-decile response plus cumulative gains and lift. Score =
# customer lifetime spend (exact cents); label = customer ever placed an
# URGENT order. The global descending rank rides distrank.global_index
# (range exchange, never a single-partition window) with the cumulative
# positive count as its running sum, so the table is 3 shuffles at any
# data size and the emitted 10-row relation is exact-integer.

_LIFT_SQL = """
WITH cust AS (
  SELECT o_custkey AS ck,
         CAST(sum(round(o_totalprice * 100)) AS BIGINT) AS score,
         max(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS pos
  FROM orders GROUP BY 1
), ranked AS (
  SELECT score, pos,
         row_number() OVER (ORDER BY score DESC, ck) AS rn,
         count(*) OVER () AS n,
         sum(pos) OVER () AS tot_pos
  FROM cust
), bucketed AS (
  SELECT ((rn - 1) * 10) // n AS decile, pos, n, tot_pos FROM ranked
), d AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(max(n) AS BIGINT) AS n, CAST(max(tot_pos) AS BIGINT) AS tot_pos
  FROM bucketed GROUP BY 1
), c AS (
  SELECT decile, n_rows, n_pos,
         sum(n_rows) OVER (ORDER BY decile) AS cum_n,
         sum(n_pos) OVER (ORDER BY decile) AS cum_pos,
         n, tot_pos
  FROM d
)
SELECT CAST(decile AS BIGINT) AS decile, n_rows, n_pos,
       CAST(cum_pos * 1000000 // tot_pos AS BIGINT) AS gains_e6,
       CAST(CAST(cum_pos AS HUGEINT) * 1000000 * n
            // (CAST(cum_n AS HUGEINT) * tot_pos) AS BIGINT) AS lift_e6
FROM c ORDER BY decile
"""


@_q("ml_lift_gains", _LIFT_SQL)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / cumulative-gains table for the spend→urgency signal.
    gains_e6 = share of all positives captured through this decile;
    lift_e6 = decile-cumulative response rate over the base rate, both
    exact rationals in micros (the lift numerator runs in DECIMAL(38,0)
    — cum_pos·1e6·n outgrows int64 first at cluster row counts).

    Scale: per-customer collapse (map-side combinable) → ONE distrank
    range exchange carrying the running positive count → a 10-row
    decile table; the cumulative window runs on 10 rows."""
    from .distrank import global_index

    orders = load_tables(spark, sf_dir, "orders")[0]
    cust = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("score"),
        F.max(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        ).alias("pos"),
    )
    r = global_index(
        cust, [F.col("score").desc(), F.col("ck")], sum_col="pos"
    )
    d = (
        r.withColumn(
            "decile", ((F.col("__rn") - 1) * 10 / F.col("__n_total")).cast("long")
        )
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.max("__n_total").cast("long").alias("n"),
            F.max("__sum_total").cast("long").alias("tot_pos"),
        )
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = d.select(
        "decile", "n_rows", "n_pos", "n", "tot_pos",
        F.sum("n_rows").over(w).alias("cum_n"),
        F.sum("n_pos").over(w).alias("cum_pos"),
    )
    dec = "decimal(38,0)"
    return c.select(
        F.col("decile").cast("long"),
        "n_rows", "n_pos",
        F.expr("cum_pos * 1000000 div tot_pos").cast("long").alias("gains_e6"),
        (
            F.col("cum_pos").cast(dec) * 1000000 * F.col("n").cast(dec)
        ).alias("_num")
        .cast(dec),
        (F.col("cum_n").cast(dec) * F.col("tot_pos").cast(dec)).alias("_den"),
    ).select(
        "decile", "n_rows", "n_pos", "gains_e6",
        F.expr("_num div _den").cast("long").alias("lift_e6"),
    ).orderBy("decile")


# --- smoothed target encoding (r13) --------------------------------------------
# The leakage-safe categorical featurizer: encode each category by its
# target rate shrunk toward the global prior with pseudo-count m — the
# empirical-Bayes device every tabular pipeline ships. All counts are
# map-side combinable; the prior is a 1-row broadcast.

TENC_M = 20  # prior pseudo-count

_TENC_SQL = f"""
WITH base AS (
  SELECT c.c_mktsegment AS seg,
         CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), prior AS (
  SELECT CAST(sum(y) AS BIGINT) * 1000000 // CAST(count(*) AS BIGINT)
           AS prior_e6
  FROM base
), per AS (
  SELECT seg, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM base GROUP BY 1
)
SELECT seg, n, pos,
       CAST(pos * 1000000 // n AS BIGINT) AS naive_e6,
       CAST((pos * 1000000 + {TENC_M} * prior_e6) // (n + {TENC_M}) AS BIGINT)
         AS encoded_e6,
       CAST(n * 1000000 // (n + {TENC_M}) AS BIGINT) AS weight_e6
FROM per, prior
ORDER BY seg
"""


@_q("ml_target_encoding", _TENC_SQL)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed (empirical-Bayes) target encoding of market segment
    against order urgency: encoded = (pos + m·prior)/(n + m) with
    m = {m}, all exact integer micros. Emits the naive rate, the
    shrunk encoding, and the shrinkage weight n/(n+m) per category.

    Scale: one fact-side count groupBy (map-side combinable, category
    cardinality rows) + a 1-row broadcast prior — the encoding never
    touches the fact table twice."""
    orders, cust = load_tables(spark, sf_dir, "orders", "customer")
    base = orders.join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    ).select(
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("y"),
    )
    prior = base.agg(
        F.expr("CAST(sum(y) AS BIGINT) * 1000000 div count(*)")
        .cast("long")
        .alias("prior_e6")
    )
    per = base.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    return (
        per.crossJoin(F.broadcast(prior))
        .select(
            "seg", "n", "pos",
            F.expr("pos * 1000000 div n").cast("long").alias("naive_e6"),
            F.expr(
                f"(pos * 1000000 + {TENC_M} * prior_e6) div (n + {TENC_M})"
            ).cast("long").alias("encoded_e6"),
            F.expr(f"n * 1000000 div (n + {TENC_M})")
            .cast("long")
            .alias("weight_e6"),
        )
        .orderBy("seg")
    )


ml_target_encoding.__doc__ = ml_target_encoding.__doc__.format(m=TENC_M)


# --- population stability index (r13) -------------------------------------------
# THE score-drift monitor between a reference window and a current
# window: decile-bin the reference, drop both populations into those
# bins, PSI = Σ (p_i − q_i)·ln(p_i/q_i). Bin boundaries come off ONE
# distrank range exchange over the reference (never a single-partition
# window); binning is a 9-row broadcast; counts are map-side
# combinable. Laplace +1 on every bin keeps ln finite when a bin
# empties. Exact-integer discipline: the (p−q) factor is the exact
# rational (p1·qt − q1·pt)/(pt·qt); ln runs ONLY over exact-integer-
# valued doubles (cross-engine micros parity verified); each bin's term
# is rounded to e9 BEFORE the total so the sum is an integer sum.

_PSI_SQL = """
WITH ref AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS s, o_orderkey AS ok
  FROM orders WHERE year(o_orderdate) = 1996
), cur AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS s FROM orders
  WHERE year(o_orderdate) = 1997
), ranked AS (
  SELECT s, row_number() OVER (ORDER BY s, ok) AS rn, count(*) OVER () AS n
  FROM ref
), bounds AS (
  SELECT s AS b FROM ranked WHERE rn IN (
    SELECT (i * max(n)) // 10 FROM ranked, generate_series(1, 9) t(i) GROUP BY i
  )
), refbin AS (
  SELECT (SELECT count(*) FROM bounds WHERE b < r.s) AS bin FROM ref r
), curbin AS (
  SELECT (SELECT count(*) FROM bounds WHERE b < c.s) AS bin FROM cur c
), bins AS (
  SELECT unnest(generate_series(0, 9)) AS bin
), counts AS (
  SELECT bins.bin,
         CAST((SELECT count(*) FROM refbin WHERE refbin.bin = bins.bin) AS BIGINT) AS ref_n,
         CAST((SELECT count(*) FROM curbin WHERE curbin.bin = bins.bin) AS BIGINT) AS cur_n
  FROM bins
), tot AS (
  SELECT CAST(sum(ref_n) + 10 AS BIGINT) AS pt,
         CAST(sum(cur_n) + 10 AS BIGINT) AS qt
  FROM counts
)
SELECT CAST(bin AS BIGINT) AS bin, ref_n, cur_n,
       CAST(round(
         (CAST((ref_n + 1) * qt - (cur_n + 1) * pt AS DOUBLE)
          / CAST(pt * qt AS DOUBLE))
         * (ln(CAST((ref_n + 1) * qt AS DOUBLE))
            - ln(CAST((cur_n + 1) * pt AS DOUBLE)))
         * 1000000000) AS BIGINT) AS psi_term_e9
FROM counts, tot
ORDER BY bin
"""


@_q("ml_psi_stability", _PSI_SQL)
def ml_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI between 1996 (reference) and 1997 (current) order-value
    distributions over reference deciles; per-bin term in nanos (the
    10-row integer sum of psi_term_e9 IS the PSI·1e9).

    Scale: ONE distrank range exchange over the reference extracts the
    9 boundaries; binning both populations is a broadcast of 9 values;
    everything after is a 10-row relation."""
    from .distrank import global_index

    orders = load_tables(spark, sf_dir, "orders")[0]
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    ref = orders.filter(F.year("o_orderdate") == 1996).select(
        cents.alias("s"), F.col("o_orderkey").alias("ok")
    )
    cur = orders.filter(F.year("o_orderdate") == 1997).select(cents.alias("s"))
    r = global_index(ref, [F.col("s"), F.col("ok")])
    bounds = r.filter(
        F.expr(
            "__rn IN (1*__n_total div 10, 2*__n_total div 10, "
            "3*__n_total div 10, 4*__n_total div 10, 5*__n_total div 10, "
            "6*__n_total div 10, 7*__n_total div 10, 8*__n_total div 10, "
            "9*__n_total div 10)"
        )
    ).select(F.col("s").alias("b"))

    # bin each population: count boundaries strictly below the score
    def bincounts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.crossJoin(F.broadcast(bounds.groupBy().agg(
                F.collect_list("b").alias("bs"))))
            .select(
                F.aggregate(
                    "bs", F.lit(0),
                    lambda acc, b: acc + F.when(b < F.col("s"), 1).otherwise(0),
                ).alias("bin")
            )
            .groupBy("bin")
            .agg(F.count("*").cast("long").alias(out))
        )

    refc = bincounts(ref.select("s"), "ref_n")
    curc = bincounts(cur, "cur_n")
    bins = spark.range(10).select(F.col("id").alias("bin"))
    counts = (
        bins.join(refc, "bin", "left")
        .join(curc, "bin", "left")
        .select(
            "bin",
            F.coalesce("ref_n", F.lit(0)).cast("long").alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).cast("long").alias("cur_n"),
        )
    )
    tot = counts.agg(
        (F.sum("ref_n") + 10).cast("long").alias("pt"),
        (F.sum("cur_n") + 10).cast("long").alias("qt"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long"),
            "ref_n", "cur_n",
            F.round(
                (
                    ((F.col("ref_n") + 1) * F.col("qt")
                     - (F.col("cur_n") + 1) * F.col("pt")).cast("double")
                    / (F.col("pt") * F.col("qt")).cast("double")
                )
                * (
                    F.log(((F.col("ref_n") + 1) * F.col("qt")).cast("double"))
                    - F.log(((F.col("cur_n") + 1) * F.col("pt")).cast("double"))
                )
                * 1000000000
            ).cast("long").alias("psi_term_e9"),
        )
        .orderBy("bin")
    )


# --- Cohen's kappa (r13) ---------------------------------------------------------
# Chance-corrected agreement between two deterministic labelers over the
# same rows — the standard QA metric when two heuristic annotators (or a
# model and a rule) label a training corpus. Exact rational micros:
# kappa = (po − pe)/(1 − pe) with po, pe expanded over the confusion
# counts so the whole statistic is one integer expression.

_KAPPA_SQL = """
WITH labeled AS (
  SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS a,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS b
  FROM lineitem
), m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(a * b) AS HUGEINT) AS n11,
         CAST(sum((1 - a) * (1 - b)) AS HUGEINT) AS n00,
         CAST(sum(a) AS HUGEINT) AS a1,
         CAST(sum(b) AS HUGEINT) AS b1
  FROM labeled
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n11 AS BIGINT) AS n11, CAST(n00 AS BIGINT) AS n00,
       CAST(a1 AS BIGINT) AS a_pos, CAST(b1 AS BIGINT) AS b_pos,
       CAST((n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1))) * 1000000
            // (n * n - (a1 * b1 + (n - a1) * (n - b1))) AS BIGINT)
         AS kappa_e6
FROM m
"""


@_q("ml_cohen_kappa", _KAPPA_SQL)
def ml_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the quantity rule (q > 25) and the discount
    rule (d >= 0.05) as labelers of the same lineitem rows — exact
    rational micros over the confusion counts (the n² term runs in
    128-bit: it outgrows int64 beyond ~3e9 rows).

    Scale: ONE scan-shaped aggregate, every sum map-side combinable;
    no joins, no windows."""
    (li,) = load_tables(spark, sf_dir, "lineitem")
    a = F.when(F.col("l_quantity") > 25, 1).otherwise(0)
    b = F.when(F.col("l_discount") >= 0.05, 1).otherwise(0)
    dec = "decimal(38,0)"
    m = li.select(a.alias("a"), b.alias("b")).agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("a") * F.col("b")).cast(dec).alias("n11"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast(dec).alias("n00"),
        F.sum("a").cast(dec).alias("a1"),
        F.sum("b").cast(dec).alias("b1"),
    )
    return m.select(
        F.col("n").cast("long"),
        F.col("n11").cast("long"),
        F.col("n00").cast("long"),
        F.col("a1").cast("long").alias("a_pos"),
        F.col("b1").cast("long").alias("b_pos"),
        F.expr(
            "CAST((n * (n11 + n00) - (a1 * b1 + (n - a1) * (n - b1))) "
            "* 1000000 div (n * n - (a1 * b1 + (n - a1) * (n - b1))) "
            "AS BIGINT)"
        ).alias("kappa_e6"),
    )


# --- learning curve (r13) --------------------------------------------------------
# The data-scaling diagnostic behind every "do we need more labeled
# data?" decision: train the same classifier on nested 25/50/75/100%
# subsets and evaluate each on ONE held-out split. The classifier is a
# per-feature-bucket majority vote (the distributed-histogram model a
# single groupBy trains), so the whole curve is computable in one pass:
# per-(band, bucket) counts cumulate across bands into the four nested
# models — no retraining scans. Deterministic: subsets are modular
# orderkey bands (nested by construction), ties predict negative.

LC_BANDS = 4
LC_BUCKET_CENTS = 2_500_000  # feature: totalprice bucket width ($25k)

_LC_SQL = f"""
WITH base AS (
  SELECT o_orderkey AS k,
         least(CAST(round(o_totalprice * 100) AS BIGINT)
               // {LC_BUCKET_CENTS}, 9) AS f,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
  FROM orders
), train AS (
  SELECT k % {LC_BANDS} AS b, f, y FROM base WHERE k % 5 <> 0
), eval AS (
  SELECT f, y FROM base WHERE k % 5 = 0
), bandstats AS (
  SELECT b, f, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM train GROUP BY 1, 2
), sizes AS (
  SELECT unnest(generate_series(1, {LC_BANDS})) AS s
), model AS (
  SELECT s.s, bs.f,
         CAST(sum(bs.n) AS BIGINT) AS n_s, CAST(sum(bs.pos) AS BIGINT) AS pos_s
  FROM sizes s JOIN bandstats bs ON bs.b < s.s
  GROUP BY 1, 2
), pred AS (
  SELECT s, f, CASE WHEN 2 * pos_s > n_s THEN 1 ELSE 0 END AS yhat, n_s
  FROM model
), scored AS (
  SELECT p.s, CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN p.yhat = e.y THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct
  FROM eval e JOIN pred p ON p.f = e.f
  GROUP BY 1
), trainsz AS (
  SELECT s, CAST(sum(n_s) AS BIGINT) AS train_rows
  FROM (SELECT DISTINCT s, f, n_s FROM model) GROUP BY 1
)
SELECT CAST(sc.s * 100 / {LC_BANDS} AS BIGINT) AS train_pct,
       t.train_rows, sc.n_eval,
       CAST(sc.n_correct * 1000000 // sc.n_eval AS BIGINT) AS accuracy_e6
FROM scored sc JOIN trainsz t ON t.s = sc.s
ORDER BY train_pct
"""


@_q("ml_learning_curve", _LC_SQL)
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve of the bucket-majority classifier over nested
    25/50/75/100% training subsets, all evaluated on the fixed
    orderkey%5 holdout — per size: training rows, eval rows, exact
    accuracy micros.

    Scale: ONE (band, bucket) count groupBy trains all four models
    (cumulating bands is a ≤4·|buckets|-row join, never a rescan); the
    eval join broadcasts the ≤40-row model table. The curve costs two
    scans total at any data size."""
    orders = load_tables(spark, sf_dir, "orders")[0]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.least(
            F.expr(
                f"CAST(round(o_totalprice * 100) AS BIGINT) "
                f"div {LC_BUCKET_CENTS}"
            ),
            F.lit(9).cast("long"),
        ).alias("f"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("y"),
    )
    train = base.filter(F.col("k") % 5 != 0).select(
        (F.col("k") % LC_BANDS).alias("b"), "f", "y"
    )
    ev = base.filter(F.col("k") % 5 == 0).select("f", "y")
    bandstats = train.groupBy("b", "f").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    sizes = spark.range(1, LC_BANDS + 1).select(F.col("id").alias("s"))
    model = (
        sizes.join(bandstats, F.col("b") < F.col("s"))
        .groupBy("s", "f")
        .agg(
            F.sum("n").cast("long").alias("n_s"),
            F.sum("pos").cast("long").alias("pos_s"),
        )
    )
    pred = model.select(
        "s", "f",
        F.when(2 * F.col("pos_s") > F.col("n_s"), 1).otherwise(0)
        .alias("yhat"),
        "n_s",
    )
    scored = (
        ev.join(F.broadcast(pred), "f")
        .groupBy("s")
        .agg(
            F.count("*").cast("long").alias("n_eval"),
            F.sum(F.when(F.col("yhat") == F.col("y"), 1).otherwise(0))
            .cast("long").alias("n_correct"),
        )
    )
    trainsz = model.groupBy("s").agg(
        F.sum("n_s").cast("long").alias("train_rows")
    )
    return (
        scored.join(trainsz, "s")
        .select(
            (F.col("s") * 100 / LC_BANDS).cast("long").alias("train_pct"),
            "train_rows", "n_eval",
            F.expr("CAST(n_correct * 1000000 div n_eval AS BIGINT)")
            .alias("accuracy_e6"),
        )
        .orderBy("train_pct")
    )


# --- NDCG@k ranking quality (recsys/retrieval backtest, r13) -----------------
# The one standard ranking metric the eval family (roc_auc, pr_curve,
# lift_gains, ks) still lacked: order-sensitive graded relevance with a
# log-position discount.  Scenario = a recommendation backtest on the
# events stream: score each (event_type, user) by FIRST-half activity,
# rank users per event_type, and judge the top-k against SECOND-half
# graded relevance (capped at 3, the classic 4-level scale).  The
# 1/log2(i+1) discounts are e9-quantized Python constants embedded
# identically in both engines, so DCG/IDCG/NDCG are exact integers —
# no cross-engine libm.

NDCG_K = 10
_NDCG_DISC = tuple(round(1e9 / __import__("math").log2(i + 1)) for i in range(1, NDCG_K + 1))

_NDCG_SQL = f"""
WITH pu AS (
  SELECT event_type, user_id,
         CAST(sum(CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM events GROUP BY 1, 2
), cand AS (
  SELECT event_type, user_id, n1, least(n2, 3) AS rel FROM pu WHERE n1 >= 1
), ranked AS (
  SELECT event_type, rel,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY n1 DESC, user_id) AS rnk
  FROM cand
), ideal AS (
  SELECT event_type, rel,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY rel DESC, user_id) AS rnk
  FROM cand
), disc(rnk, d) AS (
  VALUES {", ".join(f"({i + 1}, {d})" for i, d in enumerate(_NDCG_DISC))}
), dcg AS (
  SELECT r.event_type, sum(r.rel * disc.d) AS dcg_e9
  FROM ranked r JOIN disc ON disc.rnk = r.rnk GROUP BY 1
), idcg AS (
  SELECT i.event_type, sum(i.rel * disc.d) AS idcg_e9
  FROM ideal i JOIN disc ON disc.rnk = i.rnk GROUP BY 1
), nc AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_candidates FROM cand GROUP BY 1
)
SELECT nc.event_type, nc.n_candidates,
       CAST(dcg.dcg_e9 AS BIGINT) AS dcg_e9,
       CAST(idcg.idcg_e9 AS BIGINT) AS idcg_e9,
       CAST(CASE WHEN idcg.idcg_e9 > 0
                 THEN dcg.dcg_e9 * 1000000 // idcg.idcg_e9 END AS BIGINT)
         AS ndcg_e6
FROM nc JOIN dcg USING (event_type) JOIN idcg USING (event_type)
ORDER BY event_type
"""


@_q("ml_ndcg_at_k", _NDCG_SQL)
def ml_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@{k} of the first-half-activity ranking judged against
    second-half graded relevance (least(n2, 3)), per event_type.  IDCG
    re-ranks the SAME candidate pool (users active in the first half)
    by relevance, so ndcg_e6 = 1e6 exactly when the activity ranking is
    relevance-optimal.

    Scale: one (event_type, user) count groupBy (map-side combinable);
    both rankings are rank<=k windows partitioned on event_type —
    Spark's WindowGroupLimit pushes the top-k below the exchange, so
    per-group state is k rows, never the user count; the {k}-row
    discount table broadcasts.  All metric math is exact integer
    (e9 discounts x integer relevance)."""
    ev = load_tables(spark, sf_dir, "events")[0]
    pu = ev.groupBy("event_type", "user_id").agg(
        F.sum(
            F.when(F.to_date("ts") <= F.lit("2024-01-15").cast("date"), 1)
            .otherwise(0)
        ).cast("long").alias("n1"),
        F.sum(
            F.when(F.to_date("ts") > F.lit("2024-01-15").cast("date"), 1)
            .otherwise(0)
        ).cast("long").alias("n2"),
    )
    cand = pu.filter(F.col("n1") >= 1).select(
        "event_type", "user_id", "n1",
        F.least(F.col("n2"), F.lit(3).cast("long")).alias("rel"),
    )
    from ..catalog import small_df

    disc = F.broadcast(
        small_df(
            spark, [(i + 1, d) for i, d in enumerate(_NDCG_DISC)], "rnk int, d long"
        )
    )
    ranked = cand.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.desc("n1"), F.asc("user_id"))
        ),
    ).filter(F.col("rnk") <= NDCG_K)
    ideal = cand.withColumn(
        "rnk",
        F.row_number().over(
            W.partitionBy("event_type").orderBy(F.desc("rel"), F.asc("user_id"))
        ),
    ).filter(F.col("rnk") <= NDCG_K)
    dcg = ranked.join(disc, "rnk").groupBy("event_type").agg(
        F.sum(F.col("rel") * F.col("d")).cast("long").alias("dcg_e9")
    )
    idcg = ideal.join(disc, "rnk").groupBy("event_type").agg(
        F.sum(F.col("rel") * F.col("d")).cast("long").alias("idcg_e9")
    )
    nc = cand.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    return (
        nc.join(dcg, "event_type").join(idcg, "event_type")
        .select(
            "event_type", "n_candidates", "dcg_e9", "idcg_e9",
            F.expr(
                "CAST(CASE WHEN idcg_e9 > 0"
                " THEN dcg_e9 * 1000000 div idcg_e9 END AS BIGINT)"
            ).alias("ndcg_e6"),
        )
        .orderBy("event_type")
    )


ml_ndcg_at_k.__doc__ = ml_ndcg_at_k.__doc__.format(k=NDCG_K)


# --- McNemar paired classifier comparison (r13) ------------------------------
# The eval family compares a model against TRUTH (accuracy, AUC, kappa);
# McNemar's test compares two models against EACH OTHER on the same
# rows — the standard "is B actually better than A, or is the delta
# noise" gate before swapping a production model.  Only the discordant
# counts matter: b = A right / B wrong, c = A wrong / B right; the
# continuity-corrected statistic (|b-c|-1)^2/(b+c) is chi^2(1) under
# H0.  Everything is exact integer (e6 statistic), single output row.

_MCNEMAR_SQL = """
WITH scored AS (
  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
         CASE WHEN o_totalprice >= 150000 THEN 1 ELSE 0 END AS pa,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pb
  FROM orders
), cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pa = y AND pb <> y THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN pa <> y AND pb = y THEN 1 ELSE 0 END) AS BIGINT) AS c,
         CAST(sum(CASE WHEN pa = y THEN 1 ELSE 0 END) AS BIGINT) AS a_correct,
         CAST(sum(CASE WHEN pb = y THEN 1 ELSE 0 END) AS BIGINT) AS b_correct
  FROM scored
)
SELECT n, b AS a_only_correct, c AS b_only_correct,
       CAST(a_correct * 1000000 // n AS BIGINT) AS acc_a_e6,
       CAST(b_correct * 1000000 // n AS BIGINT) AS acc_b_e6,
       CAST(CASE WHEN b + c > 0
                 THEN (abs(b - c) - 1) * (abs(b - c) - 1) * 1000000 // (b + c)
                 ELSE 0 END AS BIGINT) AS chi2_e6
FROM cells
"""


@_q("ml_mcnemar_test", _MCNEMAR_SQL)
def ml_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's continuity-corrected test comparing two deterministic
    urgency classifiers (price-threshold vs status-rule) on the same
    orders: discordant counts b/c, per-model accuracy e6, and the
    chi^2(1) statistic (|b-c|-1)^2 * 1e6 div (b+c).

    Scale: ONE map-side-combinable full aggregate — five counting sums,
    single output row at any data size; the statistic is pure integer
    arithmetic on the two discordant cells (the concordant cells cancel
    out of the test, which is why the comparison is cheap)."""
    orders = load_tables(spark, sf_dir, "orders")[0]
    scored = orders.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("y"),
        F.when(F.col("o_totalprice") >= 150000, 1).otherwise(0).alias("pa"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("pb"),
    )
    cells = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when((F.col("pa") == F.col("y"))
                     & (F.col("pb") != F.col("y")), 1).otherwise(0))
        .cast("long").alias("b"),
        F.sum(F.when((F.col("pa") != F.col("y"))
                     & (F.col("pb") == F.col("y")), 1).otherwise(0))
        .cast("long").alias("c"),
        F.sum(F.when(F.col("pa") == F.col("y"), 1).otherwise(0))
        .cast("long").alias("a_correct"),
        F.sum(F.when(F.col("pb") == F.col("y"), 1).otherwise(0))
        .cast("long").alias("b_correct"),
    )
    return cells.select(
        "n",
        F.col("b").alias("a_only_correct"),
        F.col("c").alias("b_only_correct"),
        F.expr("CAST(a_correct * 1000000 div n AS BIGINT)").alias("acc_a_e6"),
        F.expr("CAST(b_correct * 1000000 div n AS BIGINT)").alias("acc_b_e6"),
        F.expr(
            "CAST(CASE WHEN b + c > 0"
            " THEN (abs(b - c) - 1) * (abs(b - c) - 1) * 1000000 div (b + c)"
            " ELSE 0 END AS BIGINT)"
        ).alias("chi2_e6"),
    )


# --- permutation feature importance (r13) ------------------------------------
# Model-agnostic importance the way production eval does it: break one
# feature's association by permuting it ACROSS the fixed eval set and
# measure the accuracy drop.  The permutation must be deterministic to
# cross engines, so it is a CYCLIC SHIFT in md5 order: rank eval rows
# by a seeded hash, then row r takes feature j's value from row
# (r mod n)+1 — a full derangement-like permutation both engines
# reproduce exactly.  Unseen permuted cells fall back to the global
# majority (the model's honest out-of-vocabulary answer).

_PI_SEED = "pi1:"

_PERMIMP_SQL = f"""
WITH base AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_totalprice >= 160000 THEN 1 ELSE 0 END AS y,
         least(CAST(round(o_totalprice * 100) AS BIGINT) // {LC_BUCKET_CENTS},
               9) AS f1,
         CAST(year(o_orderdate) AS BIGINT) AS f2,
         ('0x' || substr(md5('{_PI_SEED}' || CAST(o_orderkey AS VARCHAR)),
                         1, 12))::BIGINT AS h
  FROM orders
), train AS (
  SELECT * FROM base WHERE k % 5 <> 0
), cells AS (
  SELECT f1, f2,
         CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS maj
  FROM train GROUP BY 1, 2
), gm AS (
  SELECT CASE WHEN 2 * sum(y) > count(*) THEN 1 ELSE 0 END AS gmaj
  FROM train
), evr AS (
  SELECT k, y, f1, f2,
         row_number() OVER (ORDER BY h, k) AS rn,
         count(*) OVER () AS n
  FROM base WHERE k % 5 = 0
), perm AS (
  SELECT a.y, a.f1, a.f2, b.f1 AS pf1, b.f2 AS pf2
  FROM evr a JOIN evr b ON b.rn = a.rn % a.n + 1
), scored AS (
  SELECT 'baseline' AS variant, p.y,
         coalesce(c.maj, gm.gmaj) AS pred
  FROM perm p LEFT JOIN cells c ON c.f1 = p.f1 AND c.f2 = p.f2, gm
  UNION ALL
  SELECT 'permute_price_bucket', p.y, coalesce(c.maj, gm.gmaj)
  FROM perm p LEFT JOIN cells c ON c.f1 = p.pf1 AND c.f2 = p.f2, gm
  UNION ALL
  SELECT 'permute_year', p.y, coalesce(c.maj, gm.gmaj)
  FROM perm p LEFT JOIN cells c ON c.f1 = p.f1 AND c.f2 = p.pf2, gm
), acc AS (
  SELECT variant, CAST(count(*) AS BIGINT) AS n_eval,
         CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) * 1000000
              // count(*) AS BIGINT) AS accuracy_e6
  FROM scored GROUP BY 1
)
SELECT variant, n_eval, accuracy_e6,
       CAST((SELECT accuracy_e6 FROM acc WHERE variant = 'baseline')
            - accuracy_e6 AS BIGINT) AS drop_e6
FROM acc ORDER BY variant
"""


@_q("ml_permutation_importance", _PERMIMP_SQL)
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation importance of the two features of the cell-majority
    high-value model (y = totalprice >= 160k — mid-bucket, so the boundary
    bucket is mixed and the baseline imperfect; features = price bucket
    and order year — the bucket carries nearly all the signal and the
    year none, which is exactly the ranking the statistic must recover;
    the one mixed boundary bucket keeps the baseline below perfect):
    accuracy on the fixed orderkey%5 eval set, then with each feature
    cyclically shifted in seeded-md5 order (deterministic permutation),
    reported as the accuracy drop e6.  Unseen permuted cells predict
    the global training majority.

    Scale: training is ONE (f1, f2) count groupBy (broadcast-size
    model); the eval ranking rides distrank.global_index (no
    single-partition window over eval rows); the shift is one
    rank-to-rank+1 self-join; the three variants share one scan via a
    union of broadcast-model joins."""
    from .distrank import global_index

    orders = load_tables(spark, sf_dir, "orders")[0]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_totalprice") >= 160000, 1).otherwise(0).alias("y"),
        F.least(
            F.expr(
                f"CAST(round(o_totalprice * 100) AS BIGINT)"
                f" div {LC_BUCKET_CENTS}"
            ),
            F.lit(9).cast("long"),
        ).alias("f1"),
        F.year("o_orderdate").cast("long").alias("f2"),
        F.expr(
            f"CAST(conv(substr(md5(concat('{_PI_SEED}',"
            f" CAST(o_orderkey AS STRING))), 1, 12), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    train = base.filter(F.col("k") % 5 != 0)
    cells = train.groupBy("f1", "f2").agg(
        F.when(2 * F.sum("y") > F.count("*"), 1).otherwise(0).alias("maj")
    )
    gm = train.agg(
        F.when(2 * F.sum("y") > F.count("*"), 1).otherwise(0).alias("gmaj")
    )
    ev = base.filter(F.col("k") % 5 == 0)
    evr = global_index(ev, [F.col("h"), F.col("k")]).select(
        "y", "f1", "f2", F.col("__rn").alias("rn"),
        F.col("__n_total").alias("n"),
    )
    a, b = evr.alias("a"), evr.alias("b")
    perm = a.join(
        b, F.col("b.rn") == F.col("a.rn") % F.col("a.n") + 1
    ).select(
        F.col("a.y").alias("y"), F.col("a.f1").alias("f1"),
        F.col("a.f2").alias("f2"),
        F.col("b.f1").alias("pf1"), F.col("b.f2").alias("pf2"),
    )
    cb = F.broadcast(cells)
    gmb = F.broadcast(gm)

    def _score(variant: str, c1: str, c2: str) -> DataFrame:
        return (
            perm.join(
                cb,
                (cb["f1"] == perm[c1]) & (cb["f2"] == perm[c2]),
                "left",
            )
            .crossJoin(gmb)
            .select(
                F.lit(variant).alias("variant"),
                perm["y"].alias("yy"),
                F.coalesce(cb["maj"], F.col("gmaj")).alias("pred"),
            )
        )

    scored = (
        _score("baseline", "f1", "f2")
        .unionAll(_score("permute_price_bucket", "pf1", "f2"))
        .unionAll(_score("permute_year", "f1", "pf2"))
    )
    acc = scored.groupBy("variant").agg(
        F.count("*").cast("long").alias("n_eval"),
        F.expr(
            "CAST(sum(CASE WHEN pred = yy THEN 1 ELSE 0 END) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("accuracy_e6"),
    )
    basev = acc.filter(F.col("variant") == "baseline").select(
        F.col("accuracy_e6").alias("base_acc")
    )
    return (
        acc.crossJoin(F.broadcast(basev))
        .select(
            "variant", "n_eval", "accuracy_e6",
            (F.col("base_acc") - F.col("accuracy_e6")).cast("long")
            .alias("drop_e6"),
        )
        .orderBy("variant")
    )


# --- Murphy decomposition of the Brier score (r13) ---------------------------
# ml_brier_score gives the number; this explains it: Brier = REL - RES
# + UNC (Murphy 1973) over binned forecasts — reliability (calibration
# gap), resolution (how much the bins separate), uncertainty (base-rate
# entropy).  Forecast f_k = the training urgent-rate of price bucket k
# (an e6 integer rational), outcome rates o_k likewise — so every term
# is exact integer arithmetic at e12 scale in DECIMAL(38,0).

_BRIERD_SQL = f"""
WITH base AS (
  SELECT o_orderkey AS k,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
         least(CAST(round(o_totalprice * 100) AS BIGINT) // {LC_BUCKET_CENTS},
               9) AS b
  FROM orders
), f AS (
  SELECT b, CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS f_e6
  FROM base WHERE k % 5 <> 0 GROUP BY b
), ev AS (
  SELECT b, CAST(count(*) AS BIGINT) AS n_k,
         CAST(sum(y) AS BIGINT) AS pos_k,
         CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS o_e6
  FROM base WHERE k % 5 = 0 GROUP BY b
), tot AS (
  SELECT CAST(sum(n_k) AS BIGINT) AS n,
         CAST(sum(pos_k) * 1000000 // sum(n_k) AS BIGINT) AS obar_e6
  FROM ev
), terms AS (
  SELECT ev.n_k,
         ev.n_k * (f.f_e6 - ev.o_e6) * (f.f_e6 - ev.o_e6) AS rel_t,
         ev.n_k * (ev.o_e6 - tot.obar_e6) * (ev.o_e6 - tot.obar_e6) AS res_t
  FROM ev JOIN f USING (b), tot
)
SELECT tot.n AS n_eval,
       CAST(sum(t.rel_t) // tot.n AS BIGINT) AS reliability_e12,
       CAST(sum(t.res_t) // tot.n AS BIGINT) AS resolution_e12,
       CAST(tot.obar_e6 * (1000000 - tot.obar_e6) AS BIGINT)
         AS uncertainty_e12,
       CAST(sum(t.rel_t) // tot.n - sum(t.res_t) // tot.n
            + tot.obar_e6 * (1000000 - tot.obar_e6) AS BIGINT)
         AS brier_e12
FROM terms t, tot
GROUP BY tot.n, tot.obar_e6
"""


@_q("ml_brier_decomposition", _BRIERD_SQL)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the binned Brier score for the price-
    bucket urgency forecaster (train rates as forecasts, orderkey%5
    eval): reliability, resolution, uncertainty, and their signed sum
    (= the binned Brier), all exact integers at e12.

    Scale: two map-side-combinable bucket groupBys (train rates / eval
    outcomes), a broadcast-size join on the <=10-row bucket table, and
    a single-row total — the full decomposition at two scans."""
    orders = load_tables(spark, sf_dir, "orders")[0]
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        .alias("y"),
        F.least(
            F.expr(
                f"CAST(round(o_totalprice * 100) AS BIGINT)"
                f" div {LC_BUCKET_CENTS}"
            ),
            F.lit(9).cast("long"),
        ).alias("b"),
    )
    f = base.filter(F.col("k") % 5 != 0).groupBy("b").agg(
        F.expr("CAST(sum(y) * 1000000 div count(*) AS BIGINT)").alias("f_e6")
    )
    ev = base.filter(F.col("k") % 5 == 0).groupBy("b").agg(
        F.count("*").cast("long").alias("n_k"),
        F.sum("y").cast("long").alias("pos_k"),
        F.expr("CAST(sum(y) * 1000000 div count(*) AS BIGINT)").alias("o_e6"),
    )
    tot = ev.agg(
        F.sum("n_k").cast("long").alias("n"),
        F.expr("CAST(sum(pos_k) * 1000000 div sum(n_k) AS BIGINT)")
        .alias("obar_e6"),
    )
    terms = (
        ev.join(F.broadcast(f), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "n", "obar_e6",
            F.expr(
                "CAST(n_k AS DECIMAL(38,0)) * (f_e6 - o_e6) * (f_e6 - o_e6)"
            ).alias("rel_t"),
            F.expr(
                "CAST(n_k AS DECIMAL(38,0)) * (o_e6 - obar_e6)"
                " * (o_e6 - obar_e6)"
            ).alias("res_t"),
        )
    )
    return terms.groupBy("n", "obar_e6").agg(
        F.expr("CAST(sum(rel_t) div n AS BIGINT)").alias("reliability_e12"),
        F.expr("CAST(sum(res_t) div n AS BIGINT)").alias("resolution_e12"),
        F.expr("CAST(obar_e6 * (1000000 - obar_e6) AS BIGINT)")
        .alias("uncertainty_e12"),
        F.expr(
            "CAST(sum(rel_t) div n - sum(res_t) div n"
            " + obar_e6 * (1000000 - obar_e6) AS BIGINT)"
        ).alias("brier_e12"),
    ).select(
        F.col("n").alias("n_eval"), "reliability_e12", "resolution_e12",
        "uncertainty_e12", "brier_e12",
    )
