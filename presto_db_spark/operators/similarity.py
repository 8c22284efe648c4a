"""Similarity search over the ``embeddings`` table (array<float> column).

Extension operators (BASELINE.json north-star — no counterpart in the
reference, which has only sparse-map ``cosine_similarity`` in
``pm/operator/scalar/MathFunctions.java``):

* **brute-force top-k** — exact baseline: broadcast the (small) query set
  against the corpus, cosine via JVM-side ``zip_with``/``aggregate`` fold
  (whole-stage codegen; no Python), rank per query with the
  TopNRowNumber/WindowGroupLimit pattern. At 100 TB the corpus side stays
  partitioned; only the query set is broadcast — scan-shaped, no shuffle
  until the final per-query top-k (tiny).
* **LSH-bucketed ANN** — sign-random-projection buckets (deterministic
  hyperplanes) as the scale path: each vector hashes to a bucket key, the
  join is bucket-equi (candidates only), recall traded via number of
  planes. Hyperplane coefficients are fixed literals so the result is
  deterministic and the DuckDB oracle reproduces it exactly.

The embeddings scan (``_emb``) is never fanned out: see its docstring.

Float determinism: both engines fold the dot product left-to-right in
DOUBLE (explicit casts; no engine-native cosine builtin is used in the
oracle), ranking keys are (rounded sim, vec_id) so ordering can't diverge
in the last ulp.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table, small_df
from ..registry import family

QUERIES, ORACLE, _q = family()

N_QUERIES = 10  # vec_id < N_QUERIES form the query set
TOP_K = 5
DIM = 64
N_PLANES = 8  # LSH: 8 hyperplanes → 256 buckets


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings scan, deliberately not fanned out (no
    ``catalog.fanout``): the Arrow passes over a small input are
    sub-second and an exchange ahead of them is pure overhead (measured
    0.9 s -> 0.5-0.6 s across the similarity suite at sf0.1), while a
    large input already arrives as many splits (parquet splits at
    ``spark.sql.files.maxPartitionBytes``)."""
    return load_table(spark, sf_dir, "embeddings")


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double-precision fold — same order as the oracle SQL."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda s, x: s + x.cast("double") * x.cast("double"))
    )


_COSINE_UDF = None


def _cosine_pd():
    """Lazily-built pandas UDF (the decorator needs an active session)."""
    global _COSINE_UDF
    if _COSINE_UDF is None:
        _COSINE_UDF = F.pandas_udf(_cosine_impl, "double")
    return _COSINE_UDF


def _cosine_impl(a, b):
    """Arrow-vectorized cosine — the hot-path form.

    The pure-expression fold (``dot``/``norm`` above, kept for composition
    and documentation of the math) is a CodegenFallback higher-order
    function: interpreted per element, boxed, and measured to stall for
    multi-second JIT-deopt bursts on identical plans (0.6 s ↔ 16 s at
    sf0.1). This UDF is the project-brief-sanctioned alternative for the
    dot product: one Arrow batch transfer, then numpy columnwise ops.

    Float parity with the DuckDB oracle is preserved by accumulating
    SEQUENTIALLY over dimensions (one vectorized += per dimension, rows in
    parallel) — the identical left-to-right IEEE-double addition order as
    the fold and the oracle's ``list_sum``, so results are bit-identical,
    not merely close."""
    import numpy as np
    import pandas as pd

    A = np.vstack(a.to_numpy()).astype(np.float64)
    B = np.vstack(b.to_numpy()).astype(np.float64)
    n, dim = A.shape
    dots = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for d in range(dim):
        x, y = A[:, d], B[:, d]
        dots += x * y
        na += x * x
        nb += y * y
    return pd.Series(dots / (np.sqrt(na) * np.sqrt(nb)))


def cosine(a: Column, b: Column) -> Column:
    return _cosine_pd()(a, b)


_SQL_DOT = (
    "list_sum(list_transform({a}, (x, i) -> CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_SQL_NORM = "sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


# Deterministic pseudo-random hyperplanes: coeff(p, d) in {-1, +1} from an
# explicit integer mix — identical formula inlined in Spark and the oracle.
def _plane_sign_sql(p: int) -> str:
    return (
        f"list_sum(list_transform(embedding, (x, i) -> "
        f"CAST(x AS DOUBLE) * (CASE WHEN (i * 2654435761 + {p} * 40503) % 97 % 2 = 0 "
        f"THEN 1.0 ELSE -1.0 END)))"
    )


def _plane_coeffs(p: int) -> list[float]:
    """Hyperplane p's ±1 coefficients, 1-based positions — the same integer
    formula the oracle SQL inlines, evaluated exactly in Python ints."""
    return [
        1.0 if (i * 2654435761 + p * 40503) % 97 % 2 == 0 else -1.0
        for i in range(1, DIM + 1)
    ]


_SRP_BUCKET_UDF = None


def _srp_bucket_pd():
    global _SRP_BUCKET_UDF
    if _SRP_BUCKET_UDF is None:
        _SRP_BUCKET_UDF = F.pandas_udf(_srp_bucket_impl, "string")
    return _SRP_BUCKET_UDF


def _srp_bucket_impl(e):
    """All N_PLANES sign-random-projection bits in ONE Arrow batch pass —
    '1'/'0' per plane, concatenated to the bucket key. Sequential per-
    dimension accumulation (see _cosine_pd) keeps the plane sums
    bit-identical to the oracle's list_sum fold."""
    import numpy as np
    import pandas as pd

    E = np.vstack(e.to_numpy()).astype(np.float64)
    n, dim = E.shape
    sums = np.zeros((N_PLANES, n))
    coeffs = [_plane_coeffs(p) for p in range(N_PLANES)]
    for d in range(dim):
        x = E[:, d]
        for p in range(N_PLANES):
            sums[p] += x * coeffs[p][d]
    out = np.where(sums >= 0, "1", "0")
    return pd.Series(["".join(out[:, r]) for r in range(n)])


# --- brute-force exact top-k -----------------------------------------------

_BRUTE_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.qid, e.vec_id,
         round({_SQL_DOT.format(a="q.qe", b="e.embedding")}
               / ({_SQL_NORM.format(a="q.qe")} * {_SQL_NORM.format(a="e.embedding")}), 6)
           AS sim
  FROM q JOIN embeddings e ON e.vec_id <> q.qid
), ranked AS (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM scored
)
SELECT qid, vec_id, sim, CAST(rn AS INTEGER) AS rn FROM ranked WHERE rn <= {TOP_K}
"""


@_q("sim_topk_bruteforce", _BRUTE_SQL)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("qe"), F.col("embedding")), 6).alias("sim"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
    )


# --- LSH-bucketed ANN (deterministic hyperplanes → oracle-checked) ---------

_BUCKET_SQL = " || ".join(
    f"(CASE WHEN {_plane_sign_sql(p)} >= 0 THEN '1' ELSE '0' END)" for p in range(N_PLANES)
)

_ANN_SQL = f"""
WITH hashed AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
), q AS (
  SELECT vec_id AS qid, embedding AS qe, bucket FROM hashed WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT q.qid, h.vec_id, q.qe, h.embedding AS ce
  FROM q JOIN hashed h ON q.bucket = h.bucket AND h.vec_id <> q.qid
), scored AS (
  SELECT qid, vec_id,
         round({_SQL_DOT.format(a="qe", b="ce")}
               / ({_SQL_NORM.format(a="qe")} * {_SQL_NORM.format(a="ce")}), 6) AS sim
  FROM cand
), ranked AS (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM scored
)
SELECT qid, vec_id, sim, CAST(rn AS INTEGER) AS rn FROM ranked WHERE rn <= {TOP_K}
"""


@_q("sim_ann_lsh", _ANN_SQL)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    bucket = _srp_bucket_pd()(F.col("embedding"))
    # The bucket UDF fans into BOTH self-join sides, and the join's
    # isnotnull(bucket) pushes through the repartition exchange — without a
    # barrier the Arrow stage executed 4x (2 sides × filter duplication).
    # The lazy localCheckpoint runs it once; both sides read the blocks
    # (same fix as the MinHash signature, plan-pinned below).
    hashed = emb.select(
        "vec_id", "embedding", bucket.alias("bucket")
    ).localCheckpoint(eager=False)
    q = hashed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("bucket").alias("qb"),
    )
    cand = F.broadcast(q).join(
        hashed, (F.col("qb") == F.col("bucket")) & (F.col("vec_id") != F.col("qid"))
    )
    scored = cand.select(
        "qid", "vec_id", F.round(cosine(F.col("qe"), F.col("embedding")), 6).alias("sim")
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
    )


# --- embedding near-dup pairs (cosine threshold over LSH buckets) ----------

_NEARDUP_SQL = f"""
WITH hashed AS (
  SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_SQL_DOT.format(a="a.embedding", b="b.embedding")}
               / ({_SQL_NORM.format(a="a.embedding")} * {_SQL_NORM.format(a="b.embedding")}), 6)
           AS sim
  FROM hashed a JOIN hashed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.35
"""


# --- IVF (inverted-file) ANN: centroid partitions + nprobe probing ---------

N_CENTROIDS = 16
N_PROBE = 2


def _assign_probe_impl(vecs, cent_ids, cent_vecs, n_probe):
    """Vectorized nearest-centroid assignment + probe lists, one Arrow
    pass. Per-dimension sequential accumulation keeps every centroid
    similarity bit-identical to the oracle's left-to-right fold; ties
    break on ascending centroid id exactly as the oracle's
    (csim DESC, cid) row_number does."""
    import numpy as np
    import pandas as pd

    E = np.vstack(vecs.to_numpy()).astype(np.float64)
    n, dim = E.shape
    K = len(cent_vecs)
    dots = np.zeros((n, K))
    ne = np.zeros(n)
    nc = [0.0] * K
    for d in range(dim):
        x = E[:, d]
        ne += x * x
        for c in range(K):
            dots[:, c] += x * cent_vecs[c][d]
            nc[c] += cent_vecs[c][d] * cent_vecs[c][d]
    sims = dots / (np.sqrt(ne)[:, None] * np.sqrt(nc)[None, :])
    # stable argsort by (-sim, cid): cent_ids ascending is the input
    # order, and np.argsort(kind='stable') keeps it on ties
    order = np.argsort(-sims, axis=1, kind="stable")
    cids = np.asarray(cent_ids)
    return pd.DataFrame(
        {
            "cid": cids[order[:, 0]],
            "probes": [cids[order[r, :n_probe]].tolist() for r in range(n)],
        }
    )

_IVF_SQL = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {N_CENTROIDS}
), assign_scored AS (
  SELECT e.vec_id, e.embedding, c.cid,
         {_SQL_DOT.format(a="e.embedding", b="c.ce")}
           / ({_SQL_NORM.format(a="e.embedding")} * {_SQL_NORM.format(a="c.ce")}) AS csim
  FROM embeddings e CROSS JOIN c
), assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS arn
    FROM assign_scored
  ) WHERE arn = 1
), q_probe AS (
  SELECT vec_id AS qid, embedding AS qe, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_SQL_DOT.format(a="e.embedding", b="c.ce")}
               / ({_SQL_NORM.format(a="e.embedding")} * {_SQL_NORM.format(a="c.ce")}) DESC,
             c.cid) AS prn
    FROM embeddings e CROSS JOIN c
    WHERE e.vec_id < {N_QUERIES}
  ) WHERE prn <= {N_PROBE}
), cand AS (
  SELECT DISTINCT q.qid, q.qe, a.vec_id, a.embedding AS ce
  FROM q_probe q JOIN assigned a ON a.cid = q.cid AND a.vec_id <> q.qid
), scored AS (
  SELECT qid, vec_id,
         round({_SQL_DOT.format(a="qe", b="ce")}
               / ({_SQL_NORM.format(a="qe")} * {_SQL_NORM.format(a="ce")}), 6) AS sim
  FROM cand
), ranked AS (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM scored
)
SELECT qid, vec_id, sim, CAST(rn AS INTEGER) AS rn FROM ranked WHERE rn <= {TOP_K}
"""


@_q("sim_ivf", _IVF_SQL)
def sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN — the inverted-file scale path next to LSH:

    1. *train*: first ``N_CENTROIDS`` vectors are the coarse centroids
       (deterministic stand-in for k-means — the partition/probing
       machinery is identical);
    2. *assign*: every vector joins its nearest centroid (broadcast of K
       centroids, scan-shaped — at 100 TB this is one pass, no shuffle);
    3. *probe*: each query searches its ``N_PROBE`` nearest partitions
       only; candidates = bucket equi-join on cid;
    4. exact cosine rerank → top-k (WindowGroupLimit pattern).
    """
    emb = _emb(spark, sf_dir)
    # Collect the K centroids to the driver (K rows — the standard k-means
    # broadcast pattern; MLlib does the same) and fold them into ONE
    # vectorized UDF that emits each vector's nearest-centroid assignment
    # AND its N_PROBE probe list in a single Arrow pass. This replaces the
    # crossJoin(K) + row_number window formulation, which cost two window
    # shuffles over a K-times-inflated frame. Per-dimension sequential
    # accumulation keeps every centroid similarity bit-identical to the
    # oracle's fold; ties break on ascending cid exactly as the oracle's
    # (csim DESC, cid) row_number does.
    # ONE driver-side fetch against the RAW scan (pushed filter on vec_id,
    # no repartition shuffle in the way) serves both the K centroids and
    # the N_QUERIES query vectors.
    raw = load_table(spark, sf_dir, "embeddings")
    head_rows = sorted(
        raw.filter(F.col("vec_id") < max(N_CENTROIDS, N_QUERIES))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cent_rows = [r for r in head_rows if r.vec_id < N_CENTROIDS]
    cent_ids = [int(r.vec_id) for r in cent_rows]
    cent_vecs = [[float(x) for x in r.embedding] for r in cent_rows]

    def _assign_probe(vecs):
        return _assign_probe_impl(vecs, cent_ids, cent_vecs, N_PROBE)

    assign_udf = F.pandas_udf(_assign_probe, "struct<cid: long, probes: array<long>>")
    ap = emb.select(
        "vec_id", "embedding", assign_udf(F.col("embedding")).alias("ap")
    )
    assigned = ap.select("vec_id", "embedding", F.col("ap.cid").alias("cid"))
    # The query side is N_QUERIES rows: compute its probe lists DRIVER-SIDE
    # with the same function (identical math ⇒ identical probes), so the
    # Arrow assignment pass has exactly ONE consumer — the earlier
    # shared-exchange formulation let the broadcast branch re-execute the
    # UDF stage concurrently, which showed up as bimodal wall times.
    import pandas as pd

    q_rows = [r for r in head_rows if r.vec_id < N_QUERIES]
    q_ap = _assign_probe(pd.Series([[float(x) for x in r.embedding] for r in q_rows]))
    q_probe = small_df(
        spark,
        [
            (int(r.vec_id), [float(x) for x in r.embedding], int(cid))
            for r, probes in zip(q_rows, q_ap["probes"])
            for cid in probes
        ],
        "qid bigint, qe array<double>, cid bigint",
    )
    # No .distinct() here: every vector is assigned to exactly ONE cid and
    # the probe list holds distinct cids, so (qid, vec_id) pairs cannot
    # repeat — the oracle's DISTINCT is equally a no-op. Dropping it saves
    # a full shuffle of the WIDE candidate rows (two 64-dim arrays each),
    # the most expensive exchange this operator had (r04 verdict item).
    # Null-safe equality (<=>), not ==, as the bucket key: plain == makes
    # the join emit an isnotnull(cid) filter that Catalyst pushes BELOW the
    # repartition exchange, re-evaluating the assignment UDF a second time
    # just to feed the filter (observed as a stacked ArrowEvalPython pair —
    # the r04 bimodality). cid is never null, so <=> is semantically
    # identical, still hash-joins on the key, and leaves no filter to push.
    cand = (
        F.broadcast(q_probe.alias("qp"))
        .join(
            assigned.alias("av"),
            (F.col("qp.cid").eqNullSafe(F.col("av.cid")))
            & (F.col("av.vec_id") != F.col("qp.qid")),
        )
        .select("qid", "qe", "vec_id", F.col("av.embedding").alias("ce"))
    )
    scored = cand.select(
        "qid", "vec_id", F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("sim")
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
    )


@_q("dedup_embedding_cosine", _NEARDUP_SQL)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: bucketed self-join (equi-join on the LSH
    key — the only shuffle), threshold at 0.35 (the synthetic embeddings have no true dups; the threshold is set where the data has pairs so the operator is exercised non-vacuously)."""
    emb = _emb(spark, sf_dir)
    bucket = _srp_bucket_pd()(F.col("embedding"))
    # Same single-execution barrier as sim_ann_lsh: one Arrow bucket pass,
    # both self-join sides read the checkpointed narrow rows.
    hashed = emb.select(
        "vec_id", "embedding", bucket.alias("bucket")
    ).localCheckpoint(eager=False)
    a = hashed.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"), F.col("bucket").alias("ba")
    )
    b = hashed.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"), F.col("bucket").alias("bb")
    )
    scored = (
        a.join(b, (F.col("ba") == F.col("bb")) & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("sim"))
        # barrier: PushDownPredicates substitutes the sim alias into the
        # threshold filter, re-running the cosine UDF once for the filter
        # and once for the projection (observed 2x). The checkpointed frame
        # is (id_a, id_b, sim) per CANDIDATE pair — ∝ bucket collision
        # rate, not the corpus — so the barrier is cheap at any scale.
        .localCheckpoint(eager=False)
    )
    return scored.filter(F.col("sim") >= 0.35)


# --- IVF with a REAL Lloyd's k-means trainer -------------------------------

KMEANS_ITERS = 2
KM_SCALE = 1000000  # centroid quantization: exact integer sums


def _sql_cos(a: str, b: str) -> str:
    return (
        f"({_SQL_DOT.format(a=a, b=b)}"
        f" / ({_SQL_NORM.format(a=a)} * {_SQL_NORM.format(a=b)}))"
    )


def _km_iter_sql(prev_c: str, a: str, s: str, c: str) -> str:
    """One Lloyd iteration as SQL CTEs: cosine argmax assignment, exact
    integer-quantized per-dimension sums, carry-forward for empty
    clusters."""
    sums = ", ".join(
        f"sum(CAST(floor(CAST(embedding[{d + 1}] AS DOUBLE) * {KM_SCALE} + 0.5)"
        f" AS BIGINT)) AS s{d}"
        for d in range(DIM)
    )
    newvec = ", ".join(
        f"CAST(s.s{d} AS DOUBLE) / (s.n * {KM_SCALE}.0)" for d in range(DIM)
    )
    return f"""{a} AS (
  SELECT vec_id, embedding, cidx FROM (
    SELECT e.vec_id, e.embedding, c.cidx,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.cv')} DESC, c.cidx) AS rn
    FROM embeddings e CROSS JOIN {prev_c} c
  ) WHERE rn = 1
), {s} AS (
  SELECT cidx, count(*) AS n, {sums} FROM {a} GROUP BY cidx
), {c} AS (
  SELECT p.cidx, CASE WHEN s.n IS NULL THEN p.cv ELSE [{newvec}] END AS cv
  FROM {prev_c} p LEFT JOIN {s} s ON s.cidx = p.cidx
)"""


_KM_FINAL_C = f"c{KMEANS_ITERS}"
_IVF_KM_SQL = (
    f"""
WITH c0 AS (
  SELECT vec_id AS cidx, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings WHERE vec_id < {N_CENTROIDS}
), """
    + ", ".join(
        _km_iter_sql(f"c{i}", f"a{i}", f"s{i}", f"c{i + 1}")
        for i in range(KMEANS_ITERS)
    )
    + f""", assigned AS (
  SELECT vec_id, embedding, cidx FROM (
    SELECT e.vec_id, e.embedding, c.cidx,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.cv')} DESC, c.cidx) AS rn
    FROM embeddings e CROSS JOIN {_KM_FINAL_C} c
  ) WHERE rn = 1
), q_probe AS (
  SELECT vec_id AS qid, embedding AS qe, cidx FROM (
    SELECT e.vec_id, e.embedding, c.cidx,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY {_sql_cos('e.embedding', 'c.cv')} DESC, c.cidx) AS prn
    FROM embeddings e CROSS JOIN {_KM_FINAL_C} c
    WHERE e.vec_id < {N_QUERIES}
  ) WHERE prn <= {N_PROBE}
), cand AS (
  SELECT q.qid, q.qe, a.vec_id, a.embedding AS ce
  FROM q_probe q JOIN assigned a ON a.cidx = q.cidx AND a.vec_id <> q.qid
), scored AS (
  SELECT qid, vec_id,
         round({_SQL_DOT.format(a="qe", b="ce")}
               / ({_SQL_NORM.format(a="qe")} * {_SQL_NORM.format(a="ce")}), 6) AS sim
  FROM cand
), ranked AS (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM scored
)
SELECT qid, vec_id, sim, CAST(rn AS INTEGER) AS rn FROM ranked WHERE rn <= {TOP_K}
"""
)


@_q("sim_ivf_kmeans", _IVF_KM_SQL)
def sim_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a REAL Lloyd's k-means trainer (vs sim_ivf's fixed
    first-K centroids): KMEANS_ITERS spherical iterations, then the same
    nprobe partition-pruned search.

    The distributed-determinism trick that makes an EXACT oracle possible:
    the new centroid is the mean of its members, but a float mean over a
    shuffle is summation-order-dependent (different runs, different
    engines → different last ulps). Components are therefore quantized to
    integers (``floor(x·10⁶ + 0.5)``) and summed EXACTLY — int64 addition
    is commutative — then divided once in double precision. Both engines
    produce bit-identical centroids at any partitioning, any cluster
    size, any scale.

    Scale: per iteration = one Arrow assignment pass (centroid broadcast)
    + one 16-row groupBy collect (the standard k-means driver pattern,
    bounded by K·DIM, never by the corpus).
    """
    emb = _emb(spark, sf_dir)
    raw = load_table(spark, sf_dir, "embeddings")
    head_rows = sorted(
        raw.filter(F.col("vec_id") < max(N_CENTROIDS, N_QUERIES))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cent_ids = list(range(N_CENTROIDS))
    cents = [
        [float(x) for x in r.embedding]
        for r in head_rows
        if r.vec_id < N_CENTROIDS
    ]

    def _make_assign(cv):
        def impl(vecs):
            return _assign_probe_impl(vecs, cent_ids, cv, N_PROBE)

        return F.pandas_udf(impl, "struct<cid: long, probes: array<long>>")

    sum_exprs = [
        F.sum(
            F.floor(F.element_at("embedding", d + 1).cast("double") * KM_SCALE + 0.5)
            .cast("long")
        ).alias(f"s{d}")
        for d in range(DIM)
    ]
    for _ in range(KMEANS_ITERS):
        assign = _make_assign([list(c) for c in cents])
        rows = (
            emb.select(assign(F.col("embedding")).alias("ap"), "embedding")
            .select(F.col("ap.cid").alias("cidx"), "embedding")
            .groupBy("cidx")
            .agg(F.count("*").alias("n"), *sum_exprs)
            .collect()
        )
        new = {
            int(r.cidx): [r[f"s{d}"] / (r.n * KM_SCALE) for d in range(DIM)]
            for r in rows
        }
        cents = [new.get(i, cents[i]) for i in range(N_CENTROIDS)]

    # final index assignment + probe (same pruned-search tail as sim_ivf)
    assign = _make_assign([list(c) for c in cents])
    assigned = emb.select(
        "vec_id", "embedding", assign(F.col("embedding")).alias("ap")
    ).select("vec_id", "embedding", F.col("ap.cid").alias("cid"))
    import pandas as pd

    q_rows = [r for r in head_rows if r.vec_id < N_QUERIES]
    q_ap = _assign_probe_impl(
        pd.Series([[float(x) for x in r.embedding] for r in q_rows]),
        cent_ids, cents, N_PROBE,
    )
    q_probe = small_df(
        spark,
        [
            (int(r.vec_id), [float(x) for x in r.embedding], int(cid))
            for r, probes in zip(q_rows, q_ap["probes"])
            for cid in probes
        ],
        "qid bigint, qe array<double>, cid bigint",
    )
    cand = (
        F.broadcast(q_probe.alias("qp"))
        .join(
            assigned.alias("av"),
            (F.col("qp.cid").eqNullSafe(F.col("av.cid")))
            & (F.col("av.vec_id") != F.col("qp.qid")),
        )
        .select("qid", "qe", "vec_id", F.col("av.embedding").alias("ce"))
    )
    scored = cand.select(
        "qid", "vec_id", F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("sim")
    )
    w = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= TOP_K)
    )


# --- SemDeDup: cluster-then-pairwise semantic dedup -------------------------
#
# Semantic deduplication (Abbas et al. 2023, "SemDeDup: Data-efficient
# learning at web-scale through semantic deduplication"): cluster the
# embedding space, compare pairs WITHIN a cluster only, call a pair a
# semantic duplicate when cosine >= SEM_TAU, and from each duplicate pair
# KEEP the member with the LOWER cosine to its cluster centroid (the
# paper's keeper rule — the farther-from-centroid example is the more
# informative one).
#
# 100 TB shape: nearest-centroid assignment is one broadcast Arrow pass
# over the scan (no shuffle — same stage as sim_ivf); the pairwise stage
# is an equi-self-join on cid, i.e. the LSH-bucket pattern — no global
# cross join. The pairwise frontier is capped at SEM_CAP members per
# cluster (deterministic vec_id order, QUALIFY row_number) — the
# production-scale variant grows K with N (sim_ivf_kmeans is the trainer)
# so clusters stay bounded; the cap makes the worst case explicit:
# O(K * SEM_CAP^2) candidate pairs.

SEM_TAU = 0.35  # cosine threshold (synthetic embeddings: no true dups;
                # set where the fixture has pairs so the operator is
                # exercised non-vacuously, like dedup_embedding_cosine)
SEM_CAP = 64


def _assign_sim_impl(vecs, cent_ids, cent_vecs):
    """Nearest-centroid id AND the cosine to it, one Arrow pass — the
    same sequential per-dimension accumulation as _assign_probe_impl so
    both values are bit-identical to the oracle's fold."""
    import numpy as np
    import pandas as pd

    E = np.vstack(vecs.to_numpy()).astype(np.float64)
    n, dim = E.shape
    K = len(cent_vecs)
    dots = np.zeros((n, K))
    ne = np.zeros(n)
    nc = [0.0] * K
    for d in range(dim):
        x = E[:, d]
        ne += x * x
        for c in range(K):
            dots[:, c] += x * cent_vecs[c][d]
            nc[c] += cent_vecs[c][d] * cent_vecs[c][d]
    sims = dots / (np.sqrt(ne)[:, None] * np.sqrt(nc)[None, :])
    order = np.argsort(-sims, axis=1, kind="stable")
    best = order[:, 0]
    cids = np.asarray(cent_ids)
    # RAW csim — rounding happens in the plan via F.round so it matches
    # the oracle's round() exactly (np.round is half-to-even, a different
    # rule at .5 boundaries, and the rounded value drives the keeper rule)
    return pd.DataFrame(
        {
            "cid": cids[best],
            "csim": sims[np.arange(n), best],
        }
    )


_SEMDEDUP_SQL = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {N_CENTROIDS}
), assigned AS (
  SELECT vec_id, embedding, cid, round(csim, 6) AS csim FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           {_SQL_DOT.format(a="e.embedding", b="c.ce")}
             / ({_SQL_NORM.format(a="e.embedding")} * {_SQL_NORM.format(a="c.ce")}) AS csim,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_SQL_DOT.format(a="e.embedding", b="c.ce")}
               / ({_SQL_NORM.format(a="e.embedding")} * {_SQL_NORM.format(a="c.ce")}) DESC,
             c.cid) AS arn
    FROM embeddings e CROSS JOIN c
  ) WHERE arn = 1
), capped AS (
  SELECT vec_id, embedding, cid, csim FROM (
    SELECT *, row_number() OVER (PARTITION BY cid ORDER BY vec_id) AS crn
    FROM assigned
  ) WHERE crn <= {SEM_CAP}
), pairs AS (
  SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b, a.csim AS csim_a, b.csim AS csim_b
  FROM capped a JOIN capped b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE round({_SQL_DOT.format(a="a.embedding", b="b.embedding")}
              / ({_SQL_NORM.format(a="a.embedding")} * {_SQL_NORM.format(a="b.embedding")}), 6)
        >= {SEM_TAU}
), removed AS (
  SELECT DISTINCT cid,
         CASE WHEN csim_a > csim_b THEN id_a
              WHEN csim_b > csim_a THEN id_b
              ELSE greatest(id_a, id_b) END AS rid
  FROM pairs
)
SELECT m.cid,
       CAST(count(DISTINCT m.vec_id) AS BIGINT) AS n_members,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_dup_pairs,
       CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed,
       CAST(count(DISTINCT m.vec_id) - coalesce(r.n_removed, 0) AS BIGINT) AS n_kept
FROM capped m
LEFT JOIN (SELECT cid, count(*) AS n_pairs FROM pairs GROUP BY cid) p ON p.cid = m.cid
LEFT JOIN (SELECT cid, count(*) AS n_removed FROM removed GROUP BY cid) r ON r.cid = m.cid
GROUP BY m.cid, p.n_pairs, r.n_removed
ORDER BY m.cid
"""


@_q("dedup_semantic", _SEMDEDUP_SQL)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table; first N_CENTROIDS vectors are
    the coarse clusters (deterministic stand-in — sim_ivf_kmeans is the
    real trainer), keeper = lowest cosine-to-centroid per duplicate
    pair."""
    emb = _emb(spark, sf_dir)
    raw = load_table(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        raw.filter(F.col("vec_id") < N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cent_ids = [int(r.vec_id) for r in cent_rows]
    cent_vecs = [[float(x) for x in r.embedding] for r in cent_rows]

    def _assign(vecs):
        return _assign_sim_impl(vecs, cent_ids, cent_vecs)

    assign_udf = F.pandas_udf(_assign, "struct<cid: long, csim: double>")
    assigned = emb.select(
        "vec_id", "embedding", assign_udf(F.col("embedding")).alias("a")
    ).select(
        "vec_id",
        "embedding",
        F.col("a.cid").alias("cid"),
        F.round(F.col("a.csim"), 6).alias("csim"),
    )
    # three consumers (members / pairs / removed) — a lazy localCheckpoint
    # runs the Arrow assignment over the corpus ONCE instead of per branch
    # (the dedup_minhash_lsh idiom; the capped frame is tiny: K * SEM_CAP
    # narrow rows)
    capped = (
        assigned.withColumn(
            "crn", F.row_number().over(W.partitionBy("cid").orderBy("vec_id"))
        )
        .filter(F.col("crn") <= SEM_CAP)
        .drop("crn")
        .localCheckpoint(eager=False)
    )
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cid").eqNullSafe(F.col("b.cid")))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .withColumn(
            "sim",
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6),
        )
        .filter(F.col("sim") >= SEM_TAU)
        .select(
            F.col("a.cid").alias("cid"),
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.csim").alias("csim_a"),
            F.col("b.csim").alias("csim_b"),
        )
    )
    removed = pairs.select(
        "cid",
        F.when(F.col("csim_a") > F.col("csim_b"), F.col("id_a"))
        .when(F.col("csim_b") > F.col("csim_a"), F.col("id_b"))
        .otherwise(F.greatest("id_a", "id_b"))
        .alias("rid"),
    ).distinct()
    members = capped.groupBy("cid").agg(
        F.countDistinct("vec_id").cast("long").alias("n_members")
    )
    np_ = pairs.groupBy("cid").agg(F.count("*").alias("n_pairs"))
    nr = removed.groupBy("cid").agg(F.count("*").alias("n_removed"))
    return (
        members.join(np_, "cid", "left")
        .join(nr, "cid", "left")
        .select(
            "cid",
            "n_members",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_dup_pairs"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
            (F.col("n_members") - F.coalesce("n_removed", F.lit(0)))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cid")
    )


# --- int8 scalar quantization (embedding compression for ANN at scale) ------

_QUANT_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), m AS (
  SELECT vec_id, v,
         list_max(list_transform(v, x -> abs(x))) AS maxabs
  FROM e
), q AS (
  SELECT vec_id, v, maxabs,
         list_transform(v, x -> CAST(round(x * 127 / maxabs) AS BIGINT)) AS qv
  FROM m WHERE maxabs > 0
)
SELECT vec_id,
       CAST(len(qv) AS INTEGER) AS n_dims,
       CAST(round(maxabs * 1000000) AS BIGINT) AS maxabs_micros,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
                        (s, x) -> (s * 31 + x + 128) % 1099511627776)
            AS BIGINT) AS code_checksum,
       CAST(list_max(qv) AS BIGINT) AS q_max,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(round(list_reduce(
              list_prepend(CAST(0 AS DOUBLE),
                list_transform(list_zip(v, qv), p ->
                  (p[1] - p[2] * maxabs / 127) * (p[1] - p[2] * maxabs / 127))),
              (s, x) -> s + x) * 1000000000) AS BIGINT) AS sq_err_nanos
FROM q ORDER BY vec_id
"""


@_q("emb_int8_quantize", _QUANT_SQL)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the compression
    step a 100 TB ANN corpus runs before indexing (4× smaller vectors,
    dot products in int arithmetic).  Per vector: symmetric scale
    ``maxabs/127``, codes ``round(x·127/maxabs)``, plus the
    reconstruction squared error as the quality metric.

    Exact cross-engine parity WITHOUT quantizing away the math: every
    step is elementwise IEEE double arithmetic in the same order on both
    engines (multiply/divide/round are correctly-rounded operations —
    unlike ln/exp — so bit-identical), and the error sum is an IN-ORDER
    fold (``aggregate`` / ``list_reduce``), never a commutative
    aggregate, so there is no summation-order drift to round away.  The
    codes cross as an order-sensitive integer checksum (a 299-element
    array column would break the driver canonicalizer).

    100 TB: pure projection — zero shuffles; codes in production write
    back as an int8 parquet column (here checksummed for the gate)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    ).selectExpr(
        "vec_id", "v", "array_max(transform(v, x -> abs(x))) AS maxabs"
    ).filter("maxabs > 0")
    q = e.selectExpr(
        "vec_id",
        "v",
        "maxabs",
        "transform(v, x -> CAST(round(x * 127 / maxabs) AS BIGINT)) AS qv",
    )
    return q.selectExpr(
        "vec_id",
        "CAST(size(qv) AS INT) AS n_dims",
        "CAST(round(maxabs * 1000000) AS BIGINT) AS maxabs_micros",
        "aggregate(qv, CAST(0 AS BIGINT),"
        " (s, x) -> (s * 31 + x + 128) % 1099511627776) AS code_checksum",
        "CAST(array_max(qv) AS BIGINT) AS q_max",
        "CAST(array_min(qv) AS BIGINT) AS q_min",
        "CAST(round(aggregate(zip_with(v, qv, (a, b) ->"
        " (a - b * maxabs / 127) * (a - b * maxabs / 127)),"
        " CAST(0 AS DOUBLE), (s, x) -> s + x) * 1000000000) AS BIGINT)"
        " AS sq_err_nanos",
    ).orderBy("vec_id")


# --- Product quantization (PQ) + ADC top-k ----------------------------------

PQ_M = 8                      # subspaces
PQ_SUBDIM = DIM // PQ_M       # dims per subspace
PQ_K = 16                     # codewords per subspace (4-bit codes)
PQ_SHORTLIST = 50             # ADC candidates per query before exact rerank


def _pq_sub_l2_sql(vec: str, m: str, cw: str) -> str:
    """In-order L2² fold between a subvector of ``vec`` (subspace ``m``)
    and an 8-dim double codeword list ``cw`` — the exact summation order
    the Spark UDF reproduces (one += per dimension)."""
    return (
        f"list_sum(list_transform(generate_series(1, {PQ_SUBDIM}), i -> "
        f"(CAST({vec}[{m} * {PQ_SUBDIM} + i] AS DOUBLE) - {cw}[i])"
        f" * (CAST({vec}[{m} * {PQ_SUBDIM} + i] AS DOUBLE) - {cw}[i])))"
    )


_PQ_SQL = f"""
WITH cb_src AS (
  SELECT vec_id AS k, embedding FROM embeddings WHERE vec_id < {PQ_K}
), sub AS (
  SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
), cb AS (
  SELECT s.m, c.k,
         list_transform(generate_series(1, {PQ_SUBDIM}),
             i -> CAST(c.embedding[s.m * {PQ_SUBDIM} + i] AS DOUBLE)) AS cw
  FROM sub s CROSS JOIN cb_src c
), enc_scored AS (
  SELECT e.vec_id, b.m, b.k, {_pq_sub_l2_sql('e.embedding', 'b.m', 'b.cw')} AS d2
  FROM embeddings e CROSS JOIN cb b
), codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
    FROM enc_scored
  ) WHERE rn = 1
), qd AS (
  SELECT q.vec_id AS qid, c.vec_id, c.m,
         {_pq_sub_l2_sql('q.embedding', 'c.m', 'b.cw')} AS pd
  FROM embeddings q
  JOIN codes c ON c.vec_id <> q.vec_id
  JOIN cb b ON b.m = c.m AND b.k = c.code
  WHERE q.vec_id < {N_QUERIES}
), adc AS (
  SELECT qid, vec_id, round(list_sum(list(pd ORDER BY m)), 6) AS adist
  FROM qd GROUP BY qid, vec_id
), shortlist AS (
  SELECT qid, vec_id, adist FROM (
    SELECT qid, vec_id, adist,
           row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS srn
    FROM adc
  ) WHERE srn <= {PQ_SHORTLIST}
), reranked AS (
  SELECT s.qid, s.vec_id, s.adist,
         round(list_sum(list_transform(generate_series(1, {DIM}), i ->
           (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE))
           * (CAST(q.embedding[i] AS DOUBLE) - CAST(c.embedding[i] AS DOUBLE)))), 6)
           AS dist
  FROM shortlist s
  JOIN embeddings q ON q.vec_id = s.qid
  JOIN embeddings c ON c.vec_id = s.vec_id
), ranked AS (
  SELECT qid, vec_id, adist, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
  FROM reranked
)
SELECT qid, vec_id, adist, dist, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= {TOP_K}
"""


_L2_UDF = None


def _l2_impl(a, b):
    """Arrow-vectorized exact L2² with the oracle's summation order:
    one vectorized += per dimension, left-to-right."""
    import numpy as np
    import pandas as pd

    A = np.vstack(a.to_numpy()).astype(np.float64)
    B = np.vstack(b.to_numpy()).astype(np.float64)
    n, dim = A.shape
    acc = np.zeros(n)
    for d in range(dim):
        t = A[:, d] - B[:, d]
        acc += t * t
    return pd.Series(acc)


def _l2_pd():
    global _L2_UDF
    if _L2_UDF is None:
        _L2_UDF = F.pandas_udf(_l2_impl, "double")
    return _L2_UDF


def _pq_encode_impl_factory(cb):
    """cb: nested list [m][k][d] of float64 codewords."""
    import numpy as np
    import pandas as pd

    CB = np.asarray(cb, dtype=np.float64)  # (M, K, SUBDIM)

    def impl(vecs):
        E = np.vstack(vecs.to_numpy()).astype(np.float64)
        n = E.shape[0]
        out = np.empty((n, PQ_M), dtype=np.int64)
        for m in range(PQ_M):
            d2 = np.zeros((n, PQ_K))
            for d in range(PQ_SUBDIM):
                x = E[:, m * PQ_SUBDIM + d]
                for k in range(PQ_K):
                    t = x - CB[m, k, d]
                    d2[:, k] += t * t
            # np.argmin returns the FIRST minimum → ties break to the
            # smallest k, matching the oracle's ORDER BY d2, k
            out[:, m] = np.argmin(d2, axis=1)
        return pd.Series(out.tolist())

    return impl


def _pq_adc_impl_factory(dtables, qids):
    """dtables: [q][m][k] float64 query-to-codeword partial distances
    (precomputed driver-side with the same per-dim fold order); returns,
    per corpus row, the array of per-query ADC distances (qids order)."""
    import numpy as np
    import pandas as pd

    DT = np.asarray(dtables, dtype=np.float64)  # (Q, M, K)
    nq = len(qids)

    def impl(codes):
        C = np.vstack(codes.to_numpy()).astype(np.int64)  # (n, M)
        n = C.shape[0]
        out = np.zeros((n, nq))
        for qi in range(nq):
            acc = np.zeros(n)
            for m in range(PQ_M):  # in-order fold over subspaces
                acc += DT[qi, m][C[:, m]]
            out[:, qi] = acc
        return pd.Series(out.tolist())

    return impl


@_q("sim_pq_adc", _PQ_SQL)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation —
    the memory-compression half of the classic IVF+PQ pair (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", PAMI 2011;
    no counterpart in the reference, whose only vector op is the sparse
    ``cosine_similarity`` in pm/operator/scalar/MathFunctions.java).

    * **train**: codebooks are the subvectors of the first ``PQ_K``
      corpus vectors (the same data-sampled convention as ``sim_ivf``'s
      coarse centroids; ``sim_ivf_kmeans`` shows the trained variant) —
      ``M×K×SUBDIM = 8·16·8`` doubles of bounded driver state.
    * **encode**: ONE Arrow pass over the corpus → 8 int4-range codes per
      vector (64 floats → 8 bytes: 32× compression). Broadcast codebooks,
      zero shuffle.
    * **search (ADC)**: per query, an ``M×K`` distance table is
      precomputed once; corpus distance = sum of 8 table lookups — no
      float multiply per candidate. One Arrow pass emits all per-query
      distances; posexplode + WindowGroupLimit shortlist is the only
      full-width shuffle (tiny: ``PQ_SHORTLIST`` rows per query).
    * **rerank**: the standard ADC pipeline's final step — the
      ``PQ_SHORTLIST``-deep candidate set (50/query) joins back to the
      raw vectors for EXACT L2 (measured recall@5 vs exact: 0.16-0.22
      ADC-only → 0.72-0.88 reranked on the fixtures). Both joins
      broadcast (the shortlist is Q·50 rows), so full vectors are only
      ever read for ~Q·50 candidates, never the corpus.

    Float parity is exact, not approximate: every L2² accumulates
    per-dimension left-to-right (the oracle's ``list_sum`` fold order),
    and the subspace sum folds in ``m`` order (``list(pd ORDER BY m)``
    in the oracle), so codes AND distances are bit-identical.

    100 TB: the corpus never moves — codes are a narrow projection
    written back as an 8-byte column; queries broadcast as a
    ``Q×M×K``-double table; the scale path composes this with
    ``sim_ivf``'s partition pruning (probe lists select which code
    partitions scan)."""
    import numpy as np

    emb = _emb(spark, sf_dir)
    head = sorted(
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < max(PQ_K, N_QUERIES))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cb = [
        [
            [float(r.embedding[m * PQ_SUBDIM + d]) for d in range(PQ_SUBDIM)]
            for r in head
            if r.vec_id < PQ_K
        ]
        for m in range(PQ_M)
    ]
    qids = [r.vec_id for r in head if r.vec_id < N_QUERIES]
    qvecs = [[float(x) for x in r.embedding] for r in head if r.vec_id < N_QUERIES]
    # Query distance tables, driver-side (Q·M·K = 10·8·16 doubles),
    # same per-dim fold order as the encode UDF and the oracle.
    dtables = []
    for qv in qvecs:
        dt = np.zeros((PQ_M, PQ_K))
        for m in range(PQ_M):
            for d in range(PQ_SUBDIM):
                x = qv[m * PQ_SUBDIM + d]
                for k in range(PQ_K):
                    t = x - cb[m][k][d]
                    dt[m, k] += t * t
        dtables.append(dt.tolist())

    encode = F.pandas_udf(_pq_encode_impl_factory(cb), "array<long>")
    adc = F.pandas_udf(_pq_adc_impl_factory(dtables, qids), "array<double>")

    codes = emb.select("vec_id", encode(F.col("embedding")).alias("codes"))
    dists = codes.select(
        "vec_id", F.posexplode(adc(F.col("codes"))).alias("qpos", "adist")
    )
    qid_map = F.array(*[F.lit(int(q)) for q in qids])
    scored = dists.select(
        qid_map[F.col("qpos")].alias("qid"),
        "vec_id",
        F.round("adist", 6).alias("adist"),
    ).filter(F.col("vec_id") != F.col("qid"))
    ws = W.partitionBy("qid").orderBy(F.col("adist").asc(), F.col("vec_id").asc())
    shortlist = (
        scored.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= PQ_SHORTLIST)
        .drop("srn")
    )
    # Exact rerank of the shortlist: both vector fetches are joins the
    # optimizer broadcasts (Q·PQ_SHORTLIST rows drive them) — raw vectors
    # are read for candidates only, never the corpus.
    raw = load_table(spark, sf_dir, "embeddings")
    qe = raw.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    ce = raw.select(F.col("vec_id"), F.col("embedding").alias("c_emb"))
    cand = shortlist.join(F.broadcast(qe.filter(F.col("qid") < N_QUERIES)), "qid").join(
        ce, "vec_id"
    )
    reranked = cand.select(
        "qid", "vec_id", "adist",
        F.round(_l2_pd()(F.col("q_emb"), F.col("c_emb")), 6).alias("dist"),
    )
    w = W.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        reranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", "adist", "dist", F.col("rn").cast("int").alias("rn"))
    )


# --- IVF + PQ composition: partition-pruned compressed-code search ----------

_IVFPQ_SQL = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < {N_CENTROIDS}
), assigned AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, cc.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_SQL_DOT.format(a="e.embedding", b="cc.ce")}
               / ({_SQL_NORM.format(a="e.embedding")} * {_SQL_NORM.format(a="cc.ce")}) DESC,
             cc.cid) AS arn
    FROM embeddings e CROSS JOIN c cc
  ) WHERE arn = 1
), q_probe AS (
  SELECT vec_id AS qid, embedding AS qe, cid FROM (
    SELECT e.vec_id, e.embedding, cc.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_SQL_DOT.format(a="e.embedding", b="cc.ce")}
               / ({_SQL_NORM.format(a="e.embedding")} * {_SQL_NORM.format(a="cc.ce")}) DESC,
             cc.cid) AS prn
    FROM embeddings e CROSS JOIN c cc
    WHERE e.vec_id < {N_QUERIES}
  ) WHERE prn <= {N_PROBE}
), cb_src AS (
  SELECT vec_id AS k, embedding FROM embeddings WHERE vec_id < {PQ_K}
), sub AS (
  SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
), cb AS (
  SELECT s.m, cs.k,
         list_transform(generate_series(1, {PQ_SUBDIM}),
             i -> CAST(cs.embedding[s.m * {PQ_SUBDIM} + i] AS DOUBLE)) AS cw
  FROM sub s CROSS JOIN cb_src cs
), enc_scored AS (
  SELECT e.vec_id, b.m, b.k, {_pq_sub_l2_sql('e.embedding', 'b.m', 'b.cw')} AS d2
  FROM embeddings e CROSS JOIN cb b
), codes AS (
  SELECT vec_id, m, k AS code FROM (
    SELECT vec_id, m, k,
           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn
    FROM enc_scored
  ) WHERE rn = 1
), qd AS (
  SELECT q.qid, a.vec_id, co.m,
         {_pq_sub_l2_sql('q.qe', 'co.m', 'b.cw')} AS pd
  FROM q_probe q
  JOIN assigned a ON a.cid = q.cid AND a.vec_id <> q.qid
  JOIN codes co ON co.vec_id = a.vec_id
  JOIN cb b ON b.m = co.m AND b.k = co.code
), adc AS (
  SELECT qid, vec_id, round(list_sum(list(pd ORDER BY m)), 6) AS adist
  FROM qd GROUP BY qid, vec_id
), shortlist AS (
  SELECT qid, vec_id, adist FROM (
    SELECT qid, vec_id, adist,
           row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS srn
    FROM adc
  ) WHERE srn <= {PQ_SHORTLIST}
), reranked AS (
  SELECT s.qid, s.vec_id, s.adist,
         round(list_sum(list_transform(generate_series(1, {DIM}), i ->
           (CAST(q.embedding[i] AS DOUBLE) - CAST(cv.embedding[i] AS DOUBLE))
           * (CAST(q.embedding[i] AS DOUBLE) - CAST(cv.embedding[i] AS DOUBLE)))), 6)
           AS dist
  FROM shortlist s
  JOIN embeddings q ON q.vec_id = s.qid
  JOIN embeddings cv ON cv.vec_id = s.vec_id
), ranked AS (
  SELECT qid, vec_id, adist, dist,
         row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
  FROM reranked
)
SELECT qid, vec_id, adist, dist, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= {TOP_K}
"""


def _adc_pair_impl_factory(dtables_by_qid):
    """Per-row ADC distance for (qid, codes) pairs: DT lookup summed in
    ``m`` order (the oracle's ``list(pd ORDER BY m)`` fold)."""
    import numpy as np
    import pandas as pd

    qid_list = sorted(dtables_by_qid)
    qid_index = {q: i for i, q in enumerate(qid_list)}
    DT = np.asarray([dtables_by_qid[q] for q in qid_list], dtype=np.float64)

    def impl(qids, codes):
        C = np.vstack(codes.to_numpy()).astype(np.int64)
        qi = qids.map(qid_index).to_numpy(dtype=np.int64)
        acc = np.zeros(len(C))
        for m in range(PQ_M):
            acc += DT[qi, m, C[:, m]]
        return pd.Series(acc)

    return impl


@_q("sim_ivfpq", _IVFPQ_SQL)
def sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the composition both halves document as their scale path
    (Jégou et al. 2011's IVFADC system): coarse centroids prune WHICH
    partitions scan (``sim_ivf``'s inverted file), PQ codes compress WHAT
    scans (``sim_pq_adc``'s 32× codes), and the exact rerank restores
    precision on the shortlist.

    One Arrow pass over the corpus emits BOTH the coarse assignment and
    the 8-byte PQ code (two UDFs in one projection — no second scan, no
    shuffle); the candidate join touches only the ``N_PROBE`` probed
    partitions' code rows (broadcast Q·N_PROBE probe pairs); ADC is a
    table lookup per candidate; raw vectors are read only for the
    Q·PQ_SHORTLIST rerank rows.

    At 100 TB this is THE deployable ANN shape: codes live as a narrow
    (vec_id, cid, 8-byte code) table partitioned by cid — a query reads
    ~N_PROBE/K of it, decompresses nothing, and fetches full vectors for
    50 rows."""
    import pandas as pd

    emb = _emb(spark, sf_dir)
    raw = load_table(spark, sf_dir, "embeddings")
    head_rows = sorted(
        raw.filter(F.col("vec_id") < max(N_CENTROIDS, N_QUERIES, PQ_K))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cent_rows = [r for r in head_rows if r.vec_id < N_CENTROIDS]
    cent_ids = [int(r.vec_id) for r in cent_rows]
    cent_vecs = [[float(x) for x in r.embedding] for r in cent_rows]
    cb = [
        [
            [float(r.embedding[m * PQ_SUBDIM + d]) for d in range(PQ_SUBDIM)]
            for r in head_rows
            if r.vec_id < PQ_K
        ]
        for m in range(PQ_M)
    ]
    q_rows = [r for r in head_rows if r.vec_id < N_QUERIES]
    # Per-query ADC distance tables (driver-side, Q·M·K doubles), same
    # per-dim fold order as the oracle.
    import numpy as np

    dtables_by_qid = {}
    for r in q_rows:
        qv = [float(x) for x in r.embedding]
        dt = np.zeros((PQ_M, PQ_K))
        for m in range(PQ_M):
            for d in range(PQ_SUBDIM):
                x = qv[m * PQ_SUBDIM + d]
                for k in range(PQ_K):
                    t = x - cb[m][k][d]
                    dt[m, k] += t * t
        dtables_by_qid[int(r.vec_id)] = dt.tolist()

    def _assign(vecs):
        return _assign_probe_impl(vecs, cent_ids, cent_vecs, N_PROBE)

    assign_udf = F.pandas_udf(_assign, "struct<cid: long, probes: array<long>>")
    encode = F.pandas_udf(_pq_encode_impl_factory(cb), "array<long>")
    adc_pair = F.pandas_udf(_adc_pair_impl_factory(dtables_by_qid), "double")

    # ONE pass: coarse assignment + PQ code per vector, narrow rows only
    # (vec_id, cid, 8 longs) — full vectors never leave the scan. The
    # lineage cut keeps the double-UDF projection at a single execution
    # even though the frame feeds the candidate join's build side.
    assigned_codes = (
        emb.select(
            "vec_id",
            assign_udf(F.col("embedding")).getField("cid").alias("cid"),
            encode(F.col("embedding")).alias("codes"),
        )
        .localCheckpoint(eager=False)
    )
    # Query probe lists driver-side (identical math ⇒ identical probes).
    q_ap = _assign(pd.Series([[float(x) for x in r.embedding] for r in q_rows]))
    q_probe = small_df(
        spark,
        [
            (int(r.vec_id), int(cid))
            for r, probes in zip(q_rows, q_ap["probes"])
            for cid in probes
        ],
        "qid bigint, cid bigint",
    )
    cand = (
        F.broadcast(q_probe.alias("qp"))
        .join(
            assigned_codes.alias("ac"),
            (F.col("qp.cid").eqNullSafe(F.col("ac.cid")))
            & (F.col("ac.vec_id") != F.col("qp.qid")),
        )
        .select("qid", "vec_id", "codes")
    )
    scored = cand.select(
        "qid", "vec_id", F.round(adc_pair(F.col("qid"), F.col("codes")), 6).alias("adist")
    )
    ws = W.partitionBy("qid").orderBy(F.col("adist").asc(), F.col("vec_id").asc())
    shortlist = (
        scored.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= PQ_SHORTLIST)
        .drop("srn")
    )
    qe = raw.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))
    ce = raw.select(F.col("vec_id"), F.col("embedding").alias("c_emb"))
    cand_full = shortlist.join(
        F.broadcast(qe.filter(F.col("qid") < N_QUERIES)), "qid"
    ).join(ce, "vec_id")
    reranked = cand_full.select(
        "qid", "vec_id", "adist",
        F.round(_l2_pd()(F.col("q_emb"), F.col("c_emb")), 6).alias("dist"),
    )
    w = W.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        reranked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id", "adist", "dist", F.col("rn").cast("int").alias("rn"))
    )


# --- hybrid retrieval: reciprocal rank fusion (BM25-style lexical + dense) ---

_RRF_C = 60        # the standard RRF constant (Cormack et al. 2009)
_RRF_POOL = 20     # per-modality candidate depth fed into the fusion
_RRF_TOP = 10

_RRF_SQL = f"""
WITH joined AS (
  SELECT d.doc_id AS id,
         string_split_regex(trim(d.text), '\\s+') AS words,
         e.embedding
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
), q AS (
  SELECT id AS qid, words AS qw, embedding AS qe
  FROM joined WHERE id < {N_QUERIES}
), dense AS (
  SELECT qid, id, rn FROM (
    SELECT q.qid, j.id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             round({_SQL_DOT.format(a="q.qe", b="j.embedding")}
                   / ({_SQL_NORM.format(a="q.qe")}
                      * {_SQL_NORM.format(a="j.embedding")}), 6) DESC,
             j.id) AS rn
    FROM q JOIN joined j ON j.id <> q.qid
  ) WHERE rn <= {_RRF_POOL}
), lex AS (
  SELECT qid, id, rn FROM (
    SELECT q.qid, j.id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             len(list_intersect(q.qw, j.words)) DESC, j.id) AS rn
    FROM q JOIN joined j ON j.id <> q.qid
  ) WHERE rn <= {_RRF_POOL}
), fused AS (
  SELECT coalesce(d.qid, l.qid) AS qid, coalesce(d.id, l.id) AS id,
         coalesce(1000000 // ({_RRF_C} + d.rn), 0)
           + coalesce(1000000 // ({_RRF_C} + l.rn), 0) AS rrf_micros
  FROM dense d FULL OUTER JOIN lex l ON d.qid = l.qid AND d.id = l.id
)
SELECT qid, id, CAST(rrf_micros AS BIGINT) AS rrf_micros,
       CAST(rn AS INTEGER) AS rn
FROM (
  SELECT qid, id, rrf_micros,
         row_number() OVER (PARTITION BY qid ORDER BY rrf_micros DESC, id)
           AS rn
  FROM fused
) WHERE rn <= {_RRF_TOP}
"""


@_q("sim_hybrid_rrf", _RRF_SQL)
def sim_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion (Cormack et al.,
    SIGIR 2009): the dense half ranks candidates by embedding cosine (the
    ``sim_topk_bruteforce`` shape), the lexical half by distinct-token
    overlap with the query document's text (the integer word-intersect
    core of BM25 without the libm-unsafe idf — see ``text_bm25_topk``),
    and each query's two top-20 lists fuse by
    ``sum(1 / (60 + rank))`` over their union — kept exact-integer as
    micros with floor division so both engines produce identical scores.
    This is the RAG-stack retrieval shape (vector DB + keyword index →
    one fused list) expressed as one declarative plan.

    100 TB: queries broadcast (Q·dim and Q·|query words| are small); each
    modality produces Q·20 narrow (qid, id, rn) rows via
    WindowGroupLimit, so the fusion join is trivially broadcast; the
    corpus is scanned once per modality and at scale each half swaps in
    its indexed variant (``sim_ivfpq`` / an inverted index) without
    touching the fusion."""
    docs = load_table(spark, sf_dir, "documents")
    emb = _emb(spark, sf_dir)
    joined = (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .select(
            F.col("doc_id").alias("id"),
            F.split(F.trim("text"), r"\s+").alias("words"),
            "embedding",
        )
    )
    q = joined.filter(F.col("id") < N_QUERIES).select(
        F.col("id").alias("qid"),
        F.col("words").alias("qw"),
        F.col("embedding").alias("qe"),
    )
    cand = F.broadcast(q).join(joined, F.col("id") != F.col("qid"))

    def _ranked(order: Column) -> DataFrame:
        w = W.partitionBy("qid").orderBy(order, "id")
        return (
            cand.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _RRF_POOL)
            .select("qid", "id", "rn")
        )

    dense = _ranked(F.desc(F.round(cosine(F.col("qe"), F.col("embedding")), 6)))
    lex = _ranked(F.desc(F.size(F.array_intersect("qw", "words"))))
    fused = (
        dense.alias("d")
        .join(
            lex.alias("l"),
            (F.col("d.qid") == F.col("l.qid")) & (F.col("d.id") == F.col("l.id")),
            "full_outer",
        )
        .select(
            F.coalesce("d.qid", "l.qid").alias("qid"),
            F.coalesce("d.id", "l.id").alias("id"),
            (
                F.coalesce(
                    F.expr(f"1000000 div ({_RRF_C} + d.rn)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000 div ({_RRF_C} + l.rn)"), F.lit(0)
                )
            )
            .cast("bigint")
            .alias("rrf_micros"),
        )
    )
    w = W.partitionBy("qid").orderBy(F.desc("rrf_micros"), "id")
    return (
        fused.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= _RRF_TOP)
    )


# --- Matryoshka prefix-dimension coarse rank + full-dim rerank ---------------

MRL_PREFIX = 16     # coarse pass reads only the first 16 of 64 dims
MRL_SHORTLIST = 20  # per-query survivors into the exact rerank

_MRL_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id < {N_QUERIES}
), coarse AS (
  SELECT q.qid, e.vec_id, e.embedding AS ce, q.qe,
         round({_SQL_DOT.format(a=f"q.qe[1:{MRL_PREFIX}]", b="e.embedding")}
               / ({_SQL_NORM.format(a=f"q.qe[1:{MRL_PREFIX}]")}
                  * {_SQL_NORM.format(a=f"e.embedding[1:{MRL_PREFIX}]")}), 6)
           AS psim
  FROM q JOIN embeddings e ON e.vec_id <> q.qid
), shortlist AS (
  SELECT qid, vec_id, qe, ce, psim,
         row_number() OVER (PARTITION BY qid ORDER BY psim DESC, vec_id)
           AS srn
  FROM coarse
)
SELECT qid, vec_id, psim,
       round({_SQL_DOT.format(a="qe", b="ce")}
             / ({_SQL_NORM.format(a="qe")} * {_SQL_NORM.format(a="ce")}), 6)
         AS sim,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY
         round({_SQL_DOT.format(a="qe", b="ce")}
               / ({_SQL_NORM.format(a="qe")} * {_SQL_NORM.format(a="ce")}), 6)
         DESC, vec_id) AS INTEGER) AS rn
FROM shortlist WHERE srn <= {MRL_SHORTLIST}
QUALIFY rn <= {TOP_K}
"""


@_q("sim_mrl_prefix_rerank", _MRL_SQL)
def sim_mrl_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation retrieval (Kusupati et al. 2022; the
    OpenAI/Nomic truncatable-embedding serving pattern): MRL-trained
    embeddings concentrate signal in their prefix, so the coarse pass
    ranks by cosine over ONLY the first 16 of 64 dims, keeps a
    20-deep shortlist per query, and the exact full-dim cosine reranks
    just those.

    The coarse score slices the stored vector in the JVM (``slice`` —
    Catalyst prunes nothing further since the column is one array, but
    the Arrow batch the cosine UDF sees is 16/64 the bytes); the
    shortlist is a WindowGroupLimit over NARROW (qid, vec_id, psim)
    rows — vectors never ride the rank shuffle; the rerank joins the
    full vectors back for the Q x 20 survivors only (the ``sim_pq_adc``
    shortlist pattern).

    100 TB: production stores the prefix as its OWN narrow column (or
    the int8 form — ``emb_int8_quantize``) so the coarse scan reads
    16/64 of the bytes at full recall@shortlist; the rerank cost is
    Q x 20 full-width rows exactly like ``sim_pq_adc``'s ADC shortlist.
    Same two-stage contract as sim_ivfpq, but the index is the
    representation itself — zero training, zero extra tables."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    # coarse rows stay NARROW (qid, vec_id, psim) — the rank shuffle must
    # never carry full vectors corpus-wide; the shortlist joins them back
    # for its Q x MRL_SHORTLIST rows only (the sim_pq_adc rerank pattern).
    coarse = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                cosine(
                    F.slice(F.col("qe"), 1, MRL_PREFIX),
                    F.slice(F.col("embedding"), 1, MRL_PREFIX),
                ),
                6,
            ).alias("psim"),
        )
    )
    ws = W.partitionBy("qid").orderBy(F.desc("psim"), "vec_id")
    shortlist = (
        coarse.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= MRL_SHORTLIST)
        .select("qid", "vec_id", "psim")
    )
    ce = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("ce")
    )
    reranked = (
        shortlist.join(ce, "vec_id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "vec_id",
            "psim",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("sim"),
        )
    )
    wr = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        reranked.withColumn("rn", F.row_number().over(wr).cast("int"))
        .filter(F.col("rn") <= TOP_K)
    )


# --- binary quantization (1 bit/dim) + Hamming shortlist + exact rerank ------
#
# The 1-bit compression rung below PQ (sim_pq_adc's 8 bytes/vec): each
# dimension contributes its SIGN bit, packed into two 32-bit words per
# 64-dim vector — 8 bytes/vec, a 32x reduction vs float32, and the
# distance kernel is XOR + popcount (pure integer, whole-stage codegen
# via Spark's `bit_count`; no float math until the rerank). This is the
# binary-quantization shape production vector stores deploy when even PQ
# codes are too large to keep hot (sign-bit BQ with exact-vector rerank;
# same family as the RaBitQ / faiss LSQ binary index).
#
# Two 32-bit words rather than one 64-bit word: `1::BIGINT << 63`
# overflows DuckDB's checked shift, and the two-word form IS the general
# multi-word layout any dim > 64 needs anyway (ceil(dim/32) words).
# Weights 2^j are plan-time literals in Spark and checked shifts in the
# oracle — identical values, exact integers everywhere.

BQ_WORD_BITS = 32
BQ_WORDS = DIM // BQ_WORD_BITS  # 2 words for the 64-dim fixture
BQ_SHORTLIST = 50  # Hamming candidates per query fed to the exact rerank

_BQ_WORD_SQL = (
    "CAST(list_sum(list_transform(list_slice({e}, {lo}, {hi}), "
    "(x, i) -> CASE WHEN x >= 0 THEN (1::BIGINT << (i - 1)) "
    "ELSE 0::BIGINT END)) AS BIGINT)"
)

_BQ_PACK_SQL = ", ".join(
    _BQ_WORD_SQL.format(e="embedding", lo=1 + w * BQ_WORD_BITS, hi=(w + 1) * BQ_WORD_BITS)
    + f" AS w{w}"
    for w in range(BQ_WORDS)
)

_BQ_HAM_SQL = " + ".join(
    f"bit_count(xor(q.qw{w}, p.w{w}))" for w in range(BQ_WORDS)
)

_BQ_SQL = f"""
WITH packed AS (
  SELECT vec_id, embedding, {_BQ_PACK_SQL} FROM embeddings
), q AS (
  SELECT vec_id AS qid, embedding AS qe,
         {', '.join(f'w{w} AS qw{w}' for w in range(BQ_WORDS))}
  FROM packed WHERE vec_id < {N_QUERIES}
), ham AS (
  SELECT q.qid, p.vec_id, CAST({_BQ_HAM_SQL} AS BIGINT) AS hamming
  FROM q JOIN packed p ON p.vec_id <> q.qid
), short AS (
  SELECT qid, vec_id, hamming,
         row_number() OVER (PARTITION BY qid ORDER BY hamming, vec_id) AS hrn
  FROM ham
), rerank AS (
  SELECT s.qid, s.vec_id, s.hamming,
         round({_SQL_DOT.format(a="q.qe", b="e.embedding")}
               / ({_SQL_NORM.format(a="q.qe")} * {_SQL_NORM.format(a="e.embedding")}), 6)
           AS sim
  FROM short s
  JOIN q ON q.qid = s.qid
  JOIN embeddings e ON e.vec_id = s.vec_id
  WHERE s.hrn <= {BQ_SHORTLIST}
), ranked AS (
  SELECT qid, vec_id, hamming, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rn
  FROM rerank
)
SELECT qid, vec_id, hamming, sim, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= {TOP_K}
"""


def _bq_word(e: Column, w: int) -> Column:
    """Word w of the sign-bit packing: sum of 2^j over set bits — the
    weights are plan-time Python-int literals (1 << j), bit-identical to
    the oracle's checked `1::BIGINT << (i-1)`."""
    weights = F.array(
        *[F.lit(1 << j).cast("long") for j in range(BQ_WORD_BITS)]
    )
    return F.aggregate(
        F.zip_with(
            F.slice(e, 1 + w * BQ_WORD_BITS, BQ_WORD_BITS),
            weights,
            lambda x, wt: F.when(x >= 0, wt).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda s, v: s + v,
    )


@_q("sim_bq_hamming", _BQ_SQL)
def sim_bq_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN: sign-bit packing (8 bytes/vec), Hamming
    shortlist, exact cosine rerank of the shortlist only.

    Plan shape, stage by stage: the packing is a pure integer projection
    (JVM expressions; at scale the packed words are written once as the
    persisted index — `layout_zorder`'s write-side pattern — so steady
    state scans 8 B/vec, not 256 B); the Hamming pass is XOR + bit_count
    on two BIGINT columns per pair with the Q-row query side broadcast —
    integer codegen, no float, no Python; the per-query shortlist is the
    WindowGroupLimit pattern (BQ_SHORTLIST rows/query survive); the exact
    rerank joins raw vectors back for Q x BQ_SHORTLIST rows ONLY
    (broadcast of the tiny shortlist into the embeddings scan). 100 TB:
    corpus side never shuffles — one scan for hamming, one semi-join-
    shaped fetch for rerank; everything wide is Q-bounded.

    Quality knob: hamming on sign bits approximates angle (E[hamming] =
    dim * theta / pi), so the shortlist needs BQ_SHORTLIST >> k.
    MEASURED, not asserted: `sim_ann_recall` carries this index — mean
    recall@5 is ~0.68 at sf0.01 with a 10%-of-corpus shortlist, between
    single-probe SRP (~0) and nprobe-IVF (~0.92); production deployments
    buy recall with a larger shortlist, which only grows the rerank's
    Q x BQ_SHORTLIST row count."""
    emb = _emb(spark, sf_dir)
    packed = emb.select(
        "vec_id",
        "embedding",
        *[_bq_word(F.col("embedding"), w).alias(f"w{w}") for w in range(BQ_WORDS)],
    )
    q = packed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        *[F.col(f"w{w}").alias(f"qw{w}") for w in range(BQ_WORDS)],
    )
    ham_expr = None
    for w in range(BQ_WORDS):
        t = F.bit_count(F.col(f"qw{w}").bitwiseXOR(F.col(f"w{w}")))
        ham_expr = t if ham_expr is None else ham_expr + t
    ham = (
        F.broadcast(q.drop("qe"))
        .join(packed.drop("embedding"), F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", ham_expr.cast("bigint").alias("hamming"))
    )
    wh = W.partitionBy("qid").orderBy("hamming", "vec_id")
    short = (
        ham.withColumn("hrn", F.row_number().over(wh))
        .filter(F.col("hrn") <= BQ_SHORTLIST)
        .select("qid", "vec_id", "hamming")
    )
    reranked = (
        emb.select("vec_id", F.col("embedding").alias("ce"))
        .join(F.broadcast(short), "vec_id")
        .join(F.broadcast(q.select("qid", "qe")), "qid")
        .select(
            "qid",
            "vec_id",
            "hamming",
            F.round(cosine(F.col("qe"), F.col("ce")), 6).alias("sim"),
        )
    )
    wr = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    return (
        reranked.withColumn("rn", F.row_number().over(wr).cast("int"))
        .filter(F.col("rn") <= TOP_K)
    )


# --- ANN evaluation: recall@K against the exact baseline ---------------------

_RECALL_ONE_SQL = """
SELECT '{label}' AS index_name, ex.qid,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(count(ap.vec_id) AS BIGINT) AS n_hit,
       CAST(count(ap.vec_id) * 1000000 // count(*) AS BIGINT) AS recall_ppm
FROM (SELECT qid, vec_id FROM ({exact})) ex
LEFT JOIN (SELECT qid, vec_id FROM ({approx})) ap
  ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
GROUP BY ex.qid
"""

_RECALL_INDEXES = ["sim_ann_lsh", "sim_ivf", "sim_bq_hamming"]


@_q(
    "sim_ann_recall",
    "\nUNION ALL\n".join(
        _RECALL_ONE_SQL.format(label=lbl, exact=_BRUTE_SQL, approx=sql)
        for lbl, sql in [("sim_ann_lsh", _ANN_SQL), ("sim_ivf", _IVF_SQL),
                         ("sim_bq_hamming", _BQ_SQL)]
    ),
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation — recall@5 of each index shape against the
    exact brute-force baseline, per (index, query), as exact-integer
    parts-per-million.  This is the eval harness every production ANN
    deployment runs before trusting an index: ground truth from the exact
    scan on a query sample, hit counting by (qid, vec_id) join, recall as
    the fraction of true top-k recovered.  The fixture numbers THEMSELVES
    document the tradeoff the docstrings claim: single-probe 8-plane SRP
    recalls almost nothing at this corpus/bucket ratio, while the
    nprobe-probed IVF sits near-exact — recall is bought with probes, not
    asserted.

    Both inputs are the registry operators (composition, like
    ``pipeline_training_corpus``), so the measured recall is exactly the
    shipping operators' — and the oracle recomputes BOTH sides and the
    same join in DuckDB, so the numbers are value-proven, not
    self-reported.

    100 TB: ground truth is Q-bounded (exact scan over a query SAMPLE —
    the standard recall-eval protocol); all joined frames are Q x K
    narrow rows, broadcast-trivial."""
    ex = QUERIES["sim_topk_bruteforce"](spark, sf_dir).select("qid", "vec_id")
    out = None
    for label in _RECALL_INDEXES:
        ap = QUERIES[label](spark, sf_dir).select("qid", "vec_id")
        hit = ex.alias("ex").join(
            ap.alias("ap"),
            (F.col("ap.qid") == F.col("ex.qid"))
            & (F.col("ap.vec_id") == F.col("ex.vec_id")),
            "left",
        )
        one = hit.groupBy(F.col("ex.qid").alias("qid")).agg(
            F.count("*").alias("n_exact"),
            F.count("ap.vec_id").alias("n_hit"),
            F.expr("count(ap.vec_id) * 1000000 div count(*)")
            .cast("bigint")
            .alias("recall_ppm"),
        ).select(F.lit(label).alias("index_name"), "*")
        out = one if out is None else out.unionByName(one)
    return out


# --- principal component via power iteration (exact integer fixed-point) -----

_PCA_ITERS = 3
_V_SCALE = 1_000_000  # normalized component scale (micros)


def _pca_sql() -> str:
    """Build the chained-CTE oracle: 3 unrolled power-iteration rounds.
    Signed truncating division is spelled CASE-wise so DuckDB's flooring
    ``//`` and Spark's truncating ``div`` agree on negatives."""

    def tdiv(num: str, den: str) -> str:
        return (
            f"CASE WHEN ({num}) >= 0 THEN ({num}) // ({den}) "
            f"ELSE -((-({num})) // ({den})) END"
        )

    ctes = [
        """x AS (
  SELECT vec_id, d, CAST(round(v[d] * 1000) AS BIGINT) AS q
  FROM (
    SELECT vec_id,
           unnest(generate_series(1, len(embedding))) AS d,
           list_transform(embedding, e -> CAST(e AS DOUBLE)) AS v
    FROM embeddings
  )
)""",
        "v0 AS (SELECT d, CAST(1000000 AS BIGINT) AS v FROM (SELECT unnest(generate_series(1, 64)) AS d))",
    ]
    prev = "v0"
    for k in range(1, _PCA_ITERS + 1):
        ctes.append(
            f"""s{k} AS (
  SELECT x.vec_id, CAST(sum(x.q * {prev}.v) AS BIGINT) AS s
  FROM x JOIN {prev} ON x.d = {prev}.d GROUP BY x.vec_id
)"""
        )
        ctes.append(
            f"""w{k} AS (
  SELECT x.d, CAST(sum(x.q * {tdiv('s' + str(k) + '.s', '1000')}) AS BIGINT) AS w
  FROM x JOIN s{k} ON x.vec_id = s{k}.vec_id GROUP BY x.d
)"""
        )
        ctes.append(
            f"m{k} AS (SELECT CAST(max(abs(w)) AS BIGINT) AS m FROM w{k})"
        )
        ctes.append(
            f"""v{k} AS (
  SELECT d, CAST({tdiv('w * 1000000', 'm')} AS BIGINT) AS v
  FROM w{k}, m{k}
)"""
        )
        prev = f"v{k}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT d, v AS v_micros FROM {prev} ORDER BY d"
    )


@_q("emb_pca_power", _pca_sql())
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by POWER ITERATION
    — the iterative-algorithm class (like `rank_pagerank`) made
    bit-deterministic: elements quantize once to exact integers, each
    round computes w = Xᵀ(X v) as two keyed integer-sum aggregations
    (never materializing the D×D covariance), and renormalization is
    max-abs scaling with SIGN-SAFE truncating division — no sqrt, no
    float, so any partitioning, engine, and iteration order produces the
    identical vector, and the 3-round unrolled SQL oracle proves it
    value-for-value.

    Scale shape: X explodes once to narrow (vec_id, d, q) rows
    (localCheckpoint pins one execution); per round, s = Xv groups by
    vec_id and w = Xᵀs groups by d — both map-side combinable — with v
    (64 rows) and max|w| (1 row) as broadcasts; driver holds only the
    loop counter.  Integer headroom: |q| ≤ ~10³, |v| ≤ 10⁶ ⇒ |s| ≤
    6.4·10¹⁰, s/1000 keeps |w| < 10¹⁸ through ~10⁷ vectors; beyond that
    lower _V_SCALE one decade per 10× corpus (the documented knob).
    Convergence to the true eigenvector needs more rounds at scale —
    rounds are a knob; DETERMINISM is the contract pinned here, the
    same trade `rank_pagerank` documents."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = (
        emb.select(
            "vec_id", F.posexplode("embedding").alias("pos", "e")
        )
        .select(
            "vec_id",
            (F.col("pos") + 1).alias("d"),
            F.round(F.col("e").cast("double") * 1000).cast("long").alias("q"),
        )
        .localCheckpoint(eager=False)
    )
    tdiv = (
        "CASE WHEN ({num}) >= 0 THEN ({num}) div ({den}) "
        "ELSE -((-({num})) div ({den})) END"
    )
    v = spark.range(1, DIM + 1).select(
        F.col("id").cast("int").alias("d"),
        F.lit(_V_SCALE).cast("long").alias("v"),
    )
    for _ in range(_PCA_ITERS):
        s = (
            x.join(F.broadcast(v), "d")
            .groupBy("vec_id")
            .agg(F.sum(F.col("q") * F.col("v")).cast("long").alias("s"))
            .withColumn(
                "sd", F.expr(tdiv.format(num="s", den="1000")).cast("long")
            )
        )
        # checkpoint pins ONE execution of the round's w for both its
        # consumers (the max|w| scale and the renormalized v) — the same
        # device part_skyline_pareto uses for its prefix consumers
        w = (
            x.join(s, "vec_id")
            .groupBy("d")
            .agg(F.sum(F.col("q") * F.col("sd")).cast("long").alias("w"))
            .localCheckpoint(eager=False)
        )
        m = w.agg(F.max(F.abs("w")).cast("long").alias("m"))
        v = w.crossJoin(F.broadcast(m)).select(
            "d",
            F.expr(tdiv.format(num="w * 1000000", den="m"))
            .cast("long")
            .alias("v"),
        )
    return v.select("d", F.col("v").alias("v_micros")).orderBy("d")


# --- threshold (range) similarity search ------------------------------------

RANGE_TAU_MICROS = 800_000  # cosine >= 0.8, compared in exact integer micros


_RANGE_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.qid, e.vec_id,
         CAST(floor({_SQL_DOT.format(a="q.qe", b="e.embedding")}
               / ({_SQL_NORM.format(a="q.qe")} * {_SQL_NORM.format(a="e.embedding")})
               * 1000000) AS BIGINT) AS sim_micros
  FROM q JOIN embeddings e ON e.vec_id <> q.qid
)
SELECT qid, vec_id, sim_micros
FROM scored WHERE sim_micros >= {RANGE_TAU_MICROS}
ORDER BY qid, vec_id
"""


@_q("sim_range_search", _RANGE_SQL)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold (range) similarity query — ALL corpus vectors within
    cosine ≥ τ of each query, the API sibling `sim_topk_bruteforce`'s
    top-k cannot express (k is unknown; the caller wants everything
    above the bar — the dedup-candidate and recommendation-fanout
    shape). The similarity crosses the gate as floor-micros so the
    threshold compare is integral; the division chain itself is
    elementwise IEEE arithmetic in one fixed order (the
    `emb_int8_quantize` parity argument), so floor lands identically in
    both engines.

    Scale shape: the EXACT primitive — queries broadcast (Q-bounded),
    one corpus scan, NO window at all (cheaper than top-k: no per-group
    sort state, the filter is stateless). Output is data-dependent
    (∝ neighborhood density at τ) — the property that makes range
    search the right dedup frontier and the wrong UI query. The
    approximate scale path swaps the scan for the `sim_bq_hamming`
    packed shortlist (Hamming radius bound → exact verify), trading
    measured recall (`sim_ann_recall`) for a codes-only scan."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.floor(cosine(F.col("qe"), F.col("embedding")) * 1_000_000)
            .cast("long")
            .alias("sim_micros"),
        )
    )
    # cut before the ORDER BY, whose range sampler would run the cosine
    # UDF stage a second time (the shared-stage rule in ``catalog``)
    hits = scored.filter(F.col("sim_micros") >= RANGE_TAU_MICROS)
    return hits.localCheckpoint(eager=False).orderBy("qid", "vec_id")


# --- cluster-balanced training-corpus sampling --------------------------------

# Per-cluster sample budget: a balanced mix draws the SAME number of rows
# from every embedding cluster regardless of cluster mass (the domain-
# rebalancing step in curation pipelines - over-represented clusters are
# downsampled hardest). Selection inside a cluster is by a Knuth
# multiplicative hash of vec_id: deterministic, order-free, and uniform.
SAMPLE_PER_CLUSTER = 10
_KNUTH = 2654435761
_HASH_MOD = 4294967296

_CLUSTER_SAMPLE_SQL = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
), assigned AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_SQL_DOT.format(a="e.embedding", b="c.ce")}
               / ({_SQL_NORM.format(a="e.embedding")} * {_SQL_NORM.format(a="c.ce")}) DESC,
             c.cid) AS arn
    FROM embeddings e CROSS JOIN c
  ) WHERE arn = 1
), sized AS (
  SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size
  FROM assigned GROUP BY cid
), ranked AS (
  SELECT cid, vec_id,
         CAST((vec_id * {_KNUTH}) % {_HASH_MOD} AS BIGINT) AS skey,
         row_number() OVER (PARTITION BY cid
           ORDER BY (vec_id * {_KNUTH}) % {_HASH_MOD}, vec_id) AS rn
  FROM assigned
)
SELECT r.cid, r.vec_id, r.skey, CAST(r.rn AS INTEGER) AS rn, s.cluster_size
FROM ranked r JOIN sized s ON s.cid = r.cid
WHERE r.rn <= {SAMPLE_PER_CLUSTER}
ORDER BY r.cid, r.rn
"""


@_q("train_cluster_sample", _CLUSTER_SAMPLE_SQL)
def train_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced training-corpus sampling - the domain-rebalancing
    pass curation pipelines run between dedup and mixing (SemDeDup /
    DoReMi-style cluster budgets): embed, cluster, then draw an EQUAL
    per-cluster sample so over-represented modes are downsampled and the
    tail keeps its coverage. Selection is a Knuth multiplicative hash of
    vec_id - deterministic and uniform, no RNG, so both engines pick the
    identical sample at any partitioning.

    Scale shape: nearest-centroid assignment is one Arrow pass against a
    broadcast K-row centroid table (same pass `sim_ivf` pays - at 100 TB
    it is scan-shaped, no shuffle); cluster sizes are a K-row groupBy;
    the per-cluster top-N is a WindowGroupLimit keyed by cid, so the sort
    never materializes a cluster - rank truncation happens map-side.
    """
    emb = _emb(spark, sf_dir)
    raw = load_table(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        raw.filter(F.col("vec_id") < N_CENTROIDS)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    cent_ids = [int(r.vec_id) for r in cent_rows]
    cent_vecs = [[float(x) for x in r.embedding] for r in cent_rows]

    def _assign(vecs):
        return _assign_probe_impl(vecs, cent_ids, cent_vecs, 1)

    assign_udf = F.pandas_udf(_assign, "struct<cid: long, probes: array<long>>")
    # The assignment UDF fans into TWO consumers (the per-cluster ranking
    # and the cluster-size aggregate), and the window's implicit
    # isnotnull(cid) pushes below the exchange — without a barrier the
    # Arrow stage executed 4x (2 consumers x filter duplication). The lazy
    # localCheckpoint pins ONE execution (same fix as sim_ann_lsh's
    # bucket UDF, plan-pinned below).
    assigned = emb.select(
        "vec_id", assign_udf(F.col("embedding")).getField("cid").alias("cid")
    ).localCheckpoint(eager=False)
    sized = assigned.groupBy("cid").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    skey = (F.col("vec_id") * _KNUTH) % _HASH_MOD
    w = W.partitionBy("cid").orderBy(skey, "vec_id")
    return (
        assigned.select("cid", "vec_id", skey.cast("long").alias("skey"))
        .withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= SAMPLE_PER_CLUSTER)
        .join(F.broadcast(sized), "cid")
        .select("cid", "vec_id", "skey", "rn", "cluster_size")
        .orderBy("cid", "rn")
    )


# --- kNN majority-vote classification ------------------------------------------

_KNN_K = 10

_KNN_SQL = f"""
WITH q AS (
  SELECT vec_id AS qid, embedding AS qe, label AS true_label
  FROM embeddings WHERE vec_id < {N_QUERIES}
), corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  WHERE vec_id >= {N_QUERIES}
), scored AS (
  SELECT q.qid, q.true_label, c.label,
         round({_SQL_DOT.format(a="q.qe", b="c.embedding")}
               / ({_SQL_NORM.format(a="q.qe")}
                  * {_SQL_NORM.format(a="c.embedding")}), 6) AS sim,
         c.vec_id
  FROM q JOIN corpus c ON TRUE
), nn AS (
  SELECT qid, true_label, label
  FROM (SELECT qid, true_label, label,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM scored)
  WHERE rn <= {_KNN_K}
), votes AS (
  SELECT qid, true_label, label, CAST(count(*) AS BIGINT) AS votes
  FROM nn GROUP BY qid, true_label, label
)
SELECT qid, CAST(label AS INTEGER) AS pred_label, votes,
       CAST(true_label AS INTEGER) AS true_label,
       CASE WHEN label = true_label THEN 1 ELSE 0 END AS correct
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY votes DESC, label) AS vr
      FROM votes)
WHERE vr = 1
ORDER BY qid
"""


@_q("sim_knn_classify", _KNN_SQL)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classification over the embedding corpus: each
    query vector takes the majority label of its ``_KNN_K`` nearest
    corpus neighbors by cosine (the standard non-parametric classifier;
    label column ships with the embeddings table). Ranking keys are
    (rounded sim, vec_id) and votes tie-break on the smaller label, so
    the prediction is engine-deterministic end to end; the per-query
    correctness flag against the true label makes the entry double as an
    eval harness (accuracy = avg(correct) downstream).

    Scale shape: identical to `sim_topk_bruteforce` — the query set is
    broadcast, the corpus side never shuffles until the per-query
    top-k (TopNRowNumber/WindowGroupLimit over Q*k survivors), and the
    vote count + argmax run on Q*k rows. Swapping the exact scorer for
    the IVF/PQ candidate generator turns this into approximate kNN
    classification with the same vote machinery."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("true_label"),
    )
    corpus = emb.filter(F.col("vec_id") >= N_QUERIES)
    scored = F.broadcast(q).crossJoin(corpus).select(
        "qid",
        "true_label",
        "label",
        F.round(cosine(F.col("qe"), F.col("embedding")), 6).alias("sim"),
        "vec_id",
    )
    wnn = W.partitionBy("qid").orderBy(F.desc("sim"), "vec_id")
    nn = (
        scored.withColumn("rn", F.row_number().over(wnn))
        .filter(F.col("rn") <= _KNN_K)
        .select("qid", "true_label", "label")
    )
    votes = nn.groupBy("qid", "true_label", "label").agg(
        F.count("*").cast("long").alias("votes")
    )
    wv = W.partitionBy("qid").orderBy(F.desc("votes"), "label")
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "qid",
            F.col("label").cast("int").alias("pred_label"),
            "votes",
            F.col("true_label").cast("int").alias("true_label"),
            F.when(F.col("label") == F.col("true_label"), 1)
            .otherwise(0)
            .alias("correct"),
        )
        .orderBy("qid")
    )


# --- Matryoshka prefix energy retention ----------------------------------------

_MRL_KS = [8, 16, 32, 64]

_MRL_ENERGY_BODY = """
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(1000 * CAST(x AS DOUBLE))
                                              AS BIGINT)) AS q
  FROM embeddings
"""


def _mrl_esq(k: int) -> str:
    return (
        f"CAST(list_sum(list_transform(q[1:{k}], x -> x * x)) AS BIGINT)"
    )


_MRL_ENERGY_SQL = f"""
WITH q AS ({_MRL_ENERGY_BODY}
), e AS (
  SELECT vec_id,
         {", ".join(f"{_mrl_esq(k)} AS e{k}" for k in _MRL_KS)}
  FROM q
), ratios AS (
  SELECT vec_id, k, CAST(ek * 1000000 // e64 AS BIGINT) AS retained_ppm
  FROM (
    {" UNION ALL ".join(
        f"SELECT vec_id, CAST({k} AS BIGINT) AS k, e{k} AS ek, e64 FROM e"
        for k in _MRL_KS)}
  ) WHERE e64 > 0
)
SELECT k, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(retained_ppm) // count(*) AS BIGINT) AS mean_retained_ppm,
       CAST(min(retained_ppm) AS BIGINT) AS min_retained_ppm,
       CAST(max(retained_ppm) AS BIGINT) AS max_retained_ppm
FROM ratios GROUP BY k ORDER BY k
"""


@_q("emb_mrl_energy_retention", _MRL_ENERGY_SQL)
def emb_mrl_energy_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix energy retention — the measurement that
    justifies sim_mrl_prefix_rerank's coarse pass: per prefix length
    k ∈ {8, 16, 32, 64}, what fraction of each vector's squared norm
    the first k dims carry (this IS cos² between the vector and its
    zero-padded prefix, the distortion the MRL paper trains to
    front-load).  Reported as per-k mean/min/max in exact ppm — if the
    mean at k=16 is high, the 4× cheaper coarse scan is safe; if the
    MIN is low, some vectors need the full-width rerank (exactly the
    two-stage design).

    Exact-integer contract: elements quantize to round(1000x) BIGINTs
    (round is correctly-rounded IEEE), prefix energies are integer
    sums of squares, and every ratio is truncating-ppm — bit-identical
    in both engines with no in-order float fold needed.

    Scale shape: pure projection per vector (4 prefix energies from one
    array pass) + a 4-group map-side-combined rollup — zero joins, zero
    windows."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(round(1000 * CAST(x AS DOUBLE))"
        " AS BIGINT)) AS q",
    )
    e = q.selectExpr(
        "vec_id",
        *[
            f"CAST(aggregate(slice(q, 1, {k}), CAST(0 AS BIGINT),"
            f" (s, x) -> s + x * x) AS BIGINT) AS e{k}"
            for k in _MRL_KS
        ],
    )
    parts = None
    for k in _MRL_KS:
        part = e.selectExpr(
            "vec_id",
            f"CAST({k} AS BIGINT) AS k",
            f"e{k} AS ek",
            "e64",
        )
        parts = part if parts is None else parts.unionByName(part)
    ratios = parts.filter(F.col("e64") > 0).selectExpr(
        "vec_id", "k", "CAST(ek * 1000000 div e64 AS BIGINT) AS retained_ppm"
    )
    return (
        ratios.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.expr("sum(retained_ppm) div count(*)")
            .cast("long")
            .alias("mean_retained_ppm"),
            F.min("retained_ppm").cast("long").alias("min_retained_ppm"),
            F.max("retained_ppm").cast("long").alias("max_retained_ppm"),
        )
        .orderBy("k")
    )


# --- Johnson-Lindenstrauss random projection (r11v wave) ---------------------
# The data-INDEPENDENT dimensionality reduction (Achlioptas 2003 ±1
# projections): unlike emb_pca_power there is nothing to train and
# nothing to broadcast — the projection matrix is a hash formula, so the
# op is a pure per-row projection at any corpus size (the property that
# makes JL the streaming/sharded-ingest choice). Embeddings are
# quantized to round(1000x) integers first, so every projected
# coordinate is an EXACT BIGINT in both engines, and the JL distortion
# guarantee is MEASURED (ratio of squared distances, ppm) on 50 fixed
# pairs — reported, never asserted (the sim_ann_recall contract).

JL_K = 16  # projected dimensions (64 -> 16, 4x compression)

_JL_SIGN = "(1 - 2 * (((i * 2654435761 + j * 40503) % 2147483647) % 2))"

_JL_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(generate_series(1, len(embedding)),
                        i -> CAST(round(CAST(embedding[i] AS DOUBLE) * 1000)
                                  AS BIGINT)) AS qv,
         list_transform(generate_series(0, {JL_K - 1}), j ->
           CAST(list_sum(list_transform(generate_series(0, len(embedding) - 1),
             i -> CAST(round(CAST(embedding[i + 1] AS DOUBLE) * 1000) AS BIGINT)
                  * {_JL_SIGN})) AS BIGINT)) AS y
  FROM embeddings WHERE vec_id < 100
)
SELECT a.vec_id AS pair_id,
       CAST(list_sum(list_transform(generate_series(1, len(a.qv)),
            i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) AS BIGINT)
         AS dist_orig,
       CAST(list_sum(list_transform(generate_series(1, {JL_K}),
            j -> (a.y[j] - b.y[j]) * (a.y[j] - b.y[j]))) AS BIGINT)
         AS dist_proj,
       CAST(CASE WHEN list_sum(list_transform(generate_series(1, len(a.qv)),
                 i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))) = 0 THEN 0
            ELSE list_sum(list_transform(generate_series(1, {JL_K}),
                 j -> (a.y[j] - b.y[j]) * (a.y[j] - b.y[j]))) * 1000000
                 // ({JL_K} * list_sum(list_transform(generate_series(1, len(a.qv)),
                      i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i]))))
            END AS BIGINT) AS ratio_ppm
FROM q a JOIN q b ON b.vec_id = a.vec_id + 1
WHERE a.vec_id % 2 = 0
ORDER BY pair_id
"""


@_q("emb_random_projection", _JL_SQL)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 random projection 64 → {JL_K} dims with measured pairwise
    distortion: the sign matrix is the AMS-style integer hash formula
    (no stored model, no broadcast — data-independent), projections are
    exact BIGINT sums over round(1000x)-quantized coordinates, and the
    50 fixed consecutive-id pairs report dist_proj/(K·dist_orig) in
    truncating ppm (E[·] = 1 under JL; the spread IS the measurement).
    Scale: the projection is a pure per-row expression (zero shuffles at
    corpus scale); the eval pair join is bounded at 50 rows."""
    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 100)
    q = emb.selectExpr(
        "vec_id",
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000)"
        " AS BIGINT)) AS qv",
        f"transform(sequence(0, {JL_K - 1}), j ->"
        " aggregate(sequence(0, size(embedding) - 1), CAST(0 AS BIGINT),"
        " (s, i) -> s + CAST(round(CAST(element_at(embedding, i + 1) AS DOUBLE)"
        f" * 1000) AS BIGINT) * {_JL_SIGN})) AS y",
    )
    a, b = q.alias("a"), q.alias("b")
    pairs = (
        a.filter(F.expr("vec_id % 2 = 0"))
        .join(b, F.expr("b.vec_id = a.vec_id + 1"))
        .selectExpr(
            "a.vec_id AS pair_id",
            "CAST(aggregate(zip_with(a.qv, b.qv, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (s, x) -> s + x) AS BIGINT) AS dist_orig",
            "CAST(aggregate(zip_with(a.y, b.y, (x, y) -> (x - y) * (x - y)),"
            " CAST(0 AS BIGINT), (s, x) -> s + x) AS BIGINT) AS dist_proj",
        )
    )
    return pairs.selectExpr(
        "pair_id",
        "dist_orig",
        "dist_proj",
        f"CAST(CASE WHEN dist_orig = 0 THEN 0"
        f" ELSE dist_proj * 1000000 div ({JL_K} * dist_orig) END AS BIGINT)"
        " AS ratio_ppm",
    ).orderBy("pair_id")


emb_random_projection.__doc__ = emb_random_projection.__doc__.format(JL_K=JL_K)


# --- IVF nprobe operating curve (r11z wave) ----------------------------------
# The tuning table behind sim_ivf's N_PROBE choice: recall@5 as a
# function of probes searched (1 / 2 / 4), against the exact scan on the
# query sample. Probe lists NEST (probes(4) ⊇ probes(2) ⊇ probes(1)), so
# ONE candidate enumeration at the widest setting serves every rung —
# each candidate carries the FIRST probe rank that found it, and rung np
# simply filters first_probe <= np before the top-k. Recall is bought
# with probes; this op prices the curve instead of asserting it.

_SWEEP_NPROBES = [1, 2, 4]

_SPARK_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (s, v) -> s + v)"
)
_SPARK_NORM = (
    "sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (s, v) -> s + v))"
)


def _sweep_cos(dot_t: str, norm_t: str, a: str, b: str) -> str:
    return (
        f"{dot_t.format(a=a, b=b)}"
        f" / ({norm_t.format(a=a)} * {norm_t.format(a=b)})"
    )


_SWEEP_SQL = f"""
WITH c AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
), q AS (
  SELECT vec_id AS qid, embedding AS qe FROM embeddings
  WHERE vec_id < {N_QUERIES}
), probe AS (
  SELECT qid, qe, cid, prn FROM (
    SELECT q.qid, q.qe, c.cid,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             {_sweep_cos(_SQL_DOT, _SQL_NORM, "q.qe", "c.ce")} DESC, c.cid) AS prn
    FROM q CROSS JOIN c
  ) WHERE prn <= {max(_SWEEP_NPROBES)}
), assigned AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             {_sweep_cos(_SQL_DOT, _SQL_NORM, "e.embedding", "c.ce")} DESC, c.cid)
             AS arn
    FROM embeddings e CROSS JOIN c
  ) WHERE arn = 1
), cand AS (
  SELECT p.qid, a.vec_id,
         CAST(min(p.prn) AS INTEGER) AS first_probe,
         max(round({_sweep_cos(_SQL_DOT, _SQL_NORM, "p.qe", "a.embedding")}, 6))
           AS sim
  FROM probe p JOIN assigned a ON a.cid = p.cid AND a.vec_id <> p.qid
  GROUP BY p.qid, a.vec_id
), sweep AS (
  SELECT r.np, r.qid, r.vec_id FROM (
    SELECT np, qid, vec_id,
           row_number() OVER (PARTITION BY np, qid
                              ORDER BY sim DESC, vec_id) AS rn
    FROM cand CROSS JOIN (VALUES {", ".join(f"({n})" for n in _SWEEP_NPROBES)})
         g2(np)
    WHERE first_probe <= np
  ) r WHERE r.rn <= {TOP_K}
), exact AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             round({_sweep_cos(_SQL_DOT, _SQL_NORM, "q.qe", "e.embedding")}, 6)
               DESC, e.vec_id) AS rn
    FROM q JOIN embeddings e ON e.vec_id <> q.qid
  ) WHERE rn <= {TOP_K}
)
SELECT CAST(g.np AS BIGINT) AS nprobe,
       CAST((SELECT count(DISTINCT qid) FROM q) AS BIGINT) AS n_queries,
       CAST(count(s.vec_id) AS BIGINT) AS n_hits,
       CAST(count(s.vec_id) * 1000000
            // ((SELECT count(*) FROM q) * {TOP_K}) AS BIGINT)
         AS mean_recall_ppm
FROM (VALUES {", ".join(f"({n})" for n in _SWEEP_NPROBES)}) g(np)
LEFT JOIN (
  SELECT sw.np, sw.vec_id FROM sweep sw
  JOIN exact ex ON ex.qid = sw.qid AND ex.vec_id = sw.vec_id
) s ON s.np = g.np
GROUP BY g.np ORDER BY nprobe
"""


@_q("sim_ivf_nprobe_sweep", _SWEEP_SQL)
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} vs probes searched for the IVF index — the
    operating curve that prices sim_ivf's N_PROBE knob. One candidate
    enumeration at the widest rung (probe lists nest; each candidate
    remembers its FIRST probe rank) serves every rung via a filter, so
    the sweep costs one probe-join, not |rungs|. Cosines are the same
    in-order IEEE fold in both engines (the emb_int8_quantize contract);
    all windows partition by (np, qid) / vec_id — bounded widths.
    Eval-protocol scale note: ground truth is the exact scan over the
    Q-query sample (the sim_ann_recall protocol); the full-corpus
    assignment pass is the one scan-shaped stage."""
    emb = _emb(spark, sf_dir)
    c = emb.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    from pyspark.sql.window import Window as W

    cos_qc = F.expr(_sweep_cos(_SPARK_DOT, _SPARK_NORM, "qe", "ce"))
    probe = (
        q.crossJoin(F.broadcast(c))
        .withColumn("csim", cos_qc)
        .withColumn(
            "prn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.col("csim").desc(), "cid")
            ),
        )
        .filter(F.col("prn") <= max(_SWEEP_NPROBES))
        .select("qid", "qe", "cid", "prn")
    )
    cos_ec = F.expr(_sweep_cos(_SPARK_DOT, _SPARK_NORM, "embedding", "ce"))
    assigned = (
        emb.crossJoin(F.broadcast(c))
        .withColumn("csim", cos_ec)
        .withColumn(
            "arn",
            F.row_number().over(
                W.partitionBy("vec_id").orderBy(F.col("csim").desc(), "cid")
            ),
        )
        .filter(F.col("arn") == 1)
        .select("vec_id", "embedding", "cid")
    )
    cos_qa = F.expr(_sweep_cos(_SPARK_DOT, _SPARK_NORM, "qe", "embedding"))
    cand = (
        probe.join(
            assigned,
            (probe.cid == assigned.cid) & (assigned.vec_id != probe.qid),
        )
        .withColumn("sim", F.round(cos_qa, 6))
        .groupBy("qid", "vec_id")
        .agg(
            F.min("prn").cast("int").alias("first_probe"),
            F.max("sim").alias("sim"),
        )
    )
    grid = small_df(spark, [(n,) for n in _SWEEP_NPROBES], "np int")
    sweep = (
        cand.crossJoin(F.broadcast(grid))
        .filter(F.col("first_probe") <= F.col("np"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("np", "qid").orderBy(F.col("sim").desc(), "vec_id")
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("np", "qid", "vec_id")
    )
    cos_qe = F.expr(_sweep_cos(_SPARK_DOT, _SPARK_NORM, "qe", "embedding"))
    exact = (
        q.join(emb, emb.vec_id != q.qid)
        .withColumn("sim", F.round(cos_qe, 6))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
            ),
        )
        .filter(F.col("rn") <= TOP_K)
        .select("qid", "vec_id")
    )
    hits = sweep.join(exact, ["qid", "vec_id"]).groupBy("np").agg(
        F.count("*").cast("long").alias("n_hits")
    )
    nq = q.agg(F.count("*").alias("n_q"))
    return (
        grid.join(hits, "np", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("np").cast("bigint").alias("nprobe"),
            F.col("n_q").cast("bigint").alias("n_queries"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.expr(
                f"coalesce(n_hits, 0) * 1000000 div (n_q * {TOP_K})"
            ).cast("bigint").alias("mean_recall_ppm"),
        )
        .orderBy("nprobe")
    )


# --- blocked kNN-graph construction (r12 wave) --------------------------------
# The corpus-wide k-nearest-neighbor graph is the substrate for SemDeDup
# clustering, label propagation over embeddings, and graph-based ANN
# (NN-Descent / HNSW ground layers). Brute force is O(n²); the deployable
# shape blocks by a coarse quantizer first (the IVF device) so the
# pairwise join runs within cells only — candidates ∝ n²/C for balanced
# cells, and at 100 TB the cells are the partition keys, so each join
# task touches one cell.

KNN_C_MIN = 8  # coarse-cell floor; cells scale as max(this, n // KNN_CELL_DIV)
KNN_CELL_DIV = 256  # target cell size — cells grow WITH the corpus
KNN_K = 5

_SQL_L2 = (
    "list_sum(list_transform({a}, (x, i) ->"
    " (CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
)

_KNN_GRAPH_SQL = f"""
WITH nc AS (
  SELECT greatest({KNN_C_MIN}, count(*) // {KNN_CELL_DIV}) AS c
  FROM embeddings
), c AS (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings, nc
  WHERE vec_id < nc.c
), assign AS (
  SELECT vec_id, embedding, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rnc
  FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           {_SQL_L2.format(a="e.embedding", b="c.ce")} AS d2
    FROM embeddings e, c
  )
), pts AS (
  SELECT vec_id, embedding, cid FROM assign WHERE rnc = 1
), cand AS (
  SELECT a.vec_id AS src, b.vec_id AS nbr,
         round({_SQL_L2.format(a="a.embedding", b="b.embedding")}, 6) AS d2
  FROM pts a JOIN pts b ON a.cid = b.cid AND b.vec_id <> a.vec_id
), ranked AS (
  SELECT src, nbr, d2,
         row_number() OVER (PARTITION BY src ORDER BY d2, nbr) AS rn
  FROM cand
)
SELECT src, nbr, d2 AS dist_sq, CAST(rn AS INTEGER) AS rn
FROM ranked WHERE rn <= {KNN_K}
ORDER BY src, rn
"""


def _l2sq(a: Column, b: Column) -> Column:
    """Left-to-right double L2² fold — same order as the oracle SQL."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda s, v: s + v,
    )


@_q("sim_knn_graph", _KNN_GRAPH_SQL)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked kNN-graph construction: assign every vector to its nearest
    coarse center (the first ``max({Cmin}, n/{div})`` corpus vectors — the
    IVF assignment step with a deterministic codebook whose SIZE SCALES
    WITH THE CORPUS, pinning expected cell size at ~{div}), then build
    each point's top-{K} neighbor list WITHIN its cell via a cell-equi
    self-join + per-source rank. Candidates ∝ Σ|cell|² ≈ n·{div} instead
    of n²; at scale the cell id is the shuffle key, a trained codebook
    (sim_ivf_kmeans) balances the cells, and the assignment pass (n·C
    distances) is the component that calls for the √n codebook rule /
    a two-level quantizer in production. Distances are the shared
    left-to-right IEEE-double fold rounded to 6 places with (dist, id)
    tie-break, so both engines emit the identical graph. Boundary
    effect (true neighbor in an adjacent cell) is the documented IVF
    recall trade — sim_ann_recall measures it; this op's contract is
    the blocked graph itself."""
    emb = _emb(spark, sf_dir).localCheckpoint(eager=False)
    nc = emb.agg(
        F.greatest(
            F.lit(KNN_C_MIN), F.expr(f"count(*) div {KNN_CELL_DIV}")
        ).alias("c")
    )
    c = F.broadcast(
        emb.crossJoin(F.broadcast(nc))
        .filter(F.col("vec_id") < F.col("c"))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    )
    # hot paths use the Arrow-vectorized L2 (identical left-to-right
    # summation order as the _l2sq fold and the oracle's list_sum — the
    # module's standing CodegenFallback-HOF avoidance, see _cosine_impl)
    wq = W.partitionBy("vec_id").orderBy("d2", "cid")
    pts = (
        emb.crossJoin(c)
        .select(
            "vec_id",
            "embedding",
            "cid",
            _l2_pd()(F.col("embedding"), F.col("ce")).alias("d2"),
        )
        .withColumn("rnc", F.row_number().over(wq))
        .filter(F.col("rnc") == 1)
        .select("vec_id", "embedding", "cid")
        # pts feeds BOTH sides of the cell self-join: pin one execution
        # (the plan otherwise runs the whole assignment pass twice —
        # caught by the r12 plan gate's nested-loop count)
        .localCheckpoint(eager=False)
    )
    # Per-cell matrix kernel (r14, guide §8: decide with small rows, move
    # big rows once). The old cell self-join materialized |cell|² pair
    # rows EACH carrying BOTH 64-float embeddings through the Arrow
    # boundary (~500 MB for 503k pairs at sf0.1; 6.1 s + 2.4 s codegen
    # spans around the pair UDF). Each cell's rows now cross ONCE into an
    # applyInPandas kernel that accumulates the full distance matrix with
    # the same per-dimension left-to-right float64 adds as _l2_impl
    # (bit-identical doubles) and emits only a SUPERSET of each source's
    # rounded top-K: every kept row has raw d2 <= kth_raw + 1e-6.
    # Proof the cut is safe: rounding to 6 places is monotone and moves a
    # value by at most 5e-7, so a dropped row (raw > kth_raw + 1e-6) has
    # round(raw) > kth_raw + 5e-7 >= round(kth_raw) >= the K-th smallest
    # rounded value — strictly below rank K whatever the nbr tie-break.
    # Spark then applies the exact HALF_UP round + window on the reduced
    # set, so the emitted rows are identical to the full self-join's.
    # A degenerate giant cell costs O(|cell|²) kernel memory — the same
    # blowup the pair join had in shuffle rows; the corpus-scaled
    # codebook (cells ~{div} rows) is the sizing contract either way.
    def _cell_topk(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {
                    "src": pd.Series([], dtype="int64"),
                    "nbr": pd.Series([], dtype="int64"),
                    "d2raw": pd.Series([], dtype="float64"),
                }
            )
        A = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
        ids = pdf["vec_id"].to_numpy()
        acc = np.zeros((n, n))
        for d in range(A.shape[1]):
            t = A[:, d][:, None] - A[:, d][None, :]
            acc += t * t
        np.fill_diagonal(acc, np.inf)
        k = min(KNN_K, n - 1)
        kth = np.partition(acc, k - 1, axis=1)[:, k - 1]
        si, ni = np.nonzero(acc <= kth[:, None] + 1e-6)
        return pd.DataFrame(
            {
                "src": ids[si].astype("int64"),
                "nbr": ids[ni].astype("int64"),
                "d2raw": acc[si, ni],
            }
        )

    cand = (
        pts.groupBy("cid")
        .applyInPandas(_cell_topk, "src bigint, nbr bigint, d2raw double")
        .select("src", "nbr", F.round("d2raw", 6).alias("d2"))
    )
    wr = W.partitionBy("src").orderBy("d2", "nbr")
    return (
        cand.withColumn("rn", F.row_number().over(wr).cast("int"))
        .filter(F.col("rn") <= KNN_K)
        .select("src", "nbr", F.col("d2").alias("dist_sq"), "rn")
        .orderBy("src", "rn")
    )


sim_knn_graph.__doc__ = sim_knn_graph.__doc__.format(
    Cmin=KNN_C_MIN, div=KNN_CELL_DIV, K=KNN_K
)


# --- maximal marginal relevance diversification (r13) ---------------------------
# The RAG retrieval finisher: after top-k by similarity, greedily re-pick
# results trading relevance against redundancy — pick_k = argmax over
# remaining candidates of λ·rel(q,i) − (1−λ)·max_{j∈picked} sim(i,j)
# (Carbonell & Goldstein 1998), λ = 0.7. Exact-integer discipline: rel
# and redundancy are micros BIGINTs (the cosine itself is the module's
# sequential-fold Arrow kernel, bit-identical across engines), the MMR
# score is the integer 7·rel_e6 − 3·red_e6, and every argmax carries a
# vec_id tie-break — the greedy trajectory is fully deterministic.

MMR_K = 5
_MMR_COS_SQL = (
    f"CAST(round({_SQL_DOT.format(a='{a}', b='{b}')} / "
    f"({_SQL_NORM.format(a='{a}')} * {_SQL_NORM.format(a='{b}')}) "
    "* 1000000) AS BIGINT)"
)


def _mmr_round_sql(k: int) -> str:
    prev = f"p{k - 1}"
    cos = _MMR_COS_SQL.format(a="r.embedding", b="s.embedding")
    return f"""c{k} AS (
  SELECT r.vec_id, r.rel_e6, r.embedding,
         (SELECT max({cos}) FROM {prev} s) AS red_e6
  FROM rel r WHERE r.vec_id NOT IN (SELECT vec_id FROM {prev})
), s{k} AS MATERIALIZED (
  SELECT {k} AS pick, vec_id, rel_e6, embedding, red_e6
  FROM c{k} ORDER BY 7 * rel_e6 - 3 * red_e6 DESC, vec_id LIMIT 1
), p{k} AS MATERIALIZED (
  SELECT pick, vec_id, rel_e6, embedding, red_e6 FROM {prev}
  UNION ALL SELECT pick, vec_id, rel_e6, embedding, red_e6 FROM s{k}
)"""


_MMR_SQL = (
    f"""
WITH q AS (
  SELECT embedding AS qe FROM embeddings WHERE vec_id = 0
), rel AS MATERIALIZED (
  SELECT e.vec_id,
         {_MMR_COS_SQL.format(a='e.embedding', b='q.qe')} AS rel_e6,
         e.embedding
  FROM embeddings e, q WHERE e.vec_id <> 0
), p1 AS MATERIALIZED (
  SELECT 1 AS pick, vec_id, rel_e6, embedding, CAST(0 AS BIGINT) AS red_e6
  FROM rel ORDER BY rel_e6 DESC, vec_id LIMIT 1
), """
    + ", ".join(_mmr_round_sql(k) for k in range(2, MMR_K + 1))
    + f"""
SELECT CAST(pick AS BIGINT) AS pick, vec_id, rel_e6,
       CAST(red_e6 AS BIGINT) AS red_e6,
       CAST(7 * rel_e6 - 3 * red_e6 AS BIGINT) AS mmr_e6x10
FROM p{MMR_K} ORDER BY pick
"""
)


MMR_SHORTLIST = 256


def _mmr_cos_e6_np(picked_emb, cand_emb) -> list[int]:
    """Driver-side twin of the Spark-side ``round(cosine(a, b)*1e6)``
    pipeline for ONE picked vector against a candidate matrix: the same
    sequential per-dimension float64 accumulation as ``_cosine_impl``
    and the same HALF_UP decimal rounding as Spark's ``round`` (exact
    via decimal on the double's value). Any residual divergence is
    caught by the verification pass and falls back — never emitted."""
    import decimal

    import numpy as np

    A = np.asarray(cand_emb, dtype=np.float64)
    y = np.asarray(picked_emb, dtype=np.float64)
    n, dim = A.shape
    dots = np.zeros(n)
    na = np.zeros(n)
    nb = np.zeros(n)
    for d in range(dim):
        x = A[:, d]
        dots += x * y[d]
        na += x * x
        nb += y[d] * y[d]
    c = dots / (np.sqrt(na) * np.sqrt(nb)) * 1000000.0
    q0 = decimal.Decimal(1)
    return [
        int(
            decimal.Decimal(float(v)).quantize(
                q0, rounding=decimal.ROUND_HALF_UP
            )
        )
        for v in c
    ]


def _mmr_propose(rows) -> list | None:
    """Greedy MMR trajectory over the collected top-rel shortlist
    (bounded MMR_SHORTLIST rows — the sim_ivf bounded-collect class).
    Returns the proposed pick rows [(vec_id, embedding)] or None when
    the shortlist cannot seat K picks."""
    if len(rows) < MMR_K:
        return None
    vec_ids = [r["vec_id"] for r in rows]
    rels = [r["rel_e6"] for r in rows]
    embs = [r["embedding"] for r in rows]
    n = len(rows)
    red = [0] * n
    avail = set(range(n))
    picks: list[int] = []
    for k in range(1, MMR_K + 1):
        best = None
        for i in sorted(avail):
            score = 7 * rels[i] if k == 1 else 7 * rels[i] - 3 * red[i]
            key = (-score, vec_ids[i])
            if best is None or key < best[0]:
                best = (key, i)
        i = best[1]
        picks.append(i)
        avail.discard(i)
        if k < MMR_K:
            cos = _mmr_cos_e6_np(embs[i], embs)
            red = [max(r, c) for r, c in zip(red, cos)]
    return [(vec_ids[i], embs[i]) for i in picks]


def _mmr_verify(spark: SparkSession, rel: DataFrame, prop: list):
    """ONE distributed pass that, GIVEN the proposed picks, computes the
    true per-round argmax over ALL candidates: with picks fixed, every
    candidate's round-k redundancy is greatest(cos to picks 1..k-1) in
    closed form, so each round's winner is a null-skipping max(struct)
    hash aggregate — no sequential round trips. Returns the 5 emitted
    rows (every value Spark-kernel-computed) when each winner matches
    the proposal, else None (caller falls back to the sequential loop)."""
    pick_ids = [int(v) for v, _ in prop]
    cos_cols = [
        F.round(
            cosine(
                F.col("embedding"),
                F.array(*[F.lit(float(x)) for x in emb_j]),
            )
            * 1000000
        ).cast("long")
        for _, emb_j in prop[: MMR_K - 1]
    ]
    d = rel
    aggs = []
    for k in range(1, MMR_K + 1):
        red_k = (
            F.lit(0).cast("long")
            if k == 1
            else F.greatest(*cos_cols[: k - 1])
            if k > 2
            else cos_cols[0]
        )
        score_k = 7 * F.col("rel_e6") - 3 * red_k
        elig = (
            ~F.col("vec_id").isin(pick_ids[: k - 1])
            if k > 1
            else F.lit(True)
        )
        aggs.append(
            F.max(
                F.when(
                    elig,
                    F.struct(
                        score_k.alias("s"),
                        (-F.col("vec_id")).alias("nv"),
                        F.col("rel_e6").alias("r"),
                        red_k.alias("d"),
                    ),
                )
            ).alias(f"w{k}")
        )
    row = d.agg(*aggs).collect()[0]
    out = []
    for k in range(1, MMR_K + 1):
        w = row[f"w{k}"]
        if w is None or -w["nv"] != pick_ids[k - 1]:
            return None
        out.append((k, -w["nv"], w["r"], w["d"], w["s"]))
    return out


@_q("sim_mmr_diversify", _MMR_SQL)
def sim_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{k} for query vec 0 (λ = 0.7): each round
    re-scores the remaining candidates by 7·rel_e6 − 3·max-sim-to-picked
    and takes the integer argmax. Emits (pick, vec_id, rel_e6, red_e6,
    mmr score).

    Scale (r14): rel is ONE Arrow cosine pass over the corpus,
    checkpointed. The greedy trajectory is PROPOSED on a bounded
    top-rel shortlist (MMR_SHORTLIST rows collected — the sim_ivf
    bounded-collect class) and then VERIFIED exactly in one distributed
    pass: given the picks, every candidate's per-round redundancy is
    closed-form, so the true per-round argmax over the whole corpus is
    5 null-skipping max(struct) aggregates in a single job, and every
    emitted value comes from that Spark-side pass. A proposal the
    verifier rejects (shortlist too diverse for K picks — cannot happen
    silently) falls back to the r13 sequential loop, which is exact on
    any input. This replaces K−1 sequential checkpoint + TakeOrdered(1)
    round trips (the r13 bench's worst headline stage-latency chain,
    anti-scaling 0.44 at 8c→32c) with rel-pass + shortlist + one
    verification aggregate."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    rel = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qe")) * 1000000)
            .cast("long")
            .alias("rel_e6"),
            "embedding",
        )
        .localCheckpoint(eager=False)
    )
    short = (
        rel.orderBy(F.col("rel_e6").desc(), "vec_id")
        .limit(MMR_SHORTLIST)
        .collect()
    )
    prop = _mmr_propose(short)
    if prop is not None:
        rows = _mmr_verify(spark, rel, prop)
        if rows is not None:
            from pyspark.sql.types import LongType, StructField, StructType

            schema = StructType(
                [
                    StructField("pick", LongType(), False),
                    StructField("vec_id", LongType(), True),
                    StructField("rel_e6", LongType(), True),
                    StructField("red_e6", LongType(), True),
                    StructField("mmr_e6x10", LongType(), True),
                ]
            )
            return small_df(
                spark, [tuple(int(v) for v in r) for r in rows], schema
            ).orderBy("pick")
    return _mmr_sequential(spark, rel)


def _mmr_sequential(spark: SparkSession, rel: DataFrame) -> DataFrame:
    """The r13 incremental-redundancy sequential loop — exact on any
    input; kept as the verification-mismatch fallback."""
    picked = (
        rel.orderBy(F.col("rel_e6").desc(), "vec_id")
        .limit(1)
        .select(
            F.lit(1).alias("pick"), "vec_id", "rel_e6", "embedding",
            F.lit(0).cast("long").alias("red_e6"),
        )
        .localCheckpoint(eager=False)
    )
    # Incremental redundancy (r13 opt): red_e6 at round k is the max
    # cosine against picks 1..k-1, and only ONE pick is added per round —
    # so carry red_e6 forward on the candidate table and fold the new
    # pick in with greatest(red, cos(·, new)). Each round is one Arrow
    # cosine pass against a 1-row broadcast + a TakeOrdered(1); the old
    # shape recomputed ALL picked cosines per round and paid a
    # per-round groupBy(vec_id) exchange. Emitted rows are identical
    # (red_e6 is still the value at pick time).
    cand = rel.join(picked.select("vec_id"), "vec_id", "left_anti").crossJoin(
        F.broadcast(picked.select(F.col("embedding").alias("se")))
    ).select(
        "vec_id",
        "rel_e6",
        "embedding",
        F.round(cosine(F.col("embedding"), F.col("se")) * 1000000)
        .cast("long")
        .alias("red_e6"),
    ).localCheckpoint(eager=False)
    for k in range(2, MMR_K + 1):
        nxt = (
            cand.orderBy(
                (7 * F.col("rel_e6") - 3 * F.col("red_e6")).desc(), "vec_id"
            )
            .limit(1)
            .select(F.lit(k).alias("pick"), "vec_id", "rel_e6", "embedding",
                    "red_e6")
            .localCheckpoint(eager=False)
        )
        picked = picked.unionByName(nxt)
        if k < MMR_K:
            cand = cand.join(
                nxt.select("vec_id"), "vec_id", "left_anti"
            ).crossJoin(
                F.broadcast(nxt.select(F.col("embedding").alias("se")))
            ).select(
                "vec_id",
                "rel_e6",
                "embedding",
                F.greatest(
                    "red_e6",
                    F.round(cosine(F.col("embedding"), F.col("se")) * 1000000)
                    .cast("long"),
                ).alias("red_e6"),
            ).localCheckpoint(eager=False)
    return picked.select(
        F.col("pick").cast("long"),
        "vec_id",
        "rel_e6",
        F.col("red_e6").cast("long"),
        (7 * F.col("rel_e6") - 3 * F.col("red_e6")).cast("long")
        .alias("mmr_e6x10"),
    ).orderBy("pick")


sim_mmr_diversify.__doc__ = sim_mmr_diversify.__doc__.format(k=MMR_K)


# --- simplified silhouette (r13) -------------------------------------------------
# Embedding-cluster quality for the SemDeDup/IVF substrate: the
# simplified silhouette (Hruschka et al.) replaces the O(n²) pairwise
# silhouette with centroid distances — a = d(point, own centroid),
# b = min over other centroids — making cluster QA a broadcast-join
# scan instead of a quadratic join. Per-point s = (b − a)/max(a, b) is
# computed from the module's bit-identical sequential-fold L2 doubles,
# e6-rounded PER POINT, then integer-averaged per cluster — the emitted
# relation is exact across engines and partitionings.

_SIL_SQL = f"""
WITH cents AS MATERIALIZED (
  SELECT vec_id AS cid, embedding AS ce FROM embeddings
  WHERE vec_id < {N_CENTROIDS}
), d AS (
  SELECT e.vec_id, c.cid,
         {_SQL_L2.format(a="e.embedding", b="c.ce")} AS d2
  FROM embeddings e CROSS JOIN cents c
  WHERE e.vec_id >= {N_CENTROIDS}
), ranked AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM d
), ab AS (
  SELECT a.vec_id, a.cid, a.d2 AS a2, b.d2 AS b2
  FROM ranked a JOIN ranked b
    ON b.vec_id = a.vec_id AND a.rn = 1 AND b.rn = 2
), sil AS (
  SELECT cid,
         CAST(round((sqrt(b2) - sqrt(a2))
                    / greatest(sqrt(a2), sqrt(b2)) * 1000000) AS BIGINT)
           AS s_e6
  FROM ab
)
SELECT CAST(cid AS BIGINT) AS cluster_id,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(s_e6) // count(*) AS BIGINT) AS mean_silhouette_e6
FROM sil GROUP BY cid ORDER BY cluster_id
"""


@_q("emb_simplified_silhouette", _SIL_SQL)
def emb_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette over the fixed first-{K}
    centroid assignment (the sim_ivf index layout): a = L2 to own
    (nearest) centroid, b = L2 to the runner-up, s = (b−a)/max(a,b)
    e6-rounded per point then integer-averaged.

    Scale: one Arrow L2 pass per point against the broadcast {K}-row
    centroid table (K·n distances — linear, never pairwise), a per-point
    top-2 WindowGroupLimit, and a K-row aggregate."""
    emb = _emb(spark, sf_dir)
    cents = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < N_CENTROIDS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("ce"))
    )
    d = (
        emb.filter(F.col("vec_id") >= N_CENTROIDS)
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "cid",
            _l2_pd()(F.col("embedding"), F.col("ce")).alias("d2"),
        )
    )
    wv = W.partitionBy("vec_id").orderBy("d2", "cid")
    ranked = d.withColumn("rn", F.row_number().over(wv)).filter(
        F.col("rn") <= 2
    )
    a = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "cid", F.col("d2").alias("a2")
    )
    b = ranked.filter(F.col("rn") == 2).select(
        "vec_id", F.col("d2").alias("b2")
    )
    sil = a.join(b, "vec_id").select(
        "cid",
        F.round(
            (F.sqrt("b2") - F.sqrt("a2"))
            / F.greatest(F.sqrt("a2"), F.sqrt("b2"))
            * 1000000
        ).cast("long").alias("s_e6"),
    )
    return (
        sil.groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.expr("CAST(sum(s_e6) div count(*) AS BIGINT)")
            .alias("mean_silhouette_e6"),
        )
        .select(
            F.col("cid").cast("long").alias("cluster_id"),
            "n_points",
            "mean_silhouette_e6",
        )
        .orderBy("cluster_id")
    )


emb_simplified_silhouette.__doc__ = emb_simplified_silhouette.__doc__.format(
    K=N_CENTROIDS
)


# --- PQ quantization distortion (r13) --------------------------------------------
# The index-quality audit for the sim_ivfpq path: per subspace, how much
# energy the 4-bit product quantizer destroys. Per point and subspace
# the distortion is the L2² to the NEAREST codeword (exactly what the
# encoder assigns); the relation reports per-subspace mean distortion,
# mean subvector energy, and their exact ratio — the number that tells
# you which subspaces need a bigger codebook before recall decays.
# Parity: sub-L2 doubles come from the module's sequential fold,
# e6-rounded per point, integer-averaged.

_PQD_SQL = f"""
WITH cb_src AS (
  SELECT vec_id AS k, embedding FROM embeddings WHERE vec_id < {PQ_K}
), sub AS (
  SELECT unnest(generate_series(0, {PQ_M - 1})) AS m
), cb AS MATERIALIZED (
  SELECT s.m, c.k,
         list_transform(generate_series(1, {PQ_SUBDIM}),
             i -> CAST(c.embedding[s.m * {PQ_SUBDIM} + i] AS DOUBLE)) AS cw
  FROM sub s CROSS JOIN cb_src c
), scored AS (
  SELECT e.vec_id, b.m,
         {_pq_sub_l2_sql('e.embedding', 'b.m', 'b.cw')} AS d2
  FROM embeddings e CROSS JOIN cb b
), dmin AS (
  SELECT vec_id, m, min(d2) AS d2 FROM scored GROUP BY 1, 2
), energy AS (
  SELECT e.vec_id, s.m,
         list_sum(list_transform(generate_series(1, {PQ_SUBDIM}), i ->
           CAST(e.embedding[s.m * {PQ_SUBDIM} + i] AS DOUBLE)
           * CAST(e.embedding[s.m * {PQ_SUBDIM} + i] AS DOUBLE))) AS en
  FROM embeddings e CROSS JOIN sub s
), j AS (
  SELECT d.m,
         CAST(round(d.d2 * 1000000) AS BIGINT) AS d_e6,
         CAST(round(en.en * 1000000) AS BIGINT) AS en_e6
  FROM dmin d JOIN energy en ON en.vec_id = d.vec_id AND en.m = d.m
)
SELECT CAST(m AS BIGINT) AS subspace,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(d_e6) // count(*) AS BIGINT) AS mean_distortion_e6,
       CAST(sum(en_e6) // count(*) AS BIGINT) AS mean_energy_e6,
       CAST(sum(d_e6) * 1000000 // sum(en_e6) AS BIGINT)
         AS rel_distortion_e6
FROM j GROUP BY m ORDER BY subspace
"""


@_q("emb_pq_distortion", _PQD_SQL)
def emb_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ distortion audit over the sim_ivfpq codebook
    (first {K} vectors per subspace): mean quantization L2², mean
    subvector energy, and their exact ratio in micros.

    Scale: one Arrow sub-L2 pass per point against the broadcast
    {M}·{K}-row codeword table (linear in corpus), a (vec, m) min
    groupBy (map-side combinable), and an {M}-row aggregate."""
    emb = _emb(spark, sf_dir)
    cb_src = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < PQ_K)
        .select("vec_id", "embedding")
    )
    sub = spark.range(PQ_M).select(F.col("id").cast("int").alias("m"))
    cb = (
        sub.crossJoin(cb_src)
        .select(
            "m",
            F.col("vec_id").alias("k"),
            F.expr(
                f"transform(slice(embedding, m * {PQ_SUBDIM} + 1, "
                f"{PQ_SUBDIM}), x -> CAST(x AS DOUBLE))"
            ).alias("cw"),
        )
    )
    scored = (
        emb.crossJoin(F.broadcast(cb))
        .select(
            "vec_id", "m",
            _l2_pd()(
                F.expr(f"slice(embedding, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"),
                F.col("cw"),
            ).alias("d2"),
        )
    )
    dmin = scored.groupBy("vec_id", "m").agg(F.min("d2").alias("d2"))
    zero = F.array(*[F.lit(0.0) for _ in range(PQ_SUBDIM)])
    energy = (
        emb.crossJoin(F.broadcast(sub))
        .select(
            "vec_id", "m",
            _l2_pd()(
                F.expr(f"slice(embedding, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"),
                zero,
            ).alias("en"),
        )
    )
    j = dmin.join(energy, ["vec_id", "m"]).select(
        "m",
        F.round(F.col("d2") * 1000000).cast("long").alias("d_e6"),
        F.round(F.col("en") * 1000000).cast("long").alias("en_e6"),
    )
    return (
        j.groupBy("m")
        .agg(
            F.count("*").cast("long").alias("n_points"),
            F.expr("CAST(sum(d_e6) div count(*) AS BIGINT)")
            .alias("mean_distortion_e6"),
            F.expr("CAST(sum(en_e6) div count(*) AS BIGINT)")
            .alias("mean_energy_e6"),
            F.expr("CAST(sum(d_e6) * 1000000 div sum(en_e6) AS BIGINT)")
            .alias("rel_distortion_e6"),
        )
        .select(
            F.col("m").cast("long").alias("subspace"),
            "n_points", "mean_distortion_e6", "mean_energy_e6",
            "rel_distortion_e6",
        )
        .orderBy("subspace")
    )


emb_pq_distortion.__doc__ = emb_pq_distortion.__doc__.format(K=PQ_K, M=PQ_M)


# --- int8 scalar-quantized retrieval recall (r13) ----------------------------
# emb_int8_quantize measures RECONSTRUCTION error; this measures what a
# serving system actually cares about: how much top-k RETRIEVAL quality
# survives searching in the quantized space.  Per-dimension asymmetric
# min/max quantization to 8-bit codes (the faiss SQ8 layout), exact
# integer L2 in BOTH spaces (inputs e6-quantized first, so the ground
# truth itself is engine-exact), recall@k per probe query.

SQ_NQ = 5          # probe queries (vec_id < SQ_NQ)
SQ_K = 10          # top-k depth
SQ_LEVELS = 255    # 8-bit code range

_SQ8_SQL = f"""
WITH dims AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) AS pos,
         unnest(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS xe
  FROM embeddings
), stats AS (
  SELECT pos, min(xe) AS mn, max(xe) AS mx FROM dims GROUP BY pos
), qd AS (
  SELECT d.vec_id, d.pos, d.xe,
         (d.xe - s.mn) * {SQ_LEVELS} // greatest(s.mx - s.mn, 1) AS qv
  FROM dims d JOIN stats s USING (pos)
), probe AS (
  SELECT * FROM qd WHERE vec_id < {SQ_NQ}
), exact AS (
  SELECT p.vec_id AS qid, d.vec_id,
         row_number() OVER (PARTITION BY p.vec_id
                            ORDER BY sum((p.xe - d.xe) * (p.xe - d.xe)),
                                     d.vec_id) AS rn
  FROM probe p JOIN qd d ON d.pos = p.pos AND d.vec_id <> p.vec_id
  GROUP BY p.vec_id, d.vec_id
), approx AS (
  SELECT p.vec_id AS qid, d.vec_id,
         row_number() OVER (PARTITION BY p.vec_id
                            ORDER BY sum((p.qv - d.qv) * (p.qv - d.qv)),
                                     d.vec_id) AS rn
  FROM probe p JOIN qd d ON d.pos = p.pos AND d.vec_id <> p.vec_id
  GROUP BY p.vec_id, d.vec_id
)
SELECT e.qid,
       CAST(count(a.vec_id) AS BIGINT) AS hits,
       CAST(count(a.vec_id) * 100 // {SQ_K} AS BIGINT) AS recall_pct
FROM exact e
LEFT JOIN approx a ON a.qid = e.qid AND a.vec_id = e.vec_id AND a.rn <= {SQ_K}
WHERE e.rn <= {SQ_K}
GROUP BY e.qid ORDER BY e.qid
"""


@_q("sim_int8_recall", _SQ8_SQL)
def sim_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{k} of int8 per-dimension min/max quantized L2 search vs
    the exact top-{k}, over {nq} probe queries.  Both spaces are exact
    integers (inputs e6-quantized before any distance), so ground truth
    and approximation are engine-exact and the recall is a hard number,
    not a float coincidence.

    Scale: the per-dim min/max table is {dim} rows (broadcast); probes
    are fixed-{nq}, so the distance joins are O(nq * n * d) row-space —
    the same budget as sim_topk_bruteforce, which is the point: this op
    AUDITS the quantizer on a probe sample; production search runs on
    the codes with 4x less memory traffic.  Top-k per probe rides
    WindowGroupLimit ({k}-row state below the exchange)."""
    emb = _emb(spark, sf_dir)
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "x")
    ).select(
        "vec_id", (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("xe"),
    )
    stats = dims.groupBy("pos").agg(
        F.min("xe").alias("mn"), F.max("xe").alias("mx")
    )
    qd = dims.join(F.broadcast(stats), "pos").select(
        "vec_id", "pos", "xe",
        F.expr(
            f"(xe - mn) * {SQ_LEVELS} div greatest(mx - mn, 1L)"
        ).alias("qv"),
    )
    probe = qd.filter(F.col("vec_id") < SQ_NQ).select(
        F.col("vec_id").alias("qid"), "pos",
        F.col("xe").alias("pxe"), F.col("qv").alias("pqv"),
    )
    pairs = probe.join(qd, "pos").filter(F.col("vec_id") != F.col("qid"))
    scored = pairs.groupBy("qid", "vec_id").agg(
        F.sum((F.col("pxe") - F.col("xe")) * (F.col("pxe") - F.col("xe")))
        .alias("d_exact"),
        F.sum((F.col("pqv") - F.col("qv")) * (F.col("pqv") - F.col("qv")))
        .alias("d_q"),
    )
    we = W.partitionBy("qid").orderBy("d_exact", "vec_id")
    wq = W.partitionBy("qid").orderBy("d_q", "vec_id")
    exact = scored.withColumn("rn", F.row_number().over(we)).filter(
        F.col("rn") <= SQ_K
    ).select("qid", "vec_id")
    approx = scored.withColumn("rn", F.row_number().over(wq)).filter(
        F.col("rn") <= SQ_K
    ).select(F.col("qid").alias("aqid"), F.col("vec_id").alias("avid"))
    return (
        exact.join(
            approx,
            (exact["qid"] == approx["aqid"])
            & (exact["vec_id"] == approx["avid"]),
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count("avid").cast("long").alias("hits"),
            F.expr(f"CAST(count(avid) * 100 div {SQ_K} AS BIGINT)")
            .alias("recall_pct"),
        )
        .orderBy("qid")
    )


sim_int8_recall.__doc__ = sim_int8_recall.__doc__.format(
    k=SQ_K, nq=SQ_NQ, dim=DIM
)
