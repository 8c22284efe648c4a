"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Training-data-pipeline dedup (BASELINE.json north-star) designed for
100 TB:

* **exact** — hash-groupBy on md5(text): one shuffle on a 128-bit key,
  map-side partial agg; at cluster scale this is the canonical dedup.
* **ngram_jaccard** — blocked pairwise verification: candidate pairs are
  restricted by a deterministic blocking key (lang + first-2-words), so the
  self-join is an equi-join on the block key (shuffle co-partitions both
  sides; no O(n²) cross join ever materializes globally — only within
  blocks, which is the LSH-bucket pattern).
* **minhash_lsh** — real MinHash (16 permutations) + banded LSH (4 bands ×
  4 rows) with a *portable* shingle hash (the 50-bit rolling hash from
  operators/text.py, pure integer math) so the whole pipeline — shingle →
  minhash → band → bucket-join → verify — is reproduced exactly by the
  DuckDB oracle. At scale each stage is a projection; the only shuffle is
  the band-bucket equi-join.
* **simhash** — 16-bit sign-sum fingerprint over token hashes, grouped to
  find colliding docs; same portable hash, fully oracle-checked.
* **cluster** — connected components over the LSH pair list (min-label
  propagation; DuckDB recursive-CTE transitive-closure oracle) — one
  representative per near-dup component.
* **pagerank** — fixed-point integer Jacobi PageRank (bit-deterministic
  at any partitioning; unrolled-CTE oracle) over the supply bipartite
  graph — the iterative-graph-algorithm primitive next to the CC loop.

Every CPU-heavy stage over the raw corpus (the MinHash signature UDF,
the SimHash explode) reads it through ``catalog.fanout``, the engine's
one rule for spreading a narrow scan across the cores.

The reference has no near-dup machinery (nothing comparable exists in
/root/reference — checked); these are the extension operators the project
brief adds on top of Presto parity.

An entry whose oracle text runs on Spark with the oracle's rows is that
text, registered by ``engine.sql_entry``, unless a ``Kept port`` comment
above its port names the keep-rule that holds; an unmarked port holds a
text that does not (keep-rule 1, see :mod:`presto_db_spark.registry`).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import fanout, load_table
from ..engine import sql_entry
from ..registry import family

QUERIES, ORACLE, _q = family()

MOD50 = 2**50  # rolling-hash modulus (see operators/text.py)
MERSENNE31 = 2**31 - 1  # minhash permutation modulus

# Deterministic permutation parameters (a*h + b) % p — explicit literals so
# the oracle SQL embeds the same numbers.
MINHASH_PERMS = [(2 * k + 1, 12289 * (k + 1) % MERSENNE31) for k in range(16)]
N_BANDS, ROWS_PER_BAND = 4, 4


def _shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string>."""
    words = F.split(F.trim(col), r"\s+")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(words, i, n), " "),
    )
    return F.array_distinct(grams)


def _roll_hash(col: Column) -> Column:
    """Portable 50-bit rolling hash of a string (same math as DuckDB oracle)."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda h, ch: (h * 31 + F.coalesce(F.ascii(ch), F.lit(0))) % F.lit(MOD50).cast("long"),
    )


# DuckDB equivalents of the two helpers above, as SQL fragments.
_SQL_ROLL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), "
    "list_transform(string_split({s}, ''), ch -> CAST(coalesce(ascii(ch), 0) AS BIGINT))), "
    f"(h, c) -> (h * 31 + c) % {MOD50})"
)
_SQL_SHINGLES = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len(string_split_regex(trim({t}), '\\s+')) - 2, 1)), "
    "i -> array_to_string(string_split_regex(trim({t}), '\\s+')[i:i+2], ' ')))"
)


# --- exact dedup ------------------------------------------------------------

sql_entry(
    _q, "dedup_exact",
    """
WITH hashed AS (
  SELECT doc_id, md5(text) AS h FROM documents
)
SELECT h, CAST(count(*) AS BIGINT) AS n_copies, min(doc_id) AS keep_id
FROM hashed GROUP BY h
""",
)


# --- n-gram Jaccard near-dup (blocked pairwise) ----------------------------

# Per-block cap: real corpora concentrate on common openers ("the …"), so an
# uncapped (lang, first-2-words) block is O(n²) in the mega-block. Keep the
# BLOCK_CAP smallest doc_ids per block (deterministic) → worst case
# O(blocks · BLOCK_CAP²) candidate pairs.
BLOCK_CAP = 64

_JACCARD_SQL = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, lang,
         array_to_string(string_split_regex(trim(text), '\\s+')[1:2], ' ') AS blk,
         {{shingles}} AS grams
  FROM documents
  QUALIFY row_number() OVER (PARTITION BY lang, blk ORDER BY doc_id) <= {BLOCK_CAP}
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 6)
         AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= 0.5
""".format(shingles=_SQL_SHINGLES.format(t="text"))


@_q("dedup_ngram_jaccard", _JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise n-gram Jaccard with a hard per-block cap.

    Block key = (lang, first-2-words); real corpora concentrate on common
    openers, so blocks are capped at BLOCK_CAP docs (smallest doc_ids kept —
    deterministic, oracle-matched). Worst-case candidate pairs =
    O(blocks · BLOCK_CAP²) instead of O(max_block²); for unbounded recall use
    dedup_minhash_lsh, whose banded candidates don't have hot blocks."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        "lang",
        F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 2), " ").alias("blk"),
        _shingles(F.col("text")).alias("grams"),
    )
    cap_w = W.partitionBy("lang", "blk").orderBy("doc_id")
    sh = (
        sh.withColumn("_rn", F.row_number().over(cap_w))
        .filter(F.col("_rn") <= BLOCK_CAP)
        .drop("_rn")
    )
    a = sh.select(
        F.col("doc_id").alias("id_a"),
        F.col("lang").alias("lang_a"),
        F.col("blk").alias("blk_a"),
        F.col("grams").alias("grams_a"),
    )
    b = sh.select(
        F.col("doc_id").alias("id_b"),
        F.col("lang").alias("lang_b"),
        F.col("blk").alias("blk_b"),
        F.col("grams").alias("grams_b"),
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size("grams_a") + F.size("grams_b") - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("blk_a") == F.col("blk_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(jac >= 0.5)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# --- MinHash + banded LSH (portable hash → fully oracle-checked) -----------

def _band_expr(prefix: str, band: int) -> Column:
    cols = [
        F.col(f"{prefix}mh{band * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)
    ]
    return F.concat_ws("_", *[c.cast("string") for c in cols])


_MH_PERM_SQL = ", ".join(
    f"list_min(list_transform(hs, x -> ({a} * x + {b}) % {MERSENNE31})) AS mh{k}"
    for k, (a, b) in enumerate(MINHASH_PERMS)
)
_MH_BANDS_SQL = ", ".join(
    "concat_ws('_', "
    + ", ".join(
        f"CAST(mh{band * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
    )
    + f") AS band{band}"
    for band in range(N_BANDS)
)

# Shingle hash = composition of per-word hashes: each word is char-hashed
# ONCE, then 3-word shingles combine word hashes with integer math — ~9×
# less char work than hashing every shingle string (a word appears in ~3
# shingles of ~3 words each). B is any constant; all intermediates < 2^63.
WORD_COMBINE = 1000003

_MINHASH_SQL = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS words,
         list_transform(words, w -> {_SQL_ROLL.format(s="w")} % {MERSENNE31}) AS wh,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> array_to_string(words[i:i+2], ' '))) AS grams,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> ((coalesce(wh[i], 0) * {WORD_COMBINE} + coalesce(wh[i+1], 0))
                   % {MERSENNE31} * {WORD_COMBINE} + coalesce(wh[i+2], 0))
                  % {MERSENNE31})) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, grams, {_MH_PERM_SQL} FROM sh
), banded AS MATERIALIZED (
  SELECT doc_id, grams, {_MH_BANDS_SQL} FROM sigs
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.grams AS ga, b.grams AS gb
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id
   AND (a.band0 = b.band0 OR a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3)
)
SELECT id_a, id_b,
       round(CAST(len(list_intersect(ga, gb)) AS DOUBLE)
             / (len(ga) + len(gb) - len(list_intersect(ga, gb))), 6) AS jaccard
FROM pairs
WHERE CAST(len(list_intersect(ga, gb)) AS DOUBLE)
      / (len(ga) + len(gb) - len(list_intersect(ga, gb))) >= 0.4
"""


_MINHASH_MH_UDF = None
_MINHASH_GRAMS_UDF = None


def _minhash_mh_pd():
    """Lazily-built pandas UDF (the decorator needs an active session)."""
    global _MINHASH_MH_UDF
    if _MINHASH_MH_UDF is None:
        _MINHASH_MH_UDF = F.pandas_udf(_minhash_mh_impl, "array<long>")
    return _MINHASH_MH_UDF


def _minhash_grams_pd():
    global _MINHASH_GRAMS_UDF
    if _MINHASH_GRAMS_UDF is None:
        _MINHASH_GRAMS_UDF = F.pandas_udf(_minhash_grams_impl, "array<string>")
    return _MINHASH_GRAMS_UDF


# Worker-process-global word-hash memo: vocabulary repeats across batches
# and tasks (Heaps' law), and the hash is pure, so caching across the
# worker's lifetime is safe. Capped so a worker that sees an unbounded
# vocabulary (100 TB corpus) cannot grow the dict without limit.
_WHASH_MEMO: dict[str, int] = {}
_WHASH_MEMO_CAP = 1 << 20

_WS_SPLIT = re.compile(r"\s+", re.ASCII)


def _whash(w: str) -> int:
    h = _WHASH_MEMO.get(w)
    if h is None:
        h = 0
        for ch in w:
            h = (h * 31 + ord(ch)) % MOD50
        h %= MERSENNE31
        if len(_WHASH_MEMO) < _WHASH_MEMO_CAP:
            _WHASH_MEMO[w] = h
    return h


def _minhash_mh_impl(texts):
    """text → 16 minhash values, Arrow-batched.

    Exactly the oracle SQL's math (parity is exact): per-word 50-bit
    rolling hash in Python ints (memoized per worker), then the 3-word
    shingle composition AND the 16 affine permutation minima fully
    vectorized in int64 numpy — wh < 2^31 and WORD_COMBINE < 2^20 keep
    every intermediate under 2^52, and a < 2^6 keeps a*x+b under 2^38:
    no overflow, bit-identical to the scalar loop. Out-of-range word
    hashes contribute 0 via the zero padding, matching the SQL's
    coalesce(wh[i], 0) for docs shorter than 3 words.

    The oracle's list_distinct is deliberately NOT replicated here: the
    minimum of an affine permutation over a multiset equals the minimum
    over its distinct support, so deduplicating shingle hashes before the
    min is algebraically dead — skipping it removes the per-shingle
    Python dict pass (r09 profile: the signature stage was ~half the
    query) without moving a single output bit.

    Deliberately does NOT emit the gram strings: the signature stage stays
    narrow (doc_id + 16 longs) for the band shuffle; grams are computed
    separately on the candidate subset only."""
    import numpy as np
    import pandas as pd

    perm_a = np.array([a for a, _ in MINHASH_PERMS], dtype=np.int64).reshape(-1, 1)
    perm_b = np.array([b for _, b in MINHASH_PERMS], dtype=np.int64).reshape(-1, 1)
    out_mh = []
    for text in texts:
        words = _WS_SPLIT.split((text or "").strip(" "))
        n = max(len(words) - 2, 1)
        wh = np.zeros(n + 2, dtype=np.int64)  # zero pad == coalesce(wh[i], 0)
        for i, w in enumerate(words):
            wh[i] = _whash(w)
        hs = (wh[0:n] * WORD_COMBINE + wh[1 : n + 1]) % MERSENNE31
        hs = (hs * WORD_COMBINE + wh[2 : n + 2]) % MERSENNE31
        out_mh.append(((perm_a * hs + perm_b) % MERSENNE31).min(axis=1).tolist())
    return pd.Series(out_mh)


def _minhash_grams_impl(texts):
    """text → distinct 3-gram shingle strings (first-occurrence order,
    matching list_distinct). Runs only on LSH candidate docs — a tiny
    semi-joined subset — never the full corpus."""
    import pandas as pd

    out_grams = []
    for text in texts:
        words = _WS_SPLIT.split((text or "").strip(" "))
        n = max(len(words) - 2, 1)
        out_grams.append(list(dict.fromkeys(" ".join(words[i : i + 3]) for i in range(n))))
    return pd.Series(out_grams)


@_q("dedup_minhash_lsh", _MINHASH_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-minimal banded LSH.

    Scale design (the part that matters at 100 TB):
    * char-level hashing happens ONCE PER WORD (``wh`` column); shingle
      hashes are integer compositions of word hashes — ~9× less char work
      than hashing every shingle string, and the 16 permutations read the
      materialized ``hs`` instead of re-hashing (16× on top);
    * only narrow ``(doc_id, band_id, bkey)`` rows enter the self-join —
      the shingle arrays never ride through the band shuffle;
    * candidate pairs are deduped as scalar ``(id_a, id_b)`` BEFORE the
      arrays are fetched back by key for Jaccard verification.
    """
    # Signature stage = ONE Arrow-batched pandas UDF (text → 16 minhashes).
    # Pure integer math identical to the oracle SQL, so parity is exact.
    # Rationale for leaving the JVM here: the equivalent higher-order
    # expressions (per-char aggregate + 16 transform passes) are
    # CodegenFallback — interpreted, boxed, and measured to destabilize
    # the whole session under JIT profile pollution (0.6 s ↔ 40 s swings on
    # identical plans). The UDF batches via Arrow, memoizes word hashes per
    # worker (vocabulary repeats heavily — Heaps' law — so the per-char work
    # collapses to the corpus's distinct words), and is shuffle-free.

    raw_docs = load_table(spark, sf_dir, "documents")
    # The signature UDF is CPU-bound: make sure it runs with real
    # parallelism (catalog.fanout).
    docs = fanout(raw_docs, "doc_id")
    # The full-corpus signature is NARROW (doc_id + 16 longs ≈ 140 B/doc)
    # and fans into both sides of the band self-join. ReuseExchange cannot
    # be relied on here — AQE turns the self-join into a broadcast join, so
    # there is no pair of identical shuffle exchanges to reuse, and the UDF
    # stage re-executes per consumer (measured 4× in the r04 executed
    # plan). A lazy localCheckpoint cuts the lineage ONCE: the UDF runs a
    # single time when the blocks materialize, every consumer reads the
    # stored narrow rows (measured cheaper than a columnar persist for
    # this row-shape), and the blocks are reclaimed by ContextCleaner when
    # the frame is released. ~140 B/doc means even 10^10 docs store ~1.4 TB
    # across a 1000-executor cluster — MEMORY_AND_DISK-safe.
    sig_mh = (
        docs.select("doc_id", _minhash_mh_pd()(F.col("text")).alias("mh"))
        .select(
            "doc_id",
            *[F.col("mh").getItem(k).alias(f"mh{k}") for k in range(len(MINHASH_PERMS))],
        )
        .localCheckpoint(eager=False)
    )
    # Narrow band table: one shuffle of ~(8B + 8B + ~40B) rows per band.
    bands = sig_mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band_id"), _band_expr("", bi).alias("bkey"))
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.bkey").alias("bkey"))

    # `pairs` is itself a diamond: it feeds BOTH the candidate-id fetch and
    # the final verification join. Materialize it too (it is tiny — two
    # longs per near-dup candidate pair, proportional to the dup rate, not
    # the corpus) or the whole band join re-executes per consumer. A lazy
    # localCheckpoint (like sig_mh/cand_grams) beats the earlier tracked
    # persist(): no columnar cache build, no unpersist bookkeeping —
    # ContextCleaner reclaims the blocks when the frame is released
    # (measured ~0.2-0.4 s at sf0.1).
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Gram strings (the heavy column) are computed ONLY for candidate docs:
    # semi-join the corpus down to ids that appear in some pair, then run
    # the cheap grams UDF on that small subset. At 100 TB the candidate set
    # is proportional to the near-dup rate, not the corpus. The semi-join
    # reads the RAW scan (not the repartitioned frame): the id set is small
    # → AQE broadcasts it, so no text ever shuffles for this path.
    # NO .distinct() here: the left-semi broadcast build collapses duplicate
    # keys into its hash set anyway, so a pre-distinct is a pure extra
    # shuffle (measured ~0.1-0.2 s at sf0.1, nothing saved at any scale).
    cand_ids = pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
    # The grams frame fans into BOTH sides of the pair join (ga/gb); a
    # lazy localCheckpoint runs the semi-join + grams UDF once and lets
    # both consumers read the stored rows (same rationale as sig_mh —
    # measured ~0.25 s at sf0.1, and at scale it halves the candidate
    # text decode).
    cand_grams = (
        raw_docs.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", _minhash_grams_pd()(F.col("text")).alias("grams"))
        .localCheckpoint(eager=False)
    )
    ga = cand_grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga"))
    gb = cand_grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb"))
    cand = pairs.join(ga, "id_a").join(gb, "id_b")
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size("ga") + F.size("gb") - inter
    jac = inter.cast("double") / union
    return cand.filter(jac >= 0.4).select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))


# --- SimHash (16-bit, portable) --------------------------------------------

_SIMHASH_BITSUMS = ", ".join(
    f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(16)
)
_SIMHASH_COMBINE = " + ".join(f"(CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END)" for b in range(16))

_SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
  FROM documents
), th AS (
  SELECT doc_id, {_SQL_ROLL.format(s="t")} % 65536 AS th FROM tok
), bits AS (
  SELECT doc_id, {_SIMHASH_BITSUMS} FROM th GROUP BY doc_id
), sig AS (
  SELECT doc_id, CAST({_SIMHASH_COMBINE} AS BIGINT) AS simhash FROM bits
)
SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS keep_id
FROM sig GROUP BY simhash
"""


@_q("dedup_simhash", _SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("t"),
    )
    th = tok.select("doc_id", (_roll_hash(F.col("t")) % 65536).alias("th"))
    bitsums = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(16)
        ]
    )
    combine = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        combine = term if combine is None else combine + term
    sig = bitsums.select("doc_id", combine.cast("long").alias("simhash"))
    return sig.groupBy("simhash").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id")
    )


# --- connected-components cluster assignment over the LSH pairs ------------

MAX_CC_ITERS = 20

_CLUSTER_SQL = f"""
WITH RECURSIVE pb AS MATERIALIZED ({_MINHASH_SQL}
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pb
  UNION
  SELECT id_b, id_a FROM pb
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach(node, v) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.v
)
SELECT node AS doc_id, min(v) AS cluster_id, (min(v) = node) AS is_keep
FROM reach GROUP BY node ORDER BY doc_id
"""


@_q("dedup_cluster", _CLUSTER_SQL)
def dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS from the MinHash-LSH pair list.

    Pair detection (dedup_minhash_lsh) yields edges; a training-corpus
    dedup needs the transitive closure — one representative per connected
    component (keep ``min(doc_id)``, drop the rest).  Implemented as
    distributed min-label propagation:

    * iteration = one equi-join (edges ⋈ labels on dst) + one min-groupBy
      — both shuffle on doc_id, no global structure on the driver;
    * converges in O(component diameter) rounds; near-dup clusters are
      small and dense, so diameter is tiny (the 100 TB-scale alternative,
      large-star/small-star, halves path lengths per round for the rare
      giant component — same join/groupBy primitives, swap-in compatible);
    * per-round ``localCheckpoint`` cuts the growing lineage exactly the
      way iterative graph algorithms on Spark must (GraphFrames' CC does
      the same); the convergence probe is a LIMIT-1 count, not a collect;
    * the driver holds only the loop counter — label state never leaves
      the cluster.

    Oracle: DuckDB ``WITH RECURSIVE`` transitive closure over the SAME
    pair SQL, labeling each node with ``min`` over its reachable set —
    the declarative fixpoint the iterative join computes.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    edges = (
        pairs.union(pairs.select(F.col("id_b"), F.col("id_a")))
        .toDF("src", "dst")
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=False)
    )
    for _ in range(MAX_CC_ITERS):
        msgs = edges.join(labels, edges.dst == labels.node).select(
            edges.src.alias("node"), "label"
        )
        # Each node's OWN row carries its previous label through the min-agg
        # (messages carry NULL), so convergence is read off the aggregated
        # frame itself — no second join per round. Labels only decrease, so
        # `label < old` detects any change.
        merged = labels.select(
            "node", "label", F.col("label").alias("old")
        ).unionByName(msgs.withColumn("old", F.lit(None).cast("long")))
        new_labels = (
            merged.groupBy("node")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
            # r13 opt: lazy — the convergence probe materializes the
            # pin (partitions the LIMIT-1 probe skips are completed by
            # the checkpoint's fill-in pass); one job per round removed
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") < F.col("old")).limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keep"),
    ).orderBy("doc_id")


# --- PageRank (integer-deterministic, supply bipartite graph) --------------

PR_ITERS = 5
PR_SCALE = 10**12  # fixed-point rank quantum — all arithmetic stays integer
PR_SUPP_OFFSET = 10**7  # supplier node ids live above the part-key space
PR_NSUPP = 8


def _pr_iter_sql(prev: str, out: str) -> str:
    # sum(BIGINT) is HUGEINT in DuckDB — CAST back so rank never decays to
    # float64 in the driver's pandas canonicalization.
    return f"""{out} AS (
  SELECT e.dst AS node,
         CAST((15 * {PR_SCALE}) // 100 + (85 * sum(r.rank // d.deg)) // 100
              AS BIGINT) AS rank
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN deg d ON d.node = e.src
  GROUP BY e.dst
)"""


_PAGERANK_SQL = (
    f"""
WITH pb AS (
  SELECT DISTINCT CAST(l_suppkey + {PR_SUPP_OFFSET} AS BIGINT) AS s,
         CAST(l_partkey AS BIGINT) AS p
  FROM lineitem WHERE l_suppkey < {PR_NSUPP}
), edges AS (
  SELECT s AS src, p AS dst FROM pb
  UNION ALL
  SELECT p, s FROM pb
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg
), """
    + ", ".join(_pr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS))
    + f"""
SELECT node AS node_id, rank AS rank_e12
FROM r{PR_ITERS} ORDER BY node_id
"""
)


@_q("rank_pagerank", _PAGERANK_SQL)
def rank_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier↔part bipartite graph (suppliers are hub
    nodes with ~500 edges, parts have 1-{PR_NSUPP} — real degree variance,
    so the ranks genuinely separate). The iterative-algorithm determinism
    story:

    * ranks are FIXED-POINT integers (quantum 10⁻¹²); each Jacobi
      iteration is ``rank' = ⌊15·S/100⌋ + ⌊85·Σ⌊rank/deg⌋/100⌋`` — every
      operation is int64 (sums commute exactly), so five iterations
      produce bit-identical ranks at ANY partitioning, engine, or scale —
      the same technique as sim_ivf_kmeans' quantized centroid means;
    * per iteration: one equi-join (edges ⋈ ranks) + one sum-groupBy —
      the CC/k-means primitive pair; edges and degrees are checkpointed
      once; no driver-side graph state, no convergence probe (fixed
      Jacobi sweep).

    Oracle: the five iterations unrolled as chained CTEs over the same
    edge list."""
    (li,) = _t_li(spark, sf_dir)
    pb = (
        li.filter(F.col("l_suppkey") < PR_NSUPP)
        .select(
            (F.col("l_suppkey") + PR_SUPP_OFFSET).cast("long").alias("s"),
            F.col("l_partkey").cast("long").alias("p"),
        )
        .distinct()
    )
    edges = (
        pb.select(F.col("s").alias("src"), F.col("p").alias("dst"))
        .unionByName(pb.select(F.col("p").alias("src"), F.col("s").alias("dst")))
        .localCheckpoint(eager=False)
    )
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("deg"))
        .localCheckpoint(eager=False)
    )
    ranks = deg.select("node", F.lit(PR_SCALE).cast("long").alias("rank"))
    base = F.lit(15 * PR_SCALE // 100).cast("long")
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .join(deg.withColumnRenamed("node", "dnode"), F.col("src") == F.col("dnode"))
            .select(
                F.col("dst").alias("node"),
                # integer floor division (Spark `div`), NOT double `/` +
                # cast — a double quotient can round up across an integer
                # before truncation, diverging from the oracle's `//`
                F.expr("rank div deg").alias("c"),
            )
        )
        ranks = contrib.groupBy("node").agg(
            (base + F.expr("(85 * sum(c)) div 100")).cast("long").alias("rank")
        )
    return ranks.select(
        F.col("node").alias("node_id"), F.col("rank").alias("rank_e12")
    ).orderBy("node_id")


def _t_li(spark: SparkSession, sf_dir: str):
    return [load_table(spark, sf_dir, "lineitem")]


# --- cross-document substring-span dedup ------------------------------------
#
# Position-level exact substring duplication (the suffix-array dedup of
# "Deduplicating Training Data Makes Language Models Better", Lee et al.
# 2022, re-expressed as a Spark shuffle pipeline): every W_SUB-token
# sliding window is hashed; a window whose hash occurs in >= 2 DISTINCT
# documents is a duplicated span. Per document we report how much of it is
# covered by cross-document duplicated spans — the signal the suffix-array
# method thresholds to cut spans out of training data.
#
# 100 TB shape: window rows ~= corpus token count, but each stage is
# narrow — (1) map-side window explode (no shuffle), (2) partial-agg
# groupBy (h, doc_id), (3) one window count over h (shuffle on h), (4)
# groupBy doc_id (shuffle on doc_id). No joins, no driver state; the md5
# key spreads uniformly so there is no skew. A doc shorter than W_SUB
# tokens has no windows and drops out (both engines agree).

W_SUB = 8  # tokens per window

_SUBSTR_SQL = f"""
WITH win AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(
           string_split_regex(trim(text), '\\s+')[i:i+{W_SUB - 1}], ' ')) AS h
  FROM documents,
       LATERAL unnest(generate_series(1,
         greatest(len(string_split_regex(trim(text), '\\s+')) - {W_SUB - 1}, 0)
       )) AS t(i)
), g AS (
  SELECT h, doc_id, count(*) AS c, min(pos) AS mp FROM win GROUP BY h, doc_id
), d AS (
  SELECT h, doc_id, c, mp, count(*) OVER (PARTITION BY h) AS nd FROM g
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_windows,
       round(CAST(sum(CASE WHEN nd >= 2 THEN c ELSE 0 END) AS DOUBLE)
             / sum(c), 6) AS dup_frac,
       min(CASE WHEN nd >= 2 THEN mp END) AS first_dup_pos
FROM d GROUP BY doc_id ORDER BY doc_id
"""


@_q("dedup_substring_spans", _SUBSTR_SQL)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.col("text")), r"\s+")
    windows = F.when(
        F.size(ws) >= W_SUB,
        F.transform(
            F.sequence(F.lit(1), F.size(ws) - (W_SUB - 1)),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.md5(
                    F.array_join(F.slice(ws, i, W_SUB), " ").cast("binary")
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos: bigint, h: string>>"))
    win = docs.select("doc_id", F.explode(windows).alias("w")).select(
        "doc_id", F.col("w.pos").alias("pos"), F.col("w.h").alias("h")
    )
    g = win.groupBy("h", "doc_id").agg(
        F.count("*").alias("c"), F.min("pos").alias("mp")
    )
    d = g.withColumn("nd", F.count("*").over(W.partitionBy("h")))
    dup_c = F.when(F.col("nd") >= 2, F.col("c")).otherwise(F.lit(0))
    return (
        d.groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_windows"),
            F.sum(dup_c).cast("long").alias("n_dup_windows"),
            F.round(
                F.sum(dup_c).cast("double") / F.sum("c"), 6
            ).alias("dup_frac"),
            F.min(F.when(F.col("nd") >= 2, F.col("mp"))).alias("first_dup_pos"),
        )
        .orderBy("doc_id")
    )


# --- Incremental dedup: incoming batch vs existing corpus -------------------

INC_MOD = 5  # doc_id % INC_MOD == 0 plays the "incoming batch" role
INC_JACCARD = 0.4

_INC_SQL = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id, doc_id % {INC_MOD} = 0 AS incoming,
         string_split_regex(trim(text), '\\s+') AS words,
         list_transform(words, w -> {_SQL_ROLL.format(s="w")} % {MERSENNE31}) AS wh,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> array_to_string(words[i:i+2], ' '))) AS grams,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> ((coalesce(wh[i], 0) * {WORD_COMBINE} + coalesce(wh[i+1], 0))
                   % {MERSENNE31} * {WORD_COMBINE} + coalesce(wh[i+2], 0))
                  % {MERSENNE31})) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, incoming, grams, {_MH_PERM_SQL} FROM sh
), banded AS MATERIALIZED (
  SELECT doc_id, incoming, grams, {_MH_BANDS_SQL} FROM sigs
), pairs AS (
  SELECT DISTINCT i.doc_id AS inc_id, x.doc_id AS ex_id,
         i.grams AS gi, x.grams AS gx
  FROM banded i JOIN banded x
    ON i.incoming AND NOT x.incoming
   AND (i.band0 = x.band0 OR i.band1 = x.band1 OR i.band2 = x.band2 OR i.band3 = x.band3)
), verified AS (
  SELECT inc_id, ex_id,
         round(CAST(len(list_intersect(gi, gx)) AS DOUBLE)
               / (len(gi) + len(gx) - len(list_intersect(gi, gx))), 6) AS jaccard
  FROM pairs
  WHERE CAST(len(list_intersect(gi, gx)) AS DOUBLE)
        / (len(gi) + len(gx) - len(list_intersect(gi, gx))) >= {INC_JACCARD}
), ranked AS (
  SELECT inc_id, ex_id, jaccard,
         count(*) OVER (PARTITION BY inc_id) AS n_matches,
         row_number() OVER (PARTITION BY inc_id ORDER BY jaccard DESC, ex_id) AS rn
  FROM verified
), best AS (
  SELECT inc_id, CAST(n_matches AS BIGINT) AS n_near_dups,
         ex_id AS best_match_id, jaccard AS best_jaccard
  FROM ranked WHERE rn = 1
)
SELECT d.doc_id, coalesce(b.n_near_dups, 0) > 0 AS is_dup,
       coalesce(b.n_near_dups, 0) AS n_near_dups,
       b.best_match_id, b.best_jaccard
FROM documents d LEFT JOIN best b ON b.inc_id = d.doc_id
WHERE d.doc_id % {INC_MOD} = 0
"""


@_q("dedup_incremental", _INC_SQL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingestion dedup: screen an INCOMING batch against the
    EXISTING corpus (the shape every production crawl pipeline runs per
    snapshot — only ``dedup_minhash_lsh``'s within-corpus self-join is in
    the literature-standard toolkit, but ingestion dedups new data
    against the accumulated index instead).

    Reuses the banded-MinHash machinery: per-word rolling hashes, 16
    affine permutations, 4×4 bands. The structural difference from the
    self-join is the ASYMMETRY, and that is exactly what makes it scale:

    * the existing corpus contributes only its NARROW signature rows
      (doc_id + 16 longs) — at 100 TB these are a precomputed, persisted
      "index" table (~140 B/doc) that never re-reads existing text;
    * the band join is incoming × existing, so its output is bounded by
      the incoming batch's dup rate; AQE broadcasts the (small) incoming
      band side and the existing signatures never shuffle;
    * gram verification re-reads text ONLY for candidate ids on both
      sides (left-semi broadcast), proportional to the candidate count.

    Verdict per incoming doc: near-dup or novel, with the strongest
    existing match (max Jaccard, ties to the smallest existing id)."""
    raw_docs = load_table(spark, sf_dir, "documents")
    is_inc = (F.col("doc_id") % INC_MOD) == 0
    docs = fanout(raw_docs, "doc_id")

    # ONE signature pass over all docs (production: existing signatures are
    # read from the persisted index; here both sides derive from the same
    # table so one UDF execution, lineage-cut, feeds both band sides).
    sig_mh = (
        docs.select(
            "doc_id", is_inc.alias("incoming"),
            _minhash_mh_pd()(F.col("text")).alias("mh"),
        )
        .select(
            "doc_id", "incoming",
            *[F.col("mh").getItem(k).alias(f"mh{k}") for k in range(len(MINHASH_PERMS))],
        )
        .localCheckpoint(eager=False)
    )
    bands = sig_mh.select(
        "doc_id", "incoming",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band_id"), _band_expr("", bi).alias("bkey"))
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select(
        "doc_id", "incoming",
        F.col("bb.band_id").alias("band_id"), F.col("bb.bkey").alias("bkey"),
    )
    pairs = (
        bands.filter("incoming").alias("i")
        .join(
            bands.filter("NOT incoming").alias("x"),
            (F.col("i.band_id") == F.col("x.band_id"))
            & (F.col("i.bkey") == F.col("x.bkey")),
        )
        .select(F.col("i.doc_id").alias("inc_id"), F.col("x.doc_id").alias("ex_id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_ids = pairs.select(F.explode(F.array("inc_id", "ex_id")).alias("doc_id"))
    cand_grams = (
        raw_docs.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", _minhash_grams_pd()(F.col("text")).alias("grams"))
        .localCheckpoint(eager=False)
    )
    gi = cand_grams.select(F.col("doc_id").alias("inc_id"), F.col("grams").alias("gi"))
    gx = cand_grams.select(F.col("doc_id").alias("ex_id"), F.col("grams").alias("gx"))
    cand = pairs.join(gi, "inc_id").join(gx, "ex_id")
    inter = F.size(F.array_intersect("gi", "gx"))
    union = F.size("gi") + F.size("gx") - inter
    jac = inter.cast("double") / union
    verified = cand.filter(jac >= INC_JACCARD).select(
        "inc_id", "ex_id", F.round(jac, 6).alias("jaccard")
    )
    best = verified.groupBy("inc_id").agg(
        F.count("*").alias("n_near_dups"),
        F.min(F.struct(-F.col("jaccard"), F.col("ex_id"))).getField("ex_id")
        .alias("best_match_id"),
        F.max("jaccard").alias("best_jaccard"),
    )
    return (
        raw_docs.filter(is_inc)
        .select("doc_id")
        .join(best, F.col("doc_id") == F.col("inc_id"), "left")
        .select(
            "doc_id",
            (F.coalesce("n_near_dups", F.lit(0)) > 0).alias("is_dup"),
            F.coalesce("n_near_dups", F.lit(0)).alias("n_near_dups"),
            "best_match_id",
            "best_jaccard",
        )
    )


# --- Asymmetric containment dedup (excerpt/quote detection) -----------------

CONTAIN_THRESHOLD = 0.6

_CONTAIN_SQL = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS words,
         list_transform(words, w -> {_SQL_ROLL.format(s="w")} % {MERSENNE31}) AS wh,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> array_to_string(words[i:i+2], ' '))) AS grams,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> ((coalesce(wh[i], 0) * {WORD_COMBINE} + coalesce(wh[i+1], 0))
                   % {MERSENNE31} * {WORD_COMBINE} + coalesce(wh[i+2], 0))
                  % {MERSENNE31})) AS hs
  FROM documents
), sigs AS (
  SELECT doc_id, grams, {_MH_PERM_SQL} FROM sh
), banded AS MATERIALIZED (
  SELECT doc_id, grams, {_MH_BANDS_SQL} FROM sigs
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.grams AS ga, b.grams AS gb
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id
   AND (a.band0 = b.band0 OR a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3)
), scored AS (
  SELECT id_a, id_b,
         len(list_intersect(ga, gb)) AS inter,
         len(ga) AS na, len(gb) AS nb
  FROM pairs
)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / na, 6) AS containment_a,
       round(CAST(inter AS DOUBLE) / nb, 6) AS containment_b,
       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
FROM scored
WHERE CAST(inter AS DOUBLE) / least(na, nb) >= {CONTAIN_THRESHOLD}
"""


@_q("dedup_containment", _CONTAIN_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-CONTAINMENT detection (Broder's containment
    coefficient |A∩B|/|A|): an excerpt/quote whose grams sit inside a
    much longer document scores near-zero Jaccard but ~1.0 containment —
    the miss class symmetric dedup provably can't catch (Lee et al. 2022
    report both relations matter for training corpora).

    Candidate generation reuses the banded-MinHash machinery untouched
    (one narrow band shuffle); verification scores the directional
    containments on the candidate pairs' gram sets. The filter keys on
    ``inter/min(|A|,|B|)`` — max of the two containments — so either
    direction past {CONTAIN_THRESHOLD} survives.

    100 TB: identical shape/cost to ``dedup_minhash_lsh`` (the extra two
    divisions are free); at the threshold actually used for excerpt
    mining the MinHash bands under-recall extreme length ratios, and the
    production remedy is the ``dedup_substring_spans`` window pass —
    documented trade-off, not a silent gap."""
    raw_docs = load_table(spark, sf_dir, "documents")
    docs = fanout(raw_docs, "doc_id")
    sig_mh = (
        docs.select("doc_id", _minhash_mh_pd()(F.col("text")).alias("mh"))
        .select(
            "doc_id",
            *[F.col("mh").getItem(k).alias(f"mh{k}") for k in range(len(MINHASH_PERMS))],
        )
        .localCheckpoint(eager=False)
    )
    bands = sig_mh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band_id"), _band_expr("", bi).alias("bkey"))
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.bkey").alias("bkey"))
    pairs = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    cand_ids = pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
    cand_grams = (
        raw_docs.join(cand_ids, "doc_id", "left_semi")
        .select("doc_id", _minhash_grams_pd()(F.col("text")).alias("grams"))
        .localCheckpoint(eager=False)
    )
    ga = cand_grams.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga"))
    gb = cand_grams.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb"))
    cand = pairs.join(ga, "id_a").join(gb, "id_b")
    inter = F.size(F.array_intersect("ga", "gb")).cast("double")
    na, nb = F.size("ga"), F.size("gb")
    return (
        cand.filter(inter / F.least(na, nb) >= CONTAIN_THRESHOLD)
        .select(
            "id_a",
            "id_b",
            F.round(inter / na, 6).alias("containment_a"),
            F.round(inter / nb, 6).alias("containment_b"),
            F.round(inter / (na + nb - inter), 6).alias("jaccard"),
        )
    )


# --- MinHash LSH evaluation: recall/precision vs exhaustive truth -----------

JACCARD_THRESHOLD = 0.4  # the LSH pipeline's verify threshold (dedup_minhash_lsh)

_TRUTH_PAIRS_SQL = f"""
WITH g AS (
  SELECT doc_id, unnest(grams) AS gram FROM (
    SELECT doc_id,
           list_distinct(list_transform(
             generate_series(1, greatest(len(words) - 2, 1)),
             i -> array_to_string(words[i:i+2], ' '))) AS grams
    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words
          FROM documents)
  )
), n AS (
  SELECT doc_id, count(*) AS ng FROM g GROUP BY doc_id
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT s.id_a, s.id_b
FROM shared s
JOIN n na ON na.doc_id = s.id_a
JOIN n nb ON nb.doc_id = s.id_b
WHERE CAST(s.sh AS DOUBLE) / (na.ng + nb.ng - s.sh) >= {JACCARD_THRESHOLD}
"""

_MINHASH_RECALL_SQL = f"""
WITH truth AS MATERIALIZED ({_TRUTH_PAIRS_SQL}),
ap AS (SELECT id_a, id_b FROM ({_MINHASH_SQL}))
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM ap) AS BIGINT) AS n_found,
       CAST(count(*) AS BIGINT) AS n_hit,
       CAST(CASE WHEN (SELECT count(*) FROM truth) > 0
            THEN count(*) * 1000000 // (SELECT count(*) FROM truth) END
            AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN (SELECT count(*) FROM ap) > 0
            THEN count(*) * 1000000 // (SELECT count(*) FROM ap) END
            AS BIGINT) AS precision_ppm
FROM truth t JOIN ap ON ap.id_a = t.id_a AND ap.id_b = t.id_b
"""


@_q("dedup_minhash_recall", _MINHASH_RECALL_SQL)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH quality evaluation — recall AND precision of
    ``dedup_minhash_lsh``'s near-dup pairs against the EXHAUSTIVE
    exact-Jaccard truth set, as integer ppm (the dedup twin of
    ``sim_ann_recall``; the protocol of Leskovec ch.3's S-curve analysis,
    measured instead of asserted).

    Ground truth uses the inverted-index plan, not an all-pairs scan:
    explode distinct grams, equi-join on the gram (only pairs sharing ≥ 1
    gram materialize — a candidate superset of every positive, since
    jaccard > 0 requires a shared gram), count shared grams per pair, and
    threshold exact jaccard from (shared, |a|, |b|).  Precision is 1.0 by
    construction (the LSH pipeline verifies exact jaccard on candidates);
    recall measures what the 4-band/4-row signature misses — the number
    the S-curve only estimates.

    100 TB: the truth side is eval-only — run it over a document SAMPLE
    (the standard protocol); the gram join's hot keys (stop-gram blowup)
    are the same skew ``dedup_ngram_jaccard`` documents, acceptable at
    eval scale and cappable by document frequency.  The measured side is
    the shipping operator itself; the oracle recomputes BOTH sides."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.explode(_minhash_grams_pd()(F.col("text"))).alias("gram")
    ).localCheckpoint(eager=False)
    n = g.groupBy("doc_id").agg(F.count("*").alias("ng"))
    shared = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("sh"))
    )
    truth = (
        shared.join(n.withColumnRenamed("doc_id", "id_a").alias("na"), "id_a")
        .join(
            n.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("ng", "ngb")
            .alias("nb"),
            "id_b",
        )
        .filter(
            F.col("sh").cast("double")
            / (F.col("ng") + F.col("ngb") - F.col("sh"))
            >= JACCARD_THRESHOLD
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    ap = (
        QUERIES["dedup_minhash_lsh"](spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=False)
    )
    hit = truth.join(ap, ["id_a", "id_b"])
    # one-row aggregates joined lazily (no driver-side count at plan-build
    # time — the query stays a pure plan like every other registry entry)
    t1 = truth.agg(F.count("*").alias("n_true"))
    a1 = ap.agg(F.count("*").alias("n_found"))
    h1 = hit.agg(F.count("*").alias("n_hit"))
    return (
        h1.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(a1))
        .select(
            F.col("n_true").cast("bigint").alias("n_true"),
            F.col("n_found").cast("bigint").alias("n_found"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.when(
                F.col("n_true") > 0,
                F.expr("n_hit * 1000000 div n_true"),
            ).cast("bigint").alias("recall_ppm"),
            F.when(
                F.col("n_found") > 0,
                F.expr("n_hit * 1000000 div n_found"),
            ).cast("bigint").alias("precision_ppm"),
        )
    )


# --- typo-tolerant entity join (SymSpell deletion-neighborhood blocking) -----

_FUZZY_SQL = """
WITH names AS (SELECT DISTINCT c_name AS w FROM customer)
SELECT a.w AS name_a, b.w AS name_b
FROM names a JOIN names b
  ON a.w < b.w AND levenshtein(a.w, b.w) = 1
ORDER BY name_a, name_b
"""


# Kept port (keep-rule 2b, worse plan): the text's levenshtein pair join is a nested loop.
@_q("dedup_fuzzy_del1", _FUZZY_SQL)
def dedup_fuzzy_del1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity matching: all distinct name pairs at edit
    distance exactly 1, found WITHOUT the quadratic comparison — the
    SymSpell / FastSS deletion-neighborhood device (public algorithm:
    two strings are within edit distance 1 iff their delete-one
    neighborhoods, each including the string itself, intersect; the
    candidate set is then verified with the true distance).  The
    reference exposes ``levenshtein_distance`` as a scalar only
    (`presto-main/.../scalar/StringFunctions.java`) — its users write
    the O(n²) join this operator replaces.

    Scale shape (r11 rebuild, was a variant-key self-join): ONE
    hash-partitioned groupBy on the deletion-variant key with
    ``collect_set(w)`` per bucket — no join at all — then per-bucket
    pair enumeration (size² per bucket, bounded by per-bucket collision
    counts, never |names|²), the exact `levenshtein` verify in codegen,
    and ONLY THEN the distinct over surviving pairs (filter-before-
    distinct: the dedup exchange carries true pairs, not the ~3.7×
    larger candidate superset that includes transpositions).  The
    explicit ``repartition(P, v)`` pins parallelism through the
    CPU-heavy enumerate+verify stage: the variant table is narrow
    (~10 MB at sf0.1) so AQE's size-based coalescing would collapse it
    to one partition and single-thread the fan-out — exactly the
    misjudgment AQE makes when bytes-in is small but CPU-out is large.
    Per-bucket set size is the deletion-bucket collision count (max 38
    observed at sf0.1), the documented memory bound; the quadratic
    join exists ONLY in the oracle.  Measured sf0.1 solo: 9.4 s (r10
    join shape, judge) → 1.6 s (this shape)."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    names = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_name").alias("w"))
        .distinct()
    )
    variants = names.select(
        "w",
        F.explode(
            F.array_union(
                F.array(F.col("w")),
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.concat(
                        F.col("w").substr(F.lit(1), i - 1),
                        F.col("w").substr(i + 1, F.length("w") - i),
                    ),
                ),
            )
        ).alias("v"),
    ).repartition(n_part, "v")
    buckets = (
        variants.groupBy("v")
        .agg(F.collect_set("w").alias("ws"))
        .filter(F.size("ws") >= 2)
    )
    return (
        buckets.select(F.explode("ws").alias("name_a"), "ws")
        .select("name_a", F.explode("ws").alias("name_b"))
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") == 1)
        .distinct()
        .orderBy("name_a", "name_b")
    )


# --- Bloom-filter ingestion prefilter (incremental dedup membership) ---------

_BLOOM_OFFSETS = (1, 7, 13)  # md5 hex offsets → 3 independent 24-bit probes


def bloom_positions(df: DataFrame) -> DataFrame:
    """(doc_id, pos) probe rows — md5 24-bit slices mod 2048, the shared
    position formula for the batch op and its streaming twin."""
    h = F.md5("text")
    pos = F.explode(
        F.array(
            *[
                F.conv(F.substring(h, off, 6), 16, 10).cast("long") % 2048
                for off in _BLOOM_OFFSETS
            ]
        )
    ).alias("pos")
    return df.select("doc_id", pos)


def bloom_probe(docs: DataFrame, bitmap: DataFrame) -> DataFrame:
    """The new batch of ``docs`` (``doc_id % 5 = 0``) probed against the
    history's ``(word, bits)`` bitmap: ``bloom_hit`` when all 3 probe bits
    are set, ``is_dup`` from the exact text match against the history
    (``doc_id % 5 <> 0``), and ``false_positive`` for a hit that is no
    dup. Shared by the batch op and its streaming twin."""
    hist = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    newb = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    probed = (
        bloom_positions(newb)
        .withColumn("word", (F.col("pos") / 32).cast("long"))
        .join(F.broadcast(bitmap), "word", "left")
        .withColumn(
            "hit",
            F.when(
                F.col("bits").isNotNull()
                & (
                    F.col("bits").bitwiseAND(
                        F.expr(
                            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"
                        )
                    )
                    != 0
                ),
                1,
            ).otherwise(0),
        )
    )
    flags = probed.groupBy("doc_id").agg((F.sum("hit") == 3).alias("bloom_hit"))
    dup_ids = newb.join(hist, "text", "left_semi").select("doc_id").distinct()
    return (
        flags.join(dup_ids.withColumn("is_dup", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
            (F.col("bloom_hit") & ~F.coalesce("is_dup", F.lit(False))).alias(
                "false_positive"
            ),
        )
        .orderBy("doc_id")
    )


_BLOOM_SQL = """
WITH hist AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
), newb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
), hist_pos AS (
  SELECT (CAST(('0x' || substr(md5(text), off, 6)) AS BIGINT) % 2048) AS pos
  FROM hist, (SELECT unnest([1, 7, 13]) AS off)
), bitmap AS (
  SELECT pos // 32 AS word,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS BIGINT)
           AS bits
  FROM hist_pos GROUP BY pos // 32
), new_pos AS (
  SELECT doc_id, text,
         (CAST(('0x' || substr(md5(text), off, 6)) AS BIGINT) % 2048) AS pos
  FROM newb, (SELECT unnest([1, 7, 13]) AS off)
), probed AS (
  SELECT np.doc_id,
         CASE WHEN b.bits IS NOT NULL
                   AND (b.bits & (CAST(1 AS BIGINT) << CAST(np.pos % 32 AS INTEGER)))
                       <> 0
              THEN 1 ELSE 0 END AS hit
  FROM new_pos np LEFT JOIN bitmap b ON np.pos // 32 = b.word
), flags AS (
  SELECT doc_id, CAST(sum(hit) = 3 AS BOOLEAN) AS bloom_hit
  FROM probed GROUP BY doc_id
)
SELECT f.doc_id, f.bloom_hit,
       (EXISTS (SELECT 1 FROM hist h JOIN newb n2 ON h.text = n2.text
                WHERE n2.doc_id = f.doc_id)) AS is_dup,
       (f.bloom_hit AND NOT EXISTS (
           SELECT 1 FROM hist h JOIN newb n2 ON h.text = n2.text
           WHERE n2.doc_id = f.doc_id)) AS false_positive
FROM flags f
ORDER BY doc_id
"""


@_q("dedup_bloom_prefilter", _BLOOM_SQL)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter ingestion dedup — the membership PREFILTER a
    continuously-fed corpus consults before paying the exact-dup join
    (the device behind Presto's dynamic filtering and every web-crawl
    seen-URL set): the historical corpus folds into a 2048-bit / 3-probe
    bitmap built as EXPLICIT integer algebra (md5 24-bit slices → bit
    positions → per-word ``bit_or`` of 32-bit masks — no shift ever
    reaches bit 63, so the words are engine-exact BIGINTs), and each new
    document probes 3 positions; only bloom-positive docs proceed to the
    exact verify. False positives are COUNTED in the output (the
    measured-not-asserted rule); false negatives are impossible by
    construction and the oracle recomputes the whole algebra.

    Scale shape: the bitmap is ≤64 rows (the persisted index artifact —
    broadcast-sized by CONSTRUCTION, unlike a distinct-key set), history
    streams through one groupBy, probes join the 64-row table; the
    exact-dup join runs once here for the oracle but in production only
    bloom-positive docs reach it (the documented cost: fp-rate ·
    |batch| extra verifies, tunable by m/k). Sizing knob: m grows with
    |history| to hold fp-rate — at 10⁹ docs, m = 2³⁵ bits shards the
    SAME word-table shape to ~10⁸ rows, still join-not-broadcast
    friendly."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.filter(F.col("doc_id") % 5 != 0)
    bitmap = (
        bloom_positions(hist)
        .groupBy((F.col("pos") / 32).cast("long").alias("word"))
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))")
            .cast("long")
            .alias("bits")
        )
    )
    return bloom_probe(docs, bitmap)


# --- URL canonicalization dedup ----------------------------------------------

_URL_SQL = """
WITH raw AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END)
         || 'shop' || CAST(doc_id % 12 AS VARCHAR) || '.example.com'
         || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
         || '/item/' || CAST(doc_id % 40 AS VARCHAR)
         || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
         || (CASE WHEN doc_id % 3 = 0
                  THEN '?utm_source=feed&ref=' || CAST(doc_id % 7 AS VARCHAR)
                  WHEN doc_id % 3 = 1
                  THEN '?ref=' || CAST(doc_id % 7 AS VARCHAR)
                  ELSE '' END)
         || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS url
  FROM documents
), canon AS (
  SELECT doc_id, url,
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 replace(replace(url, 'HTTPS://WWW.', 'https://www.'),
                         'https://www.', 'https://'),
                 '#[^#]*$', ''),
               'utm_[a-z]+=[^&#]*&', ''),
             '\\?$', ''),
           ':443/', '/') AS c0
  FROM raw
), canon2 AS (
  SELECT doc_id, url, regexp_replace(c0, '/(\\?|$)', '\\1') AS curl
  FROM canon
)
SELECT curl AS canonical_url,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM canon2
GROUP BY curl
HAVING count(*) > 1
ORDER BY canonical_url
"""


@_q("dedup_url_canonical", _URL_SQL)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup — the crawl-frontier normalization pass
    (scheme/host case-folding, www-stripping, default-port removal,
    fragment drop, tracking-parameter scrub, trailing-slash collapse)
    that makes 'HTTPS://WWW.shop1.example.com:443/item/5/?utm_source=
    feed&ref=2#top' and 'https://www.shop1.example.com/item/5?ref=2' the
    SAME page before any content dedup runs. The noisy URLs are
    synthesized deterministically from doc_id (the driver corpus has no
    URL column — same device as the Bloom split), but the
    CANONICALIZATION operates only on the URL STRING via an identical
    replace/regexp chain in both engines; survivors keep the minimum
    doc_id (the deterministic-survivor rule every dedup op here pins).

    Scale shape: pure projection + one groupBy on the canonical key —
    the cheapest dedup in the family (no shingles, no signatures); at
    crawl scale this pass removes the bulk of trivial duplicates before
    MinHash spends a single hash. Reference anchor: the url_extract_*
    family (presto-main/.../scalar/UrlFunctions.java) is the toolkit
    users build this normalization from."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("HTTPS://WWW.")).otherwise(F.lit("https://www.")),
        F.lit("shop"), (d % 12).cast("string"), F.lit(".example.com"),
        F.when(d % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/item/"), (d % 40).cast("string"),
        F.when(d % 5 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.concat(F.lit("?utm_source=feed&ref="), (d % 7).cast("string")))
        .when(d % 3 == 1, F.concat(F.lit("?ref="), (d % 7).cast("string")))
        .otherwise(F.lit("")),
        F.when(d % 6 == 0, F.lit("#top")).otherwise(F.lit("")),
    )
    raw = docs.select("doc_id", url.alias("url"))
    c0 = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.replace(
                        F.replace(
                            F.col("url"),
                            F.lit("HTTPS://WWW."),
                            F.lit("https://www."),
                        ),
                        F.lit("https://www."),
                        F.lit("https://"),
                    ),
                    "#[^#]*$", ""),
                "utm_[a-z]+=[^&#]*&", ""),
            r"\?$", ""),
        ":443/", "/")
    canon = raw.select(
        "doc_id", "url",
        F.regexp_replace(c0, r"/(\?|$)", r"$1").alias("curl"),
    )
    return (
        canon.groupBy(F.col("curl").alias("canonical_url"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("url").cast("long").alias("n_raw_variants"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("canonical_url")
    )


# --- connected components via large-star / small-star -------------------------

MAX_BIGSTAR_ROUNDS = 8


@_q("dedup_cluster_bigstar", _CLUSTER_SQL)
def dedup_cluster_bigstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH pair list via
    alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the upgrade path
    dedup_cluster's docstring promises for the giant-component case.
    Min-label propagation needs O(component diameter) rounds; star
    contraction needs O(log^2 n) WORST-case rounds because each round
    rewires nodes to the minimum of their 2-hop neighborhood, halving
    path lengths — the difference between 20 rounds and 4 on the chain
    components a crawl dedup graph can contain.

    One round, entirely in DataFrame ops (the paper's two map-reduces):

    * LARGE-STAR: per node u, m = min(neighbors ∪ {u}); every LARGER
      neighbor v > u re-attaches to m — one min-groupBy + one equi-join
      on the symmetric edge list;
    * SMALL-STAR: orient edges to the smaller endpoint, per node u over
      its smaller neighbors m = min; u and all of them attach to m —
      same groupBy/join pair on the oriented (halved) list.

    Convergence: star sets are the unique fixed point; detected by a
    (count, xor-of-xxhash64) signature of the canonical pair set — two
    scalars to the driver per round, not the edge list.  Labels fall
    out of the final star set directly: every surviving pair is
    (root, child); roots are the nodes never appearing as a child.

    Output and oracle are IDENTICAL to dedup_cluster (DuckDB recursive
    transitive closure with min-reachable labels) — the two
    implementations must agree row-for-row, which is itself the
    strongest test of both."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("id_a", "id_b")
    # r13 opt: checkpoints went eager → LAZY (the per-round signature
    # collect below materializes the blocks anyway, so eager was one
    # extra scheduled job per round), and the LARGE-STAR output's
    # .distinct() is dropped — every downstream consumer is duplicate-
    # insensitive (mins2 is a min-agg; nxt ends in its own distinct), so
    # that exchange moved ~|edges| rows per round for nothing at any
    # scale. Output identical (same fixed point, same signature walk).
    und = (
        pairs.select(
            F.least("id_a", "id_b").alias("lo"),
            F.greatest("id_a", "id_b").alias("hi"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig: tuple | None = None
    for _ in range(MAX_BIGSTAR_ROUNDS):
        sym = und.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
            und.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )
        # LARGE-STAR: m(u) = min(Γ(u) ∪ {u}); attach every v > u to m
        # (min over v, then least with the grouping key — the same value
        # the old least(min(v), first(u)) computed without the First
        # aggregate buffer).
        mins = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least("mv", "u").alias("m")
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.least("v", "m").alias("lo"), F.greatest("v", "m").alias("hi")
            )
            .filter(F.col("lo") != F.col("hi"))
        )
        # SMALL-STAR: orient to the smaller endpoint (u=hi side), attach
        # u and all its smaller neighbors to their minimum.
        sym2 = ls.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        mins2 = sym2.groupBy("u").agg(F.min("v").alias("m"))
        nxt = (
            sym2.join(mins2, "u")
            .select(F.col("v").alias("a"), "m")
            .unionByName(mins2.select(F.col("u").alias("a"), "m"))
            .filter(F.col("a") != F.col("m"))
            .select(
                F.least("a", "m").alias("lo"), F.greatest("a", "m").alias("hi")
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        row = nxt.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(lo, hi))").alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        und = nxt
        if sig == prev_sig:
            break
        prev_sig = sig
    children = und.select(
        F.col("hi").alias("doc_id"), F.col("lo").alias("cluster_id")
    )
    roots = (
        und.select(F.col("lo").alias("doc_id"))
        .distinct()
        .join(
            und.select(F.col("hi").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    return (
        children.unionByName(roots)
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_keep"),
        )
        .orderBy("doc_id")
    )


# --- quality-aware survivor selection (r11z wave) ----------------------------

_CANON_SQL = f"""
WITH RECURSIVE pb AS MATERIALIZED ({_MINHASH_SQL}
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pb
  UNION
  SELECT id_b, id_a FROM pb
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach(node, v) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.v
), labels AS (
  SELECT node AS doc_id, min(v) AS cluster_id FROM reach GROUP BY node
), sized AS (
  SELECT l.doc_id, l.cluster_id, CAST(d.n_chars AS BIGINT) AS n_chars
  FROM labels l JOIN documents d ON d.doc_id = l.doc_id
), best AS (
  SELECT cluster_id, max(n_chars) AS best_chars FROM sized GROUP BY cluster_id
), canon AS (
  SELECT s.cluster_id, CAST(min(s.doc_id) AS BIGINT) AS canonical_id
  FROM sized s JOIN best b
    ON b.cluster_id = s.cluster_id AND s.n_chars = b.best_chars
  GROUP BY s.cluster_id
)
SELECT s.doc_id, s.cluster_id, s.n_chars, c.canonical_id,
       (s.doc_id = c.canonical_id) AS is_keep
FROM sized s JOIN canon c ON c.cluster_id = s.cluster_id
ORDER BY s.doc_id
"""


@_q("dedup_cluster_canonical", _CANON_SQL)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware SURVIVOR SELECTION over the near-dup clusters — the
    step dedup_cluster's min-id keep rule approximates: a CCNet/
    RefinedWeb-style pass keeps the BEST duplicate (here: longest text,
    tie-broken by min doc_id — a total order, so both engines pick the
    same survivor), and every other member maps to its canonical doc
    (the keep/drop + redirect table a training pipeline materializes).

    Composition: cluster labels come from the SAME min-label propagation
    as dedup_cluster (one more data point that the iterative labels
    equal the recursive-CTE closure); the canonical pick is
    ``max(struct(n_chars, -doc_id))`` per cluster — one groupBy on
    cluster_id, scale-bounded by cluster count. No new shuffle shape."""
    labels = dedup_cluster(spark, sf_dir).select("doc_id", "cluster_id")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("n_chars")
    )
    sized = labels.join(docs, "doc_id")
    canon = (
        sized.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("b")
        )
        .select("cluster_id", (-F.col("b.neg_id")).cast("long").alias("canonical_id"))
    )
    return (
        sized.join(canon, "cluster_id")
        .select(
            "doc_id", "cluster_id", "n_chars", "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("is_keep"),
        )
        .orderBy("doc_id")
    )


# --- duplicate-cluster size profile (r13) ----------------------------------------
# The dedup REPORT a 100 TB curation run actually publishes: the
# distribution of duplicate-cluster sizes (how much of the corpus is
# singletons vs pairs vs mega-clusters) and each band's share of all
# documents. Composes the big-star CC assignment (same iterative
# machinery, same oracle recursion) with a two-level size collapse;
# singletons are the documents outside every LSH pair, counted without
# materializing them as rows.

_CSIZE_SQL = f"""
WITH RECURSIVE pb AS MATERIALIZED ({_MINHASH_SQL}
), edges AS MATERIALIZED (
  SELECT id_a AS src, id_b AS dst FROM pb
  UNION
  SELECT id_b, id_a FROM pb
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), reach(node, v) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.v
), assign AS (
  SELECT node AS doc_id, min(v) AS cluster_id FROM reach GROUP BY node
), csizes AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS sz FROM assign GROUP BY 1
), d AS (
  SELECT CAST(count(*) AS BIGINT) AS nd FROM documents
), hist AS (
  SELECT sz, CAST(count(*) AS BIGINT) AS n_clusters FROM csizes GROUP BY sz
  UNION ALL
  SELECT 1, nd - (SELECT CAST(sum(sz) AS BIGINT) FROM csizes) FROM d
)
SELECT sz AS cluster_size,
       CAST(sum(n_clusters) AS BIGINT) AS n_clusters,
       CAST(sz * sum(n_clusters) AS BIGINT) AS n_docs,
       CAST(sz * sum(n_clusters) * 1000000 // (SELECT nd FROM d) AS BIGINT)
         AS doc_share_e6
FROM hist GROUP BY sz ORDER BY cluster_size
"""


@_q("dedup_cluster_size_profile", _CSIZE_SQL)
def dedup_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the MinHash-LSH duplicate graph
    (big-star CC assignment): per size, cluster count, document count,
    and exact per-million share of the corpus; size 1 counts every
    document outside the pair graph.

    Scale: the assignment is the dedup_cluster_bigstar fixed point
    (bounded star-contraction rounds); the profile itself is two
    map-side-combinable groupBys and a 1-row broadcast — output is
    bounded by the distinct-size vocabulary."""
    assign = QUERIES["dedup_cluster_bigstar"](spark, sf_dir).select(
        "cluster_id"
    )
    csizes = assign.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("sz")
    )
    docs = load_table(spark, sf_dir, "documents")
    nd = docs.agg(F.count("*").cast("long").alias("nd"))
    clustered = csizes.agg(F.sum("sz").cast("long").alias("c"))
    hist = csizes.groupBy("sz").agg(
        F.count("*").cast("long").alias("n_clusters")
    ).unionByName(
        nd.crossJoin(clustered).select(
            F.lit(1).cast("long").alias("sz"),
            (F.col("nd") - F.col("c")).alias("n_clusters"),
        )
    )
    return (
        hist.groupBy("sz")
        .agg(F.sum("n_clusters").cast("long").alias("n_clusters"))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
            F.expr("CAST(sz * n_clusters * 1000000 div nd AS BIGINT)")
            .alias("doc_share_e6"),
        )
        .orderBy("cluster_size")
    )


# --- LSH band-configuration sweep (r13) --------------------------------------------
# The S-curve MEASURED at three operating points instead of estimated:
# with the SAME 16-permutation signature, band it as (b=2, r=8) /
# (b=4, r=4 — the shipping config) / (b=8, r=2) and report, per config,
# the candidate count, candidate precision, and recall against the
# exhaustive exact-Jaccard truth (JACCARD_THRESHOLD). This is the table a
# 100 TB dedup run reads to pick its operating point: more bands =
# more recall = more verification work, and the trade is now a recorded
# relation, not the 1-(1-s^r)^b formula's promise.

LSH_SWEEP_CONFIGS = ((2, 8), (4, 4), (8, 2))


def _sweep_keys_sql() -> str:
    parts = []
    for b, r in LSH_SWEEP_CONFIGS:
        for band in range(b):
            cols = ", ".join(
                f"CAST(mh{band * r + k} AS VARCHAR)" for k in range(r)
            )
            parts.append(
                f"SELECT doc_id, 'b{b}r{r}' AS cfg, {band} AS band, "
                f"concat_ws('_', {cols}) AS key FROM sigs"
            )
    return "\nUNION ALL\n".join(parts)


_LSH_SWEEP_SQL = f"""
WITH sh AS MATERIALIZED (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS words,
         list_transform(words, w -> {_SQL_ROLL.format(s="w")} % {MERSENNE31}) AS wh,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> ((coalesce(wh[i], 0) * {WORD_COMBINE} + coalesce(wh[i+1], 0))
                   % {MERSENNE31} * {WORD_COMBINE} + coalesce(wh[i+2], 0))
                  % {MERSENNE31})) AS hs,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> array_to_string(words[i:i+2], ' '))) AS grams
  FROM documents
), sigs AS MATERIALIZED (
  SELECT doc_id, {_MH_PERM_SQL} FROM sh
), keys AS MATERIALIZED (
{_sweep_keys_sql()}
), cand AS MATERIALIZED (
  SELECT DISTINCT k1.cfg, k1.doc_id AS id_a, k2.doc_id AS id_b
  FROM keys k1 JOIN keys k2
    ON k1.cfg = k2.cfg AND k1.band = k2.band AND k1.key = k2.key
   AND k1.doc_id < k2.doc_id
), gx AS MATERIALIZED (
  SELECT doc_id, unnest(grams) AS g, len(grams) AS ng FROM sh
), shared AS MATERIALIZED (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh,
         max(a.ng) AS na, max(b.ng) AS nb
  FROM gx a JOIN gx b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), truth AS MATERIALIZED (
  SELECT id_a, id_b FROM shared
  WHERE CAST(sh AS DOUBLE) / (na + nb - sh) >= {JACCARD_THRESHOLD}
), per AS (
  SELECT c.cfg, CAST(count(*) AS BIGINT) AS n_candidates,
         CAST(sum(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hits
  FROM cand c LEFT JOIN truth t ON t.id_a = c.id_a AND t.id_b = c.id_b
  GROUP BY 1
), tt AS (
  SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth
)
SELECT cfg,
       CAST(CASE cfg {" ".join(f"WHEN 'b{b}r{r}' THEN {b}" for b, r in LSH_SWEEP_CONFIGS)} END AS BIGINT) AS bands,
       CAST(CASE cfg {" ".join(f"WHEN 'b{b}r{r}' THEN {r}" for b, r in LSH_SWEEP_CONFIGS)} END AS BIGINT) AS rows_per_band,
       n_candidates, tt.n_true, n_hits,
       CAST(n_hits * 1000000 // tt.n_true AS BIGINT) AS recall_ppm,
       CAST(n_hits * 1000000 // n_candidates AS BIGINT)
         AS candidate_precision_ppm
FROM per, tt ORDER BY bands
"""


@_q("dedup_lsh_band_sweep", _LSH_SWEEP_SQL)
def dedup_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding sweep over the shared 16-perm MinHash signature: per
    config (2×8 / 4×4 / 8×2), candidate pairs, recall vs the exhaustive
    exact-Jaccard truth, and candidate precision (the share of banding
    candidates that survive exact verification) — both in ppm.

    Scale: the signature is ONE Arrow pass (reused across all configs);
    each config's candidates come from the same narrow (cfg, band, key)
    equi-join shape dedup_minhash_lsh ships; the truth side is the
    eval-only inverted-index join (sample it at production scale)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = docs.select(
        "doc_id", _minhash_mh_pd()(F.col("text")).alias("mh")
    ).localCheckpoint(eager=False)
    keyrows = []
    for b, r in LSH_SWEEP_CONFIGS:
        for band in range(b):
            keyrows.append(
                sig.select(
                    "doc_id",
                    F.lit(f"b{b}r{r}").alias("cfg"),
                    F.lit(band).alias("band"),
                    F.concat_ws(
                        "_",
                        *[
                            F.element_at("mh", band * r + k + 1).cast("string")
                            for k in range(r)
                        ],
                    ).alias("key"),
                )
            )
    keys = keyrows[0]
    for kr in keyrows[1:]:
        keys = keys.unionByName(kr)
    cand = (
        keys.alias("k1")
        .join(
            keys.alias("k2"),
            (F.col("k1.cfg") == F.col("k2.cfg"))
            & (F.col("k1.band") == F.col("k2.band"))
            & (F.col("k1.key") == F.col("k2.key"))
            & (F.col("k1.doc_id") < F.col("k2.doc_id")),
        )
        .select(
            F.col("k1.cfg").alias("cfg"),
            F.col("k1.doc_id").alias("id_a"),
            F.col("k2.doc_id").alias("id_b"),
        )
        .distinct()
    )
    g = docs.select(
        "doc_id", F.explode(_minhash_grams_pd()(F.col("text"))).alias("gram")
    ).localCheckpoint(eager=False)
    n = g.groupBy("doc_id").agg(F.count("*").alias("ng"))
    shared = (
        g.alias("a")
        .join(
            g.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count("*").alias("sh"))
    )
    truth = (
        shared.join(n.withColumnRenamed("doc_id", "id_a"), "id_a")
        .join(
            n.withColumnRenamed("doc_id", "id_b")
            .withColumnRenamed("ng", "ngb"),
            "id_b",
        )
        .filter(
            F.col("sh").cast("double")
            / (F.col("ng") + F.col("ngb") - F.col("sh"))
            >= JACCARD_THRESHOLD
        )
        .select("id_a", "id_b", F.lit(1).alias("is_true"))
        .localCheckpoint(eager=False)
    )
    per = (
        cand.join(truth, ["id_a", "id_b"], "left")
        .groupBy("cfg")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum(F.coalesce("is_true", F.lit(0))).cast("long")
            .alias("n_hits"),
        )
    )
    tt = truth.agg(F.count("*").cast("long").alias("n_true"))
    bmap = F.create_map(
        *[x for b, r in LSH_SWEEP_CONFIGS
          for x in (F.lit(f"b{b}r{r}"), F.lit(b))]
    )
    rmap = F.create_map(
        *[x for b, r in LSH_SWEEP_CONFIGS
          for x in (F.lit(f"b{b}r{r}"), F.lit(r))]
    )
    return (
        per.crossJoin(F.broadcast(tt))
        .select(
            "cfg",
            bmap[F.col("cfg")].cast("long").alias("bands"),
            rmap[F.col("cfg")].cast("long").alias("rows_per_band"),
            "n_candidates", "n_true", "n_hits",
            F.expr("CAST(n_hits * 1000000 div n_true AS BIGINT)")
            .alias("recall_ppm"),
            F.expr("CAST(n_hits * 1000000 div n_candidates AS BIGINT)")
            .alias("candidate_precision_ppm"),
        )
        .orderBy("bands")
    )




# --- simhash locality ordering audit (r13) -----------------------------------
# The storage trick behind "cluster-then-compress": writing similar
# documents adjacently lets the compressor's window find cross-doc
# matches, and similarity-ordered layouts also make near-dup scans
# cheaper.  This op MEASURES the effect: mean adjacent-pair shingle
# Jaccard under the natural doc_id order vs under (simhash, doc_id)
# order.  The gain is the witness a layout decision reads before
# rewriting a 100 TB corpus.

_LOCALITY_SQL = f"""
WITH tok AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS t
  FROM documents
), th AS (
  SELECT doc_id, {{roll}} % 65536 AS th FROM tok
), bits AS (
  SELECT doc_id, {{bitsums}} FROM th GROUP BY doc_id
), sig AS MATERIALIZED (
  SELECT doc_id, CAST({{combine}} AS BIGINT) AS simhash FROM bits
), g AS MATERIALIZED (
  SELECT doc_id, {{shingles}} AS grams FROM documents
), orda AS (
  SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn FROM sig
), ordb AS (
  SELECT doc_id, row_number() OVER (ORDER BY simhash, doc_id) AS rn FROM sig
), pairs AS (
  SELECT 'doc_id_order' AS ordering, a.doc_id AS i, b.doc_id AS j
  FROM orda a JOIN orda b ON b.rn = a.rn + 1
  UNION ALL
  SELECT 'simhash_order', a.doc_id, b.doc_id
  FROM ordb a JOIN ordb b ON b.rn = a.rn + 1
), jac AS (
  SELECT p.ordering,
         len(list_intersect(ga.grams, gb.grams)) * 1000000
           // (len(ga.grams) + len(gb.grams)
               - len(list_intersect(ga.grams, gb.grams))) AS j_e6
  FROM pairs p
  JOIN g ga ON ga.doc_id = p.i
  JOIN g gb ON gb.doc_id = p.j
)
SELECT ordering, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(j_e6) // count(*) AS BIGINT) AS mean_adjacent_jaccard_e6
FROM jac GROUP BY ordering ORDER BY ordering
"""


@_q(
    "layout_simhash_locality",
    _LOCALITY_SQL.format(
        roll=_SQL_ROLL.format(s="t"),
        bitsums=_SIMHASH_BITSUMS,
        combine=_SIMHASH_COMBINE,
        shingles=_SQL_SHINGLES.format(t="text"),
    ),
)
def layout_simhash_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean adjacent-pair 3-gram Jaccard under doc_id order vs
    (simhash, doc_id) order — the measured locality gain of clustering
    a corpus by content fingerprint before writing (compression-window
    hits and near-dup scan locality both ride it).

    Scale: the simhash is the dedup_simhash pipeline (per-word hash,
    16 bit-sums); BOTH rank passes ride distrank.global_index (never a
    single-partition window over docs); adjacency is a rank→rank+1
    self-join; the gram table joins by doc_id.  Everything integer
    (e6 Jaccard, integer mean)."""
    from .distrank import global_index

    docs = fanout(load_table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("t"),
    )
    th = tok.select("doc_id", (_roll_hash(F.col("t")) % 65536).alias("th"))
    bitsums = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("th"), b).bitwiseAND(1) == 1, 1)
                .otherwise(-1)
            ).alias(f"s{b}")
            for b in range(16)
        ]
    )
    combine = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        combine = term if combine is None else combine + term
    sig = bitsums.select("doc_id", combine.cast("long").alias("simhash"))
    g = docs.select("doc_id", _shingles(F.col("text")).alias("grams"))

    def adjacent(ordered: DataFrame, label: str) -> DataFrame:
        r = ordered.select("doc_id", F.col("__rn").alias("rn"))
        a, b = r.alias("a"), r.alias("b")
        return a.join(b, F.col("b.rn") == F.col("a.rn") + 1).select(
            F.lit(label).alias("ordering"),
            F.col("a.doc_id").alias("i"),
            F.col("b.doc_id").alias("j"),
        )

    orda = global_index(sig, [F.col("doc_id")])
    ordb = global_index(sig, [F.col("simhash"), F.col("doc_id")])
    pairs = adjacent(orda, "doc_id_order").unionAll(
        adjacent(ordb, "simhash_order")
    )
    ga = g.select(F.col("doc_id").alias("i"), F.col("grams").alias("gai"))
    gb = g.select(F.col("doc_id").alias("j"), F.col("grams").alias("gbj"))
    jac = (
        pairs.join(ga, "i")
        .join(gb, "j")
        .select(
            "ordering",
            F.expr(
                "size(array_intersect(gai, gbj)) * 1000000"
                " div (size(gai) + size(gbj)"
                " - size(array_intersect(gai, gbj)))"
            ).alias("j_e6"),
        )
    )
    return (
        jac.groupBy("ordering")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("CAST(sum(j_e6) div count(*) AS BIGINT)")
            .alias("mean_adjacent_jaccard_e6"),
        )
        .orderBy("ordering")
    )
