"""End-to-end training-corpus pipeline — the composition showcase.

Chains the LLM-data operators this engine exists for into ONE dataflow
(each stage is individually oracle-checked elsewhere; this query checks
the COMPOSITION end-to-end against a single DuckDB oracle):

1. quality gate    — length band + minimum word count (text.py family);
2. language gate   — lang allowlist (text_lang_id family);
3. exact dedup     — keep min doc_id per md5(text) (dedup_exact);
4. near-dup prune  — MinHash banded LSH candidates, 3-gram Jaccard ≥ 0.4,
                     drop the higher doc_id of each pair (dedup_minhash_lsh
                     machinery, same permutations/bands);
5. corpus stats    — per (lang, source): docs, tokens, avg chars.

Scale shape: two groupBys + one narrow band self-join + one anti join —
exactly the per-stage designs documented in SCALING.md; nothing new is
paid for the composition (Catalyst pipelines the gates into the scans).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..catalog import fanout, load_table
from ..registry import family
from .dedup import (
    MERSENNE31,
    MINHASH_PERMS,
    N_BANDS,
    WORD_COMBINE,
    _band_expr,
    _MH_BANDS_SQL,
    _MH_PERM_SQL,
    _roll_hash,
    _SQL_ROLL,
)

QUERIES, ORACLE, _q = family()


LANGS = ("en", "es", "de", "fr")
MIN_CHARS, MAX_CHARS, MIN_WORDS = 150, 100000, 25
JACCARD_T = 0.4

_PIPELINE_SQL = f"""
WITH gated AS (
  SELECT doc_id, text, lang, source, n_chars,
         string_split_regex(trim(text), '\\s+') AS words
  FROM documents
  WHERE n_chars BETWEEN {MIN_CHARS} AND {MAX_CHARS}
    AND lang IN {LANGS!r}
    AND len(string_split_regex(trim(text), '\\s+')) >= {MIN_WORDS}
), exact AS (
  SELECT * FROM gated
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
), sh AS (
  SELECT doc_id,
         list_transform(words, w -> {_SQL_ROLL.format(s="w")} % {MERSENNE31}) AS wh,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> array_to_string(words[i:i+2], ' '))) AS grams,
         list_distinct(list_transform(generate_series(1, greatest(len(words) - 2, 1)),
             i -> ((coalesce(wh[i], 0) * {WORD_COMBINE} + coalesce(wh[i+1], 0))
                   % {MERSENNE31} * {WORD_COMBINE} + coalesce(wh[i+2], 0))
                  % {MERSENNE31})) AS hs
  FROM exact
), sigs AS (
  SELECT doc_id, grams, {_MH_PERM_SQL} FROM sh
), banded AS (
  SELECT doc_id, grams, {_MH_BANDS_SQL} FROM sigs
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.grams AS ga, b.grams AS gb
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id
   AND (a.band0 = b.band0 OR a.band1 = b.band1 OR a.band2 = b.band2 OR a.band3 = b.band3)
), dropped AS (
  SELECT DISTINCT id_b FROM pairs
  WHERE CAST(len(list_intersect(ga, gb)) AS DOUBLE)
        / (len(ga) + len(gb) - len(list_intersect(ga, gb))) >= {JACCARD_T}
)
SELECT e.lang, e.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(e.words)) AS BIGINT) AS total_tokens,
       round(avg(e.n_chars), 2) AS avg_chars
FROM exact e ANTI JOIN dropped d ON e.doc_id = d.id_b
GROUP BY e.lang, e.source
ORDER BY e.lang, e.source
"""


@_q("pipeline_training_corpus", _PIPELINE_SQL)
def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanout(load_table(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.trim("text"), r"\s+")
    gated = docs.filter(
        F.col("n_chars").between(MIN_CHARS, MAX_CHARS)
        & F.col("lang").isin(*LANGS)
        & (F.size(words) >= MIN_WORDS)
    ).select("doc_id", "text", "lang", "source", "n_chars", words.alias("words"))

    # exact dedup: keep the smallest doc_id per content hash
    w_exact = W.partitionBy(F.md5(F.col("text").cast("binary"))).orderBy("doc_id")
    exact = (
        gated.withColumn("_rn", F.row_number().over(w_exact))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # minhash signatures over the survivors (same machinery as dedup.py)
    staged = exact.select(
        "doc_id",
        "words",
        F.transform("words", lambda w: _roll_hash(w) % MERSENNE31).alias("wh"),
    )
    idx = F.sequence(F.lit(1), F.greatest(F.size("words") - 2, F.lit(1)))

    def wh_at(i: Column) -> Column:
        return F.coalesce(F.element_at(F.col("wh"), i), F.lit(0).cast("long"))

    hs = F.array_distinct(
        F.transform(
            idx,
            lambda i: (
                (wh_at(i) * WORD_COMBINE + wh_at(i + 1)) % MERSENNE31 * WORD_COMBINE
                + wh_at(i + 2)
            )
            % MERSENNE31,
        )
    )
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(F.col("words"), i, 3), " "))
    )
    sh = staged.select("doc_id", grams.alias("grams"), hs.alias("hs"))
    sigs = sh.select(
        "doc_id",
        *[
            F.array_min(
                F.transform("hs", lambda x: (F.lit(a) * x + F.lit(b)) % MERSENNE31)
            ).alias(f"mh{k}")
            for k, (a, b) in enumerate(MINHASH_PERMS)
        ],
    )
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band_id"), _band_expr("", bi).alias("bkey"))
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band_id", "bb.bkey")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    g = sh.select("doc_id", "grams")
    verified = (
        cand.join(g.select(F.col("doc_id").alias("id_a"), F.col("grams").alias("ga")), "id_a")
        .join(g.select(F.col("doc_id").alias("id_b"), F.col("grams").alias("gb")), "id_b")
    )
    inter = F.size(F.array_intersect("ga", "gb"))
    jac = inter.cast("double") / (F.size("ga") + F.size("gb") - inter)
    dropped = verified.filter(jac >= JACCARD_T).select(F.col("id_b").alias("doc_id")).distinct()

    corpus = exact.join(dropped, "doc_id", "left_anti")
    return (
        corpus.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size("words")).alias("total_tokens"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
        )
        .orderBy("lang", "source")
    )
