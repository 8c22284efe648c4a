from __future__ import annotations

import pytest

from presto_db_spark.operators import text as tx

from .oracle_utils import check_query


@pytest.mark.parametrize("name", sorted(tx.QUERIES))
def test_text_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, tx.QUERIES[name], tx.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"


def test_decontaminate_nonvacuous(spark, sf_dir):
    """The 5-gram overlap join must actually fire on the synthetic corpus
    (shared vocabulary ⇒ some train docs share grams with the eval split),
    or the oracle match is vacuous."""
    from presto_db_spark.operators import text

    rows = text.QUERIES["text_decontaminate"](spark, sf_dir).collect()
    assert len(rows) >= 1
    assert all(r.n_overlap >= 1 for r in rows)


def test_split_deterministic_and_proportional(spark, sf_dir):
    """The md5 split is (a) deterministic across runs and (b) ~90/10 within
    a loose binomial band."""
    from presto_db_spark.operators import text

    a = sorted(map(tuple, text.QUERIES["text_train_val_split"](spark, sf_dir).collect()))
    b = sorted(map(tuple, text.QUERIES["text_train_val_split"](spark, sf_dir).collect()))
    assert a == b
    n_train = sum(r[2] for r in a if r[0] == "train")
    n_val = sum(r[2] for r in a if r[0] == "val")
    frac = n_val / (n_train + n_val)
    assert 0.03 < frac < 0.20, frac


def test_repetition_filter_nonvacuous(spark, sf_dir):
    """Both outcomes of the repetition gate must occur on the corpus, and
    the ratio columns must be internally consistent."""
    rows = tx.QUERIES["text_repetition_filter"](spark, sf_dir).collect()
    flags = {r.is_repetitive for r in rows}
    assert flags == {True, False}, f"gate is vacuous: {flags}"
    for r in rows:
        assert 0.0 <= r.rep_ratio < 1.0
        assert 0.0 < r.top_bigram_share <= 1.0


def test_pii_scrub_removes_all_patterns(spark, sf_dir):
    """After scrubbing, no email/phone/IPv4 pattern survives, and every
    profile had exactly one of each (the synthesis guarantees it)."""
    import re

    rows = tx.QUERIES["text_pii_scrub"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (r.n_emails, r.n_phones, r.n_ips) == (1, 1, 1)
        assert "<EMAIL>" in r.scrubbed and "<PHONE>" in r.scrubbed and "<IP>" in r.scrubbed
        assert not re.search(r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}", r.scrubbed)
        assert not re.search(r"\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}", r.scrubbed)
        assert not re.search(r"([0-9]{1,3}\.){3}[0-9]{1,3}", r.scrubbed)


def test_chunking_reconstructs_tokens(spark, sf_dir):
    """Chunk windows must tile every document: stride-aligned starts, the
    overlap region shared verbatim between neighbors, and concatenating
    each chunk's non-overlap prefix reconstructs the original text."""
    rows = tx.QUERIES["text_chunk_documents"](spark, sf_dir).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    docs = {
        r.doc_id: r.text.strip().split()
        for r in tx.QUERIES["text_token_stats"].__globals__["load_table"](
            spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    assert any(len(ch) > 1 for ch in by_doc.values()), "no doc spans 2+ chunks"
    for doc_id, chunks in list(by_doc.items())[:50]:
        chunks.sort(key=lambda r: r.chunk_idx)
        toks = docs[doc_id]
        rebuilt = []
        for r in chunks:
            ct = r.chunk_text.split()
            assert len(ct) == r.chunk_tokens
            rebuilt.extend(ct if not rebuilt else ct[tx.CHUNK_OVERLAP:]
                           if r.chunk_idx * tx.CHUNK_STRIDE + tx.CHUNK_OVERLAP
                           <= len(rebuilt) else ct[len(rebuilt) - r.chunk_idx * tx.CHUNK_STRIDE:])
        assert rebuilt == toks, f"doc {doc_id} not reconstructed"


def test_stratified_fractions(spark, sf_dir):
    """Per-stratum sample rates must track the configured thresholds
    (binomial 6-sigma bound), and every stratum must be non-empty."""
    rows = tx.QUERIES["sample_stratified"](spark, sf_dir).collect()
    assert {r.lang for r in rows} >= set(tx.STRATA_FRACTIONS)
    for r in rows:
        p = tx.STRATA_FRACTIONS.get(r.lang, 0) / 256
        mean, sd = r.n_total * p, (r.n_total * p * (1 - p)) ** 0.5
        assert abs(r.n_sampled - mean) <= 6 * sd + 1, (r.lang, r.n_sampled, mean)


def test_lm_coverage_semantics(spark, sf_dir):
    """Held-in docs (doc_id % 10 == 0, part of the background corpus) must
    have zero OOV; scores are valid micro-rates; some doc has nonzero
    background frequency (the join actually fires)."""
    from presto_db_spark.operators import text

    rows = text.QUERIES["text_lm_coverage"](spark, sf_dir).collect()
    assert rows
    assert any(r.mean_freq_micros > 0 for r in rows)
    for r in rows:
        assert 0 <= r.oov_micros <= 1_000_000, r
        assert r.n_tri > 0
        if r.doc_id % 10 == 0:
            assert r.oov_micros == 0, r  # its own trigrams are in the model


def test_curation_mix_weights_sum_to_one(spark, sf_dir):
    """Sampling weights are a distribution (sum ≈ 1 up to per-bucket
    rounding), sqrt-temperature flattens the mix (largest bucket's
    weight share < its token share), and dup/quality stay in range."""
    rows = tx.QUERIES["text_curation_mix"](spark, sf_dir).collect()
    assert rows
    total_w = sum(r.sample_weight for r in rows)
    assert abs(total_w - 1.0) < 1e-4 * len(rows)
    total_tok = sum(r.n_tokens for r in rows)
    big = max(rows, key=lambda r: r.n_tokens)
    if len(rows) > 1:
        assert big.sample_weight < big.n_tokens / total_tok + 1e-9
    for r in rows:
        assert 0.0 <= r.dup_rate <= 1.0
        assert 0.0 <= r.mean_quality <= 1.0


def test_sequence_packing_invariants(spark, sf_dir):
    """Packing must be gapless per shard: each doc starts exactly where
    the previous one ended, example indices follow from pure floor
    division, and every token is assigned (no padding loss)."""
    from collections import defaultdict

    from presto_db_spark.operators import text

    rows = text.QUERIES["text_sequence_packing"](spark, sf_dir).collect()
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r.shard].append(r)
    assert len(by_shard) == text._PACK_SHARDS
    L = text._PACK_L
    for shard, docs in by_shard.items():
        docs.sort(key=lambda r: r.doc_id)
        pos = 0
        for r in docs:
            assert r.start_tok == pos, (shard, r)
            assert r.first_example == pos // L
            assert r.last_example == (pos + r.n_tok - 1) // L
            assert r.n_examples_spanned == r.last_example - r.first_example + 1
            pos += r.n_tok
    # boundary crossing must actually occur somewhere (docs < L tokens
    # would make the op vacuous otherwise)
    assert any(r.n_examples_spanned >= 2 for r in rows)


def test_bm25_topk_semantics(spark, sf_dir):
    from presto_db_spark.operators import text

    rows = text.QUERIES["text_bm25_topk"](spark, sf_dir).collect()
    assert len(rows) == text._BM25_TOPK
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    scores = [r.score_u for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(s > 0 for s in scores)


def test_train_shuffle_shards_semantics(spark, sf_dir):
    """Deterministic across runs; shards cover the full range with rough
    balance; positions are exactly 1..n within each shard."""
    from collections import Counter, defaultdict

    from presto_db_spark.operators import text

    a = sorted(map(tuple, text.QUERIES["train_shuffle_shards"](spark, sf_dir).collect()))
    b = sorted(map(tuple, text.QUERIES["train_shuffle_shards"](spark, sf_dir).collect()))
    assert a == b
    shards = Counter(r[1] for r in a)
    assert set(shards) == set(range(text._SHUF_SHARDS))
    n = len(a)
    assert max(shards.values()) <= 3 * n // text._SHUF_SHARDS
    pos = defaultdict(list)
    for _doc, shard, p in a:
        pos[shard].append(p)
    for shard, ps in pos.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard
    # the hash order must differ from insertion order (it IS a shuffle)
    first_shard_docs = [doc for doc, s, p in sorted(a, key=lambda r: r[2]) if s == 0]
    assert first_shard_docs != sorted(first_shard_docs)


def test_gopher_rules_vary(spark, sf_dir):
    """The rule battery must produce BOTH pass and fail (otherwise the
    booleans are vacuously oracle-equal) and per-rule variety on at least
    one rule."""
    from presto_db_spark.operators import text

    rows = text.QUERIES["text_gopher_rules"](spark, sf_dir).collect()
    passes = {r.passes for r in rows}
    assert passes == {True, False}, passes
    assert {r.rule_stopwords for r in rows} == {True, False}


def test_domain_cap_semantics(spark, sf_dir):
    """Every domain keeps at most the cap; ranks are a 1..n permutation
    per domain; verdicts follow the rank; the fixture produces both kept
    and dropped docs (non-vacuous)."""
    rows = tx.QUERIES["text_domain_cap"](spark, sf_dir).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    assert any(not r.kept for r in rows) and any(r.kept for r in rows)
    for src, rs in by_src.items():
        ranks = sorted(r.domain_rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), src
        for r in rs:
            assert r.kept == (r.domain_rank <= tx._DOMAIN_CAP)
        assert sum(r.kept for r in rs) == min(len(rs), tx._DOMAIN_CAP)


def test_unicode_normalize_counts(spark, sf_dir):
    """NFC recombines exactly the injected combining marks: composed
    count equals the number of 'a's + 'o's in the original text, and
    every doc containing either letter reports changed=true."""
    docs = {
        r.doc_id: r.text
        for r in tx.load_table(spark, sf_dir, "documents").collect()
    }
    rows = tx.QUERIES["text_unicode_normalize"](spark, sf_dir).collect()
    assert any(r.changed for r in rows)
    for r in rows:
        expect = docs[r.doc_id].count("a") + docs[r.doc_id].count("o")
        assert r.n_composed == expect, (r.doc_id, r.n_composed, expect)
        assert r.changed == (expect > 0)
        assert r.n_decomposed - r.n_nfc == r.n_composed


def test_bpe_pair_counts_match_local_recount(spark, sf_dir):
    """Top-k BPE pairs equal a local Python recount (total order by
    (count desc, pair)), and ranks are 1..k."""
    from collections import Counter

    rows = sorted(
        tx.QUERIES["text_bpe_pair_counts"](spark, sf_dir).collect(),
        key=lambda r: r.rk,
    )
    assert [r.rk for r in rows] == list(range(1, tx._BPE_TOPK + 1))
    docs = tx.load_table(spark, sf_dir, "documents").collect()
    c = Counter()
    for d in docs:
        for w in d.text.strip().split():
            for i in range(len(w) - 1):
                c[w[i:i + 2]] += 1
    expect = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[: tx._BPE_TOPK]
    assert [(r.pair, r.n_occurrences) for r in rows] == expect


def test_ngram_novelty_with_unit_suffixed_split_size(spark, sf_dir):
    """spark.sql.files.maxPartitionBytes in Spark's own unit spelling
    ("64m") must not break the narrow-scan fan-out decision."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "64m")
    try:
        problems = check_query(spark, "text_ngram_novelty", tx.QUERIES["text_ngram_novelty"],
                               tx.ORACLE["text_ngram_novelty"], sf_dir)
    finally:
        spark.conf.set(key, old)
    assert not problems, problems
