#!/usr/bin/env python
"""Benchmark harness — the reference's benchto methodology
(presto-benchto-benchmarks/.../benchmarks/presto/tpch.yaml: prewarm then
measured steady-state runs) on the driver testdata.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], AQE on, in one shared session. Per query:
PREWARM_RUNS unmeasured + RUNS measured runs to the noop sink, raw median
reported. Prints two lines: ``BENCH_DETAIL {"spread": ...}`` with each
query's samples, min/median/max, per-run JVM GC and JIT deltas and final
plan hashes, then ONE JSON line
{"metric", "value": total_sec, "unit", "queries", "sf", "runs", "prewarm"}.

A wide min/max band with identical plan hashes and flat GC/JIT is session
or host noise, not a regression. For an A/B between two commits, run
``BENCH_ONLY=<query> python bench.py`` in a checkout of each, or
``perfbench/run.py`` on both.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Mirror the reference methodology (tpch.yaml: runs: 6, prewarm-runs: 2) —
# r2 showed runs=3/prewarm=1 admits ±2x session-GC noise into the medians.
PREWARM_RUNS = int(os.environ.get("BENCH_PREWARM", "2"))
RUNS = int(os.environ.get("BENCH_RUNS", "6"))

# Headline set: the TPC-H spine (scan-agg, multi-join, semi-join, having,
# top-k) + the extension operators (dedup, ANN, sessionization, fingerprint),
# then the two hardest TPC-DS join shapes (q64 cross-sales self-join, q72
# fact-to-fact inventory — mirroring the reference's benchto TPC-DS config
# presto-benchto-benchmarks/src/main/resources/benchmarks/presto/tpcds.yaml).
HEADLINE = [
    "tpch_q01",
    "tpch_q03",
    "tpch_q05",
    "tpch_q06",
    "tpch_q08",
    "tpch_q09",
    "tpch_q13",
    "tpch_q18",
    "tpch_q21",
    "win_topn_per_group",
    "events_sessionize",
    "events_range_join",
    "dedup_minhash_lsh",
    "sim_topk_bruteforce",
    "sim_ivf",
    "agg_hll_sketch",
    "text_fingerprint",
    "tpcds_q64",
    "tpcds_q72",
    # r09 (VERDICT r08 directive #5): q04's year_total CTE, read six
    # times, under timing, and the deployable ANN shape. q04 is its SQL
    # text, and Catalyst inlines the CTE into each reader as the reference
    # does. Persisting year_total once measured slower at sf0.1 (r09, 4
    # runs each: 2.2-3.8 s against 1.5-2.1 s inlined), so no entry
    # materializes a CTE.
    "tpcds_q04",
    "sim_ivfpq",
    # r09: the reference ships a dedicated distributed-sort benchto suite
    # (presto-benchto-benchmarks/.../distributed_sort.yaml) — time our
    # range-partition + local-sort + prefix-offset global sort the same way.
    "sort_distributed_sample",
    # r10: the distrank scalable twins (VERDICT r09 #3) under timing —
    # the no-single-partition-window RFM/ABC paths, benched so their
    # range+offset overhead vs the classic window forms is a recorded
    # number, not a design claim.
    "events_rfm_scores_scalable",
    "part_abc_scalable",
    # r10b: the 1-bit ANN rung (XOR+popcount shortlist + bounded rerank),
    # the CCNet segment-dedup pass (corpus-frequent-set broadcast), and
    # the Hilbert run report (16-level integer chain + distrank path) —
    # all new operators whose scale claims deserve a recorded time.
    "sim_bq_hamming",
    "text_segment_dedup",
    "layout_hilbert",
    # r10c: the SymSpell deletion-neighborhood typo join (keyed blocking
    # vs the oracle's quadratic — the recorded time IS the design claim)
    # and the trigram-novelty scorer (the one genuinely data-linear
    # explode stage in the text family, worth tracking across rounds).
    "dedup_fuzzy_del1",
    "text_ngram_novelty",
    # r11: the bucket-blocked interval join (the theta-join rewrite whose
    # recorded time IS the design claim, like fuzzy_del1) and the in-plan
    # bigram-LM scorer (two model joins over the instance stream — the
    # TF-IDF family's heaviest shape).
    "events_interval_overlap",
    "text_lm_likelihood",
    # r11d: the two iterative-loop shapes added this round, benched so
    # their per-round fixed costs are recorded numbers — the GD trainer
    # (3 full-data aggregations + 3 bounded collects) and the multi-source
    # BFS (per-superstep join/anti-join/checkpoint on the repeat graph;
    # its substrate groupBy is the same floor the whole graph family pays).
    "ml_logistic_regression",
    "graph_bfs_distances",
    # r11h/j: the star-contraction CC (signature-probed fixed point —
    # the iterative-join shape whose recorded time IS the O(log n)
    # claim vs min-label's O(diameter)) and the LPA+modularity plan
    # (3 fixed rounds + double label join, the graph family's heaviest
    # composite).
    "dedup_cluster_bigstar",
    "graph_modularity",
    # r11r: HITS is the join-bound power-iteration shape (4 edge⋈score
    # half-steps — alternating join keys, so no co-partitioning rescue),
    # the heaviest fixed-sweep graph composite; its recorded time is the
    # floor the iterative-join family pays per round.
    "graph_hits",
    # r12: the round's heaviest new shapes, benched so their scale
    # claims carry recorded numbers — the stdlib FLAC codec roundtrip
    # (CPU-bound Arrow stages spread across executors), the blocked
    # kNN-graph builder (cell-equi self-join + Arrow L2), and the
    # seeded-proximity PageRank (per-round join+groupBy, zero driver
    # traffic).
    "multimodal_flac_roundtrip",
    "sim_knn_graph",
    "graph_ppr",
    # r13: the round's flagship new shapes under timing — the MMR
    # diversifier (one Arrow cosine pass + K−1 greedy TakeOrdered rounds:
    # the recorded time IS the "no quadratic rerank" claim), the
    # deterministic-LCG random walks (per-step frontier⋈rank-indexed
    # adjacency), and the degree-ordered k-truss peeling (VERDICT r12 #1:
    # the reoriented wedge join's recorded time replaces the 2x-walk
    # shape it halved).
    "sim_mmr_diversify",
    "graph_random_walks",
    "graph_ktruss",
]

# Local-iteration escape hatch: BENCH_ONLY=a,b,c restricts the suite to a
# subset (the driver never sets it, so the recorded artifact is unaffected).
if os.environ.get("BENCH_ONLY"):
    _only = [q.strip() for q in os.environ["BENCH_ONLY"].split(",") if q.strip()]
    HEADLINE = [q for q in HEADLINE if q in _only] or _only


def _jvm_gc_ms(spark) -> int:
    """Cumulative JVM garbage-collection time (ms) across all collectors —
    per-run deltas distinguish a GC burst from a genuinely slower plan."""
    beans = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans()
    )
    return int(sum(b.getCollectionTime() for b in beans))


def _jvm_jit_ms(spark) -> int:
    """Cumulative JIT compilation time (ms) — a per-run spike with an
    UNCHANGED plan hash and flat GC is a C2 recompilation/deopt burst."""
    cb = (
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getCompilationMXBean()
    )
    return int(cb.getTotalCompilationTime())


def _last_plan_hash(spark) -> str | None:
    """md5 (12 hex) of the most recent execution's physical-plan
    description from the SQL status store — post-AQE ("== Final Plan =="
    included), so a run whose hash differs from its siblings is an AQE
    plan flip, not a JIT/GC burst or host noise."""
    try:
        ss = (
            spark._jvm.org.apache.spark.sql.SparkSession.getActiveSession()
            .get().sharedState()
        )
        lst = ss.statusStore().executionsList()
        n = lst.size()
        if n == 0:
            return None
        desc = lst.apply(n - 1).physicalPlanDescription()
        # normalize run-varying identifiers so structure-identical plans
        # hash equal: exprIds (#338L), checkpoint RDD ids, AQE statistics,
        # and lambda-variable names (`lambda x_1#` vs `lambda x_2#` is a
        # session-global counter, NOT a plan change)
        desc = re.sub(r"lambda [A-Za-z_]+_\d+", "lambda x_", desc)
        desc = re.sub(r"#\d+", "#", desc)
        desc = re.sub(r"RDD\[\d+\]", "RDD[]", desc)
        desc = re.sub(r"Statistics\([^)]*\)", "Statistics()", desc)
        desc = re.sub(r"\[plan_id=\d+\]", "[plan_id=]", desc)
        desc = re.sub(r"cachedrdd-\d+", "cachedrdd-", desc)
        return hashlib.md5(desc.encode()).hexdigest()[:12]
    except Exception:
        return None


def _measure(name: str) -> dict:
    """Prewarm + measure one query in the current session; returns
    samples plus per-run GC-delta and final-plan-hash evidence."""
    from presto_db_spark.registry import all_queries
    from presto_db_spark.session import get_spark

    spark = get_spark("presto_db_spark_bench")
    fn = all_queries()[name]
    # JVM/session warmup outside any query's timing.
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    for _ in range(PREWARM_RUNS):
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    samples: list[float] = []
    gc_ms: list[int] = []
    jit_ms: list[int] = []
    plan_hashes: list[str | None] = []
    for _ in range(RUNS):
        g0 = _jvm_gc_ms(spark)
        j0 = _jvm_jit_ms(spark)
        t0 = time.perf_counter()
        # noop sink = full execution without driver-side materialization
        # cost (the reference's DevNullOperator / blackhole pattern).
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        samples.append(round(time.perf_counter() - t0, 4))
        gc_ms.append(_jvm_gc_ms(spark) - g0)
        jit_ms.append(_jvm_jit_ms(spark) - j0)
        plan_hashes.append(_last_plan_hash(spark))
    return {
        "samples": samples,
        "gc_ms": gc_ms,
        "jit_ms": jit_ms,
        "plan_hashes": plan_hashes,
    }


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    times: dict[str, float] = {}
    spread: dict[str, dict] = {}
    for name in HEADLINE:
        res = _measure(name)
        samples = res["samples"]
        times[name] = round(statistics.median(samples), 4)
        spread[name] = {
            "min": round(min(samples), 4),
            "median": times[name],
            "max": round(max(samples), 4),
            **res,
        }
    # The bulky per-query spread goes on its OWN earlier line: once it rode
    # on the final line, the driver's stdout-tail buffer truncated the head
    # of that line (including "value").
    print("BENCH_DETAIL " + json.dumps({"spread": spread}))
    print(
        json.dumps(
            {
                "metric": "headline_suite_median_total",
                "value": round(sum(times.values()), 4),
                "unit": "sec",
                "queries": times,
                "sf": float(sf),
                "runs": RUNS,
                "prewarm": PREWARM_RUNS,
            }
        )
    )


if __name__ == "__main__":
    main()
