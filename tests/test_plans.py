"""Physical-plan shape assertions — the reference's plan-test layer
(SURVEY.md §5: ``TestLogicalPlanner``, ``TestPredicatePushdown``), adapted
to the properties that matter at 100 TB on Spark: pushdown reaches the scan,
columns are pruned, joins broadcast small dims, partial aggregation and
window-group-limit rewrites fire."""

from __future__ import annotations

import re

from presto_db_spark.registry import all_queries


def _plan(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def test_q06_filter_pushdown_and_pruning(spark, sf_dir):
    """q06 (scan-filter-agg spine): range predicates must reach the parquet
    scan and only the 4 referenced columns may be read."""
    df = all_queries()["tpch_q06"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_shipdate", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q05_broadcasts_dimensions(spark, sf_dir):
    """Multi-way star join: at sf0.001 every dimension side must broadcast
    (no full shuffle join for region/nation/customer/supplier)."""
    df = all_queries()["tpch_q05"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan


def test_q01_partial_aggregation(spark, sf_dir):
    """Aggregation must be two-phase: partial (map-side) before the
    exchange, final after — the reference's PARTIAL/FINAL Step."""
    df = all_queries()["tpch_q01"](spark, sf_dir)
    plan = _plan(df, "simple")
    agg_exchange_agg = re.search(
        r"HashAggregate.*\n(?:.*\n)*?.*Exchange.*\n(?:.*\n)*?.*HashAggregate", plan
    )
    assert agg_exchange_agg, plan


def test_topn_uses_take_ordered(spark, sf_dir):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (distributed
    partial top-k), not a global sort."""
    df = all_queries()["tpch_q10"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "TakeOrderedAndProject" in plan, plan


def test_window_group_limit(spark, sf_dir):
    """rank() <= k filter must trigger the WindowGroupLimit rewrite
    (reference: WindowFilterPushDown → TopNRowNumberOperator)."""
    df = all_queries()["win_topn_per_group"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "WindowGroupLimit" in plan, plan


def test_semi_join_for_exists(spark, sf_dir):
    df = all_queries()["subq_exists"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_global_sort_is_range_partitioned(spark, sf_dir):
    """ORDER BY without LIMIT must plan as range-partition + per-partition
    sort (the reference's distributed_sort, strictly better by default)."""
    from presto_db_spark.catalog import load_table

    df = load_table(spark, sf_dir, "lineitem").orderBy("l_extendedprice")
    plan = _plan(df, "simple")
    assert "rangepartitioning" in plan.lower(), plan
    assert "Sort" in plan


def test_whole_stage_codegen_everywhere(spark, sf_dir):
    """The function corpus must stay inside WholeStageCodegen (no Python
    eval nodes in any oracle-checked scalar query)."""
    for name in ["func_string", "func_math_extra", "func_map", "func_binary_bitwise"]:
        df = all_queries()[name](spark, sf_dir)
        plan = _plan(df, "simple")
        assert "*(" in plan, name  # '*(n)' prefix marks WholeStageCodegen spans
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_funnel_joins_on_bucket_not_residual(spark, sf_dir):
    """events_funnel must route through the bucketized range_join: the join
    keys include the time bucket (so per-reducer candidates are bounded by
    bucket width), and the plan must NOT be a bare user_id equi-join with
    the 24h window left as a residual filter (quadratic within hot users)."""
    df = all_queries()["events_funnel"](spark, sf_dir)
    plan = _plan(df)
    assert "_rj_bucket" in plan, plan


def test_ngram_jaccard_block_cap(spark, sf_dir):
    """dedup_ngram_jaccard must cap blocks before the pairwise join — the
    row_number window over the block key has to appear below the join."""
    df = all_queries()["dedup_ngram_jaccard"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "row_number" in plan, plan


def test_tpcds_star_joins_broadcast(spark, sf_dir):
    """The adapted TPC-DS star joins must broadcast their dimension sides
    at test scale — no sort-merge join anywhere in q03/q19/q52."""
    for name in ["tpcds_q03", "tpcds_q19", "tpcds_q52"]:
        plan = _plan(all_queries()[name](spark, sf_dir), "simple")
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "BroadcastHashJoin" in plan, (name, plan)


def test_polygon_join_has_no_cross_join(spark, sf_dir):
    """geo_polygon_join must meet candidates in the cell equi-join — a
    BroadcastNestedLoopJoin/CartesianProduct in the plan would mean the
    blocking degenerated to the naive theta-join."""
    df = all_queries()["geo_polygon_join"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dialect_literal_formats_stay_jvm(spark, sf_dir):
    """Pasted Presto SQL with literal-format date_parse/parse_datetime/
    date_format/json_size must compile to pure JVM expressions — no
    BatchEvalPython (row-at-a-time Python) anywhere in the plan. The
    registered fallback UDFs may serve only non-literal formats."""
    from presto_db_spark.engine import Engine

    eng = Engine(spark, sf_dir=sf_dir)
    df = eng.sql(
        "SELECT date_parse(CAST(o_orderdate AS STRING), '%Y-%m-%d %H:%i:%s') a, "
        "       date_format(o_orderdate, '%Y-%m') b, "
        "       parse_datetime(CAST(o_orderdate AS STRING), 'yyyy-MM-dd HH:mm:ss') c, "
        "       json_size('{\"a\": [1,2,3]}', '$.a') d "
        "FROM orders"
    )
    plan = _plan(df, "simple")
    assert "BatchEvalPython" not in plan, plan
    assert "PythonUDF" not in plan, plan


def _walk_physical(node, out):
    """Collect nodeNames from an executed plan, descending through AQE
    wrappers and query stages (cached-relation INTERNALS are not part of
    the live tree, so UDFs hidden behind a checkpoint don't appear)."""
    out.append(node.nodeName())
    for i in range(node.children().size()):
        _walk_physical(node.children().apply(i), out)
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk_physical(node.executedPlan(), out)
    if cls.endswith("QueryStageExec"):
        _walk_physical(node.plan(), out)


def test_minhash_signature_single_execution(spark, sf_dir):
    """The full-corpus MinHash signature stage must execute exactly ONCE
    (r04 verdict: it ran 4x — once per consumer — because AQE's broadcast
    self-join leaves no reusable exchange). The signature now lives behind
    a lazy localCheckpoint: the executed plan contains NO live Python stage
    carrying _minhash_mh_impl (consumers read the checkpointed narrow
    rows). The candidate gram fetch is checkpointed the same way (it
    fans into both sides of the pair join), so the live plan carries NO
    Python stage at all — every UDF ran exactly once behind a barrier."""
    from presto_db_spark.operators.dedup import dedup_minhash_lsh

    df = dedup_minhash_lsh(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan()
    live = []
    _walk_physical(plan, live)
    assert live.count("ArrowEvalPython") == 0, live
    s = plan.toString()
    assert "_minhash_mh_impl" not in s, "signature UDF re-executes in live plan"
    assert "_minhash_grams_impl" not in s, "grams UDF re-executes in live plan"


def test_tpcds_q72_fact_to_fact_no_cartesian(spark, sf_dir):
    """q72 (the fact-to-fact inventory join): the only safe plan is the
    equi-join on (partkey, week-bucket) with the quantity inequality as a
    residual — never a cartesian/nested-loop between the two fact sides."""
    from presto_db_spark.operators import tpcds

    df = tpcds.QUERIES["tpcds_q72"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpcds_q64_dims_broadcast(spark, sf_dir):
    """q64 (widest query in the corpus): every dimension side of the
    cross_sales spine must broadcast at test scale — the fact never
    shuffles for a dim. And the year self-join must consume the PINNED
    cross_sales checkpoint (r13, VERDICT r12 #5): the heavy 7-join +
    aggregate subplan executes once, never once per self-join side — so
    the final plan reads the checkpoint (Scan ExistingRDD) and contains
    ZERO parquet scans of its own."""
    from presto_db_spark.operators import tpcds

    spine = _plan(tpcds._q64_cross_sales(spark, sf_dir), "simple")
    assert spine.count("BroadcastHashJoin") >= 3, spine
    assert "CartesianProduct" not in spine

    final = _plan(tpcds.QUERIES["tpcds_q64"](spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in final, final  # the pin is present
    assert "Scan parquet" not in final, final  # no re-execution per side
    assert "CartesianProduct" not in final, final


def test_ship_orders_semi_anti_shape(spark, sf_dir):
    """q16/q94: the multi-warehouse EXISTS must plan as a semi join and
    the never-returned NOT EXISTS as an anti join — not subquery
    re-execution."""
    from presto_db_spark.operators import tpcds

    df = tpcds.QUERIES["tpcds_q16"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "LeftSemi" in plan or "Semi" in plan
    assert "LeftAnti" in plan or "Anti" in plan


def test_sim_ivf_assignment_single_execution(spark, sf_dir):
    """sim_ivf (r04 verdict: bimodal re-execution): the Arrow assignment
    pass over the corpus must appear exactly once in the executed plan —
    the query-side probe lists are computed driver-side so the broadcast
    branch cannot re-run the UDF stage — and the only other Python stage
    is the candidate-subset cosine rerank."""
    from presto_db_spark.operators.similarity import sim_ivf

    df = sim_ivf(spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan()
    live = []
    _walk_physical(plan, live)
    s = plan.toString()
    assert s.count("_assign_probe") == 1, "assignment UDF must run exactly once"
    assert live.count("ArrowEvalPython") == 2, live


def test_srp_bucket_single_execution(spark, sf_dir):
    """sim_ann_lsh / dedup_embedding_cosine: the SRP bucket UDF fans into
    both self-join sides and its isnotnull filter pushes through the
    repartition exchange — unchecked, the Arrow stage ran 4x. Behind the
    checkpoint barrier the live plan carries NO bucket UDF, and the
    cosine rerank runs exactly once (the threshold filter must not
    re-evaluate it)."""
    from presto_db_spark.operators import similarity as S

    for name, cosine_runs in [("sim_ann_lsh", 1), ("dedup_embedding_cosine", 0)]:
        df = S.QUERIES[name](spark, sf_dir)
        df.count()
        s = df._jdf.queryExecution().executedPlan().toString()
        assert s.count("_srp_bucket_impl") == 0, f"{name}: bucket UDF re-executes"
        assert s.count("_cosine_impl") == cosine_runs, f"{name}: cosine duplicated"


def test_no_cartesian_across_tpc_corpus(spark, sf_dir):
    """Blanket plan-hygiene gate over ALL 125 TPC-H + TPC-DS queries: no
    CartesianProduct anywhere (BroadcastNestedLoopJoin is allowed — it is
    the 1-row scalar-subquery attach pattern). Sole exception: tpcds_q77,
    whose CROSS JOIN of the catalog sales/returns CTEs is the reference's
    own query text (tpcds/q77.sql) — and there both sides must be grouped
    aggregates (bounded by channel-key cardinality), never raw scans."""
    from presto_db_spark.operators import tpcds, tpch

    offenders = []
    for mod in (tpch, tpcds):
        for name, fn in mod.QUERIES.items():
            plan = fn(spark, sf_dir)._jdf.queryExecution().sparkPlan().toString()
            if "CartesianProduct" not in plan:
                continue
            if name == "tpcds_q77":
                seg = plan.split("CartesianProduct", 1)[1]
                assert "HashAggregate" in seg.split("FileScan", 1)[0], (
                    "q77 cross side is not a grouped aggregate")
                continue
            offenders.append(name)
    assert not offenders, f"unexpected CartesianProduct in: {offenders}"


def test_bloom_prefilter_fact_never_shuffles(spark, sf_dir):
    """join_bloom_prefilter (VERDICT r08 #2): the docstring's scale claim
    is 'the fact table never shuffles' — the bloom position set and the
    dim both broadcast, so the ONLY exchange allowed in the plan is the
    SinglePartition one feeding the final global aggregate. Three
    broadcast LEFT SEMI hash joins (one per bloom hash) + the broadcast
    dim join; never a sort-merge join (which would shuffle orders)."""
    df = all_queries()["join_bloom_prefilter"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "SortMergeJoin" not in plan, plan
    # every hash exchange in the plan must be the dim-side distinct on the
    # bloom position column (≤ m·k rows) — never a fact column
    exchanged_cols = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert exchanged_cols and set(exchanged_cols) == {"pos"}, exchanged_cols
    assert len(re.findall(r"BroadcastHashJoin .*LeftSemi", plan)) == 3, plan
    assert plan.count("BroadcastHashJoin") == 4, plan


def test_scd2_merge_apply_broadcasts_affected_keys(spark, sf_dir):
    """scd2_merge_apply (VERDICT r08 #2): 'cost ∝ changed keys' rests on
    the affected-key set broadcasting into BOTH the untouched-branch anti
    join and the touched-branch semi join — a sort-merge for either would
    shuffle the full dimension."""
    df = all_queries()["scd2_merge_apply"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan
    assert "SortMergeJoin" not in plan, plan


def test_r08_ops_no_cartesian_and_bpe_stays_jvm(spark, sf_dir):
    """Blanket r08 gates (VERDICT r08 #2): the Hamming band join, the RRF
    fusion, and the BPE merge must never degenerate to a CartesianProduct
    (sim_hybrid_rrf's Q-bounded BroadcastNestedLoopJoin halves are
    intentional and allowed); text_bpe_merge_apply additionally claims
    all-JVM execution — no Python eval stage of any kind."""
    for name in [
        "multimodal_phash_near_dup",
        "sim_hybrid_rrf",
        "text_bpe_merge_apply",
    ]:
        plan = _plan(all_queries()[name](spark, sf_dir), "simple")
        assert "CartesianProduct" not in plan, (name, plan)
    bpe = _plan(all_queries()["text_bpe_merge_apply"](spark, sf_dir), "simple")
    assert "BatchEvalPython" not in bpe and "ArrowEvalPython" not in bpe, bpe
    # the 3-round trainer chains the same plan — all-JVM, no cartesian,
    # and every merge cross-join is the one-row broadcast form
    rounds = _plan(all_queries()["text_bpe_train_rounds"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in rounds, rounds
    assert "BatchEvalPython" not in rounds and "ArrowEvalPython" not in rounds
    assert "BroadcastNestedLoopJoin" not in _plan(
        all_queries()["multimodal_phash_near_dup"](spark, sf_dir), "simple"
    )


def test_r09_single_aggregate_ops_plan_shape(spark, sf_dir):
    """events_downsample_m4 / cdc_apply_changes are one-aggregate
    reductions: exactly one hash exchange (the group key), partial
    aggregation before it (map-side combine is the 100 TB claim), no
    join, no window, no Python. The aggregate is Sort- not Hash- based:
    min_by/max_by's string buffer is not hash-mutable — the shuffle
    count and partial-combine property are what the scale claim needs."""
    for name in ["events_downsample_m4", "cdc_apply_changes"]:
        plan = _plan(all_queries()[name](spark, sf_dir), "simple")
        assert plan.count("Exchange hashpartitioning") == 1, (name, plan)
        assert re.search(
            r"Aggregate.*\n(?:.*\n)*?.*Exchange.*\n(?:.*\n)*?.*Aggregate\(key",
            plan,
        ), (name, plan)
        assert "partial_min_by" in plan or "partial_max_by" in plan, (name, plan)
        assert "Join" not in plan and "Window" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_windowfunnel_and_rfm_plan_shape(spark, sf_dir):
    """events_windowfunnel: anchored per-step joins must hash-join (never
    nested-loop/cartesian — the anchor sides are one row per user) and
    stay JVM-side. events_rfm_scores: one hash exchange for the purchase
    groupBy; the three ntile windows run on customer-cardinality rows."""
    plan = _plan(all_queries()["events_windowfunnel"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    rfm = _plan(all_queries()["events_rfm_scores"](spark, sf_dir), "simple")
    assert rfm.count("Exchange hashpartitioning") == 1, rfm
    assert "Join" not in rfm and "EvalPython" not in rfm, rfm


def test_graph_ops_plan_shape(spark, sf_dir):
    """graph_triangle_count: wedge + closing joins must be hash equi-joins
    (a cartesian/nested-loop would mean the orientation join degenerated);
    basket_association_rules: the min-support filter must sit BELOW the
    scoring joins (prune-before-join is the scale claim) and the single-row
    order count must come in as a broadcast."""
    tri = _plan(all_queries()["graph_triangle_count"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in tri, tri
    # exactly the two 1-row scalar attaches (n_nodes, n_edges) may plan as
    # nested-loop; the wedge and closing joins must be hash equi-joins
    assert tri.count("BroadcastNestedLoopJoin") == 2, tri
    assert tri.count("BroadcastHashJoin") + tri.count("SortMergeJoin") >= 2, tri
    rules = _plan(all_queries()["basket_association_rules"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in rules, rules
    # the only nested-loop allowed is the 1-row order-count broadcast
    assert rules.count("BroadcastNestedLoopJoin") <= 1, rules
    # min-support prune exists as a real Filter on the pair aggregate
    # (HAVING pushed below the scoring joins)
    assert re.search(r"Filter \(supp_xy#\d+L? >= 2\)", rules), rules


def test_mrl_rerank_no_cartesian_and_group_limits(spark, sf_dir):
    """sim_mrl_prefix_rerank: the coarse pass is the broadcast-query
    brute-force shape (BroadcastNestedLoopJoin on the != predicate is the
    accepted Q-bounded pattern, CartesianProduct is not), and both the
    shortlist and the final top-k must plan as WindowGroupLimit."""
    plan = _plan(all_queries()["sim_mrl_prefix_rerank"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_pq_rerank_broadcasts_and_no_cartesian(spark, sf_dir):
    """sim_pq_adc: the shortlist-driven rerank joins must broadcast (the
    shortlist is Q·PQ_SHORTLIST rows) and nothing may degenerate to a
    CartesianProduct; dedup_incremental's band join must likewise stay an
    equi-join."""
    plans = {
        name: _plan(all_queries()[name](spark, sf_dir), "simple")
        for name in ["sim_pq_adc", "dedup_incremental"]
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, (name, plan)
    assert "BroadcastHashJoin" in plans["sim_pq_adc"], plans["sim_pq_adc"]
    assert "SortMergeJoin" not in plans["sim_pq_adc"], plans["sim_pq_adc"]


def test_distrank_scalable_ops_plan_shape(spark, sf_dir):
    """events_rfm_scores_scalable / part_abc_scalable (VERDICT r09 #3):
    the scale claim is NO window ever orders the full table on one
    partition. Assertable residue in the final plan: every window spec
    is __pid-scoped (the broadcast prefix-offset windows over
    #partitions-row counts), every SinglePartition exchange sits
    directly above a __pid-keyed or counts-total aggregate (never the
    data), the ntile is arithmetic (no ntile window function anywhere),
    and the only nested-loop joins are the 1-row totals broadcasts.
    text_dsir_weights joined the gate in r12 (VERDICT r11 #1): its
    top-25% selection rank moved off the single-partition
    row_number()/count() window onto the same distrank device."""
    plans = {
        name: _plan(all_queries()[name](spark, sf_dir), "simple")
        for name in [
            "events_rfm_scores_scalable",
            "part_abc_scalable",
            "text_dsir_weights",
        ]
    }
    for name, plan in plans.items():
        assert "ntile" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "EvalPython" not in plan, (name, plan)
        for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
            assert "__pid" in spec, (name, spec)
        singles = len(re.findall(r"Exchange SinglePartition", plan))
        gated = len(
            re.findall(
                r"Exchange SinglePartition[^\n]*\n[\s:]*\+- HashAggregate\("
                r"keys=\[(?:__pid#\d+\]|\], functions=\[partial_)",
                plan,
            )
        )
        assert singles == gated, (name, singles, gated, plan)
    # the 1-row totals attach: one per helper call
    assert plans["part_abc_scalable"].count("BroadcastNestedLoopJoin") == 1
    assert plans["events_rfm_scores_scalable"].count("BroadcastNestedLoopJoin") == 3
    assert plans["text_dsir_weights"].count("BroadcastNestedLoopJoin") == 1
    # arithmetic ntile actually present in the rfm projection
    assert "pmod(__n_total" in plans["events_rfm_scores_scalable"]


def test_anomaly_zscore_plan_shape(spark, sf_dir):
    """events_anomaly_zscore (VERDICT r09 #4): one user_id hash exchange,
    the trailing window is a BOUNDED row frame (-20 .. -1 — never an
    unbounded running state), exact-integer filter rides the window
    output, no join, no Python stage."""
    plan = _plan(all_queries()["events_anomaly_zscore"](spark, sf_dir), "simple")
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning(user_id" in plan, plan
    assert "RowFrame, -20, -1" in plan, plan
    assert "Join" not in plan and "EvalPython" not in plan, plan


def test_cdc_snapshot_diff_plan_shape(spark, sf_dir):
    """cdc_snapshot_diff (VERDICT r09 #4): both snapshot folds hash-
    partition on user_id with map-side partial max_by, and the FULL
    OUTER join reuses that partitioning — exactly two exchanges in the
    whole plan, both on user_id."""
    plan = _plan(all_queries()["cdc_snapshot_diff"](spark, sf_dir), "simple")
    cols = re.findall(r"Exchange hashpartitioning\((\w+)#", plan)
    assert cols == ["user_id", "user_id"], (cols, plan)
    assert plan.count("Exchange") == 2, plan
    assert "FullOuter" in plan, plan
    assert "partial_max_by" in plan, plan
    assert "EvalPython" not in plan, plan


def test_json_rollup_plan_shape(spark, sf_dir):
    """events_json_props_rollup (VERDICT r09 #4): the JSONPath extract is
    JVM codegen (get_json_object in the scan-side projection, no Python
    stage), aggregation is partial-before-exchange, and the two
    exchanges are the count-distinct expansion's — both on the rollup
    keys, nothing SinglePartition. Scan reads only the 4 used columns."""
    plan = _plan(all_queries()["events_json_props_rollup"](spark, sf_dir), "simple")
    assert "get_json_object" in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("Exchange") == 2 and "SinglePartition" not in plan, plan
    assert "partial_count" in plan, plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"user_id", "event_type", "value", "props"}, cols


def test_abc_classic_single_window_shape(spark, sf_dir):
    """part_abc_classification (VERDICT r09 #4): pin the documented
    shape — one part-key hash exchange (map-side combined revenue
    groupBy), ONE SinglePartition exchange feeding the part-cardinality
    cumulative windows, and nothing else; a regression to a second data
    shuffle fails here."""
    plan = _plan(all_queries()["part_abc_classification"](spark, sf_dir), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert plan.count("Exchange") == 2, plan
    assert "partial_sum" in plan and "EvalPython" not in plan, plan


def test_tpcds_second_variants_plan_shape(spark, sf_dir):
    """The four r10 benchto second variants (VERDICT r09 #5) keep their
    _1 twins' scale properties: IN-gates plan as semi-joins (never a
    cartesian), the scalar avg/max thresholds attach as 1-row broadcast
    nested loops at most, and the year-over-year / Jan-Feb self-joins
    are equi-joins."""
    plans = {
        name: _plan(all_queries()[name](spark, sf_dir), "simple")
        for name in ["tpcds_q14_2", "tpcds_q23_2", "tpcds_q24_2", "tpcds_q39_2"]
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, (name, plan)
    # cross_items gate: one semi-join per year arm
    assert plans["tpcds_q14_2"].count("LeftSemi") >= 2, plans["tpcds_q14_2"]
    # frequent-items + best-customers gates: two semi-joins per channel arm
    assert plans["tpcds_q23_2"].count("LeftSemi") >= 4, plans["tpcds_q23_2"]
    # the 5%-of-average / cov screens stay scalar broadcasts, not joins
    assert plans["tpcds_q24_2"].count("BroadcastNestedLoopJoin") <= 1
    assert plans["tpcds_q39_2"].count("BroadcastNestedLoopJoin") == 0


def test_bq_hamming_plan_shape(spark, sf_dir):
    """sim_bq_hamming: the Hamming pass is pure integer JVM (bit_count
    over XOR-ed packed words — no Python until the rerank), exactly ONE
    Arrow stage exists (the sanctioned rerank cosine) and it sits above
    the shortlist join (Q x BQ_SHORTLIST rows only), both per-query
    top-k windows take the WindowGroupLimit rewrite, and nothing plans
    as a cartesian product."""
    plan = _plan(all_queries()["sim_bq_hamming"](spark, sf_dir), "simple")
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "bit_count" in plan, plan
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    # the Arrow rerank consumes the joined shortlist, never the raw
    # corpus pairs: the hamming column is already present below it
    arrow_at = plan.index("ArrowEvalPython")
    assert "hamming" in plan[arrow_at:], plan


def test_count_min_plan_shape(spark, sf_dir):
    """sketch_count_min: token counts are the only corpus-wide shuffle
    (map-side partial_count before the word exchange); the sketch is an
    aggregate over the WORD-COUNT table, not the raw stream; the
    tracked-key ranking plans as TakeOrderedAndProject (distributed
    top-k — never a single-partition sort of the vocabulary); the
    256-cell sketch broadcasts; no Python anywhere."""
    plan = _plan(all_queries()["sketch_count_min"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "TakeOrderedAndProject(limit=10" in plan, plan
    assert re.search(r"partial_count\(1\)[^\n]*\n[^\n]*Generate explode\(split", plan) or re.search(
        r"HashAggregate\(keys=\[word#\d+\], functions=\[partial_count", plan
    ), plan
    # sketch cells broadcast to the estimate join
    assert re.search(
        r"BroadcastExchange[^\n]*\n[\s:+-]*HashAggregate\(keys=\[j#\d+, bucket#\d+L?\]",
        plan,
    ), plan


def test_hilbert_plan_shape(spark, sf_dir):
    """layout_hilbert: the Hilbert key is exactly ONE Arrow stage (the
    16-level vectorized pass — the JVM CASE-chain twin measured
    JIT-deopt-unstable, see _hilbert_impl; no other Python anywhere);
    the run report takes the distrank rank-only path — every window is
    __pid-scoped and every SinglePartition exchange sits above a
    __pid/counts aggregate, never the data (same gate as the distrank
    twins). The key pass runs inside the global_index checkpoint, so
    the visible plan reads the materialized blocks: assert the Arrow
    stage count on the UNCHECKPOINTED keyed frame instead."""
    from presto_db_spark.operators import warehouse as wh

    keyed_plan = _plan(wh._hkeyed_orders(spark, sf_dir), "simple")
    assert keyed_plan.count("ArrowEvalPython") == 1, keyed_plan
    assert "BatchEvalPython" not in keyed_plan, keyed_plan
    plan = _plan(all_queries()["layout_hilbert"](spark, sf_dir), "simple")
    assert "BatchEvalPython" not in plan and "ntile" not in plan, plan
    for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
        assert "__pid" in spec, spec
    singles = len(re.findall(r"Exchange SinglePartition", plan))
    gated = len(
        re.findall(
            r"Exchange SinglePartition[^\n]*\n[\s:]*\+- HashAggregate\("
            r"keys=\[(?:__pid#\d+\]|\], functions=\[partial_)",
            plan,
        )
    )
    assert singles == gated, (singles, gated, plan)


def test_segment_dedup_plan_shape(spark, sf_dir):
    """text_segment_dedup: the flag join's build side is the FILTERED
    frequent-segment set (the corpus-relative threshold filter sits
    under the BroadcastExchange), joined LEFT OUTER so the corpus side
    streams; the per-doc rollup is a map-side-combined hash aggregate;
    no Python."""
    plan = _plan(all_queries()["text_segment_dedup"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "LeftOuter, BuildRight" in plan, plan
    # the corpus-relative threshold prunes the build side BELOW the
    # broadcast (as a Filter or folded into the scalar-attach join cond)
    bx = plan.index("LeftOuter, BuildRight")
    assert re.search(r"\(n_docs#\d+L \* 100\) >= \(n_docs_total#\d+L \* \d+\)", plan[bx:]), plan[bx:]
    assert "partial_count(1), partial_sum(dup" in plan, plan


def test_attribution_dau_cusum_patchify_plan_shape(spark, sf_dir, monkeypatch):
    """Round-10b event/multimodal ops — pin each scale claim:

    * events_attribution: the touch↔conversion pairing is the bucketized
      range join (equi on (user_id, _rj_bucket), never a residual-only
      theta/cartesian); all three credit windows share the ONE pid
      exchange; no Python.
    * events_cusum_changepoint: both CUSUM windows ride a single
      (user_id, event_type) exchange with the same (ts, event_id) order;
      the target table broadcasts; no Python.
    * events_dau_mau: no cartesian/theta anywhere — the 30-day window is
      the contribution explode + broadcast date-dim semi-joins; every
      exchange key is a date or (date, user) footprint; no Python.
    * multimodal_patchify: exactly two Arrow stages (encode, patchify)
      and no exchange in the frame cut before the presentation orderBy;
      after the cut no Arrow stage is live (the sort's range sampler
      would run it twice) and the only exchange is that orderBy.
    """
    plans = {
        n: _plan(all_queries()[n](spark, sf_dir), "simple")
        for n in [
            "events_attribution",
            "events_cusum_changepoint",
            "events_dau_mau",
        ]
    }
    cut = []
    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint
    monkeypatch.setattr(
        frame_cls,
        "localCheckpoint",
        lambda self, *a, **k: cut.append(self) or checkpoint(self, *a, **k),
    )
    plans["multimodal_patchify"] = _plan(
        all_queries()["multimodal_patchify"](spark, sf_dir), "simple"
    )
    for n, p in plans.items():
        assert "CartesianProduct" not in p, (n, p)
        assert "BroadcastNestedLoopJoin" not in p, (n, p)

    p = plans["events_attribution"]
    assert "EvalPython" not in p, p
    assert re.search(r"BroadcastHashJoin \[user_id#\d+L, _rj_bucket#\d+L\]", p), p
    specs = re.findall(r"windowspecdefinition\((\w+)#", p)
    assert specs and set(specs) == {"pid"}, specs
    assert len(re.findall(r"Exchange hashpartitioning\(pid#", p)) == 1, p

    p = plans["events_cusum_changepoint"]
    assert "EvalPython" not in p, p
    specs = re.findall(r"windowspecdefinition\((\w+)#\d+L?, (\w+)#", p)
    assert specs and set(specs) == {("user_id", "event_type")}, specs
    assert (
        len(re.findall(r"Exchange hashpartitioning\(user_id#\d+L, event_type#", p))
        == 1
    ), p

    p = plans["events_dau_mau"]
    assert "EvalPython" not in p, p
    assert plans["events_dau_mau"].count("BroadcastHashJoin") >= 2, p

    (before,) = cut
    p = _plan(before, "simple")
    assert p.count("MapInPandas") == 2, p
    assert "Exchange" not in p, p
    p = plans["multimodal_patchify"]
    assert p.count("MapInPandas") == 0, p
    assert len(re.findall(r"Exchange (?!rangepartitioning)", p)) == 0, p


def test_path_analysis_plan_shape(spark, sf_dir):
    """events_path_analysis: both lead() windows share ONE user_id
    exchange; the top-k is TakeOrderedAndProject (path vocabulary never
    sorts on one partition as data); no Python."""
    plan = _plan(all_queries()["events_path_analysis"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning\(user_id#", plan)) == 1, plan
    assert "TakeOrderedAndProject(limit=15" in plan, plan


def test_mv_incremental_plan_shape(spark, sf_dir):
    """mv_incremental_refresh: the affected-key fetch against the base
    snapshot is a broadcast LEFT SEMI (the scd2_merge_apply device —
    the base is never reshuffled by the delta); no cartesian, no
    Python; every full-outer merge joins on the 10-row cohort key."""
    plan = _plan(all_queries()["mv_incremental_refresh"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"BroadcastHashJoin \[user_id#\d+L\], \[user_id#\d+L\], LeftSemi", plan), plan
    assert plan.count("FullOuter") >= 2, plan


def test_asof_nearest_plan_shape(spark, sf_dir):
    """join_asof_nearest: both direction passes are the linear union-sort
    as-of (every window user_id-scoped), the combine is an equi-join on
    the probe id — no cartesian/theta pairing anywhere (the quadratic
    argmin lives only in the oracle), no Python."""
    plan = _plan(all_queries()["join_asof_nearest"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and set(specs) == {"user_id"}, specs


def test_ngram_novelty_plan_shape(spark, sf_dir):
    """text_ngram_novelty (r11 second pass): the raw instance stream
    folds ONCE into the checkpointed (doc_id, tri) -> count pairs table
    (Scan ExistingRDD in the visible plan — its single execution serves
    both consumers); the first-seen min groupBy and the scoring join
    read the COMPACT pairs, and — BELOW the r11 size gate — the
    first-seen table BROADCASTS; the per-doc rollup sums pre-folded
    counts; no Python, no window."""
    plan = _plan(all_queries()["text_ngram_novelty"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    # pairs pre-fold pinned behind the checkpoint
    assert "Scan ExistingRDD" in plan, plan
    # first-seen attribution joins as broadcast over the trigram key
    assert re.search(r"BroadcastHashJoin \[tri#\d+\], \[tri#\d+\], Inner, BuildRight", plan), plan
    # build side: partial+final min under the broadcast exchange
    assert "partial_min(doc_id" in plan, plan
    # pairs side shuffles exactly once — on doc_id for the rollup
    assert len(re.findall(r"Exchange hashpartitioning\(doc_id#\d+L", plan)) == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning\(tri#\d+,", plan)) == 1, plan
    # rollup sums the pre-folded counts, not raw instances
    assert "partial_sum(c#" in plan, plan


def test_ngram_novelty_broadcast_gate(spark, sf_dir, monkeypatch):
    """Above the 4 MiB gate the broadcast HINT disappears from the
    logical plan (VERDICT r10 #4: 10⁷–10⁸ distinct multilingual trigrams
    would blow any broadcast limit) — the join strategy then comes from
    Catalyst's size ESTIMATE / AQE's runtime stats, which broadcast only
    when the built table actually is small. (At fixture scale the
    estimate still picks broadcast — the point is that nothing FORCES it
    at any scale.)"""
    import presto_db_spark.operators.text as text_mod

    df_hinted = all_queries()["text_ngram_novelty"](spark, sf_dir)
    hinted = df_hinted._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in hinted, hinted

    monkeypatch.setattr(text_mod.os.path, "getsize", lambda p: 1 << 30)
    df_gated = all_queries()["text_ngram_novelty"](spark, sf_dir)
    gated = df_gated._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in gated, gated
    assert "EvalPython" not in _plan(df_gated, "simple")


def test_sequence_match_plan_shape(spark, sf_dir):
    """events_sequence_match: the per-user sequence is built by a
    map-side-combinable collect (partial_collect_list under ONE user_id
    exchange — a groupBy, never a window), and the row-pattern regex runs
    in codegen on the encoded string; no Python."""
    plan = _plan(all_queries()["events_sequence_match"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "partial_collect_list" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning\(user_id#\d+L", plan)) == 1, plan
    assert "regexp_extract_all" in plan, plan


def test_quality_checks_plan_shape(spark, sf_dir):
    """quality_data_checks: the four single-table constraint families ride
    one aggregate spine whose counters all partial-combine map-side (the
    exact-uniqueness count(distinct) plans as the two-phase orderkey
    pre-aggregate, NOT an expand over the whole row); referential
    integrity is a broadcast LEFT ANTI; the only nested-loop joins are
    1-row scalar attaches; no Python, no window."""
    plan = _plan(all_queries()["quality_data_checks"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Expand" not in plan, plan
    assert re.search(r"BroadcastHashJoin \[o_custkey#\d+L\], \[c_custkey#\d+L\], LeftAnti, BuildRight", plan), plan
    assert "partial_count(distinct o_orderkey" in plan, plan
    assert "partial_sum(CASE WHEN isnull(o_custkey" in plan, plan


def test_skyline_plan_shape(spark, sf_dir):
    """part_skyline_pareto: the quadratic dominance test must NOT appear —
    no cartesian/theta pairing; the part table itself never
    hash-shuffles (its only join is the broadcast of the flagged
    price-group table; every hashpartitioning exchange in the plan is on
    the reduced table's __pid or a group key, never a part row id); the
    prefix-max windows are __pid-scoped plus the #partitions-row offsets
    window; the group table is localCheckpointed so both consumers see
    one execution."""
    plan = _plan(all_queries()["part_skyline_pareto"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"BroadcastHashJoin \[p_size#\d+L, price_cents#\d+L\], \[gmax#\d+L, price_cents#\d+L\]", plan), plan
    # data-bearing windows are pid-local; the offsets window orders the
    # #partitions-row table by __pid only
    specs = re.findall(r"windowspecdefinition\((\w+)#\d+", plan)
    assert specs and set(specs) == {"__pid"}, specs
    for m in re.finditer(r"Exchange hashpartitioning\(([^,)]+)#\d+", plan):
        assert m.group(1) == "__pid", plan
    assert "Scan ExistingRDD" in plan, plan


def test_fuzzy_del1_plan_shape(spark, sf_dir):
    """dedup_fuzzy_del1 (r11 rebuild): candidates come from per-bucket
    enumeration after ONE groupBy on the deletion-variant column — no
    join at all (no cartesian/BNLJ/SMJ/BHJ anywhere); the exact
    levenshtein verify is codegen; the variant exchange is pinned at
    the session shuffle-partition count (the explicit repartition that
    stops AQE single-threading the CPU-heavy verify stage); no
    Python."""
    plan = _plan(all_queries()["dedup_fuzzy_del1"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" not in plan, plan  # no join of any kind — groupBy shape
    assert "collect_set" in plan, plan
    assert "levenshtein" in plan, plan
    assert re.search(r"Exchange hashpartitioning\(v#\d+", plan), plan


def test_interval_overlap_plan_shape(spark, sf_dir):
    """events_interval_overlap (r11): overlap candidates come from ONE
    bucket equi self-join — never the quadratic interval theta pairing
    (no cartesian/BNLJ anywhere; the oracle keeps the theta form); the
    exact overlap predicate verifies in codegen on the keyed probe; the
    session build is the one user_id window pass."""
    plan = _plan(all_queries()["events_interval_overlap"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"Join \[bkt#\d+L?\], \[bkt#\d+L?\]", plan), plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"user_id"}, specs


def test_agg_mad_plan_shape(spark, sf_dir):
    """agg_mad (r11): two grouped EXACT percentiles (partial_percentile
    map-side) and a BROADCAST join of the |groups|-row median table back
    onto the cents — the cents never hash-shuffle for the join; all
    output integral; no Python, no window."""
    plan = _plan(all_queries()["agg_mad"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "percentile" in plan, plan
    assert re.search(
        r"BroadcastHashJoin \[o_orderpriority#\d+\], \[o_orderpriority#\d+\]",
        plan,
    ), plan


def test_compaction_plan_shape(spark, sf_dir):
    """layout_compaction_plan (r11): the running sum comes from
    distrank.global_index — every window is __pid-scoped and no
    SinglePartition exchange sits over the inventory data (same gate as
    the distrank scalable twins); bin assignment is exact integer
    cross-multiplication (no float division in the plan)."""
    plan = _plan(all_queries()["layout_compaction_plan"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs <= {"__pid"}, specs


def test_lm_likelihood_plan_shape(spark, sf_dir):
    """text_lm_likelihood (r11): the model joins carry NO forced
    broadcast hint (the text_ngram_novelty lesson — vocabulary-bounded
    is not broadcast-bounded; AQE decides from runtime sizes), the
    bigram groupBys partial-combine map-side, and nothing drops to
    Python."""
    df = all_queries()["text_lm_likelihood"](spark, sf_dir)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical, logical
    plan = _plan(df, "simple")
    assert "EvalPython" not in plan, plan
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pca_power_plan_shape(spark, sf_dir):
    """emb_pca_power (r11): the iteration is keyed integer aggregations
    only — v (64 rows) broadcasts into the s-pass, max|w| (1 row)
    broadcasts into the renormalization (the only nested-loop joins are
    those 1-row scale attaches, one per round); no window, no Python,
    no D×D covariance materialization anywhere."""
    plan = _plan(all_queries()["emb_pca_power"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # earlier rounds sit behind the per-round w checkpoint (ExistingRDD
    # scans); the visible plan carries exactly the FINAL round's 1-row
    # max|w| attach
    bnlj = len(re.findall(r"BroadcastNestedLoopJoin", plan))
    assert bnlj == 1, (bnlj, plan)
    assert "Scan ExistingRDD" in plan, plan


def test_bloom_prefilter_plan_shape(spark, sf_dir):
    """dedup_bloom_prefilter (r11): the bitmap is a ≤64-row broadcast
    (broadcast-sized by CONSTRUCTION — m/32 words, not a distinct-key
    set); history folds through one word-keyed bit_or groupBy; the
    exact-dup membership is a LEFT SEMI on the text; no Python, no
    window, no cartesian."""
    plan = _plan(all_queries()["dedup_bloom_prefilter"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"BroadcastHashJoin \[word#\d+L\], \[word#\d+L\], LeftOuter", plan), plan
    assert re.search(r"Join \[text#\d+\], \[text#\d+\], LeftSemi", plan), plan
    assert "bit_or" in plan, plan


def test_markov_plan_shape(spark, sf_dir):
    """events_markov_transitions (r11): one user_id window (lag rides the
    sessionize exchange), a map-side-combined (from,to) groupBy, and a
    BROADCAST row-totals join (|types|² model — broadcast-safe by domain
    bound); no Python, no cartesian."""
    plan = _plan(all_queries()["events_markov_transitions"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"user_id"}, specs
    assert re.search(r"BroadcastHashJoin \[from_type#\d+\], \[from_type#\d+\]", plan), plan


def test_cohort_ltv_plan_shape(spark, sf_dir):
    """events_cohort_ltv (r11): the only window is cohort_day-scoped (the
    cumulative LTV over the tiny (cohort, age) table — never a global or
    user-wide window), cohort sizes attach by broadcast, and the user_id
    firsts join is a keyed join, not a cartesian; no Python."""
    plan = _plan(all_queries()["events_cohort_ltv"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"cohort_day"}, specs
    assert re.search(
        r"BroadcastHashJoin \[cohort_day#\d+\], \[cohort_day#\d+\]", plan
    ), plan


def test_naive_bayes_plan_shape(spark, sf_dir):
    """ml_naive_bayes (r11): training is map-side-combined groupBys
    (partial_count on the (token,class) model), the class/prior table is
    a broadcast, the score join is keyed on token (no cartesian — the
    class fan-out is the |classes|-row broadcast nested loop), and the
    per-doc argmax is the only window, doc_id-scoped."""
    plan = _plan(all_queries()["ml_naive_bayes"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"doc_id"}, specs
    assert "partial_count" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_jaccard_neighbors_plan_shape(spark, sf_dir):
    """graph_jaccard_neighbors (r11): wedge generation is an equi join on
    the apex node (never a cartesian), the common-neighbor count is
    map-side combined, the top-100 plans as TakeOrderedAndProject (no
    global sort materialized), and there is no window at all."""
    plan = _plan(all_queries()["graph_jaccard_neighbors"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan, plan


def test_cluster_sample_plan_shape(spark, sf_dir):
    """train_cluster_sample (r11): nearest-centroid assignment is ONE
    Arrow pass (exactly one ArrowEvalPython stage — the broadcast-K
    pattern sim_ivf pays), cluster sizes attach by broadcast on cid, the
    per-cluster top-N is the only window (cid-scoped), no cartesian.
    The assignment feeds two consumers, so it is localCheckpoint-pinned
    to exactly one execution (the sim_ann_lsh fix) — the visible plan
    reads the ExistingRDD, never a duplicated Arrow stage."""
    plan = _plan(all_queries()["train_cluster_sample"](spark, sf_dir), "simple")
    assert "ArrowEvalPython" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"cid"}, specs
    assert re.search(r"BroadcastHashJoin \[cid#\d+L\], \[cid#\d+L\]", plan), plan


def test_bfs_distances_plan_shape(spark, sf_dir):
    """graph_bfs_distances (r11d): each superstep is checkpoint-pinned
    (the visible plan reads ExistingRDD — the iterative-lineage device),
    the final histogram is a map-side-combined groupBy, and there is no
    window, no Python, no cartesian anywhere in the fixed-point's plan."""
    plan = _plan(all_queries()["graph_bfs_distances"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "partial_count" in plan, plan


def test_resource_alloc_plan_shape(spark, sf_dir):
    """graph_resource_alloc (r11d): wedge generation is an equi join on
    the apex node (never a cartesian), the per-pair (count, RA-sum) fold
    is ONE map-side-combined groupBy (partial_count AND partial_sum ride
    the same exchange), the non-edge filter is a keyed ANTI join (the
    checkpoint-pinned edge list carries no stats, so the static planner
    picks sort-merge here; AQE upgrades it to broadcast at runtime when
    the support-filtered list is small), and the top-100 is
    TakeOrderedAndProject — no global sort, no window, no Python."""
    plan = _plan(all_queries()["graph_resource_alloc"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    assert "LeftAnti" in plan, plan


def test_survival_hazard_plan_shape(spark, sf_dir):
    """events_survival_hazard (r11d): user lifetimes are ONE map-side-
    combined groupBy (partial_min/partial_max on the user_id exchange),
    the horizon attaches as a broadcast single row (BroadcastNestedLoop,
    never CartesianProduct), and the only window is the post-aggregation
    reverse-cumulative at-risk sum over per-day rows — its input is
    bounded by the corpus day span, so the single-partition spec is a
    constant-size pass, asserted here as ordering on t alone."""
    plan = _plan(all_queries()["events_survival_hazard"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "partial_min" in plan and "partial_max" in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"t"}, specs


def test_decision_stump_plan_shape(spark, sf_dir):
    """ml_decision_stump (r11d): the PLANET shape — per-row work is a
    stack Generate projection, candidate statistics collapse to ONE
    map-side-combined groupBy on (feature, bucket) BEFORE any window
    (partial_count + partial_sum on that exchange), the prefix-sum
    windows are feature-partitioned, and the final global rank runs on
    the tiny split table (its spec orders on cost_scaled); no Python,
    no cartesian."""
    plan = _plan(all_queries()["ml_decision_stump"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"feature", "cost_scaled"}, specs


def test_knn_classify_plan_shape(spark, sf_dir):
    """sim_knn_classify (r11d): the exact-kNN scorer reuses the
    brute-force contract — the query set broadcasts (BroadcastNestedLoop
    over the corpus, never CartesianProduct), exactly ONE Arrow stage
    (the sanctioned cosine), the neighbor top-k takes the
    WindowGroupLimit rewrite, and every window is qid-scoped (votes and
    argmax never widen past one query's rows)."""
    plan = _plan(all_queries()["sim_knn_classify"](spark, sf_dir), "simple")
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"qid"}, specs


def test_logistic_regression_converges(spark, sf_dir):
    """ml_logistic_regression (r11e): the returned table is driver-built
    from per-iteration 4-integer aggregates (the k-means collect
    pattern), so the plan to gate is the behavior: three iterations,
    integer weights, and a final training accuracy that IMPROVES on the
    iteration-1 (all-zero-weights) baseline — convergence recorded in
    the result, not asserted in a docstring."""
    rows = (
        all_queries()["ml_logistic_regression"](spark, sf_dir)
        .orderBy("iter")
        .collect()
    )
    assert [r["iter"] for r in rows] == [1, 2, 3]
    assert rows[0]["w0_ppm"] == rows[0]["w1_ppm"] == rows[0]["w2_ppm"] == 0
    assert rows[-1]["accuracy_ppm"] > rows[0]["accuracy_ppm"]


def test_kfold_cv_plan_shape(spark, sf_dir):
    """ml_kfold_cv (r11e): ONE data-scale groupBy (the stack Generate
    feeds partial_count/partial_sum on the (feature, v, fold) exchange),
    the fold fan-out is a |k|-row broadcast (BroadcastNestedLoop, never
    CartesianProduct), and every window is fold-scoped — the leave-fold-
    out algebra runs entirely on the tiny grid; no Python."""
    plan = _plan(all_queries()["ml_kfold_cv"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan
    assert "partial_count" in plan and "partial_sum" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"fold"}, specs


def test_decay_score_plan_shape(spark, sf_dir):
    """events_decay_score (r11e): the horizon attaches as a 1-row
    broadcast (BroadcastNestedLoop, never CartesianProduct), the score
    is ONE map-side-combined user_id groupBy (partial_sum rides the
    exchange), and the only window is the final rank over the
    one-row-per-user aggregate (spec orders on decayed_micro); no
    Python."""
    plan = _plan(all_queries()["events_decay_score"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "partial_sum" in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"decayed_micro"}, specs


def test_kcore_plan_shape(spark, sf_dir):
    """graph_kcore (r11f): every peeling round is checkpoint-pinned
    (ExistingRDD — the iterative-lineage device), the surviving-edge
    filters are keyed LeftSemi joins (never cartesian), degrees are
    map-side combined, and there is no window anywhere in the loop."""
    plan = _plan(all_queries()["graph_kcore"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "partial_count" in plan, plan


def test_cdc_chunks_plan_shape(spark, sf_dir):
    """multimodal_cdc_chunks (r11g): encode and chunk are two chained
    Arrow stages over the scan partitioning (shuffle-free per payload;
    the chunk stream is checkpoint-pinned to ONE execution for its two
    consumers — ExistingRDD in the live plan), the dedup report is
    map-side-combined aggregation plus the (s, e) distinct, and the two
    single-row attaches are broadcasts, never a cartesian."""
    plan = _plan(all_queries()["multimodal_cdc_chunks"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "partial_count" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_dpp_read_plan_shape(spark, sf_dir):
    """layout_dpp_read (r11g): the month filter reaches the FACT scan only
    through Spark's dynamic partition pruning — the formatted plan's
    partition filters must carry a dynamicpruningexpression (the runtime
    IN-subquery built from the broadcast dim), and the join must stay a
    broadcast, never a cartesian."""
    df = all_queries()["layout_dpp_read"](spark, sf_dir)
    plan = _plan(df)
    assert "dynamicpruningexpression" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bottomk_sample_plan_shape(spark, sf_dir):
    """sketch_bottomk_sample (r11g): the distinct collapses map-side
    (partial aggregate before the exchange), the bottom-k plans as
    TakeOrderedAndProject (per-partition k survivors — the sketch never
    materializes more than k rows per partition), the true-count attach
    is a 1-row broadcast, and there is no window, no Python, no
    cartesian."""
    plan = _plan(all_queries()["sketch_bottomk_sample"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_theta_intersection_plan_shape(spark, sf_dir):
    """sketch_theta_intersection (r11g): each segment sketch collapses via
    TakeOrderedAndProject to k rows (checkpoint-pinned — ExistingRDD in
    the live plan), the sketch-side join touches at most k x k, theta and
    truth attach as single-row broadcasts, and nothing plans as a
    cartesian; no window, no Python."""
    plan = _plan(
        all_queries()["sketch_theta_intersection"](spark, sf_dir), "simple"
    )
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_delta_contribution_plan_shape(spark, sf_dir):
    """events_delta_contribution (r11g): bounds and the abs-total attach
    as single-row broadcasts (BroadcastNestedLoop, never a cartesian),
    the per-(segment, period) fold is ONE map-side-combined groupBy (the
    period flag is a projection — one scan, not two), and there is no
    window, no Python."""
    plan = _plan(
        all_queries()["events_delta_contribution"](spark, sf_dir), "simple"
    )
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "partial_sum" in plan, plan


def test_growth_accounting_plan_shape(spark, sf_dir):
    """events_growth_accounting (r11g): the (user, week) distinct
    collapses map-side before the window, the per-user lag is the ONLY
    data-scale window (user_id-partitioned — the sessionize exchange),
    and the final churn lag orders the bounded weekly table on wk; no
    Python, no cartesian."""
    plan = _plan(
        all_queries()["events_growth_accounting"](spark, sf_dir), "simple"
    )
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"user_id", "wk"}, specs
    assert "partial_count" in plan, plan


def test_peak_concurrency_plan_shape(spark, sf_dir):
    """events_peak_concurrency (r11h): boundary points pre-group
    map-side (partial_count) BEFORE the sweep-line window; the running
    sum is partitioned by event_type (never a single-partition global
    window); no Python, no cartesian."""
    plan = _plan(all_queries()["events_peak_concurrency"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"event_type"}, specs


def test_acf_plan_shape(spark, sf_dir):
    """events_acf (r11h): the daily rollup partial-aggregates map-side;
    the lead() rides ONE event_type-partitioned window; the lag products
    fold with partial_sum; no Python, no cartesian."""
    plan = _plan(all_queries()["events_acf"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"event_type"}, specs
    assert "partial_sum" in plan, plan


def test_ses_forecast_plan_shape(spark, sf_dir):
    """events_ses_forecast (r11h): both row_numbers and the count ride
    event_type-partitioned windows (no global window); the dyadic fold
    is one groupBy with map-side combine; no Python, no cartesian."""
    plan = _plan(all_queries()["events_ses_forecast"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"event_type"}, specs


def test_label_propagation_plan_shape(spark, sf_dir):
    """graph_label_propagation (r13 opt): every round's label pick is an
    argmax-by-struct HASH aggregation (max of (c, -label)) — no window
    AT ALL in the 3-round chain (the old node-partitioned row_number
    paid a per-node sort each round); the (node, label) counts
    partial-aggregate; joins are hash joins on the neighbor key — no
    cartesian, no Python."""
    plan = _plan(all_queries()["graph_label_propagation"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "partial_count" in plan, plan
    assert "partial_max(struct(c" in plan, plan


def test_cluster_bigstar_matches_minlabel(spark, sf_dir):
    """dedup_cluster_bigstar (r11h): the star-contraction CC must agree
    row-for-row with dedup_cluster's min-label propagation — two
    independent distributed algorithms, one truth."""
    a = all_queries()["dedup_cluster"](spark, sf_dir).collect()
    b = all_queries()["dedup_cluster_bigstar"](spark, sf_dir).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_roc_auc_plan_shape(spark, sf_dir):
    """ml_roc_auc (r11i): the per-score tally partial-aggregates
    map-side; the running negative count rides distrank.global_index —
    the only windows are the __pid-local cumsum and the bounded
    per-partition offset scan, NEVER a single-partition window over the
    score distribution; no Python, no cartesian (the offset/total
    broadcasts are BroadcastNestedLoop by construction)."""
    plan = _plan(all_queries()["ml_roc_auc"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert "score" not in specs, specs
    assert "partial_sum" in plan, plan


def test_profile_drift_plan_shape(spark, sf_dir):
    """quality_profile_drift (r11i): ONE scan of orders (the period flag
    is a projection — the plan must not contain two parquet scans of
    orders), filtered aggregates with map-side partials, and the
    7-metric unpivot on a single row; no window, no Python."""
    plan = _plan(all_queries()["quality_profile_drift"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert plan.count("orders.parquet") == 1, plan


def test_ngram_diversity_plan_shape(spark, sf_dir):
    """text_distinct_ngram_diversity (r11i): the totals side is a pure
    array-length fold (no explode); the distinct sides explode but
    collapse in map-side partial aggregation; final joins are on the
    tiny |langs| tables; no window, no Python, no cartesian."""
    plan = _plan(
        all_queries()["text_distinct_ngram_diversity"](spark, sf_dir), "simple"
    )
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "partial_count" in plan, plan


def test_holt_linear_plan_shape(spark, sf_dir):
    """events_holt_linear (r11i): the unrolled 8-step recurrence runs
    entirely on the |types|-row state table (broadcast joins against the
    kept slice — no data-scale shuffle per step); the only windows are
    event_type-partitioned row_numbers; no Python, no cartesian."""
    plan = _plan(all_queries()["events_holt_linear"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the kept slice is checkpoint-pinned (ExistingRDD), so the per-type
    # windows live behind the checkpoint; the visible plan must be pure
    # broadcast-join state algebra with no window at all
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs <= {"event_type"}, specs
    assert plan.count("BroadcastHashJoin") >= 7, plan


def test_modularity_plan_shape(spark, sf_dir):
    """graph_modularity (r11j): intra-edge counting is two hash joins of
    the edge list against the (checkpointed) label table; the m
    attach is a single-row broadcast (BroadcastNestedLoop, never a
    cartesian); the only window is the LPA kernel's node-partitioned
    pick; no Python."""
    plan = _plan(all_queries()["graph_modularity"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs <= {"node"}, specs


def test_conversion_lag_plan_shape(spark, sf_dir):
    """events_conversion_lag_median (r11j): the two firsts are map-side
    min-groupBys; the exact median rides distrank.global_index — no
    single-partition window over the lag distribution; no Python, no
    cartesian."""
    plan = _plan(
        all_queries()["events_conversion_lag_median"](spark, sf_dir), "simple"
    )
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert "lag_us" not in specs, specs
    assert "partial_min" in plan, plan


def test_pr_curve_plan_shape(spark, sf_dir):
    """ml_pr_curve (r11j): the per-score tally partial-aggregates; the
    decile thresholds come from global_index prefix offsets (no
    single-partition window over scores); the 9-row threshold and
    1-row totals attach as broadcasts; no Python."""
    plan = _plan(all_queries()["ml_pr_curve"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert "score" not in specs, specs


def test_temperature_mix_plan_shape(spark, sf_dir):
    """train_temperature_mix (r11k): one map-side-combined groupBy to
    |sources| rows; the total attaches as a single-row broadcast; no
    window, no Python, no data-scale join."""
    plan = _plan(all_queries()["train_temperature_mix"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "partial_count" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_assortativity_plan_shape(spark, sf_dir):
    """graph_assortativity (r11k): degree groupBy + two hash joins of
    the adjacency against the degree table + one 4-number fold; no
    window, no Python, no cartesian."""
    plan = _plan(all_queries()["graph_assortativity"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "partial_sum" in plan, plan


def test_mad_outlier_plan_shape(spark, sf_dir):
    """events_mad_outlier_days (r11k): daily rollup partial-aggregates;
    every window (median ranks, counts) is event_type-partitioned —
    never single-partition; no Python, no cartesian."""
    plan = _plan(all_queries()["events_mad_outlier_days"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"event_type"}, specs


def test_laspeyres_plan_shape(spark, sf_dir):
    """part_price_index_laspeyres (r11k): the year-filtered orders side
    broadcasts into the fact join; the (part, year) rollup
    partial-aggregates; no window, no Python, no cartesian."""
    plan = _plan(
        all_queries()["part_price_index_laspeyres"](spark, sf_dir), "simple"
    )
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ks_statistic_plan_shape(spark, sf_dir):
    """ml_ks_statistic (r11l): both cumulative counts ride ONE
    global_index range exchange via the packed BIGINT; no
    single-partition window over scores; no Python, no cartesian."""
    plan = _plan(all_queries()["ml_ks_statistic"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert "score" not in specs, specs


def test_benford_plan_shape(spark, sf_dir):
    """events_benford_deviation (r11l): one projection + one 9-group
    map-side-combined count + a single-row broadcast; no window, no
    Python, no transcendental anywhere in the plan."""
    plan = _plan(all_queries()["events_benford_deviation"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "partial_count" in plan, plan
    assert "LOG" not in plan.upper().replace("LOGICAL", ""), plan


def test_gini_plan_shape(spark, sf_dir):
    """part_gini_concentration (r11l): the per-part rollup
    partial-aggregates; the global rank comes from global_index — no
    single-partition window over |parts|; no Python, no cartesian."""
    plan = _plan(all_queries()["part_gini_concentration"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert "rev_cents" not in specs, specs
    assert "partial_sum" in plan, plan


def test_audience_overlap_plan_shape(spark, sf_dir):
    """events_audience_overlap (r11m): the (user, type) distinct
    collapses map-side (checkpoint-pinned); the intersection self-join
    keys on user_id (hash join, bounded |types|^2 fan-out per user);
    no window, no Python, no cartesian."""
    plan = _plan(all_queries()["events_audience_overlap"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_slo_burn_plan_shape(spark, sf_dir):
    """events_slo_burn_alerts (r11m): the hourly rollup
    partial-aggregates map-side; the 6-hour ROWS frame runs on the
    bounded |hours| table (post-aggregation window); burn comparisons
    are cross-multiplied integers — no float division in the alert
    path; no Python, no cartesian."""
    plan = _plan(all_queries()["events_slo_burn_alerts"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan


def test_code_detect_plan_shape(spark, sf_dir):
    """text_code_detect (r11m): pure projection — no shuffle besides
    the output sort: no join, no window, no aggregation above the scan,
    no Python."""
    plan = _plan(all_queries()["text_code_detect"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan


def test_webdataset_index_plan_shape(spark, sf_dir):
    """train_webdataset_index (r11m): shard assignment is a projection;
    the ONLY window is the shard_id-partitioned running offset (never a
    global cumsum); no Python, no join."""
    plan = _plan(all_queries()["train_webdataset_index"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    specs = set(re.findall(r"windowspecdefinition\((\w+)#", plan))
    assert specs == {"shard_id"}, specs


def test_brier_plan_shape(spark, sf_dir):
    """ml_brier_score (r11n): pure projection + one global fold — no
    join, no window, no Python; the sigmoid is integer rational (no
    exp in the plan)."""
    plan = _plan(all_queries()["ml_brier_score"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan
    assert "EXP(" not in plan.upper(), plan


def test_lang_confusion_plan_shape(spark, sf_dir):
    """text_lang_id_confusion (r11n): per-doc prediction is a
    projection; the matrix is one map-side-combined count over
    bounded cells; no window, no Python, no cartesian."""
    plan = _plan(all_queries()["text_lang_id_confusion"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "partial_count" in plan, plan


def test_partition_skew_plan_shape(spark, sf_dir):
    """quality_partition_skew (r11n): the monthly rollup
    partial-aggregates map-side BEFORE the bounded-|months| median
    window (the post-aggregation device); no Python, no join."""
    plan = _plan(all_queries()["quality_partition_skew"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_mrl_energy_plan_shape(spark, sf_dir):
    """emb_mrl_energy_retention (r11o): pure projection (4 prefix
    energies in one array pass) + a 4-group rollup — no join, no
    window, no Python."""
    plan = _plan(all_queries()["emb_mrl_energy_retention"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan
    assert "partial_count" in plan, plan


def test_pivot_plan_shape(spark, sf_dir):
    """part_pivot_wide (r11p): the explicit values list keeps pivot a
    single two-phase hash aggregate (no distinct-values pre-pass, no
    join), and the brand IN filter reaches the parquet scan with only
    the three referenced columns read."""
    df = all_queries()["part_pivot_wide"](spark, sf_dir)
    plan = _plan(df)
    assert re.search(r"PushedFilters:.*In\(p_brand", plan), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"p_brand", "p_size", "p_retailprice"}, cols
    simple = _plan(df, "simple")
    assert "Join" not in simple, simple
    assert "EvalPython" not in simple, simple
    assert "partial_sum" in simple, simple


def test_unpivot_plan_shape(spark, sf_dir):
    """events_unpivot_metrics (r11p): DataFrame.unpivot lowers to an
    Expand over the aggregated wide frame — the 4x long layout costs
    ZERO additional shuffles (one user_id exchange total), no join, no
    window, no Python."""
    df = all_queries()["events_unpivot_metrics"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "Expand" in plan, plan
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_gaps_islands_plan_shape(spark, sf_dir):
    """win_gaps_islands (r11p): the run-detection window partitions by
    o_custkey (NEVER SinglePartition), and the island fold reuses the
    same exchange — exactly one hash exchange in the whole plan."""
    df = all_queries()["win_gaps_islands"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "windowspecdefinition" in plan, plan
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[\s:+-]*Window", plan), plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in plan, plan


def test_welch_ttest_plan_shape(spark, sf_dir):
    """events_ab_welch_ttest (r11q): per-user fold + one 6-counter
    global aggregate — no join, no window, no Python; the decision is
    decimal cross-multiplication (no sqrt on the decision path — the
    lone sqrt is the display-only t)."""
    plan = _plan(all_queries()["events_ab_welch_ttest"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_sum" in plan, plan


def test_mann_whitney_plan_shape(spark, sf_dir):
    """events_ab_mann_whitney (r11q): the rank pass runs over DISTINCT
    metric values through distrank.global_index — range partition +
    prefix-offset join, NO single-partition window anywhere; no
    cartesian join; no Python."""
    plan = _plan(all_queries()["events_ab_mann_whitney"](spark, sf_dir), "simple")
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[\s:+-]*Window", plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_anova_plan_shape(spark, sf_dir):
    """events_ab_anova (r11q): per-user fold + one 7-counter global
    aggregate — no join, no window, no Python."""
    plan = _plan(all_queries()["events_ab_anova"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_sum" in plan, plan


def test_calibration_plan_shape(spark, sf_dir):
    """ml_calibration_reliability (r11q): per-user fold + 10-bin
    groupBy — no join, no window, no Python, two-phase aggregation."""
    plan = _plan(all_queries()["ml_calibration_reliability"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_count" in plan, plan


def test_ams_f2_plan_shape(spark, sf_dir):
    """sketch_ams_f2 (r11q): the 8 sign-counters accumulate in ONE
    map-side-combined global aggregate over raw events (the mergeable-
    sketch property); the only join is the 1-row × 1-row broadcast
    nested loop stitching sketch to exact anchor — never a fact-sized
    cartesian; no window, no Python."""
    plan = _plan(all_queries()["sketch_ams_f2"](spark, sf_dir), "simple")
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hits_plan_shape(spark, sf_dir):
    """graph_hits (r11r): four half-steps = four hash equi-joins on
    node keys + sum-groupBys; max-normalization is a broadcast 1-row
    crossJoin (BroadcastNestedLoopJoin) — no non-broadcast cartesian,
    no window, no Python."""
    plan = _plan(all_queries()["graph_hits"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_clustering_coeff_plan_shape(spark, sf_dir):
    """graph_clustering_coeff (r11r): same oriented wedge enumeration
    as triangle count (equi-joins only — no cartesian), per-vertex
    credit is a 3x union + sum-groupBy; no window, no Python."""
    plan = _plan(all_queries()["graph_clustering_coeff"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_count" in plan, plan


def test_multiple_regression_plan_shape(spark, sf_dir):
    """ml_multiple_regression (r11s): eight sufficient statistics in
    ONE two-phase aggregation pass; Cramer solve is a projection — no
    join, no window, no Python."""
    plan = _plan(all_queries()["ml_multiple_regression"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_sum" in plan, plan


def test_lateral_topn_plan_shape(spark, sf_dir):
    """subq_lateral_topn (r11t): the correlated LATERAL body must be
    DECORRELATED — a row_number window partitioned by o_custkey plus a
    broadcast hash equi-join, never a nested-loop per-customer
    re-execution and never a single-partition window."""
    df = all_queries()["subq_lateral_topn"](spark, sf_dir)
    plan = _plan(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"windowspecdefinition\(o_custkey", plan), plan
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[\s:+-]*Window", plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_holt_winters_plan_shape(spark, sf_dir):
    """events_holt_winters (r11u): the closed linear form makes the
    smoother ONE conditional-CASE aggregate — no joins at all (the
    oracle's 8 chained step-joins exist only oracle-side), one bounded
    per-type tail window, no Python."""
    plan = _plan(all_queries()["events_holt_winters"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[\s:+-]*Window", plan), plan
    assert "partial_sum" in plan, plan


def test_random_projection_plan_shape(spark, sf_dir):
    """emb_random_projection (r11v): the projection is a pure per-row
    expression (hash-formula sign matrix — nothing trained, nothing
    broadcast); the only join is the bounded 50-pair eval; no window,
    no Python."""
    plan = _plan(all_queries()["emb_random_projection"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_systematic_pps_plan_shape(spark, sf_dir):
    """sample_systematic_pps (r11v): cumulative weights ride ONE
    global_index range exchange (prefix-offset running sum) — no
    single-partition window, no Python, no data-scale join."""
    plan = _plan(all_queries()["sample_systematic_pps"](spark, sf_dir), "simple")
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[\s:+-]*Window", plan), plan
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cross_correlation_plan_shape(spark, sf_dir):
    """events_cross_correlation (r11w): daily rollup collapses map-side;
    the lag alignment is equi-joins over the bounded daily table with
    the 12-row grid BROADCAST; no window, no cartesian, no Python."""
    plan = _plan(all_queries()["events_cross_correlation"](spark, sf_dir), "simple")
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_scc_plan_shape(spark, sf_dir):
    """graph_scc (r11w): the FW-BW closures are built by the time the
    final frame exists (fixpoint BFS — bounded scalars to the driver);
    the summary stitch is 1-row broadcasts only — no data-scale
    cartesian, no window, no Python in the final plan."""
    plan = _plan(all_queries()["graph_scc"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_source_divergence_plan_shape(spark, sf_dir):
    """text_source_divergence_chi2 (r11x): token explode collapses
    map-side onto the broadcast top-V vocabulary (TakeOrdered — never a
    global sort); the scoring grid is |sources|×V via broadcast joins;
    no window, no Python."""
    plan = _plan(all_queries()["text_source_divergence_chi2"](spark, sf_dir), "simple")
    # the TakeOrdered top-V and token explode live inside the
    # localCheckpoint'd counts stage (not visible here); the visible
    # scoring plan must stay window-free, Python-free, cartesian-free
    # outside the two 1-row/V-row broadcast stitches
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_existence_join_plan_shape(spark, sf_dir):
    """join_existence_flag (r11x): projected EXISTS must plan as an
    ExistenceJoin (the boolean match channel) — not a row-multiplying
    outer join, not a filter semi-join; no window, no Python."""
    plan = _plan(all_queries()["join_existence_flag"](spark, sf_dir), "simple")
    assert "ExistenceJoin" in plan, plan
    assert "EvalPython" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_referential_integrity_plan_shape(spark, sf_dir):
    """quality_referential_integrity (r11x): each FK edge audits via a
    LEFT ANTI join + counters — no cartesian beyond the 1-row stitches,
    no window, no Python."""
    plan = _plan(all_queries()["quality_referential_integrity"](spark, sf_dir), "simple")
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_power_analysis_plan_shape(spark, sf_dir):
    """events_ab_power_analysis (r11y): one per-user fold + one
    3-counter aggregate + a 4-row broadcast MDE grid — no window, no
    Python, no data-scale cartesian."""
    plan = _plan(all_queries()["events_ab_power_analysis"](spark, sf_dir), "simple")
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_sum" in plan, plan


def test_srm_check_plan_shape(spark, sf_dir):
    """events_ab_srm_check (r11y): distinct per-user fold + 2-counter
    global aggregate — no join, no window, no Python."""
    plan = _plan(all_queries()["events_ab_srm_check"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_cluster_canonical_plan_shape(spark, sf_dir):
    """dedup_cluster_canonical (r11z): survivor selection adds one
    cluster_id groupBy + two equi-joins on top of the converged label
    frame — no cartesian, no window, no Python."""
    plan = _plan(all_queries()["dedup_cluster_canonical"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_cuped_plan_shape(spark, sf_dir):
    """events_cuped_theta (r11z): midpoint is a 1-row broadcast; one
    per-user fold + one 6-counter aggregate — no window, no Python, no
    data-scale cartesian (the bounds crossJoin is 1-row broadcast)."""
    plan = _plan(all_queries()["events_cuped_theta"](spark, sf_dir), "simple")
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_sum" in plan, plan


def test_hw_backtest_plan_shape(spark, sf_dir):
    """events_holt_winters_backtest (r11z): same shape as the smoother —
    one slot rollup, one bounded per-type tail window, one |types|-row
    aggregate; no joins, no Python."""
    plan = _plan(all_queries()["events_holt_winters_backtest"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_sum" in plan, plan


def test_nprobe_sweep_plan_shape(spark, sf_dir):
    """sim_ivf_nprobe_sweep (r11z): centroids/grid broadcast, all
    windows partitioned by (np, qid)/vec_id — never SinglePartition over
    data; no Python in the plan (pure HOF cosines)."""
    plan = _plan(all_queries()["sim_ivf_nprobe_sweep"](spark, sf_dir), "simple")
    assert "EvalPython" not in plan, plan
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[\s:+-]*Window", plan), plan


def test_frequency_cap_plan_shape(spark, sf_dir):
    """events_frequency_cap (r11z): one per-user fold × broadcast cap
    grid × 1-row total — no window, no Python, no data-scale
    cartesian."""
    plan = _plan(all_queries()["events_frequency_cap"](spark, sf_dir), "simple")
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "partial_count" in plan, plan


def test_filter_clause_plan_shape(spark, sf_dir):
    """agg_filter_clause (r11z): FILTER (WHERE) lowers to conditional
    aggregates in one pass — no join, no window, no Python."""
    plan = _plan(all_queries()["agg_filter_clause"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_adstock_plan_shape(spark, sf_dir):
    """events_adstock_transform (r11z): daily rollup (map-side) + two
    per-type windows over the bounded tail — never SinglePartition, no
    join, no Python."""
    plan = _plan(all_queries()["events_adstock_transform"](spark, sf_dir), "simple")
    assert "Join" not in plan, plan
    assert not re.search(r"Exchange SinglePartition[^\n]*\n[\s:+-]*Window", plan), plan
    assert "EvalPython" not in plan, plan


def test_unique_key_plan_shape(spark, sf_dir):
    """quality_unique_key_check (r11ab): each check is one map-side
    distinct/groupBy + 1-row stitches — no window, no data-scale
    cartesian."""
    plan = _plan(all_queries()["quality_unique_key_check"](spark, sf_dir), "simple")
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_transcode_plan_shape(spark, sf_dir, monkeypatch):
    """multimodal_transcode_lossless: three chained mapInPandas stages in
    the frame cut before the presentation sort, with no join and no hash
    exchange between them, so media bytes never shuffle. After the cut no
    Arrow stage is live (the sort's range sampler would run it twice)."""
    cut = []
    frame_cls = type(spark.range(1))
    checkpoint = frame_cls.localCheckpoint
    monkeypatch.setattr(
        frame_cls,
        "localCheckpoint",
        lambda self, *a, **k: cut.append(self) or checkpoint(self, *a, **k),
    )
    plan = _plan(all_queries()["multimodal_transcode_lossless"](spark, sf_dir), "simple")
    (before,) = cut
    p = _plan(before, "simple")
    assert p.count("MapInPandas") == 3, p
    assert "Join" not in p, p
    assert "windowspecdefinition" not in p, p
    assert p.count("Exchange hashpartitioning") == 0, p
    assert plan.count("MapInPandas") == 0, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_r12_wave_plan_shapes(spark, sf_dir):
    """r12 wave 100 TB-shape gates:
    * sim_knn_graph — the cell self-join must be an EQUI join on the
      cell key (never a cartesian; SMJ/hash both fine — both sides are
      corpus-sized) and distances ride Arrow (ArrowEvalPython allowed;
      row-at-a-time BatchEvalPython never); the top-k survives as a
      WindowGroupLimit (partial+final), not a full per-source sort;
    * events_stl_decompose / events_changepoint_binseg — every window
      spec carries a partition key or runs post-collapse on the bounded
      day grain; no Python, no cartesian;
    * stats_bootstrap_ci — the resample join is a real equi hash join
      (the LCG draw is a join key, not a filter over a cartesian);
    * sample_balanced_downsample — the exact-trim rank window runs above
      the survivor FILTER (hash threshold applied before the window);
    * warehouse_snapshot_diff — one full-outer hash join, aggregates
      map-side (partial_) combined, no window."""
    q = all_queries()
    knn = _plan(q["sim_knn_graph"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in knn, knn
    # ZERO nested-loop joins in the FINAL plan: the assignment pass (a
    # 1-row count attach + a C-row centroid cross, both tiny-broadcast
    # by design) is pinned behind pts' localCheckpoint so it executes
    # ONCE — without the checkpoint the whole subplan duplicated under
    # the self-join (4 BNLJs, caught by this gate in r12).
    assert knn.count("BroadcastNestedLoopJoin") == 0, knn
    assert "Scan ExistingRDD" in knn, knn  # the checkpoint is present
    assert "BatchEvalPython" not in knn, knn
    # r14: the per-pair Arrow L2 over the cell self-join became a
    # per-cell grouped-map matrix kernel — each cell's embeddings cross
    # the Python boundary once (FlatMapGroupsInPandas) instead of twice
    # per candidate pair; the top-k window still collapses to a
    # WindowGroupLimit over the kernel's bounded superset
    assert "FlatMapGroupsInPandas" in knn, knn
    assert "WindowGroupLimit" in knn, knn

    for name in ("events_stl_decompose", "events_changepoint_binseg"):
        plan = _plan(q[name](spark, sf_dir), "simple")
        assert "EvalPython" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)

    boot = _plan(q["stats_bootstrap_ci"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in boot, boot
    assert re.search(r"(BroadcastHashJoin|ShuffledHashJoin|SortMergeJoin)", boot), boot
    assert "EvalPython" not in boot, boot

    bal = _plan(q["sample_balanced_downsample"](spark, sf_dir), "simple")
    assert "EvalPython" not in bal, bal
    # the hash-threshold Filter sits BELOW the rank Window in the tree
    # (window output feeds nothing into the filter): assert the filter on
    # the slack cross-multiplication exists at all, and the window's
    # child subtree contains it.
    widx = bal.find("Window")
    assert widx != -1, bal
    assert "Filter" in bal[widx:], bal  # survivor filter below the window

    diff = _plan(q["warehouse_snapshot_diff"](spark, sf_dir), "simple")
    assert "FullOuter" in diff or "full_outer" in diff.lower(), diff
    assert "windowspecdefinition" not in diff, diff
    assert "partial_count" in diff or "partial_sum" in diff, diff


def test_r13_wave_plan_shapes(spark, sf_dir):
    """r13 wave 100 TB-shape gates:
    * ml_lift_gains — the global descending rank rides distrank behind a
      checkpoint (Scan ExistingRDD in the final plan); no ntile window
      anywhere (deciles are arithmetic on the rank); the only windows
      after the checkpoint run on the 10-row decile table;
    * ml_psi_stability — binning is broadcast-side (the nested-loop
      joins carry only the 1-row boundary list / totals, never a
      data×data product); no Python;
    * graph_random_walks / sim_mmr_diversify — per-round state is
      pinned (Scan ExistingRDD), zero single-partition exchanges over
      data in the walk plan, no row-at-a-time Python in MMR;
    * warehouse_clustering_depth — the sweep windows partition by
      layout; no pairwise range join (no CartesianProduct/BNLJ);
    * graph_partition_cut — pure groupBy algebra + K-row joins."""
    q = all_queries()

    lift = _plan(q["ml_lift_gains"](spark, sf_dir), "simple")
    assert "ntile" not in lift, lift
    assert "Scan ExistingRDD" in lift, lift
    assert "EvalPython" not in lift, lift
    assert "CartesianProduct" not in lift, lift

    psi = _plan(q["ml_psi_stability"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in psi, psi
    assert "EvalPython" not in psi, psi

    walks = _plan(q["graph_random_walks"](spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in walks, walks
    assert "CartesianProduct" not in walks, walks
    assert walks.count("Exchange SinglePartition") == 0, walks
    assert "BroadcastNestedLoopJoin" not in walks, walks

    mmr = _plan(q["sim_mmr_diversify"](spark, sf_dir), "simple")
    assert "Scan ExistingRDD" in mmr, mmr
    assert "BatchEvalPython" not in mmr, mmr
    assert "CartesianProduct" not in mmr, mmr

    depth = _plan(q["warehouse_clustering_depth"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in depth, depth
    assert "BroadcastNestedLoopJoin" not in depth, depth
    for spec in re.findall(r"windowspecdefinition\(([^)]*)", depth):
        assert "layout" in spec, (spec, depth)

    pcut = _plan(q["graph_partition_cut"](spark, sf_dir), "simple")
    assert "CartesianProduct" not in pcut, pcut
    assert "windowspecdefinition" not in pcut, pcut


def test_r13b_wave_plan_shapes(spark, sf_dir):
    """r13 second-wave 100 TB-shape gates:
    * ml_ndcg_at_k / sim_int8_recall — every rank<=k filter is pushed
      into WindowGroupLimit (k-row per-group state below the exchange),
      the discount/stats tables broadcast, no cartesian, no Python;
    * sample_seqpoisson — the PPS draw IS a TakeOrderedAndProject
      (per-partition k-heaps), never a global sort exchange over data;
    * agg_trimmed_winsorized / ml_permutation_importance — the distrank
      contract: every window is __pid-scoped and every SinglePartition
      exchange sits above a __pid-keyed or partial aggregate (counts /
      1-row totals), never the data."""
    q = all_queries()

    ndcg = _plan(q["ml_ndcg_at_k"](spark, sf_dir), "simple")
    assert ndcg.count("WindowGroupLimit") == 4, ndcg  # 2 ranks x partial+final
    assert "CartesianProduct" not in ndcg, ndcg
    assert "EvalPython" not in ndcg, ndcg
    assert ndcg.count("BroadcastHashJoin") >= 3, ndcg

    sq8 = _plan(q["sim_int8_recall"](spark, sf_dir), "simple")
    assert sq8.count("WindowGroupLimit") == 4, sq8
    assert "CartesianProduct" not in sq8, sq8
    assert "EvalPython" not in sq8, sq8
    assert sq8.count("Exchange SinglePartition") == 0, sq8

    seqp = _plan(q["sample_seqpoisson"](spark, sf_dir), "simple")
    assert "TakeOrderedAndProject" in seqp, seqp
    assert seqp.count("Exchange SinglePartition") == 0, seqp
    assert "EvalPython" not in seqp, seqp

    for name in ["agg_trimmed_winsorized", "ml_permutation_importance"]:
        plan = _plan(q[name](spark, sf_dir), "simple")
        assert "CartesianProduct" not in plan, (name, plan)
        assert "EvalPython" not in plan, (name, plan)
        for spec in re.findall(r"windowspecdefinition\(([^)]*)", plan):
            assert "__pid" in spec, (name, spec)
        singles = len(re.findall(r"Exchange SinglePartition", plan))
        gated = len(
            re.findall(
                r"Exchange SinglePartition[^\n]*\n[\s:]*\+- HashAggregate\("
                r"keys=\[(?:__pid#\d+\]|\], functions=\[partial_"
                r"|\], functions=\[\])",
                plan,
            )
        )
        assert singles == gated, (name, singles, gated, plan)


def test_agg_approx_exact_reference_is_percentile(spark, sf_dir):
    """r13 opt: the exact-median reference inside agg_approx's accuracy
    booleans must be the exact ``percentile`` aggregate (value->count
    state, price-cardinality bounded), never percentile_approx at
    accuracy INT_MAX (an O(n)-samples-per-group buffer — measured
    28.9 -> 13.4 s at sf0.1 when replaced). The 10000-accuracy
    percentile_approx stays: it is the estimate under test."""
    plan = _plan(all_queries()["agg_approx"](spark, sf_dir))
    assert "2147483647" not in plan, plan
    assert "partial_percentile(" in plan, plan
    assert "percentile_approx" in plan, plan  # the estimate under test


def test_geo_convex_hull_staged_plan(spark, sf_dir):
    """r13 opt: the hull is staged behind column-name barriers (parse /
    membership / order) — the single-expression form embeds a copy of
    the O(n³) membership subtree at every mention and the physical plan
    grew to ~31 KB for 25 rows (5.1 s Column build + 7.7 s warm exec;
    1.06 s staged). The final plan must read a pinned stage, and the
    full membership subtree must not be re-inlined."""
    plan = _plan(all_queries()["geo_convex_hull"](spark, sf_dir))
    assert "Scan ExistingRDD" in plan, plan
    assert len(plan) < 8000, len(plan)
