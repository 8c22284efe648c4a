"""Adapted TPC-DS subset vs DuckDB oracle at sf0.001 (fast) — the driver
re-runs the same comparison at sf0.01."""

from __future__ import annotations

import pytest

from presto_db_spark.operators import tpcds, tpcds2

from .oracle_utils import check_query


@pytest.mark.parametrize("name", sorted(tpcds.QUERIES))
def test_tpcds_vs_duckdb(spark, sf_dir, name):
    problems = check_query(
        spark, name, tpcds.QUERIES[name], tpcds.ORACLE.get(name), sf_dir
    )
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", sorted(tpcds2.QUERIES))
def test_tpcds2_vs_duckdb(spark, sf_dir, name):
    problems = check_query(
        spark, name, tpcds2.QUERIES[name], tpcds2.ORACLE.get(name), sf_dir
    )
    assert not problems, f"{name}: {problems}"


def test_tpcds_nonempty_at_any_sf(spark, sf_dir):
    """The filter constants must select real data, or the oracle match is
    vacuous — q03/q42/q52 may legitimately be empty at sf0.001, but the
    bulk queries must produce rows."""
    for name in ["tpcds_q07", "tpcds_q11", "tpcds_q95", "tpcds_q33",
                 "tpcds_q75", "tpcds_q76"]:
        assert tpcds.QUERIES[name](spark, sf_dir).count() > 0, name


def test_tpcds_q11_cte_materialization_prop(spark, sf_dir):
    """cte_materialization_enabled persists year_total: the 4-way self-join
    reads an InMemoryTableScan instead of recomputing the two channel
    aggregations four times — and the result is unchanged."""
    from presto_db_spark.engine import Engine

    baseline = sorted(map(tuple, tpcds.QUERIES["tpcds_q11"](spark, sf_dir).collect()))
    eng = Engine(spark, sf_dir=sf_dir)
    eng.set_session("cte_materialization_enabled", True)
    try:
        df = tpcds.QUERIES["tpcds_q11"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
        assert sorted(map(tuple, df.collect())) == baseline
        # repeated invocation in a long-lived session must not accumulate
        # cached blocks: each materialization releases the previous handle
        # (ADVICE r04), so at most ONE CTE frame is ever persisted.
        # Start from a clean slate — other tests in the shared session may
        # hold their own (legitimate) persisted stages.
        from presto_db_spark.operators.stagecache import release_stages

        release_stages()
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc.sc()
        base = jsc.getPersistentRDDs().size()
        tpcds.QUERIES["tpcds_q11"](spark, sf_dir)
        tpcds.QUERIES["tpcds_q04"](spark, sf_dir)
        assert jsc.getPersistentRDDs().size() <= base + 1
        release_stages()
        assert jsc.getPersistentRDDs().size() <= base
    finally:
        eng.set_session("cte_materialization_enabled", False)
        spark.catalog.clearCache()
