"""TPC-H suite vs DuckDB oracle at sf0.001 (fast) — the driver re-runs the
same comparison at sf0.01."""

from __future__ import annotations

import pytest

from presto_db_spark.operators import tpch

from .oracle_utils import check_query


@pytest.mark.parametrize("name", sorted(tpch.QUERIES))
def test_tpch_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, tpch.QUERIES[name], tpch.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"


def test_oracle_gate_catches_mismatches(spark, sf_dir):
    """Meta-test of the correctness gate itself: a deliberately wrong
    oracle (row count, column set, values) must produce problems — if this
    ever passes silently, every green row above is meaningless."""
    fn = tpch.QUERIES["tpch_q01"]
    good = tpch.ORACLE["tpch_q01"]
    assert not check_query(spark, "q01_ok", fn, good, sf_dir)
    # wrong values (quantity sum off by one)
    bad_vals = good.replace("l_quantity", "l_quantity + 1", 1)
    assert check_query(spark, "q01_badvals", fn, bad_vals, sf_dir)
    # wrong column name
    bad_cols = good.replace("AS sum_qty", "AS sum_qty_x", 1)
    assert check_query(spark, "q01_badcols", fn, bad_cols, sf_dir)
    # wrong row count
    bad_rows = good + " LIMIT 2"
    assert check_query(spark, "q01_badrows", fn, bad_rows, sf_dir)


def test_sql_entries_bind_tables_privately(spark, sf_dir):
    """An entry reads the tables it loads itself, not the session's temp
    views of the same names, and leaves those views as it found them: no
    decoy replaced, no binding view left behind. ``func_data_size`` binds a
    filtered frame through ``ddl.spark_sql``; the others are SQL text."""
    from presto_db_spark.registry import all_oracle_sql, all_queries

    queries, oracle = all_queries(), all_oracle_sql()
    names = ("customer", "nation", "orders", "lineitem")
    entries = (
        "tpch_q05", "tpcds_q03", "grouping_sets", "subq_lateral_topn",
        "join_existence_flag", "agg_filter_clause", "subq_not_in_null", "func_data_size",
    )
    saved = {n: spark.table(n) for n in names if spark.catalog.tableExists(n)}

    def temp_views():
        return sorted(t.name for t in spark.catalog.listTables() if t.isTemporary)

    try:
        for n in names:
            spark.sql(f"SELECT '{n}' AS decoy").createOrReplaceTempView(n)
        before = temp_views()
        for name in entries:
            problems = check_query(spark, name, queries[name], oracle[name], sf_dir)
            assert not problems, f"{name}: {problems}"
        for n in names:
            assert spark.table(n).collect() == [(n,)], n
        assert temp_views() == before
    finally:
        for n in names:
            if n in saved:
                saved[n].createOrReplaceTempView(n)
            else:
                spark.catalog.dropTempView(n)
