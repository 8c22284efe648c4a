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
    """An entry built from its SQL text reads the tables it loads itself,
    not the session's temp views of the same names, and leaves those views
    as it found them: no decoy replaced, no binding view left behind."""
    from presto_db_spark.operators import tpcds

    names = ("customer", "nation")
    saved = {n: spark.table(n) for n in names if spark.catalog.tableExists(n)}
    try:
        for n in names:
            spark.sql(f"SELECT '{n}' AS decoy").createOrReplaceTempView(n)
        for mod, name in ((tpch, "tpch_q05"), (tpcds, "tpcds_q03")):
            problems = check_query(spark, name, mod.QUERIES[name], mod.ORACLE[name], sf_dir)
            assert not problems, f"{name}: {problems}"
        for n in names:
            assert spark.table(n).collect() == [(n,)], n
        leftover = [t.name for t in spark.catalog.listTables() if t.name.startswith("_pyspark_")]
        assert not leftover, leftover
    finally:
        for n in names:
            if n in saved:
                saved[n].createOrReplaceTempView(n)
            else:
                spark.catalog.dropTempView(n)
