"""Adapted TPC-DS subset vs DuckDB oracle at sf0.001 (fast) — the driver
re-runs the same comparison at sf0.01."""

from __future__ import annotations

import pytest

from presto_db_spark.operators import tpcds

from .oracle_utils import check_query, names_between


@pytest.mark.parametrize("name", names_between(tpcds.QUERIES, stop="tpcds_q15"))
def test_tpcds_vs_duckdb(spark, sf_dir, name):
    problems = check_query(
        spark, name, tpcds.QUERIES[name], tpcds.ORACLE.get(name), sf_dir
    )
    assert not problems, f"{name}: {problems}"


@pytest.mark.parametrize("name", names_between(tpcds.QUERIES, first="tpcds_q15"))
def test_tpcds2_vs_duckdb(spark, sf_dir, name):
    problems = check_query(
        spark, name, tpcds.QUERIES[name], tpcds.ORACLE.get(name), sf_dir
    )
    assert not problems, f"{name}: {problems}"


def test_tpcds_nonempty_at_any_sf(spark, sf_dir):
    """The filter constants must select real data, or the oracle match is
    vacuous — q03/q42/q52 may legitimately be empty at sf0.001, but the
    bulk queries must produce rows."""
    for name in ["tpcds_q07", "tpcds_q11", "tpcds_q95", "tpcds_q33",
                 "tpcds_q75", "tpcds_q76"]:
        assert tpcds.QUERIES[name](spark, sf_dir).count() > 0, name

