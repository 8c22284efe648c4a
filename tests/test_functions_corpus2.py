from __future__ import annotations

import pytest

from presto_db_spark.operators import functions_corpus as fc2

from .oracle_utils import check_query, names_between


@pytest.mark.parametrize(
    "name", names_between(fc2.QUERIES, first="func_string_extra", stop="agg_reduce")
)
def test_functions2_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, fc2.QUERIES[name], fc2.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"
