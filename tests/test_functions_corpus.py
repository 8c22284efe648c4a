from __future__ import annotations

import pytest

from presto_db_spark.operators import functions_corpus as fc

from .oracle_utils import check_query, names_between


@pytest.mark.parametrize("name", names_between(fc.QUERIES, stop="func_string_extra"))
def test_functions_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, fc.QUERIES[name], fc.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"
