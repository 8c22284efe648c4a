from __future__ import annotations

import pytest

from presto_db_spark.operators import relational

from .oracle_utils import check_query, names_between


@pytest.mark.parametrize("name", names_between(relational.QUERIES, stop="subq_exists"))
def test_relational_vs_duckdb(spark, sf_dir, name):
    problems = check_query(
        spark, name, relational.QUERIES[name], relational.ORACLE.get(name), sf_dir
    )
    assert not problems, f"{name}: {problems}"
