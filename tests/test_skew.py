from __future__ import annotations

import pytest

from presto_db_spark.operators import skew

from .oracle_utils import check_query


@pytest.mark.parametrize("name", sorted(skew.QUERIES))
def test_skew_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, skew.QUERIES[name], skew.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"


def test_salted_agg_splits_groups(spark, sf_dir):
    """The partial phase must produce more groups than the final (salt
    actually splits the hot keys)."""
    from pyspark.sql import functions as F

    from presto_db_spark.catalog import load_tables

    (li,) = load_tables(spark, sf_dir, "lineitem")
    salted = li.withColumn("_salt", skew.salt_of(F.col("l_orderkey")))
    n_partials = salted.groupBy("l_returnflag", "_salt").count().count()
    n_final = li.select("l_returnflag").distinct().count()
    assert n_partials > n_final
