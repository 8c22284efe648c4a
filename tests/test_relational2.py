from __future__ import annotations

import pytest

from presto_db_spark.operators import rangejoin as rj
from presto_db_spark.operators import relational as r2
from presto_db_spark.registry import all_queries

from .oracle_utils import check_query, names_between

ALL = {**{n: (r2.QUERIES[n], r2.ORACLE.get(n))
          for n in names_between(r2.QUERIES, first="subq_exists")},
       **{n: (rj.QUERIES[n], rj.ORACLE.get(n)) for n in rj.QUERIES}}


@pytest.mark.parametrize("name", sorted(ALL))
def test_relational2_vs_duckdb(spark, sf_dir, name):
    fn, sql = ALL[name]
    problems = check_query(spark, name, fn, sql, sf_dir)
    assert not problems, f"{name}: {problems}"


def test_multi_distinct_single_scan(spark, sf_dir):
    """The MarkDistinct shape must plan as ONE scan (Expand), not N."""
    df = all_queries()["agg_multi_distinct"](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" in plan


def test_range_join_no_duplicates(spark, sf_dir):
    """Bucket explosion must not duplicate candidate pairs."""
    df = rj.QUERIES["events_range_join"](spark, sf_dir)
    total = df.count()
    distinct = df.select("click_id", "purchase_id").distinct().count()
    assert total == distinct


def test_index_lookup_join_plan_and_gate(spark, sf_dir):
    """IndexJoinOperator analog (operators/indexjoin.py): the probe keys
    must reach the indexed side's parquet scan as a pushed In() filter
    (the row-group point-lookup), the probe side must broadcast, and the
    applicability gate must refuse unbounded probes."""
    import pytest as _pytest

    from presto_db_spark.catalog import load_table
    from presto_db_spark.operators import indexjoin as ij

    df = ij.QUERIES["join_index_lookup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("In(o_custkey" in plan) or ("EqualTo(o_custkey" in plan), plan[:2000]  # 1 key -> EqualTo
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    with _pytest.raises(ValueError, match="applicability bound"):
        ij.index_lookup_join(
            cust.select("c_custkey", "c_name"), orders,
            "c_custkey", "o_custkey", max_keys=3,
        )
