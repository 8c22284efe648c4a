"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (TPC-H q05-style 6-way join + agg) on
sf0.001. ``queries()`` / ``oracle_sql()`` — the full operator corpus from
presto_db_spark.registry; the driver cross-checks each against DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from presto_db_spark.registry import all_oracle_sql, all_queries

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from presto_db_spark.operators.tpch import QUERIES

    return QUERIES["tpch_q05"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return all_queries()


def oracle_sql() -> dict[str, str]:
    return all_oracle_sql()
