"""``catalog.load_table``'s binding rule: one frame per session and table
file version, with the ``events`` conf guards applied on every call."""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from presto_db_spark.catalog import load_table

from .oracle_utils import check_query, driver_canon, spark_rows

_GUARDS = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.inferTimestampNTZ.enabled")


def _jobs(spark, group: str, call):
    """``call()``'s result and the ids of the Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_bind_returns_the_same_frame_without_a_job(spark, sf_dir):
    s = spark.newSession()
    cold, cold_jobs = _jobs(s, "catalog-bind-cold", lambda: load_table(s, sf_dir, "lineitem"))
    warm, warm_jobs = _jobs(s, "catalog-bind-warm", lambda: load_table(s, sf_dir, "lineitem"))
    assert cold_jobs, "the first bind reads the parquet schema"
    assert warm_jobs == []
    assert warm._jdf.equals(cold._jdf)


def test_new_session_gets_its_own_frame(spark, sf_dir):
    ours = load_table(spark, sf_dir, "nation")
    s = spark.newSession()
    theirs = load_table(s, sf_dir, "nation")
    assert theirs.sparkSession is s
    assert not theirs._jdf.equals(ours._jdf)
    joined = s.sql(
        "SELECT count(*) FROM {n} JOIN {r} ON n_regionkey = r_regionkey",
        n=theirs,
        r=load_table(s, sf_dir, "region"),
    )
    assert joined.collect()[0][0] == ours.count()


def test_rewritten_file_is_read_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").count() == 3
    pq.write_table(pa.table({"k": [4, 5], "tag": ["a", "b"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "tag"]
    assert sorted(df.collect()) == [(4, "a"), (5, "b")]


def test_events_guards_run_on_a_warm_bind(spark, sf_dir):
    saved = {k: spark.conf.get(k, None) for k in _GUARDS}
    load_table(spark, sf_dir, "events")
    try:
        spark.conf.set(_GUARDS[0], "false")
        spark.conf.set(_GUARDS[1], "true")
        ev = load_table(spark, sf_dir, "events")
        assert [spark.conf.get(k) for k in _GUARDS] == ["true", "false"]
        assert isinstance(ev.schema["ts"].dataType, T.TimestampType)
        assert ev.select("ts").limit(5).collect()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _result_hash(df) -> str:
    canon = driver_canon(*spark_rows(df))
    return hashlib.sha256(canon.to_csv(index=False).encode()).hexdigest()


@pytest.mark.parametrize("name", ["graph_kcore", "tpch_q21", "tpch_q05"])
def test_cold_and_warm_bindings_agree(spark, sf_dir, name):
    """Each entry on a fresh session (every table bound cold), then again on
    the same session (every table a warm hit): both pass the oracle gate
    with identical result hashes. graph_kcore self-joins lineitem through
    the DataFrame API, tpch_q21 through SQL text."""
    from presto_db_spark.registry import all_oracle_sql, all_queries

    fn, sql = all_queries()[name], all_oracle_sql()[name]
    built = []

    def build(s, d):
        built.append(fn(s, d))
        return built[-1]

    s = spark.newSession()
    for leg in ("cold", "warm"):
        problems = check_query(s, name, build, sql, sf_dir)
        assert not problems, f"{name} ({leg} bindings): {problems}"
    cold, warm = (_result_hash(df) for df in built)
    assert cold == warm
