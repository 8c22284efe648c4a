"""Both sides of ``catalog.fanout``'s rule: a one-file scan below the
session parallelism gets one exchange to ``defaultParallelism``; a scan
that already arrives as at least that many splits is returned as is."""

from __future__ import annotations

import os
import re

import pytest

from presto_db_spark.catalog import fanout, load_table
from presto_db_spark.operators import dedup

from .oracle_utils import check_query

_SPLIT = "spark.sql.files.maxPartitionBytes"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def _subtree(plan: str, op: str) -> list[str]:
    """The lines of the plan tree below the first node whose line names ``op``."""
    lines = plan.splitlines()
    i = next(i for i, line in enumerate(lines) if op in line)
    out = []
    for line in lines[i + 1 :]:
        if _depth(line) <= _depth(lines[i]):
            break
        out.append(line)
    return out


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def test_fanout_repartitions_a_narrow_scan(spark, sf_dir):
    par = spark.sparkContext.defaultParallelism
    if par < 2:
        pytest.skip("one task slot: every scan already has enough splits")
    docs = load_table(spark, sf_dir, "documents")
    assert len(docs.inputFiles()) == 1
    hashed = _plan(fanout(docs, "doc_id"))
    assert re.search(rf"Exchange hashpartitioning\(doc_id#\d+L?, {par}\)", hashed), hashed
    robin = _plan(fanout(docs.select("doc_id")))
    assert f"Exchange RoundRobinPartitioning({par})" in robin, robin


def test_fanout_keeps_a_scan_that_already_splits(spark, sf_dir):
    """With maxPartitionBytes small enough that bytes // maxSplit reaches
    the parallelism, the scan is left alone, and dedup_simhash then plans
    no exchange between the documents scan and its explode."""
    par = spark.sparkContext.defaultParallelism
    size = os.path.getsize(f"{sf_dir}/documents.parquet")
    old = spark.conf.get(_SPLIT)
    spark.conf.set(_SPLIT, str(max(1, size // par)))
    try:
        docs = load_table(spark, sf_dir, "documents")
        assert fanout(docs, "doc_id") is docs
        fn = dedup.QUERIES["dedup_simhash"]
        below = _subtree(_plan(fn(spark, sf_dir)), "Generate explode")
        assert any("FileScan parquet" in line for line in below), below
        assert not any("Exchange" in line for line in below), below
        problems = check_query(spark, "dedup_simhash", fn, dedup.ORACLE["dedup_simhash"], sf_dir)
    finally:
        spark.conf.set(_SPLIT, old)
    assert not problems, problems
