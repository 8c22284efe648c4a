from __future__ import annotations

import glob
import json
import os

import pytest

from presto_db_spark.streaming import pipeline as sp

from .oracle_utils import check_query


@pytest.mark.parametrize("name", sorted(sp.QUERIES))
def test_streaming_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, sp.QUERIES[name], sp.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"


def test_late_data_drops_and_keeps(spark, sf_dir):
    """The late slice must exercise BOTH outcomes: some odd rows dropped
    by the watermark (engine metric > 0), some merged into still-live
    windows — and the total emitted count must sit strictly between
    drop-everything-late and drop-nothing bounds."""
    from presto_db_spark.streaming import pipeline as P
    from .oracle_utils import run_oracle

    df = P.QUERIES["streaming_late_data"](spark, sf_dir)
    emitted = sum(r.cnt for r in df.collect())

    no_drop_sql = """
    WITH bounds AS (SELECT date_trunc('hour', max(ts)) AS cut, max(ts) AS gm FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n FROM events e, bounds b
    WHERE date_trunc('hour', e.ts) + INTERVAL 1 HOUR <= b.gm - INTERVAL 1 HOUR
    """
    all_late_dropped_sql = """
    WITH bounds AS (SELECT date_trunc('hour', max(ts)) AS cut, max(ts) AS gm FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n FROM events e, bounds b
    WHERE (e.event_id % 2 = 0 OR e.ts >= b.cut)
      AND date_trunc('hour', e.ts) + INTERVAL 1 HOUR <= b.gm - INTERVAL 1 HOUR
    """
    (_, [(upper,)]) = run_oracle(no_drop_sql, sf_dir)
    (_, [(lower,)]) = run_oracle(all_late_dropped_sql, sf_dir)
    assert lower < emitted < upper, (lower, emitted, upper)


def test_streaming_dedup_deterministic_survivor(spark, sf_dir):
    """The kept record per key is the min event_id (deterministic under
    any batch/file arrival order), n_seen counts every duplicate, and the
    fixture yields both unique and duplicated keys (non-vacuous)."""
    rows = sp.QUERIES["streaming_dedup_stateful"](spark, sf_dir).collect()
    assert rows
    # (every key duplicates at sf0.001 — few users × types over 10k events —
    # so uniqueness presence is fixture-dependent; duplication is the
    # non-vacuity that matters for a dedup op)
    assert any(not r.is_unique for r in rows)
    ev = (
        sp.events_stream.__globals__["load_table"](spark, sf_dir, "events")
        .select("user_id", "event_type", "event_id")
        .collect()
    )
    agg = {}
    for e in ev:
        k = (e.user_id, e.event_type)
        kid, n = agg.get(k, (e.event_id, 0))
        agg[k] = (min(kid, e.event_id), n + 1)
    assert len(rows) == len(agg)
    for r in rows:
        kid, n = agg[(r.user_id, r.event_type)]
        assert (r.keep_event_id, r.n_seen, r.is_unique) == (kid, n, n == 1)


@pytest.mark.parametrize("partitions, used", [("3", "3"), ("13", "8")])
def test_state_partitions_either_side_of_the_cap(spark, sf_dir, partitions, used):
    """A stream runs with ``min(shuffle.partitions, 8)`` state partitions,
    read back from its checkpoint's offset log: 3 is below the cap and 13
    above it. Both give the oracle's rows, and the caller's
    ``spark.sql.shuffle.partitions`` is restored."""
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, partitions)
    try:
        name = "streaming_tumbling"
        problems = check_query(spark, name, sp.QUERIES[name], sp.ORACLE[name], sf_dir)
        assert not problems, f"{name} at {partitions}: {problems}"
        assert spark.conf.get(key) == partitions
        ckpt = max(glob.glob(os.path.join(sp._tmp_root(), "ckpt_*")), key=os.path.getmtime)
        with open(os.path.join(ckpt, "offsets", "0")) as f:
            meta = json.loads(f.read().splitlines()[1])
        assert meta["conf"][key] == used
    finally:
        spark.conf.set(key, before)
