"""Tracked stage materialization for fan-out DAGs.

An operator that feeds ONE expensive frame (e.g. a full-corpus signature
stage) into several consumers cannot rely on Catalyst's ReuseExchange:
per-consumer column pruning diverges the exchange subtrees, so the stage
re-executes once per consumer (measured: the MinHash signature UDF appeared
4x in the executed plan).  The deterministic fix is the classic stage
materialization — persist the narrow frame once, let every consumer read
the cached blocks.

This module is the one bookkeeper for such materializations, the
``cte_materialization_enabled`` CTE frames of the kept TPC-DS ports
included (they share one stage name): at most ONE outstanding handle per
stage name (a re-invocation releases the previous one, so long-lived
sessions never accumulate cached blocks), and ``release_stages()`` drops
everything eagerly.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_STAGES: dict[str, DataFrame] = {}


def materialize_stage(name: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` MEMORY_AND_DISK as stage ``name``, releasing any
    previous materialization of the same stage first."""
    old = _STAGES.pop(name, None)
    if old is not None:
        old.unpersist()
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _STAGES[name] = df
    return df


def release_stages() -> None:
    """Unpersist every outstanding stage materialization."""
    while _STAGES:
        _STAGES.popitem()[1].unpersist()
