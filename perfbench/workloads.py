"""The benchmark's workloads: which queries each one sends, and in what order.

Every workload is a closed loop with one client and one query in flight.
A run makes one cold pass, then a fixed number of unmeasured warm-up passes,
then the measured warm passes over the workload's queries; the seed only
permutes the query order of each pass, so the same seed gives the same
sequence of queries and every seed sends the same set.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass

# All workloads read the fixed sf0.01 tables shipped in perfbench/data.
SF = "sf0.01"


@dataclass(frozen=True)
class Workload:
    name: str
    # "sql": the registry's oracle SQL text sent through Engine.sql;
    # "fn": the registry function called on (spark, sf_dir).
    mode: str
    queries: tuple[str, ...]
    # Unmeasured warm passes after the cold one: a fresh JVM is still getting
    # markedly faster over them.
    warmup_passes: int
    # Nominal seconds of one warm pass on a 4-core box. It turns --seconds
    # into a pass count that does not depend on how fast the host is, so a
    # slower host does not also measure a colder engine.
    pass_s: float

    def measured_passes(self, seconds: int) -> int:
        """Measured warm passes for --seconds: at least three, so that a
        median sets one slow pass aside."""
        return max(3, math.ceil(seconds / self.pass_s))


# Why each workload was chosen is recorded in BENCHMARK.json and README.md:
# olap_sql is the only one through the SQL front end (dialect rewrite,
# analysis) and has no Python boundary or eager loop; operators pairs an
# eager-loop operator (many jobs per query) with pandas-UDF operators
# (Arrow transfer, Python workers) and bypasses the SQL front end.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "olap_sql",
            "sql",
            ("tpch_q01", "tpch_q05", "tpch_q18", "tpcds_q72"),
            warmup_passes=6,
            pass_s=2.0,
        ),
        Workload(
            "operators",
            "fn",
            ("graph_kcore", "multimodal_flac_roundtrip", "text_fingerprint"),
            warmup_passes=2,
            pass_s=5.0,
        ),
    )
}


def pass_orders(workload: Workload, seed: int, passes: int) -> list[list[str]]:
    """Query order of each pass (pass 0 is the cold pass) for ``seed``."""
    rng = random.Random(f"{workload.name}:{seed}")
    orders = []
    for _ in range(passes):
        order = list(workload.queries)
        rng.shuffle(order)
        orders.append(order)
    return orders
