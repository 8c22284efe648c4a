#!/usr/bin/env python
"""Ad-hoc 1×→10× scaling probe for SCALING.md rows: time each named
registry query at sf0.01 and sf0.1 (median of 3 after 1 prewarm) in the
engine's own session (``session.get_spark``)."""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from presto_db_spark.registry import all_queries  # noqa: E402
from presto_db_spark.session import get_spark  # noqa: E402


def main() -> None:
    names = sys.argv[1:]
    spark = get_spark("probe-scale")
    queries = all_queries()
    # PROBE_SFS=0.001,0.01,0.1 widens the decade span: VERDICT r12 #4 —
    # a 100x (sf0.001→sf0.1) triple catches superlinearity a single
    # decade hides (the r10 fuzzy-del1 case)
    sfs = [
        f"/root/testdata/sf{s}"
        for s in os.environ.get("PROBE_SFS", "0.01,0.1").split(",")
    ]
    for name in names:
        fn = queries[name]
        for sf in sfs:
            fn(spark, sf).count()  # prewarm
            ts = []
            for _ in range(3):
                spark.catalog.clearCache()
                t0 = time.time()
                fn(spark, sf).count()
                ts.append(time.time() - t0)
            print(f"{name} {sf.rsplit('/', 1)[-1]}: "
                  f"median {statistics.median(ts):.2f}s  runs {[round(t, 2) for t in ts]}",
                  flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
