#!/usr/bin/env python
"""Ad-hoc subset correctness check: run named registry entries through the
same dtype-faithful oracle gate the full sweep uses.

Usage: python scripts/check_subset.py name1 name2 ...  [--sf DIR]

The session is the engine's own (``session.get_spark``).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from presto_db_spark.registry import all_oracle_sql, all_queries  # noqa: E402
from presto_db_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import check_query  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--sf":
            if i + 1 >= len(argv):
                print("usage: check_subset.py name... [--sf DIR]")
                return 2
            sf_dir = argv[i + 1]
            i += 2
            continue
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
        elif a.startswith("--"):
            print(f"check_subset.py: unrecognized flag {a!r}")
            print("usage: check_subset.py name... [--sf DIR]")
            return 2
        else:
            args.append(a)
        i += 1
    qs, os_ = all_queries(), all_oracle_sql()
    spark = get_spark("subset-check")
    spark.sparkContext.setLogLevel("ERROR")
    fails = 0
    for name in args:
        if name not in qs:
            print(f"{name}: NOT IN REGISTRY")
            fails += 1
            continue
        t0 = time.time()
        try:
            errs = check_query(spark, name, qs[name], os_.get(name), sf_dir)
        except Exception as exc:  # noqa: BLE001
            errs = [f"exception: {exc!r}"]
        dt = time.time() - t0
        if errs:
            fails += 1
            print(f"{name}: FAIL ({dt:.1f}s)")
            for e in errs:
                print(f"   {e[:500]}")
        else:
            print(f"{name}: ok ({dt:.1f}s)")
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
