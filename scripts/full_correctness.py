#!/usr/bin/env python
"""Full-registry correctness sweep — VERDICT r06 directive #3.

The driver's per-round CORRECTNESS battery samples the first 50 registry
keys, so the recorded artifact depends on which 50 names the head
contains (a disclosed but undesirable measurement exposure — README
"Correctness" DISCLOSURE).  This script retires it: it runs EVERY
registry entry (the count is whatever ``len(all_queries())`` says — the
printed summary interpolates it at runtime) through the dtype-faithful local
replica of the driver gate (``tests/oracle_utils.check_query``:
``cur.df()``/``toPandas()`` fetch, column-name sort, all-column
``sort_values``, full-precision kind-strict compare) at sf0.01 — the
driver's own correctness SF — and writes ``CORRECTNESS_FULL_r{N}.json``
at the repo root, one record per entry in the driver's artifact shape::

    {"<name>": {"rows_match": bool, "schema_match": bool,
                "hash_match": bool, "spark_rows": int,
                "oracle_rows": int, "err": str | None,
                "oracle": "sql" | "rows_only", "sec": float}}

plus a ``_meta`` record (round, sf_dir, totals, wall time).

Usage::

    python scripts/full_correctness.py <round_number>

The round number is required: it names the artifact written, and the
committed ones must not be overwritten by accident.

Env: SPARK_GRAFT_SF_DIR_CORRECT (default ``SF_DIR`` below, sf0.01). The
session is the engine's own (``session.get_spark``: SPARK_GRAFT_CPUS,
default ``session.DEFAULT_CPUS``, the process's CPU affinity count), so
the sweep checks the plans the engine runs.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from presto_db_spark.registry import all_oracle_sql, all_queries  # noqa: E402
from presto_db_spark.session import get_spark  # noqa: E402
from tests.oracle_utils import (  # noqa: E402
    compare,
    driver_canon,
    run_oracle,
    spark_rows,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CORRECT", "/root/testdata/sf0.01")


def main() -> int:
    if len(sys.argv) != 2:
        sys.exit(f"usage: python {sys.argv[0]} <round_number>")
    rnd = int(sys.argv[1])
    out_path = os.path.join(REPO, f"CORRECTNESS_FULL_r{rnd:02d}.json")
    spark = get_spark("full-correctness-sweep")
    queries = all_queries()
    oracles = all_oracle_sql()
    t0 = time.time()
    results: dict[str, dict] = {}
    n_pass = 0
    for i, (name, fn) in enumerate(queries.items(), 1):
        rec: dict = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
            "oracle": "sql" if name in oracles else "rows_only",
        }
        q0 = time.time()
        try:
            s_cols, s_rows = spark_rows(fn(spark, SF_DIR))
            rec["spark_rows"] = len(s_rows)
            if name in oracles:
                o_cols, o_rows = run_oracle(oracles[name], SF_DIR)
                rec["oracle_rows"] = len(o_rows)
                problems = compare(s_cols, s_rows, o_cols, o_rows)
                rec["rows_match"] = len(s_rows) == len(o_rows)
                rec["schema_match"] = sorted(s_cols) == sorted(o_cols)
                rec["hash_match"] = not problems
                if problems:
                    rec["err"] = "; ".join(problems)[:2000]
            else:
                # rows-only: still enforce driver-canonicalizable shape
                driver_canon(s_cols, s_rows)
                rec["rows_match"] = rec["schema_match"] = rec["hash_match"] = True
        except Exception:  # noqa: BLE001 — sweep must record, not die
            rec["err"] = traceback.format_exc(limit=4)[-2000:]
        rec["sec"] = round(time.time() - q0, 3)
        results[name] = rec
        ok = rec["hash_match"] and rec["err"] is None
        n_pass += ok
        print(
            f"[{i:3d}/{len(queries)}] {'PASS' if ok else 'FAIL'} "
            f"{name} ({rec['sec']:.2f}s)"
            + ("" if ok else f"  -> {rec['err']}"),
            flush=True,
        )
        spark.catalog.clearCache()
    meta = {
        "round": rnd,
        "sf_dir": SF_DIR,
        "total": len(queries),
        "passed": n_pass,
        "failed": len(queries) - n_pass,
        "sql_oracles": sum(1 for n in queries if n in oracles),
        "rows_only": sum(1 for n in queries if n not in oracles),
        "wall_sec": round(time.time() - t0, 1),
    }
    out = {"_meta": meta}
    out.update(results)
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(f"\n{n_pass}/{len(queries)} green -> {out_path} "
          f"({meta['wall_sec']}s)", flush=True)
    spark.stop()
    return 0 if n_pass == len(queries) else 1


if __name__ == "__main__":
    sys.exit(main())
