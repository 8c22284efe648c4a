"""The bench's output contract: one headline query through ``bench.py``
end to end. The final line carries exactly the driver-parsed keys, the
detail line carries only the per-query spread, and a run writes nothing
into the checkout."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _git_status() -> str:
    return subprocess.run(
        ["git", "status", "--porcelain"], cwd=ROOT,
        capture_output=True, text=True, check=True,
    ).stdout


def test_bench_prints_raw_medians_and_leaves_tree_untouched(sf_dir):
    before = _git_status()
    env = dict(
        os.environ,
        BENCH_ONLY="tpch_q06",
        BENCH_PREWARM="0",
        BENCH_RUNS="1",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_SF_DIR=sf_dir,
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    final = json.loads(lines[-1])
    assert set(final) == {"metric", "value", "unit", "queries", "sf", "runs", "prewarm"}
    assert final["queries"] == {"tpch_q06": final["value"]}
    detail_line = next(ln for ln in lines if ln.startswith("BENCH_DETAIL "))
    detail = json.loads(detail_line[len("BENCH_DETAIL "):])
    assert set(detail) == {"spread"}
    assert len(detail["spread"]["tpch_q06"]["samples"]) == 1
    assert _git_status() == before
