"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The first group needs no Spark. The last test runs the benchmark command
once per workload and tracing mode (about a minute each on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402
from perfbench.oracle import rows_hash  # noqa: E402
from perfbench.trace import Tracer, add_clipped, parse_sql_metric, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, pass_orders  # noqa: E402

# Self times sum to the query's wall by construction; they account for it
# when none is negative, i.e. no child span overlaps a sibling or reaches
# past its parent by more than this many seconds.
SELF_TIME_TOLERANCE_S = 1e-6


def test_seed_permutes_order_only():
    w = WORKLOADS["olap_sql"]
    a, b = pass_orders(w, 7, 5), pass_orders(w, 7, 5)
    assert a == b
    assert pass_orders(w, 8, 5) != a
    assert all(sorted(order) == sorted(w.queries) for order in a)


def test_clipped_jobs_leave_no_negative_self_time():
    tr = Tracer()
    q = tr.open("query", 0.0)
    b = tr.open("operators.build", 0.0)
    tr.open("catalog.load_table", 1.0)
    tr.close(2, 2.0)
    tr.close(b, 5.0)
    tr.close(q, 6.0)
    # jobs overlapping each other, the load span, and the parent's end
    add_clipped(tr, "spark.job", [(0.5, 1.5, {"job": 1}), (1.2, 3.0, {"job": 2}),
                                  (2.5, 5.5, {"job": 3}), (1.1, 1.9, {"job": 4})], b)
    kids = sorted((s["start"], s["end"]) for s in tr.spans if s["parent"] == b and s["end"] > s["start"])
    assert all(e1 <= s2 for (_, e1), (s2, _) in zip(kids, kids[1:]))
    assert all(0.0 <= s and e <= 5.0 for s, e in kids)
    st = self_times(tr.spans)
    assert all(v >= -1e-12 for v in st.values())
    assert {s["attrs"]["job"] for s in tr.spans if s["name"] == "spark.job"} == {1, 2, 3, 4}


def test_parse_sql_metric():
    assert parse_sql_metric("2.7 s") == 2.7
    assert parse_sql_metric("555 ms") == pytest.approx(0.555)
    assert parse_sql_metric("1,500") == 1500
    assert parse_sql_metric("468.4 KiB") == pytest.approx(468.4 * 1024)
    multi = "total (min, med, max (stageId: taskId))\n13.2 s (730 ms, 2.3 s, 2.7 s (stage 3.0: task 3))"
    assert parse_sql_metric(multi) == pytest.approx(13.2)


def test_rows_hash_is_canonical_and_kind_strict():
    base = rows_hash(["a", "b"], [(1, "x"), (2, "y")])
    assert rows_hash(["b", "a"], [("y", 2), ("x", 1)]) == base
    assert rows_hash(["a", "b"], [(1.0, "x"), (2.0, "y")]) != base


def test_measured_pass_count_depends_on_seconds_only():
    w = WORKLOADS["olap_sql"]
    assert w.measured_passes(1) == 3
    assert w.measured_passes(12) >= 12 / w.pass_s > w.measured_passes(12) - 1


def test_memory_follows_the_session_into_new_process_groups():
    # PySpark's daemon moves itself into a process group of its own
    # (os.setpgid(0, 0)) and forks the Python workers from there.
    script = (
        "import os, time\n"
        "if os.fork() == 0:\n"
        "    os.setpgid(0, 0)\n"
        "    block = b'x' * (64 * 2**20)\n"
        "    print(os.getpid(), flush=True)\n"
        "time.sleep(60)\n"
    )
    proc = subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        child = int(proc.stdout.readline())
        assert os.getpgid(child) != proc.pid
        rss = run.session_rss(proc.pid)
        assert {proc.pid, child} <= set(rss)
        assert rss[child] >= 64 * 2**20
    finally:
        run.end_session(proc.pid, grace_s=0)
        proc.wait()
        proc.stdout.close()
    assert not run.session_rss(proc.pid)


def test_benchmark_json_matches_the_command():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_fails_without_the_engine_sources(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap_sql", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def _run(workload: str, trace: int) -> tuple[dict, list[str]]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), lines[:-1]


def _fields(report: list[str], prefix: str) -> dict[str, float]:
    line = next(line for line in report if line.startswith(prefix + " "))
    return {k: float(v) for k, v in (f.split("=") for f in line.split()[1:])}


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_command_emits_every_metric_and_a_consistent_trace(workload):
    for trace, names in ((0, run.END_TO_END), (1, run.PER_LAYER)):
        result, report = _run(workload, trace)
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        assert {k: v["unit"] for k, v in result["metrics"].items()} == names
        assert "error_rate 0 ratio" in report
        assert any(line.startswith("cold_pass_s ") and line.endswith(" s") for line in report)
        for k, unit in names.items():
            assert any(line.startswith(f"{k} ") and line.endswith(f" {unit}") for line in report)
        if workload == "operators":  # its pandas UDFs run in Python workers
            memory = _fields(report, "rss_sampled")
            assert memory["python_workers"] >= 1 and memory["peak_python_workers_mb"] > 0
    trace_line = next(line for line in report if line.startswith("trace "))
    spans = json.loads((ROOT / trace_line.split()[1]).read_text())["spans"]
    st = self_times(spans)
    roots = run.query_roots(spans)
    queries = [s for s in spans if s["name"] == "query"]
    assert queries
    for q in queries:
        kids = {s["name"] for s in spans if s["parent"] == q["id"]}
        assert {"plan", "action", "fetch"} <= kids
        assert kids & {"engine.sql", "operators.build"}
        assert all(v >= -SELF_TIME_TOLERANCE_S for i, v in st.items() if roots[i] == q["id"])
