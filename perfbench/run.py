"""The engine's benchmark command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It starts one fresh worker process
(perfbench/worker.py) with an environment fitted to the box, samples
the memory of the worker's whole session from outside, checks every
fetched result against its DuckDB oracle once the worker has ended, and
prints every metric by name and unit. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.workloads import SF, WORKLOADS, pass_orders  # noqa: E402

WORK = ROOT / ".perfbench"
DATA = ROOT / "perfbench" / "data"
DEADLINE_S = 150  # the worker is stopped after this; the command ends within 180 s
# No pass starts that would end later than this after the command started,
# once two measured passes have run, so a slow host cannot stretch a run
# much past a minute; a normal run ends its passes about 10 s earlier.
PASS_BUDGET_S = 62

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_geomean_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s",
    "registry.import_s": "s",
    "engine.init_s": "s",
    "engine.sql_s": "s",
    "dialect.rewrite_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.jobs": "count",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "plan.s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "sched.driver_gap_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.cpu_share": "ratio",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "py.to_worker_mb": "MB",
    "py.from_worker_mb": "MB",
    "py.worker_run_s": "s",
    "py.worker_boot_s": "s",
    "ckpt.stored_mb": "MB",
    "fetch.s": "s",
    "fetch.rows": "count",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}
# Span name → per-layer time metric (sum of span durations per pass).
SPAN_TIMES = {
    "engine.sql": "engine.sql_s",
    "dialect.rewrite": "dialect.rewrite_s",
    "catalog.load_table": "catalog.load_table_s",
    "operators.build": "operators.build_s",
    "plan": "plan.s",
    "fetch": "fetch.s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cpus() -> int:
    """Task slots of the local session: half the cores, so the JVM's JIT
    compiler and GC threads, the driver Python and the Python workers run
    beside the tasks instead of queueing behind them."""
    return max(1, nproc() // 2)


def worker_env() -> tuple[dict[str, str], dict[str, str]]:
    """The environment the worker runs in, fitted to this box; every
    variable set here is printed with the results."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    fitted = {
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        # Python workers import the engine's pandas UDFs by module path.
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(tmp),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    }
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_MASTER", "SPARK_GRAFT_MASTER")}
    env.update(fitted)
    return env, fitted


def session_rss(sid: int) -> dict[int, int]:
    """Resident bytes of every live process in session ``sid``, from /proc.

    The worker starts a new session, and every process it leads to stays in
    it: the JVM and PySpark's Python-worker daemon, which moves itself into a
    process group of its own (``os.setpgid(0, 0)`` in ``pyspark/daemon.py``)
    and forks the Python workers from there."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while being read
            continue
        # fields[0] is the state, fields[3] the session id (stat fields 3, 6)
        if fields[0] != "Z" and int(fields[3]) == sid:
            out[int(entry)] = int(fields[21]) * page
    return out


def is_python_worker(pid: int) -> bool:
    """True for PySpark's Python-worker daemon and the workers it forks."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark.daemon" in f.read()
    except OSError:
        return False


class MemorySampler:
    """Samples the summed RSS of a session every 0.1 s until stopped; keeps
    the peak, and the peak of the Python workers' share of it.

    A process counts from the second sample that sees it. A child the JVM or
    Python spawns shares its parent's address space until it execs (vfork),
    and /proc then reports the parent's whole RSS for it too; such children
    live far shorter than 0.1 s, whereas the processes that hold memory (the
    JVM, the Python workers) live for the whole run."""

    def __init__(self, sid: int) -> None:
        self.sid = sid
        self.peak_mb = 0.0
        self.peak_python_workers_mb = 0.0
        self.python_workers: set[int] = set()
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        before: set[int] = set()
        while not self._stop.is_set():
            now = session_rss(self.sid)
            rss = {pid: b for pid, b in now.items() if pid in before}
            before = set(now)
            workers = 0
            self.seen.update(rss)
            for pid, b in rss.items():
                # read every time until it is one: a process may exec later
                if pid in self.python_workers or is_python_worker(pid):
                    self.python_workers.add(pid)
                    workers += b
            self.peak_mb = max(self.peak_mb, sum(rss.values()) / 2**20)
            self.peak_python_workers_mb = max(self.peak_python_workers_mb, workers / 2**20)
            self._stop.wait(0.1)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def end_session(sid: int, grace_s: float) -> None:
    """Wait up to ``grace_s`` for every process of session ``sid`` to end,
    then kill what is left, and return once none is alive."""
    grace = time.time() + grace_s
    while pids := session_rss(sid):
        if time.time() > grace:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run_worker(plan: dict, deadline: float) -> tuple[dict, float, MemorySampler]:
    """Start the worker in a session of its own, sample the session's memory
    until the worker ends, and make sure every process it started has ended
    too. Returns (result, spawn time, memory sampler)."""
    env, _ = worker_env()
    plan_path, out_path, log_path = (WORK / f"{plan['tag']}.{x}" for x in ("plan.json", "out.json", "log"))
    plan_path.write_text(json.dumps(plan))
    out_path.unlink(missing_ok=True)
    with open(log_path, "w") as log:
        spawn = time.time()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", str(plan_path), str(out_path)],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        memory = MemorySampler(proc.pid)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            memory.stop()
            # the JVM and Python workers end after the worker; wait for them
            end_session(proc.pid, grace_s=15)
            proc.wait()
    if proc.returncode != 0 or not out_path.exists():
        tail = log_path.read_text()[-4000:]
        raise RuntimeError(f"worker failed (exit {proc.returncode}); log tail:\n{tail}")
    result = json.loads(out_path.read_text())
    for path in (plan_path, out_path, log_path):
        path.unlink()
    return result, spawn, memory


def check(result: dict) -> None:
    """Compare every fetched result with its DuckDB-oracle hash. Runs after
    the worker's session has ended, so the oracle's time and memory
    are not measured."""
    from perfbench.oracle import oracle_hashes

    expected = oracle_hashes(result["sql"], DATA / SF, WORK / "oracle")
    for p in result["passes"]:
        for q in p["queries"]:
            if q["error"] is None and q["hash"] != expected[q["query"]]:
                q["error"] = f"result hash {q['hash'][:12]} != oracle {expected[q['query']][:12]}"


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def measured(result: dict, traced: bool) -> list[dict]:
    first = result["measured_from"]
    return [p for p in result["passes"][first:] if p["traced"] == traced]


def end_to_end(result: dict, spawn: float, peak_mb: float) -> dict[str, float]:
    warm = measured(result, traced=False)
    per_query: dict[str, list[float]] = {}
    for p in warm:
        for q in p["queries"]:
            if q["error"] is None:
                per_query.setdefault(q["query"], []).append(q["latency_s"])
    return {
        "setup_s": result["ready"] - spawn,
        "wall_s": statistics.median(p["wall_s"] for p in warm),
        "latency_geomean_s": geomean([statistics.median(v) for v in per_query.values()]),
        "peak_rss_mb": peak_mb,
    }


def query_roots(spans: list[dict]) -> list[int]:
    """Index of each span's enclosing query span (parents precede children)."""
    root: list[int] = []
    for s in spans:
        root.append(s["id"] if s["parent"] is None else root[s["parent"]])
    return root


def per_layer(result: dict) -> dict[str, float]:
    spans = result["spans"]
    root = query_roots(spans)
    qid_of = {s["id"]: s["attrs"]["qid"] for s in spans if s["name"] == "query"}
    traced = measured(result, traced=True)
    totals = []
    for p in traced:
        prefix = f"p{p['index']}q"
        t = dict.fromkeys(PER_LAYER, 0.0)
        for s in spans:
            if not qid_of[root[s["id"]]].startswith(prefix):
                continue
            dur = s["end"] - s["start"]
            if s["name"] in SPAN_TIMES:
                t[SPAN_TIMES[s["name"]]] += dur
            if s["name"] == "catalog.load_table":
                t["catalog.load_table_calls"] += 1
            for k, v in s["attrs"].get("counters", {}).items():
                t[k] = max(t[k], v) if k == "ckpt.stored_mb" else t[k] + v
        t["fetch.rows"] = sum(q["rows"] or 0 for q in p["queries"])
        t["exec.cpu_share"] = t["exec.cpu_s"] / t["exec.run_s"] if t["exec.run_s"] else 0.0
        totals.append(t)
    out = {k: statistics.median(t[k] for t in totals) for k in PER_LAYER}
    out.update(result["setup"])

    # Each traced pass against the mean of the untraced measured passes next
    # to it, so the engine's warming over the passes cancels out.
    by_index = {p["index"]: p for p in measured(result, traced=False)}
    diffs, bases = [], []
    for p in traced:
        near = [by_index[i] for i in (p["index"] - 1, p["index"] + 1) if i in by_index]
        base = statistics.fmean(query_time(n) for n in near)
        diffs.append(query_time(p) - base)
        bases.append(base)
    out["trace.overhead_s"] = statistics.median(diffs)
    out["trace.overhead_share"] = out["trace.overhead_s"] / statistics.median(bases)
    return out


def query_time(p: dict) -> float:
    """Summed query latency of one pass."""
    return sum(q["latency_s"] or 0.0 for q in p["queries"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.time()
    deadline = start + DEADLINE_S

    missing = [p for p in ("presto_db_spark/registry.py", "tests/oracle_utils.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: the engine's sources are not in {ROOT}: missing {missing}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    WORK.mkdir(exist_ok=True)
    # pass 0 is cold, then the warm-up passes, then the measured passes; a
    # traced run alternates untraced and traced measured passes, starting
    # with a traced one on even seeds and an untraced one on odd seeds
    first = 1 + w.warmup_passes
    n_passes = first + w.measured_passes(args.seconds)
    plan = {
        "tag": f"{w.name}-seed{args.seed}-trace{args.trace}",
        "mode": w.mode,
        "sf_dir": str(DATA / SF),
        "cpus": str(spark_cpus()),
        "trace": bool(args.trace),
        "orders": pass_orders(w, args.seed, n_passes),
        "traced": [bool(args.trace) and i >= first and (i - first + args.seed) % 2 == 0
                   for i in range(n_passes)],
        "deadline": start + PASS_BUDGET_S,
        "min_passes": first + 2,
    }
    try:
        result, spawn, memory = run_worker(plan, deadline)
    except RuntimeError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    result["measured_from"] = first
    ran = len(result["passes"])
    if not (measured(result, traced=False) and (measured(result, traced=True) or not args.trace)):
        print(f"perfbench: only {ran} of {n_passes} passes ran before the deadline",
              file=sys.stderr)
        return 1
    check(result)

    executions = [q for p in result["passes"] for q in p["queries"]]
    failures = [q for q in executions if q["error"] is not None]
    print(f"perfbench workload={w.name} mode={w.mode} sf={SF} seed={args.seed} "
          f"trace={args.trace} clients=1 in_flight=1 queries={len(w.queries)} "
          f"passes=1 cold + {w.warmup_passes} warm-up + {ran - first} measured"
          + ("" if ran == n_passes else f" (cut from {n_passes - first} at the deadline)"))
    for k, v in worker_env()[1].items():
        print(f"env {k}={v}")
    print(f"rss_sampled processes={len(memory.seen)} "
          f"python_workers={len(memory.python_workers)} "
          f"peak_python_workers_mb={memory.peak_python_workers_mb:.1f}")
    for q in failures:
        print(f"error {q['query']}: {q['error']}")
    if args.trace:
        metrics = per_layer(result)
        units = PER_LAYER
        trace_path = WORK / f"trace-{plan['tag']}.json"
        trace_path.write_text(json.dumps({"spans": result["spans"], "passes": result["passes"]}))
        print(f"trace {trace_path.relative_to(ROOT)} spans={len(result['spans'])}")
    else:
        metrics = end_to_end(result, spawn, memory.peak_mb)
        units = END_TO_END
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    # Printed with every run but not JSON metrics: error_rate is 0 on a
    # correct engine, and the cold pass is one sample per fresh process, so
    # it spreads with the host's load at that moment and no median steadies it.
    print(f"cold_pass_s {result['passes'][0]['wall_s']:.6g} s")
    print(f"error_rate {len(failures) / len(executions):.6g} ratio")
    print(json.dumps({
        "correct": not failures,
        "attempted": len(executions),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
