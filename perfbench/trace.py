"""Spans and per-layer counters, taken from outside the engine.

A traced query is a tree of spans (name, start, end, parent) recorded around
the calls the benchmark makes into each layer, plus Spark job intervals read
from the status store after the query. Spans are kept in memory and written
out when the run ends.
"""

from __future__ import annotations

import re

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span store. ``active`` is False outside traced queries so
    the wrappers installed around layer functions cost one attribute read."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.active = False
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "attrs": attrs}
        )
        return len(self.spans) - 1

    def open(self, name: str, start: float, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, start, start, parent, **attrs)
        self._stack.append(sid)
        return sid

    def close(self, sid: int, end: float) -> None:
        assert self._stack and self._stack[-1] == sid, "spans must close in order"
        self._stack.pop()
        self.spans[sid]["end"] = end

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None


def _free(start: float, end: float, occupied: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """The parts of [start, end] that no interval in ``occupied`` covers."""
    pieces = []
    for s, e in sorted(occupied):
        if s > start:
            pieces.append((start, min(s, end)))
        start = max(start, e)
        if start >= end:
            break
    if start < end:
        pieces.append((start, end))
    return [(s, e) for s, e in pieces if e > s]


def add_clipped(tracer: Tracer, name: str, intervals: list[tuple[float, float, dict]],
                parent: int) -> None:
    """Add leaf spans under ``parent``, clipped into the parent's interval
    and cut where they overlap earlier siblings, so that siblings never
    overlap and self times add up. Time two concurrent jobs share is charged
    to the one that started first; a job's raw interval is kept in ``attrs``
    and a job wholly overlapped gets a zero-length span."""
    p = tracer.spans[parent]
    occupied = [(s["start"], s["end"]) for s in tracer.spans if s["parent"] == parent]
    for start, end, attrs in sorted(intervals, key=lambda iv: iv[0]):
        lo, hi = max(start, p["start"]), min(end, p["end"])
        pieces = _free(lo, hi, occupied) or [(min(lo, p["end"]),) * 2]
        for s, e in pieces:
            tracer.add(name, s, e, parent, raw_start=start, raw_end=end, **attrs)
        occupied += pieces


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus its children's."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """Parse a formatted SQL metric ("2.7 s", "468.4 KiB", "1,500", or the
    multi-task "total (min, med, max ...)\\n4.2 s (...)") into bytes,
    seconds or a plain count."""
    line = text.rsplit("\n", 1)[-1]
    m = _VALUE.match(line)
    if not m:
        raise ValueError(f"unparseable SQL metric: {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# SQL metric names on ArrowEvalPython / *InPandas nodes → layer metric.
PYTHON_METRICS = {
    "data sent to Python workers": "py.to_worker_mb",
    "data returned from Python workers": "py.from_worker_mb",
    "time to run Python workers": "py.worker_run_s",
    "time to start Python workers": "py.worker_boot_s",
    "time to initialize Python workers": "py.worker_boot_s",
}


class SparkStatus:
    """Reads Spark's status stores (which live even with the UI off) for the
    jobs of one query, identified by job group rather than by list lengths,
    since the stores keep only the most recent ``spark.ui.retained*``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._stages_seen: set[int] = set()
        self._last_execution = -1

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def group(self) -> str | None:
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_interval(self, job_id: int) -> tuple[float, float]:
        jd = self._store.job(job_id)
        start = jd.submissionTime().get().getTime() / 1000.0
        end_opt = jd.completionTime()
        end = end_opt.get().getTime() / 1000.0 if end_opt.isDefined() else start
        return start, end

    def stage_counters(self, job_ids: list[int]) -> dict[str, float]:
        """Stage metrics summed over the stages these jobs ran. A stage is
        counted once per run, although a later job may list it as skipped."""
        c = dict.fromkeys(
            ("sched.stages", "sched.tasks", "exec.run_s", "exec.cpu_s", "exec.gc_s",
             "exec.input_mb", "exec.shuffle_read_mb", "exec.shuffle_write_mb",
             "exec.spill_mb", "exec.failed_tasks"), 0.0)
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info else ():
                if sid in self._stages_seen:
                    continue
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage was never submitted
                    continue
                if sd.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                self._stages_seen.add(sid)
                c["sched.stages"] += 1
                c["sched.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
                c["exec.run_s"] += sd.executorRunTime() / 1e3
                c["exec.cpu_s"] += sd.executorCpuTime() / 1e9
                c["exec.gc_s"] += sd.jvmGcTime() / 1e3
                c["exec.input_mb"] += sd.inputBytes() / 2**20
                c["exec.shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                c["exec.shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                c["exec.spill_mb"] += sd.diskBytesSpilled() / 2**20
                c["exec.failed_tasks"] += sd.numFailedTasks()
        return c

    def python_counters(self, job_ids: list[int]) -> dict[str, float]:
        """Python-boundary SQL metrics of the SQL executions that ran any of
        these jobs (executions newer than the last one already read)."""
        c = dict.fromkeys(set(PYTHON_METRICS.values()), 0.0)
        wanted = set(job_ids)
        count = self._sql.executionsCount()
        recent = self._sql.executionsList(max(0, count - 256), min(count, 256))
        newest = self._last_execution
        for i in range(recent.size() - 1, -1, -1):
            e = recent.apply(i)
            eid = e.executionId()
            if eid <= self._last_execution:
                break
            newest = max(newest, eid)
            it = e.jobs().keySet().iterator()
            jobs = set()
            while it.hasNext():
                jobs.add(int(it.next()))
            if not jobs & wanted:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                metrics = nodes.apply(n).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    key = PYTHON_METRICS.get(m.name())
                    if key is None:
                        continue
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        scale = 2**20 if key.endswith("_mb") else 1.0
                        c[key] += parse_sql_metric(v.get()) / scale
        self._last_execution = newest
        return c

    def stored_mb(self) -> float:
        """Block-manager storage (memory + disk) still held by RDDs."""
        return sum(
            (r.memSize() + r.diskSize()) / 2**20 for r in self._jsc.getRDDStorageInfo()
        )
