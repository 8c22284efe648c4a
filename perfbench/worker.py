"""One benchmark run inside a fresh process.

Started by ``perfbench/run.py`` as ``python3 -m perfbench.worker PLAN OUT``:
reads the run plan (the query order of each pass and whether it is traced,
scale, deadline), sets the engine up, runs the passes in order (one cold
pass, then warm passes), and writes the measurements, the hash of every
fetched result and the queries' oracle SQL to OUT.

Untraced passes time each query with nothing around it but the clock. In a
traced run the plan alternates untraced and traced measured passes, so the
tracing overhead is measured within the same process.
"""

import json
import sys
import time

from perfbench.trace import SparkStatus, Tracer, add_clipped, union_length

# Job-group prefix of every job the benchmark attributes to a query phase.
GROUP_PREFIX = "perfbench"


class Run:
    def __init__(self, plan: dict) -> None:
        self.plan = plan
        self.tracer = Tracer() if plan["trace"] else None
        self.setup: dict[str, float] = {}
        self.load_calls = 0

    # -- set-up -------------------------------------------------------------
    def set_up(self) -> None:
        t = time.time()
        import presto_db_spark.catalog as catalog

        if self.tracer:
            self._wrap_load_table(catalog)
        from presto_db_spark.session import get_spark

        self.spark = get_spark(cpus=self.plan["cpus"])
        self.setup["session.build_s"] = time.time() - t
        t = time.time()
        from presto_db_spark import registry

        self.fns = registry.all_queries()
        self.setup["registry.import_s"] = time.time() - t
        # Registry functions read their tables themselves; only SQL text
        # needs the Engine (its functions and attached tables).
        self.setup["engine.init_s"] = 0.0
        if self.plan["mode"] == "sql":
            t = time.time()
            import presto_db_spark.engine as engine

            if self.tracer:
                self._wrap_rewrite(engine)
            self.engine = engine.Engine(self.spark, sf_dir=self.plan["sf_dir"])
            self.setup["engine.init_s"] = time.time() - t
        self.ready = time.time()
        if self.tracer:
            self.status = SparkStatus(self.spark)
        self.sql = registry.all_oracle_sql()
        from perfbench.oracle import frame_hash  # after the timed set-up

        self.frame_hash = frame_hash

    def _wrap_load_table(self, catalog) -> None:
        """Time ``catalog.load_table`` from outside. Operator modules bind it
        at import (``from ..catalog import load_table``), so the wrapper is
        installed before the registry imports them."""
        original = catalog.load_table
        tracer = self.tracer

        def load_table(spark, sf_dir, name):
            if not tracer.active:
                return original(spark, sf_dir, name)
            self.load_calls += 1
            prev = self.status.group()
            group = f"{prev}/load{self.load_calls}"
            sid = tracer.open("catalog.load_table", time.time(), table=name, group=group)
            self.status.set_group(group)
            try:
                return original(spark, sf_dir, name)
            finally:
                self.status.set_group(prev)
                tracer.close(sid, time.time())

        catalog.load_table = load_table

    def _wrap_rewrite(self, engine) -> None:
        """Time the dialect rewrite ``Engine.sql`` makes (engine binds
        ``rewrite_presto_sql`` at import, so the engine's name is wrapped)."""
        original = engine.rewrite_presto_sql
        tracer = self.tracer

        def rewrite_presto_sql(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            sid = tracer.open("dialect.rewrite", time.time())
            try:
                return original(*args, **kwargs)
            finally:
                tracer.close(sid, time.time())

        engine.rewrite_presto_sql = rewrite_presto_sql

    # -- queries ------------------------------------------------------------
    def build(self, name: str):
        if self.plan["mode"] == "sql":
            return self.engine.sql(self.sql[name])
        return self.fns[name](self.spark, self.plan["sf_dir"])

    def run_untraced(self, name: str):
        t0 = time.perf_counter()
        pdf = self.build(name).toPandas()
        return time.perf_counter() - t0, pdf

    def run_traced(self, name: str, qid: str):
        """One query as a span tree: build → plan → action → fetch, with the
        Spark jobs of each phase (told apart by job group) below it."""
        tr, st = self.tracer, self.status
        groups = {ph: f"{GROUP_PREFIX}/{qid}/{ph}" for ph in ("build", "plan", "action")}
        self.load_calls = 0
        tr.active = True
        q = tr.open("query", time.time(), query=name, qid=qid)
        try:
            st.set_group(groups["build"])
            b = tr.open("engine.sql" if self.plan["mode"] == "sql" else "operators.build",
                        time.time())
            df = self.build(name)
            tr.close(b, time.time())
            st.set_group(groups["plan"])
            p = tr.open("plan", time.time())
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            tr.close(p, time.time())
            st.set_group(groups["action"])
            a = tr.open("action", time.time())
            pdf = df.toPandas()
            end = time.time()
            tr.close(a, end)
            tr.close(q, end)
        finally:
            tr.active = False
            st.set_group(f"{GROUP_PREFIX}/idle")
            while tr.current is not None:  # a phase raised: close what is open
                tr.close(tr.current, time.time())
        self._attach_jobs(q, groups, qe)
        return end - tr.spans[q]["start"], pdf

    def _attach_jobs(self, q: int, groups: dict[str, str], qe) -> None:
        """Read the query's jobs, stages and SQL metrics right after it."""
        tr, st = self.tracer, self.status
        st.drain()
        by_name = {s["name"]: s["id"] for s in tr.spans if s["parent"] == q}
        build = by_name.get("engine.sql", by_name.get("operators.build"))
        loads = [s for s in tr.spans if s["parent"] == build and s["name"] == "catalog.load_table"]
        jobs_by_span = {build: st.job_ids(groups["build"]),
                        by_name["plan"]: st.job_ids(groups["plan"]),
                        by_name["action"]: st.job_ids(groups["action"])}
        for s in loads:
            jobs_by_span[s["id"]] = st.job_ids(s["attrs"]["group"])
        all_jobs = sorted({j for js in jobs_by_span.values() for j in js})
        intervals = {j: st.job_interval(j) for j in all_jobs}
        # The fetch span is the tail of the action after its last job ended.
        action = tr.spans[by_name["action"]]
        act_jobs = jobs_by_span[action["id"]]
        last_end = max([intervals[j][1] for j in act_jobs], default=action["start"])
        split = min(max(last_end, action["start"]), action["end"])
        fetch_end, action["end"] = action["end"], split
        tr.add("fetch", split, fetch_end, q)
        for sid, js in jobs_by_span.items():
            add_clipped(tr, "spark.job", [(*intervals[j], {"job": j}) for j in js], sid)
        counters = st.stage_counters(all_jobs)
        counters.update(st.python_counters(all_jobs))
        qspan = tr.spans[q]
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = float(kv._2().durationMs())
        counters.update({
            "sched.jobs": len(all_jobs),
            "sched.driver_gap_s": (qspan["end"] - qspan["start"])
            - union_length([intervals[j] for j in all_jobs]),
            "catalog.jobs": sum(len(jobs_by_span[s["id"]]) for s in loads),
            "operators.build_jobs": len(jobs_by_span[build]) if self.plan["mode"] == "fn" else 0,
            "plan.analysis_ms": phases.get("analysis", 0.0),
            "plan.optimization_ms": phases.get("optimization", 0.0),
            "plan.planning_ms": phases.get("planning", 0.0),
            "ckpt.stored_mb": st.stored_mb(),
        })
        qspan["attrs"]["counters"] = counters

    # -- passes -------------------------------------------------------------
    def run_pass(self, order: list[str], index: int, traced: bool) -> dict:
        """Run the queries of one pass back to back; hash the results after."""
        results = []
        t0 = time.perf_counter()
        for k, name in enumerate(order):
            try:
                if traced:
                    lat, pdf = self.run_traced(name, f"p{index}q{k}")
                else:
                    lat, pdf = self.run_untraced(name)
                results.append((name, lat, pdf, None))
            except Exception as e:  # a failed query counts in the error rate
                results.append((name, None, None, f"{type(e).__name__}: {str(e)[:300]}"))
        wall = time.perf_counter() - t0
        queries = []
        for name, lat, pdf, err in results:
            got = None
            if err is None:
                try:
                    got = self.frame_hash(pdf)
                except (TypeError, ValueError) as e:  # not canonicalisable
                    err = f"result breaks the canonicaliser: {e}"
            queries.append({"query": name, "latency_s": lat, "hash": got,
                            "rows": None if pdf is None else len(pdf), "error": err})
        return {"index": index, "traced": traced, "wall_s": wall, "queries": queries}

    def run(self) -> dict:
        self.set_up()
        passes = []
        for i, (order, traced) in enumerate(zip(self.plan["orders"], self.plan["traced"])):
            # The plan's pass count is fixed; the deadline only cuts the
            # measured passes of a far slower host short.
            if (i >= self.plan["min_passes"]
                    and time.time() + passes[-1]["wall_s"] > self.plan["deadline"]):
                break
            passes.append(self.run_pass(order, i, traced=traced))
        self.spark.stop()
        return {
            "ready": self.ready,
            "sql": {n: self.sql[n] for n in self.plan["orders"][0]},
            "setup": self.setup,
            "passes": passes,
            "spans": self.tracer.spans if self.tracer else None,
        }


def main() -> None:
    plan_path, out_path = sys.argv[1], sys.argv[2]
    with open(plan_path) as f:
        plan = json.load(f)
    result = Run(plan).run()
    with open(out_path, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main()
