"""Timing and Spark-counter spine of the benchmark.

``Tracer.span(name)`` times one call the benchmark makes into the
engine, in wall seconds and in CPU seconds of the benchmark's process
tree. With tracing on it also tags the call's Spark jobs with a job
group of their own and, when the call returns, reads that group's
counters from the application status store (which Spark keeps with
``spark.ui.enabled=false`` too): jobs, completed stages, tasks,
executor run and CPU time, shuffle bytes and spill. Each span records
its name, start, end, parent and the run id, plus the id, name and
description of each job that ran under its own group and the name and
shuffle bytes of each of their completed stages; spans stay in memory
until the run writes them out.

Counters are inclusive: a span's counters hold its own jobs plus those
of the spans nested inside it.
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import threading
import time
from contextlib import contextmanager

COUNTER_KEYS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)
# Counters that must repeat exactly when the same work runs twice
# (selfcheck.py compares them across two runs of one seed).
DETERMINISTIC_KEYS = ("jobs", "stages", "shuffle_write_bytes", "shuffle_read_bytes")


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by process ``root`` and
    its descendants, reaped children included: the driver, the JVM it
    launched and the JVM's Python workers. Time the hypervisor steals
    from a virtual machine is not in it."""
    parent, ticks = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended
        # fields after "(comm) ": state ppid ... utime stime cutime cstime
        f = stat[stat.rfind(b")") + 2:].split()
        parent[int(entry)] = int(f[1])
        ticks[int(entry)] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p != root and p > 1 and p in parent:
            p = parent[p]
        if p == root:
            total += t
    return total / _TICKS


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()  # each thread nests its own spans
        self._ids = itertools.count()
        self._t0 = time.perf_counter()
        self._pid = os.getpid()
        self.pass_no: int | None = None  # the workload's pass, stamped on spans

    @property
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def parallel(self, calls: dict) -> dict:
        """Run each ``name -> fn`` of ``calls`` in a thread of its own,
        each in a span called ``name``, and wait for all; returns
        ``name -> result``. The spans' parent is the caller's open span,
        whose counters take theirs in; the first error is raised."""
        from pyspark import InheritableThread

        parent = self._stack[-1] if self._stack else None
        results, errors, recs = {}, [], []

        def call(name, fn):
            try:
                with self.span(name) as rec:
                    recs.append(rec)
                    results[name] = fn()
            except BaseException as e:  # noqa: BLE001 - raised below
                errors.append(e)

        threads = [InheritableThread(target=call, args=item) for item in calls.items()]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if parent is not None:
            for rec in recs:
                rec["parent"] = parent["id"]
                for key, value in rec.get("counters", {}).items():
                    parent["counters"][key] += value
        if errors:
            raise errors[0]
        return results

    @contextmanager
    def span(self, name: str, key: str | None = None):
        """Time the body; yields the span record (``wall_s`` and
        ``proc_cpu_s`` are set on exit, plus ``counters`` when tracing is
        on). ``key`` names the
        item within the layer, e.g. the query."""
        rec = {"name": name, "key": key, "id": next(self._ids), "run": self.run_id,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "pass": self.pass_no}
        if self.enabled:
            rec["group"] = f"{self.run_id}-{rec['id']}"
            rec["counters"] = dict.fromkeys(COUNTER_KEYS, 0)
            rec["jobs"] = []
            rec["stages"] = []
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        cpu0 = tree_cpu_s(self._pid)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["proc_cpu_s"] = tree_cpu_s(self._pid) - cpu0
            self._stack.pop()
            rec["start_s"] = round(start - self._t0, 6)
            rec["end_s"] = round(end - self._t0, 6)
            rec["wall_s"] = end - start
            if self.enabled:
                parent = self._stack[-1] if self._stack else None
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self._add_group(rec, rec.pop("group"))
                if parent is not None:
                    for key, value in rec["counters"].items():
                        parent["counters"][key] += value
                self.spans.append(rec)

    def count_group(self, rec: dict, group: str) -> None:
        """Add to the open span ``rec`` the counters of jobs that ran under
        another job group: a streaming query tags its micro-batch jobs
        with its run id, not with the caller's group."""
        if self.enabled:
            self._add_group(rec, group)

    def _add_group(self, rec: dict, group: str) -> None:
        jsc = self.sc._jsc.sc()
        # the status store is fed by the listener bus; drain it so the
        # counters of jobs that just ended are complete
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = rec["counters"]
        stage_ids = set()
        for job_id in sorted(tracker.getJobIdsForGroup(group)):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
            job = store.job(job_id)
            desc = job.description()
            rec["jobs"].append([job_id, job.name(),
                                desc.get() if desc.isDefined() else None])
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped stages reuse earlier shuffle output
            out["stages"] += 1
            rec["stages"].append([sid, st.name(), st.shuffleWriteBytes(),
                                  st.shuffleReadBytes()])
            out["tasks"] += st.numTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()


def trace_read_table(tracer) -> None:
    """Route every engine call of ``read_table`` through a
    ``sources.read_table`` span, by rebinding the name in each engine
    module that imported it."""
    from sales_forecast_pyspark_spark.sources import readers

    original = readers.read_table

    def traced(spark, sf_dir, name):
        with tracer.span("sources.read_table", key=name):
            return original(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "").startswith("sales_forecast_pyspark_spark")
                and getattr(mod, "read_table", None) is original):
            mod.read_table = traced


def duck(data_dir: str):
    """A DuckDB connection over ``data_dir`` with the views the engine's
    oracle SQL reads, made by the repository's own test helper."""
    import duckdb
    from tests.conftest import register_duck_views

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    register_duck_views(con, data_dir)
    return con


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def figure(values, unit: str = "s", q: float = 0.5) -> dict:
    """One of a workload's named figures: the ``q`` quantile of
    ``values`` with its sample count. Above the median a quantile is
    only given where ten samples lie beyond it; else its value is None."""
    values = sorted(values)
    n = len(values)
    if not n or (q > 0.5 and n * (1 - q) < 10):
        return {"value": None, "unit": unit, "n": n}
    if q == 0.5:
        return {"value": statistics.median(values), "unit": unit, "n": n}
    return {"value": values[min(n - 1, int(q * n))], "unit": unit, "n": n}


def end_to_end(setup_s: float, passes: list[dict], ops: list[dict]) -> dict:
    """The end-to-end metrics from the spans of the measured passes and
    ops: medians of their wall and CPU seconds."""
    return {
        "setup_s": setup_s,
        "pass_s": median(s["wall_s"] for s in passes),
        "pass_cpu_s": median(s["proc_cpu_s"] for s in passes),
        "op_p50_s": median(s["wall_s"] for s in ops),
        "op_cpu_p50_s": median(s["proc_cpu_s"] for s in ops),
    }


def sample_values(passes: list[dict], ops: list[dict]) -> dict:
    """Every sample behind the end-to-end medians, for the detail line."""
    return {"pass_s": [s["wall_s"] for s in passes],
            "pass_cpu_s": [s["proc_cpu_s"] for s in passes],
            "op_s": [s["wall_s"] for s in ops],
            "op_cpu_s": [s["proc_cpu_s"] for s in ops]}


def layer_medians(spans, passes) -> dict[str, dict]:
    """Per span name: the median over ``passes`` of its per-pass total
    wall time and counters (a pass without the span counts as 0)."""
    keys = ("wall_s", "n", *COUNTER_KEYS)
    per: dict[str, dict] = {}
    for s in spans:
        if s["pass"] not in passes:
            continue
        tot = per.setdefault(s["name"], {}).setdefault(
            s["pass"], dict.fromkeys(keys, 0.0))
        tot["wall_s"] += s["wall_s"]
        tot["n"] += 1
        for k, v in s.get("counters", {}).items():
            tot[k] += v
    zero = dict.fromkeys(keys, 0.0)
    return {
        name: {k: median(by.get(p, zero)[k] for p in passes) for k in keys}
        for name, by in per.items()
    }


def operator_layers(layers: dict, cores: int) -> dict:
    """The ``operators.*`` metrics from the ``operators.exec`` spans."""
    ex = layers.get("operators.exec")
    if ex is None:
        return {}
    out = {"operators.exec_s": ex["wall_s"]}
    for k in ("jobs", "stages", "tasks", "cpu_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        out[f"operators.{k}"] = ex[k]
    out["operators.cpu_util"] = ex["cpu_s"] / max(1e-9, ex["wall_s"] * cores)
    return out
