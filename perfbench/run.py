"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. The run reads the engine's sf0.001
testdata (a copy under ``perfbench/data``, never written), starts one
Spark session on ``local[<cores>]``, sets the workload up, measures it
as a closed loop with one client for ``--seconds`` (always at least one
full pass), checks the outputs once off the clock, and prints:

- a header line (resolved master, parallelism, cores, versions, seed,
  data directory);
- a detail line (the workload's named metrics with their sample
  counts, every sample, the op and check tallies, failure messages);
- the result line, last: ``{"correct", "attempted", "failed",
  "metrics"}`` with the end-to-end metrics (``--trace 0``) or the
  per-layer metrics (``--trace 1``).

The seed picks what the workload feeds the engine: the mix order, the
ingest stream and the serve queries. Every file the run writes
(stores, checkpoints, survivors, Spark local dirs) lives under ``.perfbench_tmp/<run>`` and is removed on exit; a
traced run also writes its spans to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "sales_forecast_pyspark_spark"
WORKLOADS = ("analytics_mix", "forecast_cycle", "dedup_ingest")
# The engine's smallest testdata scale (6,000 lineitem rows): a pass is
# mostly Spark job overhead, so fewer or cheaper jobs show directly.
SF = 0.001
DATA = os.path.join(HERE, "data", f"sf{SF}")


class Ctx:
    """What a workload gets: the session, the tracer, its data and a
    scratch root, plus the tallies it fills in."""

    def __init__(self, args, tmp_root: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tmp = tmp_root
        self.data = DATA
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.samples: dict[str, int] = {}
        self.extra: dict = {}  # workload facts for the detail line
        self._lock = threading.Lock()  # checks may run side by side

    def fail(self, what: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what[:300])

    def check(self, ok: bool, what: str) -> bool:
        """Count one correctness check as an op."""
        with self._lock:
            self.attempted += 1
        if not ok:
            self.fail(what)
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def start_session(ctx: Ctx):
    from sales_forecast_pyspark_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{_cores()}]",
        **{
            "spark.driver.memory": "2g",
            # the engine's rule of thumb for a local runner: 2x the cores
            "spark.sql.shuffle.partitions": str(2 * _cores()),
            "spark.local.dir": ctx.path("spark-local"),
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.path('tmp')}"
            f" -Dderby.system.home={ctx.path('tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


def _peak_rss_mb(spark) -> float:
    """High-water resident set of this process plus the JVM, in MB."""

    def vm_hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm(os.getpid()) + vm_hwm(jvm_pid)


def header(ctx: Ctx, workload: str) -> dict:
    import pyspark

    spark = ctx.spark
    sc = spark.sparkContext
    return {
        "workload": workload,
        "seed": ctx.seed,
        "seconds": ctx.seconds,
        "trace": int(ctx.trace),
        "sf": SF,
        "sf_dir": os.path.relpath(ctx.data, ROOT),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "nproc": _cores(),
        "spark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-file", default=None,
                    help="where a traced run writes its spans "
                         "(default .perfbench_out/<run>.json)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2
    spec = _spec()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tmp_root = os.path.join(ROOT, ".perfbench_tmp", run_id)
    os.makedirs(os.path.join(tmp_root, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp_root, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    ctx = Ctx(args, tmp_root)
    # a killed run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        from spine import Tracer

        workload = importlib.import_module(args.workload)
        t0 = time.perf_counter()
        ctx.spark = start_session(ctx)
        session_s = time.perf_counter() - t0
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.tracer = Tracer(ctx.spark, ctx.trace, run_id)
        head = header(ctx, args.workload)
        print(json.dumps({"header": head}), flush=True)

        e2e, layers = workload.run(ctx)
        e2e["setup_s"] += session_s
        e2e["peak_rss_mb"] = _peak_rss_mb(ctx.spark)
        layers["session.start_s"] = session_s
        if ctx.trace:
            # the traced run's own figures show the tracing overhead
            layers.update({f"traced.{k}": e2e[k] for k in (
                "pass_s", "pass_cpu_s", "op_p50_s", "op_cpu_p50_s")})
            trace_file = args.trace_file or os.path.join(
                ROOT, ".perfbench_out", f"{run_id}.json")
            os.makedirs(os.path.dirname(os.path.abspath(trace_file)), exist_ok=True)
            with open(trace_file, "w") as fh:
                json.dump({"header": head, "layers": layers,
                           "spans": ctx.tracer.spans}, fh)
    finally:
        try:
            if ctx.spark is not None:
                stop_session(ctx.spark)
        finally:
            shutil.rmtree(tmp_root, ignore_errors=True)

    wanted = spec["per_layer"] if ctx.trace else spec["end_to_end"]
    metrics = {
        m["name"]: {"value": (layers if ctx.trace else e2e).get(m["name"], 0.0),
                    "unit": m["unit"]}
        for m in wanted
    }
    detail = {
        "samples": ctx.samples,
        **ctx.extra,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "failed_ops_ratio": ctx.failed / max(1, ctx.attempted),
        "errors": ctx.errors,
        "end_to_end": e2e,
    }
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
