"""SparkSession factory with scale-conscious defaults.

The reference creates its session ad-hoc (Sales_forecast_pyspark.py:47-53:
``local[*]``, shuffle.partitions=4, driver 4g). The engine centralizes
session creation and turns on the optimizer features a large cluster
needs: AQE (runtime coalescing + skew-join handling), Arrow transfer for
the pandas reporting boundary, and a UTC session timezone so date
semantics are deterministic across environments.

PUBLIC-API WARNING — process-global side effects on FOREIGN sessions:
any query builder in this package (via the scan layer's
``ensure_runtime_confs``) sets ``spark.sql.session.timeZone=UTC`` and
``spark.sql.legacy.parquet.nanosAsLong=true`` on whatever session it is
handed, and pins the JVM DEFAULT timezone to UTC — which changes
timestamp collection behavior for ALL code sharing that JVM, with no
restore. This is deliberate (results must be deterministic no matter
who built the session — the driver harness does); embedders co-hosting
other Spark workloads in one JVM can keep their JVM default timezone by
setting ``SPARK_GRAFT_KEEP_JVM_TZ=1``, accepting that collected
timestamps then render in the host zone. A warning is logged when the
JVM default is changed.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

logger = logging.getLogger(__name__)

# Defaults tuned for the driver's local[32] harness; on a real cluster the
# caller overrides master/shuffle partitions (rule of thumb: 2-3x total cores,
# and let AQE coalesce down from there).
_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce a cached plan's output too. Off (Spark's default),
    # every .cache() keeps all shuffle.partitions partitions however few
    # rows they hold, and every later stage over the cache (each L-BFGS
    # pass of a model fit) runs that many near-empty tasks. A cache whose
    # hash partitioning later joins rely on repartitions to an explicit
    # count, which AQE leaves alone (graph.pagerank_edges).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Earlier testdata generations shipped TIMESTAMP(NANOS) parquet,
    # which the vectorized reader rejects; this conf reads those as long
    # nanos so the scan layer can normalize (readers.normalize_event_ts).
    # Current testdata is plain timestamp[us] (read as TIMESTAMP_NTZ and
    # likewise normalized); the conf is kept for encoding tolerance and
    # is a no-op on non-nanos files.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Local-harness scan parallelism: the testdata is ONE ~10-20MB file
    # per table, which the default 4MB open-cost packs into 2-3 tasks,
    # serializing the scan on a 32-core local runner (measured 2.5x on
    # the flagship rollup). On a cluster with many files, revert to the
    # defaults (128m / 4m) — split overhead amortizes differently there.
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.files.openCostInBytes": "1m",
}


# Correctness-critical SQL confs that must hold even when the CALLER
# built the SparkSession (the driver harness does): nanos parquet
# reading and deterministic date semantics. All are runtime-settable.
_RUNTIME_REQUIRED = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the correctness-critical runtime confs to an existing
    session. Called from the scan layer so every query builder works on
    a vanilla externally-created SparkSession, not just ours.

    GLOBAL SIDE EFFECT (see module docstring): mutates the caller's
    session confs and — unless ``SPARK_GRAFT_KEEP_JVM_TZ=1`` — the JVM
    default timezone, which affects every other workload in the JVM."""
    for key, value in _RUNTIME_REQUIRED.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            spark.conf.set(key, value)
    # session.timeZone covers SQL functions and Arrow transfer, but a
    # plain collect() converts timestamps through the JVM DEFAULT
    # timezone — on a non-UTC host that silently shifts every collected
    # timestamp. Pin the JVM default to UTC too (opt out via env).
    if os.environ.get("SPARK_GRAFT_KEEP_JVM_TZ") == "1":
        return spark
    try:
        jtz = spark._jvm.java.util.TimeZone  # type: ignore[union-attr]
        current = jtz.getDefault().getID()
        if current != "UTC":
            logger.warning(
                "Pinning JVM default timezone %s -> UTC for deterministic "
                "timestamp collection (process-global; set "
                "SPARK_GRAFT_KEEP_JVM_TZ=1 to keep the host zone)",
                current,
            )
            jtz.setDefault(jtz.getTimeZone("UTC"))
    except Exception:
        pass  # Connect-mode sessions have no _jvm; conf above still applies
    return spark


def shuffle_partitions(spark: SparkSession) -> int:
    """``spark.sql.shuffle.partitions`` as a count for an explicit
    repartition. A non-numeric value (``auto``, which some platforms
    set) falls back to the context's ``defaultParallelism``."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def get_spark(
    app_name: str = "sales_forecast_pyspark_spark",
    master: str | None = None,
    **conf: str,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    so the same entry points run under the driver harness and in tests.
    Keyword overrides win over defaults.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    merged = dict(_DEFAULTS)
    merged.update({k: str(v) for k, v in conf.items()})
    for key, value in merged.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
