"""``analytics_mix``: registered relational, window, event, sketch and
star-schema queries, each built with ``queries()[name](spark, sf)`` and
executed into the noop sink, in a seed-shuffled order.

Set-up runs the mix once into the noop sink, which warms the JVM, and
off the clock compares every result with the query's DuckDB oracle
(``oracle_sql()``) through the repository's ``compare_query``. A query
that fails its check counts as a failed op and its latencies are left
out.

Op: one query, build plus execute. Pass: the whole mix.
"""

from __future__ import annotations

import random
import time

from spine import (
    duck,
    end_to_end,
    figure,
    layer_medians,
    operator_layers,
    sample_values,
    trace_read_table,
)

MIX = (
    "daily_rollup", "lag_features", "rolling_stats", "cube_sales",
    "sessionization", "asof_last_purchase", "pricing_summary",
    "shipping_priority", "market_share_by_year", "basket_lift",
    "weekday_seasonality", "scd2_merge_history", "order_backlog_sweep",
)


def run(ctx):
    from tests.oracle_harness import compare_query

    from sales_forecast_pyspark_spark.plans.queries import QUERIES

    spark, tr = ctx.spark, ctx.tracer
    if ctx.trace:
        trace_read_table(tr)
    order = list(MIX)
    random.Random(ctx.seed).shuffle(order)

    con = duck(ctx.data)
    bad = set()
    setup_s = 0.0
    for name in order:
        q = QUERIES[name]
        try:
            t0 = time.perf_counter()
            df = q.builder(spark, ctx.data)
            df.write.format("noop").mode("overwrite").save()
            setup_s += time.perf_counter() - t0
            ok, msg = compare_query(df, con, q.oracle)
        except Exception as e:  # noqa: BLE001 - a failed op, not a crash
            ok, msg = False, repr(e)
        if not ctx.check(ok, f"{name}: {msg}"):
            bad.add(name)
    con.close()

    latencies: list[dict] = []
    passes: list[dict] = []
    end = time.perf_counter() + ctx.seconds
    while not passes or time.perf_counter() < end:
        tr.pass_no = len(passes)
        with tr.span("mix_pass") as pass_rec:
            for name in order:
                ctx.attempted += 1
                try:
                    with tr.span("query", key=name) as rec:
                        with tr.span("plans.build", key=name):
                            df = QUERIES[name].builder(spark, ctx.data)
                        with tr.span("operators.exec", key=name):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001
                    ctx.fail(f"{name}: {e!r}")
                    bad.add(name)
                    continue
                if name not in bad:
                    latencies.append(rec)
        passes.append(pass_rec)
    tr.pass_no = None

    ctx.samples.update(passes=len(passes), queries=len(latencies))
    ctx.extra["values"] = sample_values(passes, latencies)
    e2e = end_to_end(setup_s, passes, latencies)
    query_s = [s["wall_s"] for s in latencies]
    ctx.extra["named"] = {
        "mix_pass_s": figure([s["wall_s"] for s in passes]),
        "query_p50_s": figure(query_s),
        "query_p90_s": figure(query_s, q=0.9),
    }
    layers = {}
    if ctx.trace:
        measured = range(len(passes))
        lm = layer_medians(tr.spans, measured)
        zero = {"wall_s": 0.0, "jobs": 0.0}
        build, read = lm.get("plans.build", zero), lm.get("sources.read_table", zero)
        layers.update({
            "plans.build_s": build["wall_s"], "plans.build_jobs": build["jobs"],
            "sources.read_table_s": read["wall_s"],
            "sources.read_table_jobs": read["jobs"],
        })
        layers.update(operator_layers(lm, spark.sparkContext.defaultParallelism))
    return e2e, layers
