"""``forecast_cycle``: the paper's pipeline through its public functions.

One cycle: ``daily_panel`` -> ``build_features`` + ``materialize`` ->
``time_split`` -> ``feature_pipeline``/``prepare_features`` ->
``train_and_eval(lr_preset)``; then ``rolling_origin_backtest`` one
fold at a time; then ``build_eval`` -> ``kpi_global`` /
``kpi_by_country`` / ``value_weighted_error``, collected. The cycle
ends by dropping its caches, so every cycle does the same work. The
inputs are the engine's fixed testdata, so the seed changes nothing
here: every run does the same work and must fit the same model.

The first cycle runs in the fresh session, as a scheduled forecast job
would; further cycles run while ``--seconds`` lasts. Off the clock, the
first cycle is checked: the prediction and fold row counts against
DuckDB over the same panel, mae/rmse/r2 against a numpy recomputation
from the predictions and against the values pinned in ``MODEL``, and
the three KPI tables against their registered oracles (the
repository's ``compare_query``). Every later cycle must reproduce its
mae/rmse/r2.

Op: one model fit (the split fit, or one backtest fold). Pass: a cycle.
Named figures: ``forecast_fit_s`` (the split fit), ``backtest_s`` (all
folds) and ``eval_kpi_s`` (``build_eval`` to the collected KPIs).
"""

from __future__ import annotations

import math
import time

import numpy as np
from spine import (
    duck,
    end_to_end,
    figure,
    layer_medians,
    operator_layers,
    sample_values,
    trace_read_table,
)

CUTOFF = "1998-06-30"
FOLD_ENDS = ("1998-07-31",)
HORIZON_DAYS = 60
# mae / rmse / r2 of the split fit on the sf0.001 testdata, as the
# engine computed them when the benchmark was defined
MODEL = {"mae": 5.753109967723088, "rmse": 7.729756383945559, "r2": 0.7186532470505005}
MODEL_RTOL = 1e-6


def cycle(ctx) -> dict:
    from sales_forecast_pyspark_spark.forecast import (
        build_features,
        feature_pipeline,
        lr_preset,
        materialize,
        prepare_features,
        train_and_eval,
    )
    from sales_forecast_pyspark_spark.forecast.run import rolling_origin_backtest
    from sales_forecast_pyspark_spark.operators.rowops import time_split
    from sales_forecast_pyspark_spark.plans.evaluation import (
        build_eval,
        kpi_by_country,
        kpi_global,
        value_weighted_error,
    )
    from sales_forecast_pyspark_spark.plans.panel import daily_panel
    from sales_forecast_pyspark_spark.plans.queries import REDUCED_PRESET

    spark, tr = ctx.spark, ctx.tracer
    out = {"fits": [], "named": {}}
    with tr.span("cycle") as cyc:
        with tr.span("plans.build"):
            panel = daily_panel(spark, ctx.data, calendar=True)
        with tr.span("forecast.features"):
            feats, cols = build_features(panel, **REDUCED_PRESET)
        with tr.span("plans.panel.materialize"):
            feats = materialize(feats)
        train, test = time_split(feats, "ds", CUTOFF)
        numeric = [*cols, "year", "month", "week", "day", "dow"]
        with tr.span("fit", key="split") as rec:
            with tr.span("forecast.pipeline_fit"):
                pipe = feature_pipeline(["country", "stock"], numeric)
                _, train_p, test_p = prepare_features(pipe, train, test)
            with tr.span("forecast.train_eval"):
                res = train_and_eval("lr", train_p, test_p, lr_preset("qty"))
        out["fits"].append(rec)
        out["result"] = res
        folds = []
        with tr.span("backtest") as bt:
            for end in FOLD_ENDS:
                with tr.span("forecast.fold", key=end) as rec:
                    folds += rolling_origin_backtest(
                        spark, feats, numeric, [end], horizon_days=HORIZON_DAYS
                    ).collect()
                out["fits"].append(rec)
        out["folds"] = folds
        with tr.span("eval_kpi") as kpi:
            with tr.span("plans.evaluation.build_eval"):
                ev = build_eval(spark, ctx.data, cutoff=CUTOFF)
            with tr.span("plans.evaluation.kpi"):
                frames = {"kpi_global": kpi_global(ev),
                          "kpi_by_country": kpi_by_country(ev),
                          "value_weighted_error": value_weighted_error(ev)}
            with tr.span("operators.exec"):
                out["kpis"] = {n: (f.schema, f.collect()) for n, f in frames.items()}
        spark.catalog.clearCache()
    out["span"] = cyc
    out["named"] = {"forecast_fit_s": out["fits"][0]["wall_s"],
                    "backtest_s": bt["wall_s"], "eval_kpi_s": kpi["wall_s"]}
    return out


def _close(a: float, b: float, rtol: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rtol, abs_tol=rtol)


def check(ctx, first: dict) -> None:
    """Off-clock checks of the set-up cycle."""
    from tests.oracle_harness import compare_query

    from sales_forecast_pyspark_spark.plans.panel import PANEL_CTE
    from sales_forecast_pyspark_spark.plans.queries import QUERIES

    res = first["result"]
    pred = res.predictions.select("qty", "prediction").toPandas()
    con = duck(ctx.data)
    n_test = con.sql(
        f"{PANEL_CTE} SELECT count(*) FROM panel WHERE ds > DATE '{CUTOFF}'"
    ).fetchone()[0]
    ctx.check(len(pred) == n_test, f"predictions: {len(pred)} rows != {n_test}")
    err = pred["prediction"].to_numpy() - pred["qty"].to_numpy()
    y = pred["qty"].to_numpy()
    want = {"mae": np.abs(err).mean(), "rmse": math.sqrt((err * err).mean()),
            "r2": 1.0 - (err * err).sum() / ((y - y.mean()) ** 2).sum()}
    for k, v in want.items():
        ctx.check(_close(res.metrics[k], v), f"{k}: {res.metrics[k]} != {v}")
        ctx.check(_close(res.metrics[k], MODEL[k], MODEL_RTOL),
                  f"{k}: {res.metrics[k]} != pinned {MODEL[k]}")
    for row in first["folds"]:
        n_tr, n_te = con.sql(
            f"{PANEL_CTE} SELECT count(*) FILTER (WHERE ds <= DATE '{row.train_end}'), "
            f"count(*) FILTER (WHERE ds > DATE '{row.train_end}' AND ds <= "
            f"DATE '{row.train_end}' + INTERVAL {HORIZON_DAYS} DAY) FROM panel"
        ).fetchone()
        ctx.check((row.n_train, row.n_test) == (n_tr, n_te),
                  f"fold {row.train_end}: {(row.n_train, row.n_test)} != {(n_tr, n_te)}")
    for name, (schema, rows) in first["kpis"].items():
        # the collected rows, back in a local frame for the repository's comparator
        frame = ctx.spark.createDataFrame(rows, schema)
        ok, msg = compare_query(frame, con, QUERIES[name].oracle)
        ctx.check(ok, f"{name}: {msg}")
    con.close()


def run(ctx):
    spark, tr = ctx.spark, ctx.tracer
    if ctx.trace:
        trace_read_table(tr)
    cycles: list[dict] = []
    end = time.perf_counter() + ctx.seconds
    while not cycles or time.perf_counter() < end:
        tr.pass_no = len(cycles)
        ctx.attempted += 1
        try:
            cycles.append(cycle(ctx))
        except Exception as e:  # noqa: BLE001 - a failed op, not a crash
            ctx.fail(f"cycle {len(cycles)}: {e!r}")
            break
    tr.pass_no = None

    if cycles:
        check(ctx, cycles[0])
        ref = cycles[0]["result"].metrics
        ctx.extra["model"] = {k: ref[k] for k in ("mae", "rmse", "r2")}
    for i, out in enumerate(cycles[1:], 1):
        got = out["result"].metrics
        ctx.check(all(_close(got[k], ref[k]) for k in ("mae", "rmse", "r2")),
                  f"cycle {i}: metrics {got} != {ref}")
    fits = [f for out in cycles for f in out["fits"]]
    ctx.samples.update(passes=len(cycles), fits=len(fits))
    spans = [out["span"] for out in cycles]
    ctx.extra["values"] = sample_values(spans, fits)
    e2e = end_to_end(0.0, spans, fits)
    ctx.extra["named"] = {
        k: figure([out["named"][k] for out in cycles])
        for k in ("forecast_fit_s", "backtest_s", "eval_kpi_s")
    }
    layers = {}
    if ctx.trace:
        lm = layer_medians(tr.spans, range(len(cycles)))
        wall = lambda n: lm.get(n, {}).get("wall_s", 0.0)  # noqa: E731
        jobs = lambda n: lm.get(n, {}).get("jobs", 0.0)  # noqa: E731
        layers.update({
            "plans.build_s": wall("plans.build"),
            "plans.build_jobs": jobs("plans.build"),
            "sources.read_table_s": wall("sources.read_table"),
            "sources.read_table_jobs": jobs("sources.read_table"),
            "plans.panel.materialize_s": wall("plans.panel.materialize"),
            "plans.evaluation.build_eval_s": wall("plans.evaluation.build_eval"),
            "plans.evaluation.kpi_s": wall("plans.evaluation.kpi"),
            "forecast.features_s": wall("forecast.features"),
            "forecast.pipeline_fit_s": wall("forecast.pipeline_fit"),
            "forecast.train_eval_s": wall("forecast.train_eval"),
            "forecast.fold_s": wall("forecast.fold"),
            "forecast.jobs": sum(jobs(n) for n in (
                "forecast.features", "forecast.pipeline_fit",
                "forecast.train_eval", "forecast.fold")),
        })
        layers.update(operator_layers(lm, spark.sparkContext.defaultParallelism))
    return e2e, layers
