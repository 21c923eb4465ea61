"""Train/evaluate orchestration: fit-features-once (M6), the
train_and_eval "stored procedure" (py:1487-1529), and segmented
per-predicate fitting (M9, py:1464-1533).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.ml import Pipeline, PipelineModel
from pyspark.sql import Column, DataFrame

from sales_forecast_pyspark_spark.functions.metrics import regression_metrics
from sales_forecast_pyspark_spark.operators.setops import union_by_name


@dataclass
class ForecastResult:
    name: str
    model: object
    predictions: DataFrame
    metrics: dict[str, float]


def prepare_features(
    pipeline: Pipeline, train: DataFrame, test: DataFrame
) -> tuple[PipelineModel, DataFrame, DataFrame]:
    """M6's fit-features-once idiom (py:1084-1087): fit the feature
    pipeline on TRAIN only (indexer label maps must not see test
    categories), transform both splits, reuse for every model."""
    fitted = pipeline.fit(train)
    return fitted, fitted.transform(train), fitted.transform(test)


def train_and_eval(
    name: str,
    train_prepared: DataFrame,
    test_prepared: DataFrame,
    model,
    label: str = "qty",
) -> ForecastResult:
    """The reference's train_and_eval_lr helper generalized to any
    regressor (py:1487-1529): fit on prepared train, predict prepared
    test, compute mae/rmse/r2 in one aggregation pass."""
    fitted = model.fit(train_prepared)
    predictions = fitted.transform(test_prepared)
    metrics = regression_metrics(predictions, label, "prediction")
    return ForecastResult(name, fitted, predictions, metrics)


def fit_per_segment(
    train: DataFrame,
    test: DataFrame,
    segments: dict[str, Column],
    pipeline_factory: Callable[[], Pipeline],
    model_factory: Callable[[], object],
    label: str = "qty",
) -> tuple[DataFrame, dict[str, dict[str, float]]]:
    """M9 (py:1464-1533): split by predicate, fit a FRESH feature
    pipeline + model per segment (each segment gets its own indexer label
    maps and coefficients), then unionByName the prediction tables back
    together (py:1594, :1875).

    Returns (recombined predictions with a ``segment`` column,
    {segment: metrics}).
    """
    from pyspark.sql import functions as F

    preds = []
    all_metrics: dict[str, dict[str, float]] = {}
    for seg_name, cond in segments.items():
        seg_train = train.filter(cond)
        seg_test = test.filter(cond)
        _, train_p, test_p = prepare_features(pipeline_factory(), seg_train, seg_test)
        res = train_and_eval(seg_name, train_p, test_p, model_factory(), label)
        preds.append(
            res.predictions.select(
                F.lit(seg_name).alias("segment"),
                "country", "stock", "ds", label, "prediction",
            )
        )
        all_metrics[seg_name] = res.metrics
    return union_by_name(*preds), all_metrics


def rolling_origin_backtest(
    spark,
    feats: DataFrame,
    numeric: list[str],
    fold_ends: list[str],
    horizon_days: int = 60,
    label: str = "qty",
    cat_cols: tuple[str, str] = ("country", "stock"),
) -> DataFrame:
    """Walk-forward (rolling-origin) backtesting — the evaluation the
    reference's single 80/20 time split cannot give: one fit per fold,
    each trained on data up to ``fold_ends[i]`` and scored on the next
    ``horizon_days``, so the metric you report is the DISTRIBUTION of
    out-of-sample errors across origins, not one split's luck. The
    feature pipeline (indexers + assembler) is re-fit per fold on that
    fold's train only — refitting per fold is not optional: a label map
    fit on all data leaks future categories into early folds.

    The fold loop is a driver loop over k model fits (each fit is the
    cluster-scale operation; k is small by construction). Returns one
    row per fold: (fold, train_end, horizon_days, n_train, n_test,
    mae, rmse, r2), as a local table. The counts run no extra job:
    n_train is the LR training summary's row count and n_test the
    metrics pass's."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sales_forecast_pyspark_spark.forecast.pipelines import (
        feature_pipeline,
        lr_preset,
    )

    rows = []
    for i, end in enumerate(fold_ends):
        end_col = F.lit(end).cast("date")
        train = feats.filter(F.col("ds") <= end_col)
        test = feats.filter(
            (F.col("ds") > end_col)
            & (F.col("ds") <= F.date_add(end_col, horizon_days))
        )
        pipe = feature_pipeline(list(cat_cols), numeric)
        _, train_p, test_p = prepare_features(pipe, train, test)
        res = train_and_eval(
            f"fold{i}", train_p, test_p, lr_preset(label), label=label
        )
        rows.append(
            (
                i,
                end,
                horizon_days,
                res.model.summary.numInstances,
                res.metrics["n"],
                round(res.metrics["mae"], 4),
                round(res.metrics["rmse"], 4),
                round(res.metrics["r2"], 4),
            )
        )
    cols = ["fold", "train_end", "horizon_days", "n_train", "n_test",
            "mae", "rmse", "r2"]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=cols),
        "fold int, train_end string, horizon_days int, n_train long, "
        "n_test long, mae double, rmse double, r2 double",
    )
