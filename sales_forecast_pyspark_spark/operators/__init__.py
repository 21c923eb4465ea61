from sales_forecast_pyspark_spark.operators.aggregates import (
    daily_rollup,
    grouped_top_k,
    multi_level_agg,
    profile_agg,
)
from sales_forecast_pyspark_spark.operators.asof import asof_join
from sales_forecast_pyspark_spark.operators.densify import (
    densify_series,
    locf_fill,
    series_gaps,
)
from sales_forecast_pyspark_spark.operators.interval import interval_join
from sales_forecast_pyspark_spark.operators.joins import join_on, salted_join
from sales_forecast_pyspark_spark.operators.rowops import (
    dedup_exact,
    deterministic_sample,
    null_repair,
    latest_snapshot,
    stratified_sample,
    time_split,
)
from sales_forecast_pyspark_spark.operators.setops import union_by_name
from sales_forecast_pyspark_spark.operators.sketches import quantile_exprs
from sales_forecast_pyspark_spark.operators.windows import (
    add_lags,
    add_momentum,
    ma_baseline,
)

__all__ = [
    "add_lags",
    "add_momentum",
    "asof_join",
    "daily_rollup",
    "dedup_exact",
    "densify_series",
    "deterministic_sample",
    "grouped_top_k",
    "interval_join",
    "join_on",
    "locf_fill",
    "ma_baseline",
    "multi_level_agg",
    "null_repair",
    "profile_agg",
    "quantile_exprs",
    "salted_join",
    "series_gaps",
    "latest_snapshot",
    "stratified_sample",
    "time_split",
    "union_by_name",
]
