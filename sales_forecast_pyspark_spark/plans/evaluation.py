"""Evaluation spine: predictions ⋈ MA baseline on the 3-part key (J2),
per-row error columns, and the KPI report tables (A6-A9).

This re-expresses the reference's evaluation pipeline
(Sales_forecast_pyspark.py:1297-1375 and :1775-1838): a left join of a
prediction table to the moving-average baseline on
``["Country","StockCode","InvoiceDate"]`` (:1308-1317), err/abs/APE
columns (:1336-1345), a daily actual-vs-predicted rollup (:516-527),
global and per-country KPI averages (:1347-1375), and the value-weighted
error tables with post-aggregation %-reduction (:1792-1838).

The stand-in "model" here is a 3-row trailing moving average, so the
ENTIRE spine is SQL-expressible and oracle-checked end-to-end; the
forecast module's MLlib predictions join through the same
``evaluate_predictions`` path (same key, same error columns) with a
rows-only check.

Scale notes: predictions and baseline both derive from the panel — at
production scale you persist the panel once (the reference's cache
frontier, :650-651) so the 3-key sort-merge join reads two cached
branches instead of recomputing the rollup twice. The join keys contain
the series keys, so the window exchange partitioning is reusable by the
join's shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.functions.deterministic import (
    money_sum,
    stable_avg,
    weighted_sum,
)
from sales_forecast_pyspark_spark.forecast.pipelines import materialize
from sales_forecast_pyspark_spark.functions.metrics import with_error_columns
from sales_forecast_pyspark_spark.operators.joins import join_on
from sales_forecast_pyspark_spark.operators.windows import ma_baseline, rolling_exprs
from sales_forecast_pyspark_spark.plans.panel import PANEL_CTE, PANEL_KEYS, daily_panel

# The reference's train/test cutoff shape (py:366-369) on testdata dates.
CUTOFF = "1998-06-30"

# Shared oracle prefix: panel -> stand-in predictions (MA3) -> baseline
# (MA6 + lag-1 fallback) -> 3-key left join + error columns on test rows.
EVAL_CTE = PANEL_CTE + """,
pred AS (
  SELECT country, stock, ds, qty, avg_price,
         AVG(qty) OVER (PARTITION BY country, stock ORDER BY ds
                        ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS pred_qty
  FROM panel
),
base AS (
  SELECT country, stock, ds,
         COALESCE(AVG(qty) OVER (PARTITION BY country, stock ORDER BY ds
                                 ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING),
                  LAG(qty, 1) OVER (PARTITION BY country, stock ORDER BY ds)) AS baseline_qty
  FROM panel
),
eval AS (
  SELECT p.country, p.stock, p.ds, p.qty, p.avg_price, p.pred_qty, b.baseline_qty,
         p.pred_qty - p.qty AS err,
         ABS(p.pred_qty - p.qty) AS abs_err,
         ABS(p.pred_qty - p.qty) / NULLIF(p.qty, 0) AS ape,
         b.baseline_qty - p.qty AS base_err,
         ABS(b.baseline_qty - p.qty) AS base_abs_err,
         ABS(b.baseline_qty - p.qty) / NULLIF(p.qty, 0) AS base_ape
  FROM pred p
  LEFT JOIN base b ON p.country = b.country AND p.stock = b.stock AND p.ds = b.ds
  WHERE p.ds > DATE '1998-06-30'
)
"""

_ERROR_COLS = ("err", "abs_err", "ape", "base_err", "base_abs_err", "base_ape")


def evaluate_predictions(
    predictions: DataFrame,
    baseline: DataFrame,
    keys: list[str] | None = None,
    actual: str = "qty",
    predicted: str = "pred_qty",
    baseline_col: str = "baseline_qty",
) -> DataFrame:
    """J2 + error columns: left-join predictions to the baseline on the
    3-part series key (py:1308-1317) and add model + baseline error
    columns (py:1336-1345). APE divides by the actual, preserving the
    reference's negative/infinite-MAPE wart for non-positive actuals."""
    keys = keys or [*PANEL_KEYS, "ds"]
    ev = join_on(predictions, baseline.select(*keys, baseline_col), on=keys, how="left")
    ev = with_error_columns(ev, actual, predicted)
    return with_error_columns(ev, actual, baseline_col, prefix="base_")


def build_eval(
    spark: SparkSession, sf_dir: str, cutoff: str = CUTOFF
) -> DataFrame:
    """The full spine with the MA3 stand-in model: windows computed BEFORE
    the time split (filters must not cut window history — SURVEY.md §4
    row 1), then test rows joined to the MA6 baseline.

    Both join inputs project from ONE window-augmented panel plan, and
    that plan is persisted (the reference's cache frontier, py:650-651):
    Catalyst's column pruning narrows the two branches differently, so
    without the cache ReuseExchange does NOT merge them and the
    scan → 3-way join → rollup → WindowExec chain executes twice per
    query. Persisted, the chain runs once into an
    InMemoryRelation both branches read. Spark's CacheManager matches by
    canonicalized plan, so every eval-spine query in a session shares
    ONE cached panel — memory is bounded by the daily panel
    (|country × stock × day| rows), far smaller than the fact table."""
    panel = daily_panel(spark, sf_dir)
    aug = ma_baseline(
        panel.select(
            "country", "stock", "ds", "qty", "avg_price",
            *rolling_exprs(PANEL_KEYS, "ds", "qty", [3], ("mean",), name_fmt="pred_qty"),
        ),
        PANEL_KEYS,
        "ds",
        "qty",
        window=6,
    )
    aug = materialize(aug)
    test_pred = aug.filter(F.col("ds") > F.lit(cutoff)).select(
        "country", "stock", "ds", "qty", "avg_price", "pred_qty"
    )
    base = aug.select("country", "stock", "ds", "baseline_qty")
    return evaluate_predictions(test_pred, base)


def kpi_exprs() -> list:
    """The six KPI averages (bias/MAE/MAPE for model and baseline,
    py:1347-1375) + row count, via order-independent decimal sums so the
    aggregates are reproducible across partitionings and engines.

    Tie-safety of stable_avg's scale-7 pre-round for THESE columns (the
    money analysis in functions/deterministic.py covers price/qty
    ratios; err/ape have a different denominator structure):

    - err/abs_err = (window mean of integer qty) − integer qty: exact
      rationals with denominator in {1, 2, 3, 6} (MA3/MA6 frame counts).
      d ∈ {1, 2} values have ≤ 1 fractional digit — no digit-8 tie
      exists; d ∈ {3, 6} values are non-terminating (17-significant-
      digit shortest reprs) — no terminating tie digit at all.
    - ape = err/qty: tie-at-digit-8 values require a terminating
      expansion, i.e. a lowest-terms denominator of the form 2^a·5^b
      (e.g. err odd/2 over qty 128 → odd/256, which DOES end in a tie
      digit). Every such value is exactly double-representable, and on
      exactly-representable inputs Spark's shortest-string HALF_UP round
      and the oracle's binary half-away-from-zero round agree — the
      cross-engine divergence needs a value whose shortest repr
      terminates on the tie digit while its binary value differs, which
      terminating rationals cannot produce. The residual case — a
      non-terminating quotient whose correctly-rounded double happens to
      shortest-print as an 8-digit tie string — is not constructible
      from this domain's denominators and has never appeared in the
      swept SFs (all hash-green at sf0.001/0.01/0.1)."""
    names = {
        "err": "bias", "abs_err": "mae", "ape": "mape",
        "base_err": "base_bias", "base_abs_err": "base_mae", "base_ape": "base_mape",
    }
    return [stable_avg(F.col(c)).alias(alias) for c, alias in names.items()] + [
        F.count(F.lit(1)).alias("n_rows")
    ]


def kpi_global(ev: DataFrame) -> DataFrame:
    """A7: no-group global KPI aggregate (py:1347-1357)."""
    return ev.agg(*kpi_exprs())


def kpi_by_country(ev: DataFrame) -> DataFrame:
    """A8: per-country KPI aggregate (py:1363-1375), sorted by country."""
    return ev.groupBy("country").agg(*kpi_exprs()).orderBy("country")


def date_rollup(ev: DataFrame) -> DataFrame:
    """A6: daily actual-vs-predicted totals (py:516-527) — predictions
    rounded to 0 decimals after an exact decimal sum."""
    return (
        ev.groupBy("ds")
        .agg(
            F.round(F.sum("qty"), 2).alias("total_qty"),
            money_sum(F.col("pred_qty"), digits=0, scale=7).alias("total_pred"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("ds")
    )


def value_weighted_error(ev: DataFrame, by_country: bool = True) -> DataFrame:
    """A9: value-weighted error totals (py:1775-1838):
    ``abs_err × coalesce(avg_price, 0)`` summed exactly, with the
    %-reduction computed post-aggregation (py:1799-1803)."""
    price = F.coalesce(F.col("avg_price"), F.lit(0.0))
    grouped = ev.groupBy("country") if by_country else ev.groupBy()
    out = grouped.agg(
        weighted_sum(F.col("abs_err"), price).alias("total_abs_error_value_model"),
        weighted_sum(F.col("base_abs_err"), price).alias(
            "total_abs_error_value_baseline"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    ).withColumn(
        "value_error_reduction_pct",
        (
            F.lit(1.0)
            - F.col("total_abs_error_value_model")
            / F.nullif(F.col("total_abs_error_value_baseline"), F.lit(0.0))
        )
        * 100,
    )
    order = [F.desc("total_abs_error_value_model")]
    if by_country:
        order.append(F.asc("country"))
    return out.orderBy(*order)
