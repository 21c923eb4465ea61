"""The engine's modeling table: a (country, product, day) sales panel.

This is the star-schema re-expression of the reference's ``daily_sales``
table (Sales_forecast_pyspark.py:147-164), using the mapping fixed in
FIXTURES.md §B: Country → nation.n_name (via supplier), StockCode →
part key, InvoiceDate → l_shipdate, Quantity → l_quantity,
LineRevenue → l_extendedprice*(1-l_discount).

Scale design:
- supplier and nation are dimension tables — broadcast-joined, so the
  only shuffle in the whole plan is the rollup's hash aggregation on
  the grouping keys (with map-side partial aggregation).
- The rollup keys include the date, so downstream time-range filters on
  ``ds`` can be pushed to the aggregate output; window feature stages
  all partition by (country, stock), reusing one exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.functions.calendar import with_calendar_columns
from sales_forecast_pyspark_spark.operators.aggregates import daily_rollup
from sales_forecast_pyspark_spark.sources.readers import read_table

# Panel grain and series keys, reused by every window/feature/ML stage.
PANEL_KEYS = ["country", "stock"]
PANEL_ORDER = "ds"
# Full rollup grain + measure expressions — THE panel definition.
# daily_panel (batch) and the streaming rehearsal harness both consume
# these same objects, so a change to the panel's grain or money math propagates to every
# surface that claims to compute "the panel" (code-review r08: the
# definition was hand-copied in four places and could drift silently).
PANEL_GRAIN = ["country", "stock", "ds"]
PANEL_QTY_COL = "l_quantity"


def panel_revenue_expr():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


def panel_price_expr():
    return F.col("l_extendedprice") / F.nullif(F.col("l_quantity"), F.lit(0))


def enrich_for_panel(li: DataFrame, sup: DataFrame, nat: DataFrame) -> DataFrame:
    """lineitem ⋈ supplier ⋈ nation → the panel's input columns.

    Works on a batch OR streaming ``li`` (stream-static joins re-plan
    the dims per micro-batch). nation (25 rows) is force-broadcast;
    supplier is NOT — it scales with SF (at 100 TB it is GBs), so the
    size-based planner + AQE pick the strategy: broadcast at test
    scales, shuffle join beyond the threshold."""
    return (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select(
            F.col("n_name").alias("country"),
            F.col("l_partkey").alias("stock"),
            F.col("l_shipdate").cast("date").alias("ds"),
            "l_quantity",
            "l_extendedprice",
            "l_discount",
        )
    )

# The same table in ANSI SQL, shared by every DuckDB oracle query.
# Money aggregates are computed via exact DECIMAL sums then cast to
# double, mirroring functions/deterministic.py — floating sums are
# order-dependent and 2-decimal money lands exactly on round() boundaries.
PANEL_CTE = """
WITH panel AS (
  SELECT
    n_name AS country,
    l_partkey AS stock,
    CAST(l_shipdate AS DATE) AS ds,
    CAST(SUM(l_quantity) AS DOUBLE) AS qty,
    CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue,
    CAST(SUM(CAST(ROUND(l_extendedprice / NULLIF(l_quantity, 0), 7) AS DECIMAL(30,7))) AS DOUBLE)
      / NULLIF(COUNT(l_extendedprice / NULLIF(l_quantity, 0)), 0) AS avg_price
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2, 3
)
"""


def daily_panel(
    spark: SparkSession, sf_dir: str, calendar: bool = False
) -> DataFrame:
    """lineitem ⋈ supplier ⋈ nation → daily (country, stock) rollup.

    Mirrors the reference's flagship A2 aggregate: net quantity (returns
    net out as negatives), revenue and avg unit price rounded to 2
    decimals (py:160-162).
    """
    li = read_table(spark, sf_dir, "lineitem")
    sup = read_table(spark, sf_dir, "supplier")
    nat = read_table(spark, sf_dir, "nation")

    enriched = enrich_for_panel(li, sup, nat)
    panel = daily_rollup(
        enriched,
        keys=PANEL_GRAIN,
        qty_col=PANEL_QTY_COL,
        revenue_expr=panel_revenue_expr(),
        price_expr=panel_price_expr(),
    )
    return with_calendar_columns(panel, "ds") if calendar else panel
