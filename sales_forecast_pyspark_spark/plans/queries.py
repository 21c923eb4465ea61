"""Query registry: every implemented operator exposed as a named query
with (where SQL-expressible) a DuckDB oracle.

Each query maps one or more SURVEY.md §2 operators onto the driver's
star schema (mapping per FIXTURES.md §B). Spark builders and oracle SQL
alias every computed column to the SAME name — the driver's comparator
sorts columns by name before hashing.

Cross-engine determinism rules used throughout:
- doubles that aggregate floating-point sums are ROUND()ed (2 decimals
  for money/qty, 4 for statistics) in BOTH engines;
- divisions guard zero denominators with NULLIF in both engines;
- Spark ``dayofweek`` is 1=Sunday..7; DuckDB's is 0=Sunday..6, so
  oracles use ``dayofweek(x) + 1``;
- window orderings are always total (keys + unique date) so frames are
  reproducible.
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.functions.deterministic import money_sum
from sales_forecast_pyspark_spark.operators.aggregates import (
    grouped_top_k,
    multi_level_agg,
    profile_agg,
)
from sales_forecast_pyspark_spark.operators.rowops import (
    dedup_exact,
    deterministic_sample,
    null_repair,
)
from sales_forecast_pyspark_spark.operators.windows import (
    add_lags,
    add_momentum,
    ma_baseline,
    rolling_exprs,
    rolling_range_exprs,
)
from sales_forecast_pyspark_spark.operators.asof import asof_join
from sales_forecast_pyspark_spark.operators.interval import interval_join
from sales_forecast_pyspark_spark.operators.setops import union_by_name
from sales_forecast_pyspark_spark.operators.sketches import quantile_exprs
from sales_forecast_pyspark_spark.plans.evaluation import (
    EVAL_CTE,
    build_eval,
    date_rollup,
    kpi_by_country,
    kpi_global,
    value_weighted_error,
)
from sales_forecast_pyspark_spark.plans.panel import PANEL_CTE, PANEL_KEYS, daily_panel
from sales_forecast_pyspark_spark.sources.readers import (
    parse_invoice_date,
    read_csv,
    read_table,
    spread_scan,
)


@dataclass(frozen=True)
class Query:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check


QUERIES: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = Query(name, fn, oracle)
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.builder for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}


def _anchored_audit_crossjoin(out: DataFrame, audit: DataFrame) -> DataFrame:
    """Attach a 1-row audit frame to every output row AND keep the audit
    judgeable when the output is EMPTY (ADVICE r08): a plain
    ``out.crossJoin(audit)`` erases the red audit columns together with
    the rows they exist to judge in a total-dropout regression — the
    same unjudgeable-empty-result failure ``topk_recall_audit`` fixed
    for the ANN rows by anchoring on the query set. Here the anchor is
    the audit frame itself: a left-anti probe against ``out.limit(1)``
    emits one audit-only row (null data columns) iff ``out`` is empty.
    Cost: the probe's upstream exchanges are deduped against the main
    branch by ReuseExchange inside the single returned plan, and the
    anti join broadcasts the bounded ``limit(1)`` side only.
    """
    combined = out.crossJoin(F.broadcast(audit))
    anchor = audit.join(
        F.broadcast(out.limit(1).select(F.lit(1).alias("_probe"))),
        F.lit(True),
        "left_anti",
    ).select(
        *[
            F.lit(None).cast(out.schema[c].dataType).alias(c)
            for c in out.columns
        ],
        *audit.columns,
    )
    return combined.unionByName(anchor)


def _fresh_scratch_dir(prefix: str) -> str:
    """A new temp dir for a lifecycle row's persisted store, after
    reaping PRIOR runs' dirs of the same prefix: the returned frame
    reads the new dir lazily, so only the NEXT run can clean it, and
    repeated runs of a row must not accumulate stores in the temp dir.
    The reap is age-gated to one hour, so a concurrent invocation's
    live store (or this process's still-unevaluated previous frame) is
    never deleted mid-flight."""
    for old in glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*")):
        try:
            if time.time() - os.path.getmtime(old) > 3600:
                shutil.rmtree(old, ignore_errors=True)
        except OSError:
            pass
    return tempfile.mkdtemp(prefix=prefix)


# ---------------------------------------------------------------------------
# Scans + flagship rollup (S1, P1/P2, A2, O1) — SURVEY.md §7 minimum slice
# ---------------------------------------------------------------------------


@register(
    "daily_rollup",
    PANEL_CTE
    + """
SELECT country, stock, ds, qty, revenue, avg_price,
       CAST(year(ds) AS INT) AS year,
       CAST(month(ds) AS INT) AS month,
       CAST(weekofyear(ds) AS INT) AS week,
       CAST(dayofmonth(ds) AS INT) AS day,
       CAST(dayofweek(ds) + 1 AS INT) AS dow
FROM panel
""",
)
def q_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship A2 aggregate + P2 calendar projection."""
    return daily_panel(spark, sf_dir, calendar=True)


@register(
    "profile_agg",
    """
SELECT CAST(year(o_orderdate) AS INT) AS year,
       CAST(month(o_orderdate) AS INT) AS month,
       MIN(CAST(o_orderkey AS VARCHAR)) AS min_id,
       MAX(CAST(o_orderkey AS VARCHAR)) AS max_id,
       MIN(CAST(o_orderdate AS DATE)) AS min_date,
       MAX(CAST(o_orderdate AS DATE)) AS max_date,
       COUNT(*) AS n_rows
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_profile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: min/max over a STRING id and a date column per (year, month)."""
    orders = read_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("year"),
        F.month("o_orderdate").alias("month"),
        F.col("o_orderkey").cast("string").alias("id"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    return profile_agg(orders, keys=["year", "month"], id_col="id", date_col="d")


@register(
    "monthly_rollup",
    PANEL_CTE
    + """
SELECT CAST(year(ds) AS INT) AS year, CAST(month(ds) AS INT) AS month,
       ROUND(SUM(qty), 2) AS total_qty,
       CAST(ROUND(SUM(CAST(revenue AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_revenue
FROM panel GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_monthly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: monthly totals over the panel."""
    return (
        daily_panel(spark, sf_dir)
        .groupBy(F.year("ds").alias("year"), F.month("ds").alias("month"))
        .agg(
            F.round(F.sum("qty"), 2).alias("total_qty"),
            money_sum(F.col("revenue")).alias("total_revenue"),
        )
        .orderBy("year", "month")
    )


@register(
    "top_products_per_country",
    PANEL_CTE
    + """
, t AS (
  SELECT country, stock,
         CAST(ROUND(SUM(CAST(revenue AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_revenue
  FROM panel GROUP BY 1, 2
)
SELECT country, stock, total_revenue, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY country ORDER BY total_revenue DESC, stock
  ) AS rank FROM t
)
WHERE rank <= 3 ORDER BY country, rank
""",
)
def q_top_products_per_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (O3 per group): the 3 highest-revenue products per
    country via row_number — one shuffle on the group key, with a total
    ordering (revenue desc, stock) so ranks are deterministic and
    cross-engine reproducible."""
    per = (
        daily_panel(spark, sf_dir)
        .groupBy("country", "stock")
        .agg(money_sum(F.col("revenue")).alias("total_revenue"))
    )
    out = grouped_top_k(
        per, ["country"], [F.col("total_revenue").desc(), F.col("stock").asc()], 3
    )
    return out.select("country", "stock", "total_revenue", "rank").orderBy(
        "country", "rank"
    )


@register(
    "customer_cohorts",
    """
WITH y97 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1997),
     y98 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1998)
SELECT 'churned' AS category, COUNT(*) AS n_customers
FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y98)
UNION ALL
SELECT 'new', COUNT(*) FROM (SELECT * FROM y98 EXCEPT SELECT * FROM y97)
UNION ALL
SELECT 'returning', COUNT(*) FROM (SELECT * FROM y97 INTERSECT SELECT * FROM y98)
ORDER BY category
""",
)
def q_customer_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations beyond union (U1): year-over-year cohort counts
    via EXCEPT (churned/new) and INTERSECT (returning) on distinct
    customer keys. Spark plans both as left-anti / left-semi hash joins
    over the deduplicated key sets — shuffles carry custkey grain, never
    order rows."""
    orders = read_table(spark, sf_dir, "orders")

    def actives(year: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .select("o_custkey")
            .distinct()
        )

    y97, y98 = actives(1997), actives(1998)

    def count_as(df: DataFrame, category: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(category).alias("category"), "n_customers"
        )

    return (
        count_as(y97.subtract(y98), "churned")
        .unionByName(count_as(y98.subtract(y97), "new"))
        .unionByName(count_as(y97.intersect(y98), "returning"))
        .orderBy("category")
    )


@register(
    "customer_value_deciles",
    """
WITH cv AS (
  SELECT o_custkey AS custkey,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_spend,
         COUNT(*) AS n_orders
  FROM orders GROUP BY 1
)
SELECT custkey, total_spend, n_orders,
       CAST(NTILE(10) OVER w AS INT) AS decile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM cv
WINDOW w AS (ORDER BY total_spend DESC, custkey)
ORDER BY custkey
""",
)
def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family (beyond the frame-based window layer):
    customer-value deciles via ntile, percent_rank, cume_dist over ONE
    total ordering (spend desc, custkey) — total so every rank is
    deterministic cross-engine. The single unpartitioned window is the
    documented scale caveat: a global ranking at 100 TB needs either a
    pre-aggregated input this size (custkey grain, as here) or a
    two-phase approx-quantile bucketing."""
    orders = read_table(spark, sf_dir, "orders")
    cv = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        money_sum(F.col("o_totalprice")).alias("total_spend"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    w = Window.orderBy(F.col("total_spend").desc(), F.col("custkey"))
    return cv.select(
        "custkey",
        "total_spend",
        "n_orders",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("custkey")


@register(
    "inactive_customers",
    """
SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '1998-01-01'
)
ORDER BY custkey
""",
)
def q_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (NOT EXISTS): customers with no order since 1998 — the
    churn/compliance-deletion shape. left_anti keeps only the probe-side
    columns and builds a hash set of the (pre-filtered, pre-projected)
    order keys: the filter and single-column projection reach the scan,
    so the anti side ships keys, not rows."""
    customer = read_table(spark, sf_dir, "customer")
    recent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        customer.join(recent, "c_custkey", "left_anti")
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
        )
        .orderBy("custkey")
    )


@register(
    "cube_sales",
    PANEL_CTE
    + """
, p AS (
  SELECT country, CAST(year(ds) AS INT) AS year, CAST(month(ds) AS INT) AS month,
         qty, revenue
  FROM panel
)
SELECT country, year, month,
       CAST(GROUPING(country, year, month) AS INT) AS gid,
       ROUND(SUM(qty), 2) AS total_qty,
       CAST(ROUND(SUM(CAST(revenue AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_revenue,
       COUNT(*) AS n_days
FROM p GROUP BY CUBE (country, year, month)
ORDER BY gid, country, year, month
""",
)
def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level OLAP aggregation over the panel: one CUBE pass emits
    all 8 grouping levels of (country, year, month) with a grouping_id
    discriminator — Spark expands grouping sets before the exchange, so
    every level shares ONE map-side-combined shuffle (vs. 8 unioned
    jobs). Totals stay decimal-exact; Spark's grouping_id bitmask and
    DuckDB's GROUPING(...) share the first-dim-is-high-bit convention."""
    p = daily_panel(spark, sf_dir).select(
        "country",
        F.year("ds").cast("int").alias("year"),
        F.month("ds").cast("int").alias("month"),
        "qty",
        "revenue",
    )
    out = multi_level_agg(
        p,
        ["country", "year", "month"],
        [
            F.round(F.sum("qty"), 2).alias("total_qty"),
            money_sum(F.col("revenue")).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_days"),
        ],
    )
    return out.select(
        "country", "year", "month", "gid", "total_qty", "total_revenue", "n_days"
    ).orderBy("gid", "country", "year", "month")


@register(
    "country_rollup",
    """
SELECT n_name AS country, ROUND(SUM(l_quantity), 2) AS total_qty
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1 ORDER BY total_qty DESC
""",
)
def q_country_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 + J-chain: fact-fact join (lineitem ⋈ orders shuffles on the
    order key), pre-aggregated to customer grain BEFORE touching the
    customer dimension — customer scales with SF, so broadcasting it (or
    joining it against raw line items) would not survive 100×. After the
    custkey rollup both join sides are customer-grain; nation (25 rows)
    broadcasts."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nat = read_table(spark, sf_dir, "nation")
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("l_quantity").alias("cust_qty"))
    )
    return (
        per_cust.join(cust, per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("country"))
        .agg(F.round(F.sum("cust_qty"), 2).alias("total_qty"))
        .orderBy(F.desc("total_qty"))
    )


@register(
    "dow_rollup",
    PANEL_CTE
    + """
SELECT CAST(dayofweek(ds) + 1 AS INT) AS dow, ROUND(SUM(qty), 2) AS total_qty
FROM panel GROUP BY 1 ORDER BY 1
""",
)
def q_dow_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: day-of-week totals (Spark dow semantics: 1=Sunday..7)."""
    return (
        daily_panel(spark, sf_dir)
        .groupBy(F.dayofweek("ds").alias("dow"))
        .agg(F.round(F.sum("qty"), 2).alias("total_qty"))
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Row ops: dedup, sampling, time split, null repair (P4-P8)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    "SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: dropDuplicates == hash-aggregate on the projected columns."""
    li = read_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    )
    return dedup_exact(li)


@register(
    "sample_deterministic",
    """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS totalprice
FROM orders WHERE o_orderkey % 10 = 0
""",
)
def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 as a cross-engine-reproducible keyed sample (1-in-10 by key
    residue); ``df.sample(fraction, seed)`` remains in the API for
    statistical sampling."""
    orders = read_table(spark, sf_dir, "orders")
    return deterministic_sample(orders, "o_orderkey", 10).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )


@register(
    "time_split_counts",
    PANEL_CTE
    + """
SELECT split, COUNT(*) AS n_rows FROM (
  SELECT CASE WHEN ds <= DATE '1998-06-30' THEN 'train' ELSE 'test' END AS split
  FROM panel
) GROUP BY 1
""",
)
def q_time_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 + A10: the reference's train/test time split, counted in ONE
    scan — ``groupBy(when(ds<=cutoff))`` instead of two filtered
    aggregates (which would scan the panel twice; the reference caches at
    this frontier instead, py:650-651). ``time_split`` itself is
    exercised by the forecast pipeline."""
    panel = daily_panel(spark, sf_dir)
    return (
        panel.groupBy(
            F.when(F.col("ds") <= F.lit("1998-06-30"), F.lit("train"))
            .otherwise(F.lit("test"))
            .alias("split")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "null_repair",
    """
SELECT p.p_partkey AS partkey,
       COALESCE(s.rev, 0) AS revenue,
       COALESCE(s.n_sales, 0) AS n_sales
FROM part p
LEFT JOIN (
  SELECT l_partkey,
         CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS rev,
         COUNT(*) AS n_sales
  FROM lineitem WHERE l_shipdate < DATE '1996-01-01' GROUP BY 1
) s ON p.p_partkey = s.l_partkey
""",
)
def q_null_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 + J1: left join creates nulls for parts with no early sales;
    coalesce repairs them to 0 (the reference's py:617-643 pattern)."""
    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem")
    sales = (
        li.filter(F.col("l_shipdate") < F.lit("1996-01-01"))
        .groupBy("l_partkey")
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
            F.count(F.lit(1)).alias("n_sales"),
        )
    )
    joined = part.join(sales, part.p_partkey == sales.l_partkey, "left")
    return joined.select(
        F.col("p_partkey").alias("partkey"),
        F.coalesce(F.col("rev"), F.lit(0.0)).alias("revenue"),
        F.coalesce(F.col("n_sales"), F.lit(0)).alias("n_sales"),
    )


# ---------------------------------------------------------------------------
# Sorts / top-k / set ops (O1-O3, U1)
# ---------------------------------------------------------------------------


@register(
    "topk_products",
    PANEL_CTE
    + """
SELECT stock, total_revenue FROM (
  SELECT stock, CAST(ROUND(SUM(CAST(revenue AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_revenue
  FROM panel GROUP BY 1
) ORDER BY total_revenue DESC, stock ASC LIMIT 10
""",
)
def q_topk_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3: top-k by revenue — Spark plans TakeOrderedAndProject, not a
    full range-partitioned sort. Tie-broken by key for determinism."""
    totals = (
        daily_panel(spark, sf_dir)
        .groupBy("stock")
        .agg(money_sum(F.col("revenue")).alias("total_revenue"))
    )
    return totals.orderBy(F.desc("total_revenue"), F.asc("stock")).limit(10)


@register(
    "union_segments",
    PANEL_CTE
    + """
SELECT segment, ROUND(SUM(qty), 2) AS total_qty, COUNT(*) AS n_rows FROM (
  SELECT 'top' AS segment, qty FROM panel WHERE country = 'NATION_12'
  UNION ALL
  SELECT 'rest' AS segment, qty FROM panel WHERE country <> 'NATION_12'
) GROUP BY 1
""",
)
def q_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 + U1: the reference's UK-vs-Others segmentation shape — split by
    equality predicate, recombine with unionByName (py:1464-1465, :1594)."""
    panel = daily_panel(spark, sf_dir)
    top = panel.filter(F.col("country") == "NATION_12").select(
        F.lit("top").alias("segment"), "qty"
    )
    rest = panel.filter(F.col("country") != "NATION_12").select(
        F.lit("rest").alias("segment"), "qty"
    )
    return (
        union_by_name(top, rest)
        .groupBy("segment")
        .agg(
            F.round(F.sum("qty"), 2).alias("total_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# Window / feature layer (W1-W8) — the heart of the reference
# ---------------------------------------------------------------------------


@register(
    "lag_features",
    PANEL_CTE
    + """
SELECT country, stock, ds, qty,
       COALESCE(ROUND(LAG(qty, 1) OVER w, 0), 0) AS qty_lag1,
       COALESCE(ROUND(LAG(qty, 2) OVER w, 0), 0) AS qty_lag2,
       COALESCE(ROUND(LAG(qty, 3) OVER w, 0), 0) AS qty_lag3,
       COALESCE(ROUND(LAG(qty, 6) OVER w, 0), 0) AS qty_lag6,
       COALESCE(ROUND(LAG(qty, 12) OVER w, 0), 0) AS qty_lag12,
       COALESCE(ROUND(LAG(qty, 1) OVER wd, 0), 0) AS qty_dowlag1,
       COALESCE(ROUND(LAG(qty, 2) OVER wd, 0), 0) AS qty_dowlag2,
       COALESCE(ROUND(LAG(revenue, 1) OVER w, 2), 0) AS rev_lag1,
       ROUND(LN(1 + qty), 6) AS log1p_qty
FROM panel
WINDOW w AS (PARTITION BY country, stock ORDER BY ds),
       wd AS (PARTITION BY country, stock, dayofweek(ds) + 1 ORDER BY ds)
""",
)
def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W3: daily lags (1-3), 6-day-cycle lags (6, 12), same-weekday
    lags over the 3-key (country, stock, dow) partition, a second lagged
    measure (revenue), and the reference's log1p transform (py:360-363).

    Lags are round-then-coalesce(0), matching the reference's py:614-644
    order — and rounded to 0 digits as the reference does (py:616). The
    two (country, stock) specs share one exchange+sort; the weekday spec
    adds a second (SURVEY.md §2.5 frame semantics)."""
    panel = daily_panel(spark, sf_dir, calendar=True)
    out = add_lags(panel, PANEL_KEYS, "ds", ["qty"], [1, 2, 3, 6, 12], round_digits=0)
    out = add_lags(
        out,
        [*PANEL_KEYS, "dow"],
        "ds",
        ["qty"],
        [1, 2],
        round_digits=0,
        name_fmt="{col}_dowlag{off}",
    )
    out = add_lags(out, PANEL_KEYS, "ds", ["revenue"], [1], round_digits=2,
                   name_fmt="rev_lag{off}")
    return out.select(
        "country", "stock", "ds", "qty",
        "qty_lag1", "qty_lag2", "qty_lag3", "qty_lag6", "qty_lag12",
        "qty_dowlag1", "qty_dowlag2", "rev_lag1",
        F.round(F.log1p("qty"), 6).alias("log1p_qty"),
    )


@register(
    "rolling_stats",
    PANEL_CTE
    + """
SELECT country, stock, ds, qty,
  COALESCE(AVG(qty) OVER w3, 0) AS roll_mean_3,
  COALESCE(AVG(qty) OVER w6, 0) AS roll_mean_6,
  COALESCE(MEDIAN(qty) OVER w3, 0) AS roll_median_3,
  COALESCE(MEDIAN(qty) OVER w6, 0) AS roll_median_6,
  COALESCE(MIN(qty) OVER w3, 0) AS roll_min_3,
  COALESCE(MIN(qty) OVER w6, 0) AS roll_min_6,
  COALESCE(MAX(qty) OVER w3, 0) AS roll_max_3,
  COALESCE(MAX(qty) OVER w6, 0) AS roll_max_6,
  COALESCE(AVG(qty) OVER wd3, 0) AS dow_roll_mean_3,
  COALESCE(qty - AVG(qty) OVER w3, 0) AS diff_roll_mean_3,
  COALESCE(CASE WHEN (COUNT(qty) OVER w3) >= 2 THEN
    SQRT(((SUM(qty*qty) OVER w3) - (SUM(qty) OVER w3) * (SUM(qty) OVER w3) / (COUNT(qty) OVER w3))
         / ((COUNT(qty) OVER w3) - 1)) END, 0) AS roll_std_3,
  COALESCE(CASE WHEN (COUNT(qty) OVER w6) >= 2 THEN
    SQRT(((SUM(qty*qty) OVER w6) - (SUM(qty) OVER w6) * (SUM(qty) OVER w6) / (COUNT(qty) OVER w6))
         / ((COUNT(qty) OVER w6) - 1)) END, 0) AS roll_std_6
FROM panel
WINDOW
  w3 AS (PARTITION BY country, stock ORDER BY ds ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
  w6 AS (PARTITION BY country, stock ORDER BY ds ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING),
  wd3 AS (PARTITION BY country, stock, dayofweek(ds) + 1 ORDER BY ds ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
""",
)
def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4-W7: trailing row-frame rolling stats (mean/median/min/max over
    frames (-3,-1) and (-6,-1)), a weekday-partitioned rolling mean (W6),
    momentum diffs (W7), and sample std.

    Frame semantics per SURVEY.md §2.5: row-based, trailing, EXCLUDING
    the current row; nulls (empty frames) filled with 0 afterwards so "no
    history" == "zero sales" (the reference's deliberate wart,
    py:969-982). Std is computed from rolling sufficient statistics
    (sum, sum-of-squares, count) instead of ``stddev_samp`` so the result
    is bit-identical across engines on integer-valued inputs;
    ``stddev_samp``/``percentile_approx`` remain available as stats in
    ``operators.windows`` (unit-tested with tolerance instead)."""
    panel = daily_panel(spark, sf_dir, calendar=True)
    p = panel.select("*", (F.col("qty") * F.col("qty")).alias("qty2"))
    p = p.select(
        "*",
        *rolling_exprs(PANEL_KEYS, "ds", "qty", [3, 6],
                       ("mean", "median", "min", "max", "sum", "count")),
        *rolling_exprs(PANEL_KEYS, "ds", "qty2", [3, 6], ("sum",),
                       name_fmt="roll2_{stat}_{w}"),
        *rolling_exprs([*PANEL_KEYS, "dow"], "ds", "qty", [3], ("mean",),
                       name_fmt="dow_roll_{stat}_{w}"),
    )
    p = add_momentum(p, "qty", ["roll_mean_3"])  # -> diff_roll_mean_3

    def std_expr(w: int):
        cnt = F.col(f"roll_count_{w}")
        s = F.col(f"roll_sum_{w}")
        s2 = F.col(f"roll2_sum_{w}")
        return F.when(cnt >= 2, F.sqrt((s2 - s * s / cnt) / (cnt - 1)))

    p = p.select("*", std_expr(3).alias("roll_std_3"), std_expr(6).alias("roll_std_6"))
    feature_cols = [
        "roll_mean_3", "roll_mean_6", "roll_median_3", "roll_median_6",
        "roll_min_3", "roll_min_6", "roll_max_3", "roll_max_6",
        "dow_roll_mean_3", "diff_roll_mean_3", "roll_std_3", "roll_std_6",
    ]
    p = null_repair(p, fill={c: 0 for c in feature_cols})
    return p.select("country", "stock", "ds", "qty", *feature_cols)


# Committed Online-Retail-shaped CSV fixture (reference ingest format:
# quoted commas, C-prefixed returns with negative quantities, empty
# CustomerID fields, M/d/yy H:mm timestamps). Absolute path because the
# oracle SQL below embeds it for DuckDB's read_csv.
_CSV_FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "online_retail_sample.csv",
)


@register(
    "csv_ingest",
    f"""
SELECT InvoiceNo AS invoice_no,
       StockCode AS stock,
       CAST(Quantity AS INT) AS quantity,
       CAST(strptime(InvoiceDate, '%-m/%-d/%y %-H:%M') AS DATE) AS ds,
       UnitPrice AS unit_price,
       CAST(CustomerID AS INT) AS customer_id,
       Country AS country
FROM read_csv('{_CSV_FIXTURE}', header=true, columns={{
  'InvoiceNo': 'VARCHAR', 'StockCode': 'VARCHAR', 'Description': 'VARCHAR',
  'Quantity': 'INTEGER', 'InvoiceDate': 'VARCHAR', 'UnitPrice': 'DOUBLE',
  'CustomerID': 'INTEGER', 'Country': 'VARCHAR'}})
ORDER BY invoice_no, stock
""",
)
def q_csv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 CSV ingest parity: declared-schema CSV scan + the reference's
    ``to_date(to_timestamp(col, "M/d/yy H:mm"))`` ingest transform
    (Sales_forecast_pyspark.py:69-74), oracle-checked against DuckDB's
    CSV reader + strptime on the committed fixture (quoted commas,
    negative-quantity returns, null CustomerID). ``sf_dir`` is unused:
    the fixture IS the source under test."""
    df = parse_invoice_date(read_csv(spark, _CSV_FIXTURE))
    return df.select(
        F.col("InvoiceNo").alias("invoice_no"),
        F.col("StockCode").alias("stock"),
        F.col("Quantity").alias("quantity"),
        F.col("InvoiceDate").alias("ds"),
        F.col("UnitPrice").alias("unit_price"),
        F.col("CustomerID").alias("customer_id"),
        F.col("Country").alias("country"),
    ).orderBy("invoice_no", "stock")


@register(
    "rolling_range_stats",
    PANEL_CTE
    + """
SELECT country, stock, ds, qty,
  COALESCE(AVG(qty) OVER r7, 0) AS range_mean_7d,
  COALESCE(SUM(qty) OVER r7, 0) AS range_sum_7d,
  COUNT(qty) OVER r7 AS range_count_7d,
  COALESCE(AVG(qty) OVER r28, 0) AS range_mean_28d,
  COALESCE(SUM(qty) OVER r28, 0) AS range_sum_28d,
  COUNT(qty) OVER r28 AS range_count_28d
FROM panel
WINDOW
  r7 AS (PARTITION BY country, stock ORDER BY (ds - DATE '1970-01-01') RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING),
  r28 AS (PARTITION BY country, stock ORDER BY (ds - DATE '1970-01-01') RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING)
""",
)
def q_rolling_range_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aware (RANGE/interval) rolling stats — the densify-free
    twin of ``rolling_stats``: trailing 7- and 28-day frames over the
    epoch-day ordering see exactly the previous N calendar days however
    sparse the series is, where row frames reach further back across
    gaps. mean/sum/count on the integer-valued qty are bit-stable
    cross-engine; both frames share one exchange+sort."""
    panel = daily_panel(spark, sf_dir)
    out = panel.select(
        "country", "stock", "ds", "qty",
        *rolling_range_exprs(PANEL_KEYS, "ds", "qty", [7, 28]),
    )
    return out.fillna(
        0,
        subset=["range_mean_7d", "range_sum_7d", "range_mean_28d", "range_sum_28d"],
    )


@register(
    "ma_baseline",
    PANEL_CTE
    + """
SELECT country, stock, ds, qty,
  COALESCE(
    AVG(qty) OVER (PARTITION BY country, stock ORDER BY ds ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING),
    LAG(qty, 1) OVER (PARTITION BY country, stock ORDER BY ds)
  ) AS baseline_qty
FROM panel
""",
)
def q_ma_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: the 6-row trailing moving-average baseline forecast with the
    lag-1 fallback (``coalesce(ma6, lag1)``, py:1272-1294). First row of
    each series stays null (no history at all) — preserved, not filled."""
    out = ma_baseline(daily_panel(spark, sf_dir), PANEL_KEYS, "ds", "qty", window=6)
    return out.select("country", "stock", "ds", "qty", "baseline_qty")


# ---------------------------------------------------------------------------
# Evaluation spine: J2 + A6-A9 (predictions ⋈ baseline, error KPIs)
# ---------------------------------------------------------------------------


@register(
    "eval_join",
    EVAL_CTE
    + """
SELECT country, stock, ds, qty, avg_price, pred_qty, baseline_qty,
       err, abs_err, ape, base_err, base_abs_err, base_ape
FROM eval
""",
)
def q_eval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the 3-key left join of predictions to the MA6 baseline on
    (country, stock, ds) — the spine of every KPI table in the reference
    (py:1308-1317) — plus model and baseline error columns."""
    return build_eval(spark, sf_dir)


@register(
    "date_rollup",
    EVAL_CTE
    + """
SELECT ds, ROUND(SUM(qty), 2) AS total_qty,
       CAST(ROUND(SUM(CAST(pred_qty AS DECIMAL(30,7))), 0) AS DOUBLE) AS total_pred,
       COUNT(*) AS n_rows
FROM eval GROUP BY ds ORDER BY ds
""",
)
def q_date_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: daily actual-vs-predicted totals (py:516-527)."""
    return date_rollup(build_eval(spark, sf_dir))


_KPI_SQL = """
  CAST(SUM(CAST(ROUND(err, 7) AS DECIMAL(30,7))) AS DOUBLE) / NULLIF(COUNT(err), 0) AS bias,
  CAST(SUM(CAST(ROUND(abs_err, 7) AS DECIMAL(30,7))) AS DOUBLE) / NULLIF(COUNT(abs_err), 0) AS mae,
  CAST(SUM(CAST(ROUND(ape, 7) AS DECIMAL(30,7))) AS DOUBLE) / NULLIF(COUNT(ape), 0) AS mape,
  CAST(SUM(CAST(ROUND(base_err, 7) AS DECIMAL(30,7))) AS DOUBLE) / NULLIF(COUNT(base_err), 0) AS base_bias,
  CAST(SUM(CAST(ROUND(base_abs_err, 7) AS DECIMAL(30,7))) AS DOUBLE) / NULLIF(COUNT(base_abs_err), 0) AS base_mae,
  CAST(SUM(CAST(ROUND(base_ape, 7) AS DECIMAL(30,7))) AS DOUBLE) / NULLIF(COUNT(base_ape), 0) AS base_mape,
  COUNT(*) AS n_rows
"""


@register("kpi_global", EVAL_CTE + f"SELECT {_KPI_SQL} FROM eval")
def q_kpi_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: global no-group KPI aggregate — bias/MAE/MAPE for model and
    baseline in one pass (py:1347-1357)."""
    return kpi_global(build_eval(spark, sf_dir))


@register(
    "kpi_by_country",
    EVAL_CTE + f"SELECT country, {_KPI_SQL} FROM eval GROUP BY country ORDER BY country",
)
def q_kpi_by_country(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: per-country KPI aggregate (py:1363-1375)."""
    return kpi_by_country(build_eval(spark, sf_dir))


@register(
    "value_weighted_error",
    EVAL_CTE
    + """
SELECT country,
       total_abs_error_value_model,
       total_abs_error_value_baseline,
       n_rows,
       (1.0 - total_abs_error_value_model / NULLIF(total_abs_error_value_baseline, 0.0)) * 100 AS value_error_reduction_pct
FROM (
  SELECT country,
         CAST(ROUND(SUM(CAST(ROUND(abs_err, 7) AS DECIMAL(19,7))
                  * CAST(ROUND(COALESCE(avg_price, 0.0), 7) AS DECIMAL(19,7))), 4) AS DOUBLE) AS total_abs_error_value_model,
         CAST(ROUND(SUM(CAST(ROUND(base_abs_err, 7) AS DECIMAL(19,7))
                  * CAST(ROUND(COALESCE(avg_price, 0.0), 7) AS DECIMAL(19,7))), 4) AS DOUBLE) AS total_abs_error_value_baseline,
         COUNT(*) AS n_rows
  FROM eval GROUP BY country
)
ORDER BY total_abs_error_value_model DESC, country ASC
""",
)
def q_value_weighted_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: value-weighted error per country with post-agg %-reduction
    (py:1775-1838), ordered by model error value desc (py:1837)."""
    return value_weighted_error(build_eval(spark, sf_dir), by_country=True)


# ---------------------------------------------------------------------------
# MLlib forecast pipeline (M1-M10) — rows-only checks (ML is not
# SQL-expressible; determinism is covered by tests/test_forecast.py)
# ---------------------------------------------------------------------------


REDUCED_PRESET = dict(
    daily_lags=(1, 2, 3),
    cycle_lags=(6,),
    weekday_lags=(1,),
    rolling_windows=(3, 6),
    weekday_windows=(3,),
    rolling_stats=("mean", "std"),
)


def _forecast_features(spark: SparkSession, sf_dir: str, full: bool = False):
    """Shared feature build for the forecast queries, cached at the
    feature frontier (M10) because LR's L-BFGS passes re-read this
    lineage up to maxIter times.

    ``full=False`` is a reduced preset (enough to exercise W1-W7 shapes
    without tripling test runtime); ``full=True`` is the reference's
    flagship build — ``build_features`` defaults: 36 lags + 18 rolling +
    12 momentum, assembling the 73-wide vector of py:1006-1059."""
    from sales_forecast_pyspark_spark.forecast import build_features, materialize
    from sales_forecast_pyspark_spark.operators.rowops import time_split

    panel = daily_panel(spark, sf_dir, calendar=True)
    feats, cols = build_features(panel, **({} if full else REDUCED_PRESET))
    feats = materialize(feats)
    train, test = time_split(feats, "ds", "1998-06-30")
    numeric = [*cols, "year", "month", "week", "day", "dow"]
    return train, test, numeric


@register("forecast_lr")  # rows-only: ML not SQL-expressible
def q_forecast_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M2+M4+M6+M10: StringIndexer(keep) on country and stock,
    VectorAssembler(skip), Lasso LinearRegression with the reference's
    winning config (py:1160-1169), features fit once on train."""
    from sales_forecast_pyspark_spark.forecast import (
        feature_pipeline,
        lr_preset,
        prepare_features,
        train_and_eval,
    )

    train, test, numeric = _forecast_features(spark, sf_dir)
    pipe = feature_pipeline(["country", "stock"], numeric)
    _, train_p, test_p = prepare_features(pipe, train, test)
    res = train_and_eval("lr", train_p, test_p, lr_preset("qty"))
    return res.predictions.select(
        "country", "stock", "ds", "qty", F.round("prediction", 4).alias("pred_qty")
    )


@register("forecast_lr_full")  # rows-only: ML not SQL-expressible
def q_forecast_lr_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship shape end-to-end: full 73-feature build
    (36 lags + 18 rolling + 12 momentum + 5 calendar + 2 indexed
    categoricals, py:1006-1059) through fit/predict with the winning
    Lasso LR config. Same output shape as ``forecast_lr``; the reduced
    preset stays the default elsewhere for runtime."""
    from sales_forecast_pyspark_spark.forecast import (
        feature_pipeline,
        lr_preset,
        prepare_features,
        train_and_eval,
    )

    train, test, numeric = _forecast_features(spark, sf_dir, full=True)
    pipe = feature_pipeline(["country", "stock"], numeric)
    _, train_p, test_p = prepare_features(pipe, train, test)
    res = train_and_eval("lr_full", train_p, test_p, lr_preset("qty"))
    return res.predictions.select(
        "country", "stock", "ds", "qty", F.round("prediction", 4).alias("pred_qty")
    )


@register("forecast_segmented")  # rows-only: ML not SQL-expressible
def q_forecast_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: the reference's UK/Others segmentation (py:1464-1533) — a
    fresh feature pipeline + LR per segment, unionByName recombine,
    aggregated to per-segment row counts + rounded MAE."""
    from sales_forecast_pyspark_spark.forecast import (
        feature_pipeline,
        fit_per_segment,
        lr_preset,
    )

    train, test, numeric = _forecast_features(spark, sf_dir)
    preds, _ = fit_per_segment(
        train,
        test,
        segments={
            "top": F.col("country") == "NATION_12",
            "rest": F.col("country") != "NATION_12",
        },
        pipeline_factory=lambda: feature_pipeline(["country", "stock"], numeric),
        model_factory=lambda: lr_preset("qty"),
    )
    return (
        preds.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg(F.abs(F.col("prediction") - F.col("qty"))), 3).alias("mae"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# LLM-data operators: text analysis + dedup (documents table)
# ---------------------------------------------------------------------------

_STOP_SQL = r"\b(the|and|of|to|in|is|it|for|on|a)\b"

_DOC_TOKENS_CTE = r"""
WITH t AS (
  SELECT doc_id,
         CAST(length(text) AS INT) AS n_chars,
         CAST(length(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS INT) AS n_tokens,
         CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS INT) AS alpha_chars,
         CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS INT) AS punct_chars,
         CAST(length(regexp_extract_all(lower(text), '{pat}')) AS INT) AS stop_hits
  FROM documents
)
""".replace("{pat}", _STOP_SQL)


@register(
    "doc_stats",
    _DOC_TOKENS_CTE
    + """
SELECT doc_id, n_chars, n_tokens, alpha_chars, punct_chars, stop_hits,
       alpha_chars / NULLIF(n_tokens, 0) AS mean_token_len,
       punct_chars / NULLIF(n_chars, 0) AS punct_ratio,
       CASE WHEN n_tokens > 0 AND n_chars > 0 THEN
         (LEAST(n_chars / 500.0, 1.0)
          + LEAST((stop_hits / NULLIF(n_tokens, 0)) * 10.0, 1.0)
          + GREATEST(1.0 - (punct_chars / NULLIF(n_chars, 0)) * 5.0, 0.0)) / 3.0
       ELSE 0.0 END AS quality,
       CASE WHEN (stop_hits / NULLIF(n_tokens, 0)) >= 0.03 THEN 'en' ELSE 'unk' END AS lang_id
FROM t ORDER BY doc_id
""",
)
def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text analysis: token/char statistics, punctuation ratio, stopword
    density, composite quality score, and n-gram-heuristic language ID —
    one narrow JVM-side projection over the documents scan."""
    from sales_forecast_pyspark_spark.llmdata import text_stats

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text_stats(docs).drop("text").orderBy("doc_id")


@register(
    "doc_fingerprints",
    r"""
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
FROM documents ORDER BY doc_id
""",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting for exact dedup: whitespace-normalized
    lowercase md5 — groupBy(fp) is then a single hash-aggregate shuffle
    at any scale."""
    from sales_forecast_pyspark_spark.llmdata import fingerprint_expr

    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_expr("text").alias("fp")).orderBy("doc_id")


@register(
    "doc_chunks",
    """
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
st AS (
  SELECT doc_id, toks, unnest(range(0, length(toks), 80)) AS start
  FROM tok WHERE length(toks) > 0
)
SELECT doc_id,
       CAST(start // 80 AS INT) AS chunk_id,
       CAST(LEAST(100, length(toks) - start) AS INT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, start + 1, start + 100), ' ') AS chunk_text
FROM st
ORDER BY doc_id, chunk_id
""",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (100-token windows, 20-token
    overlap) — the split step that feeds embedding/training pipelines.
    All JVM higher-order functions over one tokenization; chunking is a
    map-only stage with no shuffle (llmdata/text.py::chunk_documents)."""
    from sales_forecast_pyspark_spark.llmdata import chunk_documents

    docs = read_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=100, overlap=20).orderBy(
        "doc_id", "chunk_id"
    )


@register(
    "doc_keywords",
    """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
w AS (
  SELECT doc_id, term,
         ROUND(tf * ln((nd.n + 1.0) / (dfreq.df + 1.0)), 7) AS weight
  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
  WHERE tf * ln((nd.n + 1.0) / (dfreq.df + 1.0)) > 0
)
SELECT doc_id, term, weight, CAST(rank AS INT) AS rank
FROM (
  SELECT doc_id, term, weight,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY weight DESC, term ASC) AS rank
  FROM w
)
WHERE rank <= 3
ORDER BY doc_id, rank
""",
)
def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (llmdata/vectorize.py::
    doc_keywords) — the keyword-extraction hook and the oracle proof of
    the exact long-form TF-IDF arithmetic the similarity tier builds
    on (weights rounded at 7 decimals before the deterministic
    (weight desc, term) rank)."""
    from sales_forecast_pyspark_spark.llmdata.vectorize import doc_keywords

    docs = read_table(spark, sf_dir, "documents")
    return doc_keywords(docs, "text", "doc_id", k=3)


@register(
    "doc_surprisal",
    """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
  FROM documents
),
freq AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM freq),
surp AS (
  SELECT doc_id,
         ROUND(ln(CAST(tot.total AS DOUBLE)) - ln(CAST(freq.cnt AS DOUBLE)), 7) AS s
  FROM tok JOIN freq USING (t) CROSS JOIN tot
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(CAST(SUM(CAST(s AS DECIMAL(30,7))) AS DOUBLE) / COUNT(*), 4) AS avg_surprisal
FROM surp GROUP BY doc_id ORDER BY doc_id
""",
)
def q_doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram surprisal per document (llmdata/text.py::
    unigram_surprisal) — the corpus-internal perplexity-style quality
    score: low = templated/repetitive, high = gibberish. Exact decimal
    mean of 7-decimal-rounded ln() surprisals, oracle-checked."""
    from sales_forecast_pyspark_spark.llmdata.text import unigram_surprisal

    docs = read_table(spark, sf_dir, "documents")
    return unigram_surprisal(docs, "doc_id", "text")


@register(
    "boilerplate_chunk_stats",
    """
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
ch AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(toks, start + 1, start + 50), ' ')) AS h
  FROM (
    SELECT doc_id, toks, unnest(range(0, length(toks), 50)) AS start
    FROM tok WHERE length(toks) > 0
  )
),
dph AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1)
SELECT ch.doc_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN dph.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       ROUND(SUM(CASE WHEN dph.ndocs >= 2 THEN 1 ELSE 0 END) / COUNT(*), 4) AS dup_fraction
FROM ch JOIN dph ON ch.h = dph.h
GROUP BY ch.doc_id
ORDER BY ch.doc_id
""",
)
def q_boilerplate_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-grain boilerplate detection (llmdata/dedup.py::
    duplicated_chunk_stats): fraction of each doc's non-overlapping
    50-token chunks that appear verbatim in at least one other doc —
    the template/shared-header lens that doc-grain near-dup scoring
    misses. Exact md5 chunk identity, fully oracle-checked."""
    from sales_forecast_pyspark_spark.llmdata.dedup import duplicated_chunk_stats

    docs = read_table(spark, sf_dir, "documents")
    out = duplicated_chunk_stats(docs, "doc_id", "text", chunk_tokens=50)
    return out.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_dup_chunks").cast("long").alias("n_dup_chunks"),
        "dup_fraction",
    )


@register(
    "pii_scrub",
    r"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         '\+?[0-9][0-9()\- ]{6,}[0-9]', '<PHONE>', 'g'),
         '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS clean_text,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{6,}[0-9]')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(text, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INT) AS n_ipv4
FROM documents ORDER BY doc_id
""",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + audit counts (llmdata/text.py::scrub_pii_expr):
    emails, phone-like digit runs, and IPv4 addresses replaced with
    typed placeholders, counted per kind — chained JVM regex passes,
    identical pattern semantics in DuckDB's RE2 (which is what makes
    the scrub oracle-checkable). Detection on planted PII is proven in
    tests/test_llmdata.py; the corpus itself may contain only
    incidental matches."""
    from sales_forecast_pyspark_spark.llmdata.text import (
        pii_counts_exprs,
        scrub_pii_expr,
    )

    docs = read_table(spark, sf_dir, "documents")
    counts = pii_counts_exprs("text")
    return docs.select(
        "doc_id",
        scrub_pii_expr("text").alias("clean_text"),
        *[c.alias(n) for n, c in counts.items()],
    ).orderBy("doc_id")


@register(
    "embedding_quantize",
    """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
m AS (
  SELECT vec_id, emb,
         list_aggregate(emb, 'min') AS qmin,
         list_aggregate(emb, 'max') AS qmax
  FROM e
)
SELECT vec_id, qmin, qmax,
       array_to_string(
         CASE WHEN qmax = qmin
              THEN list_transform(emb, x -> 0)
              ELSE list_transform(
                emb,
                x -> CAST(floor((x - qmin) / (qmax - qmin) * 255 + 0.5) AS INT) - 128
              )
         END, ',') AS codes
FROM m
ORDER BY vec_id
""",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embeddings table
    (llmdata/similarity.py::quantize_embeddings) — per-vector min/max
    range, codes bit-identical to the DuckDB replay of the same IEEE
    double chain. Narrow map, no shuffle. ``codes`` is serialized to a
    comma-joined string so the driver's column-sort-then-hash
    canonicalizer (which cannot hash list cells) checks it exactly."""
    from sales_forecast_pyspark_spark.llmdata.similarity import quantize_embeddings

    emb = spread_scan(read_table(spark, sf_dir, "embeddings"), "vec_id")
    out = quantize_embeddings(emb)
    return out.select(
        "vec_id",
        "qmin",
        "qmax",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias("codes"),
    ).orderBy("vec_id")


@register(
    "repetition_stats",
    """
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
g2 AS (
  SELECT doc_id, array_to_string(list_slice(toks, s + 1, s + 2), ' ') AS g
  FROM (SELECT doc_id, toks, unnest(range(0, greatest(length(toks) - 1, 0))) AS s FROM tok)
),
g3 AS (
  SELECT doc_id, array_to_string(list_slice(toks, s + 1, s + 3), ' ') AS g
  FROM (SELECT doc_id, toks, unnest(range(0, greatest(length(toks) - 2, 0))) AS s FROM tok)
),
c2 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g2 GROUP BY 1, 2),
c3 AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g3 GROUP BY 1, 2),
a2 AS (SELECT doc_id, SUM(cnt) AS t, COUNT(*) AS d, MAX(cnt) AS m FROM c2 GROUP BY 1),
a3 AS (SELECT doc_id, SUM(cnt) AS t, COUNT(*) AS d, MAX(cnt) AS m FROM c3 GROUP BY 1)
SELECT doc.doc_id,
       CAST(COALESCE(a2.t, 0) AS INT) AS n2_total,
       CAST(COALESCE(a2.d, 0) AS INT) AS n2_distinct,
       CAST(COALESCE(a2.m, 0) AS INT) AS n2_top,
       CAST(COALESCE(a3.t, 0) AS INT) AS n3_total,
       CAST(COALESCE(a3.d, 0) AS INT) AS n3_distinct,
       CAST(COALESCE(a3.m, 0) AS INT) AS n3_top
FROM documents doc
LEFT JOIN a2 ON doc.doc_id = a2.doc_id
LEFT JOIN a3 ON doc.doc_id = a3.doc_id
ORDER BY doc.doc_id
""",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-n-gram repetition profile (llmdata/text.py::
    repetition_stats) — the Gopher-family quality filter inputs as
    exact integer counts (total / distinct / top-frequency for 2- and
    3-grams). Shape since the r09 rewrite (driver-green on this shape
    in CORRECTNESS_r10): ONE tagged explode of (n, gram) structs for
    all n, then TWO codegen'd hash aggregations — groupBy(doc, n,
    gram) occurrence counts, then per-doc conditional aggregates
    deriving all six columns. Zero joins; ~9s at sf0.1 vs 14.5s for
    the old two-explode/two-join shape (full history on the operator
    docstring)."""
    from sales_forecast_pyspark_spark.llmdata.text import repetition_stats

    docs = read_table(spark, sf_dir, "documents")
    out = repetition_stats(docs, "doc_id", "text", ns=(2, 3))
    return out.select(
        "doc_id",
        *[
            F.col(c).cast("int").alias(c)
            for c in (
                "n2_total", "n2_distinct", "n2_top",
                "n3_total", "n3_distinct", "n3_top",
            )
        ],
    ).orderBy("doc_id")


@register(
    "training_mix",
    """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id % 100 < CASE lang WHEN 'en' THEN 50 ELSE 100 END
ORDER BY doc_id
""",
)
def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing (operators/rowops.py::
    stratified_sample): downweight the over-represented language (en at
    0.5) and keep the rest — the per-source/language reweighting step
    of a pretraining data pipeline. Deterministic raw-residue mode on
    the doc_id surrogate key so an external engine reproduces the
    EXACT sample (hashed mode is the production default; this query
    also proves the residue variant end-to-end). One narrow filter —
    no shuffle, pushdown-friendly at any corpus size."""
    from sales_forecast_pyspark_spark.operators.rowops import stratified_sample

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    fracs = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    return stratified_sample(
        docs, "lang", fracs, deterministic=True, key="doc_id", scale=100
    ).orderBy("doc_id")


@register("sequence_packs")  # rows-only: per-shard bin packing is not SQL-expressible
def q_sequence_packs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing end-to-end (llmdata/pack.py): chunk documents
    to bounded 100-token windows, pack the chunks into 256-token
    training sequences with per-shard best-fit-decreasing, and report
    per-pack fill. The chunk → pack composition is the LLM-trainer
    feed path: chunking bounds every item below the budget, packing
    minimizes padding. Deterministic: hashed sharding + total-ordered
    BFD gives stable pack ids across runs and partitionings."""
    from sales_forecast_pyspark_spark.llmdata import chunk_documents
    from sales_forecast_pyspark_spark.llmdata.pack import pack_sequences, pack_stats

    docs = read_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, "doc_id", "text", chunk_tokens=100, overlap=0)
    items = chunks.select(
        (F.col("doc_id") * 10_000 + F.col("chunk_id")).alias("item_id"),
        F.col("n_chunk_tokens").alias("n_tokens"),
    )
    packed = pack_sequences(
        items, budget=256, id_col="item_id", num_shards=8
    )
    return pack_stats(packed, budget=256).orderBy("pack_id")


_SHINGLE_CTE = """
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
  WHERE length(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) > 0
),
shl AS (
  SELECT doc_id, list_distinct(CASE WHEN length(toks) >= 3
      THEN list_transform(range(1, length(toks) - 3 + 2), i -> array_to_string(list_slice(toks, i, i + 2), ' '))
      ELSE [array_to_string(toks, ' ')] END) AS shingles
  FROM tok
),
sh AS (SELECT doc_id, UNNEST(shingles) AS shingle FROM shl),
cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
sp AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
"""


@register(
    "ngram_jaccard_pairs",
    _SHINGLE_CTE
    + """
SELECT doc_a, doc_b, shared, na.n AS n_a, nb.n AS n_b,
       CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard
FROM sp
JOIN cnt na ON sp.doc_a = na.doc_id
JOIN cnt nb ON sp.doc_b = nb.doc_id
WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.5
ORDER BY doc_a, doc_b
""",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-Jaccard near-dup pairs, candidate pairs blocked on a
    shared shingle (never all-pairs). The driver's synthetic corpus
    plants near-dups at jaccard ≈ 0.98; threshold 0.5 isolates them."""
    from sales_forecast_pyspark_spark.llmdata import ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


@register(
    "dedup_clusters",
    _SHINGLE_CTE.replace("WITH tok", "WITH RECURSIVE tok", 1)
    + """
, pr AS (
  SELECT doc_a, doc_b
  FROM sp
  JOIN cnt na ON sp.doc_a = na.doc_id
  JOIN cnt nb ON sp.doc_b = nb.doc_id
  WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.5
),
edges AS (SELECT doc_a AS u, doc_b AS v FROM pr UNION SELECT doc_b, doc_a FROM pr),
reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id FROM reach GROUP BY u),
sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT comp.doc_id, comp.cluster_id, sz.cluster_size,
       comp.doc_id = comp.cluster_id AS is_canonical
FROM comp JOIN sz USING (cluster_id)
ORDER BY cluster_id, doc_id
""",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation: the transitive closure of the exact
    3-gram-Jaccard pair relation, as distributed min-label-propagation
    connected components (llmdata/cluster.py) — each doc mapped to its
    cluster (min member id), with the canonical-survivor flag a real
    dedup pass keeps. Oracle: DuckDB WITH RECURSIVE transitive closure
    over the same pair set."""
    from sales_forecast_pyspark_spark.llmdata import dedup_clusters, ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    return dedup_clusters(pairs)


@register("near_dedup_minhash")  # rows-only: xxhash64 has no DuckDB equivalent
def q_near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32)+banding(8x4) LSH near-dedup with exact-Jaccard
    verification on bucket-mate candidates — the scale path (signature
    groupBy + equality joins; no similarity scan). Deterministic:
    xxhash64 is seed-free. Recall vs the exact query is tested in
    tests/test_llmdata.py.

    Self-validating driver row (VERDICT r07 #4, same pattern as
    embedding_near_dups): exact n-gram-Jaccard truth over a BOUNDED
    sample (doc_id < 300) at jaccard >= 0.9 — deep in the banding
    S-curve where P(miss) ≈ 2e-4 and, with seed-free xxhash64,
    deterministic — joined against the minhash output. Every row
    carries sample_truth_pairs / sample_missed_pairs / sample_recall,
    so a banding or signature regression flips a visible column in
    the driver record."""
    from sales_forecast_pyspark_spark.llmdata import (
        minhash_near_dedup,
        ngram_jaccard_pairs,
    )

    docs = read_table(spark, sf_dir, "documents")
    # shared by the output path AND the sample-side audit below, so a
    # call-site retune cannot leave the audit validating a different
    # pipeline (code-review r08); the audit's 0.9 jaccard truth bar is
    # intentionally tighter and stays separate
    minhash_t = 0.5
    out = minhash_near_dedup(docs, "doc_id", "text", threshold=minhash_t)
    sample = docs.filter(F.col("doc_id") < 300)
    truth = ngram_jaccard_pairs(
        sample, "doc_id", "text", n=3, threshold=0.9
    ).select("doc_a", "doc_b")
    # audit side runs the SAME minhash path on the sample alone:
    # signatures are per-doc and corpus-independent (seed-free
    # xxhash64 of the doc's own shingles), so a sample-run finds a
    # within-sample pair iff the full run does — and the audit's cost
    # scales with the sample, not with a second pass over the corpus
    # (referencing `out` here doubled the benched query's wall).
    found_sample = minhash_near_dedup(
        sample, "doc_id", "text", threshold=minhash_t
    ).select("doc_a", "doc_b")
    missed = truth.join(found_sample, ["doc_a", "doc_b"], "left_anti")
    audit = (
        truth.agg(F.count(F.lit(1)).alias("sample_truth_pairs"))
        .crossJoin(
            F.broadcast(
                missed.agg(F.count(F.lit(1)).alias("sample_missed_pairs"))
            )
        )
        .select(
            "sample_truth_pairs",
            "sample_missed_pairs",
            F.when(
                F.col("sample_truth_pairs") > 0,
                F.round(
                    1
                    - F.col("sample_missed_pairs")
                    / F.col("sample_truth_pairs"),
                    6,
                ),
            ).alias("sample_recall"),
        )
    )
    # anchored (ADVICE r08): an empty `out` still emits one audit row
    return _anchored_audit_crossjoin(out, audit).orderBy("doc_a", "doc_b")


@register("near_dedup_survivors")  # rows-only: composes the xxhash64 MinHash path
def q_near_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end scale-path dedup pipeline: MinHash+LSH candidate
    pairs (verified at jaccard >= 0.5) → connected components → one
    canonical survivor per cluster. This is the composition a 100 TB
    dedup pass actually runs — signatures and banding instead of the
    exact shingle self-join, then the same cluster/survivor selection
    as the oracle-checked ``dedup_clusters``. Equality of the two
    paths' clusters is asserted in tests/test_llmdata.py."""
    from sales_forecast_pyspark_spark.llmdata import dedup_clusters, minhash_near_dedup

    docs = read_table(spark, sf_dir, "documents")
    pairs = minhash_near_dedup(docs, "doc_id", "text", threshold=0.5)
    return dedup_clusters(pairs)


# ---------------------------------------------------------------------------
# LLM-data operators: similarity search + multimodal (embeddings/documents)
# ---------------------------------------------------------------------------


@register(
    "ann_topk",
    """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos_sim
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
WHERE rank <= 5
ORDER BY query_id, rank
""",
)
def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for a bounded query set (vec_id <
    10): broadcast queries × corpus scan, JVM higher-order-function dot
    products, rank on round-6 scores with id tie-breaks so the ordering
    is engine- and partitioning-independent."""
    from sales_forecast_pyspark_spark.llmdata import cosine_topk

    emb = spread_scan(read_table(spark, sf_dir, "embeddings"), "vec_id")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@register(
    "embedding_centroids",
    """
SELECT label, CAST(pos - 1 AS INT) AS dim,
       CAST(SUM(CAST(ROUND(CAST(val AS DOUBLE), 6) AS DECIMAL(30,6))) AS DOUBLE)
         / COUNT(*) AS centroid_val,
       COUNT(*) AS n_vectors
FROM (
  SELECT label, unnest(embedding) AS val, generate_subscripts(embedding, 1) AS pos
  FROM embeddings
)
GROUP BY label, dim
ORDER BY label, dim
""",
)
def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pooled embedding per label via ``group_centroids`` — class
    prototypes / coarse-quantizer cells as one posexplode + hash
    aggregate. The centroid array is flattened back to (label, dim)
    rows for the oracle; sums are exact scale-6 decimals so the mean is
    partitioning-independent (see functions/deterministic.py)."""
    from sales_forecast_pyspark_spark.llmdata import group_centroids

    emb = read_table(spark, sf_dir, "embeddings")
    cents = group_centroids(emb, ["label"])
    return cents.select(
        "label",
        F.posexplode("centroid").alias("dim", "centroid_val"),
        "n_vectors",
    ).orderBy("label", "dim")


@register("ann_lsh_pairs")  # rows-only: MLlib LSH hyperplanes are not SQL-expressible
def q_ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN scale path: BucketedRandomProjectionLSH approximate
    similarity self-join (seeded) — bucketing converts the N x N
    similarity scan into equality joins; only bucket-mates are scored.

    Self-validating driver row (VERDICT r11 ask #2, the minhash /
    embedding_near_dups anchored-audit pattern): exact Euclidean truth
    over a BOUNDED sample (vec_id < 200) at dist < 1.1 — strictly
    inside the 1.2 output radius, where the 3-table OR'd BRP collision
    probability is ~0.92/pair and the frozen seeded draw measures
    recall 1.0 at both driver SFs — joined against the SAME LSH
    pipeline run on the sample alone (hash functions depend only on
    (seed, dim, bucket_length), so a sample-run buckets a
    within-sample pair together iff the full run does; equality is
    pinned in tests/test_similarity.py). Every row carries
    sample_truth_pairs / sample_missed_pairs / sample_recall /
    sample_recall_ok; the 0.6 bar is an order of magnitude above any
    plausible frozen-draw shortfall (P(≥4 of ~9 missed) < 1e-4) but
    far below it for a broken bucket key (recall ~0)."""
    from sales_forecast_pyspark_spark.llmdata import lsh_similarity_join

    # single source of truth for the pipeline tuning, shared by the
    # output path and the sample audit (code-review r08 principle)
    dist_t, truth_bar = 1.2, 1.1

    emb = spread_scan(read_table(spark, sf_dir, "embeddings"), "vec_id")
    out = lsh_similarity_join(emb, distance_threshold=dist_t)
    sample = emb.filter(F.col("vec_id") < 200)
    s = sample.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    sq_dist = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    truth = (
        s.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
        .crossJoin(
            F.broadcast(
                s.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
            )
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.sqrt(sq_dist).alias("_tdist"))
        .filter(F.col("_tdist") < truth_bar)
    )
    # audit side runs the SAME LSH pipeline on the sample alone — cost
    # scales with the sample instead of re-executing the corpus LSH
    # subtree via `out` (the embedding_near_dups rationale)
    found_sample = lsh_similarity_join(sample, distance_threshold=dist_t).select(
        "id_a", "id_b", F.lit(1).alias("_hit")
    )
    # ONE left join + ONE aggregate (not truth.agg × anti-join.agg +
    # crossJoin): the two-branch shape embeds the sample LSH subtree
    # twice per audit instance, and the anchored crossjoin doubles the
    # instances
    audit = (
        truth.join(found_sample, ["id_a", "id_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("sample_truth_pairs"),
            (
                F.count(F.lit(1)) - F.coalesce(F.sum("_hit"), F.lit(0))
            ).alias("sample_missed_pairs"),
        )
        .select(
            "sample_truth_pairs",
            "sample_missed_pairs",
            # zero-truth regime pins the flag RED (sibling-audit
            # policy): under ANSI an unguarded 0/0 errors the row and
            # a NULL verdict is unjudgeable
            F.when(
                F.col("sample_truth_pairs") > 0,
                F.round(
                    1
                    - F.col("sample_missed_pairs")
                    / F.col("sample_truth_pairs"),
                    6,
                ),
            ).alias("sample_recall"),
        )
        .withColumn(
            "sample_recall_ok",
            F.coalesce(F.col("sample_recall") >= 0.6, F.lit(False)),
        )
    )
    # anchored: an empty `out` still emits one audit row
    return _anchored_audit_crossjoin(out, audit).orderBy("id_a", "id_b")


@register("tfidf_similar_docs")  # rows-only: HashingTF/IDF+LSH not SQL-expressible
def q_tfidf_similar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF text vectorization (SURVEY §7 step 9) + cosine hook:
    JVM tokens -> term TF-IDF table -> banded SRP buckets -> exact
    cosine verify at >= 0.9, aggregated to per-document neighbor
    counts so output stays bounded by |docs| regardless of pair
    density.

    Built on ``tfidf_pair_stages`` directly so the sampled-truth audit
    shares the cached weights/sig frames instead of re-deriving the corpus
    pass. Self-validating driver row (VERDICT r11 ask #2): on this
    corpus every truth regime sits ON the banding S-curve (max sample
    cosine ~0.91-0.95 — no deep-in-the-curve bar exists), so the audit
    is SELF-CALIBRATING rather than a fixed recall pin: exact
    candidate-stage recall over the bounded sample's cos >= 0.85 truth
    pairs vs the closed-form SRP collision curve with a 3σ binomial
    lower bound (see ``tfidf_banding_audit``). Every row carries
    sample_truth_pairs / sample_found_pairs / sample_expected_pairs /
    sample_cand_recall / sample_recall_ok."""
    from sales_forecast_pyspark_spark.llmdata.vectorize import (
        tfidf_banding_audit,
        tfidf_pair_stages,
    )

    docs = read_table(spark, sf_dir, "documents")
    stages = tfidf_pair_stages(docs, cos_threshold=0.9)
    # cache: weights are read by the signature build, the verify
    # doc-map fold AND the audit's truth pass; sig by the candidate
    # self-join and the audit's sample restriction
    stages["weights"].cache()
    stages["weights"].count()
    stages["sig"].cache()
    pairs = stages["scored"].select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b"), "cos_sim"
    )
    out = (
        pairs.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"), "cos_sim")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_similar"),
            F.max("cos_sim").alias("max_cos"),
        )
    )
    audit = tfidf_banding_audit(stages)
    # anchored: an all-dropout regression still emits one audit row
    return _anchored_audit_crossjoin(out, audit).orderBy("doc_id")


@register(
    "multimodal_features",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS n_bytes,
       md5(text) AS content_md5,
       lower(hex(encode(substring(text, 1, 4)))) AS header_hex,
       CAST(octet_length(encode(text)) % 1024 + 1 AS INT) AS fake_width,
       CAST((octet_length(encode(text)) * 7) % 1024 + 1 AS INT) AS fake_height
FROM documents
ORDER BY doc_id
""",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary content column ->
    mapInPandas Arrow-batched extraction (byte length, md5, header hex,
    deterministic fake-decode dimensions). The pandas path is
    oracle-checked against pure SQL on the same bytes — proving the
    Arrow round-trip is lossless."""
    from sales_forecast_pyspark_spark.llmdata import attach_binary, extract_features

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_features(attach_binary(docs)).orderBy("doc_id")


@register(
    "frame_samples",
    """
WITH f AS (
  SELECT doc_id, octet_length(encode(text)) AS n, unnest([0, 1, 2, 3]) AS frame_idx
  FROM documents
)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(n * (frame_idx + 1) // 4 - n * frame_idx // 4 AS BIGINT) AS frame_len
FROM f ORDER BY doc_id, frame_idx
""",
)
def q_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out end-to-end: every document's binary
    payload explodes into 4 evenly spaced frames through one Arrow pass
    (the video shape). The deterministic chunker's frame lengths are
    closed-form (n·(i+1)//k − n·i//k), so the 1→k mapInPandas fan-out is
    oracle-checked row-for-row against pure SQL."""
    from sales_forecast_pyspark_spark.llmdata import attach_binary, sample_frames

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    frames = sample_frames(attach_binary(docs), n_frames=4)
    return frames.select("doc_id", "frame_idx", "frame_len").orderBy(
        "doc_id", "frame_idx"
    )


# ---------------------------------------------------------------------------
# Event-stream operators: tumbling windows + sessionization (events table)
# ---------------------------------------------------------------------------


@register(
    "events_window",
    """
SELECT event_type,
       strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation per event type."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type", F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .select(
            "event_type",
            # rendered to a string IN SESSION TZ (UTC): naive-timestamp
            # collection converts through the client's local timezone,
            # which is outside the engine's control
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "total_value",
        )
        .orderBy("event_type", "win_start")
    )


@register(
    "sessionization",
    """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM d
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_event,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sess_id
ORDER BY user_id, session_start
""",
)
def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap via the built-in
    ``session_window`` (no custom stateful code needed). The oracle
    reproduces the semantics with a gaps-and-islands window query."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_event"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "last_event", "n_events")
        .orderBy("user_id", "session_start")
    )


@register(
    "sessionization_dynamic",
    """
WITH e AS (
  SELECT user_id, ts,
         ts + CASE WHEN event_type IN ('view','click')
                   THEN INTERVAL 30 MINUTES ELSE INTERVAL 10 MINUTES END AS reach
  FROM events
), g AS (
  SELECT user_id, ts,
         CASE WHEN ts > max(reach) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) THEN 1 ELSE 0 END AS new_s
  FROM e
), s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_event,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
""",
)
def q_sessionization_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC-GAP sessionization: the inactivity gap depends on the
    event itself (engaged-browsing events extend the session 30 min,
    transactional ones 10) via ``session_window``'s per-event gap
    expression — no custom state code, same one-shuffle shape as the
    fixed-gap query. Gap columns must be CalendarIntervalType
    (``make_interval``); DAY-TIME interval CASE branches are rejected.
    The oracle is the chained-reach gaps-and-islands form: a new
    session starts when ts exceeds the running max of every previous
    event's (ts + its gap) — NOT just the previous event's reach, which
    would split sessions a long-gap event should have bridged."""
    ev = read_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type").isin("view", "click"),
        F.expr("make_interval(0,0,0,0,0,30,0)"),
    ).otherwise(F.expr("make_interval(0,0,0,0,0,10,0)"))
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "last_event"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "last_event", "n_events")
        .orderBy("user_id", "session_start")
    )


@register(
    "user_state_history",
    """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
ORDER BY user_id, valid_from, event_id
""",
)
def q_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history tracking (operators/rowops.py::scd2_intervals):
    every event version of a user annotated with its half-open
    [valid_from, valid_to) interval; the newest row per user is
    is_current with a null valid_to. The history twin of the
    latest_events_per_user compaction — together they give a changelog
    both its current state and its point-in-time queryability (the
    intervals feed asof_join / interval_join directly)."""
    from sales_forecast_pyspark_spark.operators.rowops import scd2_intervals

    ev = read_table(spark, sf_dir, "events")
    out = scd2_intervals(ev, ["user_id"], ["ts", "event_id"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "is_current",
    ).orderBy("user_id", "valid_from", "event_id")


@register(
    "epoch_shuffle",
    """
SELECT doc_id, lang, md5(doc_id || ':' || 1) AS shuffle_order
FROM documents
ORDER BY shuffle_order
""",
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 shuffle of the documents corpus
    (operators/rowops.py::epoch_shuffle): a reproducible global
    permutation for trainer feeds, identical across engines and
    partitionings — the oracle replays the md5 order in DuckDB."""
    from sales_forecast_pyspark_spark.operators.rowops import epoch_shuffle

    docs = read_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs.select("doc_id", "lang"), "doc_id", epoch=1)


@register(
    "event_transitions",
    """
WITH seq AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events
),
pairs AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       ROUND(n / SUM(n) OVER (PARTITION BY from_type), 4) AS p
FROM pairs
ORDER BY from_type, to_type
""",
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix (operators/windows.py::
    transition_matrix): one lead() window per user timeline (event_id
    tie-break) + a pair-keyed aggregate, probabilities normalized per
    source state — the Markov view of the behavior stream."""
    from sales_forecast_pyspark_spark.operators.windows import transition_matrix

    ev = read_table(spark, sf_dir, "events")
    return transition_matrix(ev, order_tiebreak="event_id")


@register(
    "demand_autocorr",
    PANEL_CTE
    + """
, series AS (
  SELECT country, ds, SUM(qty) AS qty FROM panel GROUP BY 1, 2
),
dev AS (
  SELECT country, ds,
         CAST(ROUND(qty - AVG(qty) OVER (PARTITION BY country), 7) AS DECIMAL(19,7)) AS dx
  FROM series
),
lagged AS (
  SELECT country, dx,
         lag(dx, 1) OVER w AS dx_1,
         lag(dx, 6) OVER w AS dx_6,
         lag(dx, 7) OVER w AS dx_7
  FROM dev
  WINDOW w AS (PARTITION BY country ORDER BY ds ASC)
),
agg AS (
  SELECT country,
         CAST(ROUND(SUM(dx * dx), 6) AS DOUBLE) AS den,
         CAST(ROUND(SUM(CASE WHEN dx_1 IS NOT NULL THEN dx END * dx_1), 6) AS DOUBLE) AS n1,
         CAST(ROUND(SUM(CASE WHEN dx_6 IS NOT NULL THEN dx END * dx_6), 6) AS DOUBLE) AS n6,
         CAST(ROUND(SUM(CASE WHEN dx_7 IS NOT NULL THEN dx END * dx_7), 6) AS DOUBLE) AS n7
  FROM lagged GROUP BY 1
)
SELECT country, lag,
       CASE WHEN ROUND(num / NULLIF(den, 0), 4) = 0 THEN 0
            ELSE ROUND(num / NULLIF(den, 0), 4) END AS acf
FROM (
  SELECT country, den, unnest([1, 6, 7]) AS lag, unnest([n1, n6, n7]) AS num
  FROM agg
)
ORDER BY country, lag
""",
)
def q_demand_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1/6/7 autocorrelation of each country's daily demand series
    (operators/windows.py::series_autocorr) — the seasonality/residual
    diagnostic behind the reference's 6-day-cycle features: a material
    r_6 confirms the weekly cycle the lag features target. Exact
    decimal product chain (weighted_sum), biased-denominator ACF."""
    from sales_forecast_pyspark_spark.operators.windows import series_autocorr

    series = daily_panel(spark, sf_dir).groupBy("country", "ds").agg(
        F.sum("qty").alias("qty")
    )
    return series_autocorr(series, ["country"], "ds", "qty", lags=[1, 6, 7])


@register(
    "retention_weekly",
    """
WITH first AS (
  SELECT user_id, date_trunc('week', MIN(ts))::DATE AS cohort_week
  FROM events GROUP BY 1
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week FROM events
)
SELECT first.cohort_week,
       CAST((active.week - first.cohort_week) / 7 AS INT) AS week_offset,
       COUNT(DISTINCT active.user_id) AS n_active
FROM active JOIN first USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
""",
)
def q_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (operators/aggregates.py::
    retention_matrix): entities grouped by the week of their first
    event, distinct-active counts per week offset — the long form of
    the retention triangle, every stage keyed on the entity or the
    (cohort, offset) pair."""
    from sales_forecast_pyspark_spark.operators.aggregates import retention_matrix

    ev = read_table(spark, sf_dir, "events")
    return retention_matrix(ev)


@register(
    "funnel_signup_view_purchase",
    """
WITH s1 AS (
  SELECT user_id, MIN(ts) AS t FROM events WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
  WHERE e.event_type = 'view' GROUP BY 1
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t
  FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT 1 AS step_idx, 'signup' AS step, (SELECT COUNT(*) FROM s1) AS n_entities
UNION ALL
SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
UNION ALL
SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
ORDER BY step_idx
""",
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (operators/rowops.py::funnel_counts): users who
    signed up, then viewed strictly after their first signup, then
    purchased strictly after that earliest eligible view —
    earliest-entry strict-order semantics, one key-partitioned
    aggregate per step over monotonically shrinking frames."""
    from sales_forecast_pyspark_spark.operators.rowops import funnel_counts

    ev = read_table(spark, sf_dir, "events")
    return funnel_counts(ev, ["signup", "view", "purchase"])


@register(
    "key_skew_profile",
    """
WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1),
t AS (
  SELECT string_agg(user_id || ':' || n, ',' ORDER BY n DESC, user_id ASC) AS top_keys
  FROM (SELECT user_id, n FROM c ORDER BY n DESC, user_id ASC LIMIT 5)
)
SELECT (SELECT COUNT(*) FROM c) AS n_keys,
       (SELECT CAST(SUM(n) AS BIGINT) FROM c) AS n_rows,
       (SELECT MAX(n) FROM c) AS max_rows_per_key,
       (SELECT ROUND(AVG(n), 2) FROM c) AS mean_rows_per_key,
       (SELECT ROUND(quantile_cont(n, 0.5), 2) FROM c) AS p50_rows_per_key,
       (SELECT ROUND(quantile_cont(n, 0.99), 2) FROM c) AS p99_rows_per_key,
       (SELECT ROUND(MAX(n) / ROUND(AVG(n), 2), 2) FROM c) AS skew_ratio,
       t.top_keys
FROM t
""",
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnosis (operators/quality.py::skew_profile) on
    the events-per-user distribution: one row with the key-count
    distribution, skew_ratio (max/mean — the busiest-reducer multiplier
    a shuffle on this key pays), and the heaviest keys — the
    measurement that decides between plain shuffle, AQE skew handling,
    and targeted salting before running a 100 TB join. ``top_keys`` is
    serialized to a 'key:count' string for the driver's hasher."""
    from sales_forecast_pyspark_spark.operators.quality import skew_profile

    ev = read_table(spark, sf_dir, "events")
    out = skew_profile(ev, ["user_id"], top_n=5)
    return out.select(
        "n_keys",
        "n_rows",
        "max_rows_per_key",
        "mean_rows_per_key",
        "p50_rows_per_key",
        "p99_rows_per_key",
        "skew_ratio",
        F.array_join(
            F.transform(
                "top_keys", lambda s: F.concat_ws(":", s["key"], s["n"].cast("string"))
            ),
            ",",
        ).alias("top_keys"),
    )


@register(
    "salted_segment_value",
    """
SELECT c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY 1
""",
)
def q_salted_segment_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remedy `key_skew_profile` diagnoses: a skew-resistant SALTED
    shuffle join (operators/joins.py::salted_join) of the events fact
    (hot user_id keys — skew_ratio ~= max/mean per the profile) against
    customer, then a per-segment rollup. Salting is correctness-neutral:
    the left side gets a random bucket, the right side is exploded
    across all buckets, so each hot key's rows spread over
    ``salt_buckets`` reducers while every (key, salt) pair still finds
    its match — the oracle is the PLAIN join, and the hash check proves
    value equality. The operator merge-hints the exploded right side
    (audit r09): at test SF the static planner used to broadcast it —
    which both defeated the salting demo (no shuffle to de-skew) and
    belonged to the un-demotable fictional-broadcast class — so the
    join is now a pinned salted shuffle at every SF, the 100 TB shape
    that keeps one hot user from pinning a reducer."""
    from sales_forecast_pyspark_spark.operators.joins import salted_join

    ev = read_table(spark, sf_dir, "events").select("user_id", "value")
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        salted_join(ev, cust, on=["user_id"], how="inner", salt_buckets=8)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .orderBy("segment")
    )


@register(
    "pivot_event_counts",
    """
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
FROM events GROUP BY user_id ORDER BY user_id
""",
)
def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide restructuring): per-user event counts, one
    column per type. The value list is DECLARED, which is the scale
    rule — an undeclared pivot runs an extra distinct pass AND caps out
    at spark.sql.pivotMaxValues; a declared one is a single map-side
    conditional aggregation, exactly the oracle's COUNT(CASE...) form."""
    ev = read_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .count()
        .fillna(0, subset=types)
        .orderBy("user_id")
    )


@register(
    "events_json_extract",
    """
SELECT event_type,
       CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
       COUNT(CAST(props->>'$.k' AS INT)) AS n_k,
       CAST(SUM(CAST(props->>'$.k' AS INT)) AS DOUBLE) / COUNT(CAST(props->>'$.k' AS INT)) AS avg_k
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the events ``props`` JSON with
    a DECLARED schema (``from_json`` — schema-on-read with column
    pruning, vs ``get_json_object``'s per-path re-parse) and aggregate
    the extracted field. Integer sums are exact under any partitioning;
    the average is one exact-long division in both engines.

    The schema-LESS alternative on Spark 4 is VariantType —
    ``variant_get(parse_json(props), '$.k', 'int')`` parses once into a
    binary-encoded variant and extracts typed paths without declaring a
    struct up front (parity with this query pinned in
    tests/test_oracle_queries.py); prefer the declared schema when the
    shape is known, variant when payloads are heterogeneous."""
    ev = read_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k"),
            (F.sum("k").cast("double") / F.count("k")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@register(
    "event_value_profile",
    """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       COUNT(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
""",
)
def q_event_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tier of the sketch operators (operators/sketches.py): per
    event type, distinct-user cardinality and interpolated value
    percentiles — Spark's ``percentile`` lerp matches DuckDB's
    ``quantile_cont`` bit-for-bit on doubles. The HLL++ /
    Greenwald-Khanna sketch twins (the one-shuffle 100 TB path) are
    accuracy-tested against this form in tests/test_sketches.py."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            *quantile_exprs("value", [0.5, 0.9]),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


@register("distinct_users_hll")  # rows-only: DataSketches HLL has no DuckDB twin
def q_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch tier of the distinct-count operator
    (operators/sketches.py::hll_rollup): per-(event_type, day) HLL
    sketches unioned up to event_type — the incremental-rollup shape
    that answers any coarser distinct-count cube without rescanning raw
    data at 100 TB. Output carries the exact count alongside the
    estimate, so the registered rows are self-auditing; the estimate is
    deterministic (register-wise-max union, order-independent).
    Merge-consistency and error bounds are tested in
    tests/test_sketches.py."""
    from sales_forecast_pyspark_spark.operators.sketches import hll_rollup

    ev = read_table(spark, sf_dir, "events")
    fine_keyed = ev.withColumn("day", F.to_date("ts"))
    est = hll_rollup(
        fine_keyed, ["event_type", "day"], ["event_type"], "user_id", lg_k=12
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            F.col("n_user_id").cast("long").alias("n_users_hll"),
            "n_users_exact",
        )
        .orderBy("event_type")
    )


@register(
    "events_near_errors",
    """
SELECT e.event_id AS error_id, e.user_id,
       COUNT(*) AS n_follow,
       CAST(ROUND(SUM(CAST(f.value AS DECIMAL(30,6))), 2) AS DOUBLE) AS follow_value
FROM events e JOIN events f
  ON f.user_id = e.user_id
 AND f.ts >= e.ts AND f.ts <= e.ts + INTERVAL '5 minutes'
WHERE e.event_type = 'error'
GROUP BY 1, 2 ORDER BY 1
""",
)
def q_events_near_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join via ``interval_join``: per error event, the count and
    value of same-user activity in the 5 minutes at-or-after it. The
    binned equi-join (300s buckets ≈ interval length → ≤ 2 buckets per
    interval) replaces the BroadcastNestedLoopJoin the raw inequality
    predicate would plan; the oracle runs the plain inequality join,
    proving the binning loses and duplicates nothing."""
    ev = read_table(spark, sf_dir, "events")
    points = ev.select("event_id", "user_id", "ts", "value")
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("win_end"),
    )
    joined = interval_join(
        points,
        intervals,
        point_time="ts",
        start_col="win_start",
        end_col="win_end",
        on=["user_id"],
        bin_width=300,
    )
    return (
        joined.groupBy("error_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_follow"),
            money_sum(F.col("value")).alias("follow_value"),
        )
        .orderBy("error_id")
    )


@register(
    "asof_last_purchase",
    """
WITH u AS (
  SELECT user_id, ts, 0 AS side, event_id AS ord,
         event_id AS p_id, value AS p_value,
         NULL::BIGINT AS l_event_id, NULL::VARCHAR AS l_event_type,
         NULL::DOUBLE AS l_value
  FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, ts, 1 AS side, NULL AS ord,
         NULL AS p_id, NULL AS p_value,
         event_id, event_type, value
  FROM events
), w AS (
  SELECT user_id, ts, side, l_event_id, l_event_type, l_value,
         last_value(p_id IGNORE NULLS) OVER win AS purchase_id,
         last_value(p_value IGNORE NULLS) OVER win AS purchase_value
  FROM u
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, side, ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT l_event_id AS event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_utc,
       l_event_type AS event_type, l_value AS value,
       purchase_id, purchase_value
FROM w WHERE side = 1 ORDER BY event_id
""",
)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment via ``asof_join``: every event carries
    the id and value of the same user's most recent purchase at-or-before
    its timestamp (null before the first purchase). The oracle reproduces
    the union-then-window semantics in SQL — DuckDB's native ASOF JOIN
    leaves the duplicate-right-time tie unspecified, so the oracle pins
    the same greatest-purchase-id tie-break the operator uses. Purchase
    ids/values pass through unaggregated (bit-exact doubles)."""
    ev = read_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    joined = asof_join(
        ev,
        purchases,
        on="user_id",
        left_time="ts",
        value_cols=["purchase_id", "purchase_value"],
        right_order="purchase_id",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_utc"),
        "event_type",
        "value",
        "purchase_id",
        "purchase_value",
    ).orderBy("event_id")


@register(
    "data_quality_report",
    """
WITH nn AS (
  SELECT 'not_null:' || c AS "check", n_rows AS n_checked, n_null AS n_violations
  FROM (
    SELECT unnest(['l_orderkey','l_partkey','l_suppkey','l_quantity','l_shipdate']) AS c,
           unnest([n_ok, n_pk, n_sk, n_q, n_sd]) AS n_null, n_rows
    FROM (
      SELECT COUNT(*) AS n_rows,
             COUNT(*) - COUNT(l_orderkey) AS n_ok,
             COUNT(*) - COUNT(l_partkey) AS n_pk,
             COUNT(*) - COUNT(l_suppkey) AS n_sk,
             COUNT(*) - COUNT(l_quantity) AS n_q,
             COUNT(*) - COUNT(l_shipdate) AS n_sd
      FROM lineitem
    )
  )
),
uq AS (
  SELECT 'unique:l_orderkey,l_linenumber' AS "check",
         (SELECT COUNT(*) FROM lineitem) AS n_checked,
         (SELECT COUNT(*) FROM lineitem)
           - (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)) AS n_violations
),
fk AS (
  SELECT 'fk:l_orderkey->o_orderkey' AS "check",
         (SELECT COUNT(l_orderkey) FROM lineitem) AS n_checked,
         (SELECT COUNT(*) FROM lineitem l
          LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
            ON l.l_orderkey = o.o_orderkey
          WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL) AS n_violations
)
SELECT "check", n_checked, n_violations FROM nn
UNION ALL SELECT * FROM uq
UNION ALL SELECT * FROM fk
ORDER BY "check"
""",
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over the fact table
    (operators/quality.py): null checks folded into ONE aggregate scan,
    key-uniqueness as one hash aggregate, referential integrity
    (lineitem.l_orderkey → orders.o_orderkey) as a left anti join —
    the pre-flight audit a pipeline runs before trusting an ingest."""
    from sales_forecast_pyspark_spark.operators.quality import quality_report

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    return quality_report(
        li,
        not_null=["l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"],
        unique_key=["l_orderkey", "l_linenumber"],
        fk=("l_orderkey", orders, "o_orderkey"),
    )


@register(
    "latest_events_per_user",
    """
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_utc,
       event_type, value, event_id
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
ORDER BY user_id
""",
)
def q_latest_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog-to-snapshot compaction via ``latest_snapshot``: each
    user's newest event (ts desc, event_id as the unique tie-break) —
    the CDC pattern that turns an append-only version stream into the
    table's current state with ONE key-shuffle and no join."""
    from sales_forecast_pyspark_spark.operators import latest_snapshot

    ev = read_table(spark, sf_dir, "events")
    latest = latest_snapshot(ev, ["user_id"], ["ts", "event_id"])
    return latest.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_utc"),
        "event_type",
        "value",
        "event_id",
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# ML predictions through the evaluation spine (M4 + J2 + A8, M8)
# ---------------------------------------------------------------------------


@register("forecast_eval_kpi")  # rows-only: ML predictions are not SQL-expressible
def q_forecast_eval_kpi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full loop (py:1297-1375) with REAL model output:
    LR predictions left-joined to the MA6 baseline on the 3-part key via
    the same evaluate_predictions path the oracle-checked spine uses,
    then the per-country KPI table. Proves the ML surface and the
    reporting spine compose."""
    from sales_forecast_pyspark_spark.forecast import (
        feature_pipeline,
        lr_preset,
        prepare_features,
        train_and_eval,
    )
    from sales_forecast_pyspark_spark.operators.windows import ma_baseline as _mb
    from sales_forecast_pyspark_spark.plans.evaluation import (
        evaluate_predictions,
        kpi_by_country,
    )

    train, test, numeric = _forecast_features(spark, sf_dir)
    pipe = feature_pipeline(["country", "stock"], numeric)
    _, train_p, test_p = prepare_features(pipe, train, test)
    res = train_and_eval("lr", train_p, test_p, lr_preset("qty"))
    pred = res.predictions.select(
        "country", "stock", "ds", "qty", "avg_price",
        F.col("prediction").alias("pred_qty"),
    )
    base = _mb(daily_panel(spark, sf_dir), PANEL_KEYS, "ds", "qty", window=6)
    ev = evaluate_predictions(pred, base)
    return kpi_by_country(ev)


@register("lr_coefficients_top")  # rows-only: model internals are not SQL-expressible
def q_lr_coefficients_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 (py:1992-2016): fit the flagship LR, rank features by
    |coefficient| and return the top 15 plus the intercept — the
    reference's model-interpretation report.

    NOTE: the result is built driver-side via createDataFrame — a
    DOCUMENTED EXCEPTION acceptable only because model coefficients are
    O(n_features) model internals (16 rows here), the same boundary the
    reference crosses at py:1992-2016. Do not copy this pattern for
    data-sized outputs."""
    from sales_forecast_pyspark_spark.forecast import (
        feature_pipeline,
        lr_coefficients,
        lr_preset,
        prepare_features,
    )

    train, test, numeric = _forecast_features(spark, sf_dir)
    pipe = feature_pipeline(["country", "stock"], numeric)
    fp, train_p, _ = prepare_features(pipe, train, test)
    model = lr_preset("qty").fit(train_p)
    ranked = lr_coefficients(fp, model)
    top = ranked[:15] + [ranked[-1]]
    rows = [(i + 1, name, round(coef, 4)) for i, (name, coef) in enumerate(top)]
    return spark.createDataFrame(rows, "rank int, feature string, coefficient double")


@register("model_quality_audit")  # rows-only: model metrics are not SQL-expressible
def q_model_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-auditing model-quality row (VERDICT r07 #5): runs the
    reference-parity LR pipeline over the FROZEN golden fixture
    (forecast/golden.py — sf_dir deliberately unused: golden
    comparison needs a frozen input) and emits one row of MAE/RMSE/R²
    + KPI-spine numbers with per-metric tolerance flags vs the pinned
    goldens (BASELINE.md model table parity mode). Model-quality drift
    now flips a boolean in a driver record, not only in pytest.
    r09 (VERDICT r08 #6): the row also carries the MA6-baseline KPI
    triple (kpi_base_bias/mae/mape) with its own base_ok flag — the
    baseline is model-independent, so a silent regression in the
    window math / lag-1 fallback / evaluation join is driver-visible
    separately from model drift.
    Registration slot 149/150 under the SLO capacity — accounted
    against SCALING.md 'Retirement policy'."""
    from sales_forecast_pyspark_spark.forecast.golden import (
        model_quality_audit,
    )

    return model_quality_audit(spark)


@register("ann_pq_topk")  # rows-only: k-means codebooks are not SQL-expressible
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan product-quantization ANN: ``ivfpq_topk`` probing all
    16 cells, so every vector's 8 residual code bytes are ADC-scored
    (8-subspace 256-entry codebooks, textbook PQ 8x8-bit) and exact
    cosine re-ranks the k x refine_factor survivors — the high-recall
    tier beside ``ann_ivfpq_topk``'s 6-of-16 minimum-IO probe. Recall
    >= 0.5 vs cosine_topk is pinned in tests/test_similarity.py AND
    carried in-row: recall_at_k/recall_ok audit columns vs the
    in-query exact truth (VERDICT r07 #4); deterministic (seeded
    codebooks, tie order by neighbor id)."""
    from sales_forecast_pyspark_spark.llmdata.similarity import (
        cosine_topk,
        ivfpq_topk,
        topk_recall_audit,
    )

    emb = spread_scan(read_table(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.filter(F.col("vec_id") < 20)
    return topk_recall_audit(
        ivfpq_topk(emb, q, k=5, n_probe=16), cosine_topk(emb, q, k=5)
    )


@register("ann_ivfpq_topk")  # rows-only: k-means cells/codebooks not SQL-expressible
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (llmdata/similarity.py::ivfpq_topk): coarse cells
    restrict each query to n_probe/n_centroids of the corpus, residual
    PQ codes are ADC-scored within probed cells, exact cosine re-ranks
    the pruned set — the billion-scale composition of the IVF and PQ
    tiers. Recall >= 0.5 pinned in tests/test_similarity.py AND
    carried in-row via recall_at_k/recall_ok audit columns vs the
    in-query exact truth (VERDICT r07 #4). Runs the operator DEFAULTS,
    which since r11 own the measured margin (n_probe=6: pooled recall
    0.61 at 20k / 0.59 at 200k vs 0.55 at the old default 4 — one bad
    seeded draw from the bar; all three measured with the MLlib KMeans
    fit, before the quantizers trained on the driver). With the driver
    fit this row reads mean_recall 0.66 at sf0.01 and 0.67 at sf0.1.
    Probing every cell is the full-scan tier, ``ann_pq_topk``."""
    from sales_forecast_pyspark_spark.llmdata.similarity import (
        cosine_topk,
        ivfpq_topk,
        topk_recall_audit,
    )

    emb = spread_scan(read_table(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.filter(F.col("vec_id") < 20)
    return topk_recall_audit(ivfpq_topk(emb, q, k=5), cosine_topk(emb, q, k=5))


@register("ann_index_lifecycle")  # rows-only: persisted k-means quantizers + parquet
# layout not SQL-expressible
def q_ann_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lifecycle of the PERSISTED IVF-PQ index (llmdata/
    ann_index.py) — the production serving shape ivfpq_topk's
    fit-per-call form is not: build the index ONCE on 80% of the
    corpus (vec_id % 5 != 0), incrementally append the remaining 20%
    through the STORED quantizers (no refit, no rewrite of existing
    cell partitions), then serve a query batch from the persisted
    tables (probed cells reach the code scan as a static
    PartitionFilter; the exact refine is a bounded broadcast join).

    Self-validating on BOTH documented risk axes, in-row:
    - recall: topk_recall_audit vs the brute-force truth over the full
      corpus (recall_at_k / mean_recall / recall_ok, tier bar 0.5) —
      served results must cover build AND appended vectors;
    - drift: ivfpq_index_stats' three-channel rebuild trigger
      (n_drifted_cells / max_err_rel / global_err_ratio /
      drift_green), which for this same-distribution append must stay
      green — the monitor's false-positive regime is exactly what the
      driver re-measures each check.

    The builder materializes the index eagerly (build + append are
    writes), so it sits in the plan-sweep SKIP class with the other
    fit-at-plan-time rows (scripts/audit_plans.py,
    scripts/audit_static_broadcasts.py); the persisted read path's
    plan shape is pinned by tests/test_ann_index.py instead."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_stats,
        query_ivfpq_index,
    )
    from sales_forecast_pyspark_spark.llmdata.similarity import (
        cosine_topk,
        topk_recall_audit,
    )

    emb = spread_scan(read_table(spark, sf_dir, "embeddings"), "vec_id")
    path = _fresh_scratch_dir("spark_ivfpq_lifecycle_") + "/idx"
    build_ivfpq_index(emb.filter(F.col("vec_id") % 5 != 0), path)
    append_to_ivfpq_index(emb.filter(F.col("vec_id") % 5 == 0), path)
    q = emb.filter(F.col("vec_id") < 20)
    served = topk_recall_audit(
        query_ivfpq_index(spark, path, q, k=5), cosine_topk(emb, q, k=5)
    )
    drift = ivfpq_index_stats(spark, path).agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(F.col("drift_flag").cast("int")).alias("n_drifted_cells"),
        F.round(F.max("err_rel"), 6).alias("max_err_rel"),
        F.round(F.max("global_err_ratio"), 6).alias("global_err_ratio"),
        (F.sum(F.col("drift_flag").cast("int")) == 0).alias("drift_green"),
    )
    return served.crossJoin(F.broadcast(drift))


@register("minhash_store_lifecycle")  # rows-only: xxhash64 signatures +
# persisted parquet layout not SQL-expressible (slot reclaimed from
# big_ticket_orders, r13 — see that retirement note and SCALING.md)
def q_minhash_store_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lifecycle of the PERSISTED MinHash store (llmdata/
    dedup_store.py) — the incremental near-dedup shape the one-shot
    `near_dedup_minhash` row is not (VERDICT r12 ask #2): build the
    store ONCE on 80% of the documents corpus (doc_id % 5 != 0),
    SCREEN the remaining 20% against the stored signatures (bucket
    equality join + signature-estimate verify; the corpus text is
    never re-read), APPEND the survivors under a versioned batch id,
    then prove the served state from the persisted tables.

    Self-validating in-row on both documented risk axes:
    - screen recall vs the one-shot truth: `minhash_near_dedup` over
      the SAME full corpus, restricted to cross (batch, seed) pairs —
      the exact-verified accept set the store's estimate-verify
      screens against (the documented estimate-vs-exact boundary is
      precisely what recall measures here). truth_pairs / hit_pairs /
      screen_recall / recall_ok (bar 0.7; measured 1.0 at sf0.001 and
      sf0.01 — the planted dup families sit far above the boundary);
      zero-truth regime pins recall_ok RED (unjudgeable otherwise).
    - exactly-once ingest: the same versioned append REPLAYED must
      leave the store unchanged (replay_stable_ok), the doc-count
      ledger must equal seed + admitted (count_ok), and a probe copy
      of an admitted survivor must screen out of the post-append
      store (post_append_found_ok).

    The builder materializes the store eagerly (build + append are
    writes), so it sits in the plan-sweep SKIP class with
    `ann_index_lifecycle`; the store read path's plan shape is pinned
    by tests/test_dedup_store.py instead. Like the sibling, it is not
    benched — its dominant stage (corpus signature build + bucket
    join) is the one `near_dedup_minhash` already prices."""
    from sales_forecast_pyspark_spark.llmdata.dedup import minhash_near_dedup
    from sales_forecast_pyspark_spark.llmdata.dedup_store import (
        append_to_minhash_store,
        build_minhash_store,
        screen_against_minhash_store,
    )

    path = _fresh_scratch_dir("spark_mhstore_lifecycle_") + "/store"

    docs = spread_scan(
        read_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    seed = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    threshold = 0.5

    meta = build_minhash_store(seed, path)
    n_seed = meta["n_docs"]

    hits = screen_against_minhash_store(batch, path, threshold=threshold)
    hit_pairs = hits.select("doc_id", "dup_of").distinct()
    hit_pairs.cache()
    # one-shot exact-verified truth over the SAME corpus, cross pairs
    # only (screening judges batch-vs-store; in-batch and seed-seed
    # pairs are out of its scope)
    cross = (
        minhash_near_dedup(docs, threshold=threshold)
        .select("doc_a", "doc_b")
        .filter((F.col("doc_a") % 5 == 0) != (F.col("doc_b") % 5 == 0))
        .select(
            F.when(F.col("doc_a") % 5 == 0, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id"),
            F.when(F.col("doc_a") % 5 == 0, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("dup_of"),
        )
    )
    cross.cache()
    truth_pairs = cross.count()
    hit_truth = cross.join(hit_pairs, ["doc_id", "dup_of"]).count()
    screened_pairs = hit_pairs.count()
    cross.unpersist()

    # admit the non-dup survivors under a versioned batch, then replay
    survivors = batch.join(
        hit_pairs.select("doc_id").distinct(), "doc_id", "left_anti"
    )
    hit_pairs.unpersist()
    admitted = append_to_minhash_store(survivors, path, batch_id=1)
    n_docs_after = (
        spark.read.parquet(os.path.join(path, "meta")).first()["n_docs"]
    )
    append_to_minhash_store(survivors, path, batch_id=1)  # replay
    n_docs_replayed = (
        spark.read.parquet(os.path.join(path, "meta")).first()["n_docs"]
    )

    # serve check: a fresh copy of an admitted survivor screens out
    probe_src = survivors.orderBy("doc_id").limit(1)
    probe = probe_src.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    post_found = (
        screen_against_minhash_store(probe, path, threshold=0.9)
        .filter(F.col("est_jaccard") >= 0.999)
        .count()
        > 0
    )

    recall = hit_truth / truth_pairs if truth_pairs else None
    return spark.createDataFrame(
        [
            (
                int(n_seed),
                int(truth_pairs),
                int(hit_truth),
                int(screened_pairs),
                None if recall is None else round(recall, 6),
                bool(truth_pairs > 0 and recall >= 0.7),
                int(admitted),
                int(n_docs_after),
                bool(n_docs_replayed == n_docs_after),
                bool(n_docs_after == n_seed + admitted),
                bool(post_found),
            )
        ],
        "n_seed long, truth_pairs long, hit_pairs long, screened_pairs long, "
        "screen_recall double, recall_ok boolean, admitted long, "
        "n_docs long, replay_stable_ok boolean, count_ok boolean, "
        "post_append_found_ok boolean",
    )


@register("semantic_dedup_lifecycle")  # rows-only: k-means quantizers +
# persisted parquet index not SQL-expressible (slot reclaimed from
# nation_trade_volume, r14 — see that retirement note and SCALING.md)
def q_semantic_dedup_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full lifecycle of INCREMENTAL SEMANTIC dedup against the serving
    IVF-PQ index (llmdata/ann_index.py::screen_against_ivfpq_index +
    append) — the third leg of the incremental dedup triad, mirroring
    `minhash_store_lifecycle` (VERDICT r13 ask #3): build the index
    ONCE on 80% of the embeddings corpus (vec_id % 5 != 0), SCREEN a
    batch against the stored vectors (|batch| cell-pruned probes — the
    corpus vectors are never rescanned), APPEND the survivors under a
    versioned batch id, then prove the served state.

    The synthetic embeddings are random (max pairwise cosine ~0.51),
    so near-dup structure at the production threshold (0.9) is PLANTED:
    the batch is the held-out 20% re-identified (fresh — no stored
    near-twin) plus exact copies of a deterministic seed subset
    (vec_id % 7 == 1, re-identified) whose stored twins the screen must
    find. Truth is MEASURED, not assumed: exact brute-force best-cosine
    of every batch vector against the seed corpus (`cosine_topk` k=1 —
    the batch frame is bounded at check scale, the documented O(|Q|)
    class), thresholded at the same bar the screen uses.

    Self-validating in-row on the same axes as its MinHash sibling:
    - screen recall vs the measured exact truth: truth_dups / hit_dups
      / screen_recall / recall_ok (bar 0.7; the planted copies are
      exact, cos 1.0, so the quantizer maps them onto their twins'
      cells and measured recall is 1.0 at both driver SFs); the
      zero-truth regime pins recall_ok RED (unjudgeable otherwise).
    - screen precision on the fresh rows: a random-vector batch must
      not screen out below the threshold — false_dups counts hits
      outside the measured truth set (expected 0).
    - exactly-once ingest: the versioned append REPLAYED leaves
      meta.n_vectors unchanged (replay_stable_ok), the count ledger
      equals seed + admitted (count_ok), and a re-offered copy of an
      admitted survivor screens out of the post-append index at
      cos >= 0.999 (post_append_found_ok) — dedup store and serving
      index are ONE structure.

    Materializes the index eagerly (build + append are writes), so it
    sits in the plan-sweep SKIP class with `ann_index_lifecycle`; like
    both siblings it is not benched — its dominant stages (seeded
    k-means fits + probe joins) are the ones `ann_ivfpq_topk` and
    `ann_index_lifecycle` already price."""
    from sales_forecast_pyspark_spark.llmdata.ann_index import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        screen_against_ivfpq_index,
    )
    from sales_forecast_pyspark_spark.llmdata.similarity import cosine_topk

    path = _fresh_scratch_dir("spark_semidx_lifecycle_") + "/idx"

    emb = spread_scan(read_table(spark, sf_dir, "embeddings"), "vec_id")
    seed = emb.filter(F.col("vec_id") % 5 != 0)
    threshold = 0.9

    build_ivfpq_index(seed, path)
    n_seed = (
        spark.read.parquet(os.path.join(path, "meta")).first()["n_vectors"]
    )

    # batch = fresh held-out 20% + planted exact copies of stored rows
    fresh = emb.filter(F.col("vec_id") % 5 == 0).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    planted = seed.filter(F.col("vec_id") % 7 == 1).select(
        (F.col("vec_id") + 200_000).alias("vec_id"), "embedding"
    )
    batch = fresh.unionByName(planted).localCheckpoint(eager=True)

    # measured exact truth: best stored cosine per batch vector
    best = cosine_topk(seed, batch, k=1).select(
        F.col("query_id").alias("vec_id"), "cos_sim"
    )
    truth_ids = best.filter(F.col("cos_sim") >= threshold).select("vec_id")
    truth_ids.cache()
    truth_dups = truth_ids.count()

    hits = (
        screen_against_ivfpq_index(spark, path, batch, threshold=threshold)
        .select("vec_id")
        .distinct()
    )
    hits.cache()
    screened = hits.count()
    hit_dups = hits.join(truth_ids, "vec_id").count()
    false_dups = screened - hit_dups
    truth_ids.unpersist()

    # admit the non-dup survivors under a versioned batch, then replay
    survivors = batch.join(hits, "vec_id", "left_anti")
    hits.unpersist()
    admitted = append_to_ivfpq_index(survivors, path, batch_id=1)
    n_after = (
        spark.read.parquet(os.path.join(path, "meta")).first()["n_vectors"]
    )
    append_to_ivfpq_index(survivors, path, batch_id=1)  # replay
    n_replayed = (
        spark.read.parquet(os.path.join(path, "meta")).first()["n_vectors"]
    )

    # serve check: a fresh copy of an admitted survivor screens out of
    # the post-append index (the increments tier is immediately served)
    probe = survivors.orderBy("vec_id").limit(1).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    post_found = (
        screen_against_ivfpq_index(spark, path, probe, threshold=threshold)
        .filter(F.col("cos_sim") >= 0.999)
        .count()
        > 0
    )

    recall = hit_dups / truth_dups if truth_dups else None
    return spark.createDataFrame(
        [
            (
                int(n_seed),
                int(truth_dups),
                int(hit_dups),
                int(false_dups),
                None if recall is None else round(recall, 6),
                bool(truth_dups > 0 and recall >= 0.7),
                int(admitted),
                int(n_after),
                bool(n_replayed == n_after),
                bool(n_after == n_seed + admitted),
                bool(post_found),
            )
        ],
        "n_seed long, truth_dups long, hit_dups long, false_dups long, "
        "screen_recall double, recall_ok boolean, admitted long, "
        "n_vectors long, replay_stable_ok boolean, count_ok boolean, "
        "post_append_found_ok boolean",
    )


@register("ann_pairs_topk")  # rows-only: BRP-LSH buckets are not SQL-expressible
def q_ann_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-output neighbor mining (llmdata/similarity.py::
    lsh_pairs_topk) — the production regime SCALING.md Finding 2
    recommends over threshold pair mining (registered r09, VERDICT r08
    #3): EVERY corpus item gets at most k=5 nearest bucket-mates by
    exact cosine, so output is capped at k·N rows however dense the
    corpus grows, where the fixed-threshold `ann_lsh_pairs` row is
    honestly output-quadratic on a densifying corpus (measured ×118 at
    10× input).

    Self-validating: pooled recall of the per-item top-5 vs the exact
    brute-force top-5 over a bounded sample of items (vec_id < 50),
    carried in-row as sample_exact_pairs / sample_hit_pairs /
    sample_recall / recall_ok (bar 0.5, the ANN tier's shared bound).
    The audit reuses the SAME output frame (filtered to the sample),
    so it validates the shipped pipeline, and survives a total-dropout
    regression via the anchored crossjoin (ADVICE r09)."""
    from sales_forecast_pyspark_spark.llmdata.similarity import (
        cosine_topk,
        lsh_pairs_topk,
    )

    emb = spread_scan(read_table(spark, sf_dir, "embeddings"), "vec_id")
    out = lsh_pairs_topk(emb, k=5)
    exact = cosine_topk(emb, emb.filter(F.col("vec_id") < 50), k=5).select(
        "query_id", "neighbor_id"
    )
    approx_s = out.filter(F.col("item_id") < 50).select(
        F.col("item_id").alias("query_id"), "neighbor_id"
    )
    hits = approx_s.join(exact, ["query_id", "neighbor_id"])
    audit = (
        exact.agg(F.count(F.lit(1)).alias("sample_exact_pairs"))
        .crossJoin(
            F.broadcast(hits.agg(F.count(F.lit(1)).alias("sample_hit_pairs")))
        )
        .select(
            "sample_exact_pairs",
            "sample_hit_pairs",
            # guarded like the sibling audits (code-review r09): an
            # empty exact-truth set means the query sample itself
            # regressed — under the driver's ANSI session an unguarded
            # 0/0 would ERROR the whole row, and a NULL verdict is
            # unjudgeable, so the zero-truth regime pins recall_ok RED
            F.when(
                F.col("sample_exact_pairs") > 0,
                F.round(
                    F.col("sample_hit_pairs") / F.col("sample_exact_pairs"), 6
                ),
            ).alias("sample_recall"),
        )
        .withColumn(
            "recall_ok",
            F.coalesce(F.col("sample_recall") >= 0.5, F.lit(False)),
        )
    )
    return _anchored_audit_crossjoin(out, audit).orderBy("item_id", "rank")


@register("embedding_near_dups")  # rows-only: LSH hyperplanes are not SQL-expressible
def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH candidate generation, then
    exact cosine on candidates only. The synthetic embeddings are random
    (max pairwise cosine ~0.51), so the threshold is set at 0.45 to
    demonstrate the operator's output shape; production corpora use
    0.9+.

    Self-validating driver row (VERDICT r07 #4): full exact truth is
    quadratic in the corpus, so the audit uses the standard sampled
    estimate — exact all-pairs truth over a BOUNDED deterministic
    sample (vec_id < 300, broadcast-sized at any SF), counting truth
    pairs the LSH candidates missed. Every output row carries
    sample_truth_pairs / sample_missed_pairs / sample_recall, so an
    LSH regression (bucket length drift, lost hash tables) flips a
    visible column in the driver record instead of hiding behind a
    plausible row count."""
    from sales_forecast_pyspark_spark.llmdata import lsh_similarity_join
    from sales_forecast_pyspark_spark.functions.vectors import cosine_similarity

    # single source of truth for the pipeline's tuning, consumed by
    # BOTH the output path and the sample-side audit below — a
    # call-site retune cannot leave the audit validating a different
    # pipeline (code-review r08)
    dist_t, cos_t = 1.2, 0.45

    emb = spread_scan(read_table(spark, sf_dir, "embeddings"), "vec_id")
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    pairs = lsh_similarity_join(emb, distance_threshold=dist_t)
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    out = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(cosine_similarity("va", "vb"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= cos_t)
        # NOT cached (code-review r08): a builder-level cache() would
        # pin an output-mass-sized frame for the session's lifetime
        # with no unpersist path AND register a CacheManager entry on
        # every plan-only build (the plan-invariant tests build all
        # queries). The audit below runs the LSH path on the bounded
        # SAMPLE instead of re-reading this frame, so nothing computes
        # twice over the corpus.
    )
    # sampled exact truth: bounded all-pairs within the sample only
    sample = e.filter(F.col("vec_id") < 300)
    truth = (
        sample.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"))
        .crossJoin(
            F.broadcast(
                sample.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
            )
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity("va", "vb"), 6).alias("tcos"),
        )
        .filter(F.col("tcos") >= cos_t)
    )
    # audit side runs the SAME LSH pipeline on the sample alone:
    # BRP-LSH hash functions depend only on (seed, input dim,
    # bucket_length) — fit() draws random unit vectors from the seed
    # and never reads the vectors beyond their dimension — so a
    # sample-run buckets a within-sample pair together iff the full
    # run does, and the audit's cost scales with the sample instead
    # of re-executing the corpus LSH subtree via `out`.
    found_sample = (
        lsh_similarity_join(
            emb.filter(F.col("vec_id") < 300), distance_threshold=dist_t
        )
        .join(sample.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va")), "id_a")
        .join(sample.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine_similarity("va", "vb"), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= cos_t)
        .select("id_a", "id_b")
    )
    missed = truth.join(found_sample, ["id_a", "id_b"], "left_anti")
    audit = (
        truth.agg(F.count(F.lit(1)).alias("sample_truth_pairs"))
        .crossJoin(
            F.broadcast(
                missed.agg(F.count(F.lit(1)).alias("sample_missed_pairs"))
            )
        )
        .select(
            "sample_truth_pairs",
            "sample_missed_pairs",
            F.when(F.col("sample_truth_pairs") > 0,
                   F.round(1 - F.col("sample_missed_pairs")
                           / F.col("sample_truth_pairs"), 6))
            .alias("sample_recall"),
        )
    )
    # anchored (ADVICE r08): an empty `out` still emits one audit row
    return _anchored_audit_crossjoin(out, audit).orderBy("id_a", "id_b")


@register(
    "token_counts",
    r"""
SELECT doc_id,
       CAST(length(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS INT) AS ws_tokens,
       CAST(length(regexp_extract_all(lower(text), ' ?[a-z]+|[0-9]| ?[^a-z0-9\s]+|\s')) AS INT) AS bpe_tokens
FROM documents ORDER BY doc_id
""",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways an LLM-data pipeline budgets text:
    whitespace tokens and a BPE-ish regex segmentation (word / digit /
    punct-run / space units) — single JVM regex passes, no UDF."""
    from sales_forecast_pyspark_spark.llmdata.text import (
        bpe_token_count_expr,
        whitespace_token_count_expr,
    )

    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        whitespace_token_count_expr("text").alias("ws_tokens"),
        bpe_token_count_expr("text").alias("bpe_tokens"),
    ).orderBy("doc_id")


@register(
    "user_daily_locf",
    """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS ds,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
),
cal AS (
  SELECT user_id, CAST(unnest(generate_series(MIN(ds), MAX(ds), INTERVAL 1 DAY)) AS DATE) AS ds
  FROM daily GROUP BY user_id
),
j AS (
  SELECT c.user_id, c.ds, d.day_value
  FROM cal c LEFT JOIN daily d USING (user_id, ds)
)
SELECT user_id, ds, day_value,
       last_value(day_value IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ds
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS locf_value
FROM j ORDER BY user_id, ds
""",
)
def q_user_daily_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify + LOCF imputation end-to-end: per-user daily value totals,
    calendar gaps filled by ``densify_series`` (sequence+explode, no
    UDF), then ``locf_fill`` carries the last observed value across gap
    days. day_value stays null on gap days (the audit trail), locf_value
    is the imputed series. Decimal-exact day sums keep the oracle
    bit-stable."""
    from sales_forecast_pyspark_spark.operators.densify import (
        densify_series,
        locf_fill,
    )

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("ds")).agg(
        money_sum(F.col("value")).alias("day_value")
    )
    dense = densify_series(daily, ["user_id"], "ds")
    return (
        locf_fill(dense, ["user_id"], ["day_value"], "ds")
        .select(
            "user_id",
            "ds",
            "day_value",
            F.col("day_value_locf").alias("locf_value"),
        )
        .orderBy("user_id", "ds")
    )


@register(
    "token_frequencies",
    r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS token
  FROM documents
)
SELECT token, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
FROM toks GROUP BY token
ORDER BY n_total DESC, token
LIMIT 20
""",
)
def q_token_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building — the corpus-frequency pass behind tokenizer
    training, stopword induction, and min_df/max_df cuts: explode the
    JVM tokenizer's output, count total and document frequency per
    token, keep the top 20 under a total (count, token) ordering so the
    limit is deterministic. Shape: one explode + two hash aggregations
    + TakeOrderedAndProject — no sort of the full vocabulary."""
    from sales_forecast_pyspark_spark.llmdata.text import tokens_expr

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokens_expr("text")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_total").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "benchmark_contamination",
    r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
), grams AS (
  SELECT DISTINCT doc_id, array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
  FROM tok, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i) s
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 20 = 0
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_grams FROM grams
  WHERE doc_id % 20 <> 0 GROUP BY doc_id
), hits AS (
  SELECT g.doc_id, COUNT(*) AS n_hits
  FROM grams g JOIN bench USING (gram)
  WHERE g.doc_id % 20 <> 0
  GROUP BY g.doc_id
)
SELECT h.doc_id, p.n_grams, h.n_hits
FROM hits h JOIN per_doc p USING (doc_id)
ORDER BY h.n_hits DESC, h.doc_id
""",
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination sweep (the pre-training hygiene pass):
    documents with ``doc_id % 20 == 0`` stand in as the held-out eval
    suite; every other document is checked for verbatim 8-gram overlap
    with it, and the violation list (doc, distinct 8-grams, hits) comes
    back exact-integer. On this corpus the hits are exactly the planted
    near-duplicates that straddle the bench/corpus split — the
    contamination a real suite exists to catch. Shape: one explode per
    side, gram-key shuffle joins + two hash-aggs — nothing quadratic.
    ``broadcast_bench=False`` (audit r09): THIS row's "benchmark" is
    5% of the corpus, so it scales with the corpus and must not ride
    the operator's broadcast default (which is for genuinely bounded
    eval suites — the contract this row's stand-in violates)."""
    from sales_forecast_pyspark_spark.llmdata.contamination import (
        ngram_contamination,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    return ngram_contamination(
        corpus, bench, n=8, broadcast_bench=False
    ).orderBy(
        F.col("n_hits").desc(), F.col("doc_id")
    )


@register(
    "series_gaps",
    PANEL_CTE
    + """
SELECT country, stock,
       MIN(ds) AS first_day, MAX(ds) AS last_day,
       CAST(date_diff('day', MIN(ds), MAX(ds)) + 1 AS INT) AS span_days,
       COUNT(*) AS n_obs,
       CAST(date_diff('day', MIN(ds), MAX(ds)) + 1 - COUNT(*) AS BIGINT) AS n_missing
FROM panel GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_series_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-coverage audit per series: span vs observed days — the
    bounded aggregate that prices a densify_series run before the
    span-day fan-out is paid (the reference's row-frame windows skip
    densification entirely; time-based semantics need it)."""
    from sales_forecast_pyspark_spark.operators.densify import series_gaps

    return series_gaps(daily_panel(spark, sf_dir), PANEL_KEYS, "ds")


@register(
    "winsorized_daily_qty",
    PANEL_CTE
    + """
, cuts AS (
  SELECT country,
         quantile_cont(qty, 0.05) AS lo_cut,
         quantile_cont(qty, 0.95) AS hi_cut
  FROM panel GROUP BY country
)
SELECT p.country, p.stock, p.ds, p.qty,
       GREATEST(c.lo_cut, LEAST(c.hi_cut, p.qty)) AS qty_w
FROM panel p JOIN cuts c USING (country)
ORDER BY p.country, p.stock, p.ds
""",
)
def q_winsorized_daily_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier treatment for the model features: winsorize daily qty at
    the per-country [p05, p95] exact interpolated cuts. Plan: one
    hash-agg for the 25-row cut table, broadcast-joined back — no
    window sort, no second scan of the panel beyond the agg. Cut values
    interpolate between integer-valued doubles, so the clipped column
    is bit-identical across engines (percentile lerp parity)."""
    from sales_forecast_pyspark_spark.operators.rowops import winsorize

    panel = daily_panel(spark, sf_dir).select("country", "stock", "ds", "qty")
    return winsorize(panel, "qty", ["country"]).orderBy(
        "country", "stock", "ds"
    )


def _forecast_tree(spark: SparkSession, sf_dir: str, preset_name: str) -> DataFrame:
    from sales_forecast_pyspark_spark.forecast import (
        feature_pipeline,
        gbt_preset,
        prepare_features,
        rf_preset,
        train_and_eval,
    )

    from sales_forecast_pyspark_spark.forecast.features import cap_categories

    train, test, numeric = _forecast_features(spark, sf_dir)
    # Trees require maxBins >= the largest indexed-categorical
    # cardinality — but maxBins also multiplies every task's tree-stat
    # aggregation buffer (numBins × 3 doubles per feature per node), so
    # tracking a high-cardinality column (20k stocks at sf0.1, millions
    # of SKUs at 100 TB) OOMs rather than scales. Instead the stock
    # column is frequency-capped below the bin budget: top 4094 train
    # stocks keep their identity, the tail folds into one bucket, and
    # maxBins stays 4096 (top_k + __other__ + StringIndexer's
    # handleInvalid=keep unseen bucket) at ANY data scale. A no-op at
    # sf0.01 (~2k stocks, everything kept — matches the reference-like
    # setting, ref production value 10000, py:428); at sf0.1 it folds
    # only single-digit-support tail stocks.
    train, test = cap_categories(train, test, "stock", top_k=4094)
    pipe = feature_pipeline(["country", "stock"], numeric)
    _, train_p, test_p = prepare_features(pipe, train, test)
    preset = (
        rf_preset("qty", max_bins=4096)
        if preset_name == "rf"
        else gbt_preset("qty", max_bins=4096)
    )
    res = train_and_eval(preset_name, train_p, test_p, preset)
    out = res.predictions.select(
        "country", "stock", "ds", "qty", F.round("prediction", 4).alias("pred_qty")
    )
    # frozen-fixture quality flags in-row (VERDICT r11 ask #5): the
    # same preset on the golden fixture, MAE/RMSE/R² vs pinned goldens
    # — a silent MLlib tree change flips a visible fixture_*_ok column
    # at the next driver check instead of hiding as a bench mystery
    from sales_forecast_pyspark_spark.forecast.golden import tree_quality_audit

    return _anchored_audit_crossjoin(
        out, tree_quality_audit(spark, preset_name)
    ).orderBy("country", "stock", "ds")


@register(
    "token_topk_sketch",
    """
WITH tok AS (
  SELECT lang, source, w
  FROM (
    SELECT lang, source,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
    FROM documents
  )
  WHERE w <> ''
),
cnt AS (
  SELECT lang, w AS item, COUNT(*) AS est_count
  FROM tok GROUP BY 1, 2
),
rk AS (
  SELECT lang, item, est_count,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY est_count DESC, item ASC) AS rank
  FROM cnt
)
SELECT lang, item, est_count, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= 5
ORDER BY lang, rank
""",
)
def q_token_topk_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable heavy-hitters rollup (operators/sketches.py::
    topk_rollup): approx_top_k sketches accumulated per (lang, source),
    combined up to lang, estimated there — the frequent-items twin of
    the HLL rollup, with the same persist-the-fine-sketches property.
    The oracle is EXACT counting: approx_top_k counts are exact while
    the per-group vocabulary (31 here) stays within max_items_tracked
    (10,000), which holds at every test SF — at web-corpus cardinality
    the same plan degrades gracefully to bounded-error estimates
    instead of blowing up the aggregation state."""
    from sales_forecast_pyspark_spark.operators.sketches import topk_rollup

    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang",
        "source",
        F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("w"),
    ).filter(F.col("w") != "")
    out = topk_rollup(tok, ["lang", "source"], ["lang"], "w", k=5)
    return out.select(
        "lang",
        "item",
        F.col("est_count").cast("long").alias("est_count"),
        F.col("rank").cast("int").alias("rank"),
    ).orderBy("lang", "rank")


@register(
    "user_overlap_theta",
    """
WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
c AS (SELECT event_type, COUNT(*) AS n FROM d GROUP BY 1),
ov AS (
  SELECT a.event_type AS group_a, b.event_type AS group_b,
         COUNT(*) AS n_overlap
  FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT ca.event_type AS group_a, cb.event_type AS group_b,
       ca.n AS n_a, cb.n AS n_b,
       COALESCE(ov.n_overlap, 0) AS n_overlap,
       ca.n + cb.n - COALESCE(ov.n_overlap, 0) AS n_union
FROM c ca
JOIN c cb ON ca.event_type < cb.event_type
LEFT JOIN ov ON ov.group_a = ca.event_type AND ov.group_b = cb.event_type
ORDER BY group_a, group_b
""",
)
def q_user_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap via theta sketches
    (operators/sketches.py::theta_overlap): one sketch per event_type,
    then intersections/unions of SKETCHES instead of a raw-membership
    self-join on user_id. The oracle is the exact set algebra: theta
    sketches are exact below 2^lg_k distinct members (1,500 users here
    vs 4,096 nominal entries), which holds at every test SF — at
    billions of users the same one-sketch-per-group plan keeps working
    with ~1.6% relative error while the exact self-join's hot-member
    fan-out does not."""
    from sales_forecast_pyspark_spark.operators.sketches import theta_overlap

    ev = read_table(spark, sf_dir, "events")
    return theta_overlap(ev, "event_type", "user_id", lg_k=12)


@register("value_quantiles_kll")  # rows-only: KLL sampling regime at this SF
def q_value_quantiles_kll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile rollup (operators/sketches.py::kll_rollup):
    KLL sketches per (event_type, day) merged up to event_type. Unlike
    the HLL/top-k/theta queries, the events table at test SF already
    exceeds the sketch's exact regime (~12k values/group vs k=200
    retained), so this registers rows-only with the exact discrete
    quantiles carried ALONGSIDE as self-audit columns — the p*_exact
    tier is a collect_list sort (test-scale audit only, NOT the scale
    path; the KLL columns are). Rank-error bounds are pinned in
    tests/test_sketches.py. Output is deterministic: day-grain fine
    sketches stay exact (<200 values each) and the coarse merge folds a
    sorted sketch list."""
    from sales_forecast_pyspark_spark.operators.sketches import kll_rollup

    probs = [0.25, 0.5, 0.9, 0.99]
    ev = read_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    kll = kll_rollup(ev, ["event_type", "day"], ["event_type"], "value", probs)
    arr = F.sort_array(F.collect_list("value"))
    exact = ev.groupBy("event_type").agg(
        *[
            F.element_at(
                arr, F.ceil(F.size(arr) * F.lit(p)).cast("int")
            ).alias(f"p{100 * p:g}_exact")
            for p in probs
        ]
    )
    return kll.join(exact, "event_type").orderBy("event_type")


@register("leakage_free_split")  # rows-only: md5-hex-to-int has no DuckDB twin
def q_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster-aware train/val split (llmdata/cluster.py::
    cluster_aware_split) over the documents corpus with its 3-gram
    Jaccard clusters: near-dup clusters land wholly in one split, so
    validation never contains near-copies of training docs. Output is
    self-auditing: per-split doc/unit counts plus the number of
    clusters spanning both splits, which must be zero."""
    from sales_forecast_pyspark_spark.llmdata import (
        dedup_clusters,
        ngram_jaccard_pairs,
    )
    from sales_forecast_pyspark_spark.llmdata.cluster import cluster_aware_split

    docs = read_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    clusters = dedup_clusters(pairs)
    out = cluster_aware_split(docs.select("doc_id"), clusters, val_pct=10)
    crossing = (
        out.groupBy("split_unit")
        .agg(F.countDistinct("split").alias("_n"))
        .filter(F.col("_n") > 1)
        .count()
    )
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("split_unit").alias("n_units"),
        )
        .withColumn("n_clusters_crossing", F.lit(crossing))
        .orderBy("split")
    )


@register("backtest_lr")  # rows-only: ML not SQL-expressible
def q_backtest_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward backtest (forecast/run.py::rolling_origin_backtest):
    three training origins, 60-day horizons, the reduced LR preset —
    out-of-sample error as a distribution across origins instead of the
    reference's single-split number. Feature pipeline re-fit per fold
    (no future-category leakage into indexer label maps)."""
    from sales_forecast_pyspark_spark.forecast.run import rolling_origin_backtest

    train, test, numeric = _forecast_features(spark, sf_dir)
    feats = train.unionByName(test)
    return rolling_origin_backtest(
        spark,
        feats,
        numeric,
        fold_ends=["1998-03-31", "1998-05-31", "1998-07-31"],
        horizon_days=60,
    )


@register("forecast_rf")  # rows-only: ML not SQL-expressible
def q_forecast_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: RandomForest preset (numTrees=50, maxDepth=5, seed=42,
    py:421-429) through the same fit-once feature pipeline as the LR
    flagship."""
    return _forecast_tree(spark, sf_dir, "rf")


@register("forecast_gbt")  # rows-only: ML not SQL-expressible
def q_forecast_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: GBT preset (maxDepth=3, lossType=absolute, stepSize=0.05,
    seed=42, py:839-849/:1224-1234)."""
    return _forecast_tree(spark, sf_dir, "gbt")


# ---------------------------------------------------------------------------
# Round-5 tranche: market-basket co-occurrence, per-series anomaly
# detection, multi-granularity grouping sets, embedding-quality stats,
# month-over-month growth.
# ---------------------------------------------------------------------------


@register(
    "basket_lift",
    """
WITH items0 AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
),
items AS (
  -- mirror the operator's max_basket_size=1000 mega-basket guard so
  -- numerator and denominators share ONE population (no-op at test SF:
  -- TPC-H orders carry <= 7 lines)
  SELECT b, i FROM (
    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS k FROM items0
  ) WHERE k <= 1000
),
n AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM items),
pairs AS (
  SELECT a.i AS item_a, b.i AS item_b, COUNT(*) AS n_baskets_together
  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
ic AS (SELECT i, COUNT(*) AS n_i FROM items GROUP BY 1)
SELECT p.item_a, p.item_b, p.n_baskets_together,
       ROUND((p.n_baskets_together * (SELECT n_baskets FROM n))
             / (ca.n_i * cb.n_i), 4) AS lift
FROM pairs p
JOIN ic ca ON ca.i = p.item_a
JOIN ic cb ON cb.i = p.item_b
ORDER BY p.n_baskets_together DESC, p.item_a, p.item_b
LIMIT 100
""",
)
def q_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence with lift (operators/baskets.py::
    basket_lift): top product pairs ordered together, lift = P(a,b) /
    (P(a)·P(b)) from exact counts with one final double division. The
    scale-safe shape: pairs are generated only WITHIN a basket via a
    self-join on the basket key (fan-out bounded by basket size, ≤13 in
    this fact), never across the catalog."""
    from sales_forecast_pyspark_spark.operators.baskets import basket_lift

    li = read_table(spark, sf_dir, "lineitem")
    return basket_lift(
        li, "l_orderkey", "l_partkey", min_pair_support=2, top_k=100
    )


@register(
    "anomaly_zscore",
    PANEL_CTE
    + """
, stats AS (
  SELECT country, stock, ds, qty,
         COUNT(qty) OVER w AS cnt,
         SUM(qty) OVER w AS s1,
         SUM(qty * qty) OVER w AS s2
  FROM panel
  WINDOW w AS (PARTITION BY country, stock ORDER BY ds
               ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)
)
SELECT country, stock, ds, qty,
       ROUND(s1 / cnt, 4) AS exp_val,
       ROUND((qty - s1 / cnt)
             / SQRT((s2 - s1 * s1 / cnt) / (cnt - 1)), 4) AS z
FROM stats
WHERE cnt >= 5
  AND SQRT((s2 - s1 * s1 / cnt) / (cnt - 1)) > 0
  AND ABS((qty - s1 / cnt)
          / SQRT((s2 - s1 * s1 / cnt) / (cnt - 1))) >= 3.0
ORDER BY country, stock, ds
""",
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series anomaly flags (operators/anomaly.py::
    rolling_zscore_anomalies): |z| ≥ 3 vs the trailing-28-day mean/std
    of the SAME series, current row excluded (leakage-free frame).
    Sufficient-statistic std (sum / sum-of-squares / count —
    integer-exact on summed quantities), so mean, z, and the cut itself
    are bit-identical cross-engine. min_obs is 5 here (the operator
    default is 14) because this panel's series are sparse — most
    (country, stock) series see well under 14 sale days in any 28-day
    span at test SF."""
    from sales_forecast_pyspark_spark.operators.anomaly import (
        rolling_zscore_anomalies,
    )

    panel = daily_panel(spark, sf_dir).select("country", "stock", "ds", "qty")
    return rolling_zscore_anomalies(
        panel, PANEL_KEYS, "ds", "qty", window=28, min_obs=5, z_threshold=3.0
    ).orderBy("country", "stock", "ds")


@register(
    "grouping_sets_sales",
    PANEL_CTE
    + """
, p AS (
  SELECT country, CAST(year(ds) AS INT) AS year, qty, revenue FROM panel
)
SELECT country, year,
       CAST(GROUPING(country) AS INT) AS g_country,
       CAST(GROUPING(year) AS INT) AS g_year,
       ROUND(SUM(qty), 2) AS total_qty,
       CAST(ROUND(SUM(CAST(revenue AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_revenue,
       COUNT(*) AS n_rows
FROM p
GROUP BY GROUPING SETS ((country, year), (country), (year), ())
ORDER BY g_country, g_year, country, year
""",
)
def q_grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form CUBE/ROLLUP specialize;
    `cube_sales` covers the cube) with GROUPING() flags distinguishing
    "aggregated out" from "key is NULL" — one shuffle produces all four
    granularities (per country-year, per country, per year, grand
    total), vs four separate scans in the naive UNION formulation."""
    panel = daily_panel(spark, sf_dir)
    p = panel.select(
        "country", F.year("ds").cast("int").alias("year"), "qty", "revenue"
    )
    return (
        p.groupingSets([["country", "year"], ["country"], ["year"], []],
                       "country", "year")
        .agg(
            F.grouping("country").cast("int").alias("g_country"),
            F.grouping("year").cast("int").alias("g_year"),
            F.round(F.sum("qty"), 2).alias("total_qty"),
            money_sum(F.col("revenue")).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "country", "year", "g_country", "g_year",
            "total_qty", "total_revenue", "n_rows",
        )
        .orderBy("g_country", "g_year", "country", "year")
    )


@register(
    "embedding_norm_stats",
    """
WITH pervec AS (
  SELECT vec_id, label,
         ROUND(SQRT(CAST(SUM(r6 * r6) AS DOUBLE)), 6) AS norm
  FROM (
    SELECT vec_id, label,
           CAST(ROUND(CAST(val AS DOUBLE), 6) AS DECIMAL(12,6)) AS r6
    FROM (SELECT vec_id, label, unnest(embedding) AS val FROM embeddings)
  )
  GROUP BY 1, 2
)
SELECT label,
       COUNT(*) AS n_vectors,
       CAST(SUM(CAST(norm AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_norm,
       MIN(norm) AS min_norm,
       MAX(norm) AS max_norm
FROM pervec GROUP BY label ORDER BY label
""",
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality screen: per-label L2-norm distribution (count,
    mean, min, max) — the cheap detector for broken encoder batches
    (all-zero rows, un-normalized shards, fp16 overflow spikes) run
    BEFORE the ANN tiers assume unit-ish norms. Element squares are
    computed in exact decimal on 1e-6-rounded values (the same
    float-ingest discipline as `embedding_centroids`), so every stat is
    order- and engine-independent. Map-side: one explode + two hash
    aggregates, no joins."""
    emb = read_table(spark, sf_dir, "embeddings")
    ex = emb.select("vec_id", "label", F.explode("embedding").alias("val"))
    r6 = F.round(F.col("val").cast("double"), 6).cast("decimal(12,6)")
    pervec = ex.groupBy("vec_id", "label").agg(
        F.round(F.sqrt(F.sum(r6 * r6).cast("double")), 6).alias("norm")
    )
    return (
        pervec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (
                F.sum(F.col("norm").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_norm"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
        .orderBy("label")
    )


@register(
    "mom_growth",
    PANEL_CTE
    + """
, m AS (
  SELECT country, CAST(year(ds) AS INT) AS year, CAST(month(ds) AS INT) AS month,
         CAST(ROUND(SUM(CAST(revenue AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
  FROM panel GROUP BY 1, 2, 3
)
SELECT country, year, month, revenue,
       LAG(revenue) OVER w AS prev_revenue,
       ROUND((revenue - LAG(revenue) OVER w)
             / NULLIF(LAG(revenue) OVER w, 0), 6) AS growth_pct
FROM m
WINDOW w AS (PARTITION BY country ORDER BY year, month)
ORDER BY country, year, month
""",
)
def q_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per country: monthly exact-decimal
    rollup, one LAG window (year+month ordering is total within a
    country), growth = (rev − prev) / prev on the already-identical
    doubles. First month per country has NULL prev/growth — the honest
    answer, not 0."""
    panel = daily_panel(spark, sf_dir)
    m = panel.groupBy(
        "country",
        F.year("ds").cast("int").alias("year"),
        F.month("ds").cast("int").alias("month"),
    ).agg(money_sum(F.col("revenue")).alias("revenue"))
    w = Window.partitionBy("country").orderBy("year", "month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "country", "year", "month", "revenue",
        prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / F.nullif(prev, F.lit(0)), 6).alias(
            "growth_pct"
        ),
    ).orderBy("country", "year", "month")


@register(
    "copurchase_triangles",
    """
WITH items0 AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
items AS (
  -- mirror basket_item_pairs' max_basket_size=1000 guard (no-op at test SF)
  SELECT b, i FROM (
    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS k FROM items0
  ) WHERE k <= 1000
),
e AS (
  SELECT a.i AS x, b.i AS y
  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
v AS (
  SELECT COUNT(DISTINCT n) AS n_nodes
  FROM (SELECT x AS n FROM e UNION ALL SELECT y FROM e)
),
t AS (
  SELECT COUNT(*) AS n_triangles
  FROM e e1
  JOIN e e2 ON e2.x = e1.y
  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
)
SELECT (SELECT n_nodes FROM v) AS n_nodes,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT n_triangles FROM t) AS n_triangles
""",
)
def q_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the co-purchase graph (edges = part pairs
    co-ordered in ≥2 baskets, from the shared `copurchase_pairs`
    frontier) via DEGREE-ORDERED orientation
    (operators/graph.py::count_triangles): wedge fan-out per node is
    bounded by oriented out-degree — O(√m) — so a hub product can't
    melt one reducer. The oracle counts the same triangles with the
    simple id-ordered 3-way self-join (counts are
    orientation-invariant); the Spark plan is the one that survives a
    hub."""
    from sales_forecast_pyspark_spark.operators.graph import count_triangles

    edges = copurchase_pairs(spark, sf_dir).filter(
        F.col("n_baskets_together") >= 2
    )
    return count_triangles(edges, "item_a", "item_b")


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE canonical co-purchase pair frame (item_a, item_b,
    n_baskets_together) — the single shared frontier of the graph
    family. Both `copurchase_triangles` and `pagerank_parts` consume
    exactly this plan, so the ~5s basket-expansion subtree (distinct →
    collect_set → pair explode) is computed ONCE per session when a
    caller persists it: Spark's CacheManager matches cached plans by
    canonicalized subtree, so `copurchase_pairs(spark, sf).cache()`
    (bench.py does this as a separately-timed shared-frontier build)
    makes every downstream graph query read the InMemoryRelation
    instead of re-expanding baskets. Uncached (driver correctness
    sweeps, plan audits) each query still carries its own complete,
    unchanged plan."""
    from sales_forecast_pyspark_spark.operators.baskets import basket_item_pairs

    li = read_table(spark, sf_dir, "lineitem")
    return basket_item_pairs(li, "l_orderkey", "l_partkey")


@register(
    "weighted_doc_sample",
    """
WITH w AS (
  SELECT doc_id, lang, n_chars,
         (CAST(('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          + 0.5) / 4294967296.0 AS u
  FROM documents WHERE n_chars > 0
),
r AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY ln(u) / n_chars DESC, doc_id)
           AS sample_rank
  FROM w
)
SELECT doc_id, lang, n_chars, CAST(sample_rank AS INT) AS sample_rank
FROM r WHERE sample_rank <= 20
ORDER BY lang, sample_rank
""",
)
def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted reservoir sample (operators/rowops.py::
    weighted_sample, A-Res): 20 docs per language with inclusion
    probability proportional to length — the "rebalance the training
    mixture, favor substantive docs" primitive. The per-row uniform is
    md5-derived (seed | doc_id → first 8 hex digits + 0.5 over 2^32, an
    exact dyadic rational), so the DuckDB oracle reproduces the exact
    sample; the ln-based priority is used only for ranking, never
    output."""
    from sales_forecast_pyspark_spark.operators.rowops import weighted_sample

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = weighted_sample(
        docs, ["lang"], "n_chars", k=20, id_cols=["doc_id"], seed=42
    )
    return out.select(
        "doc_id", "lang", "n_chars", F.col("sample_rank").cast("int").alias("sample_rank")
    ).orderBy("lang", "sample_rank")


# ---------------------------------------------------------------------------
# Round-6 tranche: pricing summary, Pareto/ABC via distributed prefix
# sum, RFM segmentation, activity streaks, time-weighted value, EWMA
# baseline, bigram LM quality, categorical mutual information.
# ---------------------------------------------------------------------------


@register(
    "pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape pricing summary: the canonical one-pass wide
    aggregate (8 measures over 2 grouping keys). One hash exchange with
    map-side combine — the shape that IS the plan at 100 TB. Money
    chains multiply 2-decimal doubles then sum in exact decimal
    (functions/deterministic.py); averages follow the stable_avg
    pattern (exact sum, one double division, deliberately unrounded)."""
    from sales_forecast_pyspark_spark.functions.deterministic import dec_sum

    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum(F.col("l_quantity")).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(charge).alias("sum_charge"),
            (dec_sum(F.col("l_quantity")) / n).alias("avg_qty"),
            (dec_sum(F.col("l_extendedprice")) / n).alias("avg_price"),
            (dec_sum(F.col("l_discount")) / n).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "abc_products",
    """
WITH rev AS (
  SELECT l_partkey AS part,
         CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(SUM(CAST(revenue AS DECIMAL(30,2))) AS DOUBLE) AS total FROM rev),
c AS (
  SELECT part, revenue,
         CAST(SUM(CAST(revenue AS DECIMAL(30,2)))
              OVER (ORDER BY revenue DESC, part ASC) AS DOUBLE) AS cum_revenue
  FROM rev
)
SELECT part, revenue, cum_revenue,
       ROUND(cum_revenue / tot.total, 6) AS cum_share,
       CASE WHEN ROUND(cum_revenue / tot.total, 6) <= 0.8 THEN 'A'
            WHEN ROUND(cum_revenue / tot.total, 6) <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM c CROSS JOIN tot
ORDER BY cum_revenue, part
""",
)
def q_abc_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC revenue classification via DISTRIBUTED prefix sum
    (operators/prefix.py::partitioned_cumsum). The oracle's
    ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY is the classic
    single-reducer trap; the Spark side range-repartitions on the total
    order, running-sums within each partition, and adds broadcast
    per-partition offsets — the two-phase scan whose cumulative values
    are EXACTLY the oracle's (decimal sums, boundary-independent).
    Class cuts: A <= 80% of revenue, B <= 95%, else C."""
    from sales_forecast_pyspark_spark.functions.deterministic import dec_sum
    from sales_forecast_pyspark_spark.operators.prefix import partitioned_cumsum

    li = read_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = li.groupBy(F.col("l_partkey").alias("part")).agg(
        money_sum(disc_price).alias("revenue")
    )
    tot = rev.agg(dec_sum(F.col("revenue"), scale=2).alias("total"))
    cum = partitioned_cumsum(
        rev,
        [F.col("revenue").desc(), F.col("part").asc()],
        F.col("revenue"),
        "cum_revenue",
        scale=2,
    )
    share = F.round(F.col("cum_revenue").cast("double") / F.col("total"), 6)
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "part",
            "revenue",
            F.col("cum_revenue").cast("double").alias("cum_revenue"),
            share.alias("cum_share"),
            F.when(share <= 0.8, "A")
            .when(share <= 0.95, "B")
            .otherwise("C")
            .alias("abc_class"),
        )
        .orderBy("cum_revenue", "part")
    )


@register(
    "rfm_scores",
    """
WITH p AS (
  SELECT user_id,
         CAST(date_diff('day', MAX(CAST(ts AS DATE)), DATE '2025-01-01') AS INT) AS recency_days,
         COUNT(*) AS frequency,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS monetary
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT user_id, recency_days, frequency, monetary,
       CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS INT) AS r_score,
       CAST(NTILE(5) OVER (ORDER BY frequency ASC, user_id) AS INT) AS f_score,
       CAST(NTILE(5) OVER (ORDER BY monetary ASC, user_id) AS INT) AS m_score
FROM p ORDER BY user_id
""",
)
def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) customer segmentation: one hash
    aggregate to user grain, then quintile scores (5 = best) via ntile
    with a fully tie-broken total order so bucket assignment is
    engine-identical. The ntile windows run over the USER-grain frame
    (cardinality |users|, not |events|) — the same accepted shape as
    customer_value_deciles; at billion-user scale swap ntile for
    precomputed percentile thresholds."""
    ev = read_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.lit("2025-01-01").cast("date"), F.max(F.col("ts").cast("date"))
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            money_sum(F.col("value")).alias("monetary"),
        )
    )
    return p.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(5)
        .over(Window.orderBy(F.desc("recency_days"), F.asc("user_id")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("frequency"), F.asc("user_id")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.asc("monetary"), F.asc("user_id")))
        .alias("m_score"),
    ).orderBy("user_id")


@register(
    "user_streaks",
    """
WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
g AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INT) AS anchor
  FROM d
),
s AS (SELECT user_id, anchor, COUNT(*) AS len FROM g GROUP BY 1, 2)
SELECT user_id,
       CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       COUNT(*) AS n_streaks
FROM s GROUP BY 1 ORDER BY user_id
""",
)
def q_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands idiom: day minus its per-user row_number is
    constant exactly along a run of consecutive days, so islands fall
    out of one user-keyed window plus two hash aggregates. Everything
    is partitioned by user_id; no global ordering anywhere."""
    ev = read_table(spark, sf_dir, "events")
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    g = d.withColumn("anchor", F.date_sub(F.col("day"), rn))
    s = g.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return (
        s.groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.max("len").cast("long").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .orderBy("user_id")
    )


@register(
    "time_weighted_value",
    """
WITH seq AS (
  SELECT user_id, value,
         CAST(floor(epoch(ts)) AS BIGINT) AS t0,
         CAST(floor(epoch(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT) AS t1
  FROM events
),
seg AS (SELECT user_id, value, t1 - t0 AS dur FROM seq WHERE t1 IS NOT NULL)
SELECT user_id,
       COUNT(*) AS n_segments,
       CAST(SUM(dur) AS BIGINT) AS total_sec,
       CAST(SUM(CAST(value AS DECIMAL(12,2)) * dur) AS DOUBLE)
             / NULLIF(CAST(SUM(dur) AS BIGINT), 0) AS twap_value
FROM seg GROUP BY 1 ORDER BY user_id
""",
)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (TWAP): each event's value
    is weighted by how long it was "current" (seconds until the user's
    next event; the open-ended last segment is excluded). One lead()
    window + one aggregate, both keyed by user. Durations are integer
    seconds (floored epochs in both engines); value×duration multiplies
    in exact decimal, one final double division left UNROUNDED (the
    stable_avg rule — identical exact operands, identical double)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "value",
        F.unix_timestamp("ts").alias("t0"),
        F.unix_timestamp(F.lead("ts", 1).over(w)).alias("t1"),
    )
    seg = seq.filter(F.col("t1").isNotNull()).select(
        "user_id", "value", (F.col("t1") - F.col("t0")).alias("dur")
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("dur").alias("total_sec"),
            (
                F.sum(F.col("value").cast("decimal(12,2)") * F.col("dur")).cast(
                    "double"
                )
                / F.nullif(F.sum("dur"), F.lit(0))
            ).alias("twap_value"),
        )
        .orderBy("user_id")
    )


_EWMA_ORACLE = (
    PANEL_CTE
    + """
, lagged AS (
  SELECT country, stock, ds, qty,
         LAG(qty, 1) OVER w AS l1, LAG(qty, 2) OVER w AS l2,
         LAG(qty, 3) OVER w AS l3, LAG(qty, 4) OVER w AS l4,
         LAG(qty, 5) OVER w AS l5, LAG(qty, 6) OVER w AS l6
  FROM panel
  WINDOW w AS (PARTITION BY country, stock ORDER BY ds)
)
SELECT country, stock, ds, qty,
       CASE WHEN {den} > 0 THEN CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE) END AS ewma_qty
FROM lagged
ORDER BY country, stock, ds
""".format(
        num=" + ".join(
            f"COALESCE(CAST(l{i} AS DECIMAL(20,6)) * CAST({0.5 ** i:.6f} AS DECIMAL(8,6)), CAST(0 AS DECIMAL(8,6)))"
            for i in range(1, 7)
        ),
        den=" + ".join(
            f"CASE WHEN l{i} IS NOT NULL THEN CAST({0.5 ** i:.6f} AS DECIMAL(8,6)) ELSE CAST(0 AS DECIMAL(8,6)) END"
            for i in range(1, 7)
        ),
    )
)


@register("ewma_baseline", _EWMA_ORACLE)
def q_ewma_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving-average baseline forecast
    (operators/windows.py::ewma_baseline): trailing geometric-decay
    mean over the previous 6 days per (country, stock) series,
    excluding today — the decay-weighted sibling of ma_baseline (W8).
    Dyadic weights (0.5^i) keep every product exact in decimal, so the
    baseline is bit-identical across engines; one exchange+sort shared
    across the lag family."""
    from sales_forecast_pyspark_spark.operators.windows import ewma_baseline

    panel = daily_panel(spark, sf_dir).select("country", "stock", "ds", "qty")
    return ewma_baseline(panel, PANEL_KEYS, "ds", "qty", window=6).orderBy(
        "country", "stock", "ds"
    )


@register(
    "bigram_surprisal",
    """
WITH tok AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i] || ' ' || toks[i + 1] AS b
  FROM (SELECT doc_id, toks, unnest(range(1, length(toks))) AS i
        FROM tok WHERE length(toks) >= 2)
),
uni AS (
  SELECT t, COUNT(*) AS c1
  FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY 1
),
v AS (SELECT COUNT(*) AS vsize FROM uni),
c2 AS (SELECT b, COUNT(*) AS c2 FROM bg GROUP BY 1),
s AS (
  SELECT bg.doc_id,
         ROUND(ln(CAST(uni.c1 + v.vsize AS DOUBLE) / CAST(c2.c2 + 1 AS DOUBLE)), 7) AS s
  FROM bg JOIN uni ON bg.w1 = uni.t JOIN c2 ON bg.b = c2.b CROSS JOIN v
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       ROUND(CAST(SUM(CAST(s AS DECIMAL(30,7))) AS DOUBLE) / COUNT(*), 4) AS avg_surprisal
FROM s GROUP BY 1 ORDER BY doc_id
""",
)
def q_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram surprisal per document (llmdata/text.py::
    bigram_surprisal): −mean ln p(w2|w1) with add-one smoothing — the
    second-order LM quality score that separates word salad (common
    tokens, improbable SEQUENCES) from merely-common vocabulary, which
    the unigram tier cannot. Bigrams are built in-row from the token
    array (no positional self-join); corpus counts are two hash
    aggregates + hash joins."""
    from sales_forecast_pyspark_spark.llmdata.text import bigram_surprisal

    docs = read_table(spark, sf_dir, "documents")
    return bigram_surprisal(docs, "doc_id", "text")


@register(
    "mutual_information",
    """
WITH e AS (SELECT event_type AS x, CAST(dayofweek(ts) + 1 AS INT) AS y FROM events),
xy AS (SELECT x, y, COUNT(*) AS nxy FROM e GROUP BY 1, 2),
mx AS (SELECT x, CAST(SUM(nxy) AS BIGINT) AS nx FROM xy GROUP BY 1),
my AS (SELECT y, CAST(SUM(nxy) AS BIGINT) AS ny FROM xy GROUP BY 1),
n AS (SELECT CAST(SUM(nxy) AS BIGINT) AS nn FROM xy),
t AS (
  SELECT xy.nxy,
         ROUND(ln((CAST(xy.nxy AS DOUBLE) * CAST(nn AS DOUBLE))
                  / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))), 7) AS term
  FROM xy JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n
)
SELECT CAST(SUM(nxy) AS BIGINT) AS n_events,
       COUNT(*) AS n_cells,
       ROUND(CAST(SUM(CAST(term AS DECIMAL(30,7)) * nxy) AS DOUBLE)
             / CAST(SUM(nxy) AS BIGINT), 4) AS mi_nats
FROM t
""",
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event_type and day-of-week
    (operators/quality.py::categorical_mutual_information) — the
    association/drift screen ("is behavior day-dependent?"). One
    data-sized hash aggregate to contingency cells; marginals, total,
    and the MI expectation all run on |X|·|Y| rows. Spark dayofweek is
    1=Sunday..7; the oracle adds 1 to DuckDB's 0-based value (module
    header convention)."""
    from sales_forecast_pyspark_spark.operators.quality import (
        categorical_mutual_information,
    )

    ev = read_table(spark, sf_dir, "events")
    return categorical_mutual_information(
        ev, F.col("event_type"), F.dayofweek("ts").cast("int")
    )


@register(
    "source_quality_report",
    """
WITH d AS (SELECT source, lang, n_chars, md5(text) AS fp FROM documents),
dup AS (SELECT fp, COUNT(*) AS c FROM d GROUP BY 1 HAVING COUNT(*) >= 2)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS share_en,
       CAST(SUM(CASE WHEN dup.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
FROM d LEFT JOIN dup USING (fp)
GROUP BY 1 ORDER BY 1
""",
)
def q_source_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health — the "domain mixer" report a
    pretraining pipeline reads before weighting sources: volume, size
    profile, language mix, and exact-duplicate share per source. One
    dedup aggregate on the md5 fingerprint (hash-keyed, the 100 TB
    dedup shape) left-joined back, one source-keyed rollup. Ratios are
    UNROUNDED quotients of engine-identical integers (stable_avg
    rule)."""
    docs = read_table(spark, sf_dir, "documents")
    d = docs.select(
        "source", "lang", "n_chars", F.md5("text").alias("fp")
    )
    dup = (
        d.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("fp", F.lit(1).alias("_dup"))
    )
    n = F.count(F.lit(1))
    return (
        d.join(dup, "fp", "left")
        .groupBy("source")
        .agg(
            n.alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / n).alias("avg_chars"),
            F.countDistinct("lang").alias("n_langs"),
            (
                F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
                / n
            ).alias("share_en"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).alias(
                "n_dup_docs"
            ),
        )
        .orderBy("source")
    )


@register(
    "surprisal_filter_sweep",
    """
WITH tok AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t
  FROM documents
),
freq AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM freq),
surp AS (
  SELECT doc_id,
         ROUND(ln(CAST(tot.total AS DOUBLE)) - ln(CAST(freq.cnt AS DOUBLE)), 7) AS s
  FROM tok JOIN freq USING (t) CROSS JOIN tot
),
d AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         ROUND(CAST(SUM(CAST(s AS DECIMAL(30,7))) AS DOUBLE) / COUNT(*), 4) AS avg_surprisal
  FROM surp GROUP BY doc_id
),
b AS (
  SELECT doc_id, n_tokens, avg_surprisal,
         CAST(NTILE(10) OVER (ORDER BY avg_surprisal, doc_id) AS INT) AS bin
  FROM d
)
SELECT bin, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       MIN(avg_surprisal) AS min_surprisal,
       MAX(avg_surprisal) AS max_surprisal
FROM b GROUP BY 1 ORDER BY 1
""",
)
def q_surprisal_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter threshold sensitivity: decile bins over the
    unigram-surprisal score with per-bin doc/token mass — the report
    that answers "how much of the corpus does a perplexity cut at X
    remove?" before committing a filter. Reuses unigram_surprisal
    (doc-grain), bins with a fully tie-broken ntile over the DOC-grain
    frame (same accepted shape as customer_value_deciles), then one
    10-row rollup."""
    from sales_forecast_pyspark_spark.llmdata.text import unigram_surprisal

    docs = read_table(spark, sf_dir, "documents")
    d = unigram_surprisal(docs, "doc_id", "text")
    b = d.select(
        "doc_id",
        "n_tokens",
        "avg_surprisal",
        F.ntile(10)
        .over(Window.orderBy(F.asc("avg_surprisal"), F.asc("doc_id")))
        .alias("bin"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("avg_surprisal").alias("min_surprisal"),
            F.max("avg_surprisal").alias("max_surprisal"),
        )
        .orderBy("bin")
    )


@register(
    "cusum_changepoints",
    PANEL_CTE
    + """
, c AS (
  SELECT country, stock,
         COUNT(*) OVER (PARTITION BY country, stock) AS n,
         COUNT(*) OVER (PARTITION BY country, stock)
           * SUM(CAST(qty AS DECIMAL(30,2)))
               OVER (PARTITION BY country, stock ORDER BY ds)
           - ROW_NUMBER() OVER (PARTITION BY country, stock ORDER BY ds)
           * SUM(CAST(qty AS DECIMAL(30,2))) OVER (PARTITION BY country, stock)
           AS cs
  FROM panel
)
SELECT country, stock,
       CAST(MAX(n) AS BIGINT) AS n_days,
       CAST(MAX(cs) AS DOUBLE) / MAX(n) AS max_cusum,
       CAST(MIN(cs) AS DOUBLE) / MAX(n) AS min_cusum
FROM c GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM level-shift screen: the running sum of
    deviations from the series mean — the classic change-point
    statistic (a sustained demand shift drives |CUSUM| to a large
    excursion; a stable series random-walks near zero). Output is each
    series' extreme excursions.

    Exactness trick: CUSUM_t = Σ_{i≤t}(qty_i − mean) needs the mean — a
    lossy double. Multiply through by n instead:
    n·CUSUM_t = n·prefix_t − t·S, ALL exact decimals (prefix_t = running
    qty sum, S = series total), and divide by n ONCE at the end — an
    unrounded quotient of engine-identical operands. n and S come from
    FULL-frame window aggregates over the same (series, ds) spec as the
    running sum, so the whole statistic is ONE exchange + sort + a
    single WindowExec — no per-series stats join (the r06 first cut
    paid a groupBy + shuffle join for them; measured ~25% of the
    query)."""
    panel = daily_panel(spark, sf_dir).select("country", "stock", "ds", "qty")
    w = Window.partitionBy("country", "stock").orderBy("ds")
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    dec = F.col("qty").cast("decimal(30,2)")
    n = F.count(F.lit(1)).over(full)
    s = F.sum(dec).over(full)
    prefix = F.sum(dec).over(run)
    rn = F.row_number().over(w)
    c = panel.select(
        "country",
        "stock",
        n.alias("n"),
        (n * prefix - rn * s).alias("cs"),
    )
    return (
        c.groupBy("country", "stock")
        .agg(
            F.max("n").cast("long").alias("n_days"),
            (F.max("cs").cast("double") / F.max("n")).alias("max_cusum"),
            (F.min("cs").cast("double") / F.max("n")).alias("min_cusum"),
        )
        .orderBy("country", "stock")
    )


@register(
    "seasonal_naive_mase",
    PANEL_CTE
    + """
, f AS (
  SELECT country, stock, ds, qty,
    COALESCE(
      AVG(qty) OVER (PARTITION BY country, stock ORDER BY ds ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING),
      LAG(qty, 1) OVER (PARTITION BY country, stock ORDER BY ds)) AS model_fc,
    LAG(qty, 7) OVER (PARTITION BY country, stock ORDER BY ds) AS naive_fc
  FROM panel
),
e AS (
  SELECT country, stock,
         CAST(ROUND(abs(qty - model_fc), 7) AS DECIMAL(30,7)) AS em,
         CAST(ROUND(abs(qty - naive_fc), 7) AS DECIMAL(30,7)) AS en
  FROM f WHERE model_fc IS NOT NULL AND naive_fc IS NOT NULL
)
SELECT country, stock, COUNT(*) AS n_eval,
       CAST(SUM(em) AS DOUBLE) / COUNT(*) AS mae_model,
       CAST(SUM(en) AS DOUBLE) / COUNT(*) AS mae_naive,
       CASE WHEN SUM(en) > 0
            THEN CAST(SUM(em) AS DOUBLE) / CAST(SUM(en) AS DOUBLE) END AS mase
FROM e GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (mean absolute scaled error) per series: the MA6 baseline's
    MAE scaled by the seasonal-naive (lag-7, same-weekday) forecast's
    MAE — the standard scale-free forecast-quality metric (<1 = beats
    the naive). Evaluated only on rows where BOTH forecasts exist.
    Per-row absolute errors are rounded at 7 then decimal-summed
    (doc_surprisal pattern) so series MAEs are partition-independent;
    the MASE ratio is an unrounded quotient of exact sums."""
    from sales_forecast_pyspark_spark.operators.windows import ma_baseline

    panel = daily_panel(spark, sf_dir).select("country", "stock", "ds", "qty")
    w = Window.partitionBy("country", "stock").orderBy("ds")
    f = ma_baseline(panel, PANEL_KEYS, "ds", "qty", out_col="model_fc").withColumn(
        "naive_fc", F.lag("qty", 7).over(w)
    )
    e = f.filter(
        F.col("model_fc").isNotNull() & F.col("naive_fc").isNotNull()
    ).select(
        "country",
        "stock",
        F.round(F.abs(F.col("qty") - F.col("model_fc")), 7)
        .cast("decimal(30,7)")
        .alias("em"),
        F.round(F.abs(F.col("qty") - F.col("naive_fc")), 7)
        .cast("decimal(30,7)")
        .alias("en"),
    )
    n = F.count(F.lit(1))
    return (
        e.groupBy("country", "stock")
        .agg(
            n.alias("n_eval"),
            (F.sum("em").cast("double") / n).alias("mae_model"),
            (F.sum("en").cast("double") / n).alias("mae_naive"),
            F.when(
                F.sum("en") > 0,
                F.sum("em").cast("double") / F.sum("en").cast("double"),
            ).alias("mase"),
        )
        .orderBy("country", "stock")
    )


@register(
    "interarrival_stats",
    """
WITH seq AS (
  SELECT event_type,
         CAST(floor(epoch(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) AS gap
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_gaps,
       CAST(SUM(gap) AS BIGINT) AS total_gap_sec,
       CAST(SUM(gap) AS DOUBLE) / COUNT(*) AS mean_gap_sec,
       quantile_cont(gap, 0.5) AS p50_gap,
       quantile_cont(gap, 0.9) AS p90_gap
FROM seq WHERE gap IS NOT NULL
GROUP BY 1 ORDER BY 1
""",
)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event waiting-time distribution per event type — the
    hazard/engagement diagnostic ("how long until this user acts
    again?") behind session-gap tuning and churn features. One lead()
    window keyed by user for the gaps (integer seconds, floored epochs
    in both engines), one hash aggregate per type with interpolated
    exact percentiles (Spark ``percentile`` == DuckDB ``quantile_cont``
    bit-for-bit, the event_value_profile precedent)."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        (
            F.unix_timestamp(F.lead("ts", 1).over(w)) - F.unix_timestamp("ts")
        ).alias("gap"),
    )
    n = F.count(F.lit(1))
    return (
        seq.filter(F.col("gap").isNotNull())
        .groupBy("event_type")
        .agg(
            n.alias("n_gaps"),
            F.sum("gap").alias("total_gap_sec"),
            (F.sum("gap").cast("double") / n).alias("mean_gap_sec"),
            *quantile_exprs("gap", [0.5, 0.9], prefix="p"),
        )
        .withColumnRenamed("p50", "p50_gap")
        .withColumnRenamed("p90", "p90_gap")
        .orderBy("event_type")
    )


@register(
    "order_cycle_time",
    """
SELECT o_orderpriority,
       COUNT(*) AS n_lines,
       CAST(SUM(CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT)) AS BIGINT) AS total_delay_days,
       CAST(SUM(CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT)) AS DOUBLE)
         / COUNT(*) AS mean_delay_days,
       CAST(MIN(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS INT) AS min_delay_days,
       CAST(MAX(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))) AS INT) AS max_delay_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
""",
)
def q_order_cycle_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship cycle time by order priority — the fulfillment SLA
    rollup, and the repo's representative FACT-FACT equi-join (lineitem
    ⋈ orders on the order key): both sides scale with SF, so the
    planner gets a genuine sort-merge/shuffle-join decision (dimension
    joins elsewhere broadcast). At 100 TB this is the join bucketing is
    for (both tables bucketed on the order key → zero exchanges).
    Day deltas are exact integers; the mean is an unrounded quotient."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    n = F.count(F.lit(1))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            n.alias("n_lines"),
            F.sum(delay.cast("long")).alias("total_delay_days"),
            (F.sum(delay.cast("long")).cast("double") / n).alias("mean_delay_days"),
            F.min(delay).alias("min_delay_days"),
            F.max(delay).alias("max_delay_days"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "value_histogram",
    """
SELECT event_type,
       CAST(FLOOR(value / 10) AS INT) AS bin,
       CAST(FLOOR(value / 10) * 10 AS DOUBLE) AS bin_lo,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3 ORDER BY 1, 2
""",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (bin width 10): the
    distribution primitive behind dashboards and drift monitors, as ONE
    hash aggregate — bins are computed row-side (identical double
    floor-divide in both engines), never via a sort or per-group
    buffering, so the plan is the same map-side-combined aggregate at
    any scale."""
    ev = read_table(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 10).cast("int")
    return (
        ev.groupBy(
            "event_type",
            bin_.alias("bin"),
            (bin_ * 10).cast("double").alias("bin_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value")).alias("total_value"),
        )
        .orderBy("event_type", "bin")
    )


_WD_SEASONALITY_ORACLE = (
    PANEL_CTE
    + """
, wd AS (
  SELECT country, stock, CAST(dayofweek(ds) + 1 AS INT) AS dow, qty FROM panel
),
piv AS (
  SELECT country, stock,
         COUNT(*) AS n,
         CAST(SUM(CAST(qty AS DECIMAL(15,2))) AS DOUBLE) AS s,
         CAST(SUM(CAST(qty AS DECIMAL(15,2)) * CAST(qty AS DECIMAL(15,2))) AS DOUBLE) AS q2,
         {cols}
  FROM wd GROUP BY 1, 2
)
SELECT country, stock, CAST(n AS BIGINT) AS n_days,
       CASE WHEN n * q2 - s * s > 0
            THEN (n * ({terms}) - s * s) / (n * q2 - s * s) END AS seasonal_strength
FROM piv ORDER BY country, stock
""".format(
        cols=",\n         ".join(
            f"CAST(SUM(CASE WHEN dow = {i} THEN CAST(qty AS DECIMAL(15,2)) END) AS DOUBLE) AS s{i},\n"
            f"         COUNT(CASE WHEN dow = {i} THEN 1 END) AS n{i}"
            for i in range(1, 8)
        ),
        terms=" + ".join(
            f"CASE WHEN n{i} > 0 THEN s{i} * s{i} / n{i} ELSE 0 END"
            for i in range(1, 8)
        ),
    )
)


@register("weekday_seasonality", _WD_SEASONALITY_ORACLE)
def q_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-seasonality strength per series: the share of qty
    variance explained by day-of-week means,
    (Σ_w S_w²/n_w − S²/n) / (Σ q² − S²/n) ∈ [0,1] — the diagnostic
    that says whether same-weekday lags (W3) carry signal for a series.
    One hash aggregate computes all sufficient statistics (total,
    sum-of-squares, and the 7 weekday sums/counts as conditional
    aggregates — no second pass, no join).

    Determinism: sums are exact decimals cast to (identical) doubles;
    the seven S_w²/n_w terms are combined by an EXPLICIT left-to-right
    ``+`` chain, not a SUM aggregate, so floating addition order is
    fixed by the expression tree and identical in both engines; the
    final division is a single unrounded quotient."""
    panel = daily_panel(spark, sf_dir).select("country", "stock", "ds", "qty")
    wd = panel.select(
        "country", "stock", F.dayofweek("ds").cast("int").alias("dow"), "qty"
    )
    qdec = F.col("qty").cast("decimal(15,2)")
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum(qdec).cast("double").alias("s"),
        F.sum(qdec * qdec).cast("double").alias("q2"),
    ]
    for i in range(1, 8):
        aggs.append(
            F.sum(F.when(F.col("dow") == i, qdec)).cast("double").alias(f"s{i}")
        )
        aggs.append(
            F.count(F.when(F.col("dow") == i, F.lit(1))).alias(f"n{i}")
        )
    piv = wd.groupBy("country", "stock").agg(*aggs)
    terms = None
    for i in range(1, 8):
        t = F.when(
            F.col(f"n{i}") > 0,
            F.col(f"s{i}") * F.col(f"s{i}") / F.col(f"n{i}"),
        ).otherwise(F.lit(0.0))
        terms = t if terms is None else terms + t
    denom = F.col("n") * F.col("q2") - F.col("s") * F.col("s")
    return piv.select(
        "country",
        "stock",
        F.col("n").cast("long").alias("n_days"),
        F.when(
            denom > 0,
            (F.col("n") * terms - F.col("s") * F.col("s")) / denom,
        ).alias("seasonal_strength"),
    ).orderBy("country", "stock")


@register(
    "top_session_paths",
    """
WITH g AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
  FROM events
),
s AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
  FROM g
),
p AS (
  SELECT user_id, sess,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM s GROUP BY 1, 2
)
SELECT path, COUNT(*) AS n_sessions
FROM p GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT 20
""",
)
def q_top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common within-session event-type paths (30-minute gap
    sessions): the funnel-mining primitive behind "what do users
    actually do?" dashboards. Gaps-and-islands sessionization (one
    user-keyed window family), then each session's path is serialized
    INSIDE the aggregate (sort_array over (ts, event_id, type) structs
    → array_join), so path order is pinned regardless of partitioning —
    the tie-break lesson from key_skew_profile applied at birth. Path
    cardinality is bounded by distinct behavior shapes, so the final
    count-and-top-20 is a small aggregate."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.col("ts").cast("long") - F.lag(F.col("ts")).over(w).cast("long")
    ) <= 1800
    g = ev.withColumn("brk", F.when(gap_ok, 0).otherwise(1))
    s = g.withColumn(
        "sess",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    p = (
        s.groupBy("user_id", "sess")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(20)
    )


@register(
    "ltv_cohort_curves",
    """
WITH p AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk, value
  FROM events WHERE event_type = 'purchase'
),
c AS (SELECT user_id, MIN(wk) AS cohort FROM p GROUP BY 1),
r AS (
  SELECT c.cohort,
         CAST(date_diff('day', c.cohort, p.wk) / 7 AS INT) AS age,
         p.value
  FROM p JOIN c USING (user_id)
),
g AS (
  SELECT cohort, age, COUNT(*) AS n_purchases,
         SUM(CAST(value AS DECIMAL(30,6))) AS rev
  FROM r GROUP BY 1, 2
)
SELECT cohort, age, n_purchases,
       CAST(ROUND(rev, 2) AS DOUBLE) AS revenue,
       CAST(ROUND(SUM(rev) OVER (PARTITION BY cohort ORDER BY age), 2) AS DOUBLE) AS cum_revenue
FROM g ORDER BY cohort, age
""",
)
def q_ltv_cohort_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: users grouped by first-purchase WEEK
    (Monday-truncated in both engines), revenue accumulated by
    weeks-since-cohort — the lifetime-value view the weekly retention
    matrix doesn't give. Purchase rollup to (cohort, age) grain first
    (data-sized aggregate), THEN the cumulative sum runs on the
    cohort-grain frame (weeks × cohorts rows — tiny), in exact decimal
    with a single decimal ROUND before the double cast."""
    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.date_trunc("week", "ts").cast("date").alias("wk"),
        "value",
    )
    c = p.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    r = p.join(c, "user_id").select(
        "cohort",
        (F.datediff(F.col("wk"), F.col("cohort")) / 7).cast("int").alias("age"),
        "value",
    )
    g = r.groupBy("cohort", "age").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(F.col("value").cast("decimal(30,6)")).alias("rev"),
    )
    cum = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return g.select(
        "cohort",
        "age",
        "n_purchases",
        F.round(F.col("rev"), 2).cast("double").alias("revenue"),
        F.round(F.sum("rev").over(cum), 2).cast("double").alias("cum_revenue"),
    ).orderBy("cohort", "age")


@register(
    "rolling_active_users",
    """
WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM ud),
wau AS (
  SELECT d.day AS day, COUNT(DISTINCT u.user_id) AS wau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
  GROUP BY 1
),
dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY 1)
SELECT dau.day AS day, dau.dau, wau.wau,
       CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
FROM dau JOIN wau USING (day) ORDER BY day
""",
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness per day. Windowed DISTINCT
    is the operation neither engine's window frames support (distinct
    state can't merge across frame slides); the scale-safe formulation
    dedups to (user, day) grain, then each user-day row contributes to
    the 7 target days it is visible from via a BOUNDED sequence-explode
    (fan-out exactly 7), and a plain distinct aggregate per target day
    finishes — shuffle-bounded, no range self-join on the fact, no
    per-day rescans. The oracle computes the same thing with the range
    join DuckDB can afford at test SF. stickiness = DAU/WAU, an
    unrounded quotient of exact counts."""
    ev = read_table(spark, sf_dir, "events")
    ud = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    contrib = ud.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("day_t"),
        "user_id",
    )
    wau = contrib.groupBy("day_t").agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return (
        dau.join(wau, dau.day == wau.day_t)
        .select(
            "day",
            "dau",
            "wau",
            (F.col("dau").cast("double") / F.col("wau")).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "next_error_asof",
    """
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
err AS (SELECT user_id, ts AS err_ts FROM events WHERE event_type = 'error'),
m AS (
  SELECT p.event_id, p.user_id, p.ts, MIN(err.err_ts) AS next_err_ts
  FROM p LEFT JOIN err
    ON err.user_id = p.user_id AND err.err_ts >= p.ts
  GROUP BY 1, 2, 3
)
SELECT event_id, user_id,
       CASE WHEN next_err_ts IS NOT NULL
             AND next_err_ts <= ts + INTERVAL 1 DAY
            THEN CAST(floor(epoch(next_err_ts)) - floor(epoch(ts)) AS BIGINT)
       END AS sec_to_error
FROM m ORDER BY event_id
""",
)
def q_next_error_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (operators/asof.py, direction='forward'):
    seconds from each purchase to the same user's NEXT error within one
    day — the time-to-failure / post-purchase-incident enrichment. Same
    union-then-window shape as the backward as-of (one shuffle + sort
    per key, O(1) running state), just descending time; the oracle is
    the MIN-over-range formulation DuckDB can afford at test SF."""
    from sales_forecast_pyspark_spark.operators.asof import asof_join

    ev = read_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("err_ts")
    )
    out = asof_join(
        p,
        err,
        on="user_id",
        left_time="ts",
        right_time="err_ts",
        value_cols=[],
        direction="forward",
        tolerance=F.expr("INTERVAL 1 DAY"),
        matched_time_col="next_err_ts",
    )
    return out.select(
        "event_id",
        "user_id",
        (
            F.unix_timestamp("next_err_ts") - F.unix_timestamp("ts")
        ).alias("sec_to_error"),
    ).orderBy("event_id")


@register(
    "stl_decompose_lite",
    PANEL_CTE
    + """
, t AS (
  SELECT country, stock, ds, qty,
         AVG(qty) OVER (PARTITION BY country, stock ORDER BY ds
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
         CAST(dayofweek(ds) + 1 AS INT) AS dow
  FROM panel
),
d AS (
  SELECT country, stock, ds, qty, trend, dow,
         CAST(ROUND(qty - trend, 7) AS DECIMAL(30,7)) AS det
  FROM t
),
s AS (
  SELECT country, stock, ds, qty, trend, det,
         CAST(SUM(det) OVER (PARTITION BY country, stock, dow) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY country, stock, dow) AS seasonal
  FROM d
)
SELECT country, stock, ds, qty, trend, seasonal,
       CAST(det AS DOUBLE) - seasonal AS residual
FROM s ORDER BY country, stock, ds
""",
)
def q_stl_decompose_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal decomposition (lite): qty = trend + weekday
    seasonal + residual per series. Trend is a centered 7-row moving
    average (exact: qty is integer-valued, so the frame sum is
    order-free); the detrended series is rounded at 7 and decimal-
    summed per (series, weekday) so the seasonal means are partition-
    order-independent (an UNORDERED full-partition AVG over raw doubles
    would be summation-order-dependent — the one place this query
    could silently diverge); residual closes the identity. Two window
    families (series-ordered, series×weekday), both key-partitioned."""
    panel = daily_panel(spark, sf_dir).select("country", "stock", "ds", "qty")
    w7 = (
        Window.partitionBy("country", "stock")
        .orderBy("ds")
        .rowsBetween(-3, 3)
    )
    t = panel.select(
        "country",
        "stock",
        "ds",
        "qty",
        F.avg("qty").over(w7).alias("trend"),
        F.dayofweek("ds").cast("int").alias("dow"),
    )
    d = t.withColumn(
        "det", F.round(F.col("qty") - F.col("trend"), 7).cast("decimal(30,7)")
    )
    wd = Window.partitionBy("country", "stock", "dow")
    s = d.withColumn(
        "seasonal",
        F.sum("det").over(wd).cast("double") / F.count(F.lit(1)).over(wd),
    )
    return s.select(
        "country",
        "stock",
        "ds",
        "qty",
        "trend",
        "seasonal",
        (F.col("det").cast("double") - F.col("seasonal")).alias("residual"),
    ).orderBy("country", "stock", "ds")


# ---------------------------------------------------------------------------
# Star-schema decision-support tier (r06): the canonical TPC-H query
# SHAPES (Q3/Q4/Q5/Q6/Q10/Q13/Q14/Q15/Q17/Q18/Q22) re-expressed on the
# driver's star schema. Each one exists for a distinct PLAN shape the
# registry didn't yet exercise: non-equi left-semi join (late orders),
# multi-dim snowflake join with a cross-dimension equality filter
# (regional supplier volume), pure scan-filter-agg pushdown (discount
# uplift), outer-join count histogram (order histogram), conditional
# aggregation share (promo share), scalar-max broadcast filter (top
# supplier), aggregate-then-rejoin threshold filter (small-order parts,
# big-ticket orders), and anti-join against a date-filtered subset under
# a scalar-average gate (dormant rich customers). All money arithmetic
# uses the exact-decimal helpers; quotients of identically-derived
# doubles are left unrounded (cross-engine-identical IEEE ops).
# ---------------------------------------------------------------------------


@register(
    "shipping_priority",
    """
SELECT l_orderkey,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customers x unshipped orders,
    top-10 by in-flight revenue. Both date filters and the segment
    filter push into the scans (lineitem prunes to post-cutoff ship
    dates BEFORE the join); the customer side joins on c_custkey after
    the filter so the shuffle ships the filtered minority. Top-k is a
    total order (revenue DESC, orderkey ASC) through TakeOrderedAndProject
    — no global sort materialization."""
    cutoff = "1998-06-01"
    cust = (
        read_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(money_sum(disc_price).alias("revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "late_order_priorities",
    """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS late_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY 1
ORDER BY 1
""",
)
def q_late_order_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one line shipped more than
    60 days after order date, counted by priority. The EXISTS compiles
    to a LEFT-SEMI shuffled hash join whose extra non-equi predicate
    (l_shipdate > o_orderdate + 60d) is evaluated as a join condition —
    the semi join ships (orderkey, orderdate) and lineitem's
    (orderkey, shipdate) only, never widens, and dedups by construction
    (no DISTINCT pass over matches). At 100 TB both sides partition on
    orderkey; AQE handles the residual skew."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("late_orders"))
        .orderBy("o_orderpriority")
    )


@register(
    "regional_supplier_volume",
    """
SELECT n_name AS nation,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
ORDER BY revenue DESC, nation
""",
)
def q_regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue per nation in one region.
    Snowflake join with a CROSS-dimension equality (c_nationkey =
    s_nationkey) applied as a post-join filter. nation+region and
    supplier are broadcast (bounded dims); the only shuffles are
    fact-side: orders⋈customer on custkey, then ⋈lineitem on orderkey.
    The region filter prunes nation rows BEFORE the broadcast, so
    non-ASIA suppliers drop at the build side."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    supp = (
        read_table(spark, sf_dir, "supplier")
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        orders.join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(money_sum(disc_price).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("nation"))
    )


@register(
    "discount_uplift_scan",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))), 2) AS DOUBLE) AS uplift,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q_discount_uplift_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue that would be reclaimed by dropping a
    discount band — the canonical scan-filter-aggregate. ALL four
    predicates (date range, discount band, quantity cap) push to the
    parquet scan as PushedFilters over row-group min/max stats; the agg
    is a single partial+final over 3 columns. The plan IS the I/O: at
    100 TB this reads only (shipdate, discount, quantity, extendedprice)
    column chunks whose stats overlap the band."""
    li = read_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("uplift"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "returned_revenue_top",
    """
SELECT c_custkey, c_name, n_name AS nation,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS returned_rev
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3
ORDER BY returned_rev DESC, c_custkey
LIMIT 20
""",
)
def q_returned_revenue_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue. The
    returnflag filter pushes to the lineitem scan (dictionary-encoded
    column -> row-group skipping); nation broadcasts; the two fact
    shuffles are orderkey then custkey. Top-k is TakeOrderedAndProject
    on (returned_rev DESC, custkey ASC) — total order, no global sort."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(money_sum(disc_price).alias("returned_rev"))
        .orderBy(F.col("returned_rev").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "customer_order_histogram",
    """
WITH per_cust AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
)
SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
FROM per_cust
GROUP BY 1
ORDER BY 1
""",
)
def q_customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    zero-order customers — the outer-join-then-double-aggregate. The
    left outer join keeps orderless customers (COUNT(o_orderkey) skips
    their NULLs -> bucket 0); first agg shuffles on custkey, the
    histogram re-agg is tiny (|distinct counts| rows). Q13's classic
    skew risk (one mega-customer) is bounded here because the first agg
    emits one row per customer regardless of order count."""
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("n_orders")
    )


@register(
    "promo_revenue_share",
    """
SELECT CAST(year(l_shipdate) AS INT) AS year, CAST(month(l_shipdate) AS INT) AS month,
       CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
                 ELSE CAST(0 AS DECIMAL(30,6)) END), 2) AS DOUBLE) AS promo_rev,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_rev,
       CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
                 ELSE CAST(0 AS DECIMAL(30,6)) END), 2) AS DOUBLE)
         / NULLIF(CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE), 0.0)
         AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly share of revenue from PROMO-type parts —
    conditional aggregation over a fact⋈dim join. part broadcasts (or
    shuffles on partkey at 100 TB — AQE picks); the CASE folds the
    promo/total split into ONE pass so the fact table is read once.
    The share divides the two exactly-rounded money doubles and is
    deliberately unrounded: both engines divide identical doubles, and
    the NULLIF guards empty months."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    dec6 = "decimal(30,6)"
    promo_amt = F.when(F.col("p_type") == "PROMO", disc_price.cast(dec6)).otherwise(
        F.lit(0).cast(dec6)
    )
    promo_rev = F.round(F.sum(promo_amt), 2).cast("double")
    total_rev = F.round(F.sum(disc_price.cast(dec6)), 2).cast("double")
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.year("l_shipdate").cast("int").alias("year"),
            F.month("l_shipdate").cast("int").alias("month"),
        )
        .agg(
            promo_rev.alias("promo_rev"),
            total_rev.alias("total_rev"),
            (promo_rev / F.nullif(total_rev, F.lit(0.0))).alias("promo_share"),
        )
        .orderBy("year", "month")
    )


@register(
    "top_supplier_period",
    """
WITH srev AS (
  SELECT l_suppkey AS sk,
         CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
  GROUP BY 1
)
SELECT s_suppkey, s_name, total_rev
FROM srev JOIN supplier ON s_suppkey = sk
WHERE total_rev = (SELECT MAX(total_rev) FROM srev)
ORDER BY s_suppkey
""",
)
def q_top_supplier_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with maximum half-year revenue. The
    scalar subquery becomes a 1-row MAX frame crossJoin(broadcast(...))
    against the per-supplier rollup — the same bounded-BNLJ idiom as
    doc_surprisal's corpus total (declared in test_plan_invariants).
    Ties keep ALL maximal suppliers in both engines (double equality on
    identically-derived rounded money). The revenue rollup shuffles once
    on suppkey; supplier joins after the max filter, so only winners
    ship."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    srev = li.groupBy(F.col("l_suppkey").alias("sk")).agg(
        money_sum(disc_price).alias("total_rev")
    )
    mx = srev.agg(F.max("total_rev").alias("_max_rev"))
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        srev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("_max_rev"))
        .join(supp, F.col("s_suppkey") == F.col("sk"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )


@register(
    "small_order_part_revenue",
    """
WITH pa AS (
  SELECT l_partkey AS pk,
         CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sq,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0 AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small
FROM lineitem JOIN pa ON l_partkey = pk
WHERE l_quantity < 0.2 * (sq / n)
""",
)
def q_small_order_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in below-average-quantity order
    lines — the aggregate-then-rejoin threshold filter. The per-part
    (sum_qty, count) rollup shuffles once on partkey and joins back to
    the fact on the same key (co-partitioned: AQE reuses the exchange).
    The 0.2*avg threshold is computed in DOUBLE on both engines from an
    exact decimal sum and an integer count — identical IEEE ops on
    identical inputs, so the row set matches bit-for-bit. avg_yearly is
    an unrounded quotient of an exact decimal sum (/7.0 scan-year
    normalizer, per the TPC-H definition)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(30,6)")).cast("double").alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        li.join(pa, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.2 * (F.col("sq") / F.col("n")))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).cast("double") / 7.0).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


# `big_ticket_orders` RETIRED from the registry in r13 per SCALING.md's
# ranked policy (slot spent on `minhash_store_lifecycle`, VERDICT r12
# ask #2). Its constituent shapes stay driver-pinned by siblings:
# the selective decimal-HAVING rollup feeding a fact join by
# `late_order_priorities`/`order_backlog_sweep`, the orders⋈customer
# dim join by `dormant_rich_customers`/`customer_order_histogram`, and
# the TakeOrderedAndProject top-k by `topk_products`. The builder and
# its oracle SQL stay below, UNREGISTERED: tests/test_oracle_queries.py
# ::test_retired_big_ticket_orders_still_matches_oracle keeps the full
# DuckDB comparison as pytest evidence, and bench.py keeps its bench
# row by referencing the builder directly (board comparability).
BIG_TICKET_ORDERS_ORACLE = """
WITH big AS (
  SELECT l_orderkey AS ok, CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS DECIMAL(30,6))) > 250
)
SELECT c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(30,6)), 2) AS DOUBLE) AS totalprice,
       sum_qty
FROM big
JOIN orders ON o_orderkey = ok
JOIN customer ON c_custkey = o_custkey
ORDER BY totalprice DESC, o_orderkey
LIMIT 100
"""


def q_big_ticket_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders (total quantity > 250) with
    their customers. The HAVING filter runs at the rollup BEFORE any
    dim join, so only qualifying orderkeys (a tiny fraction) enter the
    orders/customer joins — the selective-aggregate-first plan that
    makes Q18 tractable at scale. Exact decimal quantity sums make the
    threshold cut engine-identical; top-100 is a total order
    (totalprice DESC, orderkey ASC)."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,6)")).alias("_sq"))
        .filter(F.col("_sq") > 250)
        .select("ok", F.col("_sq").cast("double").alias("sum_qty"))
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("o_orderkey") == F.col("ok"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            F.round(F.col("o_totalprice").cast("decimal(30,6)"), 2)
            .cast("double")
            .alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@register(
    "dormant_rich_customers",
    """
WITH ab AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey AS nation, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(30,6))), 2) AS DOUBLE) AS total_bal
FROM customer CROSS JOIN ab
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY 1
ORDER BY 1
""",
)
def q_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with NO recent
    orders, rolled up by nation. Three bounded pieces: a 1-row
    average-balance frame crossJoin(broadcast(...)) gates the balance
    filter (declared BNLJ); the NOT EXISTS is a LEFT-ANTI join against
    the date-FILTERED orders projection (the filter pushes to the
    orders scan, so the anti side ships only recent custkeys); the
    final rollup groups by nationkey. The threshold double is
    sum-decimal/count on both engines — identical division, identical
    cut."""
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    ab = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    recent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum(F.col("c_acctbal")).alias("total_bal"),
        )
        .orderBy("nation")
    )


@register(
    "pagerank_parts",
    """
WITH items0 AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
),
items AS (
  -- mirror the operator's max_basket_size=1000 mega-basket guard
  SELECT b, i FROM (
    SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS k FROM items0
  ) WHERE k <= 1000
),
e AS (
  SELECT DISTINCT a.i AS x, b.i AS y
  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
),
dir AS (SELECT x AS u, y AS v FROM e UNION ALL SELECT y AS u, x AS v FROM e),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM dir GROUP BY 1),
nn AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (
  SELECT node, degree, CAST(1 AS DOUBLE) / nn.n AS r FROM deg CROSS JOIN nn
),
c1 AS (
  SELECT d.v AS node, SUM(CAST(ROUND(r.r / r.degree, 12) AS DECIMAL(38,12))) AS s
  FROM dir d JOIN r0 r ON r.node = d.u GROUP BY 1
),
r1 AS (
  SELECT g.node, g.degree,
         CAST(0.15 AS DOUBLE) / nn.n
           + CAST(0.85 AS DOUBLE) * CAST(COALESCE(c1.s, 0) AS DOUBLE) AS r
  FROM deg g CROSS JOIN nn LEFT JOIN c1 ON c1.node = g.node
),
c2 AS (
  SELECT d.v AS node, SUM(CAST(ROUND(r.r / r.degree, 12) AS DECIMAL(38,12))) AS s
  FROM dir d JOIN r1 r ON r.node = d.u GROUP BY 1
),
r2 AS (
  SELECT g.node, g.degree,
         CAST(0.15 AS DOUBLE) / nn.n
           + CAST(0.85 AS DOUBLE) * CAST(COALESCE(c2.s, 0) AS DOUBLE) AS r
  FROM deg g CROSS JOIN nn LEFT JOIN c2 ON c2.node = g.node
),
c3 AS (
  SELECT d.v AS node, SUM(CAST(ROUND(r.r / r.degree, 12) AS DECIMAL(38,12))) AS s
  FROM dir d JOIN r2 r ON r.node = d.u GROUP BY 1
),
r3 AS (
  SELECT g.node, g.degree,
         CAST(0.15 AS DOUBLE) / nn.n
           + CAST(0.85 AS DOUBLE) * CAST(COALESCE(c3.s, 0) AS DOUBLE) AS r
  FROM deg g CROSS JOIN nn LEFT JOIN c3 ON c3.node = g.node
)
SELECT node AS part, degree, r AS pagerank
FROM r3
ORDER BY part
""",
)
def q_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.py::pagerank) over the
    part co-purchase graph — the iterative-algorithm family (beyond the
    single-pass hash-min components in dedup_clusters). Edges come from
    the shared `copurchase_pairs` frontier (the same capped basket
    population as basket_lift and the exact plan `copurchase_triangles`
    consumes, so a session that persists the frontier pays the ~5s
    basket expansion once across the whole graph family); 3 synchronous
    power-iteration steps; the unrolled-CTE oracle proves every rank
    double bit-exact cross-engine (per-edge contributions rounded at 12
    and decimal-summed, so inbound summation order cannot leak). Per
    iteration: one src-keyed hash join + one dst-keyed aggregate —
    consecutive iterations re-shuffle on the same keys, so exchanges
    reuse; at 100 TB persist the edge frame and localCheckpoint ranks
    every few iterations (docstring of the operator)."""
    from sales_forecast_pyspark_spark.operators.graph import pagerank

    edges = copurchase_pairs(spark, sf_dir).select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    )
    pr = pagerank(edges, iterations=3, damping=0.85)
    return pr.select(
        F.col("node").alias("part"), "degree", "pagerank"
    ).orderBy("part")


@register(
    "curriculum_interleave",
    """
WITH w AS (
  SELECT doc_id, source,
         CASE WHEN CAST(regexp_extract(source, '[0-9]+') AS INT) % 4 = 0 THEN 4
              WHEN CAST(regexp_extract(source, '[0-9]+') AS INT) % 4 = 1 THEN 2
              ELSE 1 END AS weight
  FROM documents
),
seq AS (
  SELECT doc_id, source, weight,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS src_idx
  FROM w
)
SELECT CAST(ROW_NUMBER() OVER (
         ORDER BY CAST(src_idx AS DOUBLE) / weight, source, src_idx
       ) AS BIGINT) AS position,
       doc_id, source, weight, src_idx,
       CAST(src_idx AS DOUBLE) / weight AS vtime
FROM seq
ORDER BY position
""",
)
def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order construction: weighted round-robin
    interleave of sources at fixed mixing weights (stride scheduling —
    each source's i-th doc is emitted at virtual time i/weight, so a
    weight-4 source appears 4x as often as a weight-1 source in any
    window of the final order). This is the domain-mixing step of an
    LLM data pipeline (fixed-ratio source blending) made reproducible:
    per-source order is md5(doc_id) (same dyadic trick as
    weighted_doc_sample — engine-independent), and the global position
    is assigned by the DISTRIBUTED prefix-sum rank
    (operators/prefix.py::partitioned_cumsum of 1s over the total
    (vtime, source, src_idx) order) — the oracle's bare
    ROW_NUMBER() OVER (ORDER BY ...) is the single-reducer trap this
    avoids. Weights here derive from the source id (demo values 4/2/1);
    a real pipeline passes its mixing config."""
    from sales_forecast_pyspark_spark.operators.prefix import partitioned_cumsum

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    m = F.regexp_extract("source", "[0-9]+", 0).cast("int") % 4
    w = docs.withColumn(
        "weight", F.when(m == 0, 4).when(m == 1, 2).otherwise(1)
    )
    seq_w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    seq = w.withColumn("src_idx", F.row_number().over(seq_w).cast("bigint"))
    vt = (F.col("src_idx").cast("double") / F.col("weight")).alias("vtime")
    staged = seq.select("doc_id", "source", "weight", "src_idx", vt)
    ranked = partitioned_cumsum(
        staged,
        order_by=[F.col("vtime"), F.col("source"), F.col("src_idx")],
        value=F.lit(1),
        out_col="_pos",
        scale=0,
    )
    return ranked.select(
        F.col("_pos").cast("bigint").alias("position"),
        "doc_id",
        "source",
        "weight",
        "src_idx",
        "vtime",
    ).orderBy("position")


# `nation_trade_volume` RETIRED from the registry in r14 per SCALING.md's
# ranked policy (slot spent on `semantic_dedup_lifecycle`, VERDICT r13
# ask #3, which also buys the freshness-SLO slack of ask #1). Its
# constituent shapes stay driver-pinned by siblings: the dim-chain
# broadcast stack with a double-role nation dim by
# `regional_supplier_volume` (same fact shuffles, same aliased
# broadcasts), the decimal revenue rollup by `market_share_by_year` /
# `promo_revenue_share`, the post-join inequality filter by
# `market_share_by_year`'s year predicate class. Retirement keeps the
# big_ticket_orders contract: builder + oracle SQL stay below
# UNREGISTERED, tests/test_oracle_queries.py::
# test_retired_nation_trade_volume_still_matches_oracle keeps the full
# DuckDB comparison, and bench.py keeps its row (direct builder
# reference) so the r13→r14 board stays comparable.
NATION_TRADE_VOLUME_ORACLE = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS year,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE s_nationkey <> c_nationkey
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border trade volume per (supplier nation,
    customer nation, ship year). The nation dim joins TWICE under
    different roles — two broadcasts of the same bounded table, resolved
    by aliasing. The inequality (s_nationkey <> c_nationkey) is a
    post-join filter on two already-joined fact columns — cheap, never a
    join condition. Fact shuffles: orderkey then custkey; everything
    else broadcasts."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_cn_key"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("year"),
        )
        .agg(
            money_sum(disc_price).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "year")
    )


@register(
    "disjunctive_part_revenue",
    """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 5 AND 25 AND l_quantity BETWEEN 5 AND 40)
   OR (p_brand = 'Brand#9' AND p_size BETWEEN 10 AND 40 AND l_quantity BETWEEN 10 AND 50)
""",
)
def q_disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    BOTH join sides. The disjunction itself can only evaluate post-join,
    so the scale move is to push the per-side IMPLIED filters manually —
    part prunes to the three brands (and the size hull), lineitem to the
    quantity hull — before the join; Catalyst does not derive implied
    disjunction filters across tables on its own. The residual OR then
    runs on the (much smaller) joined stream. Implied filters are
    row-set-neutral (each is entailed by the full predicate), so the
    oracle needs none of them."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    # implied per-side filters (entailed by the disjunction below)
    li_pruned = li.filter((F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50))
    part_pruned = part.filter(
        F.col("p_brand").isin("Brand#13", "Brand#20", "Brand#9")
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= 40)
    )
    qty, size, brand = F.col("l_quantity"), F.col("p_size"), F.col("p_brand")
    disjunction = (
        ((brand == "Brand#13") & size.between(1, 10) & qty.between(1, 20))
        | ((brand == "Brand#20") & size.between(5, 25) & qty.between(5, 40))
        | ((brand == "Brand#9") & size.between(10, 40) & qty.between(10, 50))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li_pruned.join(
            F.broadcast(part_pruned), F.col("l_partkey") == F.col("p_partkey")
        )
        .filter(disjunction)
        .agg(
            money_sum(disc_price).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "waiting_suppliers",
    """
WITH sl AS (
  SELECT l_orderkey AS ok, l_suppkey AS sk,
         MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
),
po AS (
  SELECT ok, CAST(COUNT(*) AS BIGINT) AS n_supp, CAST(SUM(late) AS BIGINT) AS n_late
  FROM sl GROUP BY 1
)
SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM sl
JOIN po USING (ok)
JOIN supplier ON s_suppkey = sk
WHERE late = 1 AND n_supp > 1 AND n_late = 1
GROUP BY 1
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    finalized multi-supplier order. The textbook formulation is a
    correlated EXISTS + NOT EXISTS pair (two extra passes over
    lineitem); this is the scale-safe reformulation — one rollup to
    per-(order, supplier) lateness, one window-free per-order summary
    (n_supp, n_late), then the predicate late=1 AND n_supp>1 AND
    n_late=1 reproduces both quantifiers exactly: EXISTS(other
    supplier) == n_supp>1, NOT EXISTS(other late) == n_late=1 given
    this row is late. Both aggregates shuffle on orderkey (AQE reuses
    the exchange); supplier broadcasts onto the tiny filtered set."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late_flag = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
        F.lit(1),
    ).otherwise(F.lit(0))
    sl = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
        .agg(F.max(late_flag).alias("late"))
    )
    po = sl.groupBy("ok").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sl.join(po, "ok")
        .filter((F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("sk"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
    )


@register(
    "incremental_ingest_dedup",
    """
WITH seen AS (
  SELECT DISTINCT md5(substr(text, 1, 40)) AS fp
  FROM documents WHERE doc_id % 3 <> 0
),
batch AS (
  SELECT doc_id, source, md5(substr(text, 1, 40)) AS fp
  FROM documents WHERE doc_id % 3 = 0
)
SELECT b.doc_id, b.source, b.fp AS fingerprint
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.fp = b.fp)
ORDER BY b.doc_id
""",
)
def q_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: the steady-state form of corpus
    deduplication — a NEW batch is screened against the accumulated
    fingerprint table of everything already ingested (here simulated by
    a doc_id split; a real pipeline reads the fingerprint table it
    appended last run). The anti join ships only (fingerprint) pairs —
    at 100 TB the seen-side is a fingerprint-bucketed table, so the
    anti join is bucket-local, and the surviving batch plus its
    fingerprints append back in the same pass. Fingerprint here is the
    md5 of the 40-char head (the template/boilerplate lens — catches
    shared-head near-dups that whole-text hashing misses; whole-text
    md5 is `dedup_exact`'s job)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    fp = F.md5(F.substring("text", 1, 40))
    seen = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .select(fp.alias("fp"))
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "source", fp.alias("fingerprint")
    )
    return (
        batch.join(seen, batch.fingerprint == seen.fp, "left_anti")
        .select("doc_id", "source", "fingerprint")
        .orderBy("doc_id")
    )


@register(
    "cheapest_supplier_per_part",
    """
WITH up AS (
  SELECT l_partkey AS pk, l_suppkey AS sk, l_extendedprice / l_quantity AS unit_price
  FROM lineitem WHERE l_quantity > 0
),
m AS (SELECT pk, MIN(unit_price) AS min_price FROM up GROUP BY 1)
SELECT DISTINCT up.pk AS part, up.sk AS supplier, s_name,
       up.unit_price AS unit_price
FROM up
JOIN m ON m.pk = up.pk AND up.unit_price = m.min_price
JOIN supplier ON s_suppkey = up.sk
ORDER BY part, supplier
LIMIT 200
""",
)
def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the supplier(s) achieving the minimum effective
    unit price per part — per-group argmin via MIN-then-rejoin (two
    partkey-keyed aggregates + one equality join back) instead of a
    row_number window. The window form (grouped_top_k) sorts every
    group; the min-rejoin form only aggregates — the better plan when
    groups are huge and only extrema survive. Ties keep ALL minimal
    suppliers in both engines (equality on identically-computed double
    quotients). DISTINCT dedups multiple lines from the same supplier
    at the same price."""
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    up = li.select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    m = up.groupBy(F.col("pk").alias("_mpk")).agg(
        F.min("unit_price").alias("min_price")
    )
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        up.join(
            m,
            (F.col("pk") == F.col("_mpk"))
            & (F.col("unit_price") == F.col("min_price")),
        )
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("sk"))
        .select(
            F.col("pk").alias("part"),
            F.col("sk").alias("supplier"),
            "s_name",
            "unit_price",
        )
        .distinct()
        .orderBy("part", "supplier")
        .limit(200)
    )


@register(
    "market_share_by_year",
    """
SELECT CAST(year(o_orderdate) AS INT) AS year,
       CAST(ROUND(SUM(CASE WHEN sn.n_name = 'NATION_12'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
                 ELSE CAST(0 AS DECIMAL(30,6)) END), 2) AS DOUBLE) AS nation_rev,
       CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE) AS market_rev,
       CAST(ROUND(SUM(CASE WHEN sn.n_name = 'NATION_12'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
                 ELSE CAST(0 AS DECIMAL(30,6)) END), 2) AS DOUBLE)
         / NULLIF(CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))), 2) AS DOUBLE), 0.0)
         AS mkt_share
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation cn ON cn.n_nationkey = c_nationkey
JOIN region ON r_regionkey = cn.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
WHERE r_name = 'ASIA'
GROUP BY 1
ORDER BY 1
""",
)
def q_market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of a regional market
    per year. The customer-side nation+region restricts the MARKET
    (which orders count); the supplier-side nation tags each line's
    origin; the share folds into one conditional aggregation pass —
    market and nation revenue from a single scan, one final unrounded
    double division. nation joins twice under different roles (cust
    filter vs supp tag), both broadcast."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_cust_nations = nation.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("_acn"))
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    sn = nation.select(
        F.col("n_nationkey").alias("_snk"), F.col("n_name").alias("_sn_name")
    )
    dec6 = "decimal(30,6)"
    disc_price = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec6)
    nation_amt = F.when(F.col("_sn_name") == "NATION_12", disc_price).otherwise(
        F.lit(0).cast(dec6)
    )
    nation_rev = F.round(F.sum(nation_amt), 2).cast("double")
    market_rev = F.round(F.sum(disc_price), 2).cast("double")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(asia_cust_nations), F.col("c_nationkey") == F.col("_acn")
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("_snk"))
        .groupBy(F.year("o_orderdate").cast("int").alias("year"))
        .agg(
            nation_rev.alias("nation_rev"),
            market_rev.alias("market_rev"),
            (nation_rev / F.nullif(market_rev, F.lit(0.0))).alias("mkt_share"),
        )
        .orderBy("year")
    )


@register(
    "product_profit_rollup",
    """
SELECT sn.n_name AS nation, CAST(year(o_orderdate) AS INT) AS year,
       CAST(ROUND(SUM(
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))
         - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(10,2)) * CAST(0.6 AS DECIMAL(2,1))
       ), 2) AS DOUBLE) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation sn ON sn.n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY 1, 2
""",
)
def q_product_profit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year for a
    name-matched product family. The LIKE filter prunes part BEFORE its
    broadcast; profit = discounted revenue minus a 60%%-of-retail cost
    proxy (the schema carries no supplycost), computed entirely in
    DECIMAL — the (12,2)x(10,2)x(2,1) product is exact, so the per-line
    profit and its sum are bit-identical cross-engine (a double 0.6
    multiply would land on representational ties)."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    part = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("_nk"), F.col("n_name").alias("nation")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(30,6)"
    )
    cost = (
        F.col("p_retailprice").cast("decimal(12,2)")
        * F.col("l_quantity").cast("decimal(10,2)")
        * F.lit("0.6").cast("decimal(2,1)")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("_nk"))
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("year"))
        .agg(F.round(F.sum(revenue - cost), 2).cast("double").alias("profit"))
        .orderBy("nation", "year")
    )


@register(
    "supplier_diversity_by_part_attrs",
    """
SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part
JOIN lineitem ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 200
""",
)
def q_supplier_diversity_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct (non-excluded) suppliers serve
    each part-attribute bucket. The NOT IN subquery compiles to a
    LEFT-ANTI join against the tiny filtered supplier projection (the
    exclusion list ships only keys); COUNT(DISTINCT) runs as Spark's
    two-phase expand-aggregate, shuffling on the (brand, type, size)
    grain. Ordered by diversity desc with full-key tie-break — total
    order, reproducible LIMIT."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#1")
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excluded = (
        read_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(excluded, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
        .limit(200)
    )


@register(
    "scd2_merge_history",
    """
SELECT event_id, user_id, event_type,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
       strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
ORDER BY user_id, valid_from, event_id
""",
)
def q_scd2_merge_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD-2 MERGE (operators/rowops.py::scd2_apply_changes)
    proven equal to the one-shot rebuild: the changelog is split (3/4
    base, 1/4 interleaved-in-time batch — overwhelmingly the
    late-arrival path), the base is built with scd2_intervals, the
    batch folded in incrementally, and the ORACLE is the full rebuild
    over ALL events — so the hash-match is a cross-engine proof that
    the merge path reproduces batch semantics, late versions included.
    Work is proportional to touched keys: untouched history passes
    through a left-anti join, touched keys' timelines re-derive (one
    window over their rows only)."""
    from sales_forecast_pyspark_spark.operators.rowops import (
        scd2_apply_changes,
        scd2_intervals,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    first = ev.filter(F.col("event_id") % 4 != 0)
    batch = ev.filter(F.col("event_id") % 4 == 0)
    base = scd2_intervals(first, ["user_id"], ["ts", "event_id"])
    merged = scd2_apply_changes(base, batch, ["user_id"], ["ts", "event_id"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return merged.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "is_current",
    ).orderBy("user_id", "valid_from", "event_id")


@register(
    "lineitem_drift_report",
    """
WITH base AS (SELECT * FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'),
cur AS (SELECT * FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
bs AS (
  SELECT col AS "column", nn, s, n FROM (
    SELECT COUNT(*) AS n,
           COUNT(l_quantity) AS nn_q, CAST(SUM(CAST(ROUND(l_quantity,7) AS DECIMAL(30,7))) AS DOUBLE) AS s_q,
           COUNT(l_extendedprice) AS nn_p, CAST(SUM(CAST(ROUND(l_extendedprice,7) AS DECIMAL(30,7))) AS DOUBLE) AS s_p,
           COUNT(l_discount) AS nn_d, CAST(SUM(CAST(ROUND(l_discount,7) AS DECIMAL(30,7))) AS DOUBLE) AS s_d
    FROM base
  ), (VALUES ('l_quantity'), ('l_extendedprice'), ('l_discount')) v(col),
  LATERAL (SELECT CASE col WHEN 'l_quantity' THEN nn_q WHEN 'l_extendedprice' THEN nn_p ELSE nn_d END AS nn,
                  CASE col WHEN 'l_quantity' THEN s_q WHEN 'l_extendedprice' THEN s_p ELSE s_d END AS s)
),
cs AS (
  SELECT col AS "column", nn, s, n FROM (
    SELECT COUNT(*) AS n,
           COUNT(l_quantity) AS nn_q, CAST(SUM(CAST(ROUND(l_quantity,7) AS DECIMAL(30,7))) AS DOUBLE) AS s_q,
           COUNT(l_extendedprice) AS nn_p, CAST(SUM(CAST(ROUND(l_extendedprice,7) AS DECIMAL(30,7))) AS DOUBLE) AS s_p,
           COUNT(l_discount) AS nn_d, CAST(SUM(CAST(ROUND(l_discount,7) AS DECIMAL(30,7))) AS DOUBLE) AS s_d
    FROM cur
  ), (VALUES ('l_quantity'), ('l_extendedprice'), ('l_discount')) v(col),
  LATERAL (SELECT CASE col WHEN 'l_quantity' THEN nn_q WHEN 'l_extendedprice' THEN nn_p ELSE nn_d END AS nn,
                  CASE col WHEN 'l_quantity' THEN s_q WHEN 'l_extendedprice' THEN s_p ELSE s_d END AS s)
)
SELECT bs."column",
       1.0 - bs.nn / bs.n AS null_rate_base,
       1.0 - cs.nn / cs.n AS null_rate_cur,
       bs.s / NULLIF(bs.nn, 0) AS mean_base,
       cs.s / NULLIF(cs.nn, 0) AS mean_cur,
       cs.s / NULLIF(cs.nn, 0) - bs.s / NULLIF(bs.nn, 0) AS mean_shift
FROM bs JOIN cs USING ("column")
ORDER BY bs."column"
""",
)
def q_lineitem_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift screen (operators/quality.py::
    numeric_drift_report): pre-1998 vs 1998+ lineitem compared on
    null rate and mean for three monitored numeric columns. One wide
    sufficient-statistic aggregate per side (all columns in one pass,
    in-row stack unpivot), broadcast-joined on column name — the
    publish-gate data-contract check, not a diagnostic scan."""
    from sales_forecast_pyspark_spark.operators.quality import numeric_drift_report

    li = read_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    return numeric_drift_report(
        li.filter(F.col("l_shipdate") < cutoff),
        li.filter(F.col("l_shipdate") >= cutoff),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )


@register(
    "touch_attribution",
    """
WITH seq AS (
  SELECT event_type, value,
         epoch_us(ts) AS us,
         last_value(CASE WHEN event_type IN ('view','click','signup')
                         THEN event_type END IGNORE NULLS) OVER w AS touch_type,
         last_value(CASE WHEN event_type IN ('view','click','signup')
                         THEN epoch_us(ts) END IGNORE NULLS) OVER w AS touch_us
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT COALESCE(touch_type, 'none') AS channel,
       COUNT(*) AS conversions,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE)
         AS attributed_revenue,
       ROUND(CAST(SUM(us - touch_us) AS DOUBLE)
             / CAST(COUNT(us - touch_us) AS DOUBLE) / 86400e6, 4)
         AS avg_days_to_convert
FROM seq
WHERE event_type = 'purchase'
GROUP BY 1 ORDER BY 1
""",
)
def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (operators/windows.py::touch_attribution):
    each purchase's value credited to the user's most recent prior
    view/click/signup via one ignore-nulls last() window — single
    exchange+sort, no conversions-to-touches self-join — then one hash
    aggregate per channel with exact-decimal revenue and microsecond-
    exact mean latency."""
    from sales_forecast_pyspark_spark.operators.windows import touch_attribution

    ev = read_table(spark, sf_dir, "events")
    return touch_attribution(ev)


@register(
    "country_trend_ols",
    PANEL_CTE
    + """
, series AS (
  SELECT country,
         date_diff('day', DATE '1992-01-01', ds) AS x,
         CAST(SUM(CAST(qty AS BIGINT)) AS BIGINT) AS y
  FROM panel GROUP BY country, ds
),
stats AS (
  SELECT country, COUNT(*) AS n_obs,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM series GROUP BY country
)
SELECT country, n_obs,
       ROUND(CAST(n_obs * sxy - sx * sy AS DOUBLE)
             / NULLIF(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0), 6) AS slope,
       ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
             / NULLIF(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0), 6) AS intercept
FROM stats ORDER BY country
""",
)
def q_country_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-country demand-trend line (operators/aggregates.py::
    ols_trend): the daily country series fit with closed-form OLS from
    ONE pass of exact integer sufficient statistics — no per-series
    MLlib fits, no driver loop; a billion series would cost the same
    two hash aggregates. Day index is anchored at 1992-01-01; qty sums
    are exact-integer-valued so every sum is a lossless long."""
    from sales_forecast_pyspark_spark.operators.aggregates import ols_trend
    from sales_forecast_pyspark_spark.plans.panel import daily_panel

    series = (
        daily_panel(spark, sf_dir)
        .groupBy("country", "ds")
        .agg(F.sum(F.col("qty").cast("long")).alias("y"))
        .select(
            "country",
            F.datediff(F.col("ds"), F.lit("1992-01-01").cast("date")).alias("x"),
            "y",
        )
    )
    return ols_trend(series, ["country"], "x", "y")


@register(
    "ols_trend_exactness_audit",
    PANEL_CTE
    + """
, series AS (
  SELECT country,
         date_diff('day', DATE '1992-01-01', ds) AS x,
         CAST(SUM(CAST(qty AS BIGINT)) AS BIGINT) AS y0
  FROM panel GROUP BY country, ds
),
poisoned AS (
  SELECT country, x,
         CASE WHEN TRY_CAST(substr(country, -1, 1) AS INT) % 2 = 0 AND x % 5 = 0
              THEN NULL ELSE y0 END AS y
  FROM series
),
stats AS (
  SELECT country, COUNT(*) AS n_obs,
         COUNT(CASE WHEN x IS NOT NULL AND y IS NOT NULL THEN 1 END) AS n_exact,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS sxx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(CAST(x AS BIGINT) * y) AS BIGINT) AS sxy
  FROM poisoned GROUP BY country
),
gated AS (
  SELECT country, n_obs,
         CASE WHEN n_exact = n_obs THEN
           ROUND(CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / NULLIF(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0), 6)
         END AS slope,
         CASE WHEN n_exact = n_obs THEN
           ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / NULLIF(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0), 6)
         END AS intercept
  FROM stats
)
SELECT country, n_obs, slope, intercept, slope IS NULL AS audit_fired
FROM gated ORDER BY country
""",
)
def q_ols_trend_exactness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible exercise of ``ols_trend``'s exactness audit
    (VERDICT r08 #3: the r08 gate was pytest-only). The country daily
    series is deterministically POISONED — ``y`` is nulled on every
    5th day index for countries whose last digit is even — so the audit's
    incomplete-tuple gate (``_n_exact != n_obs``) must NULL exactly
    those groups' slope/intercept while the clean groups still fit the
    same line ``country_trend_ols`` publishes. ``audit_fired`` makes
    the gate's verdict a visible boolean column in the driver record,
    and the DuckDB oracle recomputes the SAME completeness gate over
    the SAME poisoned series, so a silently-partial F.sum (the failure
    the audit exists to catch) would hash-mismatch here.

    Why the NULL-INPUT branch and not a literal decimal(38,0)
    overflow: the driver's vanilla session runs Spark 4 ANSI mode,
    where the overflow branch is loud by construction (the cast
    ERRORS the job — tests/test_aggregates.py pins both modes); the
    null-input branch drives the identical ``_n_exact`` gate and runs
    identically under ANSI and non-ANSI."""
    from sales_forecast_pyspark_spark.operators.aggregates import ols_trend
    from sales_forecast_pyspark_spark.plans.panel import daily_panel

    series = (
        daily_panel(spark, sf_dir)
        .groupBy("country", "ds")
        .agg(F.sum(F.col("qty").cast("long")).alias("y0"))
        .select(
            "country",
            F.datediff(F.col("ds"), F.lit("1992-01-01").cast("date")).alias("x"),
            "y0",
        )
    )
    poisoned = series.select(
        "country",
        "x",
        F.when(
            # try_cast: a non-digit-suffixed country is simply never
            # poisoned (NULL predicate) instead of erroring under ANSI
            (F.expr("try_cast(substring(country, -1, 1) as int)") % 2 == 0)
            & (F.col("x") % 5 == 0),
            F.lit(None).cast("long"),
        )
        .otherwise(F.col("y0"))
        .alias("y"),
    )
    out = ols_trend(poisoned, ["country"], "x", "y")
    return out.select(
        "country",
        "n_obs",
        "slope",
        "intercept",
        F.col("slope").isNull().alias("audit_fired"),
    ).orderBy("country")


@register(
    "user_daily_interp",
    """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS ds,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS day_value
  FROM events GROUP BY 1, 2
),
cal AS (
  SELECT user_id, CAST(unnest(generate_series(MIN(ds), MAX(ds), INTERVAL 1 DAY)) AS DATE) AS ds
  FROM daily GROUP BY user_id
),
j AS (
  SELECT c.user_id, c.ds, d.day_value
  FROM cal c LEFT JOIN daily d USING (user_id, ds)
),
st AS (
  SELECT user_id, ds, day_value,
         last_value(day_value IGNORE NULLS) OVER wb AS pv,
         last_value(CASE WHEN day_value IS NOT NULL THEN ds END IGNORE NULLS) OVER wb AS pd,
         first_value(day_value IGNORE NULLS) OVER wf AS nv,
         first_value(CASE WHEN day_value IS NOT NULL THEN ds END IGNORE NULLS) OVER wf AS nd
  FROM j
  WINDOW wb AS (PARTITION BY user_id ORDER BY ds
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY user_id ORDER BY ds
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, ds, day_value,
       CASE WHEN day_value IS NOT NULL THEN day_value
            ELSE ROUND(pv + (nv - pv) *
                   (CAST(date_diff('day', pd, ds) AS DOUBLE)
                    / CAST(date_diff('day', pd, nd) AS DOUBLE)), 6)
       END AS interp_value
FROM st ORDER BY user_id, ds
""",
)
def q_user_daily_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify + LINEAR interpolation (operators/densify.py::
    interp_fill): the continuous-signal twin of user_daily_locf — gap
    days get prev + (next−prev)·gap_frac from the nearest observations
    on each side, computed by two ignore-nulls windows batched into one
    WindowExec over the same single exchange+sort LOCF pays. Gap
    fractions are quotients of exact day counts, so the oracle matches
    bit-for-bit."""
    from sales_forecast_pyspark_spark.operators.densify import (
        densify_series,
        interp_fill,
    )

    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.col("ts").cast("date").alias("ds")).agg(
        money_sum(F.col("value")).alias("day_value")
    )
    dense = densify_series(daily, ["user_id"], "ds")
    return (
        interp_fill(dense, ["user_id"], "day_value")
        .select(
            "user_id",
            "ds",
            "day_value",
            F.col("day_value_interp").alias("interp_value"),
        )
        .orderBy("user_id", "ds")
    )


@register(
    "order_backlog_sweep",
    """
WITH comp AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od,
         MAX(CAST(l_shipdate AS DATE)) AS cd
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
delta AS (
  SELECT od AS boundary, 1 AS d FROM comp
  UNION ALL
  SELECT cd, -1 FROM comp
),
daily AS (
  SELECT boundary, CAST(SUM(d) AS BIGINT) AS net FROM delta GROUP BY 1
)
SELECT boundary, net,
       CAST(SUM(net) OVER (ORDER BY boundary
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS open_orders
FROM daily ORDER BY boundary
""",
)
def q_order_backlog_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-in-flight per day (operators/interval.py::
    concurrency_profile): each order is open from o_orderdate until its
    last line ships; the backlog series comes from a sweep line (+1/-1
    deltas, one aggregate, distributed prefix sum) — not a day×order
    range join, not a per-order date explode. The oracle can afford a
    plain global window at test SF; the engine pays the two-phase
    range-partitioned scan that holds at 100 TB."""
    from sales_forecast_pyspark_spark.operators.interval import (
        concurrency_profile,
    )

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    comp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("cd"))
    )
    return concurrency_profile(comp, "od", "cd", out_col="open_orders")


@register(
    "customer_snapshot_reconcile",
    """
WITH y95 AS (
  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
),
y96 AS (
  SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE) AS revenue
  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
),
j AS (
  SELECT CASE WHEN y95.k IS NULL THEN 'added'
              WHEN y96.k IS NULL THEN 'removed'
              WHEN y95.n_orders IS DISTINCT FROM y96.n_orders
                   OR y95.revenue IS DISTINCT FROM y96.revenue THEN 'changed'
              ELSE 'same' END AS status,
         COALESCE(y96.revenue, 0) - COALESCE(y95.revenue, 0) AS rd
  FROM y95 FULL OUTER JOIN y96 ON y95.k = y96.k
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CAST(rd AS DECIMAL(30,2))) AS DOUBLE) AS revenue_delta
FROM j GROUP BY 1 ORDER BY 1
""",
)
def q_customer_snapshot_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level snapshot reconciliation (operators/quality.py::
    snapshot_reconcile): per-customer 1995 vs 1996 order summaries
    full-outer-joined on the customer key and classified
    added/removed/changed/same with the exact net revenue delta — the
    WHICH-keys complement to lineitem_drift_report's WHETHER-it-moved
    column stats. Null-safe equality keeps null-vs-value changes
    visible; the join reuses the snapshots' own grouping partitioning."""
    from sales_forecast_pyspark_spark.operators.quality import (
        snapshot_reconcile,
    )

    orders = read_table(spark, sf_dir, "orders")

    def year_summary(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .groupBy(F.col("o_custkey").alias("k"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                money_sum(F.col("o_totalprice")).alias("revenue"),
            )
        )

    return snapshot_reconcile(
        year_summary(1995),
        year_summary(1996),
        ["k"],
        ["n_orders", "revenue"],
        delta_col="revenue",
    )


@register(
    "repeat_buyer_venn",
    """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
seg AS (
  SELECT 'both' AS segment, CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
  UNION ALL
  SELECT 'only_1995', CAST(COUNT(*) AS BIGINT)
  FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
  UNION ALL
  SELECT 'only_1996', CAST(COUNT(*) AS BIGINT)
  FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)
)
SELECT segment, n_keys FROM seg ORDER BY segment
""",
)
def q_repeat_buyer_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT/EXCEPT coverage (operators/setops.py::
    cohort_set_summary, SURVEY §7 step 4): the 1995/1996 buyer Venn —
    repeat buyers, churned, and newly acquired — expressed with the
    stock set operators, which Catalyst lowers to the same
    hash-partitioned semi/anti aggregates a hand-written join would
    use."""
    from sales_forecast_pyspark_spark.operators.setops import (
        cohort_set_summary,
    )

    orders = read_table(spark, sf_dir, "orders")

    def buyers(y: int) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select("o_custkey")
            .distinct()
        )

    return cohort_set_summary(
        buyers(1995), buyers(1996), tags=("both", "only_1995", "only_1996")
    )


@register("rolling_wau_hll")  # rows-only: DataSketches HLL has no DuckDB twin
def q_rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier rolling WAU (operators/sketches.py::
    hll_rolling_distinct): one HLL sketch per day, unioned over a
    trailing 7-CALENDAR-DAY range frame — the same window the exact
    explode audit below measures, so rel_err is pure sketch error, not
    window-semantics drift on gapped days. Raw events touched once,
    per-day slide cost independent of user cardinality (the exact
    formulation in rolling_active_users shuffles |user-days|×7
    contribution rows; at 100 TB the sketch path wins outright). The
    exact WAU rides along so every registered row is self-auditing;
    error bounds are pinned in tests/test_sketches.py."""
    from sales_forecast_pyspark_spark.operators.sketches import (
        hll_rolling_distinct,
    )

    ev = read_table(spark, sf_dir, "events")
    daily = ev.select(F.col("ts").cast("date").alias("day"), "user_id")
    est = hll_rolling_distinct(daily, "day", "user_id", frame_rows=6)
    ud = daily.distinct()
    exact = (
        ud.select(
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("day_t"),
            "user_id",
        )
        .groupBy("day_t")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
    )
    return (
        est.join(exact, est.day == exact.day_t)
        .select(
            "day",
            F.col("n_distinct_est").alias("wau_hll"),
            "wau_exact",
            F.round(
                F.abs(F.col("n_distinct_est") - F.col("wau_exact"))
                / F.col("wau_exact"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Driver check-budget ordering. The per-round correctness sweep verifies
# registry entries in dict order and stops after a fixed budget (~50 of
# 89 in round 4), so iteration order IS the verification schedule. The
# rotation is DERIVED, not hand-sorted: scripts/gen_check_priority.py
# computes it from the committed CORRECTNESS_r*.json rounds (latest-check
# failures first, never-checked next, then least-recently-checked;
# oracle-backed before rows-only within a tier) and writes
# plans/check_priority.py; tests/test_check_priority.py fails if that
# module is stale. Regenerate after each round lands or after
# registering a query.
# ---------------------------------------------------------------------------

# registration order (pre-rotation) — the derivation's stable tie-break
REGISTRATION_ORDER = tuple(QUERIES)

try:
    from sales_forecast_pyspark_spark.plans.check_priority import (
        CHECK_PRIORITY as _CHECK_PRIORITY,
    )
except ImportError:  # first generation bootstrap
    _CHECK_PRIORITY = list(QUERIES)


def _apply_check_priority() -> None:
    # A rotation name absent from the registry is a RETIRED query
    # (SCALING.md retirement policy — the slot was reclaimed in the
    # same commit that registered its replacement): skip it here so
    # the package imports during the retirement commit itself;
    # tests/test_check_priority.py still fails until the rotation is
    # regenerated, so a typo cannot silently survive a round.
    priority = [n for n in _CHECK_PRIORITY if n in QUERIES]
    # Queries registered after the last generation run land FIRST
    # (never-checked == highest priority), never silently at the tail;
    # tests/test_check_priority.py still fails until the list is
    # regenerated, so this is a safety net, not the workflow.
    ordered = {n: QUERIES[n] for n in QUERIES if n not in set(priority)}
    ordered.update({n: QUERIES[n] for n in priority})
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_check_priority()
