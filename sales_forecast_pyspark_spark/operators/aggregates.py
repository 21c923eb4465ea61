"""Hash aggregations (reference operators A1-A10, SURVEY.md §2.4).

All compile to partial+final HashAggregateExec around one shuffle on the
grouping keys — map-side combine means the shuffle carries pre-aggregated
partials, which is what keeps these viable at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.functions.deterministic import money_sum, stable_avg


def daily_rollup(
    df: DataFrame,
    keys: list[str],
    qty_col: str,
    revenue_expr: Column,
    price_expr: Column,
    exact: bool = True,
) -> DataFrame:
    """The engine's flagship aggregate (reference A2,
    Sales_forecast_pyspark.py:147-164): group to daily grain, net
    quantity (returns stay negative and net out), revenue and average
    price rounded to 2 decimals.

    ``exact=True`` (default) routes money aggregates through exact
    decimal sums (see ``functions.deterministic``) so results are
    bit-identical across partition counts, AQE re-plans, and external
    oracles — measured ~2x the aggregation cost of plain double sums at
    sf0.1. ``exact=False`` is the production fast path for pipelines
    that tolerate last-ulp, partitioning-dependent float variation
    (the reference's own semantics, py:160-162).
    """
    if exact:
        return df.groupBy(*keys).agg(
            F.sum(qty_col).cast("double").alias("qty"),
            money_sum(revenue_expr).alias("revenue"),
            stable_avg(price_expr).alias("avg_price"),
        )
    return df.groupBy(*keys).agg(
        F.sum(qty_col).cast("double").alias("qty"),
        F.round(F.sum(revenue_expr), 2).alias("revenue"),
        F.round(F.avg(price_expr), 2).alias("avg_price"),
    )


def profile_agg(df: DataFrame, keys: list[str], id_col: str, date_col: str) -> DataFrame:
    """Data-profiling aggregate (reference A1, py:124-135): min/max over a
    STRING id column and a date column plus count — exercises min/max
    orderings beyond numerics."""
    return (
        df.groupBy(*keys)
        .agg(
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
            F.min(date_col).alias("min_date"),
            F.max(date_col).alias("max_date"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(*keys)
    )


def multi_level_agg(
    df: DataFrame,
    dims: list[str],
    aggs: list[Column],
    gid_col: str = "gid",
) -> DataFrame:
    """Multi-level OLAP aggregation: one ``cube`` pass producing every
    grouping level of ``dims`` (all 2^n subsets).

    ``gid_col`` carries ``grouping_id()`` (bit i set ⟺ dim i is rolled
    up, first dim = high bit — the same bitmask DuckDB's
    ``GROUPING(d1, .., dn)`` returns), which is how consumers tell a
    subtotal row from a detail row whose dim is genuinely NULL.

    Scale shape: Spark expands grouping sets BEFORE the exchange, so the
    map-side partial aggregation covers every level and the single
    shuffle carries partials keyed by (dims..., gid) — one exchange
    regardless of how many levels, rather than one job per level unioned
    (the naive form). Row multiplication is 2^n: keep ``dims`` short at
    scale."""
    gid = F.grouping_id().cast("int").alias(gid_col)
    return df.cube(*dims).agg(gid, *aggs)


def grouped_top_k(
    df: DataFrame,
    keys: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k rows PER GROUP via ``row_number`` over a window — one
    shuffle on the group keys, rank state O(1) per row. Pass a total
    ``order_by`` (unique tie-break last) for deterministic results;
    ``row_number`` over a non-total order is partition-order-dependent.

    At scale this beats the self-join/argmax formulations, but the
    window still SORTS each group; for k ≪ group size on monster
    groups, a two-phase variant (partial per-partition top-k before the
    shuffle, like TakeOrderedAndProject does globally) would cut the
    shuffle volume — Spark has no built-in for that per-group, so this
    is the portable shape."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def retention_matrix(
    df: DataFrame,
    id_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Weekly retention cohorts: assign each entity to the Monday-start
    week of its FIRST event, then count distinct entities active in
    each subsequent week — the (cohort_week, week_offset, n_active)
    long form of the classic retention triangle (pivot to wide with the
    pivot operator if a matrix view is wanted).

    Shape: one min-per-entity aggregate, an equality join back on the
    entity key, one (cohort, offset) count-distinct — every stage
    keyed, nothing pairwise; cohort frames are bounded by entities, not
    events. Offset 0 always contains the full cohort (the first event
    is itself in week 0), so n_active at offset 0 doubles as cohort
    size and retention RATES derive in one map."""
    first = df.groupBy(F.col(id_col).alias("_id")).agg(
        F.date_trunc("week", F.min(ts_col)).cast("date").alias("cohort_week")
    )
    active = df.select(
        F.col(id_col).alias("_id"),
        F.date_trunc("week", F.col(ts_col)).cast("date").alias("_week"),
    ).distinct()
    return (
        active.join(first, "_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("_week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .agg(F.countDistinct("_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


def ols_trend(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
    out_digits: int = 6,
) -> DataFrame:
    """Per-group closed-form OLS line fit (y = intercept + slope*x) via
    exact integer sufficient statistics — the 100 TB way to answer
    "what's the trend of every series": ONE hash aggregate computing
    (n, Σx, Σx², Σy, Σxy) per key, then slope/intercept as arithmetic
    on the aggregate row. No per-key model fits, no second pass, no
    driver loop over series — 10⁹ series cost the same single shuffle
    as one.

    Determinism: ``x_col`` and ``y_col`` must be exact-integer-valued
    (day indexes, integer quantities — caller casts). All five
    sufficient statistics and the normal-equation products are EXACT
    DECIMAL arithmetic, and the only float op is the final
    correctly-rounded double division — bit-identical cross-engine.
    (Spark's built-in ``regr_slope`` is an order-dependent double
    aggregate: same math, unstable hash.)

    Overflow: the inputs are squared/multiplied BEFORE summing as
    decimal(20,0) (never as wrapping longs), the sums carry
    decimal(38,0) headroom, and the cross products stay exact up to
    10^38 — long-typed inputs always fit (max per-row product
    ~8.5·10³⁷), and the docstring envelope of 10⁹ rows with
    |x|,|y| ≤ 10¹⁰ lands just INSIDE the boundary (n·Σxy reaches
    ~10³⁸ exactly — no headroom to spare past that). Past the input
    cast range (|v| ≥ 10²⁰, reachable only via wide decimal columns)
    or a per-row product > 10³⁸, Spark yields NULL in non-ANSI mode —
    and because F.sum would silently SKIP such a row while n_obs
    still counts it, the aggregate carries an exactness audit: any
    group where a counted row failed to contribute its full sufficient
    -statistic tuple — overflow, or a NULL on either input — gets NULL
    slope/intercept (or the job errors under ANSI mode): a loud
    failure, never a wrapped or silently-partial value.
    """
    x = F.col(x_col).cast("decimal(20,0)")
    y = F.col(y_col).cast("decimal(20,0)")
    big = "decimal(38,0)"
    xx = (x * x).cast(big)
    xy = (x * y).cast(big)
    stats = df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(x).cast(big).alias("_sx"),
        F.sum(xx).cast(big).alias("_sxx"),
        F.sum(y).cast(big).alias("_sy"),
        F.sum(xy).cast(big).alias("_sxy"),
        # exactness audit: every counted row must have contributed a
        # full (x, x², y, xy) tuple to the sums — a gap (a NULL input
        # on EITHER side, a cast past decimal(20,0), or a per-row
        # product past decimal(38,0)) means F.sum silently dropped the
        # row while n_obs counted it, so the closed form over n_obs
        # would be silently wrong for the group. Gating on n_obs (not
        # merely on complete input pairs — code-review r08) also
        # catches one-sided nulls, where x still pollutes Σx/Σx² but
        # y is missing from Σy/Σxy.
        F.count(F.when(xx.isNotNull() & xy.isNotNull(), 1)).alias("_n_exact"),
    )
    n = F.col("n_obs").cast(big)
    den = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    slope_num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    icept_num = (
        F.col("_sy") * F.col("_sxx") - F.col("_sx") * F.col("_sxy")
    ).cast("double")
    den_nz = F.nullif(den, F.lit(0.0))
    exact = F.col("_n_exact") == F.col("n_obs")
    return stats.select(
        *keys,
        "n_obs",
        F.when(exact, F.round(slope_num / den_nz, out_digits)).alias("slope"),
        F.when(exact, F.round(icept_num / den_nz, out_digits)).alias(
            "intercept"
        ),
    ).orderBy(*keys)
