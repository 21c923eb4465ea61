"""Partitioned time-series window operators — the heart of the reference
(SURVEY.md §2.5, W1-W8).

Frame semantics preserved exactly: frames are ROW-based, trailing, and
EXCLUDE the current row (``rowsBetween(-w, -1)``) — calendar gaps are
ignored (6 rows back != 6 days back). ``stddev_samp`` (n-1) yields null
on 1-row frames; nulls are filled with 0 afterwards, so "no history" and
"zero sales" are deliberately indistinguishable downstream
(Sales_forecast_pyspark.py:969-982 — a documented wart, not a bug).

Scale notes: all specs over the same partition keys share ONE
exchange+sort — builders batch every expression into a single
``select`` (the reference's py:611-647 idiom) so Catalyst plans one
WindowExec per distinct (partitioning, ordering) pair instead of one per
column. Series are assumed to fit in an executor's sort buffer (true for
per-(country, product) daily series even at 100 TB: ~years x 365 rows);
monster keys would need salted pre-aggregation first.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The attribution family's touch/conversion taxonomy: which event types
# count as touches, and which one is the conversion they are credited for.
DEFAULT_TOUCH_TYPES: tuple[str, ...] = ("view", "click", "signup")
DEFAULT_CONVERSION_TYPE = "purchase"


def _window(keys: Sequence[str], order_col: str):
    return Window.partitionBy(*keys).orderBy(order_col)


def lag_exprs(
    keys: Sequence[str],
    order_col: str,
    cols: Sequence[str],
    offsets: Sequence[int],
    round_digits: int = 2,
    name_fmt: str = "{col}_lag{off}",
) -> list[Column]:
    """Lag features (W1-W3): ``coalesce(round(lag(c, off), d), 0)``.

    The reference rounds then zero-fills every lag
    (Sales_forecast_pyspark.py:614-644). Offsets like (6, 12, ..., 36)
    give the 6-day-cycle "weekly" lags (W2); passing a weekday key in
    ``keys`` gives the same-weekday lags (W3).
    """
    w = _window(keys, order_col)
    return [
        F.coalesce(F.round(F.lag(c, off).over(w), round_digits), F.lit(0)).alias(
            name_fmt.format(col=c, off=off)
        )
        for c in cols
        for off in offsets
    ]


def add_lags(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    cols: Sequence[str],
    offsets: Sequence[int],
    round_digits: int = 2,
    name_fmt: str = "{col}_lag{off}",
) -> DataFrame:
    return df.select(
        "*", *lag_exprs(keys, order_col, cols, offsets, round_digits, name_fmt)
    )


_ROLLING_STATS = {
    "mean": lambda c: F.avg(c),
    "std": lambda c: F.stddev_samp(c),
    # exact median: F.median does not accept a window frame, F.percentile
    # does, and its even-count interpolation matches ANSI MEDIAN.
    "median": lambda c: F.percentile(c, F.lit(0.5)),
    "median_approx": lambda c: F.percentile_approx(c, 0.5),
    "sum": lambda c: F.sum(c),
    "count": lambda c: F.count(c),
    "min": lambda c: F.min(c),
    "max": lambda c: F.max(c),
}


def rolling_exprs(
    keys: Sequence[str],
    order_col: str,
    col: str,
    windows: Sequence[int],
    stats: Sequence[str] = ("mean", "std", "median"),
    name_fmt: str = "roll_{stat}_{w}",
) -> list[Column]:
    """Trailing rolling stats over row frames ``(-w, -1)`` (W4-W6).

    The reference's rolling median uses ``percentile_approx`` (py:920-922,
    long-typed on integer input); stat ``median_approx`` reproduces that,
    while ``median`` is the exact variant (oracle-checkable against ANSI
    SQL). Both are single-pass window aggregates.
    """
    base = _window(keys, order_col)
    exprs = []
    for w in windows:
        frame = base.rowsBetween(-w, -1)
        for stat in stats:
            exprs.append(
                _ROLLING_STATS[stat](col).over(frame).alias(name_fmt.format(stat=stat, w=w))
            )
    return exprs


def rolling_range_exprs(
    keys: Sequence[str],
    date_col: str,
    col: str,
    day_windows: Sequence[int],
    stats: Sequence[str] = ("mean", "sum", "count"),
    name_fmt: str = "range_{stat}_{d}d",
) -> list[Column]:
    """Calendar-aware trailing rolling stats: RANGE frames over the
    epoch-day of ``date_col``, frame (−d days .. −1 day) EXCLUDING today.

    This is the densify-free alternative to the row frames above: a
    6-day RANGE frame sees exactly the rows from the previous 6 calendar
    days however many are missing, where a 6-ROW frame silently reaches
    further back across gaps (see ``operators/densify.py`` for the gap
    audit that motivates choosing between them). Ordering is
    ``unix_date`` (integer days), so the frame bounds are plain longs —
    identical semantics to ANSI ``RANGE BETWEEN n PRECEDING`` over
    ``ds - DATE '1970-01-01'``, which keeps it oracle-checkable.

    All frames over the same keys share one exchange+sort; stats should
    stay within {mean,sum,count,min,max} on integer-valued inputs for
    cross-engine bit-stability (see functions/deterministic.py notes).
    """
    base = Window.partitionBy(*keys).orderBy(F.unix_date(F.col(date_col)))
    exprs = []
    for d in day_windows:
        frame = base.rangeBetween(-d, -1)
        for stat in stats:
            exprs.append(
                _ROLLING_STATS[stat](col).over(frame).alias(name_fmt.format(stat=stat, d=d))
            )
    return exprs


def add_momentum(
    df: DataFrame, col: str, against: Sequence[str], name_fmt: str = "diff_{ref}"
) -> DataFrame:
    """Momentum/diff features (W7): current value minus each rolling
    stat — plain column arithmetic, no extra shuffle."""
    return df.select(
        "*",
        *[(F.col(col) - F.col(ref)).alias(name_fmt.format(ref=ref)) for ref in against],
    )


def ma_baseline(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    col: str,
    window: int = 6,
    out_col: str = "baseline_qty",
) -> DataFrame:
    """Moving-average baseline forecast (W8, py:1272-1294): trailing
    ``window``-row mean excluding today, falling back to lag-1 when the
    frame is empty: ``coalesce(ma, lag1)``. Both exprs share one
    exchange+sort."""
    w = _window(keys, order_col)
    ma = F.avg(col).over(w.rowsBetween(-window, -1))
    lag1 = F.lag(col, 1).over(w)
    return df.select("*", F.coalesce(ma, lag1).alias(out_col))


def ewma_baseline(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    col: str,
    window: int = 6,
    out_col: str = "ewma_qty",
) -> DataFrame:
    """Exponentially-weighted moving-average baseline: trailing
    geometric-decay mean over the previous ``window`` rows, EXCLUDING
    today (same leakage-free frame as ``ma_baseline``), weights
    ``0.5^i`` for lag ``i`` renormalized over the lags that exist.

    True (infinite-memory) EWMA is a recursion no window frame can
    express; the ``window``-term truncation keeps >98% of the mass at
    K=6 and makes it a plain lag combination — one exchange+sort shared
    with every other feature on the same keys. Weights are DYADIC
    (0.5^i is exact in decimal at scale ``window``), values multiply in
    decimal, and the single double division happens once at the end —
    bit-identical across engines and partitionings. The quotient is
    deliberately NOT rounded (the ``stable_avg`` rule): a terminating
    quotient can land exactly on a rounding boundary where double-round
    algorithms disagree; identical exact operands → identical unrounded
    double everywhere."""
    w = _window(keys, order_col)
    num_terms = []
    den_terms = []
    for i in range(1, window + 1):
        wi = F.lit(round(0.5**i, window)).cast(f"decimal({window + 2},{window})")
        li = F.lag(col, i).over(w)
        num_terms.append(
            F.when(li.isNotNull(), li.cast("decimal(20,6)") * wi).otherwise(
                F.lit(0).cast(f"decimal(27,{window + 6})")
            )
        )
        den_terms.append(
            F.when(li.isNotNull(), wi).otherwise(
                F.lit(0).cast(f"decimal({window + 2},{window})")
            )
        )
    num = sum(num_terms[1:], num_terms[0])
    den = sum(den_terms[1:], den_terms[0])
    ewma = F.when(den > 0, num.cast("double") / den.cast("double"))
    return df.select("*", ewma.alias(out_col))


def transition_matrix(
    df: DataFrame,
    id_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """First-order transition counts and probabilities between event
    types within each entity's timeline: one lead() window over
    (id, time) and one pair-keyed aggregate — the Markov-chain view of
    behavior streams (next-step prediction baselines, anomalous-flow
    detection, UX path analysis).

    ``order_tiebreak`` (default: none) is appended to the window order
    for timelines with duplicate timestamps — pass a unique column or
    transitions at tied instants are partition-order-dependent. The
    probability denominator is per SOURCE state (rows sum to 1 per
    from_type over its outgoing transitions), rounded at 4 for
    cross-engine hashing. Terminal events (an entity's last) emit no
    transition."""
    order = [F.col(ts_col).asc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).asc())
    w = Window.partitionBy(id_col).orderBy(*order)
    pairs = (
        df.withColumn("_next", F.lead(type_col).over(w))
        .filter(F.col("_next").isNotNull())
        .groupBy(
            F.col(type_col).alias("from_type"), F.col("_next").alias("to_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 4).alias("p"),
    ).orderBy("from_type", "to_type")


def series_autocorr(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    lags: list[int] | None = None,
) -> DataFrame:
    """Per-series lag-k autocorrelation — the residual/seasonality
    diagnostic a forecasting pipeline runs before and after model fit
    (a large r_6 or r_7 on residuals means the weekly cycle survived
    the features):

        r_k = Σ_{t>k} (x_t − μ)(x_{t−k} − μ) / Σ_t (x_t − μ)²

    with μ the series mean (the standard biased-denominator ACF —
    denominator over the FULL series, so r_k is comparable across k and
    bounded by ±1). Shape: one mean aggregate per key, one lag window
    per k over the same (key, order) sort, one product aggregate —
    exactly the window layer's partitioning, no joins beyond the 1-row
    mean broadcast per key.

    Determinism: deviations are rounded at 1e-7 and multiplied/summed
    in exact decimal (functions/deterministic.py::weighted_sum — the
    cross-engine-safe product chain), ratio rounded at 4; NULL when a
    series is constant (zero variance) or shorter than k+1."""
    from sales_forecast_pyspark_spark.functions.deterministic import weighted_sum

    # a tiny negative correlation rounds to -0.0, which hashes
    # differently from +0.0 across engines — normalize
    _no_negzero = lambda c: F.when(c == 0, F.lit(0.0)).otherwise(c)
    lags = lags or [1, 2, 3, 4, 5, 6, 7]
    mean_w = Window.partitionBy(*key_cols)
    lag_w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).asc())
    dx = df.select(
        *key_cols,
        order_col,
        (F.col(value_col) - F.avg(value_col).over(mean_w)).alias("_dx"),
    )
    lagged = dx.select(
        *key_cols,
        "_dx",
        *[F.lag("_dx", k).over(lag_w).alias(f"_dx_{k}") for k in lags],
    )
    den = weighted_sum(F.col("_dx"), F.col("_dx"), out_digits=6)
    nums = [
        weighted_sum(
            F.when(F.col(f"_dx_{k}").isNotNull(), F.col("_dx")),
            F.col(f"_dx_{k}"),
            out_digits=6,
        ).alias(f"_num_{k}")
        for k in lags
    ]
    agg = lagged.groupBy(*key_cols).agg(den.alias("_den"), *nums)
    out = agg.select(
        *key_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("lag"),
                        _no_negzero(
                            F.round(
                                F.col(f"_num_{k}")
                                / F.nullif(F.col("_den"), F.lit(0.0)),
                                4,
                            )
                        ).alias("acf"),
                    )
                    for k in lags
                ]
            )
        ).alias("s"),
    ).select(*key_cols, "s.lag", "s.acf")
    return out.orderBy(*key_cols, "lag")


def touch_attribution(events: DataFrame) -> DataFrame:
    """Last-touch marketing attribution: every conversion's value is
    credited to the most recent preceding touch event (view/click/...)
    on the same user's timeline; conversions with no prior touch land in
    channel 'none'. Output is one row per channel with the conversion
    count, exactly-summed attributed revenue, and the mean
    touch-to-conversion latency in days.

    Plan shape: ONE WindowExec (two ignore-nulls ``last`` columns over
    the same (user, ts) frame — batched into a single select so Catalyst
    plans one exchange+sort) followed by one hash aggregate on the
    derived channel. At 100 TB this is the cheapest attribution shape
    available: the timeline scan is a single per-user sort (no
    self-join of conversions to touches, which would shuffle the fact
    table twice and explode on power users), and the aggregate input is
    already down to conversions only.

    Determinism: timeline order tie-breaks on ``event_id``; revenue
    uses the exact decimal ``money_sum``; latency sums exact
    microsecond longs before one double division (micros are
    TZ-shift-invariant under subtraction, so the metric is stable
    across session timezones).
    """
    from sales_forecast_pyspark_spark.functions.deterministic import money_sum

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin(*DEFAULT_TOUCH_TYPES)
    rows = (
        events.select(
            "event_type",
            "value",
            F.unix_micros(F.col("ts")).alias("_us"),
            F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
            .over(w)
            .alias("_touch_type"),
            F.last(F.when(is_touch, F.unix_micros(F.col("ts"))), ignorenulls=True)
            .over(w)
            .alias("_touch_us"),
        )
        .filter(F.col("event_type") == DEFAULT_CONVERSION_TYPE)
        .select(
            F.coalesce(F.col("_touch_type"), F.lit("none")).alias("channel"),
            "value",
            (F.col("_us") - F.col("_touch_us")).alias("latency_us"),
        )
    )
    return (
        rows.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            money_sum(F.col("value")).alias("attributed_revenue"),
            F.round(
                F.sum("latency_us").cast("double")
                / F.count("latency_us").cast("double")
                / F.lit(86400.0e6),
                4,
            ).alias("avg_days_to_convert"),
        )
        .orderBy("channel")
    )
