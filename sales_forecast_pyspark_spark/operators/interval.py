"""Range (interval) join — match points to the intervals containing
them — without the cartesian trap.

A naive ``start <= t AND t <= end`` join has no equi-key, so Spark
plans BroadcastNestedLoopJoin (fine only when one side broadcasts) or a
cartesian product. The distributed shape here is BINNING: quantize time
into fixed-width buckets, explode each interval to every bucket it
covers, and equi-join on (keys..., bucket) before applying the exact
range predicate. Work scales with points + intervals × avg-buckets-per-
interval — choose ``bin_width`` near the typical interval length so that
factor stays O(1) (the same tuning rule as bucketed window/range joins
in kdb+ and Databricks' range-join hint).

Long/open-ended intervals are the skew hazard: one interval spanning the
whole timeline explodes to every bucket. With ``validate=True`` the
operator fails loudly instead of silently shuffling the fan-out bomb.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BIN = "__iv_bin"


def _epoch_seconds(df: DataFrame, col: str):
    """Numeric binning key for a time column, tolerant of every encoding
    the scan layer can surface: TIMESTAMP, TIMESTAMP_NTZ (plain
    ``timestamp[us]`` parquet under Spark 4's NTZ inference), DATE, or
    an already-numeric epoch column. NTZ casts through TIMESTAMP using
    the session timezone (pinned UTC by the session layer), so both
    sides of a join land in the same epoch regardless of encoding."""
    dtype = dict(df.dtypes).get(col)
    if dtype is not None and (dtype.startswith("timestamp") or dtype == "date"):
        return F.unix_timestamp(F.col(col).cast("timestamp"))
    return F.col(col).cast("long")


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    point_time: str,
    start_col: str,
    end_col: str,
    on: Sequence[str] = (),
    bin_width: int = 3600,
    max_bins: int = 10_000,
    validate: bool = True,
) -> DataFrame:
    """Inner-join each point row to every interval row whose
    ``[start_col, end_col]`` (inclusive both ends) contains its
    ``point_time``, additionally matching the equality keys ``on``.

    Time columns must share a type across sides (the exact range
    predicate compares them directly): TIMESTAMP / TIMESTAMP_NTZ / DATE
    (binned on epoch seconds; ``bin_width`` in seconds) or integers
    (``bin_width`` in value units). Non-key column names must not collide — alias the
    interval side first. ``validate=True`` runs one bounded pre-pass
    over ``intervals`` and raises if any interval covers more than
    ``max_bins`` buckets (or has null bounds) — the fan-out guard; turn
    it off once upstream guarantees bounded intervals. Points with a
    null time never match (a left variant needs a unique point key —
    do it at the call site with a post-join)."""
    keys = list(on)
    clash = (set(intervals.columns) & set(points.columns)) - set(keys)
    if clash:
        raise ValueError(
            f"interval columns {sorted(clash)} collide with point columns; "
            "alias them first"
        )

    p_num = _epoch_seconds(points, point_time)
    s_num = _epoch_seconds(intervals, start_col)
    e_num = _epoch_seconds(intervals, end_col)
    s_bin = F.floor(s_num / bin_width).cast("long")
    e_bin = F.floor(e_num / bin_width).cast("long")

    if validate:
        n_bins = (e_bin - s_bin + 1).cast("int")
        bad = (
            intervals.select(n_bins.alias("n"))
            .filter((F.col("n") > max_bins) | F.col("n").isNull())
            .limit(1)
            .collect()
        )
        if bad:
            raise ValueError(
                f"an interval covers more than max_bins={max_bins} bins of "
                f"width {bin_width} (or has null bounds); raise bin_width or "
                "cap interval lengths upstream"
            )

    iv = intervals.withColumn(_BIN, F.explode(F.sequence(s_bin, e_bin)))
    # The exploded interval side must not be left to STATIC broadcast
    # estimates (audit r09): the Generate's fan-out is invisible to
    # Catalyst's stats, the interval COUNT is unbounded even though
    # per-interval fan-out is guarded, and a statically planned
    # BroadcastExchange cannot be demoted by AQE, so the bucket-key
    # shuffle is pinned.
    iv = iv.hint("merge")
    pt = points.withColumn(_BIN, F.floor(p_num / bin_width).cast("long"))
    exact = (F.col(point_time) >= F.col(start_col)) & (
        F.col(point_time) <= F.col(end_col)
    )
    return pt.join(iv, on=[*keys, _BIN], how="inner").filter(exact).drop(_BIN)


def concurrency_profile(
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    out_col: str = "n_open",
) -> DataFrame:
    """How many intervals are open at each boundary instant — the
    sweep-line answer to "orders in flight per day" / "concurrent
    sessions": every interval contributes +1 at ``start_col`` and -1 at
    ``end_col`` (half-open [start, end)), deltas aggregate per distinct
    boundary, and ``out_col`` is the running total in boundary order.

    At 100 TB this replaces the two quadratic formulations — the
    day×interval range join and the per-interval date explode (span
    days × intervals rows). The sweep is one union + one hash
    aggregate to |distinct boundaries| rows, and the running total uses
    the distributed two-phase prefix sum (``partitioned_cumsum``) —
    range-partitioned local scans plus a partition-count-bounded offset
    pass, NOT a single-reducer global window. Counts are exact longs
    end-to-end. Returns (boundary, net, ``out_col``) ordered by
    boundary.
    """
    from sales_forecast_pyspark_spark.operators.prefix import partitioned_cumsum

    s = intervals.select(F.col(start_col).alias("boundary"), F.lit(1).alias("_d"))
    e = intervals.select(F.col(end_col).alias("boundary"), F.lit(-1).alias("_d"))
    daily = (
        s.unionAll(e)
        .groupBy("boundary")
        .agg(F.sum("_d").alias("net"))
    )
    return (
        partitioned_cumsum(daily, [F.col("boundary")], F.col("net"), out_col)
        .select(
            "boundary",
            F.col("net").cast("long").alias("net"),
            F.col(out_col).cast("long").alias(out_col),
        )
        .orderBy("boundary")
    )
