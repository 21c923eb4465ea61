"""Cardinality and quantile summaries, each in two tiers: an exact form
(oracle-checkable, the correctness reference) and a sketch form (the
100 TB path).

Why the sketch tier matters at scale: exact ``COUNT(DISTINCT x)`` per
group compiles to a two-shuffle plan (dedup on (group, value), then
re-aggregate) whose state is O(distinct values); exact percentiles
buffer every value per group.
The sketch twins — HyperLogLog++ (``approx_count_distinct``) and
Greenwald-Khanna (``percentile_approx``) — are mergeable fixed-size
aggregation buffers: ONE shuffle carrying kilobyte partials regardless
of cardinality, the only shape that survives a 100-billion-row group.
Accuracy is tunable and regression-tested against the exact tier in
``tests/test_sketches.py``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def quantile_exprs(
    col: str | Column,
    probs: Sequence[float],
    accuracy: int | None = None,
    prefix: str = "p",
) -> list[Column]:
    """One aggregate expression per requested quantile, named
    ``{prefix}{100·prob:g}`` (``p50``, ``p99``...). ``accuracy=None`` →
    exact ``percentile`` (linear interpolation, matches DuckDB's
    ``quantile_cont`` bit-for-bit on doubles); an int → Greenwald-Khanna
    ``percentile_approx`` with that accuracy (guaranteed rank error ≤
    1/accuracy), the bounded-memory tier."""
    c = F.col(col) if isinstance(col, str) else col
    out = []
    for p in probs:
        name = f"{prefix}{100 * p:g}"
        if accuracy is None:
            out.append(F.percentile(c, F.lit(p)).alias(name))
        else:
            out.append(F.percentile_approx(c, F.lit(p), F.lit(accuracy)).alias(name))
    return out


def hll_rollup(
    df: DataFrame,
    fine_keys: Sequence[str],
    coarse_keys: Sequence[str],
    col: str,
    lg_k: int = 12,
    out_col: str | None = None,
) -> DataFrame:
    """Two-level MERGEABLE distinct-count: build Apache DataSketches HLL
    sketches at the fine grain, then union them upward to the coarse
    grain and estimate there.

    This is the pre-aggregation pattern that makes distinct counts
    feasible at 100 TB: the fine-grain sketch table is tiny (one ~2^lg_k
    byte binary per group), can be PERSISTED as an incremental rollup
    (e.g. one sketch per (country, day) appended daily), and any coarser
    cube — month, country, all-time — is answered by unioning sketches,
    never rescanning the raw data. ``approx_count_distinct`` alone can't
    do this: its sketch dies inside the single aggregation that computed
    it. HLL union is a register-wise max — associative, commutative,
    order-independent — so estimates are deterministic regardless of
    merge order or partitioning.
    """
    out_col = out_col or f"n_{col}"
    fine = df.groupBy(*fine_keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lg_k)).alias("hll")
    )
    return (
        fine.groupBy(*coarse_keys)
        .agg(F.hll_union_agg(F.col("hll")).alias("hll"))
        .select(*coarse_keys, F.hll_sketch_estimate("hll").alias(out_col))
    )


def topk_rollup(
    df: DataFrame,
    fine_keys: Sequence[str],
    coarse_keys: Sequence[str],
    col: str,
    k: int = 10,
    max_items_tracked: int = 10_000,
) -> DataFrame:
    """Two-level MERGEABLE heavy-hitters: ``approx_top_k_accumulate``
    sketches at the fine grain, ``approx_top_k_combine`` upward to the
    coarse grain, ``approx_top_k_estimate`` there — the frequent-items
    twin of ``hll_rollup``, with the same incremental-rollup property:
    persist the fine-grain sketch table and answer any coarser top-k
    without rescanning raw data.

    Why not exact ``groupBy(col).count().orderBy desc.limit(k)``: the
    exact plan's first aggregate carries one row per DISTINCT value per
    group — at web-corpus token cardinality that is the scan all over
    again. The sketch state is bounded by ``max_items_tracked`` entries
    per group regardless of cardinality. Counts for items that stay
    within the tracked set all the way up are EXACT (SpaceSaving-family
    guarantee); items that churned in/out carry overestimates bounded by
    the eviction floor — set ``max_items_tracked >> k`` (the default
    tracks 1000x a k of 10) so head items never churn.

    Output: ``coarse_keys…, item, est_count, rank`` — ``k`` rows per
    coarse group, rank 1 = most frequent, ties broken by item value for
    a deterministic order. The sketch is OVERSAMPLED (k x 8, min 64)
    before the deterministic re-rank: ``approx_top_k_estimate`` breaks
    count ties by its internal heap order, so asking it for exactly
    ``k`` items would let the sketch — not the declared (count desc,
    item asc) order — choose which tied items survive the cut."""
    k_est = min(int(max_items_tracked), max(int(k) * 8, 64))
    fine = df.groupBy(*fine_keys).agg(
        F.expr(f"approx_top_k_accumulate({col}, {int(max_items_tracked)})").alias(
            "_tk"
        )
    )
    coarse = fine.groupBy(*coarse_keys).agg(
        F.expr(f"approx_top_k_combine(_tk, {int(max_items_tracked)})").alias("_tk")
    )
    est = coarse.select(
        *coarse_keys,
        F.explode(F.expr(f"approx_top_k_estimate(_tk, {k_est})")).alias("_e"),
    ).select(
        *coarse_keys,
        F.col("_e.item").alias("item"),
        F.col("_e.count").alias("est_count"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*coarse_keys).orderBy(
        F.col("est_count").desc(), F.col("item").asc()
    )
    return est.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def theta_overlap(
    df: DataFrame,
    group_col: str,
    member_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Pairwise distinct-member overlap between groups via Apache
    DataSketches THETA sketches — the set-operation tier HLL lacks: HLL
    unions only, theta sketches also INTERSECT, so "how many distinct
    users did both A and B touch" needs one sketch per group instead of
    a (group x group) self-join of the raw membership table.

    At 100 TB the raw-data alternative is a distinct on (group, member)
    followed by a self-join on member — quadratic in the hot members and
    a full extra shuffle. Here: ONE aggregation builds a ~2^lg_k-byte
    sketch per group; the pairwise stage joins single-row-per-group
    sketch tables (broadcast, trivially) and intersects driver-free.
    Estimates carry the sketches' relative error (~1/sqrt(2^lg_k));
    exactness is regression-tested against the exact tier in
    tests/test_sketches.py.

    Output: ``group_a, group_b (a < b), n_a, n_b, n_overlap, n_union``
    — jaccard and containment derive in one map from these four."""
    sk = df.groupBy(group_col).agg(
        F.expr(f"theta_sketch_agg({member_col}, {int(lg_k)})").alias("_sk"),
    )
    a = sk.select(
        F.col(group_col).alias("group_a"), F.col("_sk").alias("_sk_a")
    )
    b = sk.select(
        F.col(group_col).alias("group_b"), F.col("_sk").alias("_sk_b")
    )
    return (
        a.join(b, F.col("group_a") < F.col("group_b"))
        .select(
            "group_a",
            "group_b",
            F.round(F.expr("theta_sketch_estimate(_sk_a)")).cast("long").alias("n_a"),
            F.round(F.expr("theta_sketch_estimate(_sk_b)")).cast("long").alias("n_b"),
            F.round(
                F.expr("theta_sketch_estimate(theta_intersection(_sk_a, _sk_b))")
            )
            .cast("long")
            .alias("n_overlap"),
            F.round(F.expr("theta_sketch_estimate(theta_union(_sk_a, _sk_b))"))
            .cast("long")
            .alias("n_union"),
        )
        .orderBy("group_a", "group_b")
    )


def kll_rollup(
    df: DataFrame,
    fine_keys: Sequence[str],
    coarse_keys: Sequence[str],
    col: str,
    probs: Sequence[float],
    k: int = 200,
    prefix: str = "p",
) -> DataFrame:
    """Two-level MERGEABLE quantiles — the rank twin of ``hll_rollup`` /
    ``topk_rollup``, completing the sketch family (distinct=HLL,
    frequency=top-k, set-ops=theta, quantiles=KLL): DataSketches KLL
    sketches at the fine grain, merged upward to the coarse grain,
    queried there. Persist the fine sketch table once and any coarser
    percentile cube is answered without rescanning raw data — what
    ``percentile_approx`` cannot do (its GK buffer dies inside the one
    aggregation that built it).

    Spark ships ``kll_sketch_merge_double`` as a two-sketch scalar (no
    merge aggregate), so the coarse level folds a ``collect_list`` of
    fine sketches with ``aggregate``. The list is SORTED first: KLL
    compaction in the sampling regime depends on merge order, and
    ``collect_list`` order is partition-dependent — sorting pins a
    deterministic merged sketch for any partitioning. List size is the
    fine-per-coarse group count (bounded by construction: day-grain
    fine keys roll into month/all-time coarse keys), each entry ~3 kB
    at k=200 (worst-case normalized rank error ~1.65%).

    Below ~k retained values per sketch KLL is EXACT and returns actual
    data values — ``quantile_disc`` semantics, which the oracle pins at
    the test SFs."""
    q_arr = "array(" + ", ".join(repr(float(p)) for p in probs) + ")"
    fine = df.groupBy(*fine_keys).agg(
        F.expr(f"kll_sketch_agg_double({col}, {int(k)})").alias("_sk")
    )
    merged = (
        fine.groupBy(*coarse_keys)
        .agg(F.sort_array(F.collect_list("_sk")).alias("_skl"))
        .select(
            *coarse_keys,
            F.expr(
                "aggregate(slice(_skl, 2, size(_skl) - 1), _skl[0], "
                "(acc, x) -> kll_sketch_merge_double(acc, x))"
            ).alias("_sk"),
        )
    )
    qcol = F.expr(f"kll_sketch_get_quantile_double(_sk, {q_arr})")
    return merged.select(
        *coarse_keys,
        *[
            qcol.getItem(i).alias(f"{prefix}{100 * p:g}")
            for i, p in enumerate(probs)
        ],
    )


def hll_rolling_distinct(
    df: DataFrame,
    time_col: str,
    id_col: str,
    frame_rows: int = 6,
    lg_k: int = 12,
    partition_keys: Sequence[str] = (),
) -> DataFrame:
    """Trailing-window distinct count as a SKETCH-UNION window: one HLL
    sketch per (keys, period), then ``hll_union_agg`` over a trailing
    ``frame_rows``-PERIOD frame — the rolling-WAU shape.

    The frame is a RANGE frame over a period ordinal (dates become a
    days-since-epoch long; numeric periods are used as-is), NOT a ROWS
    frame over present periods: when the period dimension has gaps, a
    ROWS frame would silently widen to "the N most recent periods that
    had data" while every exact trailing-distinct formulation
    (``rolling_active_users``, the registered query's explode audit)
    counts a trailing N-CALENDAR-period window — the two must measure
    the same window or the registered rel_err conflates
    window-semantics drift with sketch error. Output rows exist only
    for present periods (same grain the exact path is joined on).

    This is the sketch tier of ``rolling_active_users``'s exact
    explode-contribution formulation: the exact path shuffles
    |user-days| × window rows, which at 100 TB is the dominant cost;
    here the raw data is touched ONCE (the per-period sketch build) and
    the window slides over one 2^lg_k-register binary per period —
    per-day cost independent of user cardinality. The estimate is
    deterministic (register-wise max union, order-independent), but
    approximate → registered rows-only, with error bounds and
    gap-calendar semantics pinned in tests/test_sketches.py.
    """
    keys = list(partition_keys)
    dtype = df.schema[time_col].dataType
    if isinstance(dtype, (T.DateType, T.TimestampType)):
        ord_col = F.datediff(
            F.col(time_col).cast("date"), F.to_date(F.lit("1970-01-01"))
        ).cast("long")
    elif isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        ord_col = F.col(time_col).cast("long")
    else:
        # Fail loudly (same discipline as spread_scan): a string period
        # would cast to NULL and make every row a range-frame peer (the
        # estimate silently becomes the GLOBAL distinct count); a float
        # would truncate and merge adjacent periods.
        raise TypeError(
            f"hll_rolling_distinct needs a date/timestamp or integral "
            f"period column for its calendar RANGE frame; got "
            f"{time_col}: {dtype.simpleString()} — derive an integer "
            "period ordinal first"
        )
    day_sketch = df.groupBy(*keys, time_col).agg(
        F.hll_sketch_agg(F.col(id_col), F.lit(lg_k)).alias("_hll")
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy(ord_col.alias("_ord"))
        .rangeBetween(-frame_rows, Window.currentRow)
    )
    return day_sketch.select(
        *keys,
        time_col,
        F.hll_sketch_estimate(F.hll_union_agg("_hll").over(w))
        .cast("long")
        .alias("n_distinct_est"),
    ).orderBy(*keys, time_col)
