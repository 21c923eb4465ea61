"""Sketch tier vs exact tier: Greenwald-Khanna percentiles and the
mergeable HLL / top-k / theta / KLL rollups must land within their
documented error bounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.operators.sketches import quantile_exprs
from sales_forecast_pyspark_spark.sources.readers import read_table
from tests.conftest import SF_ORACLE


def test_gk_percentiles_within_rank_error(spark):
    ev = read_table(spark, SF_ORACLE, "events")
    probs = [0.5, 0.9]
    exact = ev.groupBy("event_type").agg(*quantile_exprs("value", probs)).collect()
    approx = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(*quantile_exprs("value", probs, accuracy=10000))
        .collect()
    }
    # rank error <= 1/accuracy; values here span ~[0, 50], so a loose
    # value-domain tolerance is enough to catch a broken sketch
    for r in exact:
        a = approx[r["event_type"]]
        for c in ("p50", "p90"):
            assert abs(a[c] - r[c]) <= 0.5, (r["event_type"], c, a[c], r[c])


def test_hll_rollup_merges_consistently_and_bounds_error(spark):
    """The mergeable-sketch contract: (a) estimating at the coarse grain
    via unioned fine-grain sketches gives EXACTLY the same answer as
    sketching the coarse grain directly (register-wise max is
    merge-order independent), and (b) the estimate lands within HLL's
    published error envelope of the exact count (rsd ≈ 1.04/sqrt(2^12)
    ≈ 1.6%; assert 5% for slack)."""
    from sales_forecast_pyspark_spark.operators.sketches import hll_rollup

    ev = read_table(spark, SF_ORACLE, "events").withColumn("day", F.to_date("ts"))

    merged = hll_rollup(ev, ["event_type", "day"], ["event_type"], "user_id")
    direct = hll_rollup(ev, ["event_type"], ["event_type"], "user_id")
    m = {r["event_type"]: r["n_user_id"] for r in merged.collect()}
    d = {r["event_type"]: r["n_user_id"] for r in direct.collect()}
    assert m == d

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(m) == set(exact)
    for et, est in m.items():
        assert abs(est - exact[et]) / exact[et] < 0.05, (et, est, exact[et])


def test_topk_rollup_merge_path_equals_direct_and_handles_churn(spark):
    """topk_rollup's two-level accumulate->combine->estimate must agree
    with a single-level count at small cardinality (exactness regime),
    keep the declared deterministic tie order, and emit exactly k rows
    per coarse group."""
    from sales_forecast_pyspark_spark.operators.sketches import topk_rollup

    rows = [
        (g, s, w)
        for g in ("g1", "g2")
        for s in ("s1", "s2")
        for w, c in (("a", 5), ("b", 5), ("c", 3), ("d", 1))
        for _ in range(c)
    ]
    df = spark.createDataFrame(rows, "g string, s string, w string")
    got = topk_rollup(df, ["g", "s"], ["g"], "w", k=3).collect()
    by_g = {}
    for r in got:
        by_g.setdefault(r["g"], []).append((r["rank"], r["item"], r["est_count"]))
    for g in ("g1", "g2"):
        # counts double across the two fine groups; tie a/b broken by item
        assert sorted(by_g[g]) == [(1, "a", 10), (2, "b", 10), (3, "c", 6)], by_g


def test_theta_overlap_exact_regime_matches_set_algebra(spark):
    """theta_overlap under 2^lg_k distinct members reproduces exact set
    intersection/union, including zero-overlap pairs (present with
    n_overlap=0, not dropped)."""
    from sales_forecast_pyspark_spark.operators.sketches import theta_overlap

    rows = (
        [("x", i) for i in range(40)]
        + [("y", i) for i in range(20, 60)]
        + [("z", i) for i in range(100, 110)]  # disjoint from x and y
    )
    df = spark.createDataFrame(rows, "grp string, member long")
    got = {
        (r["group_a"], r["group_b"]): r.asDict()
        for r in theta_overlap(df, "grp", "member", lg_k=12).collect()
    }
    assert got[("x", "y")]["n_overlap"] == 20
    assert got[("x", "y")]["n_union"] == 60
    assert got[("x", "z")]["n_overlap"] == 0
    assert got[("x", "z")]["n_union"] == 50
    assert got[("y", "z")]["n_overlap"] == 0
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}


def test_kll_rollup_exact_regime_and_rank_error(spark):
    """kll_rollup: below k retained values the merged sketch returns
    exact discrete quantiles; above it (events at SF_ORACLE) every
    estimate's true rank stays within the k=200 sketch's normalized
    rank-error bound (~1.65%, checked at 3x for merge slack)."""
    from sales_forecast_pyspark_spark.operators.sketches import kll_rollup

    # exact regime: 26 values split across fine groups
    vals = [float(v) for v in range(1, 27)]
    df = spark.createDataFrame(
        [(("g1" if i % 2 else "g2"), v) for i, v in enumerate(vals)],
        "g string, x double",
    )
    got = kll_rollup(df, ["g"], [], "x", [0.5, 1.0]).first()
    assert got["p50"] == 13.0  # quantile_disc semantics: ceil(0.5*26)th value
    assert got["p100"] == 26.0

    # sampling regime on the real events table
    from pyspark.sql import functions as F

    from sales_forecast_pyspark_spark.sources.readers import read_table

    ev = read_table(spark, SF_ORACLE, "events").withColumn(
        "day", F.to_date("ts")
    )
    probs = [0.25, 0.5, 0.9]
    est = kll_rollup(ev, ["event_type", "day"], ["event_type"], "value", probs)
    ranks = ev.join(est, "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col("value") <= F.col(f"p{100 * p:g}")).cast("int")).alias(
                f"r{i}"
            )
            for i, p in enumerate(probs)
        ],
    )
    for row in ranks.collect():
        for i, p in enumerate(probs):
            frac = row[f"r{i}"] / row["n"]
            assert abs(frac - p) <= 0.05, (row["event_type"], p, frac)


from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_items = st.lists(
    st.tuples(st.sampled_from(["g1", "g2"]), st.integers(0, 8)),
    min_size=1,
    max_size=60,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_items)
def test_topk_rollup_property_matches_exact_counts(spark, rows):
    """In the exact regime (cardinality << max_items_tracked), the
    two-level top-k rollup equals brute-force counting with the
    declared (count desc, item asc) order, for arbitrary data."""
    from sales_forecast_pyspark_spark.operators.sketches import topk_rollup

    df = spark.createDataFrame(
        [(g, i % 2, str(v)) for (g, v), i in zip(rows, range(len(rows)))],
        "g string, s int, w string",
    )
    got = {
        (r["g"], r["rank"]): (r["item"], r["est_count"])
        for r in topk_rollup(df, ["g", "s"], ["g"], "w", k=3).collect()
    }
    by_group: dict[str, Counter] = {}
    for i, (g, v) in enumerate(rows):
        by_group.setdefault(g, Counter())[str(v)] += 1
    for g, cnt in by_group.items():
        expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        for rank, (item, c) in enumerate(expect, 1):
            assert got[(g, rank)] == (item, c), (g, rank, got, expect)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(_items)
def test_theta_overlap_property_matches_sets(spark, rows):
    """Exact-regime theta overlap equals Python set algebra for
    arbitrary group/member layouts, including single-group inputs
    (empty result) and zero-overlap pairs."""
    from sales_forecast_pyspark_spark.operators.sketches import theta_overlap

    df = spark.createDataFrame(rows, "grp string, member long")
    got = {
        (r["group_a"], r["group_b"]): (r["n_a"], r["n_b"], r["n_overlap"], r["n_union"])
    for r in theta_overlap(df, "grp", "member").collect()}
    sets: dict[str, set] = {}
    for g, m in rows:
        sets.setdefault(g, set()).add(m)
    groups = sorted(sets)
    expect = {
        (a, b): (
            len(sets[a]), len(sets[b]),
            len(sets[a] & sets[b]), len(sets[a] | sets[b]),
        )
        for i, a in enumerate(groups)
        for b in groups[i + 1:]
    }
    assert got == expect


def test_hll_rolling_distinct_tracks_exact_within_bounds(spark):
    """Windowed sketch union vs exact trailing distinct: every period's
    estimate must sit within the lg_k=12 HLL error envelope (<< 3σ =
    ~2.5%; allow 5% slack on small test counts), and periods with
    cardinality below the sparse-mode exact threshold must match
    exactly. The period dimension is deliberately GAPPED and the exact
    reference is the trailing CALENDAR window [d-3, d] — a ROWS frame
    over present periods would widen across the gaps and fail this."""
    from pyspark.sql import functions as F

    from sales_forecast_pyspark_spark.operators.sketches import (
        hll_rolling_distinct,
    )

    # (i*7+u)%20 gives dense 0..19; stretch to a gapped calendar: every
    # 4th day starts a 3-day gap, so most [d-3, d] windows straddle one
    def gapped(d):
        return d + (d // 4) * 3

    rows = [
        (gapped((i * 7 + u) % 20), (u * 13 + i) % 500)
        for i in range(40)
        for u in range(i * 9 % 120 + 5)
    ]
    df = spark.createDataFrame(rows, "d long, u long")
    est = {
        r["d"]: r["n_distinct_est"]
        for r in hll_rolling_distinct(df, "d", "u", frame_rows=3).collect()
    }
    by_day = {}
    for d, u in rows:
        by_day.setdefault(d, set()).add(u)
    assert set(est) == set(by_day)
    for d in sorted(by_day):
        window = [by_day[x] for x in range(d - 3, d + 1) if x in by_day]
        exact = len(set().union(*window))
        assert abs(est[d] - exact) <= max(2, 0.05 * exact), (d, est[d], exact)


def test_hll_rolling_distinct_calendar_semantics_on_dates(spark):
    """Date-typed periods with a gap: the estimate after the gap must
    cover only the calendar window, not reach back across it. Counts
    are tiny, so HLL sparse mode makes the estimates EXACT and the
    assertion is equality, not a bound."""
    from datetime import date

    from sales_forecast_pyspark_spark.operators.sketches import (
        hll_rolling_distinct,
    )

    rows = (
        # 3 users on Mar 1, 2 on Mar 2, then a 5-day gap, then Mar 8
        [(date(2024, 3, 1), u) for u in (1, 2, 3)]
        + [(date(2024, 3, 2), u) for u in (3, 4)]
        + [(date(2024, 3, 8), u) for u in (5,)]
    )
    df = spark.createDataFrame(rows, "day date, u long")
    got = {
        str(r["day"]): r["n_distinct_est"]
        for r in hll_rolling_distinct(df, "day", "u", frame_rows=6).collect()
    }
    # Mar 8's trailing 7-calendar-day window is [Mar 2, Mar 8]: users
    # {3, 4, 5}. A ROWS frame would have widened to Mar 1 and said 5.
    assert got == {"2024-03-01": 3, "2024-03-02": 4, "2024-03-08": 3}
