"""Frame-semantics unit tests for the window layer (SURVEY.md §5.3).

Tiny inline DataFrames isolate the semantics the oracle queries can't:
lag-with-calendar-gap, trailing-frame exclusivity, stddev_samp on 1-row
frames, the MA6 fallback chain, and approx-vs-exact median drift.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.operators.windows import (
    add_lags,
    ma_baseline,
    rolling_exprs,
    rolling_range_exprs,
)


@pytest.fixture(scope="module")
def series(spark):
    # One series with a calendar GAP: 2024-01-04 is missing.
    rows = [
        ("A", "2024-01-01", 10.0),
        ("A", "2024-01-02", 20.0),
        ("A", "2024-01-03", 30.0),
        ("A", "2024-01-05", 40.0),  # gap: no 01-04
        ("A", "2024-01-06", 50.0),
        ("B", "2024-01-01", 7.0),  # second key: frames must not leak across
    ]
    df = spark.createDataFrame(rows, "k string, ds string, v double")
    return df.withColumn("ds", F.col("ds").cast("date"))


def _by_key(df, cols):
    out = {}
    for r in df.collect():
        out[(r["k"], str(r["ds"]))] = tuple(r[c] for c in cols)
    return out


def test_lag_ignores_calendar_gaps(series):
    """lag(1) is ROW-based: on 01-05 it sees 01-03 (previous row), not a
    null for the missing 01-04 (SURVEY.md §2.5 frame semantics)."""
    out = add_lags(series, ["k"], "ds", ["v"], [1], round_digits=0)
    got = _by_key(out, ["v_lag1"])
    assert got[("A", "2024-01-05")] == (30.0,)
    # first row of each partition: lag is null -> coalesced to 0
    assert got[("A", "2024-01-01")] == (0.0,)
    assert got[("B", "2024-01-01")] == (0.0,)  # no leak from series A


def test_trailing_frame_excludes_current_row(series):
    """rowsBetween(-2, -1): mean on 01-03 is avg(10, 20) = 15 — the
    current row's 30 must NOT contribute."""
    out = series.select(
        "*", *rolling_exprs(["k"], "ds", "v", [2], stats=("mean",))
    )
    got = _by_key(out, ["roll_mean_2"])
    assert got[("A", "2024-01-03")] == (15.0,)
    # frame has only 1 row on the second day
    assert got[("A", "2024-01-02")] == (10.0,)
    # empty frame on day one -> null
    assert got[("A", "2024-01-01")] == (None,)


def test_stddev_samp_null_on_one_row_frame(series):
    """stddev_samp (n-1) is undefined for a single-row frame -> null,
    and fillna(0) then makes it 0 (the reference's py:969-982 wart)."""
    raw = series.select(
        "k", "ds", *rolling_exprs(["k"], "ds", "v", [2], stats=("std",))
    )
    got = _by_key(raw, ["roll_std_2"])
    assert got[("A", "2024-01-02")] == (None,)  # 1-row frame
    filled = raw.fillna(0, subset=["roll_std_2"])
    gotf = _by_key(filled, ["roll_std_2"])
    assert gotf[("A", "2024-01-02")] == (0.0,)
    # 2-row frame {10, 20}: sample std = sqrt(50)
    assert math.isclose(gotf[("A", "2024-01-03")][0], math.sqrt(50.0))


def test_ma_baseline_fallback_chain(series):
    """baseline = coalesce(trailing-6 MA, lag1): null only where the
    series has no history at all (first row)."""
    out = ma_baseline(series, ["k"], "ds", "v", window=6)
    got = _by_key(out, ["baseline_qty"])
    assert got[("A", "2024-01-01")] == (None,)
    assert got[("A", "2024-01-02")] == (10.0,)
    assert got[("A", "2024-01-03")] == (15.0,)  # avg(10, 20)
    assert got[("B", "2024-01-01")] == (None,)


def test_exact_median_interpolates_and_approx_picks_element(series):
    """Exact percentile(0.5) interpolates even-count frames (ANSI MEDIAN
    semantics); percentile_approx returns an actual element — the
    reference's py:920-922 behavior. Both must agree on odd counts."""
    out = series.select(
        "k",
        "ds",
        *rolling_exprs(["k"], "ds", "v", [2], stats=("median", "median_approx")),
    )
    got = _by_key(out, ["roll_median_2", "roll_median_approx_2"])
    exact, approx = got[("A", "2024-01-03")]  # frame {10, 20}
    assert exact == 15.0  # interpolated
    assert approx in (10.0, 20.0)  # picks an element
    # odd-count frame {10}: both agree
    assert got[("A", "2024-01-02")] == (10.0, 10.0)


def test_weekday_partition_lags(spark):
    """W3: a dow key in the partition makes lag(1) reach the same weekday
    one week back, skipping the other six days."""
    rows = [("A", f"2024-01-{d:02d}", float(d)) for d in range(1, 15)]
    df = spark.createDataFrame(rows, "k string, ds string, v double")
    df = df.withColumn("ds", F.col("ds").cast("date")).withColumn(
        "dow", F.dayofweek("ds")
    )
    out = add_lags(df, ["k", "dow"], "ds", ["v"], [1], round_digits=0)
    got = {str(r["ds"]): r["v_lag1"] for r in out.collect()}
    assert got["2024-01-08"] == 1.0  # Monday -> previous Monday
    assert got["2024-01-14"] == 7.0  # Sunday -> previous Sunday
    assert got["2024-01-07"] == 0.0  # first Sunday: no history -> 0


def test_densify_fills_calendar_gaps(series):
    """densify_series inserts the missing 2024-01-04 row with zero-filled
    measures; series_gaps prices it beforehand."""
    from sales_forecast_pyspark_spark.operators.densify import (
        densify_series,
        series_gaps,
    )

    gaps = {r["k"]: (r["span_days"], r["n_obs"], r["n_missing"])
            for r in series_gaps(series, ["k"], "ds").collect()}
    assert gaps["A"] == (6, 5, 1)
    assert gaps["B"] == (1, 1, 0)

    dense = densify_series(series, ["k"], "ds", fill_zero=["v"])
    got = _by_key(dense, ["v"])
    assert got[("A", "2024-01-04")] == (0.0,)  # the gap, zero-filled
    assert got[("A", "2024-01-03")] == (30.0,)  # originals intact
    assert dense.count() == 7  # 6 days for A + 1 for B


def test_range_frame_respects_calendar_gaps(series):
    """The RANGE (calendar) frame vs the ROW frame on the gapped series:
    at 2024-01-06 a 3-DAY trailing frame sees only 01-03/01-05 values
    {30, 40} (01-02 is 4 days back), while a 3-ROW frame reaches across
    the gap to {20, 30, 40}. Frames must not leak across keys."""
    out = series.select(
        "k", "ds", "v",
        *rolling_range_exprs(["k"], "ds", "v", [3], ("mean", "count")),
        *rolling_exprs(["k"], "ds", "v", [3], ("mean",), name_fmt="row_{stat}_{w}"),
    )
    got = _by_key(out, ["range_mean_3d", "range_count_3d", "row_mean_3"])
    assert got[("A", "2024-01-06")] == (35.0, 2, 30.0)  # calendar vs row
    assert got[("A", "2024-01-05")] == (25.0, 2, 20.0)  # 01-02..01-04 window
    assert got[("A", "2024-01-01")][1] == 0  # empty frame -> count 0
    assert got[("B", "2024-01-01")][1] == 0  # no cross-key leakage


def test_interp_fill_hand_computed_gaps_and_edges(spark):
    """Linear interpolation on an engineered series: interior gaps get
    the exact linear blend (including a 3-day gap with two distinct
    interior points), observed rows pass through, and a leading-edge
    gap (no prior observation) stays null."""
    from datetime import date

    from pyspark.sql import functions as F

    from sales_forecast_pyspark_spark.operators.densify import interp_fill

    rows = [
        ("a", date(2024, 1, 1), 10.0),
        ("a", date(2024, 1, 2), None),
        ("a", date(2024, 1, 5), 22.0),   # gap days 2,3,4 -> 13, 16, 19
        ("a", date(2024, 1, 3), None),
        ("a", date(2024, 1, 4), None),
        ("a", date(2024, 1, 6), 1.0),
        ("b", date(2024, 1, 1), None),   # leading gap: stays null
        ("b", date(2024, 1, 2), 8.0),
    ]
    df = spark.createDataFrame(rows, "k string, ds date, v double")
    got = {
        (r["k"], str(r["ds"])): r["v_interp"]
        for r in interp_fill(df, ["k"], "v").collect()
    }
    assert got[("a", "2024-01-01")] == 10.0
    assert got[("a", "2024-01-02")] == 13.0
    assert got[("a", "2024-01-03")] == 16.0
    assert got[("a", "2024-01-04")] == 19.0
    assert got[("a", "2024-01-05")] == 22.0
    assert got[("a", "2024-01-06")] == 1.0
    assert got[("b", "2024-01-01")] is None
    assert got[("b", "2024-01-02")] == 8.0


def test_touch_attribution_property_matches_brute_force(spark):
    """Randomized event logs (seeded): per-channel conversion counts,
    revenue, and latency must equal a plain-Python replay of the
    last-touch rule, including interleaved users, purchase-before-touch
    ('none'), back-to-back purchases sharing one touch, and same-ts
    tie-break on event_id."""
    import random
    from datetime import datetime, timedelta

    from sales_forecast_pyspark_spark.operators.windows import touch_attribution

    rng = random.Random(46)
    types = ["view", "click", "signup", "purchase", "error"]
    base = datetime(2024, 3, 1)
    rows = []
    for eid in range(400):
        rows.append(
            (
                eid,
                base + timedelta(minutes=rng.randrange(0, 5000)),
                rng.randrange(12),
                rng.choice(types),
                round(rng.uniform(1, 200), 2),
            )
        )
    # same-timestamp collision: two touches + a purchase at one instant
    t = base + timedelta(minutes=9999)
    rows += [(900, t, 99, "click", 5.0), (901, t, 99, "view", 5.0),
             (902, t, 99, "purchase", 7.0)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = {
        r["channel"]: (r["conversions"], r["attributed_revenue"], r["avg_days_to_convert"])
        for r in touch_attribution(df).collect()
    }
    # brute force: replay each user timeline in (ts, event_id) order
    touches = {"view", "click", "signup"}
    per_user = {}
    for row in rows:
        per_user.setdefault(row[2], []).append(row)
    agg = {}
    for user, evs in per_user.items():
        last = None  # (type, ts)
        for eid, ts, _, et, val in sorted(evs, key=lambda r: (r[1], r[0])):
            if et in touches:
                last = (et, ts)
            elif et == "purchase":
                ch = last[0] if last else "none"
                c, rev, lat = agg.get(ch, (0, 0.0, []))
                if last:
                    lat = lat + [(ts - last[1]).total_seconds()]
                agg[ch] = (c + 1, round(rev + val, 2), lat)
    for ch, (c, rev, lats) in agg.items():
        gc, grev, glat = got[ch]
        assert gc == c, (ch, gc, c)
        assert abs(grev - rev) < 1e-9, (ch, grev, rev)
        if lats:
            assert abs(glat - round(sum(lats) / len(lats) / 86400, 4)) < 1e-9, ch
        else:
            assert glat is None
    assert set(got) == set(agg)


def test_interp_fill_property_matches_numpy(spark):
    """Randomized gappy series (seeded): interp_fill's interior fills
    must match numpy.interp on day ordinals to the rounding scale, for
    several series in one frame."""
    import random

    import numpy as np
    from datetime import date, timedelta

    from sales_forecast_pyspark_spark.operators.densify import interp_fill

    rng = random.Random(77)
    rows, expect = [], {}
    base = date(2024, 1, 1)
    for k in range(4):
        n = rng.randrange(8, 25)
        obs = sorted(rng.sample(range(n * 2), n))
        vals = [round(rng.uniform(-50, 50), 3) for _ in obs]
        full = range(obs[0], obs[-1] + 1)
        interp = np.interp(list(full), obs, vals)
        for d in full:
            ds = base + timedelta(days=d)
            v = vals[obs.index(d)] if d in obs else None
            rows.append((str(k), ds, v))
            expect[(str(k), str(ds))] = round(float(interp[d - obs[0]]), 6)
    df = spark.createDataFrame(rows, "k string, ds date, v double")
    got = {
        (r["k"], str(r["ds"])): r["v_interp"]
        for r in interp_fill(df, ["k"], "v").collect()
    }
    assert set(got) == set(expect)
    for key, want in expect.items():
        assert got[key] is not None and abs(got[key] - want) <= 1e-6, (
            key, got[key], want,
        )
