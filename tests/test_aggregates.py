"""multi_level_agg: grouping-level structure, grouping_id bitmask
convention, and the one-exchange plan shape. Value correctness against
DuckDB GROUP BY CUBE is covered by the cube_sales oracle query."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.operators.aggregates import (
    grouped_top_k,
    multi_level_agg,
)


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 5.0)],
        "c string, m int, x double",
    )


def test_cube_adds_per_m_level(spark, df):
    rows = {
        (r["c"], r["m"], r["gid"]): r["s"]
        for r in multi_level_agg(df, ["c", "m"], [F.sum("x").alias("s")]).collect()
    }
    # detail (gid 0), per-c subtotal (gid 1, low bit = m rolled up), grand (gid 3)
    assert rows[("a", 1, 0)] == 10.0
    assert rows[("a", None, 1)] == 30.0
    assert rows[(None, None, 3)] == 35.0
    assert rows[(None, 1, 2)] == 15.0
    assert rows[(None, 2, 2)] == 20.0


def test_cube_is_single_exchange(spark, df):
    plan = (
        multi_level_agg(df, ["c", "m"], [F.sum("x").alias("s")])
        ._jdf.queryExecution().executedPlan().toString()
    )
    # grouping-set expansion happens before ONE shuffle (Expand node),
    # not one job per level
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_grouped_top_k_ranks_and_bounds(spark):
    df = spark.createDataFrame(
        [("a", "x", 5.0), ("a", "y", 9.0), ("a", "z", 1.0), ("b", "x", 2.0)],
        "g string, item string, score double",
    )
    from pyspark.sql import functions as F

    got = {
        (r["g"], r["rank"]): r["item"]
        for r in grouped_top_k(
            df, ["g"], [F.col("score").desc(), F.col("item")], 2
        ).collect()
    }
    assert got == {("a", 1): "y", ("a", 2): "x", ("b", 1): "x"}


def test_grouped_top_k_tie_break_is_total(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("a", "m", 5.0), ("a", "k", 5.0)], "g string, item string, score double"
    )
    rows = grouped_top_k(
        df, ["g"], [F.col("score").desc(), F.col("item")], 1
    ).collect()
    assert [(r["item"], r["rank"]) for r in rows] == [("k", 1)]


def test_quality_report_detects_violations(spark):
    """The constraint checks must actually fire: a synthetic fact table
    with one null key, one duplicated (k1,k2) pair, and one FK orphan
    yields exactly those violation counts (clean testdata proves the
    zero side in the registered oracle query)."""
    from sales_forecast_pyspark_spark.operators.quality import quality_report

    fact = spark.createDataFrame(
        [
            (1, 1, 10.0),
            (1, 1, 11.0),  # duplicate (k, line)
            (2, 1, None),  # null measure
            (None, 2, 3.0),  # null key (not an FK orphan)
            (99, 1, 4.0),  # FK orphan
        ],
        "k long, line long, v double",
    )
    dim = spark.createDataFrame([(1,), (2,)], "pk long")
    rep = {
        r["check"]: (r["n_checked"], r["n_violations"])
        for r in quality_report(
            fact, not_null=["k", "v"], unique_key=["k", "line"], fk=("k", dim, "pk")
        ).collect()
    }
    assert rep["not_null:k"] == (5, 1)
    assert rep["not_null:v"] == (5, 1)
    assert rep["unique:k,line"] == (5, 1)
    assert rep["fk:k->pk"] == (4, 1)


def test_winsorize_clips_to_group_cuts_and_passes_nulls(spark):
    """winsorize: values outside the group's [lo, hi] interpolated cuts
    are pulled to the cut, in-range values and nulls pass through, and
    groups are independent. p0/p1 degenerate cuts clip to min/max."""
    from sales_forecast_pyspark_spark.operators.rowops import winsorize

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 11)]  # 1..10
        + [("a", None), ("b", 100.0), ("b", 200.0)],
        "g string, v double",
    )
    out = winsorize(df, "v", ["g"], lo=0.1, hi=0.9)
    a = {r["v"]: r["v_w"] for r in out.filter("g = 'a'").collect()}
    # cuts for 1..10 at p10/p90: 1.9 and 9.1 (linear interpolation)
    assert a[1.0] == 1.9 and a[10.0] == 9.1
    assert a[5.0] == 5.0
    assert a[None] is None
    b = {r["v"]: r["v_w"] for r in out.filter("g = 'b'").collect()}
    # two points: p10 = 110, p90 = 190
    assert b[100.0] == 110.0 and b[200.0] == 190.0
    # schema: one added column, original order preserved
    assert out.columns == ["g", "v", "v_w"]

    full = winsorize(df.filter("v is not null"), "v", ["g"], lo=0.0, hi=1.0)
    vals = {(r["g"], r["v"]): r["v_w"] for r in full.collect()}
    assert all(vals[k] == k[1] for k in vals)


def test_retention_matrix_property_matches_brute_force(spark):
    """retention_matrix == per-user first-week cohorting in plain
    Python over a deterministic multi-week layout (including users
    active only in week 0 and a user first seen late)."""
    from collections import Counter
    from datetime import date, timedelta

    from sales_forecast_pyspark_spark.operators.aggregates import retention_matrix

    monday = date(2024, 1, 1)  # a Monday
    rows = []
    eid = 0
    layout = {
        1: [0, 0, 1, 3],      # active weeks 0,1,3
        2: [0],               # week 0 only
        3: [2, 2, 2],         # first seen week 2 -> its own cohort
        4: [0, 1, 2, 3],
    }
    for u, weeks in layout.items():
        for w in weeks:
            rows.append((eid, u, monday + timedelta(weeks=w, days=eid % 5)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, d date") \
        .selectExpr("event_id", "user_id", "cast(d as timestamp) as ts")
    got = {
        (str(r["cohort_week"]), r["week_offset"]): r["n_active"]
        for r in retention_matrix(df).collect()
    }
    expect = Counter()
    for u, weeks in layout.items():
        cohort = min(weeks)
        for w in set(weeks):
            expect[(str(monday + timedelta(weeks=cohort)), w - cohort)] += 1
    assert got == dict(expect), (got, expect)


def test_ols_trend_matches_numpy_lstsq(spark):
    """Closed-form sufficient-statistic OLS == numpy least squares on a
    deterministic multi-group fixture (slope/intercept to 6 digits),
    including a vertical-line group (zero x-variance -> nulls, not a
    division error)."""
    import numpy as np

    from sales_forecast_pyspark_spark.operators.aggregates import ols_trend

    rng = [(g, x, (3 + 2 * g) * x + 17 - g + ((x * 7 + g) % 5) - 2)
           for g in range(3) for x in range(40)]
    rows = rng + [(9, 5, y) for y in (1, 2, 3)]  # degenerate: constant x
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {r["g"]: r for r in ols_trend(df, ["g"], "x", "y").collect()}
    for g in range(3):
        pts = [(x, y) for gg, x, y in rng if gg == g]
        A = np.array([[x, 1.0] for x, _ in pts])
        b = np.array([y for _, y in pts], dtype=float)
        slope, icept = np.linalg.lstsq(A, b, rcond=None)[0]
        assert abs(got[g]["slope"] - round(slope, 6)) < 2e-6, (g, got[g])
        assert abs(got[g]["intercept"] - round(icept, 6)) < 2e-6, (g, got[g])
    assert got[9]["slope"] is None and got[9]["intercept"] is None


def test_ols_trend_survives_int64_overflow_magnitudes(spark):
    """Large-valued series whose cross products exceed 2^63: the old
    long×long normal-equation math wrapped silently (Σxy alone here is
    ~2.6e21); the decimal sufficient statistics must stay exact. The
    expected line is computed with Python's unbounded ints."""
    from sales_forecast_pyspark_spark.operators.aggregates import ols_trend

    # y ~ 3x + 1e9 with deterministic jitter, x ~ 1e9: n=300 rows gives
    # Σxy ≈ 300 · 1e9 · 3e9 ≈ 9e26 — far past the 9.2e18 long ceiling
    pts = [
        (10**9 + 7 * i, 3 * (10**9 + 7 * i) + 10**9 + (i % 11) - 5)
        for i in range(300)
    ]
    df = spark.createDataFrame([(1, x, y) for x, y in pts], "g long, x long, y long")
    row = ols_trend(df, ["g"], "x", "y").collect()[0]

    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxx = sum(x * x for x, _ in pts)
    sxy = sum(x * y for x, y in pts)
    den = n * sxx - sx * sx
    exp_slope = round(float(n * sxy - sx * sy) / float(den), 6)
    exp_icept = round(float(sy * sxx - sx * sxy) / float(den), 6)
    # doubles near 1e9 carry ~2e-7 absolute ulp noise through the final
    # cast+round, so compare with a tolerance, not equality
    assert abs(row["slope"] - exp_slope) < 1e-9, (row["slope"], exp_slope)
    assert abs(row["intercept"] - exp_icept) < 1e-5, (row["intercept"], exp_icept)
    assert abs(row["slope"] - 3.0) < 1e-3  # sanity: the planted trend


def test_ols_trend_nulls_group_on_per_row_product_overflow(spark):
    """Exactness audit (ADVICE r07): a decimal input wide enough that a
    single per-row product exceeds decimal(38,0) would be silently
    SKIPPED by F.sum while n_obs still counts it — a silently wrong
    slope. The audit must instead null the whole group's outputs,
    while an in-range sibling group still computes."""
    from decimal import Decimal

    from sales_forecast_pyspark_spark.operators.aggregates import ols_trend

    wide = Decimal(10) ** 19 + 7  # fits decimal(20,0); square ~1e38 overflows
    rows = [(1, Decimal(i), Decimal(2 * i + 1)) for i in range(10)]
    rows += [(2, Decimal(i), Decimal(3 * i)) for i in range(5)]
    rows += [(2, wide, wide)]  # poisons only group 2
    df = spark.createDataFrame(rows, "g long, x decimal(20,0), y decimal(20,0)")

    # ANSI mode (the Spark 4 session default): the overflow errors the
    # job at the cast — already loud, audit not needed
    import pytest

    with pytest.raises(Exception, match="NUMERIC_VALUE_OUT_OF_RANGE"):
        ols_trend(df, ["g"], "x", "y").collect()

    # non-ANSI mode: the cast yields NULL and F.sum would silently skip
    # the row — the exactness audit must null the poisoned group's
    # outputs while the clean group still computes
    saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = {r["g"]: r for r in ols_trend(df, ["g"], "x", "y").collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", saved)
    assert got[1]["slope"] == 2.0 and got[1]["intercept"] == 1.0, got[1]
    assert got[2]["slope"] is None and got[2]["intercept"] is None, got[2]
    assert got[2]["n_obs"] == 6  # the count still tells the truth


def test_ols_trend_nulls_group_on_one_sided_null(spark):
    """Code-review r08: a row with x present but y NULL still pollutes
    Σx/Σx² while missing from Σy/Σxy — the closed form over n_obs
    would be silently wrong. The audit gates on n_obs, so the group
    nulls out; a clean sibling group still computes."""
    from sales_forecast_pyspark_spark.operators.aggregates import ols_trend

    rows = [(1, i, 2 * i + 1) for i in range(10)]
    rows += [(2, i, 3 * i) for i in range(5)] + [(2, 7, None)]
    df = spark.createDataFrame(rows, "g long, x long, y long")
    got = {r["g"]: r for r in ols_trend(df, ["g"], "x", "y").collect()}
    assert got[1]["slope"] == 2.0 and got[1]["intercept"] == 1.0, got[1]
    assert got[2]["slope"] is None and got[2]["intercept"] is None, got[2]
    assert got[2]["n_obs"] == 6


def test_snapshot_reconcile_classifies_all_four_statuses(spark):
    """Engineered snapshots: one key per status class, null-vs-value
    counts as 'changed' (null-safe equality), null-vs-null as 'same',
    and the delta nets added minus removed exactly."""
    from sales_forecast_pyspark_spark.operators.quality import (
        snapshot_reconcile,
    )

    base = spark.createDataFrame(
        [(1, 2, 10.0), (2, 1, 5.5), (3, 4, None), (5, 1, None)],
        "k long, n long, rev double",
    )
    cur = spark.createDataFrame(
        [(1, 2, 10.0), (3, 4, 7.25), (4, 9, 100.0), (5, 1, None)],
        "k long, n long, rev double",
    )
    got = {
        r["status"]: (r["n_keys"], r["rev_delta"])
        for r in snapshot_reconcile(
            base, cur, ["k"], ["n", "rev"], delta_col="rev"
        ).collect()
    }
    assert got["same"] == (2, 0.0)          # k=1 identical, k=5 null==null
    assert got["changed"] == (1, 7.25)      # k=3: null -> 7.25
    assert got["added"] == (1, 100.0)       # k=4
    assert got["removed"] == (1, -5.5)      # k=2


def test_cohort_set_summary_null_keys_and_duplicates(spark):
    """Set-op semantics pinned: INTERSECT/EXCEPT are DISTINCT and match
    NULL keys (unlike an equi semi join), duplicates collapse."""
    from sales_forecast_pyspark_spark.operators.setops import (
        cohort_set_summary,
    )

    a = spark.createDataFrame([(1,), (1,), (2,), (None,)], "k int")
    b = spark.createDataFrame([(2,), (None,), (None,), (3,)], "k int")
    got = {
        r["segment"]: r["n_keys"]
        for r in cohort_set_summary(a, b).collect()
    }
    assert got == {"both": 2, "only_a": 1, "only_b": 1}  # NULL lands in both


def test_numeric_drift_report_null_rates_and_mean_shift(spark):
    """Engineered snapshots: the drift screen must report exact null
    rates per side, exact means over the non-null values, and their
    difference — including an all-null column on one side (mean null,
    null_rate 1.0)."""
    from sales_forecast_pyspark_spark.operators.quality import (
        numeric_drift_report,
    )

    base = spark.createDataFrame(
        [(1.0, 10.0), (2.0, None), (3.0, 20.0), (None, 30.0)],
        "a double, b double",
    )
    cur = spark.createDataFrame(
        [(2.0, None), (4.0, None), (None, None), (None, None)],
        "a double, b double",
    )
    got = {
        r["column"]: r
        for r in numeric_drift_report(base, cur, ["a", "b"]).collect()
    }
    ra, rb = got["a"], got["b"]
    assert ra["null_rate_base"] == 0.25 and ra["null_rate_cur"] == 0.5
    assert ra["mean_base"] == 2.0 and ra["mean_cur"] == 3.0
    assert ra["mean_shift"] == 1.0
    assert rb["null_rate_base"] == 0.25 and rb["null_rate_cur"] == 1.0
    assert rb["mean_base"] == 20.0 and rb["mean_cur"] is None
    assert rb["mean_shift"] is None
