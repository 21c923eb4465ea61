"""Property tests for the determinism core: the decimal aggregation
helpers must be invariant to partitioning/order (the property every
oracle hash depends on), and the salted join must be result-equivalent
to a plain join.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.functions.deterministic import (
    money_sum,
    stable_avg,
    weighted_sum,
)
from sales_forecast_pyspark_spark.operators.joins import salted_join

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from sales_forecast_pyspark_spark.session import get_spark

        _spark = get_spark("determinism", **{"spark.sql.shuffle.partitions": "4"})
    return _spark


money = st.decimals(
    min_value=-99999, max_value=99999, places=2, allow_nan=False, allow_infinity=False
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(money, min_size=1, max_size=40), st.integers(1, 7))
def test_money_sum_partition_invariant(values, parts):
    """round(sum(money),2) through decimal must not depend on the number
    of partitions (i.e. on partial-aggregation order)."""
    spark = _get_spark()
    doubles = [float(v) for v in values]
    results = set()
    for p in (1, parts):
        df = spark.createDataFrame([(v,) for v in doubles], "x double").repartition(p)
        row = df.agg(
            money_sum(F.col("x")).alias("m"),
            stable_avg(F.col("x"), scale=2).alias("a"),
            weighted_sum(F.col("x"), F.lit(1.0)).alias("w"),
        ).first()
        results.add((row["m"], row["a"], row["w"]))
    assert len(results) == 1, results


def test_salted_join_equals_plain_join(spark):
    """Salted inner/left joins must produce exactly the rows a plain join
    does, including a hot key occupying most of the left side."""
    left = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, 0), (3, 0)], "k int, lv int"
    )
    right = spark.createDataFrame([(1, "hot"), (2, "cold")], "k int, rv string")
    for how in ("inner", "left"):
        plain = sorted(
            tuple(r) for r in left.join(right, "k", how).select("k", "lv", "rv").collect()
        )
        salted = sorted(
            tuple(r)
            for r in salted_join(left, right, ["k"], how=how)
            .select("k", "lv", "rv")
            .collect()
        )
        assert salted == plain


def test_fast_rollup_mode_approximates_exact(spark):
    """The panel's daily_rollup with exact=False — the ~2x-faster path
    the reference-parity table runs — must agree with the exact mode to
    float tolerance (only last-ulp, partitioning-dependent variation is
    permitted)."""
    import math

    from sales_forecast_pyspark_spark.operators.aggregates import daily_rollup
    from sales_forecast_pyspark_spark.plans.panel import (
        PANEL_GRAIN,
        PANEL_QTY_COL,
        enrich_for_panel,
        panel_price_expr,
        panel_revenue_expr,
    )
    from sales_forecast_pyspark_spark.sources.readers import read_table

    sf = "/root/testdata/sf0.001"
    enriched = enrich_for_panel(
        *(read_table(spark, sf, t) for t in ("lineitem", "supplier", "nation"))
    )

    def panel(exact):
        return daily_rollup(
            enriched,
            keys=PANEL_GRAIN,
            qty_col=PANEL_QTY_COL,
            revenue_expr=panel_revenue_expr(),
            price_expr=panel_price_expr(),
            exact=exact,
        ).collect()

    exact = {(r["country"], r["stock"], str(r["ds"])): (r["qty"], r["revenue"], r["avg_price"])
             for r in panel(True)}
    fast = {(r["country"], r["stock"], str(r["ds"])): (r["qty"], r["revenue"], r["avg_price"])
            for r in panel(False)}
    assert set(exact) == set(fast)
    for k, (q, rev, price) in exact.items():
        fq, frev, fprice = fast[k]
        assert fq == q
        assert math.isclose(frev, rev, abs_tol=0.011)  # fast mode rounds at 2
        assert math.isclose(fprice, price, abs_tol=0.011)
