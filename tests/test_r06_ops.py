"""Unit tests for the r06 operator tranche: distributed prefix sum,
EWMA baseline, streaks, mutual information, bigram surprisal."""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_partitioned_cumsum_matches_single_window(spark):
    """The two-phase distributed scan must produce EXACTLY the values of
    the textbook single-reducer window, for any partition count."""
    from sales_forecast_pyspark_spark.operators.prefix import partitioned_cumsum

    rows = [(i, float((i * 37) % 100) + 0.25) for i in range(1, 501)]
    df = spark.createDataFrame(rows, "k int, v double").repartition(7)

    expected = {
        r["k"]: r["cum"]
        for r in df.withColumn(
            "cum",
            F.sum(F.col("v").cast("decimal(30,6)")).over(
                Window.orderBy(F.col("v").desc(), F.col("k").asc()).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        ).collect()
    }

    for nparts in (1, 3, 16):
        got = {
            r["k"]: r["cum"]
            for r in partitioned_cumsum(
                df,
                [F.col("v").desc(), F.col("k").asc()],
                F.col("v"),
                "cum",
                num_partitions=nparts,
            ).collect()
        }
        assert got == expected, f"nparts={nparts}"


def test_partitioned_cumsum_no_single_partition_data_window(spark):
    """The plan must not contain an un-partitioned window over the DATA:
    every data-sized Window node carries the partition-id key (the only
    global window runs over per-partition totals)."""
    from sales_forecast_pyspark_spark.operators.prefix import partitioned_cumsum

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    out = partitioned_cumsum(
        df, [F.col("v").asc(), F.col("k").asc()], F.col("v"), "cum",
        num_partitions=8,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re

    windows = re.findall(r"Window \[.*?windowspecdefinition\(([^)]*)\)", plan)
    assert windows, plan
    # exactly one window (the offsets one) may omit _cs_pid from its spec
    unkeyed = [w for w in windows if "_cs_pid" not in w]
    assert len(unkeyed) <= 1, plan


def test_ewma_baseline_hand_computed(spark):
    from sales_forecast_pyspark_spark.operators.windows import ewma_baseline

    rows = [("a", 1, 1, 10.0), ("a", 1, 2, 20.0), ("a", 1, 3, 40.0)]
    df = spark.createDataFrame(rows, "country string, stock int, ds int, qty double")
    out = {
        r["ds"]: r["ewma_qty"]
        for r in ewma_baseline(df, ["country", "stock"], "ds", "qty").collect()
    }
    assert out[1] is None  # no history
    assert out[2] == 10.0  # only lag1: 10*0.5 / 0.5
    # lags: l1=20 (w .5), l2=10 (w .25) -> (10 + 2.5) / 0.75 = 50/3
    assert abs(out[3] - 50.0 / 3.0) < 1e-12


def test_user_streaks_islands(spark):
    from sales_forecast_pyspark_spark.plans.queries import QUERIES  # noqa: F401

    rows = [
        (1, "2024-01-01"), (1, "2024-01-02"), (1, "2024-01-03"),
        (1, "2024-01-05"),
        (2, "2024-01-10"),
    ]
    d = spark.createDataFrame(rows, "user_id int, day string").select(
        "user_id", F.col("day").cast("date").alias("day")
    )
    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("day"))
    g = d.withColumn("anchor", F.date_sub(F.col("day"), rn))
    s = g.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    out = {
        r["user_id"]: (r["n_active_days"], r["longest_streak"], r["n_streaks"])
        for r in s.groupBy("user_id")
        .agg(
            F.sum("len").alias("n_active_days"),
            F.max("len").alias("longest_streak"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .collect()
    }
    assert out[1] == (4, 3, 2)
    assert out[2] == (1, 1, 1)


def test_mutual_information_independent_and_dependent(spark):
    from sales_forecast_pyspark_spark.operators.quality import (
        categorical_mutual_information,
    )

    # independent: x uniform over 2, y uniform over 2, all combos equal
    rows = [(x, y) for x in ("a", "b") for y in (0, 1) for _ in range(25)]
    df = spark.createDataFrame(rows, "x string, y int")
    mi = categorical_mutual_information(df, "x", "y").first()
    assert mi["n_events"] == 100 and mi["n_cells"] == 4
    assert mi["mi_nats"] == 0.0

    # perfectly dependent: y == f(x) with 2 classes -> MI = ln 2
    rows = [("a", 0)] * 50 + [("b", 1)] * 50
    df = spark.createDataFrame(rows, "x string, y int")
    mi = categorical_mutual_information(df, "x", "y").first()
    assert abs(mi["mi_nats"] - round(math.log(2), 4)) <= 1e-4


def test_bigram_surprisal_separates_word_salad(spark):
    """Both docs use only corpus-common TOKENS; the shuffled one uses
    rare SEQUENCES and must score strictly higher on the bigram tier."""
    from sales_forecast_pyspark_spark.llmdata.text import bigram_surprisal

    common = "the cat sat on the mat " * 10
    salad = "mat the on cat the sat " + "the cat sat on the mat " * 9
    docs = spark.createDataFrame(
        [(1, common), (2, salad)], "doc_id int, text string"
    )
    out = {r["doc_id"]: r["avg_surprisal"] for r in bigram_surprisal(docs).collect()}
    assert out[2] > out[1]


def test_abc_products_classes_partition_revenue(spark):
    from sales_forecast_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_SMALL

    rows = QUERIES["abc_products"].builder(spark, SF_SMALL).collect()
    assert rows, "empty ABC output"
    # cum_share non-decreasing in output order and ends at 1.0
    shares = [r["cum_share"] for r in rows]
    assert all(a <= b for a, b in zip(shares, shares[1:]))
    assert abs(shares[-1] - 1.0) < 1e-9
    # class boundaries respect the declared cuts, in order A..B..C
    classes = [r["abc_class"] for r in rows]
    assert sorted(classes) == list(classes)  # A* then B* then C*
    for r in rows:
        if r["abc_class"] == "A":
            assert r["cum_share"] <= 0.8
        elif r["abc_class"] == "B":
            assert 0.8 < r["cum_share"] <= 0.95
        else:
            assert r["cum_share"] > 0.95


def test_cusum_flat_series_is_zero_and_step_excurses(spark):
    """A constant series random-walks at exactly 0; a level shift drives
    a large excursion (the triangle peak n/2 * shift/2 at the break)."""
    from sales_forecast_pyspark_spark.plans.queries import QUERIES  # noqa: F401

    flat = [("x", 1, d, 10.0) for d in range(1, 21)]
    step = [("x", 2, d, 10.0) for d in range(1, 11)] + [
        ("x", 2, d, 30.0) for d in range(11, 21)
    ]
    panel = spark.createDataFrame(
        flat + step, "country string, stock int, ds int, qty double"
    )
    from pyspark.sql import Window as W

    st = panel.groupBy("country", "stock").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qty").cast("decimal(30,2)")).alias("s"),
    )
    w = W.partitionBy("country", "stock").orderBy("ds")
    prefix = F.sum(F.col("qty").cast("decimal(30,2)")).over(
        w.rowsBetween(W.unboundedPreceding, 0)
    )
    rn = F.row_number().over(w)
    c = panel.join(st, ["country", "stock"]).select(
        "stock", (F.col("n") * prefix - rn * F.col("s")).alias("cs"), "n"
    )
    out = {
        r["stock"]: (r["mx"], r["mn"])
        for r in c.groupBy("stock")
        .agg(
            (F.max("cs").cast("double") / F.max("n")).alias("mx"),
            (F.min("cs").cast("double") / F.max("n")).alias("mn"),
        )
        .collect()
    }
    assert out[1] == (0.0, 0.0)
    # mean = 20; first 10 rows deviate -10 each -> min excursion -100
    assert out[2][1] == -100.0 and out[2][0] == 0.0


def test_mase_equal_forecasts_is_one(spark):
    """When the model IS the seasonal naive, MASE == 1 exactly."""
    rows = [("x", 1, d, float(d % 7) + 1) for d in range(1, 29)]
    panel = spark.createDataFrame(
        rows, "country string, stock int, ds int, qty double"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("country", "stock").orderBy("ds")
    f = panel.withColumn("model_fc", F.lag("qty", 7).over(w)).withColumn(
        "naive_fc", F.lag("qty", 7).over(w)
    )
    e = f.filter(F.col("model_fc").isNotNull()).select(
        F.round(F.abs(F.col("qty") - F.col("model_fc")), 7)
        .cast("decimal(30,7)")
        .alias("em"),
        F.round(F.abs(F.col("qty") - F.col("naive_fc")), 7)
        .cast("decimal(30,7)")
        .alias("en"),
    )
    # periodic series: naive error is 0 -> mase undefined; perturb one row
    r = e.agg(F.sum("em").alias("sem"), F.sum("en").alias("sen")).first()
    assert float(r["sem"]) == float(r["sen"])


def test_source_quality_report_counts_planted_dups(spark):
    docs = spark.createDataFrame(
        [
            (1, "same text", "en", "a", 9),
            (2, "same text", "en", "a", 9),
            (3, "unique one", "fr", "a", 10),
            (4, "other", "en", "b", 5),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = docs.select("source", "lang", "n_chars", F.md5("text").alias("fp"))
    dup = (
        d.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("fp", F.lit(1).alias("_dup"))
    )
    out = {
        r["source"]: (r["n_docs"], r["n_dup"], r["share_en"])
        for r in d.join(dup, "fp", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).alias("n_dup"),
            (
                F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("share_en"),
        )
        .collect()
    }
    assert out["a"] == (3, 2, 2.0 / 3.0)
    assert out["b"] == (1, 0, 1.0)


def test_weekday_seasonality_bounds_and_extremes(spark):
    """Pure weekday pattern -> strength ~1; constant series -> NULL
    (zero variance); noise-free flat-with-trendless series bounded in
    [0, 1]."""
    from sales_forecast_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_SMALL

    rows = QUERIES["weekday_seasonality"].builder(spark, SF_SMALL).collect()
    assert rows
    vals = [r["seasonal_strength"] for r in rows if r["seasonal_strength"] is not None]
    assert vals, "all-null strength"
    assert all(-1e-9 <= v <= 1 + 1e-9 for v in vals)


def test_value_histogram_bins_partition_counts(spark):
    from sales_forecast_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_SMALL
    from sales_forecast_pyspark_spark.sources.readers import read_table

    rows = QUERIES["value_histogram"].builder(spark, SF_SMALL).collect()
    total = sum(r["n"] for r in rows)
    n_events = read_table(spark, SF_SMALL, "events").count()
    assert total == n_events  # every event lands in exactly one bin
    for r in rows:
        assert r["bin_lo"] == r["bin"] * 10.0


def test_pagerank_star_graph(spark):
    """On a 4-node star the center must dominate, leaves must tie
    exactly, and the rank vector must stay a probability distribution
    (sum 1 up to the contribution-rounding scale) — the hand-checkable
    invariants of the power iteration."""
    from sales_forecast_pyspark_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src int, dst int"
    )
    rows = {r["node"]: r for r in pagerank(edges, iterations=3).collect()}
    spark.catalog.clearCache()
    assert rows[0]["degree"] == 3 and all(rows[k]["degree"] == 1 for k in (1, 2, 3))
    leaves = {rows[k]["pagerank"] for k in (1, 2, 3)}
    assert len(leaves) == 1, "leaves must tie bit-exactly"
    assert rows[0]["pagerank"] > rows[1]["pagerank"]
    assert abs(sum(r["pagerank"] for r in rows.values()) - 1.0) < 1e-9


def test_pagerank_uniform_on_symmetric_graph(spark):
    """A single edge (two degree-1 nodes) is rank-stationary at the
    uniform vector: every iteration must return exactly 1/2 + rounding
    noise bounded by the decimal contribution scale."""
    from sales_forecast_pyspark_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(7, 9)], "src int, dst int")
    rows = pagerank(edges, iterations=4).collect()
    spark.catalog.clearCache()
    assert len(rows) == 2
    for r in rows:
        assert abs(r["pagerank"] - 0.5) < 1e-10


def test_curriculum_interleave_is_weighted_permutation(spark):
    """The interleave must assign each doc exactly one position
    (a permutation of 1..n), keep every source's internal md5 order,
    and schedule heavier sources earlier in aggregate (stride
    scheduling: a weight-4 source's i-th doc lands at virtual time i/4,
    so with equal source sizes its mean position must sit well below a
    weight-1 source's)."""
    from sales_forecast_pyspark_spark.plans.queries import QUERIES

    out = QUERIES["curriculum_interleave"].builder(
        spark, "/root/testdata/sf0.001"
    ).collect()
    n = len(out)
    assert sorted(r["position"] for r in out) == list(range(1, n + 1))
    by_src: dict[str, list] = {}
    for r in sorted(out, key=lambda r: r["position"]):
        by_src.setdefault(r["source"], []).append(r)
    for src, rows in by_src.items():
        idxs = [r["src_idx"] for r in rows]
        assert idxs == sorted(idxs), f"{src} lost its per-source order"
    mean_pos = {
        src: sum(r["position"] for r in rows) / len(rows)
        for src, rows in by_src.items()
    }
    heavy = [s for s, rows in by_src.items() if rows[0]["weight"] == 4]
    light = [s for s, rows in by_src.items() if rows[0]["weight"] == 1]
    assert heavy and light
    assert max(mean_pos[s] for s in heavy) < min(mean_pos[s] for s in light)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_edge_lists = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=40,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(_edge_lists)
def test_pagerank_matches_numpy_power_iteration(spark, edge_list):
    """On random small graphs the distributed PageRank must agree with a
    straight NumPy power iteration implementing the SAME update rule
    (teleport + damping * inbound sum of r/deg, contributions rounded at
    scale 12). Tolerance 1e-9 absorbs only the float-vs-decimal summation
    difference of the rounded contributions."""
    import numpy as np

    from sales_forecast_pyspark_spark.operators.graph import pagerank

    canon = sorted({(min(a, b), max(a, b)) for a, b in edge_list})
    nodes = sorted({n for e in canon for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for a, b in canon:
        deg[idx[a]] += 1
        deg[idx[b]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(3):
        contrib = np.zeros(n)
        for a, b in canon:
            contrib[idx[b]] += round(r[idx[a]] / deg[idx[a]], 12)
            contrib[idx[a]] += round(r[idx[b]] / deg[idx[b]], 12)
        r = 0.15 / n + 0.85 * contrib

    edges = spark.createDataFrame(edge_list, "src int, dst int")
    got = {row["node"]: row["pagerank"] for row in pagerank(edges, iterations=3).collect()}
    spark.catalog.clearCache()
    assert set(got) == set(nodes)
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-9, (node, got[node], r[idx[node]])
