"""Benchmark harness: times the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON
line the driver can parse:

    {"metric": "total_wall_sec", "value": N, "unit": "sec",
     "queries": {"daily_rollup": sec, ...}, "sf": 0.1}

Each query executes end-to-end through the noop sink (full plan runs,
nothing collects to the driver), timed with a monotonic clock. A small
warmup pass at sf0.001 first touches every table so JVM/codegen startup
cost is not attributed to the first measured query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from sales_forecast_pyspark_spark.session import get_spark
from sales_forecast_pyspark_spark.sources.readers import read_table

# Headline queries: the flagship rollup, the heaviest window/feature
# stages, the evaluation spine, the scale-sensitive joins, the ML
# pipeline, and the LLM-data operators. Per-query expectations vs the
# previous round live in BENCH_BASELINE.md.
#
# NOTE on eval-spine attribution: build_eval persists the shared
# panel+window plan, and the CacheManager shares it across the five
# spine queries — eval_join (first) pays the one-time cache fill;
# kpi_global/kpi_by_country/value_weighted_error then read warm cache.
BENCH_QUERIES = [
    "daily_rollup",
    "country_rollup",
    "topk_products",
    "lag_features",
    "rolling_stats",
    "rolling_range_stats",
    "ma_baseline",
    "eval_join",
    "kpi_global",
    "kpi_by_country",
    "value_weighted_error",
    "cube_sales",
    "top_products_per_country",
    "events_window",
    "sessionization",
    "asof_last_purchase",
    "events_near_errors",
    "sessionization_dynamic",
    "user_state_history",
    "key_skew_profile",
    "user_overlap_theta",
    "token_topk_sketch",
    "funnel_signup_view_purchase",
    "retention_weekly",
    "event_transitions",
    "doc_surprisal",
    "doc_keywords",
    "boilerplate_chunk_stats",
    "demand_autocorr",
    "event_value_profile",
    "pivot_event_counts",
    "events_json_extract",
    "latest_events_per_user",
    "distinct_users_hll",
    "data_quality_report",
    "embedding_centroids",
    "near_dedup_minhash",
    "sequence_packs",
    "forecast_lr",
    "doc_stats",
    "ann_lsh_pairs",
    "tfidf_similar_docs",
    # r05 tranche: the new join shapes (basket self-join, degree-ordered
    # wedge join, salted skew join) plus the cheap single-exchange aggs.
    "basket_lift",
    "copurchase_triangles",
    "salted_segment_value",
    "anomaly_zscore",
    "grouping_sets_sales",
    "embedding_norm_stats",
    "mom_growth",
    "weighted_doc_sample",
    # r06 tranche: the distributed prefix-sum shape, the Q1-style wide
    # agg, and the new window/LM shapes.
    "pricing_summary",
    "abc_products",
    "rfm_scores",
    "user_streaks",
    "time_weighted_value",
    "ewma_baseline",
    "bigram_surprisal",
    "mutual_information",
    "source_quality_report",
    "surprisal_filter_sweep",
    "cusum_changepoints",
    "seasonal_naive_mase",
    "interarrival_stats",
    "order_cycle_time",
    "value_histogram",
    "weekday_seasonality",
    "top_session_paths",
    "ltv_cohort_curves",
    "rolling_active_users",
    "next_error_asof",
    "stl_decompose_lite",
    # r06 star-schema decision-support tier (TPC-H query shapes)
    "shipping_priority",
    "late_order_priorities",
    "regional_supplier_volume",
    "discount_uplift_scan",
    "returned_revenue_top",
    "customer_order_histogram",
    "promo_revenue_share",
    "top_supplier_period",
    "small_order_part_revenue",
    "big_ticket_orders",
    "dormant_rich_customers",
    "pagerank_parts",
    "curriculum_interleave",
    "nation_trade_volume",
    "disjunctive_part_revenue",
    "waiting_suppliers",
    "incremental_ingest_dedup",
    "cheapest_supplier_per_part",
    "market_share_by_year",
    "product_profit_rollup",
    "supplier_diversity_by_part_attrs",
    "scd2_merge_history",
    "lineitem_drift_report",
    "touch_attribution",
    "country_trend_ols",
    "rolling_wau_hll",
    # r09: bounded-output ANN pair mining (BRP-LSH bucket join + per-item
    # window top-k + in-row recall audit) — a join+window shape the ANN
    # block didn't cover (ann_lsh_pairs is the threshold-mining shape).
    "ann_pairs_topk",
    "user_daily_interp",
    "order_backlog_sweep",
    "customer_snapshot_reconcile",
    "repeat_buyer_venn",
]

# Queries whose plans run once at sf0.01 before timing starts, so
# codegen/classloading/JIT happens off the clock (see main() for why
# the warmup SF matters). Module-level so tests/test_bench_lists.py can
# pin every name against the live registry — a renamed query must fail
# the suite, not silently fall out of the warmup and reappear as a
# mystery cold-tax board mover (the r11 ann_pairs_topk lesson).
WARMUP_QUERIES = [
    "daily_rollup",
    "ann_lsh_pairs",
    "tfidf_similar_docs",
    "near_dedup_minhash",
    "sequence_packs",
    "forecast_lr",
    "pagerank_parts",
    "small_order_part_revenue",
    # r11: registered r09 but never warmed — in board position it
    # paid LSH fit + first-compile (measured 18.7s board vs 5.4s
    # warm median, the largest cold tax on the r11 board)
    "ann_pairs_topk",
]

# Queries that additionally get ONE warm pass at the MEASURED SF inside
# prepare_steady_state (step 3 there): their sf0.01 warmup demonstrably
# fails to pre-compile the code the measured scale runs.
MEASURED_SF_WARMUP = ["pagerank_parts"]


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def _execute(df) -> None:
    # noop sink: runs the complete physical plan (all shuffles, all
    # expressions) without materializing results anywhere.
    df.write.format("noop").mode("overwrite").save()


def prepare_steady_state(
    spark, sf_dir: str, warmup: list[str], timings: dict | None = None
) -> None:
    """The shared measurement preamble — THE definition of 'warm' for
    both the board (main below) and the medians protocol
    (scripts/bench_medians.py imports this, so the two cannot drift;
    code-review r11). Two steps:

    1. Warmup: touch the fact table at sf0.001, then execute each
       `warmup` query's plan at sf0.01 so codegen/classloading/JIT
       happens off the clock. The warmup SF matters: at sf0.001 AQE
       broadcasts joins that sort-merge at sf0.1, so the generated
       code differs and the first measured heavy query still pays
       compilation (measured ~6s one-time on ann_lsh_pairs alone);
       sf0.01 keeps the measured scale's physical plan shapes.
    2. Shared frontiers, built ONCE at the measured SF and persisted —
       what a production session does. CacheManager matches cached
       plans by canonicalized subtree, so every query containing one
       reads the InMemoryRelation. Build cost is NOT hidden: when a
       `timings` dict is passed it is recorded under explicit
       "_frontier_*" keys that count toward the board total.
    """
    from sales_forecast_pyspark_spark.plans.panel import daily_panel
    from sales_forecast_pyspark_spark.plans.queries import (
        copurchase_pairs,
        queries,
    )

    registry = queries()
    try:
        _execute(read_table(spark, "/root/testdata/sf0.001", "lineitem"))
        for name in warmup:
            if name in registry:
                _execute(registry[name](spark, "/root/testdata/sf0.01"))
    except Exception as exc:  # pragma: no cover - warmup is best-effort
        print(f"warmup failed: {exc}", file=sys.stderr)
    def _pagerank_edge_frontier(spark, sf_dir):
        # the directed, u-partitioned edge cache every pagerank
        # iteration reads — built from the copurchase frontier cached
        # just above, so this fill is cheap and the measured
        # pagerank_parts run starts fully warm (VERDICT r12 ask #6:
        # run 1 was paying an 8.3s cache fill vs a 3.3s median)
        from pyspark.sql import functions as F

        from sales_forecast_pyspark_spark.operators.graph import (
            pagerank_edges,
        )

        return pagerank_edges(
            copurchase_pairs(spark, sf_dir).select(
                F.col("item_a").alias("src"), F.col("item_b").alias("dst")
            )
        )

    frontier_builds = (
        ("_frontier_daily_panel", daily_panel),
        ("_frontier_copurchase_pairs", copurchase_pairs),
        ("_frontier_pagerank_edges", _pagerank_edge_frontier),
    )
    for label, build in frontier_builds:
        try:
            # build lazily INSIDE the try: plan construction itself can
            # raise (missing table in a stripped-down sf_dir) and the
            # bench must degrade to the uncached path, not abort
            t0 = time.perf_counter()
            frontier = build(spark, sf_dir)
            frontier.cache()
            _execute(frontier)
            if timings is not None:
                timings[label] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # pragma: no cover - cache is optional
            print(f"frontier build failed ({label}): {exc}", file=sys.stderr)

    # 3. Measured-SF warm pass for queries whose generated code does
    # NOT transfer from the sf0.01 warmup. pagerank_parts: with the
    # edge cache already hot (step 2), its first sf0.1 execution still
    # paid ~3.5s of iteration-pipeline codegen/JIT that the sf0.01 pass
    # provably does not pre-compile (measured: warm pass 7.0s, next
    # runs 3.1-4.0s — run-1/median gap 2.1x without this, 1.04x with).
    # Cost is recorded under an explicit "_warm_*" key like the
    # frontiers — off the per-query clock, never hidden from the total.
    for name in MEASURED_SF_WARMUP:
        if name not in registry:
            continue
        try:
            t0 = time.perf_counter()
            _execute(registry[name](spark, sf_dir))
            if timings is not None:
                timings[f"_warm_{name}"] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # pragma: no cover - warmup best-effort
            print(f"measured-SF warmup failed ({name}): {exc}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")

    from sales_forecast_pyspark_spark.plans.queries import (
        q_big_ticket_orders,
        q_nation_trade_volume,
        queries,
    )

    registry = dict(queries())
    # retired from the driver registry (r13: big_ticket_orders, slot
    # spent on minhash_store_lifecycle; r14: nation_trade_volume, slot
    # spent on semantic_dedup_lifecycle) but kept on the bench board so
    # the cross-round per-query tail stays comparable — see the
    # retirement notes in plans/queries.py
    registry["big_ticket_orders"] = q_big_ticket_orders
    registry["nation_trade_volume"] = q_nation_trade_volume
    names = [n for n in BENCH_QUERIES if n in registry]

    # Steady-state preamble (warmup + shared-frontier accounting, see
    # prepare_steady_state — BENCH_BASELINE.md "shared-frontier
    # accounting": the daily panel feeds the whole panel family, the
    # co-purchase pair frame feeds the graph family; driver correctness
    # sweeps never run this block, so registered query plans stay
    # self-contained there).
    timings: dict[str, float] = {}
    prepare_steady_state(spark, sf_dir, WARMUP_QUERIES, timings)

    for name in names:
        t0 = time.perf_counter()
        _execute(registry[name](spark, sf_dir))
        timings[name] = round(time.perf_counter() - t0, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_wall_sec",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_from_dir(sf_dir),
                # what the board ran on, so runs on different hosts or
                # core counts are told apart from the line alone
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                # Explicit accounting marker (ADVICE r07): per-query
                # times for the panel/graph families assume these
                # persisted frontiers (timed under the _frontier_*
                # keys above); comparisons against pre-r07 rounds or
                # uncached runs must account for the methodology.
                "frontiers_cached": [
                    k for k in timings if k.startswith("_frontier_")
                ],
            }
        )
    )


if __name__ == "__main__":
    main()
