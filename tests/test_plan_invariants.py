"""Plan-shape invariants as CI: the properties PLANS.md documents,
asserted for every auditable registered query so a regression (a new
cartesian product, an undeclared nested-loop join, lost scan pushdown
on the flagship) fails the suite instead of surfacing in a 100 TB run.

Builds plans only (no execution) at sf0.001; the ML/iterative queries
that fit models at plan-build time are skipped exactly as in
scripts/audit_plans.py.
"""

from __future__ import annotations

import pytest

from sales_forecast_pyspark_spark.plans.queries import QUERIES
from tests.conftest import SF_SMALL

# Queries that fit models / run jobs at plan-build time (same set as
# scripts/audit_plans.py) — building their "plan" costs minutes.
SKIP = {
    "forecast_lr", "forecast_lr_full", "forecast_segmented",
    "forecast_eval_kpi", "lr_coefficients_top",
    "dedup_clusters", "near_dedup_survivors", "forecast_rf",
    "forecast_gbt", "ann_pq_topk", "ann_ivfpq_topk", "backtest_lr",
    "leakage_free_split", "model_quality_audit", "ann_index_lifecycle",
    "minhash_store_lifecycle", "semantic_dedup_lifecycle",
}

# BNLJ appears ONLY where a bounded side is deliberately broadcast:
# the declared brute-force ANN baseline, 1-row summary crossJoins, and
# the pairwise group_a < group_b join over one-row-per-group sketch
# frames (bounded by the group count, not the data).
BNLJ_DECLARED = {
    "ann_topk",
    "data_quality_report",
    "key_skew_profile",
    "user_overlap_theta",
    "doc_surprisal",  # 1-row corpus-total crossJoin(broadcast(...))
    "copurchase_triangles",  # three 1-row summary frames crossJoined
    "basket_lift",  # lazy 1-row basket-total crossJoin(broadcast(...))
    "doc_keywords",  # term_tfidf's lazy 1-row corpus-count crossJoin
    "tfidf_similar_docs",  # same term_tfidf 1-row corpus-count crossJoin
    "abc_products",  # 1-row revenue-total crossJoin(broadcast(...))
    "surprisal_filter_sweep",  # unigram_surprisal's 1-row corpus-total crossJoin
    "bigram_surprisal",  # 1-row vocabulary-size crossJoin(broadcast(...))
    "mutual_information",  # 1-row grand-total crossJoin(broadcast(...))
    "top_supplier_period",  # 1-row MAX(total_rev) crossJoin(broadcast(...))
    "dormant_rich_customers",  # 1-row avg-balance crossJoin(broadcast(...))
    "pagerank_parts",  # 1-row node-count crossJoin(broadcast(...)) per iteration
    # bounded-sample exact-truth audit (vec_id < 300 all-pairs, ~44 KB
    # broadcast at any SF) + its 1-row audit crossJoin (VERDICT r07 #4)
    "embedding_near_dups",
    # bounded-sample exact-truth audit (vec_id < 200 all-pairs) + 1-row
    # audit crossJoin + the anchored left_anti probe (VERDICT r11 #2)
    "ann_lsh_pairs",
    "near_dedup_minhash",  # its 1-row sampled-truth audit crossJoin
    # 1-row audit crossJoin + the anchored-audit left_anti probe against
    # out.limit(1) (both sides bounded: 1-row audit build, <=1-row probe)
    "ann_pairs_topk",
}

AUDITABLE = [n for n in QUERIES if n not in SKIP]


@pytest.fixture(scope="session")
def plans(spark):
    """``plans(name)``: the query's executed-plan string, built once per
    session, so the two all-query sweeps and the per-query pins below
    share one build of each plan."""
    cache: dict[str, str] = {}

    def build(name: str) -> str:
        if name not in cache:
            df = QUERIES[name].builder(spark, SF_SMALL)
            cache[name] = df._jdf.queryExecution().executedPlan().toString()
        return cache[name]

    return build


def test_no_cartesian_products_anywhere(plans):
    offenders = [n for n in AUDITABLE if "CartesianProduct" in plans(n)]
    assert offenders == [], offenders


def test_nested_loop_joins_only_where_declared(plans):
    offenders = [
        n
        for n in AUDITABLE
        if "BroadcastNestedLoopJoin" in plans(n) and n not in BNLJ_DECLARED
    ]
    assert offenders == [], offenders


@pytest.mark.parametrize("name", ["daily_rollup", "eval_join", "lag_features"])
def test_flagship_scans_push_filters(plans, name):
    """The flagship fact-table plans must push at least one filter to
    the parquet scan (join-key IsNotNull counts — it prunes nulls
    before the shuffle)."""
    import re

    plan = plans(name)
    assert re.search(r"PushedFilters: \[[^\]]", plan), name


def test_salted_join_fans_out_hot_keys(plans):
    """salted_segment_value: the salt fan-out must exist in the physical
    plan — a Generate(explode) replicating the right side across salt
    buckets, and the join keyed on (user_id, __salt), not user_id alone.
    Since the r09 static-broadcast sweep the strategy is NOT the
    optimizer's call: salted_join merge-hints the exploded right side
    (a static broadcast both belonged to the un-demotable
    fictional-estimate class and defeated the salting — no shuffle,
    nothing to de-skew), so the join must be a sort-merge join at
    every SF."""
    plan = plans("salted_segment_value")
    assert "Generate explode" in plan, plan
    assert "__salt" in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_graph_tier_has_no_static_broadcast_joins(plans):
    """copurchase_triangles / pagerank_parts: the r09 static-broadcast
    sweep (descending cached fill plans) found the planner statically
    BROADCASTING the edge/degree frames behind the basket-pair explode
    — edge-/node-scale relations whose post-Generate size estimates
    are fiction, un-demotable by AQE, OOM at 100 TB. The operators now
    hint shuffle_hash (degree/rank sides) and merge (wedge/closing
    joins); the only BroadcastHashJoins allowed in these plans are the
    bounded 1-row summary/audit frames, which join on a literal-free
    key set these aren't — so the invariant is simply: zero BHJ, and
    the hinted strategies present."""
    for name in ("copurchase_triangles", "pagerank_parts"):
        plan = plans(name)
        assert "BroadcastHashJoin" not in plan, (name, plan)
        assert "ShuffledHashJoin" in plan, (name, plan)
    assert "SortMergeJoin" in plans("copurchase_triangles")


@pytest.mark.parametrize(
    "name",
    ["tfidf_similar_docs", "doc_surprisal", "basket_lift", "ngram_jaccard_pairs"],
)
def test_aggregated_count_joins_are_shuffled_hash(plans, name):
    """The r09 aggregated-side hint policy: a one-row-per-key count
    frame (term df, token frequency, item basket counts, per-doc
    shingle counts) joined back into its corpus-scale source must be a
    ShuffledHashJoin — hash-building the count side per partition
    instead of sorting the data-scale side (and never a static
    broadcast, which the sweep pins separately). Hints force the
    strategy at every SF, so this is stable at sf0.001."""
    assert "ShuffledHashJoin" in plans(name), name


def test_flagship_rollup_is_single_exchange(plans):
    """daily_rollup: one hash-partitioning exchange (the groupBy), the
    dimension joins broadcast — the shape that holds at 100x."""
    import re

    plan = plans("daily_rollup")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_aqe_splits_skewed_join_partitions(spark):
    """SCALING.md claims AQE skew-join handling backs the salted-join
    remedy pair; this pins the claim mechanically: on a deliberately
    hot-keyed sort-merge join with test-sized skew thresholds, the
    FINAL adaptive plan must mark the skewed SMJ (``skew=true``), i.e.
    the hot partition was split across tasks instead of melting one
    reducer."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        # payload must be INCOMPRESSIBLE: skew detection reads the
        # compressed shuffle-block sizes, and a constant-pad hot
        # partition lz4-compresses below any realistic threshold
        # (found the hard way — sha2 per row keeps bytes honest).
        payload = F.sha2(F.col("id").cast("string"), 512)
        hot = spark.range(30000).select(
            F.lit(0).alias("k"), payload.alias("payload")
        )
        cold = spark.range(3000).select(
            (F.col("id") % 31 + 1).alias("k"), payload.alias("payload")
        )
        fact = hot.unionAll(cold)
        dim = spark.range(32).select(
            F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("d")
        )
        joined = fact.join(dim, "k")
        joined.foreach(lambda r: None)  # execute; AQE finalizes THIS df's plan
        final_plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final_plan, final_plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """At 100 TB the win of a selective dim predicate is not the dim
    scan — it is NOT shuffling the 99% of fact rows that would die in
    the join anyway. Spark's InjectRuntimeFilter does that by building a
    bloom filter from the filtered dim keys and pushing might_contain()
    below the fact side's exchange. This pins the mechanism on a
    test-sized shuffle join (thresholds lowered; broadcast disabled so
    the join actually shuffles): the optimized plan must contain a
    bloom_filter_agg / might_contain pair, i.e. the fact scan is
    runtime-pruned."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        fact = spark.range(200000).select(
            (F.col("id") % 1000).alias("k"), F.col("id").alias("v")
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).alias("attr"),
        )
        joined = fact.join(dim.filter(F.col("attr") == 3), "k")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_prefix_sum_branches_reuse_the_range_exchange(spark):
    """partitioned_cumsum's two consumers (per-partition running sum,
    partition totals) both read the SAME range shuffle: the final
    adaptive plan must contain a ReusedExchange, i.e. the upstream is
    computed once — the no-double-scan property the 100 TB sweep-line
    and Pareto queries depend on."""
    from pyspark.sql import functions as F

    from sales_forecast_pyspark_spark.operators.prefix import (
        partitioned_cumsum,
    )

    df = spark.range(10000).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    out = partitioned_cumsum(df, [F.col("k")], F.col("v"), "cum", num_partitions=8)
    out.foreach(lambda r: None)  # AQE finalizes reuse at materialization
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan[:2000]
