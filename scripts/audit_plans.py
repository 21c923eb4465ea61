"""Physical-plan audit: for every registered query, count the
scale-relevant plan features (exchanges, sorts, window nodes, join
strategies, scan pushdown, cartesian products, Python evaluation nodes)
and write PLANS.md.

Run: python scripts/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_forecast_pyspark_spark.plans.queries import QUERIES
from sales_forecast_pyspark_spark.session import get_spark

# ML/LSH queries fit models at plan-build time, and the iterative
# connected-components queries run their label-propagation jobs at
# plan-build time too — skip those in the audit (the returned plan is
# only the final post-iteration join; the per-round shapes are
# documented in llmdata/cluster.py and covered by tests).
SKIP = {"forecast_lr", "forecast_lr_full", "forecast_segmented",
        "forecast_eval_kpi", "lr_coefficients_top",
        "dedup_clusters", "near_dedup_survivors", "forecast_rf",
        "forecast_gbt", "ann_pq_topk", "ann_ivfpq_topk", "backtest_lr",
        "leakage_free_split", "model_quality_audit",
        "ann_index_lifecycle", "minhash_store_lifecycle",
        "semantic_dedup_lifecycle"}


def audit(plan: str) -> dict[str, object]:
    return {
        "exchanges": len(re.findall(r"Exchange (?:hash|range)partitioning", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "sorts": len(re.findall(r"\bSort \[", plan)),
        "windows": len(re.findall(r"\bWindow \[", plan)),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        # any scan with a NON-empty pushed-filter list
        "pushed": re.search(r"PushedFilters: \[[^\]]", plan) is not None,
        "python": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plan-audit", **{"spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# Physical-plan audit (generated by scripts/audit_plans.py)",
        "",
        f"Executed plans at `{sf_dir}`, AQE on. Columns: shuffle exchanges /",
        "broadcast exchanges / sorts / window nodes; join strategies",
        "(sort-merge, shuffled-hash, broadcast-hash, broadcast-nested-loop);",
        "whether parquet",
        "scan-level filter pushdown is active (join-key IsNotNull and predicate",
        "pushdown both count); Python eval nodes (Arrow UDF/mapInPandas — the",
        "DECLARED boundaries only). Cartesian products are asserted zero.",
        "(Whole-stage-codegen spans are omitted: under AQE they only appear",
        "in post-execution final plans.)",
        "",
        "| query | exch | bcast | sort | win | SMJ | SHJ | BHJ | BNLJ | pushdown | py |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    total_cartesian = 0
    for name, q in QUERIES.items():
        if name in SKIP:
            continue
        plan = q.builder(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        a = audit(plan)
        total_cartesian += a["cartesian"]  # type: ignore[operator]
        lines.append(
            f"| {name} | {a['exchanges']} | {a['broadcasts']} | {a['sorts']} "
            f"| {a['windows']} | {a['smj']} | {a['shj']} | {a['bhj']} | {a['bnlj']} "
            f"| {'yes' if a['pushed'] else '—'} | {a['python']} |"
        )
    lines += [
        "",
        f"Cartesian products across all audited plans: **{total_cartesian}**",
        "",
        f"Skipped (model-fitting at plan time): {', '.join(sorted(SKIP))}",
        "",
    ]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print("\n".join(lines))
    assert total_cartesian == 0, "cartesian product found!"


if __name__ == "__main__":
    main()
