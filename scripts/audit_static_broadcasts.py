"""Registry-wide static-broadcast audit: flag BroadcastExchange nodes
fed by an exploded (Generate) subtree in each registered query's STATIC
physical plan at a large corpus directory.

The bug class (caught by the r09 100x dedup rehearsal, fixed in
`llmdata/dedup.py::_jaccard_on_pairs`): Catalyst's static size
estimates do not model explode fan-out, so a frame behind a
posexplode can look broadcast-able while its true size is GBs — and
AQE cannot demote a statically planned BroadcastExchange (only
shuffle stages are re-measured at runtime), so the plan OOMs the
moment the corpus outgrows the estimate. This sweep is plan-only
(no execution): it builds every registered query against the given
scale dir and tree-walks the static plan, flagging any
BroadcastExchange whose subtree contains a Generate. Since r11 the
sweep is ALSO a suite gate — tests/test_static_broadcast_sweep.py runs
it over the full registry at sf0.001 every pytest run, with a
hand-built positive control pinned red — so this CLI is for the larger
rehearsal decades and -v triage:

    python scripts/audit_static_broadcasts.py [.rehearsal/sf10x]

History: the first version of this sweep walked executedPlan() without
unwrapping AdaptiveSparkPlanExec — a LEAF under the AQE session — so it
could reach nothing and reported a VACUOUS zero (code-review r09). The
fixed walk found 17 flagged queries at the 10x decade; the corpus-scale
ones were merge-hinted at their operators (dedup/text/vectorize/
baskets/contamination/interval/salted-join, and an owned candidate
join replacing MLlib approxSimilarityJoin), bounded ones are exempted
structurally (global aggregates, limits) or via ALLOWED below.
Expected output: FLAGGED: [] with a few OK-ALLOWED lines.
ML-fit/driver-assembly queries that run jobs at plan-build time are
skipped (same policy as scripts/audit_plans.py).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_forecast_pyspark_spark.session import get_spark  # noqa: E402

# Queries that fit models / assemble driver-side rows at plan-build
# time — building their "plan" runs jobs (same skip list as
# scripts/audit_plans.py, plus the LSH-fit pair miner).
SKIP = {
    "ann_index_lifecycle",  # builds + appends the persisted index eagerly
    "minhash_store_lifecycle",  # builds + appends the persisted store eagerly
    "semantic_dedup_lifecycle",  # builds + appends the persisted index eagerly
    "ann_ivfpq_topk", "ann_pq_topk", "backtest_lr",
    "dedup_clusters", "forecast_eval_kpi", "forecast_gbt", "forecast_lr",
    "forecast_lr_full", "forecast_rf", "forecast_segmented",
    "leakage_free_split", "lr_coefficients_top", "model_quality_audit",
    "near_dedup_survivors",
    # ann_pairs_topk is NOT skipped (code-review r09): its LSH fit
    # runs jobs at plan-build, but so do audited siblings
    # embedding_near_dups / ann_lsh_pairs — the fit is cheap and this
    # offline sweep tolerates it, and the query's audit/anchor
    # branches are exactly where a Generate-fed broadcast could
    # regress unnoticed.
}


def _resolve(node):
    """Unwrap the wrapper nodes that hide the real operator tree from a
    children() walk (code-review r09: under the AQE-enabled session,
    executedPlan() is an AdaptiveSparkPlanExec LEAF — children() is
    empty — so the first version of this walk could never reach a
    BroadcastExchangeExec and the sweep was vacuous). On a
    never-executed frame, AdaptiveSparkPlanExec.executedPlan() IS the
    statically planned initial plan — exactly the plan whose broadcast
    decisions this audit exists to interrogate (same accessor the
    rehearsal profiler uses post-execution, scale_rehearsal.py:211)."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return _resolve(node.executedPlan())
    if name.endswith("QueryStageExec"):
        return _resolve(node.plan())
    return node


def _subtree_has_generate(node) -> bool:
    node = _resolve(node)
    name = node.getClass().getSimpleName()
    if name.startswith("Generate"):
        return True
    if name == "InMemoryTableScanExec":
        # a cached fill plan can HIDE the explode (code-review r09):
        # a broadcast OF a cached exploded frame is the same failure
        try:
            if _subtree_has_generate(node.relation().cachedPlan()):
                return True
        except Exception:
            pass
    it = node.children().iterator()
    while it.hasNext():
        if _subtree_has_generate(it.next()):
            return True
    return False


# Broadcast subtrees that are BOUNDED by construction are exempt: the
# failure class is a broadcast whose true size grows with the corpus
# while the static estimate does not — a subtree whose row count is
# structurally capped (a global aggregate is <= 1 row, a limit is <= n
# rows) cannot outgrow anything, however fictional the estimate under
# it. The 1-row audit frames, scalar-subquery crossJoins, and the
# stack(3)-over-global-agg drift report all land here.
# NOTE: Generate is deliberately NOT here (code-review r09): a
# generator's fan-out can be data-dependent even over a 1-row input —
# explode(collect_list(corpus)) or explode(sequence(min, max)) over a
# global aggregate is corpus-scale. Constant-arity generators over
# bounded inputs (stack(3) over a global agg) go on the ALLOWED list
# with a written justification instead of a structural exemption.
# Exact physical-node class names (code-review r09 / ADVICE r10: the
# old startswith/substring matching was fragile — "Limit" in name made
# WindowGroupLimitExec, a PER-GROUP limit whose output scales with the
# group count, read as globally bounded, and a "Sort" prefix is one
# Spark rename away from swallowing an unrelated node). Unrecognized
# names fall through to unbounded, the conservative (over-flagging)
# direction, so new Spark operators fail loudly into triage instead of
# being silently exempted.
_AGG_NODES = frozenset(
    {"HashAggregateExec", "SortAggregateExec", "ObjectHashAggregateExec"}
)
_GLOBAL_LIMIT_NODES = frozenset(
    # WindowGroupLimitExec deliberately absent (per-group, not global)
    # and so is LocalLimitExec (code-review r11): a bare LocalLimit —
    # LimitPushDown can strand one on a join input with no GlobalLimit
    # above it in that subtree — caps rows PER PARTITION, so its
    # output is n x numPartitions, i.e. partition-count-scale on a
    # large cluster; it is bounded iff its input is (_BOUNDED_THROUGH)
    {"GlobalLimitExec", "CollectLimitExec", "TakeOrderedAndProjectExec"}
)
_JOIN_NODES = frozenset(
    {"BroadcastHashJoinExec", "SortMergeJoinExec", "ShuffledHashJoinExec",
     "BroadcastNestedLoopJoinExec", "CartesianProductExec"}
)
_BOUNDED_THROUGH = frozenset(
    # row-preserving or row-reducing wrappers: bounded iff input is.
    # ExpandExec multiplies by its constant projection arity — still
    # bounded over a bounded input. WindowGroupLimitExec qualifies
    # HERE (<= input rows), just not as a global limit above.
    {"ProjectExec", "FilterExec", "SortExec", "CoalesceExec",
     "ShuffleExchangeExec", "BroadcastExchangeExec", "UnionExec",
     "WindowExec", "WindowGroupLimitExec", "LocalLimitExec",
     "ExpandExec",
     "WholeStageCodegenExec", "InputAdapter", "ColumnarToRowExec",
     "AQEShuffleReadExec", "SubqueryExec", "SubqueryBroadcastExec"}
)


def _is_bounded(node) -> bool:
    node = _resolve(node)
    name = node.getClass().getSimpleName()
    if name in _AGG_NODES:
        try:
            if node.groupingExpressions().isEmpty():
                return True  # global aggregate: <= 1 row by construction
        except Exception:
            pass
        return False  # keyed aggregate: cardinality follows the keys
    if name in _GLOBAL_LIMIT_NODES:
        return True
    if name == "LocalTableScanExec":
        return True  # literal rows, already driver-resident
    if name in _JOIN_NODES:
        # a join of bounded inputs is bounded (1-row audit crossJoins)
        it = node.children().iterator()
        while it.hasNext():
            if not _is_bounded(it.next()):
                return False
        return True
    if name in _BOUNDED_THROUGH:
        it = node.children().iterator()
        while it.hasNext():
            if not _is_bounded(it.next()):
                return False
        return True
    return False  # scans, Generate, anything unrecognized: unbounded


def _walk(node, hits: list[str]) -> None:
    node = _resolve(node)
    name = node.getClass().getSimpleName()
    if (
        name == "BroadcastExchangeExec"
        and _subtree_has_generate(node)
        and not _is_bounded(node)
    ):
        # record the broadcast subtree's head so triage can tell a
        # bounded audit/sample frame from a corpus-scale one
        detail = "\n".join(node.treeString().splitlines()[:6])
        hits.append(detail)
    if name == "InMemoryTableScanExec":
        # a cached relation's FILL plan carries its own (possibly
        # adaptive-wrapped) join tree — the frontier caches do exactly
        # this, and a flagged broadcast inside one must still count
        try:
            _walk(node.relation().cachedPlan(), hits)
        except Exception:
            pass
    # expression-embedded plans (scalar/DPP subqueries) are not in
    # children() — a flagged broadcast inside one must still count
    try:
        sit = node.subqueries().iterator()
        while sit.hasNext():
            _walk(sit.next(), hits)
    except Exception:
        pass
    it = node.children().iterator()
    while it.hasNext():
        _walk(it.next(), hits)


# Declared-bounded broadcasts the STRUCTURAL exemption cannot prove:
# each entry is (expected flag count, justification). The audit fails
# if a query's flag count EXCEEDS its allowance — fewer is fine (a
# planner may legitimately pick SMJ for these too).
ALLOWED: dict[str, tuple[int, str]] = {
    # Add entries ONLY for declared-bounded shapes the structural rule
    # cannot prove, with the justification in the tuple.
    "lineitem_drift_report": (
        1,
        "stack(3, ...) over a 1-row global aggregate: constant-arity "
        "generator, <= 3 rows at any corpus size (Generate is never "
        "structurally exempted because fan-out CAN be data-dependent; "
        "this one provably is not)",
    ),
}


def audit_frame(df) -> list[str]:
    """Flagged unbounded Generate-fed static broadcasts in one frame's
    statically planned physical tree (list of subtree-head strings)."""
    hits: list[str] = []
    _walk(df._jdf.queryExecution().executedPlan(), hits)
    return hits


def sweep(spark, sf_dir: str, names=None, verbose: bool = False):
    """Run the audit over registered queries (all non-SKIP by default).
    Returns (flagged, errors): flagged = [(name, hit_count)] where the
    count exceeds the query's ALLOWED budget; errors = [(name, msg)]
    for builds that crashed (NOT green — a sweep that errors everywhere
    must never report an empty flag list as success)."""
    from sales_forecast_pyspark_spark.plans.queries import QUERIES

    flagged, errors = [], []
    for name, q in QUERIES.items():
        if name in SKIP or (names is not None and name not in names):
            continue
        try:
            hits = audit_frame(q.builder(spark, sf_dir))
            allowed = ALLOWED.get(name, (0, ""))[0]
            if len(hits) > allowed:
                flagged.append((name, len(hits)))
                print(f"FLAG {name} {len(hits)} (allowed {allowed})", flush=True)
                if verbose:
                    for h in hits:
                        print(f"  --- {name} ---\n{h}", flush=True)
            elif hits:
                print(f"OK-ALLOWED {name} {len(hits)}/{allowed}", flush=True)
        except Exception as e:  # noqa: BLE001 — report, keep sweeping
            errors.append((name, str(e)[:100]))
            print(f"ERR {name} {str(e)[:100]}", flush=True)
    return flagged, errors


def main() -> int:
    # flags and the positional dir must not collide: `... -v` alone
    # used to make sf_dir == "-v", error out all 150 builds, and —
    # with the old exit logic — still report a green FLAGGED: []
    args = [a for a in sys.argv[1:] if not a.startswith("-")]
    sf_dir = args[0] if args else ".rehearsal/sf10x"
    if not os.path.isdir(sf_dir):
        print(f"sf_dir does not exist: {sf_dir}", file=sys.stderr)
        return 2
    spark = get_spark("static-broadcast-audit")
    spark.sparkContext.setLogLevel("ERROR")
    flagged, errors = sweep(spark, sf_dir, verbose="-v" in sys.argv)
    print("FLAGGED:", flagged)
    if errors:
        # errors are NOT green (code-review r09): a sweep where every
        # build errored used to print FLAGGED: [] and exit 0 — the
        # same vacuous-green failure the adaptive-unwrap fix removed
        print("ERRORS:", errors)
        return 2
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
