"""Hand-maintained rewrite log feeding the verification rotation
(VERDICT r09 ask #2).

The rotation generator (scripts/gen_check_priority.py) ranks queries
purely by driver-check recency, so a query whose IMPLEMENTATION was
rewritten right after its last driver check could wait out the full
SLO window before the driver ever exercises the new shape — r09's
`repetition_stats` / `benchmark_contamination` rewrites exposed this:
both were driver-checked in r07 on the OLD shapes and rewritten in
r09, leaving the new plans with sf0.001 pytest evidence only.

Rule: when you rewrite a registered query's hot path (its builder in
plans/queries.py OR the operator module it calls into) in round N,
add/raise its entry here to N in the SAME commit, then regenerate the
rotation. The generator promotes any query whose latest driver check
predates its entry into the rewritten-pending tier — ahead of the
ordinary least-recently-checked pool, behind failures/never-checked —
so the next sweep re-verifies the new shape.

Entries are self-expiring: once a CORRECTNESS round >= the recorded
round checks the query, the generator ignores (and reports) the entry;
prune reported-expired entries opportunistically. Cosmetic edits
(docstrings, aliases that cannot change the plan) do not belong here.
"""

# query name -> round whose commits rewrote its implementation
# (r09's repetition_stats / benchmark_contamination entries expired —
# CORRECTNESS_r10 re-checked both on their new shapes — and were
# pruned; likewise the four r12 audit-rewrite entries after
# CORRECTNESS_r12 checked the audit-carrying shapes.)
REWRITTEN_AT: dict[str, int] = {
    # the full PQ scan moved onto ivfpq_topk probing every cell
    "ann_pq_topk": 17,
    # the IVF-PQ quantizers train on the driver from a bounded sample,
    # and build and append share one encoder
    "ann_ivfpq_topk": 17,
    "ann_index_lifecycle": 17,
    "semantic_dedup_lifecycle": 17,
}
