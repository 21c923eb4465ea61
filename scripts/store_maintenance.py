"""One-call maintenance for the persisted stores — the operator entry
point over the r13 policy surface (VERDICT r12 asks #3/#4):

    python scripts/store_maintenance.py PATH --kind {index,minhash,fp}
        [--max-inc-batches 16] [--max-inc-bytes BYTES]
        [--dry-run]
        [--triad MH_STORE INDEX_PATH]   # with --kind fp

Consults ``lsm.should_compact`` over the store's tables and runs the
matching compactor when the increments tier is past threshold (both
compactors hold the single-maintainer lease — a concurrent ingest or a
second maintenance run fails loudly with LeaseHeldError, exit 3, never
corrupts). Each store's rebuild-class verdict rides along: the index
evaluates ``should_rebuild`` (the O(batches) drift verdict), the
MinHash store ``should_rescale_bands`` (screening-load densification)
— so one cron line covers every maintenance decision. A rebuild is
REPORTED, never auto-run — it retrains quantizers / rewrites the
banding geometry and must go to a fresh path with a serving-pointer
flip, an operator decision by design.

Prints one JSON line:
    {"kind": ..., "path": ..., "compact_due": bool, "compacted": bool,
     "files": {table: [before, after]} | null,
     "rebuild": {verdict dict} | null,
     "recommended_n_probe": {recommend_n_probe dict} | null,
     "triad": {triad_consistency_report dict}}   # only with --triad

``recommended_n_probe`` (index kind only, VERDICT r13 ask #5): the
measured IO/recall dial — the smallest n_probe whose pooled recall@k
over a bounded stored-vector sample meets ``--recall-target`` (default
0.9). Report-only, like rebuild: serving configs change by operator
decision. ``--no-tune`` skips it (it costs |sample| brute-force + a
probe ladder, heavier than the kilobyte verdicts).

``--kind fp`` maintains the composed triad's whole-text
exact-fingerprint store (fold-only: a hash table has no rebuild-class
failure mode). ``--triad MH_STORE INDEX_PATH`` (fp kind only) also
runs ``triad_consistency_report`` — the cross-store audit that the
three stores a composed ingest loop feeds still agree on the admitted
set — and fails the exit code when they do not. The report holds no
lease; against a LIVE loop a mid-batch snapshot can look transiently
inconsistent, so it re-runs once before failing (ADVICE r14 — real
divergence is stable across both passes; see the report's docstring
for the quiescence contract).

Exit codes: 0 = healthy (nothing due, or fold done and no rebuild
signal), 2 = rebuild signalled or triad inconsistent
(monitoring-friendly), 3 = lease held.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_forecast_pyspark_spark.llmdata.ann_index import INDEX_TABLES  # noqa: E402
from sales_forecast_pyspark_spark.llmdata.dedup_store import MINHASH_TABLES  # noqa: E402
from sales_forecast_pyspark_spark.llmdata.ingest import FP_TABLES  # noqa: E402

TABLES = {
    "index": INDEX_TABLES,
    "minhash": MINHASH_TABLES,
    # the composed triad's whole-text exact-fingerprint store
    # (llmdata/ingest.py) — fold-only: a single hash table has no
    # rebuild-class failure mode (no geometry, no quantizer)
    "fp": FP_TABLES,
}


def maintain(
    spark,
    path: str,
    kind: str,
    max_inc_batches: int = 16,
    max_inc_bytes: int | None = None,
    dry_run: bool = False,
    tune_n_probe: bool = True,
    recall_target: float = 0.9,
) -> dict:
    from sales_forecast_pyspark_spark.llmdata import (
        compact_fp_store,
        compact_ivfpq_index,
        compact_minhash_store,
        lsm,
        recommend_n_probe,
        should_rebuild,
        should_rescale_bands,
    )

    due = lsm.should_compact(
        spark,
        path,
        TABLES[kind],
        max_inc_batches=max_inc_batches,
        max_inc_bytes=max_inc_bytes,
    )
    out: dict = {
        "kind": kind,
        "path": path,
        "compact_due": bool(due),
        "compacted": False,
        "files": None,
        "rebuild": None,
    }
    if due and not dry_run:
        compactor = {
            "index": compact_ivfpq_index,
            "minhash": compact_minhash_store,
            "fp": compact_fp_store,
        }[kind]
        out["files"] = {t: list(c) for t, c in compactor(spark, path).items()}
        out["compacted"] = True
    # each store's rebuild-class verdict rides along: drift for the
    # index, screening-load densification for the MinHash store — both
    # REPORTED, never auto-run (rebuilds retrain state and belong on a
    # fresh path with a serving-pointer flip)
    if kind == "index":
        out["rebuild"] = should_rebuild(spark, path)
        # the serving IO/recall dial rides the same cron line (VERDICT
        # r13 ask #5) — report-only, the operator flips serving configs
        out["recommended_n_probe"] = (
            recommend_n_probe(spark, path, recall_target=recall_target)
            if tune_n_probe
            else None
        )
    elif kind == "minhash":
        out["rebuild"] = should_rescale_bands(spark, path)
        out["recommended_n_probe"] = None
    else:  # fp: fold-only, no rebuild-class failure mode
        out["recommended_n_probe"] = None
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("path")
    ap.add_argument("--kind", choices=list(TABLES), required=True)
    ap.add_argument("--max-inc-batches", type=int, default=16)
    ap.add_argument("--max-inc-bytes", type=int, default=None)
    ap.add_argument("--dry-run", action="store_true")
    ap.add_argument("--no-tune", action="store_true")
    ap.add_argument("--recall-target", type=float, default=0.9)
    ap.add_argument(
        "--triad",
        nargs=2,
        metavar=("MH_STORE", "INDEX_PATH"),
        default=None,
        help="with --kind fp: also run the cross-store consistency "
        "report over (PATH, MH_STORE, INDEX_PATH) — exit 2 unless the "
        "three stores agree on the admitted set",
    )
    args = ap.parse_args()
    if args.triad and args.kind != "fp":
        ap.error("--triad requires --kind fp (PATH is the fp store)")

    from sales_forecast_pyspark_spark.llmdata import lsm
    from sales_forecast_pyspark_spark.session import get_spark

    spark = get_spark("store-maintenance")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out = maintain(
            spark,
            args.path,
            args.kind,
            max_inc_batches=args.max_inc_batches,
            max_inc_bytes=args.max_inc_bytes,
            dry_run=args.dry_run,
            tune_n_probe=not args.no_tune,
            recall_target=args.recall_target,
        )
    except lsm.LeaseHeldError as e:
        print(json.dumps({"error": "lease_held", "detail": str(e)}))
        return 3
    if args.triad:
        from sales_forecast_pyspark_spark.llmdata import (
            triad_consistency_report,
        )

        out["triad"] = triad_consistency_report(
            spark, args.path, args.triad[0], args.triad[1]
        )
    print(json.dumps(out), flush=True)
    r = out["rebuild"] or {}
    if out.get("triad") is not None and not out["triad"]["consistent"]:
        return 2
    return 2 if (r.get("rebuild") or r.get("rescale")) else 0


if __name__ == "__main__":
    raise SystemExit(main())
