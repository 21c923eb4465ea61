"""Streaming-tier scale rehearsal: measured evidence for SCALING.md's
"Streaming" claims, one-to-two decades above the driver's test scale.

The batch tiers got measured rehearsal decades in r08
(scripts/scale_rehearsal.py); this script extends the same discipline
to the production-shaped streaming paths, which until now were
covered by pytest equivalence at sf0.001 only:

1. ``windowed_totals`` — the built-in watermarked tumbling-window
   aggregation (complete mode). The scale claim: aggregation state
   scales with the WINDOW GRID (date-range hours x event types), not
   with input rows — 10x events over the same date range must hold
   state rows flat. Drained output is compared against the batch twin
   (same expressions), so the run doubles as a batch-stream
   equivalence check at scale.
2. ``attribution`` — the applyInPandasWithState last-touch operator.
   The scale claim: per-user state is ONE tuple, so state rows track
   DISTINCT USERS (10x here, by the generator's key remap) while
   bytes/user stay flat, and throughput (rows/s) holds as the corpus
   grows. Output goes to the noop sink — this path measures the
   stateful engine, not a driver collect. No cross-batch ordering is
   assumed by the measurement: unordered part-files mean late touches
   may mis-attribute (the documented limitation: recompute affected
   users with the batch ``last_touch_rows``); emission COUNT still equals the
   conversion count, which is asserted via observe() metrics.
3. ``partials_fold`` — the foreachBatch incremental panel maintenance
   (versioned decimal partials). The scale claims: per-fold cost is
   bounded by STATE SIZE (panel grain), not log length, and the final
   state finalizes bit-equal to a one-shot batch rebuild — asserted
   here via an exceptAll diff at full scale, the same gate the sf0.001
   pytest pins.

4. ``ingest_all`` — the composed TRIAD loop (stream_ingest_dedup_all,
   VERDICT r13 ask #6; the engine's one streaming dedup loop) over a
   four-class engineered stream (exact / text / semantic / fresh, one
   class per verdict). Claims: per-class verdict exactness — the
   short-circuit stage order holds under real micro-batching at every
   decade — plus end-to-end throughput and post-drain increment depth
   across all three stores.
5. ``dedup_screen_ratio`` — a 500-doc MinHash store screen against
   the one-shot ``minhash_near_dedup`` it replaces, per decade.

Usage (generate rehearsal data first — scripts/scale_rehearsal.py gen):

    python scripts/stream_rehearsal.py --dirs /root/testdata/sf0.1 .rehearsal/sf1x

Prints one JSON line per (scale, path) with wall_s / input_rows /
rows_per_s / n_batches / state rows+bytes / equivalence flags, then a
single summary JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


_PROGRESS_CAP_CONF = "spark.sql.streaming.numRecentProgressUpdates"


def _raise_progress_retention(spark) -> None:
    """All totals below are summed from ``recentProgress``, a ring
    buffer capped at this conf (Spark retains at most cap-1 entries) —
    raise it BEFORE starting any measured query."""
    spark.conf.set(_PROGRESS_CAP_CONF, "10000")


def _collect_progress(q) -> list[dict]:
    """Progress entries for a drained query, with a hard guard against
    silent ring-buffer truncation: every rehearsal query runs on a
    fresh checkpoint, so batch ids start at 0 — a first retained entry
    with batchId > 0 means the buffer dropped the head and any summed
    total (input_rows, observe() counts) would be undercounted. This
    anchors on batchId rather than len(progs) because Spark's
    ProgressReporter dequeues down to cap-1 entries, making a
    ``len >= cap`` check unreachable (code-review r08)."""
    progs = [json.loads(p.json) for p in q.recentProgress]
    if progs and int(progs[0].get("batchId", 0)) != 0:
        raise RuntimeError(
            "recentProgress dropped early batches (first retained "
            f"batchId={progs[0].get('batchId')}) — totals would silently "
            f"undercount; raise {_PROGRESS_CAP_CONF} or use fewer, larger "
            "micro-batches"
        )
    return progs


def _drain(sdf: DataFrame, *, fmt: str, name: str | None = None,
           output_mode: str = "append", ckpt: str | None = None):
    """Run a streaming frame to completion (availableNow) and return
    (wall_s, progress list). Progress entries carry the per-batch input
    rows, the state-store row/byte counts, and observe() metrics."""
    _raise_progress_retention(sdf.sparkSession)
    w = sdf.writeStream.outputMode(output_mode).trigger(availableNow=True)
    if name:
        w = w.queryName(name)
    if ckpt:
        w = w.option("checkpointLocation", ckpt)
    t0 = time.time()
    q = w.format(fmt).start()
    q.awaitTermination()
    wall = time.time() - t0
    return wall, _collect_progress(q)


def _progress_stats(progs: list[dict]) -> dict:
    rows = sum(int(p.get("numInputRows", 0)) for p in progs)
    batches = sum(1 for p in progs if int(p.get("numInputRows", 0)) > 0)
    state_rows = state_bytes = 0
    for p in reversed(progs):
        ops = p.get("stateOperators") or []
        if ops:
            state_rows = sum(int(o.get("numRowsTotal", 0)) for o in ops)
            state_bytes = sum(int(o.get("memoryUsedBytes", 0)) for o in ops)
            break
    return {"input_rows": rows, "n_batches": batches,
            "state_rows": state_rows, "state_bytes": state_bytes}


def _frames_equal(a: DataFrame, b: DataFrame) -> bool:
    """Exact multiset equality without a driver collect (the scaled
    frames are panel-sized): two anti-diffs must both be empty."""
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def run_windowed(spark, sf_dir, files_per_trigger) -> dict:
    from sales_forecast_pyspark_spark.sources.readers import read_table
    from sales_forecast_pyspark_spark.streaming.stream_ops import (
        stream_events,
        windowed_event_totals,
    )

    src = stream_events(spark, sf_dir, files_per_trigger)
    name = "rehearsal_windowed"
    wall, progs = _drain(
        windowed_event_totals(src), fmt="memory", name=name,
        output_mode="complete",
    )
    out = {"path": "windowed_totals", "wall_s": round(wall, 2)}
    out.update(_progress_stats(progs))
    # batch twin: identical expressions on the batch scan — complete
    # mode retains all state, so the drained table must match exactly.
    batch = windowed_event_totals(read_table(spark, sf_dir, "events"))
    out["matches_batch"] = _frames_equal(spark.table(name), batch)
    return out


def run_attribution(spark, sf_dir, files_per_trigger) -> dict:
    from sales_forecast_pyspark_spark.sources.readers import read_table
    from sales_forecast_pyspark_spark.streaming.stream_ops import (
        DEFAULT_CONVERSION_TYPE,
        DEFAULT_TOUCH_TYPES,
        attribution_stream,
        stream_events,
    )

    src = stream_events(spark, sf_dir, files_per_trigger)
    # observe() rides INSIDE the running query: emission count without
    # a driver-side sink (output goes to noop).
    audited = attribution_stream(src).observe(
        "attr_out", F.count(F.lit(1)).alias("n_out")
    )
    wall, progs = _drain(audited, fmt="noop")
    out = {"path": "attribution", "wall_s": round(wall, 2)}
    out.update(_progress_stats(progs))
    out["emitted"] = sum(
        int(p.get("observedMetrics", {}).get("attr_out", {}).get("n_out", 0))
        for p in progs
    )
    # one aggregation pass over the batch events table for all three
    # reference counts (code-review r08: was four separate scans). The
    # touch/conversion taxonomy is IMPORTED from the operator family's
    # single source of truth, not hand-copied — a retune cannot leave
    # this harness checking a different taxonomy.
    events = read_table(spark, sf_dir, "events")
    ref = events.agg(
        F.count(F.when(F.col("event_type") == DEFAULT_CONVERSION_TYPE, 1)
                ).alias("conversions"),
        F.countDistinct("user_id").alias("distinct_users"),
        F.countDistinct(
            F.when(F.col("event_type").isin(*DEFAULT_TOUCH_TYPES),
                   F.col("user_id"))
        ).alias("touch_users"),
    ).first()
    out["conversions"] = ref["conversions"]
    out["distinct_users"] = ref["distinct_users"]
    # the operator only writes state for users with >= 1 TOUCH event
    # (a purchase-only user emits rows but leaves no state), so the
    # state-claim comparison anchors on touch users — equality with
    # distinct_users is a corpus property, not an operator guarantee
    # (code-review r08).
    out["touch_users"] = ref["touch_users"]
    out["emits_all_conversions"] = out["emitted"] == out["conversions"]
    out["state_is_per_touch_user"] = out["state_rows"] == out["touch_users"]
    return out


def run_partials_fold(spark, sf_dir, files_per_trigger) -> dict:
    from sales_forecast_pyspark_spark.operators.aggregates import (
        daily_rollup_partials,
        finalize_daily_rollup,
    )
    from sales_forecast_pyspark_spark.plans.panel import (
        PANEL_GRAIN,
        PANEL_QTY_COL,
        enrich_for_panel,
        panel_price_expr,
        panel_revenue_expr,
    )
    from sales_forecast_pyspark_spark.sources.readers import read_table
    from sales_forecast_pyspark_spark.streaming.stream_ops import (
        maintain_partials_stream,
        read_latest_partials,
        stream_lineitem,
    )

    # THE panel definition, imported — not hand-copied — so this
    # harness always measures the production panel (code-review r08).
    keys = PANEL_GRAIN
    qty = PANEL_QTY_COL
    rev = panel_revenue_expr()
    price = panel_price_expr()

    def enrich(li):
        sup = read_table(spark, sf_dir, "supplier")
        nat = read_table(spark, sf_dir, "nation")
        return enrich_for_panel(li, sup, nat)

    tmp = tempfile.mkdtemp(prefix="stream_rehearsal_")
    try:
        state, ckpt = os.path.join(tmp, "state"), os.path.join(tmp, "ckpt")
        src = stream_lineitem(spark, sf_dir, files_per_trigger)
        # foreachBatch builds its own writeStream, bypassing _drain —
        # the retention raise and truncation guard must still apply
        # (code-review r08: this path had neither).
        _raise_progress_retention(spark)
        t0 = time.time()
        q = maintain_partials_stream(
            enrich(src), state, ckpt, keys, qty, rev, price
        )
        q.awaitTermination()
        wall = time.time() - t0
        progs = _collect_progress(q)
        out = {"path": "partials_fold", "wall_s": round(wall, 2)}
        out.update(_progress_stats(progs))
        published = finalize_daily_rollup(read_latest_partials(spark, state), keys)
        out["state_rows"] = published.count()  # external state: panel grain
        truth = finalize_daily_rollup(
            daily_rollup_partials(
                enrich(read_table(spark, sf_dir, "lineitem")),
                keys, qty, rev, price,
            ),
            keys,
        )
        out["matches_batch_rebuild"] = _frames_equal(published, truth)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)




def run_ingest_all(spark, sf_dir, files_per_trigger) -> dict:
    """The composed TRIAD loop (stream_ingest_dedup_all) — all three
    dedup legs over the same stream, the entry point a real corpus
    pipeline deploys (VERDICT r13 ask #6 wants it measured, not just
    pytest-pinned). The incoming stream carries FOUR engineered
    classes, one per verdict, on structurally disjoint negative id
    ranges (pmod(doc_id, 4): 3=exact copy, 2=text dup, 1=semantic dup,
    0=fresh), each sized |corpus|:

    - EXACT (pmod 3): re-keyed verbatim (text, embedding) copies —
      stage 1's whole-text fp join against the seeded store is
      deterministic, so every row must read ``exact_dup``.
    - TEXT (pmod 2): ``text || ' ' || text`` with a hash-random fresh
      embedding. The store is built with UNIGRAM shingles (n=1) for
      this leg, so doubling the text preserves the shingle SET exactly
      — identical tokens ⇒ identical MinHash signature ⇒ the store
      screen is deterministic (the exactness the other classes get
      from verbatim copies) — while the whole-text md5 differs, so
      stage 1 CANNOT catch it: every row must read ``text_dup``, which
      pins the stage order at scale. Geometry-level (probabilistic)
      recall is the one-shot rows' concern, deliberately not
      re-measured here.
    - SEMANTIC (pmod 1): constructed-fresh disjoint text (so stages
      1-2 pass it) with a verbatim embedding copy — the serving-index
      screen must flag it at cos 1.0: every row must read
      ``semantic_dup``.
    - FRESH (pmod 0): disjoint text + hash-random embedding (pairwise
      cosine 0 ± 1/√64 at any rehearsed scale): every row must read
      ``admitted``.

    Claims measured: per-class verdict EXACTNESS (the short-circuit
    cost ladder holds under real micro-batching), end-to-end wall /
    throughput per decade, and post-drain increment-tier depth across
    ALL THREE stores. Micro-batches are bounded by contract (the
    semantic stage's ``SEARCH_MAX_ROWS``; ~3k-row source files, 8
    files/trigger) — the passed files_per_trigger is deliberately not
    used."""
    from sales_forecast_pyspark_spark.llmdata import (
        build_fp_store,
        build_ivfpq_index,
        build_minhash_store,
        stream_ingest_dedup_all,
    )
    from sales_forecast_pyspark_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    # one row per distinct TEXT: the corpus plants exact text dups
    # (sf0.1 carries one pair), and two text-dup-class rows built from
    # the same base text would share their doubled text too — stage
    # 1's in-batch first-wins would then (correctly!) call one of them
    # exact_dup, which is a property of the planted data, not of the
    # stage order this leg pins. localCheckpoint pins WHICH row
    # survives, so the seeded stores and the engineered classes are
    # built from the same frame even if a partition recomputes.
    corpus = (
        docs.join(emb, "doc_id")
        .dropDuplicates(["text"])
        .localCheckpoint(eager=True)
    )
    n_corpus = corpus.count()
    d = len(corpus.select("embedding").first()[0])

    def _rand_vec(tag: str):
        # deterministic hash-random direction, salted per class so the
        # text-dup and fresh classes never share a vector
        return F.expr(
            f"transform(sequence(1, {d}), i -> "
            f"cast((pmod(xxhash64(concat('{tag}', cast(doc_id as string), "
            "'x', cast(i as string))), 2000001) - 1000000) / 1000000.0 "
            "as float))"
        )

    def _fresh_text(tag: str):
        # 60 tokens, unique per (class, source id) — disjoint from the
        # corpus vocabulary and from every other constructed doc
        return F.expr(
            "array_join(transform(sequence(1, 60), "
            f"i -> concat('{tag}', doc_id, 'x', i)), ' ')"
        )

    exact = corpus.select(
        (-F.col("doc_id") * 4 - 1).alias("doc_id"), "text", "embedding"
    )
    text_dup = corpus.select(
        (-F.col("doc_id") * 4 - 2).alias("doc_id"),
        F.concat("text", F.lit(" "), "text").alias("text"),
        _rand_vec("triT").alias("embedding"),
    )
    semantic = corpus.select(
        (-F.col("doc_id") * 4 - 3).alias("doc_id"),
        _fresh_text("g").alias("text"),
        "embedding",
    )
    fresh = corpus.select(
        (-F.col("doc_id") * 4 - 4).alias("doc_id"),
        _fresh_text("f").alias("text"),
        _rand_vec("triF").alias("embedding"),
    )
    incoming = (
        exact.unionByName(text_dup).unionByName(semantic).unionByName(fresh)
    )
    n_incoming = 4 * n_corpus
    tmp = tempfile.mkdtemp(prefix="stream_rehearsal_triad_")
    try:
        src = os.path.join(tmp, "src")
        n_files = max(8, -(-n_incoming // 3125))
        incoming.repartition(int(n_files)).write.parquet(src)
        fp, mh, idx = (
            os.path.join(tmp, "fp"),
            os.path.join(tmp, "mh"),
            os.path.join(tmp, "idx"),
        )
        t0 = time.time()
        build_fp_store(corpus, fp)
        build_minhash_store(corpus, mh, n=1)  # unigram: see docstring
        build_ivfpq_index(
            corpus.select("doc_id", "embedding"), idx, id_col="doc_id"
        )
        build_s = time.time() - t0

        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "8")
            .parquet(src)
        )
        _raise_progress_retention(spark)
        t0 = time.time()
        q = stream_ingest_dedup_all(
            stream,
            fp,
            mh,
            idx,
            survivors_dir=os.path.join(tmp, "out"),
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            auto_compact_after=None,  # measuring post-drain tier depth
        )
        q.awaitTermination()
        wall = time.time() - t0
        out = {"path": "ingest_all", "wall_s": round(wall, 2)}
        out.update(_progress_stats(_collect_progress(q)))
        out["input_rows"] = n_incoming  # source truth
        out["build_s"] = round(build_s, 2)
        from sales_forecast_pyspark_spark.llmdata import lsm
        from sales_forecast_pyspark_spark.llmdata.ann_index import INDEX_TABLES
        from sales_forecast_pyspark_spark.llmdata.dedup_store import (
            MINHASH_TABLES,
        )
        from sales_forecast_pyspark_spark.llmdata.ingest import FP_TABLES

        out["inc_batches"] = (
            len(lsm.list_inc_batches(spark, fp, "fps"))
            + len(lsm.list_inc_batches(spark, mh, "doc_counts"))
            + len(lsm.list_inc_batches(spark, idx, "codes"))
        )
        out["inc_files"] = sum(
            lsm.data_files(spark, os.path.join(p, f"{t}_inc"))
            for p, tables in (
                (fp, FP_TABLES), (mh, MINHASH_TABLES), (idx, INDEX_TABLES)
            )
            for t in tables
        )
        verdicts = (
            spark.read.parquet(os.path.join(tmp, "out"))
            .groupBy(
                F.pmod(F.col("doc_id"), F.lit(4)).alias("cls"), "verdict"
            )
            .count()
            .collect()
        )
        counts = {(r["cls"], r["verdict"]): r["count"] for r in verdicts}
        expected = {
            (3, "exact_dup"): n_corpus,
            (2, "text_dup"): n_corpus,
            (1, "semantic_dup"): n_corpus,
            (0, "admitted"): n_corpus,
        }
        out["class_counts"] = {
            f"{c}:{v}": n for (c, v), n in sorted(counts.items())
        }
        out["per_class"] = n_corpus
        out["triad_exactness"] = bool(counts == expected)
        # post-drain cross-store agreement (VERDICT r14 ask #6): the
        # throughput/verdict measurements above say the LOOP behaved;
        # the consistency report says the three STORES it fed still
        # hold the same admitted set — the audit the maintenance CLI
        # offers operators, asserted here after every rehearsed drain
        from sales_forecast_pyspark_spark.llmdata import (
            triad_consistency_report,
        )

        rep = triad_consistency_report(spark, fp, mh, idx)
        out["triad_consistent"] = bool(rep["consistent"])
        out["strict_consistent"] = bool(rep["strict_consistent"])
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_dedup_screen_ratio(spark, sf_dir, files_per_trigger) -> dict:
    """The screen-vs-reshingle ratio at this corpus decade, made
    reproducible (the r12 numbers in SCALING.md — 2.6× at 20k docs,
    7.8× at 80k — were measured ad hoc; VERDICT r12 ask #5 wants the
    100× point recorded from a rerunnable path): time a 500-doc batch
    SCREEN against a store built on the full corpus, vs the one-shot
    `minhash_near_dedup` over corpus+batch that a store-less pipeline
    would rerun at every ingest. The screen is O(batch) — near-flat
    across decades — while the one-shot re-signatures the corpus AND
    pays the duplicate-family candidate fan-out, so the ratio widens
    with corpus growth; at real ingest cadence the one-shot side is
    paid per batch, making the ratio the per-ingest saving."""
    from sales_forecast_pyspark_spark.llmdata import (
        build_minhash_store,
        screen_against_minhash_store,
    )
    from sales_forecast_pyspark_spark.llmdata.dedup import minhash_near_dedup
    from sales_forecast_pyspark_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    batch = (
        docs.orderBy("doc_id")
        .limit(500)
        .select((-F.col("doc_id") - 1).alias("doc_id"), "text")
    )
    batch = batch.localCheckpoint(eager=True)  # fix the batch off-clock
    tmp = tempfile.mkdtemp(prefix="stream_rehearsal_ratio_")
    try:
        store = os.path.join(tmp, "store")
        t0 = time.time()
        build_minhash_store(docs, store)
        build_s = time.time() - t0
        t0 = time.time()
        n_hits = screen_against_minhash_store(
            batch, store, threshold=0.5
        ).count()
        screen_s = time.time() - t0
        t0 = time.time()
        n_oneshot = minhash_near_dedup(
            docs.unionByName(batch), threshold=0.5
        ).count()
        oneshot_s = time.time() - t0
        # the ratio of the REPORTED (rounded) times, so a reader can
        # recompute it from the same record
        screen_s, oneshot_s = round(screen_s, 2), round(oneshot_s, 2)
        return {
            "path": "dedup_screen_ratio",
            "corpus_docs": n_docs,
            "batch_docs": 500,
            "build_s": round(build_s, 2),
            "screen_s": screen_s,
            "oneshot_s": oneshot_s,
            "ratio": round(oneshot_s / max(screen_s, 1e-9), 2),
            "screen_hits": n_hits,
            "oneshot_pairs": n_oneshot,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


PATHS = {
    "windowed_totals": run_windowed,
    "attribution": run_attribution,
    "partials_fold": run_partials_fold,
    "ingest_all": run_ingest_all,
    "dedup_screen_ratio": run_dedup_screen_ratio,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="+",
                    default=["/root/testdata/sf0.1", ".rehearsal/sf1x"])
    ap.add_argument("--paths", nargs="+", default=list(PATHS),
                    choices=list(PATHS))
    # default = the measured rows-per-group-instance sweet spot (r09,
    # SCALING.md streaming: 32 files/trigger = 33 rows/instance =
    # 185.6k rows/s at 100x vs 63.5k at 8) — pass 8 to reproduce the
    # historical r08/r09 ladder numbers
    ap.add_argument("--files-per-trigger", type=int, default=32)
    args = ap.parse_args()

    from sales_forecast_pyspark_spark.session import get_spark

    spark = get_spark("stream-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    summary: dict[str, dict] = {}
    for sf_dir in args.dirs:
        label = os.path.basename(os.path.normpath(sf_dir))
        summary[label] = {}
        for path in args.paths:
            res = PATHS[path](spark, sf_dir, args.files_per_trigger)
            res["scale"] = label
            # dedup_screen_ratio reports component timings, not a
            # streamed row total — no throughput line for it
            if res.get("wall_s") and "input_rows" in res:
                res["rows_per_s"] = round(res["input_rows"] / res["wall_s"])
            print(json.dumps(res), flush=True)
            summary[label][path] = res
    print(json.dumps({"summary": summary}), flush=True)


if __name__ == "__main__":
    main()
