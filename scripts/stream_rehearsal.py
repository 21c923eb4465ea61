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
   may mis-attribute (the documented limitation whose remedy is
   ``reconcile_late_attribution``); emission COUNT still equals the
   conversion count, which is asserted via observe() metrics.
3. ``partials_fold`` — the foreachBatch incremental panel maintenance
   (versioned decimal partials). The scale claims: per-fold cost is
   bounded by STATE SIZE (panel grain), not log length, and the final
   state finalizes bit-equal to a one-shot batch rebuild — asserted
   here via an exceptAll diff at full scale, the same gate the sf0.001
   pytest pins.

4. ``index_ingest`` — exactly-once streaming append into the persisted
   IVF-PQ index (batch-versioned increments). Claims: the drained index
   serves exactly what a batch append serves, the O(batches) live-stats
   report stays bit-equal to the full scan, same-distribution drift
   reads green.
5. ``dedup_ingest`` — the composed incremental-dedup loop against a
   persisted MinHash store over a half-dup / half-constructed-fresh
   stream. Claims: exact dedup (every re-keyed dup screened, every
   disjoint-shingle fresh doc survives) and batch-proportional cost.
6. ``semantic_ingest`` — the composed SEMANTIC-dedup loop against the
   serving IVF-PQ index over a half-dup / half-hash-random vector
   stream (VERDICT r13 ask #3). Claims: exact dedup at the 0.9 cosine
   threshold, bounded ~25k-row micro-batches by contract, and the
   isolated 500-vector screen cost per decade — the probe-cost growth
   term measured, not argued.
7. ``ingest_all`` — the composed TRIAD loop (stream_ingest_dedup_all,
   VERDICT r13 ask #6) over a four-class engineered stream (exact /
   text / semantic / fresh, one class per verdict). Claims: per-class
   verdict exactness — the short-circuit stage order holds under real
   micro-batching at every decade — plus end-to-end throughput and
   post-drain increment depth across all three stores.

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




def run_index_ingest(spark, sf_dir, files_per_trigger) -> dict:
    """Streaming ingest into the persisted IVF-PQ index
    (stream_append_to_ivfpq_index): a same-distribution re-keyed copy
    of the embeddings table streams into an index built on the
    originals. Scale claims measured: per-batch cost is flat in corpus
    size (encode + increment writes touch only the batch), the drained
    index serves EXACTLY what a batch append of the same rows serves,
    the O(batches) live-stats report stays bit-equal to the full scan,
    and the same-distribution drift report is green."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_stats,
        query_ivfpq_index,
        stream_append_to_ivfpq_index,
    )
    from sales_forecast_pyspark_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # collision-FREE re-key: negative ids can never collide with any
    # base id at any scale. A fixed positive offset collided with the
    # 10x generator's own key offsets (base ids reach 9e7) — and the
    # live-vs-full-scan flag below caught it: duplicate ids fan out the
    # full scan's vectors ⋈ codes join while the live tier stays right,
    # so that bit-equality flag doubles as an id-is-key-contract
    # violation detector.
    new_rows = emb.select(
        (-F.col("vec_id") - 1).alias("vec_id"), "embedding"
    )
    tmp = tempfile.mkdtemp(prefix="stream_rehearsal_idx_")
    try:
        src = os.path.join(tmp, "src")
        new_rows.repartition(8).write.parquet(src)
        p_stream = os.path.join(tmp, "idx_stream")
        build_ivfpq_index(emb, p_stream)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(files_per_trigger))
            .parquet(src)
        )
        _raise_progress_retention(spark)
        t0 = time.time()
        q = stream_append_to_ivfpq_index(
            stream,
            p_stream,
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            # the rehearsal MEASURES post-drain increment-tier depth;
            # the self-compaction default would fold it mid-drain
            auto_compact_after=None,
        )
        q.awaitTermination()
        wall = time.time() - t0
        out = {"path": "index_ingest", "wall_s": round(wall, 2)}
        out.update(_progress_stats(_collect_progress(q)))
        # foreachBatch runs several actions per batch (dimension-check
        # first(), encode, counts), and FileStreamSource's numInputRows
        # aggregates the source rows each of them touched — measured
        # 2250 for a 2000-row batch. Report the SOURCE truth instead.
        out["input_rows"] = spark.read.parquet(src).count()
        # increment-tier depth after the drain (VERDICT r12 ask #5):
        # what the serve path pays before a compaction folds it — the
        # quantity lsm.should_compact bounds in a long-running loop
        from sales_forecast_pyspark_spark.llmdata import lsm

        out["inc_batches"] = len(lsm.list_inc_batches(spark, p_stream, "codes"))
        out["inc_files"] = sum(
            lsm.data_files(spark, os.path.join(p_stream, f"{t}_inc"))
            for t in ("codes", "vectors", "stats_live")
        )
        # equivalence vs a batch append of the same rows
        p_batch = os.path.join(tmp, "idx_batch")
        build_ivfpq_index(emb, p_batch)
        append_to_ivfpq_index(new_rows, p_batch)
        # deterministic query set: limit() without an ordering may pick
        # different rows per job, and the two serve calls below each
        # re-evaluate it — a nondeterministic subset would flap the
        # equivalence flag on a healthy index
        queries = emb.filter(F.col("vec_id") < 200)
        out["matches_batch_append"] = _frames_equal(
            query_ivfpq_index(spark, p_stream, queries, k=5),
            query_ivfpq_index(spark, p_batch, queries, k=5),
        )
        live = ivfpq_index_stats(spark, p_stream)
        full = ivfpq_index_stats(spark, p_stream, full_scan=True)
        out["live_stats_match_full_scan"] = _frames_equal(live, full)
        out["drift_flags"] = sum(
            r["drift_flag"] for r in live.collect()
        )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_dedup_ingest(spark, sf_dir, files_per_trigger) -> dict:
    """The composed incremental-dedup loop (stream_ingest_dedup) over a
    half-dup / half-fresh incoming stream against a store seeded with
    the documents table. Scale claims measured: per-batch cost is flat
    in corpus size (the screen is a bucket-equality join + estimate
    verify, never a corpus re-shingle), every re-keyed dup of the seed
    corpus is screened, and every constructed-fresh doc (disjoint
    shingle sets by construction) survives — exact survivor counts,
    not a tolerance."""
    from sales_forecast_pyspark_spark.llmdata import (
        build_minhash_store,
        stream_ingest_dedup,
    )
    from sales_forecast_pyspark_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    # collision-free re-keys (see index_ingest): dups on the odd
    # negatives (-2id-1), fresh on the even negatives (-2id-2) —
    # STRUCTURALLY disjoint from the base and from each other at any
    # generator scale. The first form of this (-id-1 / -id-200M) only
    # looked scale-proof: at k>=20 the generator's key offsets push
    # base ids past 2e8, the two negative ranges overlap, and the
    # colliding ids merge a dup text and a fresh text into ONE
    # corrupted signature — the 100x run's own dedup_exactness flag
    # went false and caught it, the harness's second id-collision
    # bug surfaced by its own audit (the first was r12's +1e7 offset
    # in index_ingest).
    dups = docs.select((-F.col("doc_id") * 2 - 1).alias("doc_id"), "text")
    fresh = docs.select(
        (-F.col("doc_id") * 2 - 2).alias("doc_id"),
        F.expr(
            "array_join(transform(sequence(1, 60), "
            "i -> concat('w', doc_id, 'x', i)), ' ')"
        ).alias("text"),
    )
    n_dups, n_fresh = dups.count(), fresh.count()
    tmp = tempfile.mkdtemp(prefix="stream_rehearsal_mh_")
    try:
        src = os.path.join(tmp, "src")
        dups.unionByName(fresh).repartition(8).write.parquet(src)
        store = os.path.join(tmp, "store")
        build_minhash_store(docs, store)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", str(files_per_trigger))
            .parquet(src)
        )
        _raise_progress_retention(spark)
        t0 = time.time()
        q = stream_ingest_dedup(
            stream,
            store,
            survivors_dir=os.path.join(tmp, "out"),
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            threshold=0.5,
            auto_compact_after=None,  # measuring post-drain tier depth
        )
        q.awaitTermination()
        wall = time.time() - t0
        out = {"path": "dedup_ingest", "wall_s": round(wall, 2)}
        out.update(_progress_stats(_collect_progress(q)))
        # source-truth rows, same correction as index_ingest: the loop
        # runs several actions per batch and numInputRows aggregates
        # the source rows each touched
        out["input_rows"] = spark.read.parquet(src).count()
        # increment-tier depth after the drain (VERDICT r12 ask #5)
        from sales_forecast_pyspark_spark.llmdata import lsm

        out["inc_batches"] = len(
            lsm.list_inc_batches(spark, store, "doc_counts")
        )
        out["inc_files"] = sum(
            lsm.data_files(spark, os.path.join(store, f"{t}_inc"))
            for t in ("signatures", "buckets", "fingerprints", "doc_counts")
        )
        survivors = spark.read.parquet(os.path.join(tmp, "out"))
        n_surv = survivors.count()
        n_fresh_surv = survivors.filter(
            F.pmod(F.col("doc_id"), F.lit(2)) == 0  # even negatives = fresh
        ).count()
        out["incoming_dups"] = n_dups
        out["incoming_fresh"] = n_fresh
        out["survivors"] = n_surv
        # exact contract: all fresh survive, all dups screened
        out["dedup_exactness"] = bool(
            n_surv == n_fresh and n_fresh_surv == n_fresh
        )
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_semantic_ingest(spark, sf_dir, files_per_trigger) -> dict:
    """The composed incremental SEMANTIC-dedup loop
    (stream_ingest_semantic_dedup) over a half-dup / half-fresh vector
    stream against a serving IVF-PQ index built on the embeddings
    table — the embedding twin of run_dedup_ingest, closing the
    rehearsal gap VERDICT r13 flagged: of the three ingest loops this
    is the one whose per-batch screen cost has a plausible growth term
    (|batch| probes over cells whose SIZE grows with the corpus), so
    the decade ladder must measure it rather than argue it.

    Claims measured:
    - exactness: every re-keyed exact dup of the corpus (odd negative
      ids) screens out at cos 1.0; every constructed-fresh vector
      (even negative ids, hash-random per (id, dim) — pairwise cosine
      concentrates at 0 ± 1/√d, far below the 0.9 threshold at any
      rehearsed scale) survives. Exact counts, not a tolerance.
    - isolated probe cost: a FIXED 500-vector batch screened against
      the pre-ingest index, timed per decade (`screen_s`) — the direct
      measurement of the growth term (cell size scales with corpus/
      n_centroids; the probed-cell PartitionFilter keeps it to
      n_probe/n_centroids of the codes bytes).
    - bounded micro-batches BY CONTRACT: the screen broadcasts
      per-(query, cell) ADC state, |batch|-scale — so the source is
      written in ~3k-row files and drained 8 files/trigger (~25k-row
      batches) at EVERY decade instead of letting one batch swallow a
      decade; a production loop sizes batches the same way. The passed
      files_per_trigger is deliberately not used here.
    - post-drain increment-tier depth, same as the sibling loops."""
    from sales_forecast_pyspark_spark.llmdata import (
        build_ivfpq_index,
        screen_against_ivfpq_index,
        stream_ingest_semantic_dedup,
    )
    from sales_forecast_pyspark_spark.sources.readers import read_table

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_vecs = emb.count()
    d = len(emb.select("embedding").first()[0])
    # collision-free re-keys (same discipline as run_dedup_ingest):
    # dups on the odd negatives, fresh on the even negatives —
    # structurally disjoint from the base and each other at any scale
    dups = emb.select((-F.col("vec_id") * 2 - 1).alias("vec_id"), "embedding")
    fresh = emb.select(
        (-F.col("vec_id") * 2 - 2).alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {d}), i -> "
            "cast((pmod(xxhash64(concat('fresh', cast(vec_id as string), "
            "'x', cast(i as string))), 2000001) - 1000000) / 1000000.0 "
            "as float))"
        ).alias("embedding"),
    )
    n_incoming = 2 * n_vecs
    tmp = tempfile.mkdtemp(prefix="stream_rehearsal_sem_")
    try:
        src = os.path.join(tmp, "src")
        n_files = max(8, -(-n_incoming // 3125))
        dups.unionByName(fresh).repartition(int(n_files)).write.parquet(src)
        path = os.path.join(tmp, "idx")
        t0 = time.time()
        build_ivfpq_index(emb, path)
        build_s = time.time() - t0
        # isolated probe cost BEFORE the ingest mutates the index: a
        # fixed 500-vector batch (disjoint id range) against the
        # corpus-sized serving index
        probe = (
            emb.orderBy("vec_id")
            .limit(500)
            .select((-F.col("vec_id") - 1_000_000_001).alias("vec_id"),
                    "embedding")
            .localCheckpoint(eager=True)
        )
        t0 = time.time()
        screen_hits = screen_against_ivfpq_index(
            spark, path, probe, threshold=0.9
        ).select("vec_id").distinct().count()
        screen_s = time.time() - t0

        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "8")
            .parquet(src)
        )
        _raise_progress_retention(spark)
        t0 = time.time()
        q = stream_ingest_semantic_dedup(
            stream,
            path,
            survivors_dir=os.path.join(tmp, "out"),
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            threshold=0.9,
            auto_compact_after=None,  # measuring post-drain tier depth
        )
        q.awaitTermination()
        wall = time.time() - t0
        out = {"path": "semantic_ingest", "wall_s": round(wall, 2)}
        out.update(_progress_stats(_collect_progress(q)))
        out["input_rows"] = n_incoming  # source truth, as in the siblings
        out["build_s"] = round(build_s, 2)
        out["screen_s"] = round(screen_s, 2)
        out["screen_batch"] = 500
        out["screen_hits"] = screen_hits
        from sales_forecast_pyspark_spark.llmdata import lsm

        out["inc_batches"] = len(lsm.list_inc_batches(spark, path, "codes"))
        out["inc_files"] = sum(
            lsm.data_files(spark, os.path.join(path, f"{t}_inc"))
            for t in ("codes", "vectors", "stats_live")
        )
        survivors = spark.read.parquet(os.path.join(tmp, "out"))
        n_surv = survivors.count()
        n_fresh_surv = survivors.filter(
            F.pmod(F.col("vec_id"), F.lit(2)) == 0  # even negatives = fresh
        ).count()
        out["incoming_dups"] = n_vecs
        out["incoming_fresh"] = n_vecs
        out["survivors"] = n_surv
        out["semantic_exactness"] = bool(
            n_surv == n_vecs and n_fresh_surv == n_vecs
        )
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
      screen is deterministic (the same exactness discipline the
      sibling legs get from verbatim re-keys) — while the whole-text
      md5 differs, so stage 1 CANNOT catch it: every row must read
      ``text_dup``, which pins the stage order at scale. Geometry-level
      (probabilistic) recall is the sibling legs' and the one-shot
      row's concern, deliberately not re-measured here.
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
    ALL THREE stores. Micro-batches are bounded by contract like the
    semantic leg (~3k-row source files, 8 files/trigger) — the passed
    files_per_trigger is deliberately not used."""
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
        out["input_rows"] = n_incoming  # source truth, as in the siblings
        out["build_s"] = round(build_s, 2)
        from sales_forecast_pyspark_spark.llmdata import lsm

        out["inc_batches"] = (
            len(lsm.list_inc_batches(spark, fp, "fps"))
            + len(lsm.list_inc_batches(spark, mh, "doc_counts"))
            + len(lsm.list_inc_batches(spark, idx, "codes"))
        )
        out["inc_files"] = (
            lsm.data_files(spark, os.path.join(fp, "fps_inc"))
            + sum(
                lsm.data_files(spark, os.path.join(mh, f"{t}_inc"))
                for t in (
                    "signatures", "buckets", "fingerprints", "doc_counts"
                )
            )
            + sum(
                lsm.data_files(spark, os.path.join(idx, f"{t}_inc"))
                for t in ("codes", "vectors", "stats_live")
            )
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
    "index_ingest": run_index_ingest,
    "dedup_ingest": run_dedup_ingest,
    "semantic_ingest": run_semantic_ingest,
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
