"""The composed corpus-ingest dedup pipeline: all three incremental
legs — exact fingerprint, MinHash text, embedding cosine — over the
SAME micro-batch, in short-circuit order (VERDICT r13 ask #6).

A real training-corpus pipeline runs all three dedup classes at ingest
cadence over one stream. ``stream_ingest_dedup_all`` is the engine's
one streaming dedup loop, with the cost structure a 100 TB pipeline
needs:

- **Stage order is a cost ladder.** Exact fingerprinting is one md5
  per doc; MinHash signing is shingle+hash work; an index probe is the
  most expensive screen. Each stage runs ONLY on the previous stage's
  survivors, so an exact dup never pays a signature build and a text
  dup never pays an index probe — the short-circuit is test-pinned by
  verdict precedence (an exact copy of an admitted doc is always
  ``exact_dup``, even though the later stages would also flag it).
- **One stage function per tier.** Stage 2 is
  ``dedup_store._text_stage`` and stage 3 is
  ``ann_index._semantic_stage``, so each tier's screen, pair and peel
  code lives in its store's module. Only the exact tier (stage 1) and
  the three-store admission live here.
- **One batch cache.** The batch is cached once, with its whole-text
  md5, and every stage reads it: the md5 feeds the fp screen, the
  in-batch first-wins AND the fp admission; signatures are computed
  once on stage-1 survivors and reused for the store screen, the
  in-batch peel, AND the admission.
- **One survivors dir, per-stage verdict.** Every batch row publishes
  to ``survivors_dir/b=<id>`` with a ``verdict`` column in
  {``exact_dup``, ``text_dup``, ``semantic_dup``, ``admitted``} —
  downstream consumers filter ``admitted``; auditors see exactly which
  tier dropped what.
- **Exactly-once across all three stores.** Every store append is
  batch-keyed and idempotent (versioned increment dirs + fold-ledger
  replay guards — the shared ``lsm`` design), and every store screen
  excludes the batch's own prior attempt (``src_batch`` filters for
  the fp and MinHash stores, own-id exclusion for the index), so a
  replayed batch is judged only against prior state and re-publishes
  bit-identical verdicts. The three appends run side by side (three
  stores, three leases), so a batch that fails during admission may
  leave ANY subset of them landed; the verdicts publish only after all
  three succeed, and the replay completes the rest.

The EXACT-FINGERPRINT STORE persisted here (``build_fp_store`` /
``screen_against_fp_store`` / ``append_to_fp_store`` /
``compact_fp_store``) is the whole-text md5 tier — the incremental
twin of the ``dedup_exact`` / ``incremental_ingest_dedup`` one-shot
rows, on the same LSM layout as the MinHash store and the IVF-PQ
index: a single ``fps`` table (fp, doc_id, src_batch), base +
``fps_inc/b=<id>`` increments, single-maintainer lease, fold ledger.
At 100 TB the screen is an equality join on a 32-byte key against a
fp-sorted store.

Zero-norm embeddings (no direction) pass the semantic stage
unjudged and are never admitted to the index (its append drops
them), yet repeated copies are BOUNDED by construction: stage 1's
whole-text fingerprint catches every exact re-offer, so an exact
re-offer reads ``exact_dup`` whatever its embedding. For the same
reason stage 2 needs no first-wins step for zero-token texts (no
shingles, hence no MinHash signature): identical texts share a
whole-text fp, so stage 1 has already collapsed them, in-batch by
first-wins and across batches by the fp store.
"""

from __future__ import annotations

import os

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata import lsm
from sales_forecast_pyspark_spark.llmdata.ann_index import (
    INDEX_TABLES,
    _read_index_table,
    _semantic_stage,
    append_to_ivfpq_index,
    compact_ivfpq_index,
)
from sales_forecast_pyspark_spark.llmdata.dedup import fingerprint_expr
from sales_forecast_pyspark_spark.llmdata.dedup_store import (
    MINHASH_TABLES,
    _append_signed,
    _first_wins,
    _read_store_fps,
    _read_store_table,
    _text_stage,
    compact_minhash_store,
)

# the fp store's one table (base + increment tiers): fp-sorted for
# row-group locality on the screen's join key
FPS = lsm.Table(
    "fps", ("doc_id", "fp", "src_batch"), ("fp", "doc_id"), 48, ("fp",)
)
FP_TABLES = (FPS.name,)


def _fp_frame(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, fp) — the whole-text exact fingerprint (the
    oracle-reproducible ``fingerprint_expr`` md5, same expression the
    ``doc_fingerprints`` driver row pins)."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        fingerprint_expr(text_col).alias("fp"),
    )


def build_fp_store(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Fingerprint the seed corpus and persist the ``fps`` table.
    Returns the number of rows written. Holds the single-maintainer
    lease; a rebuild in place drops the prior incarnation's increments
    and fold ledger (``lsm.reset``)."""
    spark = df.sparkSession
    fps = _fp_frame(df, id_col, text_col).withColumn(
        "src_batch", lsm.src_batch(None)
    )
    fps.cache()
    n = fps.count()
    with lsm.maintenance_lease(spark, path, "build"):
        lsm.reset(spark, path, FP_TABLES)
        lsm.write_sized(
            FPS, fps, *lsm.destination(path, FPS.name, None, build=True),
            n * FPS.row_bytes,
        )
    fps.unpersist()
    return n


def _read_fp_store(spark: SparkSession, path: str) -> DataFrame:
    return lsm.read_tiered(spark, path, FPS.name)


def screen_against_fp_store(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    exclude_batch: int | None = None,
) -> DataFrame:
    """Which batch docs are EXACT copies of docs already in the store?
    One md5 per batch doc + an fp equality join. Returns (doc_id,
    dup_of, fp). ``exclude_batch`` is the replay guard, as in the
    MinHash store's screen."""
    return _screen_fps(
        batch.sparkSession, path, _fp_frame(batch, id_col, text_col),
        exclude_batch,
    )


def _screen_fps(
    spark: SparkSession,
    path: str,
    fpb: DataFrame,
    exclude_batch: int | None,
) -> DataFrame:
    """Screening body over an already-fingerprinted (doc_id, fp) batch,
    so the triad loop screens and admits from the one md5 pass it
    checkpoints."""
    store = _read_fp_store(spark, path)
    if exclude_batch is not None:
        store = store.filter(F.col("src_batch") != int(exclude_batch))
    return fpb.join(
        store.select(F.col("doc_id").alias("dup_of"), "fp"), "fp"
    ).select("doc_id", "dup_of", "fp")


def append_to_fp_store(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
    lease_retry_s: float = 0.0,
) -> int:
    """Admit accepted docs' fingerprints. With ``batch_id`` the write
    is IDEMPOTENT (overwrite-mode ``fps_inc/b=<id>``) and fold-ledger
    guarded — same versioned-increments contract as the sibling
    stores."""
    return _append_fps(
        df.sparkSession, _fp_frame(df, id_col, text_col), path, batch_id,
        lease_retry_s,
    )


def _append_fps(
    spark: SparkSession,
    fps: DataFrame,
    path: str,
    batch_id: int | None,
    lease_retry_s: float = 0.0,
) -> int:
    """Append body over already-fingerprinted (doc_id, fp) rows."""
    with lsm.maintenance_lease(spark, path, "append", retry_s=lease_retry_s):
        if lsm.already_folded(spark, path, batch_id):
            return 0
        fps = fps.withColumn("src_batch", lsm.src_batch(batch_id))
        fps.cache()
        n = fps.count()
        lsm.write_sized(
            FPS, fps, *lsm.destination(path, FPS.name, batch_id),
            n * FPS.row_bytes,
        )
        fps.unpersist()
        return n


def compact_fp_store(spark: SparkSession, path: str) -> dict:
    """Fold increment batches into the fp-sorted base (``lsm.fold``).
    The store is a SINGLE table, so every increment dir present is a
    complete batch (one atomic overwrite-mode write) and all of them
    fold; ``src_batch`` provenance is preserved for the replay guard.
    Fenced like the sibling compactors. Returns {"fps": (files_before,
    files_after)}."""
    with lsm.maintenance_lease(spark, path, "compact") as lease_token:
        folding = lsm.list_inc_batches(spark, path, FPS.name)
        out = {FPS.name: lsm.fold(spark, path, FPS, folding)}
        lsm.finish_fold(spark, path, lease_token, folding, FP_TABLES)
        return out


def triad_consistency_report(
    spark: SparkSession,
    fp_store: str,
    mh_store: str,
    index_path: str,
    recheck: bool = True,
) -> dict:
    """One-call cross-store audit for a composed-triad deployment: the
    loop admits every survivor to ALL THREE stores under the same
    batch id, so after any crash / replay / independent compaction the
    operator's question is \"do the stores still agree on the admitted
    set?\" — answered here from the tiered views the readers actually
    serve (base ∪ increments), so a store that compacted while a
    sibling didn't still compares equal.

    Contract checked:
    - the fp store and the MinHash store (signatures ∪ zero-token
      fingerprints tiers) hold EXACTLY the same doc ids;
    - the index holds a SUBSET of those ids (its append drops
      zero-norm vectors by documented design) — ``index_missing`` is
      the count of fp-store docs absent from the index, 0 on any
      corpus without zero-norm embeddings;
    - no store holds an id the fp store lacks (``*_extra`` counts).

    ``consistent`` is True iff both extras are 0 and the fp/mh sets
    match; ``strict_consistent`` additionally requires
    ``index_missing == 0`` — the right verdict on a corpus known to be
    zero-norm-free.
    All comparisons are distributed anti-join COUNTS — nothing rowish
    is collected; the per-store increment-batch id sets (kilobyte
    metadata) are returned for provenance triage.

    QUIESCENCE (ADVICE r14): the report holds no lease — it is the one
    deliberately uncoordinated reader, so it can run against a live
    loop without stalling ingest. The price is that the three id sets
    materialize at different times: the loop admits a batch to the
    three stores concurrently, so mid-admission ANY subset of the three
    appends may have landed, and the batch shows as transient
    ``mh_missing``/``index_missing``/``mh_extra``/``index_extra`` > 0.
    ``recheck``
    (default True) re-runs the whole comparison once before reporting
    inconsistency — a TRANSIENT mid-batch state changes between the
    two passes (the second pass sees the appends land), while real
    divergence is stable across both. A clean verdict from a single
    pass never rechecks. For a hard guarantee, run it on a quiesced
    pipeline (drained stream, no maintainer)."""

    def _once() -> dict:
        fp_ids = (
            _read_fp_store(spark, fp_store).select("doc_id").distinct()
        )
        signatures = _read_store_table(spark, mh_store, "signatures")
        # the zero-token fingerprints tier's empty-frame fallback must
        # union under the store's ACTUAL id type, not a hardcoded long
        # (ADVICE r14) — string-keyed stores coerced or failed outright
        id_dtype = dict(signatures.dtypes)["doc_id"]
        mh_ids = (
            signatures.select("doc_id")
            .unionByName(
                _read_store_fps(spark, mh_store, id_dtype).select("doc_id")
            )
            .distinct()
        )
        idx_ids = (
            _read_index_table(spark, index_path, "vectors")
            .select(F.col("neighbor_id").alias("doc_id"))
            .distinct()
        )
        fp_ids.cache()
        mh_ids.cache()
        idx_ids.cache()
        try:
            report = {
                "n_fp": fp_ids.count(),
                "n_mh": mh_ids.count(),
                "n_index": idx_ids.count(),
                "mh_extra": mh_ids.join(
                    fp_ids, "doc_id", "left_anti"
                ).count(),
                "mh_missing": fp_ids.join(
                    mh_ids, "doc_id", "left_anti"
                ).count(),
                "index_extra": idx_ids.join(
                    fp_ids, "doc_id", "left_anti"
                ).count(),
                "index_missing": fp_ids.join(
                    idx_ids, "doc_id", "left_anti"
                ).count(),
                "inc_batches": {
                    "fp": sorted(
                        lsm.list_inc_batches(spark, fp_store, "fps")
                    ),
                    "mh": sorted(
                        lsm.list_inc_batches(spark, mh_store, "doc_counts")
                    ),
                    "index": sorted(
                        lsm.list_inc_batches(spark, index_path, "codes")
                    ),
                },
            }
        finally:
            fp_ids.unpersist()
            mh_ids.unpersist()
            idx_ids.unpersist()
        report["consistent"] = bool(
            report["mh_extra"] == 0
            and report["mh_missing"] == 0
            and report["index_extra"] == 0
        )
        report["strict_consistent"] = bool(
            report["consistent"] and report["index_missing"] == 0
        )
        return report

    report = _once()
    report["rechecked"] = False
    if recheck and not report["strict_consistent"]:
        report = _once()
        report["rechecked"] = True
    return report


def _admit_concurrently(*appends) -> None:
    """Run each store append in a thread of its own and wait for all of
    them; the first error is raised once every thread has joined. An
    ``InheritableThread`` copies the caller's Spark local properties,
    so the appends' jobs keep the streaming query's job group."""
    errors: list[BaseException] = []

    def run(append) -> None:
        try:
            append()
        except BaseException as e:  # noqa: BLE001 - raised below
            errors.append(e)

    threads = [
        InheritableThread(target=run, args=(a,), name=f"triad-admit-{i}")
        for i, a in enumerate(appends)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def stream_ingest_dedup_all(
    stream_df: DataFrame,
    fp_store: str,
    mh_store: str,
    index_path: str,
    survivors_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    text_threshold: float = 0.5,
    cos_threshold: float = 0.9,
    k: int = 5,
    n_probe: int = 6,
    auto_compact_after: int | None = 64,
):
    """The composed triad ingest loop — see the module docstring for
    the cost-ladder / exactly-once / verdict-column contracts. Per
    micro-batch of (id, text, embedding) rows:

    1. EXACT: whole-text fingerprint vs the fp store (own batch
       excluded) + in-batch first-wins on identical fps → ``exact_dup``.
    2. TEXT: ``dedup_store._text_stage`` on the stage-1 survivors
       (signed ONCE; store screen + sequential-greedy in-batch peel)
       → ``text_dup``.
    3. SEMANTIC: ``ann_index._semantic_stage`` on the stage-2
       survivors (index screen, own ids excluded + EXACT in-batch
       pairs, greedy-peeled) → ``semantic_dup``.
    4. ADMIT the final survivors to ALL THREE stores under the batch id
       (fingerprints; the already-computed signatures; the index),
       concurrently: the appends touch three stores under three
       leases, so each runs in its own ``InheritableThread``, which
       keeps the query's job group. Each append waits up to
       ``lsm.STREAM_LEASE_RETRY_S`` for an external maintainer's
       lease. Every thread is joined before the first error is raised.
       Only after all three succeed is every batch row published with
       its verdict to ``survivors_dir/b=<id>`` (overwrite —
       idempotent).

    ``auto_compact_after=N`` (default 64) folds a store once any of
    its tables holds N increment dirs (``lsm.should_compact``), so
    long-running ingest bounds its own listing cost; ``None``
    disables (runs that measure tier depth use that). The fold runs
    inside the loop's own ``foreachBatch``, so its lease never
    contends with the appends.

    Uses availableNow (drain everything available, then stop; a
    deployment swaps in a processing-time trigger); returns the
    started StreamingQuery.

    Batch ceiling: stage 3 materializes its input driver-side, so a
    micro-batch that brings more than ``SEARCH_MAX_ROWS`` rows
    (similarity.py) to the semantic stage raises ``ValueError`` and
    fails the query. The recovery is a smaller trigger (e.g.
    ``maxFilesPerTrigger`` on the source) that keeps every micro-batch
    under the ceiling; a batch already in the checkpoint's offset log
    replays at its logged size."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        b = batch_df.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.col(vec_col).alias("embedding"),
            fingerprint_expr(text_col).alias("fp"),
        )
        cached = [b.cache()]
        try:
            # ---- stage 1: exact fingerprint (cheapest screen first) ----
            bfp = b.select("doc_id", "fp").localCheckpoint(eager=True)
            exact_losers = (
                _screen_fps(spark, fp_store, bfp, batch_id)
                .select("doc_id")
                .unionByName(_first_wins(bfp))
                .distinct()
                .localCheckpoint(eager=True)
            )
            s1 = b.join(exact_losers, "doc_id", "left_anti")

            # ---- stage 2: MinHash text (stage-1 survivors only) ----
            text_losers, bsig, unsigned, meta = _text_stage(
                spark, mh_store, s1, text_threshold, batch_id
            )
            cached += [bsig, unsigned]
            # survivor frames are pinned eagerly, not cached lazily: a
            # lazy cache is built inside whichever action first reads
            # it, and the three admission threads would race to build
            # the survivors' cache, each running its jobs
            s2 = s1.join(text_losers, "doc_id", "left_anti").localCheckpoint(
                eager=True
            )

            # ---- stage 3: embedding cosine (stage-2 survivors only) ----
            sem_losers = _semantic_stage(
                spark, index_path, s2, cos_threshold, k, n_probe
            )
            survivors = s2.join(
                sem_losers, "doc_id", "left_anti"
            ).localCheckpoint(eager=True)
            surv_ids = survivors.select("doc_id")

            # ---- admit to all three stores, batch-versioned, at once ----
            _admit_concurrently(
                lambda: _append_fps(
                    spark,
                    survivors.select("doc_id", "fp"),
                    fp_store,
                    batch_id,
                    lease_retry_s=lsm.STREAM_LEASE_RETRY_S,
                ),
                lambda: _append_signed(
                    spark,
                    bsig.join(surv_ids, "doc_id"),
                    mh_store,
                    meta,
                    batch_id,
                    fps=unsigned.join(surv_ids, "doc_id"),
                    lease_retry_s=lsm.STREAM_LEASE_RETRY_S,
                ),
                lambda: append_to_ivfpq_index(
                    survivors.select("doc_id", "embedding"),
                    index_path,
                    id_col="doc_id",
                    batch_id=batch_id,
                    lease_retry_s=lsm.STREAM_LEASE_RETRY_S,
                ),
            )

            # ---- publish: every row, per-stage verdict ----
            verdicts = (
                exact_losers.select(
                    "doc_id", F.lit("exact_dup").alias("verdict")
                )
                .unionByName(
                    text_losers.select(
                        "doc_id", F.lit("text_dup").alias("verdict")
                    )
                )
                .unionByName(
                    sem_losers.select(
                        "doc_id", F.lit("semantic_dup").alias("verdict")
                    )
                )
            )
            (
                b.drop("fp")
                .join(verdicts, "doc_id", "left")
                .withColumn(
                    "verdict", F.coalesce("verdict", F.lit("admitted"))
                )
                .write.mode("overwrite")
                .parquet(os.path.join(survivors_dir, f"b={int(batch_id)}"))
            )
        finally:
            for df in reversed(cached):
                df.unpersist()

        if auto_compact_after is None:
            return
        for path, tables, compact in (
            (fp_store, FP_TABLES, compact_fp_store),
            (mh_store, MINHASH_TABLES, compact_minhash_store),
            (index_path, INDEX_TABLES, compact_ivfpq_index),
        ):
            if lsm.should_compact(
                spark, path, tables, max_inc_batches=auto_compact_after
            ):
                compact(spark, path)

    return (
        stream_df.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
