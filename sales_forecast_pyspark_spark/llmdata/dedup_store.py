"""Persisted MinHash signature store: incremental near-dedup at
ingest cadence.

``minhash_near_dedup`` re-signatures the ENTIRE corpus on every call —
right for a one-shot sweep, wrong for the production shape where a
~100 TB corpus grows batch by batch and each new batch must be screened
against everything already accepted. This module persists the LSH state
once and lets every subsequent batch pay only for itself (the near-dup
analogue of ``ann_index.py``'s build-once/serve-many split; the exact-
fingerprint analogue is the ``incremental_ingest_dedup`` registered
row):

- ``build_minhash_store(df, path, ...)`` signs the seed corpus with the
  SAME signature pipeline as ``minhash_near_dedup`` (shared
  ``_minhash_signatures`` / ``_band_buckets`` helpers — identical text
  ⇒ identical signatures, test-pinned) and writes four tables:

  | table | contents | layout rationale |
  |---|---|---|
  | ``signatures`` | (doc_id, sig array<long>, src_batch) | the estimate-verify surface — candidate pairs re-score from stored signatures, the corpus TEXT is never re-read |
  | ``buckets`` | (doc_id, band, bucket, src_batch) | the join surface: screening is a (band, bucket) equality join, never all-pairs |
  | ``fingerprints`` | (doc_id, fp, src_batch) | the exact-dup surface for ZERO-TOKEN docs (empty/whitespace/punctuation-only text): they produce no shingles, hence no signature, so without this tier repeated exact copies would survive every batch forever (ADVICE r12). fp is the oracle-reproducible ``fingerprint_expr`` md5; screening is an fp equality join |
  | ``meta`` | (n, num_hashes, bands, n_docs) | geometry contract — a screen/append always derives its hashing from the store, so mixed-geometry signatures cannot collide silently |

- ``screen_against_minhash_store(batch, path, ...)`` signs the batch
  with the store's geometry, joins batch buckets against store buckets,
  and verifies candidates with the SIGNATURE-ESTIMATE Jaccard (fraction
  of agreeing min-hashes — the standard unbiased estimator; stderr
  ≈ √(j(1−j)/num_hashes), ~0.09 at 32 hashes, so thresholds are
  screening gates, not exact measures — raise ``num_hashes`` at build
  time to tighten; NOTE the one-shot ``minhash_near_dedup`` verifies
  with EXACT shingle Jaccard instead, so the same threshold draws a
  slightly different accept boundary when migrating a pipeline to the
  store — exact re-verification against STORE docs is impossible by
  design, their text is never retained). Zero-token batch docs are
  screened through the fingerprint tier (exact match ⇒ est_jaccard
  1.0). Returns (doc_id, dup_of, n_agree, est_jaccard) for batch docs
  whose estimate clears the threshold.

- ``append_to_minhash_store(df, path, batch_id=None)`` admits accepted
  docs (signatures+buckets for token-bearing docs, fingerprints for
  zero-token docs). With ``batch_id`` the append is IDEMPOTENT
  (overwrite-mode increment dirs, ``lsm.destination``), and every row
  carries ``src_batch`` — which is what makes the composed ingest loop
  replay-safe: a replayed batch screens with ``exclude_batch=<its own
  id>`` so it can never be screened out by its OWN first attempt.
  Build, append and fold write each table in the one layout
  ``_tables`` names (``lsm.write_sized``).

- ``_text_stage(spark, path, docs, threshold, batch_id)`` is the
  tier's ONE stage function: sign the micro-batch once, screen it
  against the store (``_screen_store``, own batch excluded), and peel
  its verified in-batch pairs under EXACT sequential-greedy semantics
  (``_peel`` → ``_greedy_losers``). Its streaming caller is stage 2
  of the one ingest loop, ``ingest.stream_ingest_dedup_all``, which
  admits the survivors from the cached signatures (``_append_signed``);
  the semantic tier's twin is ``ann_index._semantic_stage``.

Every mutating entry point (build / append / compact) takes the
store's single-maintainer lease (``lsm.maintenance_lease``), so the
no-ingest-concurrent-with-compaction rule is enforced — a concurrent
mutation fails loudly at acquire instead of corrupting (VERDICT r12
ask #4a).

At 100 TB: screening cost is |batch| signature builds + a bucket-key
equality join against a bucketed/partitioned store + |candidates|
signature comparisons — nothing rescans the corpus text; the store
grows by kilobytes of signature per accepted doc. Banding recall is
the standard 1-(1-j^r)^b curve (steep near j≈0.5 at 32/8 defaults):
a true near-dup pair is missed with probability (1-j^r)^b, the
documented trade every LSH dedup makes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata import lsm
from sales_forecast_pyspark_spark.llmdata.dedup import (
    _band_buckets,
    _exploded_shingles,
    _minhash_signatures,
    fingerprint_expr,
)
from sales_forecast_pyspark_spark.llmdata.text import tokens_expr

# every table a MinHash store keeps in base + increment tiers, in the
# order an append writes them (see _write_tables)
MINHASH_TABLES = ("signatures", "buckets", "fingerprints", "doc_counts")
_META_SCHEMA = "n int, num_hashes int, bands int, n_docs long"


def _tables(num_hashes: int) -> tuple[lsm.Table, lsm.Table, lsm.Table]:
    """The sized tables' write decisions (``lsm.Table``): signatures
    doc_id-sorted for the verify join's point lookups, buckets
    (band, bucket)-sorted for row-group locality on the screen's join
    key, and the small zero-token fingerprints tier fp-sorted for the
    screen's equality join (as ``ingest.FPS``)."""
    return (
        lsm.Table(
            "signatures", ("doc_id", "sig", "src_batch"), ("doc_id",),
            24 + 8 * num_hashes, ("doc_id",),
        ),
        lsm.Table(
            "buckets", ("doc_id", "band", "bucket", "src_batch"),
            ("doc_id", "band", "bucket"), 40, ("band", "bucket"),
        ),
        lsm.Table(
            "fingerprints", ("doc_id", "fp", "src_batch"), ("doc_id",), 64,
            ("fp",),
        ),
    )


def _write_doc_count(
    spark: SparkSession,
    path: str,
    n: int,
    batch_id: int | None,
    build: bool = False,
) -> None:
    """One ``doc_counts`` ledger row (see ``_doc_count``), written to
    ``lsm.destination`` (a build or a fold overwrites the base)."""
    lsm.save(
        spark.createDataFrame(
            [(int(n), -1 if batch_id is None else int(batch_id))],
            "n long, src_batch long",
        ),
        *lsm.destination(path, "doc_counts", batch_id, build),
    )


def _sig_frame(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
) -> DataFrame:
    """(doc_id, sig array<long>) for the input docs — the array form
    the store persists (column-count independent of geometry)."""
    sh = _exploded_shingles(df, id_col, text_col, n)
    sig = _minhash_signatures(sh, id_col, num_hashes)
    return sig.select(
        F.col(id_col).alias("doc_id"),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
    )


def _sig_cols(sig_arr: DataFrame, num_hashes: int) -> DataFrame:
    """Back from the stored array form to h0..h{k-1} columns (what the
    shared banding helper consumes)."""
    return sig_arr.select(
        "doc_id",
        *[F.col("sig")[i].alias(f"h{i}") for i in range(num_hashes)],
    )


def _zero_token_fps(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, fp) for the docs that CANNOT be signed: zero-token text
    produces no shingles (the ``_exploded_shingles`` filter — any doc
    with ≥1 token gets ≥1 shingle via the short-doc whole-join rule in
    ``shingles_expr``, so zero tokens is EXACTLY the no-signature
    class). These route through the exact-fingerprint tier instead of
    silently bypassing the store (ADVICE r12)."""
    return df.where(F.size(tokens_expr(text_col)) == 0).select(
        F.col(id_col).alias("doc_id"),
        fingerprint_expr(text_col).alias("fp"),
    )


def _read_store_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    """Base ∪ batch-versioned increments — the shared LSM reader
    (``llmdata/lsm.py``), identical to the IVF-PQ index's."""
    return lsm.read_tiered(spark, path, table)


def _read_store_fps(
    spark: SparkSession, path: str, id_dtype: str
) -> DataFrame:
    """The fingerprints tier, tolerating absence on EITHER side: a
    store built from a corpus with no zero-token docs has no base
    table, yet a later streamed batch may have written increments."""
    return lsm.read_tiered_opt(
        spark, path, "fingerprints",
        f"doc_id {id_dtype}, fp string, src_batch long",
    )


def _doc_count(spark: SparkSession, path: str) -> int:
    """Total admitted docs from the kilobyte ``doc_counts`` ledger —
    one row per build/append, additive and replay-idempotent (versioned
    appends overwrite their own ``doc_counts_inc/b=<id>`` row). The
    alternative — counting the signatures table — is an O(files) job
    per batch, the exact pattern ann_index.py rejects for
    ``meta.n_vectors`` (code-review r12)."""
    return int(
        lsm.read_tiered(spark, path, "doc_counts")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("t"))
        .first()["t"]
    )


def build_minhash_store(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
) -> dict:
    """Sign the seed corpus and persist the store under ``path``.
    Returns the meta dict (also stored). Seed rows carry
    ``src_batch = -1`` (pre-stream provenance). Zero-token seed docs
    land in the fingerprints tier; ``n_docs`` counts BOTH classes."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}); leftover hashes would be silently dropped"
        )
    spark = df.sparkSession
    with lsm.maintenance_lease(spark, path, "build"):
        lsm.reset(spark, path, MINHASH_TABLES)
        meta = {"n": n, "num_hashes": num_hashes, "bands": bands}
        sig = _sig_frame(df, id_col, text_col, n, num_hashes)
        sig.cache()
        n_sig, n_fp = _write_tables(
            sig, _zero_token_fps(df, id_col, text_col), path, meta, None,
            build=True,
        )
        meta["n_docs"] = n_sig + n_fp
        sig.unpersist()
        if not n_fp:
            # no zero-token docs: clear any stale tier from a prior
            # incarnation (an empty overwrite would leave a
            # schema-less, unreadable directory instead)
            lsm.drop_dir(spark, path, "fingerprints")
        _write_doc_count(spark, path, meta["n_docs"], None, build=True)
        lsm.write_meta(spark, path, meta, _META_SCHEMA)
        return meta


def screen_against_minhash_store(
    batch: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    exclude_batch: int | None = None,
) -> DataFrame:
    """Which batch docs are near-dups of docs ALREADY IN THE STORE?
    Signs the batch with the store's geometry (meta-derived — callers
    cannot desynchronize hashing), candidates via the (band, bucket)
    equality join, verification via signature-estimate Jaccard over
    the stored arrays; zero-token batch docs are screened by exact
    fingerprint instead (match ⇒ n_agree=num_hashes, est_jaccard=1.0).
    Returns (doc_id, dup_of, n_agree, est_jaccard) with est_jaccard ≥
    threshold; a doc matching several store docs returns several rows
    (callers typically care about existence).

    ``exclude_batch`` ignores store rows whose ``src_batch`` equals
    the given id — the replay guard: a re-delivered micro-batch must
    not be screened out by the survivors its own first attempt
    appended. Cost: |batch|-proportional signing + one equality join;
    the corpus text is never read."""
    spark = batch.sparkSession
    meta = lsm.read_meta(spark, path)
    # deliberately NOT cached: the returned frame is lazy, so a cache
    # here could never be unpersisted and a long-lived driver screening
    # many batches would accrete one pinned frame per call (code-review
    # r12). The cost is signing the batch twice inside the one action —
    # batches are small by contract; the triad loop, which screens at
    # cadence, goes through _text_stage's explicitly managed cache.
    bsig = _sig_frame(batch, id_col, text_col, meta["n"], meta["num_hashes"])
    return _screen_store(
        spark,
        path,
        bsig,
        _zero_token_fps(batch, id_col, text_col),
        meta,
        threshold,
        exclude_batch,
    )


def _screen_store(
    spark: SparkSession,
    path: str,
    bsig: DataFrame,
    unsigned: DataFrame,
    meta: dict,
    threshold: float,
    exclude_batch: int | None,
) -> DataFrame:
    """Screening body over an ALREADY-SIGNED batch — ``bsig`` (doc_id,
    sig) for the token-bearing docs, ``unsigned`` (doc_id, fp) for the
    zero-token ones — so a streaming loop can sign a micro-batch once
    and reuse the cached signatures for the store screen, the in-batch
    dedup and the admission. Rows: signature-estimate hits ∪ exact
    fingerprint hits, the latter with the values an exact match
    implies (all hashes agree)."""
    num_hashes, bands = meta["num_hashes"], meta["bands"]
    b_buckets = _band_buckets(
        _sig_cols(bsig, num_hashes), "doc_id", num_hashes, bands
    )

    s_buckets = _read_store_table(spark, path, "buckets")
    s_sigs = _read_store_table(spark, path, "signatures")
    s_fps = _read_store_fps(spark, path, dict(unsigned.dtypes)["doc_id"])
    if exclude_batch is not None:
        s_buckets = s_buckets.filter(F.col("src_batch") != int(exclude_batch))
        s_sigs = s_sigs.filter(F.col("src_batch") != int(exclude_batch))
        s_fps = s_fps.filter(F.col("src_batch") != int(exclude_batch))

    # bucket-key equality join, merge-hinted for the same reason as
    # minhash_near_dedup: both sides sit behind signature aggs +
    # band explodes, so static size fiction must not pick an
    # un-demotable broadcast
    cand = (
        b_buckets.select(F.col("doc_id"), "band", "bucket")
        .join(
            s_buckets.select(
                F.col("doc_id").alias("dup_of"), "band", "bucket"
            ).hint("merge"),
            ["band", "bucket"],
        )
        .select("doc_id", "dup_of")
        .distinct()
    )
    # estimate-verify from signatures: fraction of agreeing min-hashes
    agree = F.size(
        F.filter(
            F.zip_with("sig", "store_sig", lambda a, b: a == b),
            lambda x: x,
        )
    )
    sig_hits = (
        cand.join(bsig, "doc_id")
        .join(
            s_sigs.select(
                F.col("doc_id").alias("dup_of"),
                F.col("sig").alias("store_sig"),
            ).hint("merge"),
            "dup_of",
        )
        .select(
            "doc_id",
            "dup_of",
            agree.alias("n_agree"),
            F.round(agree / F.lit(num_hashes), 6).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    fp_hits = unsigned.join(
        s_fps.select(F.col("doc_id").alias("dup_of"), "fp"), "fp"
    ).select(
        "doc_id",
        "dup_of",
        F.lit(num_hashes).alias("n_agree"),
        F.lit(1.0).alias("est_jaccard"),
    )
    return sig_hits.unionByName(fp_hits)


def append_to_minhash_store(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | None = None,
    lease_retry_s: float = 0.0,
) -> int:
    """Admit accepted docs into the store (sign with the store's
    geometry, append signatures + buckets; zero-token docs append
    fingerprints). With ``batch_id`` the write is IDEMPOTENT
    (``lsm.destination``) and rows carry the batch as ``src_batch``
    for the screen-time replay guard. Returns the number
    of docs admitted (both classes). ``meta.n_docs`` derives from the
    kilobyte ``doc_counts`` ledger (see ``_doc_count``), correct under
    replays and O(ledger) per batch."""
    spark = df.sparkSession
    meta = lsm.read_meta(spark, path)
    sig = _sig_frame(df, id_col, text_col, meta["n"], meta["num_hashes"])
    sig.cache()
    n_new = _append_signed(
        spark, sig, path, meta, batch_id,
        fps=_zero_token_fps(df, id_col, text_col),
        lease_retry_s=lease_retry_s,
    )
    sig.unpersist()
    return n_new


def _append_signed(
    spark: SparkSession,
    sig: DataFrame,
    path: str,
    meta: dict,
    batch_id: int | None,
    fps: DataFrame,
    lease_retry_s: float = 0.0,
) -> int:
    """Append body over an ALREADY-SIGNED (doc_id, sig) frame — split
    out so the streaming loop can admit survivors from the signatures
    it already computed for screening, instead of re-shingling the
    surviving text a second time. ``fps`` carries the zero-token
    survivors' (doc_id, fp) rows for the fingerprint tier. Takes the
    store's single-maintainer lease for the duration of the writes;
    ``lease_retry_s`` bounds a wait at acquire so streaming callers
    outlast an external cron fold instead of crashing (ADVICE r13)."""
    with lsm.maintenance_lease(spark, path, "append", retry_s=lease_retry_s):
        if lsm.already_folded(spark, path, batch_id):
            return 0
        n_sig, n_fp = _write_tables(sig, fps, path, meta, batch_id)
        n_new = n_sig + n_fp
        # fold this batch's count into the kilobyte ledger (versioned →
        # its own overwrite-idempotent row; ad-hoc → base append), then
        # derive n_docs from the ledger — O(ledger), not O(files)
        _write_doc_count(spark, path, n_new, batch_id)
        meta = dict(meta, n_docs=_doc_count(spark, path))
        lsm.write_meta(spark, path, meta, _META_SCHEMA)
        return n_new


def _write_tables(
    sig: DataFrame,
    fps: DataFrame,
    path: str,
    meta: dict,
    batch_id: int | None,
    build: bool = False,
) -> tuple[int, int]:
    """Write a signed batch's sized tables for a build (base,
    overwrite) or an append (``lsm.destination``): ``sig`` is the
    cached (doc_id, sig) frame, ``fps`` the zero-token (doc_id, fp)
    rows. Returns (signed rows, fingerprint rows).

    Signatures before buckets: an orphan signature row (torn append)
    is never joined as a candidate, while an orphan bucket row would
    produce candidates whose verify join silently drops them;
    fingerprints third, and the caller writes doc_counts LAST —
    presence of a batch's doc_counts row is the compactor's
    completeness test."""
    num_hashes, bands = meta["num_hashes"], meta["bands"]
    t_sig, t_bkt, t_fp = _tables(num_hashes)

    def write(t: lsm.Table, frame: DataFrame, rows: int) -> None:
        lsm.write_sized(
            t, frame.withColumn("src_batch", lsm.src_batch(batch_id)),
            *lsm.destination(path, t.name, batch_id, build),
            rows * t.row_bytes,
        )

    n_sig = sig.count()
    write(t_sig, sig.select("doc_id", "sig"), n_sig)
    write(
        t_bkt,
        _band_buckets(_sig_cols(sig, num_hashes), "doc_id", num_hashes, bands),
        n_sig * bands,
    )
    n_fp = fps.count()
    if n_fp:
        write(t_fp, fps.select("doc_id", "fp"), n_fp)
    return n_sig, n_fp


def _greedy_losers(pairs: DataFrame, max_rounds: int = 64) -> DataFrame:
    """The docs a SEQUENTIAL greedy first-wins ingest would drop, given
    the verified near-dup pairs of one batch: processing docs in
    ascending id order, a doc is dropped iff it verifies against an
    already-KEPT smaller doc. On the pair graph this is the complement
    of the lexicographically-first maximal independent set — dropping
    doc_b of EVERY verified pair over-deletes on non-transitive chains
    (a~b, b~c, a≁c: b loses to a, so sequential ingest KEEPS c — its
    only near-dup was never admitted; ADVICE r12).

    Computed by iterative peeling: each round, docs that appear only
    on the small side of remaining pairs are definitively KEPT (their
    smaller partners are all decided losers or nonexistent), their
    partners are decided LOSERS, and pairs touching a decided loser
    vacate. The minimum id in the remaining graph only ever appears as
    ``doc_a`` (pairs are ordered doc_a < doc_b), so every round decides
    at least one pair — termination in ≤ longest-dependency-chain
    rounds, which is 1 for the common planted-dup case. Round frames
    are id-only and eagerly localCheckpointed: lineage stays flat
    across rounds instead of stacking one join tree per iteration.

    Round bound: realistic near-dup structure peels in one or two
    rounds (exact-copy families are cliques — one round; planted
    mutation families are stars), but an adversarial PATH graph
    1-2-3-…-n decides only two nodes per round, so an unbounded loop
    could spin O(n) driver rounds on one poisoned batch. After
    ``max_rounds`` the remaining (cyclic-free but deep) tail falls
    back to dropping every remaining ``doc_b`` — the pre-r13
    semantics: possibly over-deleting on the tail, NEVER keeping two
    verified near-dups together, and loudly warned.

    Input must be DISTINCT (doc_a, doc_b) rows with doc_a < doc_b;
    output is a (doc_id) frame of losers."""
    import warnings

    active = pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
    losers = (
        active.select(F.col("doc_b").alias("doc_id"))
        .limit(0)
        .localCheckpoint(eager=True)
    )
    rounds = 0
    while not active.isEmpty():
        if rounds >= max_rounds:
            warnings.warn(
                f"_greedy_losers: dependency chains deeper than "
                f"{max_rounds} rounds — dropping every remaining pair's "
                f"doc_b (conservative over-deletion on the tail)",
                stacklevel=2,
            )
            losers = losers.unionByName(
                active.select(F.col("doc_b").alias("doc_id")).distinct()
            ).localCheckpoint(eager=True)
            break
        rounds += 1
        kept = active.select("doc_a").distinct().join(
            active.select(F.col("doc_b").alias("doc_a")).distinct(),
            "doc_a",
            "left_anti",
        )
        new_losers = (
            active.join(kept, "doc_a")
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        losers = losers.unionByName(new_losers).localCheckpoint(eager=True)
        active = (
            active.join(
                new_losers.select(F.col("doc_id").alias("doc_a")),
                "doc_a",
                "left_anti",
            )
            .join(
                new_losers.select(F.col("doc_id").alias("doc_b")),
                "doc_b",
                "left_anti",
            )
            .localCheckpoint(eager=True)
        )
    return losers


def _verified_in_batch_pairs(
    bsig: DataFrame, meta: dict, threshold: float
) -> DataFrame:
    """DISTINCT verified (doc_a < doc_b) near-dup pairs WITHIN one
    signed batch: bucket-mate candidates, signature-estimate verify —
    the in-batch mirror of ``_screen_store``'s signature route."""
    bb = _band_buckets(
        _sig_cols(bsig, meta["num_hashes"]),
        "doc_id",
        meta["num_hashes"],
        meta["bands"],
    )
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda a, b: a == b), lambda x: x
        )
    )
    return (
        bb.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .join(
            bb.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
            .hint("merge"),
            ["band", "bucket"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .join(
            bsig.select(
                F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
            ),
            "doc_a",
        )
        .join(
            bsig.select(
                F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
            ),
            "doc_b",
        )
        .filter(agree / F.lit(meta["num_hashes"]) >= threshold)
        .select("doc_a", "doc_b")
    )


def _peel(pairs: DataFrame, dup_of_store: DataFrame) -> DataFrame:
    """A batch's losers under EXACT sequential-greedy semantics: its
    store dups (``dup_of_store``, a (doc_id) frame) ∪ the
    ``_greedy_losers`` of its verified in-batch ``pairs`` once the
    store dups have left the pair graph — they were never admitted, so
    sequential ingest never screens a later doc against them. The one
    peel of every dedup tier's stage; returns an eagerly checkpointed
    (doc_id) frame."""
    for side in ("doc_a", "doc_b"):
        pairs = pairs.join(
            dup_of_store.select(F.col("doc_id").alias(side)), side, "left_anti"
        )
    return (
        dup_of_store.unionByName(_greedy_losers(pairs))
        .distinct()
        .localCheckpoint(eager=True)
    )


def _first_wins(fps: DataFrame) -> DataFrame:
    """(doc_id) of the in-batch exact copies in a (doc_id, fp) frame
    that sequential first-wins ingest drops: every doc but the smallest
    id of its ``fp``."""
    return (
        fps.join(fps.groupBy("fp").agg(F.min("doc_id").alias("keep")), "fp")
        .filter(F.col("doc_id") != F.col("keep"))
        .select("doc_id")
    )


def _text_stage(
    spark: SparkSession,
    path: str,
    docs: DataFrame,
    threshold: float,
    batch_id: int,
):
    """The MinHash tier of one (doc_id, text) micro-batch — stage 2 of
    ``ingest.stream_ingest_dedup_all``. Signs the batch ONCE with the store's geometry and caches the
    signatures and the zero-token fingerprints, screens the store with
    the batch's own prior attempt excluded (``src_batch`` — the replay
    guard), and peels the verified in-batch pairs (``_peel``).

    Returns (losers, bsig, unsigned, meta): the checkpointed (doc_id)
    losers, the cached (doc_id, sig) and (doc_id, fp) frames — the
    caller admits its survivors from them instead of re-shingling,
    then unpersists them — and the store meta. In-batch exact copies
    among zero-token docs are not judged here (they carry no
    signature); the triad's stage 1 has already collapsed them, since
    identical texts share a whole-text fingerprint."""
    meta = lsm.read_meta(spark, path)
    bsig = _sig_frame(docs, "doc_id", "text", meta["n"], meta["num_hashes"])
    bsig.cache()
    unsigned = _zero_token_fps(docs, "doc_id", "text")
    unsigned.cache()
    dup_of_store = (
        _screen_store(spark, path, bsig, unsigned, meta, threshold, batch_id)
        .select("doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    losers = _peel(
        _verified_in_batch_pairs(bsig, meta, threshold), dup_of_store
    )
    return losers, bsig, unsigned, meta


def minhash_store_stats(spark: SparkSession, path: str) -> DataFrame:
    """Per-band bucket-load report for a persisted MinHash store — the
    dedup analogue of ``ivfpq_index_stats``: the quantity that degrades
    with corpus growth here is not reconstruction error but SCREENING
    LOAD — the candidates a new doc draws from the (band, bucket)
    equality join. An INCOMING doc distributed like the corpus lands
    in a bucket of size s with probability s/n and draws all s stored
    members as candidates, so its expected store-side candidates from
    one band are Σ_buckets s²/n (ADVICE r13: the prior Σ s·(s−1)/n was
    the self-excluded EXISTING-doc form and systematically understated
    the load a new batch doc pays, most visibly near the
    ``max_cand_per_doc`` threshold). The estimate upper-bounds novel
    content — a genuinely new doc can land in a fresh bucket and draw
    zero — and is exact for corpus-resembling traffic, the regime that
    densifies. The collision mass is computed EXACTLY from the
    persisted buckets table.

    Output: one row per band — (band, n_buckets, n_rows, max_bucket,
    mean_bucket, cand_per_doc) — ordered by band; total screening load
    per new doc = Σ bands' cand_per_doc. Cost: one hash aggregate over
    the buckets tiers (O(store), maintenance-cadence — run it at fold
    time or from ``should_rescale_bands``; after a fold the base is
    (band, bucket)-sorted so the partial aggregation is row-group
    local). All-singleton buckets ⇒ cand_per_doc 1 per band — a store
    of unrelated docs screens for ~|bands| candidates/doc; a
    duplicate-dense corpus concentrates mass in few buckets and the
    estimate prices the screen's join fan-out before a batch pays
    it."""
    b = _read_store_table(spark, path, "buckets")
    sizes = b.groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("s"))
    return (
        sizes.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("s").alias("n_rows"),
            F.max("s").alias("max_bucket"),
            F.round(F.avg("s"), 6).alias("mean_bucket"),
            F.sum(F.col("s") * F.col("s")).alias("_mass"),
        )
        .select(
            "band",
            "n_buckets",
            "n_rows",
            "max_bucket",
            "mean_bucket",
            F.round(
                F.col("_mass") / F.col("n_rows"), 6
            ).alias("cand_per_doc"),
        )
        .orderBy("band")
    )


def should_rescale_bands(
    spark: SparkSession,
    path: str,
    max_cand_per_doc: float = 100.0,
) -> dict:
    """The store's REBUILD verdict, mirroring the index's
    ``should_rebuild``: when the total expected screening load per new
    doc crosses ``max_cand_per_doc``, every future batch pays a
    candidate fan-out the build-time geometry never priced — the
    remedy is rebuilding the store with a wider-AND geometry (raise
    ``bands``' row width via num_hashes/bands at ``build_minhash_store``
    time). Returns {"rescale": bool, "reason": str,
    "cand_per_doc": float (incoming-doc convention, Σ s²/n per band
    summed over bands), "worst_band": int, "worst_band_load": float,
    "n_docs": int (the store's ADMITTED doc count from the doc_counts
    ledger — both signature and fingerprint tiers; ADVICE r13: the
    prior band-0 row count omitted zero-token docs)}. Cost: one
    O(store) aggregate — run at maintenance cadence, not per batch."""
    rows = minhash_store_stats(spark, path).collect()
    total = float(sum(r["cand_per_doc"] for r in rows))
    worst = max(rows, key=lambda r: r["cand_per_doc"], default=None)
    rescale = total > max_cand_per_doc
    return {
        "rescale": rescale,
        "reason": (
            f"expected screen candidates/doc {total:.1f} > "
            f"{max_cand_per_doc} — widen AND-rows at rebuild"
            if rescale
            else "green"
        ),
        "cand_per_doc": round(total, 6),
        "worst_band": worst["band"] if worst else None,
        "worst_band_load": (
            float(worst["cand_per_doc"]) if worst else 0.0
        ),
        "n_docs": _doc_count(spark, path),
    }


def compact_minhash_store(spark: SparkSession, path: str) -> dict:
    """Fold the batch-versioned increments into the base tables — the
    LSM merge for the signature store, same role and same crash
    posture as ``compact_ivfpq_index``: after thousands of streamed
    batches the per-batch increment dirs dominate listing cost, so
    maintenance folds them into size-targeted base files in each
    table's layout (``lsm.fold``). ``src_batch`` provenance is
    PRESERVED so the replay guard keeps working for any batch id that
    could still be re-delivered. Only COMPLETE batches fold (see
    ``lsm.complete_view``); a torn batch's increment dirs survive the
    fold untouched so its replay completes it. Holds the
    single-maintainer lease for the duration — concurrent ingest fails
    loudly at acquire instead of losing a batch in the fold's
    read→delete window. Returns {table: (files_before, files_after)}."""
    with lsm.maintenance_lease(spark, path, "compact") as lease_token:
        meta = lsm.read_meta(spark, path)
        # COMPLETE batches only (lsm.record_folded's contract):
        # presence in doc_counts_inc — the LAST table the append
        # writes — implies the batch's signatures, buckets and
        # fingerprints landed too
        folding = lsm.list_inc_batches(spark, path, "doc_counts")
        t_sig, t_bkt, t_fp = _tables(meta["num_hashes"])
        out = {
            t.name: lsm.fold(spark, path, t, folding) for t in (t_sig, t_bkt)
        }
        # fingerprints tier: fold only when there is something COMPLETE
        # to fold (optional table — absent when no zero-token doc was
        # ever admitted; a tier holding only TORN increments is left
        # alone, else the swap would write an empty, unreadable base)
        fp_path = os.path.join(path, t_fp.name)
        fp_folds = bool(lsm.data_files(spark, fp_path)) or bool(
            lsm.list_inc_batches(spark, path, t_fp.name) & folding
        )
        if fp_folds:
            out[t_fp.name] = lsm.fold(spark, path, t_fp, folding)
        lsm.finish_fold(
            spark, path, lease_token, folding,
            (t_sig.name, t_bkt.name, t_fp.name),
        )

        # consolidate the count ledger by RECOUNTING the just-deduped
        # bases (aggregates cannot be deduped by key, so recompute is
        # the self-healing form), and refresh meta.n_docs to agree.
        # Torn batches' rows are NOT in the bases and not in the count
        # — the module invariant: torn state undercounts, never
        # over-claims (their doc_counts row never landed either).
        n_docs = lsm.read_root(spark, os.path.join(path, t_sig.name)).count()
        if fp_folds:
            n_docs += lsm.read_root(spark, fp_path).count()
        # increments before the base overwrite — crash in between reads
        # as an undercount, never a double-count (same ordering rule as
        # the index's stats_live consolidation). Every doc_counts_inc
        # dir belongs to a COMPLETE batch by definition, so all drop.
        lsm.drop_inc(spark, path, "doc_counts")
        _write_doc_count(spark, path, n_docs, None, build=True)
        lsm.write_meta(spark, path, dict(meta, n_docs=n_docs), _META_SCHEMA)
        return out
