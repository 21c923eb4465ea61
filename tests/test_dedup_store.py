"""Persisted MinHash signature store (llmdata/dedup_store.py):
signature parity with the one-shot operator, screening correctness on
planted dups, replay-safe append provenance, the text stage's
sequential-greedy peel, folds and the maintenance lease. The streaming
loop that drives the text stage is tested in tests/test_ingest_all.py.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata import (
    append_to_minhash_store,
    build_minhash_store,
    screen_against_minhash_store,
)

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "text"
    )


@pytest.fixture(scope="module")
def store_path(spark, docs, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("mh_store") / "store")
    meta = build_minhash_store(docs.filter(F.col("doc_id") < 400), path)
    assert meta["n_docs"] == 400
    return path


def test_store_signatures_match_one_shot_operator(spark, docs, store_path):
    """Identical text through the store and through minhash_near_dedup's
    pipeline must produce IDENTICAL signatures — both route through the
    shared _minhash_signatures helper; this pins that the store's
    array packing did not fork the math."""
    from sales_forecast_pyspark_spark.llmdata.dedup import (
        _exploded_shingles,
        _minhash_signatures,
    )

    sample = docs.filter(F.col("doc_id") < 50)
    direct = {
        r["doc_id"]: tuple(r[f"h{i}"] for i in range(32))
        for r in _minhash_signatures(
            _exploded_shingles(sample, "doc_id", "text", 3), "doc_id", 32
        ).collect()
    }
    stored = {
        r["doc_id"]: tuple(r["sig"])
        for r in spark.read.parquet(f"{store_path}/signatures")
        .filter(F.col("doc_id") < 50)
        .collect()
    }
    assert stored == direct and len(stored) == 50


def test_screen_flags_exact_dup_and_passes_unrelated(spark, docs, store_path):
    """A batch containing an exact copy of a stored doc, a lightly
    mutated copy, and an unrelated doc: the copy screens out at
    est_jaccard 1.0, the mutation screens out above threshold, the
    unrelated doc passes."""
    stored_text = docs.filter(F.col("doc_id") == 7).first()["text"]
    batch = spark.createDataFrame(
        [
            (90_001, stored_text),  # exact dup of stored doc 7
            (90_002, stored_text + " trailing mutation tokens appended"),
            (90_003, "completely unrelated text about nothing stored"),
        ],
        "doc_id long, text string",
    )
    hits = screen_against_minhash_store(batch, store_path, threshold=0.5)
    got = {
        r["doc_id"]: (r["dup_of"], r["est_jaccard"]) for r in hits.collect()
    }
    assert got[90_001][0] == 7 and got[90_001][1] == 1.0
    assert 90_002 in got and got[90_002][1] >= 0.5
    assert 90_003 not in got


def test_append_then_screen_finds_new_docs_and_replay_guard(
    spark, docs, tmp_path_factory
):
    """(a) docs admitted via append are found by later screens;
    (b) exclude_batch hides exactly the rows a given batch appended —
    the replay guard — while everything older still screens."""
    path = str(tmp_path_factory.mktemp("mh_app") / "store")
    build_minhash_store(docs.filter(F.col("doc_id") < 200), path)
    newdoc = docs.filter(F.col("doc_id") == 450).select(
        F.lit(80_000).cast("long").alias("doc_id"), "text"
    )
    assert append_to_minhash_store(newdoc, path, batch_id=5) == 1

    probe = newdoc.select(F.lit(80_001).cast("long").alias("doc_id"), "text")
    found = screen_against_minhash_store(probe, path, threshold=0.9).collect()
    assert any(r["dup_of"] == 80_000 for r in found)
    # replay guard: screening AS batch 5 must not see batch 5's rows
    hidden = screen_against_minhash_store(
        probe, path, threshold=0.9, exclude_batch=5
    ).collect()
    assert not any(r["dup_of"] == 80_000 for r in hidden)

    # idempotent replay of the same append: store state unchanged
    n_sigs = spark.read.parquet(f"{path}/signatures_inc").count()
    append_to_minhash_store(newdoc, path, batch_id=5)
    assert spark.read.parquet(f"{path}/signatures_inc").count() == n_sigs
    assert (
        spark.read.parquet(f"{path}/meta").first()["n_docs"] == 201
    )


@pytest.mark.slow
def test_store_compaction_folds_increments_and_preserves_screening(
    spark, docs, tmp_path_factory
):
    """After several batch-keyed appends, compaction must remove the
    increment dirs, cut the file count, preserve src_batch provenance,
    and leave screening verdicts identical."""
    import os as _os

    from sales_forecast_pyspark_spark.llmdata import compact_minhash_store

    path = str(tmp_path_factory.mktemp("mh_compact") / "store")
    build_minhash_store(docs.filter(F.col("doc_id") < 200), path)
    for b in range(4):
        batch = docs.filter(
            (F.col("doc_id") >= 200 + b * 25) & (F.col("doc_id") < 225 + b * 25)
        ).select((F.col("doc_id") + 50_000).alias("doc_id"), "text")
        append_to_minhash_store(batch, path, batch_id=b)

    probe = docs.filter(F.col("doc_id") == 210).select(
        F.lit(70_000).cast("long").alias("doc_id"), "text"
    )
    before = sorted(
        map(
            tuple,
            screen_against_minhash_store(probe, path, threshold=0.9).collect(),
        )
    )
    assert any(r[1] == 50_210 for r in before)  # finds the appended doc

    counts = compact_minhash_store(spark, path)
    assert not _os.path.isdir(f"{path}/signatures_inc")
    assert not _os.path.isdir(f"{path}/buckets_inc")
    assert counts["signatures"][1] < counts["signatures"][0]
    assert counts["buckets"][1] < counts["buckets"][0]

    after = sorted(
        map(
            tuple,
            screen_against_minhash_store(probe, path, threshold=0.9).collect(),
        )
    )
    assert after == before
    # provenance survives the fold: the replay guard still hides batch 2
    hidden = screen_against_minhash_store(
        probe, path, threshold=0.9, exclude_batch=0
    ).collect()
    assert not any(r["dup_of"] == 50_210 for r in hidden)


@pytest.mark.slow
def test_replay_after_fold_is_a_noop(spark, docs, tmp_path_factory):
    """Same exactly-once hole as the index: a batch folded by
    compaction and then re-delivered must no-op via the fold ledger —
    no duplicate signatures, stable n_docs, identical screen verdicts
    (src_batch provenance survives the fold, so the replay's own
    exclude_batch guard still works too)."""
    from sales_forecast_pyspark_spark.llmdata import compact_minhash_store

    path = str(tmp_path_factory.mktemp("mh_fold_replay") / "store")
    build_minhash_store(docs.filter(F.col("doc_id") < 200), path)
    batch = docs.filter(
        (F.col("doc_id") >= 200) & (F.col("doc_id") < 250)
    ).select((F.col("doc_id") + 50_000).alias("doc_id"), "text")
    assert append_to_minhash_store(batch, path, batch_id=4) == 50
    compact_minhash_store(spark, path)

    probe = docs.filter(F.col("doc_id") == 210).select(
        F.lit(70_000).cast("long").alias("doc_id"), "text"
    )
    before = sorted(
        map(
            tuple,
            screen_against_minhash_store(probe, path, threshold=0.9).collect(),
        )
    )
    assert append_to_minhash_store(batch, path, batch_id=4) == 0  # replay
    import os as _os

    assert not _os.path.isdir(f"{path}/signatures_inc")
    after = sorted(
        map(
            tuple,
            screen_against_minhash_store(probe, path, threshold=0.9).collect(),
        )
    )
    assert after == before
    assert spark.read.parquet(f"{path}/meta").first()["n_docs"] == 250
    # and the replayed batch's own guard still hides its folded rows
    hidden = screen_against_minhash_store(
        probe, path, threshold=0.9, exclude_batch=4
    ).collect()
    assert not any(r["dup_of"] == 50_210 for r in hidden)


# --- deterministic non-transitive chain: a~b, b~c, a NOT~ c ------------
# b is the concatenation a+c, so jaccard(a,b) ≈ jaccard(b,c) ≈ 0.49
# exactly (disjoint token sets), estimate(a,b)=0.5625, estimate(b,c)=
# 0.4375 at 32 hashes, estimate(a,c)=0 — all DETERMINISTIC (MinHash is
# a pure function of text), verified by the scratch run that pinned
# these constants. bands=16 (r=2) so both chain pairs collide.
_CHAIN_A = " ".join(f"alpha{i} brook{i} cedar{i}" for i in range(30))
_CHAIN_C = " ".join(f"zephyr{i} yonder{i} willow{i}" for i in range(30))
_CHAIN_B = _CHAIN_A + " " + _CHAIN_C


def test_greedy_losers_matches_sequential_semantics(spark):
    """The iterative peel reproduces one-at-a-time greedy ingest on
    chains and diamonds — dropping doc_b of every pair would over-
    delete the non-transitive tail (ADVICE r12)."""
    from sales_forecast_pyspark_spark.llmdata.dedup_store import (
        _greedy_losers,
    )

    def losers(pairs):
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        return sorted(r["doc_id"] for r in _greedy_losers(df).collect())

    assert losers([(1, 2), (2, 3)]) == [2]  # 3's only dup was dropped
    assert losers([(1, 2), (2, 3), (3, 4)]) == [2, 4]
    assert losers([(1, 2), (1, 3), (2, 4)]) == [2, 3]  # 4 survives via 2
    assert losers([(1, 2), (1, 3), (1, 4)]) == [2, 3, 4]


def test_text_stage_losers_on_a_tiny_store(spark, tmp_path):
    """The MinHash tier's one stage function, outside any stream: a
    copy of a stored doc loses to the store, the larger id of an
    in-batch near-dup pair loses to the smaller, and a fresh doc and
    the pair's smaller id survive. The cached signatures come back for
    the caller's admission."""
    from sales_forecast_pyspark_spark.llmdata.dedup_store import _text_stage

    path = str(tmp_path / "store")
    stored = _CHAIN_A
    build_minhash_store(
        spark.createDataFrame(
            [(1, stored), (2, _CHAIN_C)], "doc_id long, text string"
        ),
        path,
    )
    pair = " ".join(f"quartz{i} meadow{i} lantern{i}" for i in range(20))
    batch = spark.createDataFrame(
        [
            (101, stored),  # store dup of 1
            (102, pair),
            (103, pair + " coda"),  # in-batch near-dup of 102
            (104, "an unrelated fresh sentence about harbour ferries"),
        ],
        "doc_id long, text string",
    )
    losers, bsig, unsigned, meta = _text_stage(spark, path, batch, 0.5, 0)
    try:
        assert sorted(r["doc_id"] for r in losers.collect()) == [101, 103]
        assert sorted(r["doc_id"] for r in bsig.collect()) == [
            101, 102, 103, 104
        ]
        assert unsigned.count() == 0
        assert meta["n_docs"] == 2
    finally:
        bsig.unpersist()
        unsigned.unpersist()


@pytest.mark.slow
def test_zero_token_docs_route_through_fingerprint_tier(
    spark, docs, tmp_path_factory
):
    """Zero-token docs (empty/whitespace/punct-only) produce no MinHash
    signature; pre-fix they bypassed the store entirely — repeated
    exact copies survived every batch and were never admitted (ADVICE
    r12). Now they ride an exact-fingerprint tier: build admits them,
    screens flag exact copies at est_jaccard 1.0, and appends are
    replay-idempotent. (In the triad loop, in-batch and cross-batch
    copies are decided earlier, by stage 1's whole-text fingerprint —
    tests/test_ingest_all.py.)"""
    root = tmp_path_factory.mktemp("mh_zero")
    path = str(root / "store")
    seed = docs.filter(F.col("doc_id") < 50).unionByName(
        spark.createDataFrame(
            [(9_001, ""), (9_002, "   ")], "doc_id long, text string"
        )
    )
    meta = build_minhash_store(seed, path)
    assert meta["n_docs"] == 52  # both classes counted

    # screening: an exact empty copy is flagged against the stored one;
    # note "" and "   " normalize to different fingerprints than each
    # other is NOT guaranteed — assert only on the exact-copy hit
    probe = spark.createDataFrame(
        [(9_100, ""), (9_101, "fresh nonempty text that matches nothing")],
        "doc_id long, text string",
    )
    hits = screen_against_minhash_store(probe, path, threshold=0.5).collect()
    assert any(
        r["doc_id"] == 9_100 and r["est_jaccard"] == 1.0 for r in hits
    )
    assert not any(r["doc_id"] == 9_101 for r in hits)

    # versioned append of a NEW zero-token doc: admitted, idempotent
    newdoc = spark.createDataFrame(
        [(9_200, "\t\n")], "doc_id long, text string"
    )
    assert append_to_minhash_store(newdoc, path, batch_id=3) == 1
    assert append_to_minhash_store(newdoc, path, batch_id=3) == 1  # replay
    assert spark.read.parquet(f"{path}/meta").first()["n_docs"] == 53
    found = screen_against_minhash_store(
        spark.createDataFrame([(9_300, "\t\n")], "doc_id long, text string"),
        path,
    ).collect()
    assert any(r["dup_of"] == 9_200 for r in found)
    # replay guard applies to the fingerprint tier too
    hidden = screen_against_minhash_store(
        spark.createDataFrame([(9_300, "\t\n")], "doc_id long, text string"),
        path,
        exclude_batch=3,
    ).collect()
    assert not any(r["dup_of"] == 9_200 for r in hidden)


@pytest.mark.slow
def test_torn_batch_stays_unfolded_and_completes_on_replay(
    spark, docs, tmp_path_factory
):
    """A torn batch (signatures/buckets landed, doc_counts did not)
    must NOT fold: pre-fix, compaction absorbed its rows into the base
    and the completing replay re-appended them — double-counting
    n_docs and duplicating screen rows until the NEXT fold (ADVICE
    r12). Now the fold skips it, its increment dirs survive, the
    replay completes it exactly once, and the next fold absorbs it."""
    import shutil

    from sales_forecast_pyspark_spark.llmdata import compact_minhash_store
    from sales_forecast_pyspark_spark.llmdata import lsm

    path = str(tmp_path_factory.mktemp("mh_torn") / "store")
    build_minhash_store(docs.filter(F.col("doc_id") < 100), path)
    batch = docs.filter(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 120)
    ).select((F.col("doc_id") + 60_000).alias("doc_id"), "text")
    complete = docs.filter(
        (F.col("doc_id") >= 120) & (F.col("doc_id") < 130)
    ).select((F.col("doc_id") + 60_000).alias("doc_id"), "text")
    append_to_minhash_store(batch, path, batch_id=7)
    append_to_minhash_store(complete, path, batch_id=8)
    # tear batch 7: crash after buckets, before doc_counts
    shutil.rmtree(f"{path}/doc_counts_inc/b=7")
    assert spark.read.parquet(f"{path}/meta").first()["n_docs"] == 130

    compact_minhash_store(spark, path)
    # batch 8 folded, batch 7's increments survived, ledger knows 8 only
    assert lsm.list_inc_batches(spark, path, "signatures") == {7}
    assert lsm.folded_batches(spark, path) == {8}
    # count excludes the torn batch (undercount, never over-claim)
    assert spark.read.parquet(f"{path}/meta").first()["n_docs"] == 110

    # the replay completes the torn batch — counted exactly once
    assert append_to_minhash_store(batch, path, batch_id=7) == 20
    assert spark.read.parquet(f"{path}/meta").first()["n_docs"] == 130
    probe = docs.filter(F.col("doc_id") == 110).select(
        F.lit(70_000).cast("long").alias("doc_id"), "text"
    )
    rows = screen_against_minhash_store(probe, path, threshold=0.9).collect()
    assert sum(1 for r in rows if r["dup_of"] == 60_110) == 1  # no dup rows

    # and the next fold absorbs it with a stable count
    compact_minhash_store(spark, path)
    assert lsm.list_inc_batches(spark, path, "signatures") == set()
    assert lsm.folded_batches(spark, path) == {7, 8}
    assert spark.read.parquet(f"{path}/meta").first()["n_docs"] == 130
    after = screen_against_minhash_store(
        probe, path, threshold=0.9
    ).collect()
    assert sum(1 for r in after if r["dup_of"] == 60_110) == 1


def test_concurrent_mutation_fails_loudly_under_lease(
    spark, docs, tmp_path_factory
):
    """VERDICT r12 ask #4a: with the maintenance lease held, every
    mutating entry point (build / append / compact) raises
    LeaseHeldError instead of interleaving file operations; a stale
    lease is taken over."""
    import pytest as _pytest

    from sales_forecast_pyspark_spark.llmdata import compact_minhash_store
    from sales_forecast_pyspark_spark.llmdata import lsm

    path = str(tmp_path_factory.mktemp("mh_lease") / "store")
    build_minhash_store(docs.filter(F.col("doc_id") < 50), path)
    batch = docs.filter(F.col("doc_id") == 50).select(
        (F.col("doc_id") + 80_000).alias("doc_id"), "text"
    )

    lsm.acquire_lease(spark, path, "test-holder")
    try:
        with _pytest.raises(lsm.LeaseHeldError):
            append_to_minhash_store(batch, path, batch_id=1)
        with _pytest.raises(lsm.LeaseHeldError):
            compact_minhash_store(spark, path)
        with _pytest.raises(lsm.LeaseHeldError):
            build_minhash_store(docs.filter(F.col("doc_id") < 50), path)
        # reads stay lease-free: screening works under a held lease
        screen_against_minhash_store(
            batch, path, threshold=0.9
        ).collect()
    finally:
        lsm.release_lease(spark, path)
    # released: mutation proceeds
    assert append_to_minhash_store(batch, path, batch_id=1) == 1
    # staleness takeover: a dead holder's lease does not deadlock
    lsm.acquire_lease(spark, path, "crashed-holder")
    import time as _time

    _time.sleep(1.1)
    lsm.acquire_lease(spark, path, "taker", stale_after_s=1.0)
    lsm.release_lease(spark, path)


@pytest.mark.slow
def test_minhash_lifecycle_driver_row_is_green(spark):
    """The registered minhash_store_lifecycle row (build 80% → screen
    20% → append survivors → replay → probe) must be green on every
    in-row audit axis at the oracle SF: screen recall vs the one-shot
    exact-verified truth clears the 0.7 bar (measured 1.0 on this
    corpus), the replayed versioned append leaves the store unchanged,
    the doc-count ledger reconciles, and a copy of an admitted
    survivor screens out of the post-append store."""
    from sales_forecast_pyspark_spark.plans.queries import QUERIES

    r = QUERIES["minhash_store_lifecycle"].builder(spark, SF_ORACLE).first()
    assert r["recall_ok"] is True and r["screen_recall"] >= 0.7
    assert r["truth_pairs"] > 0  # the corpus plants cross-split dups
    assert r["replay_stable_ok"] is True
    assert r["count_ok"] is True
    assert r["post_append_found_ok"] is True
    assert r["n_seed"] + r["admitted"] == r["n_docs"]


def test_greedy_losers_round_cap_falls_back_conservatively(spark):
    """An adversarial path graph peels two nodes per round; past the
    round cap the tail falls back to dropping every remaining doc_b —
    over-deleting is allowed there, keeping two verified near-dups
    together is not."""
    import warnings

    from sales_forecast_pyspark_spark.llmdata.dedup_store import (
        _greedy_losers,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 13)], "doc_a long, doc_b long"
    )
    # uncapped ground truth on 1-2-...-13: evens lose
    full = sorted(
        r["doc_id"] for r in _greedy_losers(chain).collect()
    )
    assert full == [2, 4, 6, 8, 10, 12]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        capped = sorted(
            r["doc_id"]
            for r in _greedy_losers(chain, max_rounds=2).collect()
        )
    assert any("doc_b" in str(w.message) for w in caught)
    # first two rounds are exact (2 and 4 lose); the tail over-deletes
    # every remaining doc_b — supersets the exact answer, and no
    # verified pair survives intact
    assert set(capped) >= {2, 4, 6, 8, 10, 12}
    survivors = set(range(1, 14)) - set(capped)
    assert not any(a in survivors and a + 1 in survivors
                   for a in range(1, 13))


def test_store_stats_price_screening_load_and_verdict(
    spark, docs, tmp_path_factory
):
    """The store's load monitor + rebuild verdict (the dedup analogue
    of ivfpq_index_stats/should_rebuild), incoming-doc convention
    (ADVICE r13, Σ s²/n per band): an all-unique store screens for
    ~|bands| candidates/doc (singleton buckets => 1 per band, verdict
    green); a duplicate-dense store concentrates collision mass and
    the verdict recommends a wider-AND rebuild once expected
    candidates/doc cross the bound."""
    from sales_forecast_pyspark_spark.llmdata import (
        minhash_store_stats,
        should_rescale_bands,
    )

    root = tmp_path_factory.mktemp("mh_stats")

    sparse = str(root / "sparse")
    build_minhash_store(docs.filter(F.col("doc_id") < 200), sparse)
    rows = minhash_store_stats(spark, sparse).collect()
    assert len(rows) == 8  # one row per band at default geometry
    assert all(r["n_rows"] == 200 for r in rows)
    v = should_rescale_bands(spark, sparse, max_cand_per_doc=100.0)
    assert v["rescale"] is False and v["reason"] == "green"
    assert v["n_docs"] == 200

    # duplicate-dense: 10 distinct texts x 40 copies each
    base = docs.filter(F.col("doc_id") < 10).collect()
    dense_rows = [
        (1000 * k + i, r["text"]) for k in range(40) for i, r in enumerate(base)
    ]
    dense_df = spark.createDataFrame(dense_rows, "doc_id long, text string")
    dense = str(root / "dense")
    build_minhash_store(dense_df, dense)
    stats = {r["band"]: r for r in minhash_store_stats(spark, dense).collect()}
    # every band: 10 buckets of 40 exact copies -> mass 10*40*40/400 = 40
    # (incoming-doc form: a corpus-resembling doc draws ALL s members)
    assert all(r["max_bucket"] == 40 for r in stats.values())
    assert all(abs(r["cand_per_doc"] - 40.0) < 1e-6 for r in stats.values())
    v = should_rescale_bands(spark, dense, max_cand_per_doc=100.0)
    assert v["rescale"] is True  # 8 bands x 40 = 320 candidates/doc
    assert v["cand_per_doc"] == 320.0
    assert "widen AND-rows" in v["reason"]
    # n_docs is the ADMITTED count from the ledger, not a band-row count
    assert v["n_docs"] == 400


def test_sized_append_writes_bound_increment_files(
    spark, docs, tmp_path_factory
):
    """r15 layout optimization (guide §6): a batch-keyed append lands
    its signatures/buckets increments as a byte-sized handful of files
    (1 each at test scale), not one file per input partition — file
    counts are deterministic where wall-clock is window-noisy."""
    import glob

    def nfiles(p: str) -> int:
        return len(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))

    path = str(tmp_path_factory.mktemp("mh_layout") / "store")
    build_minhash_store(docs.filter(F.col("doc_id") < 400), path)
    n = append_to_minhash_store(
        docs.filter(F.col("doc_id") >= 400)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .repartition(16),  # worst-case incoming fragmentation
        path,
        batch_id=1,
    )
    assert n > 0
    assert nfiles(os.path.join(path, "signatures_inc")) == 1
    assert nfiles(os.path.join(path, "buckets_inc")) == 1
