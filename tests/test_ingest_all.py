"""The composed triad ingest loop (llmdata/ingest.py), the engine's one
streaming dedup loop: the persisted exact-fingerprint store's
lifecycle, stage short-circuit order on a batch engineered so each
dedup class has a distinct witness, a two-batch drain with the
non-transitive chain, zero-token and zero-norm witnesses,
exactly-once across all three stores under a full replay, concurrent
admission and its failure path, and three-store auto-compaction
parity.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata import (
    append_to_fp_store,
    build_fp_store,
    build_ivfpq_index,
    build_minhash_store,
    compact_fp_store,
    screen_against_fp_store,
    stream_ingest_dedup_all,
)
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def corpus(spark):
    """(doc_id, text, embedding) — documents joined to embeddings on
    the shared id space (both 500 rows at sf0.001)."""
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text"
    )
    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(emb, "doc_id").localCheckpoint(eager=True)


_ROW = "doc_id long, text string, embedding array<float>"


def _build_stores(seed, root, **minhash_kw) -> tuple[str, str, str]:
    """The triad's three stores (fp, MinHash, IVF-PQ) seeded from the
    same (doc_id, text, embedding) frame under ``root``."""
    fp, mh, idx = (str(root / name) for name in ("fp", "mh", "idx"))
    build_fp_store(seed, fp)
    build_minhash_store(seed, mh, **minhash_kw)
    build_ivfpq_index(
        seed.select("doc_id", "embedding"), idx, id_col="doc_id"
    )
    return fp, mh, idx


def _write_batches(spark, src: str, batches) -> None:
    """One parquet file per row list. The file source orders files by
    modification time, so the mtimes are set one minute apart: with
    ``maxFilesPerTrigger=1`` micro-batch i is always list entry i."""
    import glob
    import time

    t0 = int(time.time()) - 3_600
    seen: set[str] = set()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, _ROW).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        files = set(glob.glob(os.path.join(src, "*.parquet"))) - seen
        for f in files:
            os.utime(f, (t0 + 60 * i,) * 2)
        seen |= files


def _drain(spark, src, stores, out, ckpt, **kw) -> dict[int, str]:
    """Drain ``src`` through the triad loop one file per micro-batch;
    returns every published row's verdict by doc id."""
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_ingest_dedup_all(
        stream, *stores, survivors_dir=out, checkpoint_dir=ckpt, **kw
    )
    q.awaitTermination(600)
    return {
        r["doc_id"]: r["verdict"] for r in spark.read.parquet(out).collect()
    }


def _store_counts(spark, fp, mh, idx) -> tuple[int, int, int]:
    """(fp rows, MinHash ``n_docs``, index ``n_vectors``) as served."""
    from sales_forecast_pyspark_spark.llmdata.dedup_store import _doc_count
    from sales_forecast_pyspark_spark.llmdata.ingest import _read_fp_store

    return (
        _read_fp_store(spark, fp).count(),
        _doc_count(spark, mh),
        spark.read.parquet(os.path.join(idx, "meta")).first()["n_vectors"],
    )


def test_fp_store_lifecycle(spark, corpus, tmp_path):
    """Build → screen → versioned append → replay guard → compact for
    the whole-text exact-fingerprint store."""
    path = str(tmp_path / "fp")
    seed = corpus.filter(F.col("doc_id") < 400)
    n = build_fp_store(seed, path)
    assert n == 400
    # exact copy screens out; fresh text passes
    batch = spark.createDataFrame(
        [(9_001, seed.first()["text"]), (9_002, "totally novel words here")],
        "doc_id long, text string",
    )
    hits = screen_against_fp_store(batch, path).collect()
    assert [r["doc_id"] for r in hits] == [9_001]
    # versioned append is idempotent and excluded on replay screens
    fresh = corpus.filter(F.col("doc_id") >= 400).select(
        (F.col("doc_id") + 50_000).alias("doc_id"), "text"
    )
    assert append_to_fp_store(fresh, path, batch_id=3) == 100
    assert append_to_fp_store(fresh, path, batch_id=3) == 100  # overwrite
    from sales_forecast_pyspark_spark.llmdata.ingest import _read_fp_store

    assert _read_fp_store(spark, path).count() == 500
    # replay guard: the batch's own rows are invisible to its screen
    own = screen_against_fp_store(
        fresh, path, exclude_batch=3
    ).count()
    assert own == 0
    seen = screen_against_fp_store(fresh, path).count()
    assert seen == 100
    # compact folds the increments, preserves provenance, and the
    # fold-ledger makes a replayed append a no-op
    out = compact_fp_store(spark, path)
    assert out["fps"][1] >= 1
    store = _read_fp_store(spark, path)
    assert store.count() == 500
    assert store.filter(F.col("src_batch") == 3).count() == 100
    assert append_to_fp_store(fresh, path, batch_id=3) == 0  # folded


def test_fp_store_rebuild_resets_increments_and_ledger(
    spark, corpus, tmp_path
):
    """A rebuild in place starts from a clean tier map, as the MinHash
    and index builds do: an old incarnation's unfolded increments must
    not be served on top of the new base, and its fold ledger must not
    turn a fresh batch that reuses a folded id into a no-op."""
    from sales_forecast_pyspark_spark.llmdata.ingest import _read_fp_store

    path = str(tmp_path / "fp_rebuild")
    seed = corpus.filter(F.col("doc_id") < 10).select("doc_id", "text")

    def batch(lo: int):
        return corpus.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 5)
        ).select((F.col("doc_id") + 50_000).alias("doc_id"), "text")

    assert build_fp_store(seed, path) == 10
    assert append_to_fp_store(batch(100), path, batch_id=3) == 5
    compact_fp_store(spark, path)
    assert append_to_fp_store(batch(200), path, batch_id=4) == 5  # unfolded
    assert _read_fp_store(spark, path).count() == 20

    assert build_fp_store(seed, path) == 10
    assert _read_fp_store(spark, path).count() == 10
    # batch 3 was folded by the OLD incarnation; the new one admits it
    assert append_to_fp_store(batch(100), path, batch_id=3) == 5
    assert _read_fp_store(spark, path).count() == 15


@pytest.mark.slow
def test_triad_loop_verdicts_and_exactly_once(spark, corpus, tmp_path):
    """One engineered batch, four dedup classes, each with a distinct
    witness — verdict precedence proves the short-circuit order (an
    exact copy is exact_dup even though the later stages would also
    flag it) — then a full replay (fresh checkpoint) must republish
    bit-identical verdicts and leave every store's counts unchanged."""
    seed = corpus.filter(F.col("doc_id") < 400)
    fp, mh, idx = (
        str(tmp_path / "fp"),
        str(tmp_path / "mh"),
        str(tmp_path / "idx"),
    )
    build_fp_store(seed, fp)
    build_minhash_store(seed, mh)
    build_ivfpq_index(
        seed.select("doc_id", "embedding"), idx, id_col="doc_id"
    )

    r = seed.orderBy("doc_id").limit(3).collect()
    d = len(r[0]["embedding"])
    rand_vec = [((i * 37 % 19) - 9) / 9.0 for i in range(d)]
    rand_vec2 = [((i * 53 % 23) - 11) / 11.0 for i in range(d)]
    batch = spark.createDataFrame(
        [
            # exact copy of an admitted doc (text AND embedding match):
            # must be exact_dup, not text_dup/semantic_dup — the order
            (9_001, r[0]["text"], r[0]["embedding"]),
            # near-dup text (high shingle overlap, different md5) with
            # a fresh random embedding: text_dup
            (9_002, r[1]["text"] + " zzq", rand_vec),
            # fresh text, embedding copied from an admitted doc:
            # semantic_dup
            (9_003, "completely unrelated fresh words qqa", r[2]["embedding"]),
            # fresh on every axis: admitted
            (9_004, "another disjoint novel document wwb", rand_vec2),
            # in-batch exact pair of 9_004's text: first id wins, so
            # 9_005 is exact_dup (in-batch tier), 9_004 admitted
            (9_005, "another disjoint novel document wwb", rand_vec2),
        ],
        f"doc_id long, text string, embedding array<float>",
    )

    src = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src)

    def run(ckpt):
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .parquet(src)
        )
        q = stream_ingest_dedup_all(
            stream,
            fp,
            mh,
            idx,
            survivors_dir=str(tmp_path / "out"),
            checkpoint_dir=ckpt,
            text_threshold=0.5,
            cos_threshold=0.9,
        )
        q.awaitTermination(300)
        return {
            r["doc_id"]: r["verdict"]
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }

    verdicts = run(str(tmp_path / "ckpt"))
    assert verdicts == {
        9_001: "exact_dup",
        9_002: "text_dup",
        9_003: "semantic_dup",
        9_004: "admitted",
        9_005: "exact_dup",
    }

    counts = _store_counts(spark, fp, mh, idx)
    assert counts == (401, 401, 401)  # seed 400 + the one admitted doc

    # full replay on a fresh checkpoint: same verdicts, same counts —
    # exactly-once across all three stores
    assert run(str(tmp_path / "ckpt2")) == verdicts
    assert _store_counts(spark, fp, mh, idx) == counts

    # the admitted doc is screen-visible in every store going forward
    probe_t = spark.createDataFrame(
        [(7_777, "another disjoint novel document wwb")],
        "doc_id long, text string",
    )
    assert screen_against_fp_store(probe_t, fp).count() == 1
    from sales_forecast_pyspark_spark.llmdata import (
        screen_against_ivfpq_index,
    )

    probe_v = spark.createDataFrame(
        [(7_778, rand_vec2)], "vec_id long, embedding array<float>"
    )
    sem = screen_against_ivfpq_index(
        spark, idx, probe_v, threshold=0.9
    ).collect()
    assert any(s["dup_of"] == 9_004 for s in sem)


@pytest.mark.slow
def test_triad_consistency_report_and_fp_maintenance(
    spark, corpus, tmp_path
):
    """The cross-store audit: three freshly seeded stores agree; an fp
    append the siblings never saw flips the verdict; the fp kind of
    the maintenance CLI folds the increment and the report still sees
    the divergence through the compacted base (tiered views, not
    tier layout)."""
    from scripts.store_maintenance import maintain
    from sales_forecast_pyspark_spark.llmdata import (
        triad_consistency_report,
    )

    seed = corpus.filter(F.col("doc_id") < 300)
    fp, mh, idx = (
        str(tmp_path / "fp"),
        str(tmp_path / "mh"),
        str(tmp_path / "idx"),
    )
    build_fp_store(seed, fp)
    build_minhash_store(seed, mh)
    build_ivfpq_index(
        seed.select("doc_id", "embedding"), idx, id_col="doc_id"
    )
    rep = triad_consistency_report(spark, fp, mh, idx)
    assert rep["consistent"] and rep["strict_consistent"]
    assert rep["n_fp"] == rep["n_mh"] == rep["n_index"] == 300
    assert rep["inc_batches"] == {"fp": [], "mh": [], "index": []}

    # an fp-only append (a crashed loop that died between store
    # appends) must flip the verdict: the doc is in fp but nowhere else
    extra = spark.createDataFrame(
        [(8_888, "a document only the fp store ever saw")],
        "doc_id long, text string",
    )
    append_to_fp_store(extra, fp, batch_id=7)
    rep = triad_consistency_report(spark, fp, mh, idx)
    assert not rep["consistent"]
    assert rep["mh_missing"] == 1 and rep["index_missing"] == 1
    assert rep["mh_extra"] == 0 and rep["index_extra"] == 0
    assert rep["inc_batches"]["fp"] == [7]

    # fp maintenance: dry-run reports due without folding, the real
    # run folds, and the report still sees the divergence through the
    # compacted base
    out = maintain(spark, fp, "fp", max_inc_batches=1, dry_run=True)
    assert out["compact_due"] is True and out["compacted"] is False
    assert out["rebuild"] is None and out["recommended_n_probe"] is None
    out = maintain(spark, fp, "fp", max_inc_batches=1)
    assert out["compacted"] is True and out["files"]["fps"][1] >= 1
    rep = triad_consistency_report(spark, fp, mh, idx)
    assert not rep["consistent"]
    assert rep["mh_missing"] == 1 and rep["inc_batches"]["fp"] == []


@pytest.mark.slow
def test_triad_report_recheck_flag(spark, corpus, tmp_path):
    """ADVICE r14: the report holds no lease, so before reporting
    inconsistency it re-runs once — a clean verdict never rechecks,
    stable divergence rechecks exactly once and still fails."""
    from sales_forecast_pyspark_spark.llmdata import (
        triad_consistency_report,
    )

    seed = corpus.filter(F.col("doc_id") < 200)
    fp, mh, idx = (
        str(tmp_path / "fp"),
        str(tmp_path / "mh"),
        str(tmp_path / "idx"),
    )
    build_fp_store(seed, fp)
    build_minhash_store(seed, mh)
    build_ivfpq_index(
        seed.select("doc_id", "embedding"), idx, id_col="doc_id"
    )
    rep = triad_consistency_report(spark, fp, mh, idx)
    assert rep["strict_consistent"] and rep["rechecked"] is False

    extra = spark.createDataFrame(
        [(7_777, "only the fp store saw this")],
        "doc_id long, text string",
    )
    append_to_fp_store(extra, fp, batch_id=5)
    rep = triad_consistency_report(spark, fp, mh, idx)
    assert not rep["consistent"] and rep["rechecked"] is True
    rep = triad_consistency_report(spark, fp, mh, idx, recheck=False)
    assert not rep["consistent"] and rep["rechecked"] is False


def test_sized_fp_append_writes_one_file_per_small_batch(
    spark, corpus, tmp_path
):
    """r15 layout optimization (guide §6): the fp store's batch-keyed
    increment lands fp-sorted in a byte-sized file count (1 at test
    scale), not one file per input partition."""
    import glob

    def nfiles(p: str) -> int:
        return len(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))

    path = str(tmp_path / "fp_layout")
    build_fp_store(corpus.select("doc_id", "text"), path)
    n = append_to_fp_store(
        corpus.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
        .repartition(16),
        path,
        batch_id=1,
    )
    assert n > 0
    assert nfiles(os.path.join(path, "fps_inc")) == 1


def test_triad_two_batches_verdicts_tiers_and_replay(spark, corpus, tmp_path):
    """The one streaming dedup loop over two micro-batches on a tiny
    seed, one witness per behaviour:

    - batch 0 holds the non-transitive chain a~b, b~c, a≁c: b is
      ``text_dup``, and c is ``admitted`` because b, its only near-dup,
      was never admitted (sequential-greedy peel);
    - two copies of a zero-token text (no shingles, no signature):
      stage 1's whole-text fingerprint keeps the smaller id and calls
      the other ``exact_dup``;
    - a zero-norm embedding under fresh text is ``admitted`` but never
      enters the index (no direction to serve);
    - a copy of a's embedding under fresh text is ``semantic_dup`` by
      the in-batch pair mine (a has the smaller id);
    - batch 1 re-offers an admitted text (``exact_dup``, against the fp
      store) and an admitted embedding under fresh text
      (``semantic_dup``, against the index increments).

    A replay on a fresh checkpoint republishes identical verdicts and
    leaves every store's count unchanged."""
    import numpy as np

    from tests.test_dedup_store import _CHAIN_A, _CHAIN_B, _CHAIN_C

    seed = corpus.filter(F.col("doc_id") < 100)
    stores = _build_stores(seed, tmp_path, num_hashes=32, bands=16)
    d = len(seed.first()["embedding"])
    vec = np.random.RandomState(11).normal(size=(5, d)).tolist()

    def fresh(tag: str) -> str:
        return " ".join(f"{tag}{i} ferry{i} tide{i}" for i in range(20))

    _write_batches(
        spark,
        str(tmp_path / "src"),
        [
            [
                (1, _CHAIN_A, vec[0]),
                (2, _CHAIN_B, vec[1]),
                (3, _CHAIN_C, vec[2]),
                (4, "!!!", vec[3]),
                (5, "!!!", vec[4]),
                (6, fresh("harbour"), [0.0] * d),
                (7, fresh("jetty"), vec[0]),
            ],
            [
                (101, _CHAIN_A, vec[0]),
                (102, fresh("quay"), vec[2]),
            ],
        ],
    )

    def run(ckpt: str) -> dict[int, str]:
        return _drain(
            spark, str(tmp_path / "src"), stores, str(tmp_path / "out"),
            str(tmp_path / ckpt), text_threshold=0.35,
        )

    verdicts = run("ckpt")
    assert verdicts == {
        1: "admitted",
        2: "text_dup",
        3: "admitted",
        4: "admitted",
        5: "exact_dup",
        6: "admitted",
        7: "semantic_dup",
        101: "exact_dup",
        102: "semantic_dup",
    }
    # four admitted docs; the index skips the zero-norm one
    counts = _store_counts(spark, *stores)
    assert counts == (104, 104, 103)

    assert run("ckpt2") == verdicts
    assert _store_counts(spark, *stores) == counts


def _admission_batch(spark, corpus, src: str) -> dict[int, str]:
    """Land one four-row micro-batch in ``src`` (an exact copy, a copied
    embedding under fresh text, two fresh rows) and return the verdicts
    a clean drain publishes for it."""
    import numpy as np

    r = corpus.filter(F.col("doc_id") < 100).orderBy("doc_id").limit(2).collect()
    vec = np.random.RandomState(3).normal(size=(2, len(r[0]["embedding"])))

    def fresh(tag: str) -> str:
        return " ".join(f"{tag}{i} lantern{i} quarry{i}" for i in range(20))

    _write_batches(spark, src, [[
        (9_001, r[0]["text"], r[0]["embedding"]),
        (9_002, fresh("alder"), vec[0].tolist()),
        (9_003, fresh("birch"), r[1]["embedding"]),
        (9_004, fresh("cedar"), vec[1].tolist()),
    ]])
    return {
        9_001: "exact_dup",
        9_002: "admitted",
        9_003: "semantic_dup",
        9_004: "admitted",
    }


_APPENDS = ("_append_fps", "_append_signed", "append_to_ivfpq_index")


def test_triad_admits_to_the_three_stores_concurrently(
    spark, corpus, tmp_path, monkeypatch
):
    """The three store appends of a micro-batch overlap: each waits at
    one three-party barrier before it runs, which serial admission
    never passes (it times out and fails the query). The batch's
    verdicts publish only after all three appends have returned."""
    import threading

    from sales_forecast_pyspark_spark.llmdata import ingest

    stores = _build_stores(corpus.filter(F.col("doc_id") < 100), tmp_path)
    want = _admission_batch(spark, corpus, str(tmp_path / "src"))
    out = str(tmp_path / "out")
    barrier = threading.Barrier(3, timeout=60)
    published_at_return = []

    def meet(append):
        def wrapped(*args, **kwargs):
            barrier.wait()
            n = append(*args, **kwargs)
            published_at_return.append(os.path.exists(os.path.join(out, "b=0")))
            return n

        return wrapped

    for name in _APPENDS:
        monkeypatch.setattr(ingest, name, meet(getattr(ingest, name)))
    verdicts = _drain(
        spark, str(tmp_path / "src"), stores, out, str(tmp_path / "ckpt")
    )
    assert published_at_return == [False, False, False]
    assert verdicts == want
    assert _store_counts(spark, *stores) == (102, 102, 102)


def test_triad_admission_failure_publishes_nothing_and_replays_clean(
    spark, corpus, tmp_path, monkeypatch
):
    """The index append raises on its first call. The query fails with
    that error only after the sibling appends have finished (their
    increments are on disk), nothing is published for the batch, and no
    admission thread, store lease or cached frame is left behind. A
    restart on the same checkpoint replays the batch to the verdicts
    and store counts of a clean run."""
    import threading

    from pyspark.errors import StreamingQueryException

    from sales_forecast_pyspark_spark.llmdata import ingest, lsm

    seed = corpus.filter(F.col("doc_id") < 100)
    runs = {}
    for label in ("clean", "faulty"):
        root = tmp_path / label
        root.mkdir()
        runs[label] = (
            _build_stores(seed, root),
            str(root / "src"),
            str(root / "out"),
            str(root / "ckpt"),
        )
        want = _admission_batch(spark, corpus, runs[label][1])
    stores, src, out, ckpt = runs["clean"]
    assert _drain(spark, src, stores, out, ckpt) == want
    clean_counts = _store_counts(spark, *stores)

    stores, src, out, ckpt = runs["faulty"]
    real = ingest.append_to_ivfpq_index
    calls = []

    def flaky(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected index append failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(ingest, "append_to_ivfpq_index", flaky)
    spark.catalog.clearCache()
    with pytest.raises(StreamingQueryException, match="injected index"):
        _drain(spark, src, stores, out, ckpt)
    assert not os.path.exists(os.path.join(out, "b=0"))
    assert lsm.list_inc_batches(spark, stores[0], "fps") == {0}
    assert lsm.list_inc_batches(spark, stores[1], "doc_counts") == {0}
    assert lsm.list_inc_batches(spark, stores[2], "codes") == set()
    assert not [
        t for t in threading.enumerate() if t.name.startswith("triad-admit")
    ]
    assert not [
        p for p in stores if os.path.exists(os.path.join(p, lsm.LEASE_FILE))
    ]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    assert _drain(spark, src, stores, out, ckpt) == want
    assert len(calls) == 2
    assert _store_counts(spark, *stores) == clean_counts == (102, 102, 102)


@pytest.mark.slow
def test_triad_auto_compaction_matches_the_uncompacted_run(
    spark, corpus, tmp_path
):
    """Soak shape (VERDICT r12 ask #4b) on the triad's three stores:
    six micro-batches, each admitting one fresh doc and, from the
    third on, re-offering an earlier one (its text on even batches,
    its embedding under fresh text on odd ones). ``auto_compact_after=2``
    folds every store mid-drain; verdicts, served counts and served
    top-k equal the never-compacted run, and each store's increment
    tier ends shallower."""
    import numpy as np

    from sales_forecast_pyspark_spark.llmdata import lsm, query_ivfpq_index

    seed = corpus.filter(F.col("doc_id") < 100)
    d = len(seed.first()["embedding"])
    vec = np.random.RandomState(5).normal(size=(6, d)).tolist()

    def text(tag: str, i: int) -> str:
        return " ".join(f"{tag}{i}w{j} {tag}t{i}x{j}" for j in range(25))

    batches = []
    for i in range(6):
        rows = [(20_000 + i, text("soak", i), vec[i])]
        if i >= 2:
            j = i - 2
            rows.append(
                (20_500 + i, text("soak", j), vec[j])
                if i % 2 == 0
                else (20_500 + i, text("echo", i), vec[j])
            )
        batches.append(rows)

    results = {}
    for label, auto in (("plain", None), ("auto", 2)):
        root = tmp_path / label
        root.mkdir()
        stores = _build_stores(seed, root)
        src = str(root / "src")
        _write_batches(spark, src, batches)
        verdicts = _drain(
            spark, src, stores, str(root / "out"), str(root / "ckpt"),
            auto_compact_after=auto,
        )
        results[label] = {
            "verdicts": verdicts,
            "counts": _store_counts(spark, *stores),
            "topk": sorted(
                map(
                    tuple,
                    query_ivfpq_index(
                        spark, stores[2],
                        spark.createDataFrame(
                            [(i, v) for i, v in enumerate(vec)],
                            "vec_id long, embedding array<float>",
                        ),
                        k=3,
                    ).collect(),
                )
            ),
            "inc": [
                len(lsm.list_inc_batches(spark, path, table))
                for path, table in zip(stores, ("fps", "signatures", "codes"))
            ],
            "folded": [len(lsm.folded_batches(spark, p)) for p in stores],
        }
    plain, auto = results["plain"], results["auto"]
    assert auto["verdicts"] == plain["verdicts"]
    assert auto["topk"] == plain["topk"] and len(plain["topk"]) == 18
    assert sorted(plain["verdicts"].values()).count("admitted") == 6
    assert {v for k, v in plain["verdicts"].items() if k >= 20_500} == {
        "exact_dup", "semantic_dup"
    }
    assert auto["counts"] == plain["counts"] == (106, 106, 106)
    assert all(n > 0 for n in auto["folded"])
    assert all(a < p for a, p in zip(auto["inc"], plain["inc"]))
