"""Persistent IVF-PQ index (llmdata/ann_index.py): build-once /
query-many parity with the in-memory operator, the partition-pruned
code scan that justifies the layout, the recall tier bar, and the
geometry guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata import (
    build_ivfpq_index,
    query_ivfpq_index,
)
from sales_forecast_pyspark_spark.llmdata.similarity import (
    cosine_topk,
    ivfpq_topk,
    topk_recall_audit,
)

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")


@pytest.fixture(scope="module")
def index_path(spark, emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "idx")
    meta = build_ivfpq_index(emb, path)
    assert meta["n_vectors"] == emb.count()  # no zero-norm rows in fixture
    return path


def test_index_query_matches_in_memory_operator(spark, emb, index_path):
    """Same seeds + same corpus ⇒ the persisted index must return
    EXACTLY the rows the fit-and-query operator returns (the plan
    differs — code-only scan + refine join — the results must not)."""
    queries = emb.filter(F.col("vec_id") < 20)
    mem = {tuple(r) for r in ivfpq_topk(emb, queries, k=5).collect()}
    idx = {
        tuple(r)
        for r in query_ivfpq_index(spark, index_path, queries, k=5).collect()
    }
    assert idx == mem and len(idx) > 0


def test_screen_matches_serve_path_hits(spark, emb, index_path):
    """The screen (the serve path's search kernel plus a threshold)
    must agree with the serve path on the screening contract: the same
    (vec_id, dup_of, cos_sim) hit rows at the threshold, for a batch
    mixing exact copies of stored vectors (must hit at 1.0) and
    re-keyed random corpus rows (no near-twin at 0.9). refine_factor
    matched to the serve default so candidate pools align."""
    from sales_forecast_pyspark_spark.llmdata import (
        screen_against_ivfpq_index,
    )

    copies = emb.filter(F.col("vec_id") % 7 == 0).select(
        (F.col("vec_id") + 40_000).alias("vec_id"), "embedding"
    )
    fresh = emb.filter(F.col("vec_id") % 7 == 3).select(
        (F.col("vec_id") + 80_000).alias("vec_id"), "embedding"
    )
    batch = copies.unionByName(fresh).localCheckpoint(eager=True)
    via_serve = (
        query_ivfpq_index(
            spark, index_path, batch, k=5, n_probe=6, refine_factor=32
        )
        .filter(F.col("cos_sim") >= 0.9)
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("neighbor_id").alias("dup_of"),
            "cos_sim",
        )
    )
    via_screen = screen_against_ivfpq_index(
        spark, index_path, batch, threshold=0.9, k=5, n_probe=6,
        refine_factor=32,
    )
    a = {tuple(r) for r in via_serve.collect()}
    b = {tuple(r) for r in via_screen.collect()}
    assert a == b and len(b) > 0
    # every exact copy hits its stored twin at 1.0 (the corpus also
    # carries intrinsic ≥0.9 pairs — both paths must report those too,
    # which the set equality above already pins)
    copy_ids = {r["vec_id"] for r in copies.collect()}
    hit_twins = {
        (v, d) for v, d, c in b if c >= 0.999999 and v - 40_000 == d
    }
    assert {v for v, _ in hit_twins} == copy_ids
    # a replayed batch of STORED ids: each query's own row sits in its
    # probed cell at ADC ~0 and must leave the candidate pool BEFORE the
    # per-cell cut, or a tight cut (k·refine_factor = 1) keeps only the
    # self row and the screen drops every query the serve path answers
    replay = emb.filter(F.col("vec_id") < 300).localCheckpoint(eager=True)
    for k, refine_factor, n_probe in ((1, 1, 1), (5, 2, 2)):
        served = {
            (r["query_id"], r["neighbor_id"], r["cos_sim"])
            for r in query_ivfpq_index(
                spark, index_path, replay, k=k, n_probe=n_probe,
                refine_factor=refine_factor,
            ).collect()
        }
        for threshold in (-1.0, 0.5):
            screened = {
                tuple(r)
                for r in screen_against_ivfpq_index(
                    spark, index_path, replay, threshold=threshold, k=k,
                    n_probe=n_probe, refine_factor=refine_factor,
                ).collect()
            }
            want = {t for t in served if t[2] >= threshold}
            assert screened == want, (k, refine_factor, n_probe, threshold)
        assert len(served) >= 0.9 * 300 * k


def test_served_cosines_equal_the_jvm_fold(spark, emb, index_path):
    """The search kernel sums in numpy in the JVM fold's order, so each
    served cos_sim equals the same cosine written as Spark expressions
    (query normalized by transform/aggregate, dot product by
    zip_with/aggregate, round 6), bit for bit."""

    def fold(arr):
        return F.aggregate(arr, F.lit(0.0), lambda a, x: a + x)

    queries = emb.filter(F.col("vec_id") < 20)
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qv0"),
    ).withColumn("n", F.sqrt(fold(F.transform("qv0", lambda x: x * x))))
    q = q.select(
        "query_id", F.transform("qv0", lambda x: x / F.col("n")).alias("qv")
    )
    rows = (
        query_ivfpq_index(spark, index_path, queries, k=5)
        .join(q, "query_id")
        .join(spark.read.parquet(f"{index_path}/vectors"), "neighbor_id")
        .select(
            "cos_sim",
            F.round(fold(F.zip_with("v", "qv", lambda a, b: a * b)), 6)
            .alias("ref"),
        )
        .collect()
    )
    assert len(rows) == 100
    assert all(r["cos_sim"] == r["ref"] for r in rows)


def test_index_scan_prunes_unprobed_cell_partitions(spark, emb, index_path):
    """The layout's point: probed cells reach the code scan as a STATIC
    PartitionFilter (driver-side IN-list, no DPP needed), so unprobed
    cells are never read. One query probes n_probe=6 of 16 cells; the
    physical plan must carry a partition filter on `cell`."""
    queries = emb.filter(F.col("vec_id") < 1)
    plan = (
        query_ivfpq_index(spark, index_path, queries, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [cell" in plan.replace("#", " #").replace(
        "cell #", "cell#"
    ) or "PartitionFilters: [cell" in plan, plan[:4000]


def test_index_query_meets_the_ivfpq_tier_bar(spark, emb, index_path):
    """The persisted path inherits the operator's contracted tier:
    pooled recall >= 0.5 vs brute force (the minimum-IO tier bar)."""
    queries = emb.filter(F.col("vec_id") < 20)
    row = (
        topk_recall_audit(
            query_ivfpq_index(spark, index_path, queries, k=5),
            cosine_topk(emb, queries, k=5),
        )
        .select("mean_recall", "recall_ok")
        .first()
    )
    assert row["recall_ok"] is True
    assert row["mean_recall"] >= 0.5


def test_screen_contract_guard_and_dimension_check(spark, emb, index_path):
    """The r16 screen materializes the contract-bounded batch ONCE
    driver-side (the exact-peel precedent): an over-contract frame must
    refuse loudly after at most max_rows+1 collected rows, the default
    ceiling is the ingest contract bound, and the geometry check still
    fails with the same loud ValueError — now driver-side, before any
    job touches the index."""
    from sales_forecast_pyspark_spark.llmdata import (
        screen_against_ivfpq_index,
    )

    with pytest.raises(ValueError, match="contract-bounded"):
        screen_against_ivfpq_index(spark, index_path, emb, max_rows=10)
    import inspect as _inspect

    sig = _inspect.signature(screen_against_ivfpq_index)
    assert sig.parameters["max_rows"].default == 50_000
    bad = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, 32).alias("embedding")
    ).filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="batch dimension 32 != index"):
        screen_against_ivfpq_index(spark, index_path, bad)


def test_quantizer_memo_hits_and_invalidates_on_rebuild(
    spark, emb, tmp_path_factory
):
    """The r16 quantizer memo (per-append job thinning): repeated loads
    of the immutable cells/codebooks state return the memoized arrays
    (no collect jobs), and a REBUILD over the same path — new quantizer
    files, new FS fingerprint — forces a reload of the new geometry.
    meta stays fresh-read every call (n_vectors is append-mutable)."""
    import numpy as np

    from sales_forecast_pyspark_spark.llmdata.ann_index import (
        _load_quantizers,
        append_to_ivfpq_index,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_memo") / "idx")
    base = emb.filter(F.col("vec_id") < 300)
    build_ivfpq_index(base, path)
    m1, c1, b1 = _load_quantizers(spark, path)
    m2, c2, b2 = _load_quantizers(spark, path)
    assert c2 is c1 and b2 is b1  # memo hit: same arrays, no reload
    # shared by every caller, so an in-place op must fail, not poison
    # later loads
    assert not c1.flags.writeable
    assert not any(b.flags.writeable for b in b1)
    with pytest.raises(ValueError, match="read-only"):
        c1 += 1.0
    # an append mutates meta (n_vectors) but NOT the quantizers: the
    # memo must survive and meta must be fresh
    extra = emb.filter(
        (F.col("vec_id") >= 300) & (F.col("vec_id") < 350)
    ).select((F.col("vec_id") + 90_000).alias("vec_id"), "embedding")
    append_to_ivfpq_index(extra, path, batch_id=7)
    m3, c3, b3 = _load_quantizers(spark, path)
    assert c3 is c1
    assert m3["n_vectors"] == m1["n_vectors"] + 50
    # rebuild over the same path with a different seed: new quantizer
    # files -> new fingerprint -> the memo reloads the NEW geometry
    build_ivfpq_index(base, path, seed=43)
    m4, c4, b4 = _load_quantizers(spark, path)
    assert c4 is not c1
    assert not np.array_equal(c4, c1)


def test_index_rejects_mismatched_query_dimension(spark, emb, index_path):
    """The meta table is a geometry CONTRACT: a query set with the
    wrong dimensionality fails loudly at plan time, not with silent
    zip_with truncation worker-side."""
    bad = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, 32).alias("embedding")
    ).filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="query dimension 32 != index dimension"):
        query_ivfpq_index(spark, index_path, bad, k=5)


def test_append_reencodes_bit_identically_and_serves_new_vectors(
    spark, emb, tmp_path_factory
):
    """Incremental ingest: (a) re-encoding vectors the index already
    saw through the stored codebooks yields the SAME (cell, codes) the
    build wrote — the Arrow encoder replays KMeans-transform math
    exactly; (b) appended near-duplicate vectors are immediately
    served: a query for a planted near-dup finds it at rank 1."""
    from sales_forecast_pyspark_spark.llmdata import append_to_ivfpq_index

    path = str(tmp_path_factory.mktemp("ivfpq_app") / "idx")
    base = emb.filter(F.col("vec_id") < 400)
    build_ivfpq_index(base, path)
    before = {
        r["neighbor_id"]: (r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{path}/codes").collect()
    }

    # (a) re-encode a slice of the SAME vectors under shifted ids
    re_slice = base.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 10_000).alias("vec_id"), "embedding"
    )
    n = append_to_ivfpq_index(re_slice, path)
    assert n == 50
    after = {
        r["neighbor_id"]: (r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    for i in range(50):
        assert after[i + 10_000] == before[i], i

    # (b) plant an exact duplicate of vec_id 7 under a new id and query
    dup = base.filter(F.col("vec_id") == 7).select(
        F.lit(99_999).cast("long").alias("vec_id"), "embedding"
    )
    assert append_to_ivfpq_index(dup, path) == 1
    meta = spark.read.parquet(f"{path}/meta").first()
    assert meta["n_vectors"] == 400 + 50 + 1
    # two exact copies of vector 7 now live in the index (10007 from
    # the re-encoded slice, 99999 from the planted dup): both must be
    # served at cos 1.0, id tie-break ordering them
    got = query_ivfpq_index(
        spark, path, base.filter(F.col("vec_id") == 7), k=2
    ).collect()
    assert [(r["neighbor_id"], r["cos_sim"]) for r in got] == [
        (10_007, 1.0),
        (99_999, 1.0),
    ]


def test_append_rejects_mismatched_dimension(spark, emb, index_path):
    from sales_forecast_pyspark_spark.llmdata import append_to_ivfpq_index

    bad = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, 32).alias("embedding")
    ).filter(F.col("vec_id") < 3)
    with pytest.raises(ValueError, match="append dimension 32 != index"):
        append_to_ivfpq_index(bad, index_path)


def test_fresh_index_reports_no_drift(spark, emb, index_path):
    """Right after build, the report replays the SAME scan the build
    stored as baseline — every ratio is exactly 1.0, no flag set.
    (One code path for baseline + report means they cannot disagree on
    the error definition.)"""
    from sales_forecast_pyspark_spark.llmdata import ivfpq_index_stats

    rows = ivfpq_index_stats(spark, index_path).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["drift_flag"] is False, r
        assert r["n_rows"] == r["build_rows"]
        assert r["err_ratio"] == pytest.approx(1.0, abs=1e-6)
        assert r["rows_ratio"] == pytest.approx(1.0, abs=1e-6)


@pytest.mark.slow
def test_same_distribution_append_stays_green(spark, emb, tmp_path_factory):
    """Appending MORE of the same distribution is the healthy
    incremental-ingest regime: quantization error per cell stays at
    the build-time level, occupancy grows proportionally — no rebuild
    signal."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_stats,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_green") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 400), path)
    append_to_ivfpq_index(emb.filter(F.col("vec_id") >= 400), path)
    rows = ivfpq_index_stats(spark, path).collect()
    assert len(rows) > 0
    assert not any(r["drift_flag"] for r in rows), [
        (r["cell"], r["err_ratio"], r["rows_ratio"])
        for r in rows
        if r["drift_flag"]
    ]


@pytest.mark.slow
def test_drifted_append_trips_the_flag(spark, emb, tmp_path_factory):
    """The failure mode the monitor exists for: appended vectors from
    a DIFFERENT distribution (here an axis spike no gaussian-trained
    codebook can reconstruct) are still encoded by the original
    quantizers, so their reconstruction error — and the landing cell's
    mean — jumps. The report must flag it, with the error channel
    (not just occupancy) over its factor."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_stats,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_drift") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 400), path)
    spike = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 50_000).alias("vec_id"),
        F.array(
            *([F.lit(1.0)] + [F.lit(0.0)] * 63)
        ).alias("embedding"),
    )
    assert append_to_ivfpq_index(spike, path) == 100
    rows = ivfpq_index_stats(spark, path).collect()
    flagged = [r for r in rows if r["drift_flag"]]
    assert flagged, rows
    # the LOCALIZED channel must fire: the spike cell's error stands
    # out from the median cell (err_rel), not just from the build
    # baseline (raw err_ratio moves ~2x on healthy appends too — the
    # generalization gap the self-normalization exists to cancel)
    assert any(
        r["err_rel"] is not None and r["err_rel"] > 1.5 for r in flagged
    ), [(r["cell"], r["err_rel"], r["rows_ratio"]) for r in flagged]


@pytest.mark.slow
def test_wholesale_shift_trips_the_global_channel(spark, emb, tmp_path_factory):
    """A shift that raises EVERY cell's error equally defeats the
    median-normalized per-cell channel by construction — that is what
    the global channel exists for: the median err_ratio itself crosses
    global_err_factor (3.0, above the ×2.0–2.4 generalization gap a
    healthy same-size append measures at this worst-overfit fixture
    scale). 400 axis spikes cycling through all 64 dims land across
    the whole cell map and lift the median past the bar."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_stats,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_global") / "idx")
    base = emb.filter(F.col("vec_id") < 400)
    build_ivfpq_index(base, path)
    spikes = base.select(
        (F.col("vec_id") + 80_000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> "
            "CASE WHEN i = int(vec_id % 64) THEN 1.0D ELSE 0.0D END)"
        ).alias("embedding"),
    )
    assert append_to_ivfpq_index(spikes, path) == 400
    rows = ivfpq_index_stats(spark, path).collect()
    assert all(r["drift_flag"] for r in rows), [
        r for r in rows if not r["drift_flag"]
    ]
    assert rows[0]["global_err_ratio"] > 3.0


@pytest.mark.slow
def test_lifecycle_driver_row_is_green(spark):
    """The registered ann_index_lifecycle row (build 80% → append 20%
    → serve → audit) must be green on BOTH its in-row audit axes at
    the oracle SF: the served batch covers build and appended vectors
    at the contracted recall tier, and the same-distribution append
    must NOT trip the drift monitor (its false-positive regime)."""
    from sales_forecast_pyspark_spark.plans.queries import QUERIES

    r = (
        QUERIES["ann_index_lifecycle"]
        .builder(spark, SF_ORACLE)
        .select(
            "mean_recall", "recall_ok", "n_cells", "n_drifted_cells",
            "max_err_rel", "global_err_ratio", "drift_green",
        )
        .first()
    )
    assert r["recall_ok"] is True and r["mean_recall"] >= 0.5
    assert r["drift_green"] is True and r["n_drifted_cells"] == 0
    assert r["n_cells"] == 16


@pytest.mark.slow
def test_hot_spot_append_trips_the_skew_channel(spark, emb, tmp_path_factory):
    """Occupancy drift with NO quantization-error signal: appended
    duplicates of an existing vector reconstruct exactly as well as
    the build rows (err channels stay quiet), but they all land on one
    cell — far beyond its expected share of the append mass — so the
    append-skew channel must carry the flag alone. (A naive
    n_rows/build_rows ratio misses hot spots inside modest growth and
    flags healthy uniform growth; skew-vs-expected-share does
    neither.)"""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        ivfpq_index_stats,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_skew") / "idx")
    base = emb.filter(F.col("vec_id") < 400)
    build_ivfpq_index(base, path)
    dup_src = base.filter(F.col("vec_id") == 7).first()
    dups = spark.createDataFrame(
        [(60_000 + i, dup_src["embedding"]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    assert append_to_ivfpq_index(dups, path) == 60
    rows = ivfpq_index_stats(spark, path).collect()
    flagged = [r for r in rows if r["drift_flag"]]
    assert flagged, rows
    assert any(
        r["append_skew"] is not None and r["append_skew"] > 4.0
        for r in flagged
    ), [(r["cell"], r["append_skew"], r["err_rel"]) for r in flagged]


@pytest.mark.slow
def test_compaction_shrinks_files_and_preserves_everything(
    spark, emb, tmp_path_factory
):
    """Five small appends fragment the cell partitions; compaction
    must (a) cut the data-file count, (b) leave query results
    BIT-IDENTICAL, (c) keep the partitionBy(cell) layout so the
    static PartitionFilter pruning survives, and (d) leave the drift
    baseline valid (contents unchanged ⇒ report ratios still exactly
    those of the pre-compaction state)."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        ivfpq_index_stats,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_compact") / "idx")
    base = emb.filter(F.col("vec_id") < 400)
    build_ivfpq_index(base, path)
    for i in range(5):
        batch = emb.filter(
            (F.col("vec_id") >= 400 + i * 20) & (F.col("vec_id") < 420 + i * 20)
        ).select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
        append_to_ivfpq_index(batch, path)

    queries = emb.filter(F.col("vec_id") < 20)
    before_rows = query_ivfpq_index(spark, path, queries, k=5).collect()
    before_report = ivfpq_index_stats(spark, path).collect()

    counts = compact_ivfpq_index(spark, path)
    assert counts["codes"][1] < counts["codes"][0], counts
    assert counts["vectors"][1] < counts["vectors"][0], counts

    after_rows = query_ivfpq_index(spark, path, queries, k=5).collect()
    assert sorted(map(tuple, after_rows)) == sorted(map(tuple, before_rows))

    plan = (
        query_ivfpq_index(spark, path, queries, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [cell" in plan.replace("cell #", "cell#"), plan[:2000]

    after_report = ivfpq_index_stats(spark, path).collect()
    assert sorted(map(tuple, after_report)) == sorted(map(tuple, before_report))


@pytest.mark.slow
def test_versioned_append_replay_is_idempotent(spark, emb, tmp_path_factory):
    """batch_id-keyed appends land in overwrite-mode increment dirs:
    replaying the same batch (foreachBatch's at-least-once failure
    mode) overwrites itself instead of double-appending — contents,
    meta count, and query results identical to a single application."""
    from sales_forecast_pyspark_spark.llmdata import append_to_ivfpq_index

    path = str(tmp_path_factory.mktemp("ivfpq_replay") / "idx")
    base = emb.filter(F.col("vec_id") < 400)
    build_ivfpq_index(base, path)
    batch = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivfpq_index(batch, path, batch_id=0)
    queries = emb.filter(F.col("vec_id") < 10)
    once = sorted(
        map(tuple, query_ivfpq_index(spark, path, queries, k=5).collect())
    )
    meta_once = spark.read.parquet(f"{path}/meta").first()["n_vectors"]

    append_to_ivfpq_index(batch, path, batch_id=0)  # replay
    again = sorted(
        map(tuple, query_ivfpq_index(spark, path, queries, k=5).collect())
    )
    meta_again = spark.read.parquet(f"{path}/meta").first()["n_vectors"]
    assert again == once
    assert meta_once == meta_again == 500


@pytest.mark.slow
def test_streamed_ingest_matches_batch_append_and_compacts(
    spark, emb, tmp_path_factory
):
    """End-to-end streaming ingest: a file-source stream drained with
    availableNow must leave the index serving EXACTLY what a batch
    append of the same rows yields; compaction then folds the
    increment tier away (dirs removed) without changing results."""
    import os

    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        stream_append_to_ivfpq_index,
    )

    root = tmp_path_factory.mktemp("ivfpq_stream")
    src_dir = str(root / "src")
    new_rows = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    # several small files -> several micro-batches under maxFilesPerTrigger
    new_rows.repartition(4).write.parquet(src_dir)

    base = emb.filter(F.col("vec_id") < 400)
    p_stream = str(root / "idx_stream")
    build_ivfpq_index(base, p_stream)
    schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    q = stream_append_to_ivfpq_index(
        stream, p_stream, checkpoint_dir=str(root / "ckpt")
    )
    q.awaitTermination(120)
    assert os.path.isdir(f"{p_stream}/codes_inc")  # landed as increments

    p_batch = str(root / "idx_batch")
    build_ivfpq_index(base, p_batch)
    append_to_ivfpq_index(new_rows, p_batch)

    queries = emb.filter(F.col("vec_id") < 10)
    streamed = sorted(
        map(tuple, query_ivfpq_index(spark, p_stream, queries, k=5).collect())
    )
    batched = sorted(
        map(tuple, query_ivfpq_index(spark, p_batch, queries, k=5).collect())
    )
    assert streamed == batched and len(streamed) == 50

    counts = compact_ivfpq_index(spark, p_stream)
    assert not os.path.isdir(f"{p_stream}/codes_inc")
    assert not os.path.isdir(f"{p_stream}/vectors_inc")
    assert counts["codes"][1] <= counts["codes"][0]
    after = sorted(
        map(tuple, query_ivfpq_index(spark, p_stream, queries, k=5).collect())
    )
    assert after == streamed


@pytest.mark.slow
def test_live_stats_tier_matches_full_scan_exactly(
    spark, emb, tmp_path_factory
):
    """The report's default path folds the additive stats_live tier
    (zero data scan); the contract is BIT-EQUALITY with the full
    recompute after any mix of operations — decimal partial sums merge
    exactly, per-row qerr is rounded before any sum, so the two paths
    cannot diverge. Exercises: build → ad-hoc append → versioned
    append → replay → compaction."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        ivfpq_index_stats,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_live") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 300), path)
    append_to_ivfpq_index(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), path
    )
    batch = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivfpq_index(batch, path, batch_id=3)
    append_to_ivfpq_index(batch, path, batch_id=3)  # replay

    live = sorted(map(tuple, ivfpq_index_stats(spark, path).collect()))
    full = sorted(
        map(tuple, ivfpq_index_stats(spark, path, full_scan=True).collect())
    )
    assert live == full and len(live) == 16
    assert sum(r[1] for r in live) == 500  # n_rows covers every stored row

    compact_ivfpq_index(spark, path)
    after = sorted(map(tuple, ivfpq_index_stats(spark, path).collect()))
    assert after == live  # compaction recomputes, contents unchanged


@pytest.mark.slow
def test_replay_after_fold_is_a_noop(spark, emb, tmp_path_factory):
    """The exactly-once hole compaction alone leaves open: a batch
    whose increments were FOLDED (and deleted) before its checkpoint
    committed gets re-delivered — the fold ledger must make the
    replayed append a no-op instead of re-appending already-folded
    rows as duplicates, and meta must agree with the data
    throughout."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        ivfpq_index_stats,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_fold_replay") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 400), path)
    batch = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    assert append_to_ivfpq_index(batch, path, batch_id=9) == 100
    compact_ivfpq_index(spark, path)  # folds batch 9, deletes its incs

    queries = emb.filter(F.col("vec_id") < 10)
    folded = sorted(
        map(tuple, query_ivfpq_index(spark, path, queries, k=5).collect())
    )
    # the simulated restart replays batch 9
    assert append_to_ivfpq_index(batch, path, batch_id=9) == 0
    import os as _os

    assert not _os.path.isdir(f"{path}/codes_inc")  # nothing re-landed
    replayed = sorted(
        map(tuple, query_ivfpq_index(spark, path, queries, k=5).collect())
    )
    assert replayed == folded
    meta = spark.read.parquet(f"{path}/meta").first()
    assert meta["n_vectors"] == 500
    live = ivfpq_index_stats(spark, path).collect()
    assert sum(r["n_rows"] for r in live) == 500
    assert not any(r["drift_flag"] for r in live)


@pytest.mark.slow
def test_torn_batch_stays_unfolded_and_replay_completes_it(
    spark, emb, tmp_path_factory
):
    """The union-ledger defect the r12 second-pass review caught: a
    TORN batch (first table's increment written, later ones not) must
    NOT be recorded as folded — its replay is the only thing that can
    complete it. Since r13 the fold also does NOT absorb the torn
    batch's orphan rows at all (``_complete_index_view``): its
    increment dirs survive the compaction untouched, so the replay
    overwrites them in place and no transient duplicates ever exist —
    the stronger form of the ADVICE r12 double-count fix."""
    import shutil

    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        ivfpq_index_stats,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_torn") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 400), path)
    batch = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    # simulate the torn append: full append, then remove every table
    # EXCEPT the first-written one (vectors) — the on-disk state of a
    # crash between the vectors and codes writes
    append_to_ivfpq_index(batch, path, batch_id=3)
    shutil.rmtree(f"{path}/codes_inc", ignore_errors=True)
    shutil.rmtree(f"{path}/stats_live_inc", ignore_errors=True)

    compact_ivfpq_index(spark, path)
    # the torn batch must NOT be in the fold ledger, its increment
    # dirs must survive the fold, and the base must not have absorbed
    # its orphan rows (the fold reads COMPLETE batches only)
    from sales_forecast_pyspark_spark.llmdata import lsm

    assert 3 not in lsm.folded_batches(spark, path)
    assert lsm.list_inc_batches(spark, path, "vectors") == {3}
    assert spark.read.parquet(f"{path}/vectors").count() == 400
    # ...so the replay COMPLETES it instead of no-opping
    assert append_to_ivfpq_index(batch, path, batch_id=3) == 100

    # served results equal a cleanly-built twin's, despite the
    # transient duplicate vector rows (refine-stage dedupe)
    twin = str(tmp_path_factory.mktemp("ivfpq_torn_twin") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 400), twin)
    append_to_ivfpq_index(batch, twin, batch_id=3)
    queries = emb.filter(F.col("vec_id") < 10)
    got = sorted(
        map(tuple, query_ivfpq_index(spark, path, queries, k=5).collect())
    )
    want = sorted(
        map(tuple, query_ivfpq_index(spark, twin, queries, k=5).collect())
    )
    assert got == want and len(got) == 50

    # the next compaction heals the duplicates completely
    compact_ivfpq_index(spark, path)
    live = ivfpq_index_stats(spark, path).collect()
    full = ivfpq_index_stats(spark, path, full_scan=True).collect()
    assert sorted(map(tuple, live)) == sorted(map(tuple, full))
    assert sum(r["n_rows"] for r in live) == 500
    assert spark.read.parquet(f"{path}/meta").first()["n_vectors"] == 500


@pytest.mark.slow
def test_torn_codes_batch_never_double_counts(spark, emb, tmp_path_factory):
    """The index-side analogue of the ADVICE r12 MinHash double-count:
    a batch torn AFTER its codes landed but BEFORE its stats increment
    (codes_inc + vectors_inc present, stats_live_inc not) gets folded
    by a pre-r13 compactor; its completing replay then re-appends and
    the live stats tier double-counts the batch until the next fold.
    With complete-only folding the count is never wrong: undercount
    while torn, exact after the replay."""
    import shutil

    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        ivfpq_index_stats,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_torn2") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 400), path)
    batch = emb.filter(F.col("vec_id") >= 400).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    append_to_ivfpq_index(batch, path, batch_id=6)
    shutil.rmtree(f"{path}/stats_live_inc", ignore_errors=True)

    compact_ivfpq_index(spark, path)
    # undercount while torn — never an over-claim
    assert spark.read.parquet(f"{path}/meta").first()["n_vectors"] == 400

    # the completing replay lands the batch EXACTLY ONCE
    assert append_to_ivfpq_index(batch, path, batch_id=6) == 100
    assert spark.read.parquet(f"{path}/meta").first()["n_vectors"] == 500
    live = ivfpq_index_stats(spark, path).collect()
    assert sum(r["n_rows"] for r in live) == 500
    # and serving sees each appended vector once (no duplicate rows)
    queries = emb.filter(F.col("vec_id") < 10)
    got = query_ivfpq_index(spark, path, queries, k=5)
    assert got.groupBy("query_id", "neighbor_id").count().filter(
        F.col("count") > 1
    ).isEmpty()

    compact_ivfpq_index(spark, path)
    assert spark.read.parquet(f"{path}/meta").first()["n_vectors"] == 500
    full = ivfpq_index_stats(spark, path, full_scan=True).collect()
    assert sum(r["n_rows"] for r in full) == 500


def test_index_mutations_fail_loudly_under_lease(
    spark, emb, tmp_path_factory
):
    """VERDICT r12 ask #4a for the index: with the maintenance lease
    held, build / append / compact raise LeaseHeldError instead of
    interleaving file operations; queries stay lease-free."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        compact_ivfpq_index,
        lsm,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_lease") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 200), path)
    batch = emb.filter(F.col("vec_id") == 200).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    lsm.acquire_lease(spark, path, "test-holder")
    try:
        with pytest.raises(lsm.LeaseHeldError):
            append_to_ivfpq_index(batch, path, batch_id=1)
        with pytest.raises(lsm.LeaseHeldError):
            compact_ivfpq_index(spark, path)
        with pytest.raises(lsm.LeaseHeldError):
            build_ivfpq_index(emb.filter(F.col("vec_id") < 200), path)
        # reads stay lease-free
        queries = emb.filter(F.col("vec_id") < 5)
        assert query_ivfpq_index(spark, path, queries, k=3).count() == 15
    finally:
        lsm.release_lease(spark, path)
    assert append_to_ivfpq_index(batch, path, batch_id=1) == 1


@pytest.mark.slow
def test_streamed_index_auto_compacts_and_serves_identically(
    spark, emb, tmp_path_factory
):
    """Soak shape (VERDICT r12 ask #4b): the streaming ingest loop
    with ``auto_compact_after=2`` folds its own increments mid-drain;
    final served results and counts match the never-compacted twin."""
    from sales_forecast_pyspark_spark.llmdata import (
        lsm,
        stream_append_to_ivfpq_index,
    )

    results = {}
    for label, auto in (("plain", None), ("auto", 2)):
        root = tmp_path_factory.mktemp(f"ivfpq_soak_{label}")
        path = str(root / "idx")
        build_ivfpq_index(emb.filter(F.col("vec_id") < 300), path)
        src = str(root / "src")
        for i in range(5):
            emb.filter(
                (F.col("vec_id") >= 300 + i * 20)
                & (F.col("vec_id") < 320 + i * 20)
            ).select(
                (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
            ).coalesce(1).write.mode(
                "overwrite" if i == 0 else "append"
            ).parquet(src)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_append_to_ivfpq_index(
            stream,
            path,
            checkpoint_dir=str(root / "ckpt"),
            auto_compact_after=auto,
        )
        q.awaitTermination(300)
        queries = emb.filter(F.col("vec_id") < 10)
        results[label] = {
            "topk": sorted(
                map(
                    tuple,
                    query_ivfpq_index(spark, path, queries, k=5).collect(),
                )
            ),
            "n_vectors": spark.read.parquet(f"{path}/meta").first()[
                "n_vectors"
            ],
            "inc_batches": len(lsm.list_inc_batches(spark, path, "codes")),
            "folded": len(lsm.folded_batches(spark, path)),
        }
    assert results["auto"]["topk"] == results["plain"]["topk"]
    assert results["auto"]["n_vectors"] == results["plain"]["n_vectors"] == 400
    assert results["auto"]["folded"] > 0
    assert results["auto"]["inc_batches"] < results["plain"]["inc_batches"]


@pytest.mark.slow
def test_should_rebuild_verdict_tracks_the_drift_monitor(
    spark, emb, tmp_path_factory
):
    """The one-call rebuild policy: green on a fresh index and on a
    same-distribution append (the monitor's false-positive regime),
    rebuild=True with a channel-naming reason once a drifted append
    trips cells — the decision an operator schedules on, at the
    monitor's O(batches) cost."""
    from sales_forecast_pyspark_spark.llmdata import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        should_rebuild,
    )

    path = str(tmp_path_factory.mktemp("ivfpq_policy") / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 400), path)
    v = should_rebuild(spark, path)
    assert v["rebuild"] is False and v["reason"] == "green"
    assert v["n_drifted_cells"] == 0 and v["n_cells"] == 16

    # same-distribution append stays green
    append_to_ivfpq_index(
        emb.filter(F.col("vec_id") >= 400).select(
            (F.col("vec_id") + 90_000).alias("vec_id"), "embedding"
        ),
        path,
    )
    assert should_rebuild(spark, path)["rebuild"] is False

    # drifted append (axis spike) flips the verdict with a reason
    spike = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 95_000).alias("vec_id"),
        F.array(*([F.lit(1.0)] + [F.lit(0.0)] * 63)).alias("embedding"),
    )
    append_to_ivfpq_index(spike, path)
    v = should_rebuild(spark, path)
    assert v["rebuild"] is True and v["n_drifted_cells"] > 0
    assert v["reason"] != "green" and v["reason"]
    # tolerance knob: allowing that many drifted cells turns it green
    assert (
        should_rebuild(spark, path, max_drifted_cells=v["n_drifted_cells"])
        ["rebuild"]
        is False
    )


@pytest.mark.slow
def test_recommend_n_probe_picks_cheapest_rung_meeting_target(
    spark, emb, index_path
):
    """The serving-cost auto-tune: recall along the probe ladder is
    non-decreasing up to the recommendation, the recommended rung
    meets the target (or full probe is returned as the honest
    ceiling), and a trivially low target recommends the cheapest
    rung."""
    from sales_forecast_pyspark_spark.llmdata import recommend_n_probe

    v = recommend_n_probe(spark, index_path, recall_target=0.9, k=5)
    assert v["met_target"] is True
    assert v["recall"] >= 0.9
    assert 1 <= v["n_probe"] <= 16
    # every rung below the recommendation measured under target
    # (otherwise the tuner would have stopped there)
    below = [r for p, r in v["ladder"].items() if p < v["n_probe"]]
    assert all(r < 0.9 for r in below)
    # ladder is deterministic: rerun reproduces the recommendation
    assert recommend_n_probe(spark, index_path, recall_target=0.9, k=5) == v
    # a floor target stops at the cheapest rung
    cheap = recommend_n_probe(spark, index_path, recall_target=0.01, k=5)
    assert cheap["n_probe"] == 1 and cheap["met_target"] is True


@pytest.mark.slow
def test_semantic_dedup_screen_and_stream_loop(
    spark, emb, tmp_path_factory
):
    """Incremental SEMANTIC dedup against the serving index — the
    embedding twin of the MinHash ingest loop, completing the
    incremental dedup triad: an exact copy of a stored vector is
    screened at cos 1.0, an in-batch dup pair collapses to the
    smallest id under greedy semantics, a cross-batch re-offer of an
    admitted survivor is screened (first-wins), and admitted
    survivors are immediately servable from the same index."""
    from sales_forecast_pyspark_spark.llmdata import (
        screen_against_ivfpq_index,
        stream_ingest_semantic_dedup,
    )

    root = tmp_path_factory.mktemp("sem_dedup")
    path = str(root / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 300), path)

    v7 = emb.filter(F.col("vec_id") == 7).first()["embedding"]
    v400 = emb.filter(F.col("vec_id") == 400).first()["embedding"]
    v450 = emb.filter(F.col("vec_id") == 450).first()["embedding"]
    schema = "vec_id long, embedding array<float>"

    # direct screen: exact copy flagged at 1.0, non-stored vector passes
    probe = spark.createDataFrame([(9_001, v7), (9_002, v400)], schema)
    hits = screen_against_ivfpq_index(
        spark, path, probe, threshold=0.9
    ).collect()
    assert any(
        r["vec_id"] == 9_001 and r["dup_of"] == 7 and r["cos_sim"] >= 0.999
        for r in hits
    )
    assert not any(r["vec_id"] == 9_002 for r in hits)

    # composed loop over two micro-batches
    b1 = spark.createDataFrame(
        [
            (1_001, v7),  # dup of stored 7 -> screened
            (1_002, v450),  # fresh -> survives
            (1_003, v400),  # fresh, smaller id -> survives
            (1_004, v400),  # in-batch dup of 1_003 -> screened
        ],
        schema,
    )
    b2 = spark.createDataFrame([(2_001, v450)], schema)  # dup of survivor
    src = str(root / "src")
    b1.coalesce(1).write.mode("overwrite").parquet(src)
    b2.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = stream_ingest_semantic_dedup(
        stream,
        path,
        survivors_dir=str(root / "out"),
        checkpoint_dir=str(root / "ckpt"),
        threshold=0.9,
    )
    q.awaitTermination(180)
    survivors = {
        r["vec_id"]
        for r in spark.read.parquet(str(root / "out")).collect()
    }
    assert 1_001 not in survivors
    assert 1_004 not in survivors
    assert (1_002 in survivors) != (2_001 in survivors)  # first-wins
    assert 1_003 in survivors
    # admitted == survivors, and they are immediately servable
    meta = spark.read.parquet(f"{path}/meta").first()
    assert meta["n_vectors"] == 300 + len(survivors)
    served = query_ivfpq_index(
        spark,
        path,
        spark.createDataFrame([(8_000, v400)], schema),
        k=1,
    ).first()
    assert served["neighbor_id"] == 1_003 and served["cos_sim"] >= 0.999


@pytest.mark.slow
def test_semantic_loop_zero_norm_exact_tier(spark, emb, tmp_path_factory):
    """ADVICE r13: zero norm means THE all-zeros vector, so the loop's
    marker-file exact-equality tier bounds the class to ONE published
    row ever — first id wins within the recording batch, every later
    batch drops its zero-norm rows outright — while the index never
    admits any of them (no direction to serve), and a full replay
    republishes bit-identically."""
    from sales_forecast_pyspark_spark.llmdata import (
        stream_ingest_semantic_dedup,
    )

    root = tmp_path_factory.mktemp("sem_zero")
    path = str(root / "idx")
    build_ivfpq_index(emb.filter(F.col("vec_id") < 300), path)
    d = len(emb.first()["embedding"])
    z = [0.0] * d
    v400 = emb.filter(F.col("vec_id") == 400).first()["embedding"]
    schema = "vec_id long, embedding array<float>"

    src = str(root / "src")
    spark.createDataFrame(
        [(1_002, z), (1_001, z), (1_003, v400)], schema
    ).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame([(2_001, z)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run(ckpt: str) -> set[int]:
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = stream_ingest_semantic_dedup(
            stream,
            path,
            survivors_dir=str(root / "out"),
            checkpoint_dir=ckpt,
            threshold=0.9,
        )
        q.awaitTermination(180)
        return {
            r["vec_id"]
            for r in spark.read.parquet(str(root / "out")).collect()
        }

    survivors = run(str(root / "ckpt"))
    assert 1_001 in survivors  # first-wins (min id) publishes
    assert 1_002 not in survivors  # in-batch zero dup dropped
    assert 2_001 not in survivors  # later batch: marker drops the class
    assert 1_003 in survivors
    # zero rows are published (once) but never admitted to the index
    assert spark.read.parquet(f"{path}/meta").first()["n_vectors"] == 301
    # full replay (fresh checkpoint, same files/batch ids): the
    # recording batch sees its own id in the marker and republishes
    # identically — bit-stable, still exactly one zero row
    assert run(str(root / "ckpt2")) == survivors


def test_sized_writes_bound_files_per_append_and_build(
    spark, emb, tmp_path_factory
):
    """r15 layout optimization (guide §6 small-files): build and append
    writes are sized like the compactor — codes land as at most
    files_per_cell (=1 at test scale) files per populated cell instead
    of one per (input partition × cell), vectors/sig-class tables as a
    byte-sized handful instead of one per input partition. Measured
    before the fix: ONE 12.5k-row append emitted 512 code files
    (32 partitions × 16 cells); a 64-batch auto-compaction window
    accumulates tens of thousands that every probe scan then lists.
    The pin is on FILE COUNTS, which are deterministic — wall-clock is
    window-dependent, layout is not."""
    import glob
    import os

    from sales_forecast_pyspark_spark.llmdata import append_to_ivfpq_index

    def nfiles(p: str) -> int:
        return len(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))

    path = str(tmp_path_factory.mktemp("ivfpq_layout") / "idx")
    base = emb.filter(F.col("vec_id") < 300)
    meta = build_ivfpq_index(base, path)
    n_cells = meta["n_centroids"]
    # build: ≤ 1 file per populated cell, one sized vectors file
    assert nfiles(os.path.join(path, "codes")) <= n_cells
    assert nfiles(os.path.join(path, "vectors")) == 1

    batch = emb.filter(F.col("vec_id") >= 300).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    # worst-case fragmentation on the way in: many input partitions
    n = append_to_ivfpq_index(batch.repartition(32), path, batch_id=1)
    assert n > 0
    assert nfiles(os.path.join(path, "codes_inc")) <= n_cells
    assert nfiles(os.path.join(path, "vectors_inc")) == 1
