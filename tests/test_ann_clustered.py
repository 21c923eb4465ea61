"""Clustered-corpus geometry pins for the bounded-output ANN pair
miner (VERDICT r09 ask #5 / r10 ask #4).

Until r11, `lsh_pairs_topk`'s (0.5, 1.2) defaults were evidenced only
on the structureless audit corpus. These tests plant REAL cluster
structure — unit-sphere cluster centers plus seeded gaussian noise,
re-normalized — at two tightnesses and pin what the r11 measurement
ladder (SCALING.md "LLM-data tier") established:

- LOOSE regime (within-cluster cos ~0.6, the general top-k case): the
  defaults hold pooled recall >= 0.96 with the candidate intermediate
  bounded by num_hash_tables x all-pairs, and the output is exactly
  k rows per item. No geometry beats that bound for free here — on the
  unit sphere projections have std 1/sqrt(d), so single-projection
  buckets at d>=32 hold nearly the whole corpus, and narrowing them
  trades candidates for recall ~linearly (subsampling-grade contrast).
- TIGHT regime (within-cluster cos ~0.95, near-dup mining): the r11
  `rows_per_band` AND-banding knob gets real contrast — (bands=16,
  rows=6, bl=0.2) measured 0.19x all-pairs candidates at pooled recall
  1.0 (Spark hyperplanes; the numpy prototype reached 0.06x) — pinned
  at <= 0.25x / >= 0.96.

Everything is seeded (fixture rng, LSH hyperplanes), so the pinned
numbers are deterministic, with margin for library-version drift.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata.similarity import (
    _lsh_candidate_pairs,
    cosine_topk,
    lsh_pairs_topk,
)

N_CLUSTERS, PER_CLUSTER, DIM = 20, 100, 32
N = N_CLUSTERS * PER_CLUSTER
ALL_PAIRS = N * (N - 1) // 2
K = 5


def _points(sigma: float) -> np.ndarray:
    """The fixture's numpy source of truth — exact-truth computations
    in tests below MUST use this same array, not a re-derivation."""
    rng = np.random.default_rng(7)
    centers = rng.normal(size=(N_CLUSTERS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    pts = np.repeat(centers, PER_CLUSTER, axis=0) + sigma * rng.normal(
        size=(N, DIM)
    )
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    return pts


def _clustered_embeddings(spark, sigma: float):
    pts = _points(sigma)
    rows = [(int(i), [float(x) for x in pts[i]]) for i in range(N)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(16)


@pytest.fixture(scope="module")
def loose(spark):
    """Within-cluster cos ~0.6: realistic topical clusters."""
    df = _clustered_embeddings(spark, sigma=0.15).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def tight(spark):
    """Within-cluster cos ~0.95: the near-dup mining regime."""
    df = _clustered_embeddings(spark, sigma=0.04).cache()
    df.count()
    yield df
    df.unpersist()


def _pooled_recall(got, df, n_sample: int = 50) -> float:
    sample = df.filter(F.col("vec_id") < n_sample)
    exact = cosine_topk(df, sample, k=K)
    g = {
        (r["item_id"], r["neighbor_id"])
        for r in got.filter(F.col("item_id") < n_sample).collect()
    }
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    return len(g & e) / len(e)


def _candidate_count(df, **kw) -> int:
    vecs0 = df.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("arr"),
    )
    nrm = F.sqrt(
        F.aggregate(
            F.transform("arr", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    unit = vecs0.select("id", F.transform("arr", lambda x: x / nrm).alias("arr"))
    from pyspark.ml.functions import array_to_vector

    vecs = unit.select("id", "arr", array_to_vector(F.col("arr")).alias("vec"))
    return _lsh_candidate_pairs(
        vecs,
        kw.get("bucket_length", 0.5),
        kw.get("num_hash_tables", 3),
        42,
        rows_per_band=kw.get("rows_per_band", 1),
    ).count()


@pytest.mark.slow
def test_defaults_hold_on_clustered_corpus(loose):
    """The (0.5, 1.2) defaults pinned on real cluster structure:
    recall >= 0.96 (measured 0.98), output exactly k rows per item."""
    got = lsh_pairs_topk(loose, k=K).cache()
    try:
        assert got.count() == K * N  # bounded-output contract, no dropouts
        assert _pooled_recall(got, loose) >= 0.96
    finally:
        got.unpersist()


def test_default_candidate_mass_is_structurally_bounded(loose):
    """The honest intermediate bound at default geometry: each of the
    num_hash_tables single-projection tables can at worst mirror
    all-pairs (measured 1.50x at d=32 — ~2 populated buckets/table on
    the unit sphere). Anything past tables x all-pairs would mean the
    salted join is duplicating pairs WITHIN a table."""
    ncand = _candidate_count(loose)
    assert ncand <= 3 * ALL_PAIRS
    # and drift guard around the measured value (1.50x)
    assert ncand / ALL_PAIRS <= 1.6


@pytest.mark.slow
def test_ivfpq_exploits_cluster_structure(loose):
    """The other half of the r11 IVF-PQ contract (SCALING.md): the 0.59
    structureless-corpus recall is the HARD case — on a corpus with
    real cluster structure the coarse cells align with the clusters, so
    probing 6/16 cells captures the true neighbors. Measured r11:
    mean_recall 1.0 on BOTH clustered tightnesses at operator defaults
    (pinned >= 0.9 on the loose fixture, the same corpus where LSH
    pair-mining pruning provably cannot work — the division of labor in
    one pair of pins)."""
    from sales_forecast_pyspark_spark.llmdata.similarity import (
        ivfpq_topk,
        topk_recall_audit,
    )

    queries = loose.filter(F.col("vec_id") % 100 < 1)  # one per cluster
    row = (
        topk_recall_audit(
            ivfpq_topk(loose, queries, k=K), cosine_topk(loose, queries, k=K)
        )
        .select("mean_recall", "recall_ok")
        .first()
    )
    assert row["recall_ok"] is True
    assert row["mean_recall"] >= 0.9, row["mean_recall"]


def test_banded_threshold_join_recall_vs_exact_truth(tight):
    """lsh_similarity_join with rows_per_band (r11) at a TIGHT radius
    (dist 0.35 on unit vectors ⇔ cos >= ~0.94 — the near-dup threshold
    regime the operator exists for): both indexes are approximations
    (even bucket_length=2.0 splits pairs straddling the single bucket
    boundary — measured: base and banded each find pairs the other
    misses), so the pin is against the EXACT all-pairs truth, computed
    in numpy from the same seeded fixture. Measured r11: base
    (3x1 @ 2.0) recall ~0.98, banded (16x6 @ 0.2) ~0.98 with the
    candidate intermediate orders of magnitude smaller (0.19x vs 1.5x
    all-pairs here; 0.032x vs 1.51x at the 20k decade) — banding costs
    no material recall where it prunes hardest."""
    from sales_forecast_pyspark_spark.llmdata.similarity import (
        lsh_similarity_join,
    )

    pts = _points(0.04)  # must match the `tight` fixture's sigma
    sims = pts @ pts.T
    cos_floor = 1.0 - 0.35 * 0.35 / 2.0  # dist < t ⇔ cos > 1 - t²/2
    ii, jj = np.where(np.triu(sims > cos_floor, k=1))
    truth = set(zip(ii.tolist(), jj.tolist()))
    assert truth, "fixture produced no tight pairs — radius miscalibrated"

    def pair_set(**kw):
        return {
            (r["id_a"], r["id_b"])
            for r in lsh_similarity_join(
                tight, distance_threshold=0.35, **kw
            ).collect()
        }

    base = pair_set()
    banded = pair_set(num_hash_tables=16, rows_per_band=6, bucket_length=0.2)
    base_recall = len(base & truth) / len(truth)
    banded_recall = len(banded & truth) / len(truth)
    assert base_recall >= 0.97, base_recall
    assert banded_recall >= 0.97, banded_recall
    # banding must not trade away recall where it prunes hardest
    assert banded_recall >= base_recall - 0.02
    # and no false positives from either (the radius filter is exact)
    assert base <= truth and banded <= truth


def test_banding_prunes_near_dup_regime_with_full_recall(tight):
    """The r11 rows_per_band contract: in the tight regime AND-banded
    keys prune the intermediate ~8x below the rows=1 all-pairs mirror
    while keeping pooled recall >= 0.96 (measured: 0.19x all-pairs at
    recall 1.0)."""
    geom = dict(num_hash_tables=16, rows_per_band=6, bucket_length=0.2)
    ncand = _candidate_count(tight, **geom)
    assert ncand / ALL_PAIRS <= 0.25, ncand / ALL_PAIRS
    got = lsh_pairs_topk(tight, k=K, **geom).cache()
    try:
        assert _pooled_recall(got, tight) >= 0.96
    finally:
        got.unpersist()


