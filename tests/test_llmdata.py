"""LLM-data operator tests: tokenization/quality semantics, fingerprint
normalization, Jaccard correctness, MinHash recall vs the exact pairs,
and pandas-UDF/JVM tokenizer parity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata import (
    fingerprint_expr,
    minhash_near_dedup,
    ngram_jaccard_pairs,
    shingles_expr,
    text_stats,
    tokens_expr,
)
from sales_forecast_pyspark_spark.llmdata.text import token_count_pandas

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "The cat and the dog. The end."),
        (1, "the cat and the dog, the end"),  # same text modulo case/punct
        (2, "spark shuffle partition spark shuffle partition exchange sort"),
        (3, "spark shuffle partition spark shuffle partition exchange merge"),  # near-dup of 2
        (4, "zzz qqq vvv"),  # short, unrelated
        (5, ""),  # empty doc
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_tokens_and_stats(docs):
    out = text_stats(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["n_tokens"] == 7
    assert by_id[0]["stop_hits"] == 4  # the x3 + and
    assert by_id[0]["lang_id"] == "en"
    assert by_id[2]["lang_id"] == "unk"
    assert by_id[5]["n_tokens"] == 0
    assert by_id[5]["quality"] == 0.0  # empty doc -> explicit zero score
    assert 0.0 <= by_id[2]["quality"] <= 1.0


def test_fingerprint_normalizes_whitespace_and_case(docs):
    fps = {r["doc_id"]: r["fp"] for r in docs.select(
        "doc_id", fingerprint_expr("text").alias("fp")).collect()}
    # doc 0 and 1 differ only in case/punctuation -> punctuation differs,
    # so fingerprints differ; but a pure whitespace/case variant matches:
    assert fps[0] != fps[2]
    extra = docs.sparkSession.createDataFrame(
        [(10, "  The CAT  and   the dog.   The end. ")], "doc_id long, text string"
    )
    fp10 = extra.select(fingerprint_expr("text").alias("fp")).first()["fp"]
    assert fp10 == fps[0]


def test_shingles_short_doc_fallback(docs):
    sh = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id", shingles_expr("text", 3).alias("s")).collect()}
    assert sh[4] == ["zzz qqq vvv"]  # < n tokens -> whole-doc shingle
    assert "the cat and" in sh[0]


def test_jaccard_pairs_identity_and_neardup(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.3).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert got[(0, 1)] == 1.0  # identical after normalization
    assert 0.5 < got[(2, 3)] < 1.0  # planted near-dup
    assert all(a != 4 and b != 4 for a, b in got)  # unrelated doc never paired


def test_minhash_matches_exact_pairs_on_testdata(spark):
    """MinHash-LSH (candidates via banding) must recover the exact
    Jaccard pairs on the driver corpus — the planted near-dups sit at
    j≈0.98 where 8-band/4-row collision probability is ~1."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    exact = {(r["doc_a"], r["doc_b"]) for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in
           minhash_near_dedup(docs, threshold=0.5).collect()}
    assert lsh == exact
    assert len(exact) > 0


def test_pandas_tokenizer_parity(docs):
    out = token_count_pandas(docs.fillna("", subset=["text"]))
    out = out.select("doc_id", F.size(tokens_expr("text")).alias("jvm"), "n_tokens_pd")
    for r in out.collect():
        assert r["jvm"] == r["n_tokens_pd"], r


def test_term_tfidf_unit_norm_and_idf_zero_drop(docs):
    """Per-doc weight vectors are unit-normalized, and a term present in
    every non-empty doc would carry idf 0 and drop out."""
    from sales_forecast_pyspark_spark.llmdata import term_tfidf

    w = term_tfidf(docs)
    norms = {
        r["doc_id"]: r["n"]
        for r in w.groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("w")).alias("n"))
        .collect()
    }
    for doc_id, n in norms.items():
        assert n == pytest.approx(1.0, abs=1e-9), doc_id
    assert 5 not in norms  # empty doc has no terms


def test_empty_docs_never_pair_and_bands_must_divide(docs, spark):
    """Zero-token docs are excluded from shingling (two empty docs must
    NOT become a jaccard-1.0 pair), and a num_hashes/bands mismatch
    fails fast instead of silently dropping hashes."""
    from sales_forecast_pyspark_spark.llmdata import (
        minhash_near_dedup,
        ngram_jaccard_pairs,
    )

    with_blank = docs.union(
        spark.createDataFrame([(6, "   \t  ")], "doc_id long, text string")
    )
    exact = ngram_jaccard_pairs(with_blank, threshold=0.1)
    touched = {i for r in exact.collect() for i in (r["doc_a"], r["doc_b"])}
    assert 5 not in touched and 6 not in touched
    lsh = minhash_near_dedup(with_blank, threshold=0.1)
    touched = {i for r in lsh.collect() for i in (r["doc_a"], r["doc_b"])}
    assert 5 not in touched and 6 not in touched
    with pytest.raises(ValueError, match="divide evenly"):
        minhash_near_dedup(docs, num_hashes=32, bands=5)


def test_connected_components_chain_and_isolates(spark):
    """Transitivity: a 4-node chain (diameter 3, no direct 0-3 pair)
    must collapse to one component labelled by its min id; disjoint
    pairs stay separate; nodes absent from the pair list are absent
    from the output."""
    from sales_forecast_pyspark_spark.llmdata import (
        connected_components,
        dedup_clusters,
    )

    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (20, 21), (31, 30)],
        "doc_a long, doc_b long",
    )
    comp = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20, 30: 30, 31: 30}

    clusters = dedup_clusters(pairs).collect()
    by_doc = {r["doc_id"]: r for r in clusters}
    assert by_doc[13]["cluster_id"] == 10 and by_doc[13]["cluster_size"] == 4
    assert by_doc[10]["is_canonical"] and not by_doc[11]["is_canonical"]
    survivors = sorted(r["doc_id"] for r in clusters if r["is_canonical"])
    assert survivors == [10, 20, 30]


def test_connected_components_converges_on_long_chain(spark):
    """A 24-node chain — well past the planted corpus's diameter-1
    clusters — must land on one label in O(log n) rounds (path halving),
    NOT the O(diameter) a plain propagation would need."""
    from sales_forecast_pyspark_spark.llmdata import connected_components

    n = 24
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    out = connected_components(pairs, max_iter=10).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == n + 1


def test_minhash_and_exact_paths_agree_on_clusters(spark):
    """The scale-path pipeline (MinHash candidates → components →
    survivors) must produce the SAME clusters as the exact-Jaccard
    path on the planted corpus — the pair sets already match (recall
    test above), so the cluster/survivor selection must too."""
    from sales_forecast_pyspark_spark.llmdata import (
        dedup_clusters,
        minhash_near_dedup,
        ngram_jaccard_pairs,
    )
    from sales_forecast_pyspark_spark.sources.readers import read_table

    docs = read_table(spark, SF_ORACLE, "documents")
    exact = dedup_clusters(
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    ).collect()
    scale = dedup_clusters(
        minhash_near_dedup(docs, "doc_id", "text", threshold=0.5)
    ).collect()
    as_set = lambda rows: {
        (r["doc_id"], r["cluster_id"], r["cluster_size"], r["is_canonical"])
        for r in rows
    }
    assert as_set(exact) == as_set(scale)
    assert len(exact) > 0


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_edge = st.tuples(st.integers(0, 14), st.integers(0, 14))


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(st.lists(_edge, min_size=1, max_size=20))
@pytest.mark.slow
def test_connected_components_property_matches_union_find(spark, edges):
    """Random small graphs (self-loops and duplicate edges included)
    against a driver-side union-find: identical component labelling."""
    from sales_forecast_pyspark_spark.llmdata import connected_components

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for e in edges for n in e}
    # canonical label = min node in component
    comps: dict[int, list[int]] = {}
    for n in nodes:
        comps.setdefault(find(n), []).append(n)
    expect = {n: min(members) for members in comps.values() for n in members}
    assert got == expect


def test_chunking_overlap_and_tail_semantics(spark):
    """Chunk windows: starts every (chunk-overlap) tokens, adjacent
    chunks share exactly `overlap` tokens, the tail chunk is short but
    never empty, and zero-token docs vanish."""
    from sales_forecast_pyspark_spark.llmdata import chunk_documents

    text = " ".join(f"w{i}" for i in range(11))
    df = spark.createDataFrame(
        [(1, text), (2, "only three tokens"), (3, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, chunk_tokens=5, overlap=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    # 11 tokens, window 5, step 3 -> starts 0,3,6,9
    assert [r["n_chunk_tokens"] for r in c1] == [5, 5, 5, 2]
    assert c1[0]["chunk_text"].split()[3:] == c1[1]["chunk_text"].split()[:2]
    assert c1[3]["chunk_text"] == "w9 w10"
    assert [r["chunk_text"] for r in by_doc[2]] == ["only three tokens"]
    assert 3 not in by_doc
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=5, overlap=5).collect()


def test_pii_scrub_detects_and_redacts(spark):
    """Planted PII of all three kinds is counted and replaced; emails
    are scrubbed before phones so local-part digits aren't half-eaten."""
    from sales_forecast_pyspark_spark.llmdata import pii_counts_exprs, scrub_pii_expr

    df = spark.createDataFrame(
        [
            (1, "reach me at jane.doe+spam@example.co.uk or +44 (0)20 7946 0958."),
            (2, "server 192.168.0.1 answered; backup at 10.0.0.254"),
            (3, "no pii here, just words"),
        ],
        "doc_id long, text string",
    )
    counts = pii_counts_exprs("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            scrub_pii_expr("text").alias("clean"),
            *[c.alias(n) for n, c in counts.items()],
        ).collect()
    }
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] >= 1
    assert "<EMAIL>" in out[1]["clean"] and "<PHONE>" in out[1]["clean"]
    assert "example.co.uk" not in out[1]["clean"]
    assert out[2]["n_ipv4"] == 2 and out[2]["clean"].count("<IP>") == 2
    assert out[3]["clean"] == "no pii here, just words"
    assert out[3]["n_email"] == out[3]["n_phone"] == out[3]["n_ipv4"] == 0


def test_pack_sequences_invariants_and_determinism(spark):
    """Sequence packing: every item packed exactly once, no pack over
    budget, assignment identical across repartitionings (hashed shard +
    total-ordered best-fit-decreasing)."""
    from sales_forecast_pyspark_spark.llmdata.pack import pack_sequences, pack_stats

    rows = [(i, 10 + (i * 37) % 200) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = pack_sequences(df, budget=256, num_shards=4).collect()
    assert sorted(r["doc_id"] for r in packed) == list(range(400))
    stats = pack_stats(
        pack_sequences(df, budget=256, num_shards=4), budget=256
    ).collect()
    assert all(r["tokens"] <= 256 for r in stats)
    # decent fill: BFD on this mix must beat one-doc-per-pack by far
    total = sum(t for _, t in rows)
    assert len(stats) <= total // 256 * 2
    again = pack_sequences(df.repartition(13), budget=256, num_shards=4).collect()
    assert {(r["doc_id"], r["pack_id"]) for r in again} == {
        (r["doc_id"], r["pack_id"]) for r in packed
    }


def test_pack_sequences_oversize_modes(spark):
    """Oversize items: raise by default, isolate on request (one pack
    each, normal items still packed together)."""
    from sales_forecast_pyspark_spark.llmdata.pack import pack_sequences

    df = spark.createDataFrame(
        [(1, 500), (2, 50), (3, 60)], "doc_id long, n_tokens long"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="exceeds pack budget"):
        pack_sequences(df, budget=256, num_shards=1).collect()
    out = {
        r["doc_id"]: r["pack_id"]
        for r in pack_sequences(
            df, budget=256, num_shards=1, on_oversize="isolate"
        ).collect()
    }
    assert out[1] != out[2] and out[2] == out[3]


def test_repetition_stats_flags_looping_text(spark):
    """Integer repetition counts: a looping doc shows total >> distinct
    and a dominant top n-gram; a diverse doc shows distinct == total;
    short/empty docs come out all-zero instead of being dropped."""
    from sales_forecast_pyspark_spark.llmdata.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam ham " * 10),          # 2-grams: 19 total, 2 distinct
            (2, "one two three four five"), # all distinct
            (3, "solo"),                    # 1 token -> no 2-grams
            (4, ""),                        # empty
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert (out[1]["n2_total"], out[1]["n2_distinct"], out[1]["n2_top"]) == (19, 2, 10)
    assert out[2]["n2_distinct"] == out[2]["n2_total"] == 4
    assert out[2]["n2_top"] == 1
    assert (out[3]["n2_total"], out[3]["n2_top"]) == (0, 0)
    assert (out[4]["n3_total"], out[4]["n3_top"]) == (0, 0)
    # repeated-fraction ordering: looping doc >> diverse doc
    rep1 = 1 - out[1]["n2_distinct"] / out[1]["n2_total"]
    rep2 = 1 - out[2]["n2_distinct"] / out[2]["n2_total"]
    assert rep1 > 0.8 > rep2


def test_ngram_contamination_and_decontaminate(spark):
    """Contamination: a corpus doc sharing an 8-gram with the benchmark
    is flagged with exact distinct-gram counts; clean and too-short docs
    are absent. Repeats of one n-gram inside a document must not
    inflate n_hits (distinct semantics)."""
    from sales_forecast_pyspark_spark.llmdata.contamination import (
        ngram_contamination,
    )

    bench_text = "alpha beta gamma delta epsilon zeta eta theta closing words"
    corpus = spark.createDataFrame(
        [
            # contains bench 8-gram twice (repeat must count once)
            (1, ("alpha beta gamma delta epsilon zeta eta theta " * 2) + "tail"),
            (2, "totally unrelated words about spark shuffles and parquet row groups and more"),
            (3, "short doc"),  # < 8 tokens: no grams at all
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")

    out = {r["doc_id"]: r for r in ngram_contamination(corpus, bench).collect()}
    assert list(out) == [1]
    # the repeated benchmark 8-gram counts once (distinct semantics)
    assert out[1]["n_hits"] == 1
    assert out[1]["n_grams"] >= out[1]["n_hits"]

    # benchmark side must not leak into the output even if benchmark ids
    # overlap corpus ids (pure text comparison, id-agnostic)
    plan = ngram_contamination(corpus, bench)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_cluster_aware_split_keeps_clusters_whole(spark):
    """cluster_aware_split: no dedup cluster spans train and val, the
    val fraction lands near the requested percentage over many units,
    and the assignment is deterministic across calls."""
    from sales_forecast_pyspark_spark.llmdata.cluster import cluster_aware_split

    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    # every 10th doc pairs with its neighbor -> 200 two-doc clusters
    clusters = spark.createDataFrame(
        [(i, i) for i in range(0, 2000, 10)]
        + [(i + 1, i) for i in range(0, 2000, 10)],
        "doc_id long, cluster_id long",
    )
    out = cluster_aware_split(docs, clusters, val_pct=10)
    out.cache()
    # cluster integrity: each split_unit maps to exactly one split
    assert (
        out.groupBy("split_unit")
        .agg(F.countDistinct("split").alias("n"))
        .filter("n > 1")
        .count()
        == 0
    )
    # paired docs share their cluster's split
    paired = out.filter(F.col("doc_id") % 10 <= 1)
    assert (
        paired.groupBy("split_unit").agg(F.countDistinct("split").alias("n"))
        .filter("n > 1").count() == 0
    )
    frac = out.filter("split = 'val'").count() / 2000
    assert 0.05 < frac < 0.16, frac
    rerun = cluster_aware_split(docs, clusters, val_pct=10)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, rerun.collect()))
    out.unpersist()


def test_near_dedup_minhash_driver_row_carries_truth_audit(spark):
    """VERDICT r07 #4 pattern: the registered minhash row must carry
    the bounded-sample exact-truth audit, and on this corpus (planted
    dups at jaccard~0.98, deep in the banding S-curve, seed-free
    hashes) the sampled recall is deterministically 1.0."""
    from sales_forecast_pyspark_spark.plans.queries import QUERIES
    from tests.conftest import SF_ORACLE

    rows = QUERIES["near_dedup_minhash"].builder(spark, SF_ORACLE).collect()
    assert rows
    r = rows[0]
    assert r["sample_truth_pairs"] > 0
    assert r["sample_missed_pairs"] == 0, r
    assert r["sample_recall"] == 1.0


def test_tfidf_banding_audit_self_calibrates_on_driver_corpus(spark):
    """VERDICT r11 ask #2: the registered tfidf_similar_docs row must
    carry the self-calibrating banding audit — exact candidate recall
    over the bounded sample's cos>=0.85 truth pairs vs the closed-form
    SRP collision curve with a 3σ binomial lower bound. On this corpus
    (no high-cosine mass; everything sits ON the S-curve) the found
    count tracks the curve within the bound."""
    from sales_forecast_pyspark_spark.plans.queries import QUERIES

    rows = QUERIES["tfidf_similar_docs"].builder(spark, SF_ORACLE).collect()
    assert rows
    r = rows[0]
    assert r["sample_truth_pairs"] >= 50  # measured 180 at sf0.01
    assert 0 < r["sample_found_pairs"] <= r["sample_truth_pairs"]
    assert 0 < r["sample_expected_pairs"] <= r["sample_truth_pairs"]
    assert r["sample_recall_ok"] is True


def test_tfidf_banding_audit_truth_matches_verify_arithmetic(spark):
    """The audit's term-equi-join truth cosine must be bit-identical to
    the verify stage's map-fold cosine: every scored output pair within
    the sample appears in the audit's truth set at the same rounded
    score (same Σ (a×10^7)(b×10^7) integer, different join geometry)."""
    from sales_forecast_pyspark_spark.functions.deterministic import (
        quantized_dot,
    )
    from sales_forecast_pyspark_spark.llmdata.vectorize import (
        tfidf_pair_stages,
    )

    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    stages = tfidf_pair_stages(docs, cos_threshold=0.85)
    w_s = stages["weights"].filter(F.col("doc_id") < 300)
    a = w_s.select(F.col("doc_id").alias("doc_a"), "term", F.col("_wdec").alias("_wa"))
    b = w_s.select(F.col("doc_id").alias("doc_b"), "term", F.col("_wdec").alias("_wb"))
    truth = {
        (r["doc_a"], r["doc_b"]): r["_tcos"]
        for r in a.join(b.hint("merge"), "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(quantized_dot(F.col("_wa"), F.col("_wb"), out_digits=6).alias("_tcos"))
        .filter(F.col("_tcos") >= 0.85)
        .collect()
    }
    scored_sample = {
        (r["doc_a"], r["doc_b"]): r["cos_sim"]
        for r in stages["scored"]
        .filter((F.col("doc_a") < 300) & (F.col("doc_b") < 300))
        .collect()
    }
    assert scored_sample, "sample must contain scored pairs at 0.85"
    for pair, cos in scored_sample.items():
        assert truth.get(pair) == cos, (pair, cos, truth.get(pair))


def test_tfidf_banding_audit_planted_dups_and_red_regimes(spark):
    """Positive + negative controls for the audit itself: identical
    docs (cos 1.0, P(candidate)=1) are always found; a corrupted
    signature table (no cross-doc bucket collisions) drives found to 0
    and flips sample_recall_ok RED; zero truth pairs (vectorizer
    dropout regime) also pins RED."""
    from sales_forecast_pyspark_spark.llmdata.vectorize import (
        tfidf_banding_audit,
        tfidf_pair_stages,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),  # exact dup of 0
        (2, "omega psi chi phi upsilon tau"),
        (3, "omega psi chi phi upsilon tau"),  # exact dup of 2
        (4, "unrelated words entirely here now"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    stages = tfidf_pair_stages(docs, cos_threshold=0.9)
    r = tfidf_banding_audit(stages, id_bound=10, truth_bar=0.9).first()
    assert r["sample_truth_pairs"] == 2  # (0,1) and (2,3)
    assert r["sample_found_pairs"] == 2  # identical docs share every band
    assert r["sample_recall_ok"] is True

    # corrupted banding: unique bucket per (doc, band) -> no candidates
    broken = dict(stages)
    broken["sig"] = stages["sig"].withColumn(
        "bucket", F.col("doc_id") * 1000 + F.col("band")
    )
    r = tfidf_banding_audit(broken, id_bound=10, truth_bar=0.9).first()
    assert r["sample_found_pairs"] == 0
    assert r["sample_recall_ok"] is False

    # zero-truth regime: unreachable bar -> RED, not vacuous green
    r = tfidf_banding_audit(stages, id_bound=10, truth_bar=1.01).first()
    assert r["sample_truth_pairs"] == 0
    assert r["sample_cand_recall"] is None
    assert r["sample_recall_ok"] is False


