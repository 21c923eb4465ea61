"""TF-IDF text vectorization (SURVEY.md §7 step 9) and its cosine
similarity hook.

``term_tfidf`` holds the weighting as a (doc, term, weight) TABLE —
terms stay strings (no hash collisions), weights unit-normalized per
doc. This long form is what similarity joins want: sparse dot products
become equality joins on the term, never densifying.

``tfidf_pair_stages`` — the cosine hook — uses banded SIGNED RANDOM
PROJECTIONS over the long form, all JVM-side:

  sign-bit b,i of doc d = sign( Σ_t w(d,t) · (bit i of xxhash64(b, t)
  ? +1 : −1) )

Each band's ``bits`` sign bits form a bucket key; candidates are
equality-join bucket-mates in ANY band (OR across bands, AND within a
band — the amplification MLlib's BucketedRandomProjectionLSH lacks:
one scalar quantized projection per table cannot separate cos 0.9 from
cos 0.5 on template-clustered corpora, so its candidate set degenerates
toward all-pairs there — measured 40s vs 6s on the sf0.1 documents
table). Candidates are then verified with the EXACT cosine — an
equality join of the two docs' term rows, order-independent decimal
sum — so precision is exact and only recall is approximate:
P(candidate) = 1 − (1 − p^bits)^bands with p = 1 − θ/π, steep near
sim → 1 (~0.99+ for the 0.98-jaccard planted dups, ~50% at cos 0.9
with the 8×16 default — widen ``bands`` for more recall, ``bits``
for more selectivity).

Determinism: bit sums use exact scaled-long arithmetic (weights
quantized at 1e-7) and the verify cosine exact decimal sums (see
functions/deterministic.py), so signatures and scores are bit-stable
across partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.functions.deterministic import (
    quantized_dot,
    quantized_long,
    quantized_total_round,
)
from sales_forecast_pyspark_spark.llmdata.text import tokens_expr


def term_tfidf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """TF-IDF as a long (doc, term, weight) table, unit-normalized per
    doc by default so ``Σ w_a·w_b`` over shared terms IS the cosine.

    Weighting matches MLlib's IDF: ``tf × ln((N + 1) / (df + 1))``.
    Shape: one explode + two hash aggregations (term df, doc norm) — no
    driver-side vocabulary, no dense vectors. Terms whose idf is 0
    (present in every doc) drop out; docs left with zero norm are
    removed (no direction).

    ``N`` (corpus doc count) stays a LAZY 1-row broadcast crossJoin —
    collecting it on the driver would run an extra docs scan eagerly at
    query-BUILD time (measured ~2s of the tfidf_similar_docs wall at
    sf0.1, before any requested action)."""
    from sales_forecast_pyspark_spark.sources.readers import spread_scan

    tok = spread_scan(df, id_col).select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_expr(text_col)).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.agg(F.countDistinct(id_col).alias("_n_docs"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # shuffle_hash hint: document frequency is vocabulary-scale
    # (Heaps-law unbounded) behind the token explode — static
    # broadcast estimates are fiction (audit r09) — and an aggregate
    # of `tf` (one row per term), so the per-partition hash build
    # avoids sorting the doc-term-scale side; `n_docs` stays
    # broadcast (1-row agg)
    w = tf.join(dfreq.hint("shuffle_hash"), "term").crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "term",
        (F.col("tf") * F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0))).alias("w"),
    ).filter(F.col("w") > 0)
    if not normalize:
        return w
    norm = Window.partitionBy("doc_id")
    return (
        w.withColumn("_n", F.sqrt(F.sum(F.col("w") * F.col("w")).over(norm)))
        .filter(F.col("_n") > 0)
        .select("doc_id", "term", (F.col("w") / F.col("_n")).alias("w"))
    )


def srp_signatures(
    weights: DataFrame,
    bands: int = 8,
    bits: int = 16,
) -> DataFrame:
    """Banded signed-random-projection buckets from a (doc_id, term, w)
    table: for band b, bit i, the projection direction for a term is
    ±1 from bit i of ``xxhash64(b, term)`` — a deterministic random
    hyperplane shared across docs with zero materialized matrix. Bit
    sums are exact scaled-long arithmetic (weights quantized to 1e-7):
    integer addition is associative, so the sign — and therefore every
    bucket — is partition-order-independent, at a fraction of the cost
    of Spark's decimal aggregation (the 128 sums are the hot loop of
    the signature build). Overflow headroom: unit-normalized weights
    quantize to ≤ 1e7, so a doc needs ~9e11 terms to overflow int64.

    Output: (doc_id, band, bucket) — ``bands`` rows per doc, one
    shuffle (the groupBy).

    Shape: the band dimension is EXPLODED into rows before the
    aggregate (bands × |weights| rows keyed by (doc, band)) so the hot
    aggregate is only ``bits`` sums wide. The earlier one-shot
    formulation aggregated all bands × bits sums in a single
    128-expression HashAggregate — over spark.sql.codegen.maxFields, so
    the stage fell out of whole-stage codegen and ran interpreted
    (measured 4–5× slower than this shape on identical data; outputs
    bit-identical, pinned by the pair-hash tests). Total arithmetic is
    unchanged — same bands hashes per input row, same bands × bits
    conditional adds — only the grouping geometry moved."""
    pre = weights.select(
        "doc_id",
        F.round(F.col("w") * 1e7).cast("long").alias("_wdec"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.lit(b), F.col("term")).alias("h"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bh"),
    ).select(
        "doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("_h"), "_wdec"
    )
    sums = pre.groupBy("doc_id", "band").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1,
                    F.col("_wdec"),
                ).otherwise(-F.col("_wdec"))
            ).alias(f"s_{i}")
            for i in range(bits)
        ]
    )
    bucket = sum(
        [
            F.when(F.col(f"s_{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(bits)
        ],
        F.lit(0),
    )
    return sums.select("doc_id", "band", bucket.alias("bucket"))


def tfidf_pair_stages(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cos_threshold: float = 0.9,
    bands: int = 8,
    bits: int = 16,
) -> dict[str, DataFrame]:
    """The four structural stages of the TF-IDF near-pair pipeline as
    separate frames — ``weights`` (normalized quantized term table),
    ``sig`` (banded SRP buckets), ``cand`` (distinct bucket-mate
    pairs), ``scored`` (exact-cosine-verified pairs at the threshold).
    Single source of truth for BOTH the ``tfidf_similar_docs`` query
    (which caches them) and ``scripts/profile_tfidf.py`` (which times
    them stage-by-stage): a profiler with its own copy of these plans
    would silently drift from what the registered query actually runs
    (code-review r08). Caching policy belongs to the caller — these
    frames are pure plans."""
    weights = term_tfidf(df, text_col=text_col, id_col=id_col).withColumn(
        "_wdec", quantized_long(F.col("w"))
    )
    sig = srp_signatures(weights, bands=bands, bits=bits)
    # merge hints throughout (static-broadcast audit r09): every frame
    # here sits downstream of the term explode, so static size
    # estimates track the compressed docs scan, not the exploded /
    # aggregated truth — and a statically planned BroadcastExchange
    # cannot be demoted by AQE. The r08 30x rehearsal saw the planner
    # flip these joins broadcast→SMJ only once the FICTIONAL estimate
    # outgrew the threshold; the hint removes the corpus-size window
    # where the estimate is still small but the true frame is not.
    cand = (
        sig.alias("a")
        .join(sig.alias("b").hint("merge"), ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    doc_maps = weights.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("term", "_wdec"))).alias("m")
    )
    scored = (
        cand.join(
            doc_maps.select(
                F.col("doc_id").alias("doc_a"), F.col("m").alias("_ma")
            ).hint("merge"),
            "doc_a",
        )
        .join(
            doc_maps.select(
                F.col("doc_id").alias("doc_b"), F.col("m").alias("_mb")
            ).hint("merge"),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            quantized_total_round(
                F.expr(
                    "aggregate(map_entries(_ma), 0L, (acc, e) -> "
                    "acc + e.value * coalesce(try_element_at(_mb, e.key), 0L))"
                ),
                out_digits=6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= cos_threshold)
    )
    return {
        "weights": weights,
        "sig": sig,
        "cand": cand,
        "doc_maps": doc_maps,
        "scored": scored,
        # non-frame entry: the banding geometry these plans were built
        # with, consumed by tfidf_banding_audit's expected-recall curve
        # so a call-site retune cannot desync the audit from the
        # pipeline it judges (the code-review r08 principle)
        "geometry": {"bands": bands, "bits": bits},
    }


def tfidf_banding_audit(
    stages: dict,
    id_bound: int = 300,
    truth_bar: float = 0.85,
) -> DataFrame:
    """One-row sampled-truth audit of the SRP banding stage against its
    own closed-form collision curve (VERDICT r11 ask #2).

    Why not the minhash pattern (tight truth bar, pin recall == 1):
    measured on the driver corpora there is NO high-cosine mass — the
    max within-sample TF-IDF cosine is ~0.91 (sf0.1) / ~0.95 (sf0.01),
    so every truth regime sits ON the banding S-curve (P(candidate)
    ~0.3-0.5), not past it, and a fixed recall bar would be either
    vacuous (zero truth pairs) or noise (single-digit truth pairs at
    the 0.9 output threshold). Instead the audit is SELF-CALIBRATING:
    exact candidate-stage recall over the bounded sample's truth pairs
    at ``truth_bar`` (~180-240 pairs on the driver corpora) is compared
    in-row against the expected recall from the SRP collision curve
      P(candidate) = 1 − (1 − (1 − θ/π)^bits)^bands,  θ = acos(cos)
    summed per truth pair, with a 3σ binomial lower bound. A banding
    regression (broken bucket key, lost bands, sign-sum drift) drops
    found an order of magnitude below expected and flips
    ``sample_recall_ok`` red; the frozen deterministic draw (seed-free
    xxhash64 hyperplanes) cannot — the bound is over the curve's own
    variance, not a hand-picked constant.

    Truth pairs are computed with the SAME quantized arithmetic as the
    verify stage, but via a term equi-join (shared terms only — a pair
    sharing none has cos 0, far below any useful bar), so the audit
    needs no cross join and every join is an equality join; cost scales
    with the sample, never the corpus. Columns: sample_truth_pairs,
    sample_found_pairs, sample_expected_pairs, sample_cand_recall,
    sample_recall_ok. Zero truth pairs (vectorizer regression) pins the
    flag RED, matching the sibling audits' zero-truth policy.
    """
    bands = stages["geometry"]["bands"]
    bits = stages["geometry"]["bits"]
    w_s = stages["weights"].filter(F.col("doc_id") < id_bound)
    a = w_s.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("_wdec").alias("_wa")
    )
    b = w_s.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("_wdec").alias("_wb")
    )
    # merge hint: both sides sit behind the token explode (static size
    # estimates are fiction, and a statically planned BroadcastExchange
    # cannot be demoted — the r09 sweep class); same-scale self-join →
    # merge per the settled hint policy
    truth = (
        a.join(b.hint("merge"), "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            quantized_dot(F.col("_wa"), F.col("_wb"), out_digits=6).alias(
                "_tcos"
            )
        )
        .filter(F.col("_tcos") >= truth_bar)
    )
    sig_s = stages["sig"].filter(F.col("doc_id") < id_bound)
    cand_s = (
        sig_s.alias("x")
        .join(sig_s.alias("y").hint("merge"), ["band", "bucket"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # per-pair expected candidate probability from the SRP curve; the
    # quantized cosine can round a hair above 1.0 → clamp for acos
    p_band = F.pow(
        F.lit(1.0) - F.acos(F.least(F.col("_tcos"), F.lit(1.0))) / F.lit(3.141592653589793),
        F.lit(float(bits)),
    )
    p = F.lit(1.0) - F.pow(F.lit(1.0) - p_band, F.lit(float(bands)))
    # ONE left join + ONE aggregate: a two-branch shape (truth.agg ×
    # semi-join.agg + crossJoin) embeds the truth self-join subtree
    # twice per audit instance — and the anchored crossjoin then
    # doubles the instances
    flagged = truth.select("doc_a", "doc_b", p.alias("_p")).join(
        cand_s.withColumn("_hit", F.lit(1)).hint("merge"),
        ["doc_a", "doc_b"],
        "left",
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("sample_truth_pairs"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("sample_found_pairs"),
        F.coalesce(F.sum("_p"), F.lit(0.0)).alias("_exp"),
        F.coalesce(F.sum(F.col("_p") * (1 - F.col("_p"))), F.lit(0.0)).alias(
            "_var"
        ),
    ).select(
        "sample_truth_pairs",
        "sample_found_pairs",
        F.round(F.col("_exp"), 2).alias("sample_expected_pairs"),
        F.when(
            F.col("sample_truth_pairs") > 0,
            F.round(
                F.col("sample_found_pairs") / F.col("sample_truth_pairs"), 6
            ),
        ).alias("sample_cand_recall"),
        F.coalesce(
            (F.col("sample_truth_pairs") > 0)
            & (
                F.col("sample_found_pairs")
                >= F.col("_exp") - 3.0 * F.sqrt(F.col("_var"))
            ),
            F.lit(False),
        ).alias("sample_recall_ok"),
    )


def doc_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    scale: int = 7,
) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document from the exact long-form
    weighting (``term_tfidf``, unnormalized): the keyword-extraction
    hook (tagging, routing, weak labels) and the oracle-checkable proof
    of the TF-IDF arithmetic the similarity tier builds on. Weights are
    rounded at ``scale`` BEFORE ranking so the (weight desc, term asc)
    order — and therefore the returned keyword set — is deterministic
    across engines and partitionings; one row_number window on top of
    the term_tfidf aggregates."""
    w = term_tfidf(df, text_col=text_col, id_col=id_col, normalize=False)
    ranked = w.select(
        "doc_id", "term", F.round(F.col("w"), scale).alias("weight")
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("weight"), F.asc("term")
    )
    return (
        ranked.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .orderBy("doc_id", "rank")
    )
