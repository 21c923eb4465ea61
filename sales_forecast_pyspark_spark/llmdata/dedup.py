"""Deduplication operators: exact fingerprint, exact n-gram Jaccard
(blocked by shared shingles), and MinHash+banding LSH.

Scale design (the whole point of these shapes):
- Fingerprint dedup is ONE hash-aggregate shuffle on a 32-byte key —
  the cheapest exact strategy at any scale.
- Exact Jaccard blocks candidate pairs on shared shingles. Fine for
  verification workloads; a single ubiquitous shingle still fans out
  quadratically, which is why the scale path is MinHash: signatures are
  a fixed-width groupBy, banding turns "similar" into "equal bucket
  key", and only bucket-mates are verified. No all-pairs join exists
  anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata.text import tokens_expr


def fingerprint_expr(text: str | Column) -> Column:
    """Whitespace-normalized lowercase md5 — md5 (not xxhash64) so
    external engines can reproduce the fingerprint for oracle checks."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(t), r"\s+", " ")))


def shingles_expr(text: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array column. Documents with
    fewer than ``n`` tokens yield their whole token join as the single
    shingle (so short docs still participate in dedup)."""
    toks = tokens_expr(text)
    windows = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.array_distinct(
        F.when(F.size(toks) >= n, windows).otherwise(F.array(F.array_join(toks, " ")))
    )


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """Zero-token documents are filtered out BEFORE the explode: they
    cannot be meaningful near-dups, and keeping them would hand every
    empty/whitespace-only doc the same empty-string shingle — jaccard
    1.0 with every other empty doc, colliding in every MinHash band and
    pairing the empty set quadratically."""
    from sales_forecast_pyspark_spark.sources.readers import spread_scan

    # shingling is the CPU-heavy pre-shuffle stage: spread a
    # fewer-splits-than-cores corpus scan first (no-op at real scale)
    return spread_scan(df, id_col).where(F.size(tokens_expr(text_col)) > 0).select(
        F.col(id_col), F.explode(shingles_expr(text_col, n)).alias("shingle")
    )


def _jaccard_on_pairs(
    sh: DataFrame, pairs: DataFrame | None, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard: |A∩B| / (|A| + |B| − |A∩B|).

    With ``pairs=None`` (the exact operator) shared counts come from one
    shingle-key self-join over ALL co-shingled docs. With a candidate
    ``pairs`` table (the LSH operators) the intersection is computed by
    fanning each candidate out over doc_a's shingles and equality-joining
    doc_b's — work bounded by |candidates| × |shingles(doc_a)|, NOT by
    the global co-shingle fan-out (recomputing that would make LSH
    strictly slower than exact)."""
    # EVERY join in here must never be planned from static size
    # estimates: the shingle frames sit behind a posexplode whose
    # fan-out Catalyst's stats don't model, so the estimate tracks the
    # (compressed) scan, and the 100x rehearsal decade caught the
    # static planner broadcasting the FULL corpus-shingle side — which
    # blew past driver memory at 500k docs. AQE cannot demote a
    # statically planned BroadcastExchange (only shuffle stages are
    # re-measured at runtime), so the fix is a merge hint: both sides
    # hash-partitioned on the join key, sort-merge verify, no
    # driver-side relation at any corpus size. The same hint rides
    # the per-doc count joins — n_docs rows is broadcast-able at
    # test scale but not at 10^9 docs, and the estimate that chose
    # broadcast here was equally fictional. The r09 static-broadcast
    # sweep then showed the `pairs=None` tier is NOT sample-only as
    # the r09-merge comment claimed — ngram_jaccard_pairs runs it
    # over the full corpus — so the
    # hint now covers both tiers (the minhash audit's sample-scale
    # exact runs pay a sub-second SMJ premium for it at bench scale).
    _hint = lambda d: d.hint("merge")  # noqa: E731
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    if pairs is None:
        shared = (
            a.join(_hint(b), ["shingle"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    else:
        shared = (
            pairs.join(_hint(a), ["doc_a"])
            .join(_hint(b), ["doc_b", "shingle"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    na = counts.select(F.col(id_col).alias("doc_a"), F.col("n_shingles").alias("n_a"))
    nb = counts.select(F.col(id_col).alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        # the per-doc count sides are one-row-per-doc aggregates —
        # hash-build them per partition (aggregated-side shuffle_hash
        # policy, SCALING.md) instead of sorting the PAIR-scale
        # `shared` frame twice; the shingle joins above keep merge
        # (same-scale sides)
        shared.join(na.hint("shuffle_hash"), "doc_a")
        .join(nb.hint("shuffle_hash"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared",
            "n_a",
            "n_b",
            (
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs: one co-shingle self-join
    grouped straight to shared counts. Measured on the driver corpus
    (flat shingle document frequency, max df 25) the co-shingle join
    is ~1.1M pairs. Fully SQL-expressible → oracle-checked."""
    sh = _exploded_shingles(df, id_col, text_col, n)
    return _jaccard_on_pairs(sh, None, id_col, threshold)


def _minhash_signatures(
    sh: DataFrame, id_col: str, num_hashes: int
) -> DataFrame:
    """(id, h0..h{num_hashes-1}) MinHash signature columns from an
    exploded-shingle frame — one groupBy of partial mins. Hash columns
    are projected BEFORE the groupBy: aggregate expressions are not
    common-subexpression-eliminated against each other, and keeping
    the per-hash expressions tiny keeps the 32-aggregate partial-min
    codegen cheap (same hoist as vectorize.py::srp_signatures).
    Shared by ``minhash_near_dedup`` (one-shot) and
    ``llmdata/dedup_store.py`` (the persisted incremental form), so
    the two produce identical signatures from identical text."""
    hashed = sh.select(
        id_col,
        *[
            F.xxhash64(F.lit(i), F.col("shingle")).alias(f"_x{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(F.col(f"_x{i}")).alias(f"h{i}") for i in range(num_hashes)]
    )


def _band_buckets(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) LSH keys from signature columns: each band's
    rows_per_band hashes collapse to one xxhash64 bucket key; a pair
    colliding in ANY band is a candidate (P = 1-(1-j^r)^b)."""
    rows_per_band = num_hashes // bands
    return sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"h{b * rows_per_band + j}")
                                for j in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def minhash_near_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banding LSH near-dedup: shingle → 32 xxhash64 min-hash
    signature (one groupBy) → 8 bands of 4 rows hashed to bucket keys →
    candidate pairs are bucket-mates in ANY band → exact-Jaccard verify
    on candidates only.

    This is the 100 TB path: signature build is linear, banding turns
    similarity search into equality joins, and verification touches only
    the candidate set. ~32 hashes/8 bands targets recall ~P(collide) =
    1-(1-j^4)^8, steep around j≈0.5.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must divide evenly into bands "
            f"({bands}); leftover hashes would be silently dropped"
        )
    sh = _exploded_shingles(df, id_col, text_col, n)
    sig = _minhash_signatures(sh, id_col, num_hashes)
    band_buckets = _band_buckets(sig, id_col, num_hashes, bands)
    left = band_buckets.select(
        F.col(id_col).alias("doc_a"), "band", "bucket"
    )
    right = band_buckets.select(
        F.col(id_col).alias("doc_b"), "band", "bucket"
    )
    # merge hint (static-broadcast audit r09): the band frame sits
    # behind the signature agg + band explode, so the static planner
    # sizes it from pre-explode fiction and BROADCAST it at the 10x
    # rehearsal decade — the same un-demotable-BroadcastExchange class
    # the 100x run caught in the verify joins. The self-join must be
    # a bucket-key shuffle at any corpus size.
    candidates = (
        left.join(right.hint("merge"), ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _jaccard_on_pairs(sh, candidates, id_col, threshold)


def duplicated_chunk_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 50,
) -> DataFrame:
    """Boilerplate / template detection at CHUNK grain: split each doc
    into non-overlapping ``chunk_tokens``-token chunks, md5 each, and
    report per document how many of its chunks appear verbatim in at
    least one OTHER document. A high ``dup_fraction`` with a surviving
    doc-level dedup pass is the classic template signature (shared
    headers/footers/navigation around unique cores) — the doc-grain
    near-dup tiers rank such docs below threshold, so this is the
    complementary lens.

    Shape: one tokenize+explode (map-only), md5 per chunk, a hash-agg
    on the chunk hash for distinct-doc counts, one equality join back
    on the hash, one doc-keyed agg — all hash-partitioned, no pairwise
    anything; chunk hashes are 16 bytes regardless of chunk text size.
    Exact and cross-engine (md5), so fully oracle-checkable."""
    from sales_forecast_pyspark_spark.llmdata.text import chunk_documents

    ch = chunk_documents(
        df, id_col=id_col, text_col=text_col,
        chunk_tokens=chunk_tokens, overlap=0,
    )
    h = ch.select(F.col(id_col), F.md5(F.col("chunk_text")).alias("_h"))
    docs_per_hash = h.groupBy("_h").agg(
        F.countDistinct(id_col).alias("_ndocs")
    )
    return (
        # shuffle_hash hint: both sides derive from the chunk explode
        # — the chunk-hash count frame is chunk-vocabulary-scale,
        # unbounded with the corpus, and the static estimate under it
        # is fiction (see _jaccard_on_pairs). It is an aggregate of
        # `h` (one row per hash), so the per-partition hash build
        # beats sorting the chunk-scale side
        h.join(docs_per_hash.hint("shuffle_hash"), "_h")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((F.col("_ndocs") >= 2).cast("int")).alias("n_dup_chunks"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_dup_chunks",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 4).alias(
                "dup_fraction"
            ),
        )
        .orderBy(id_col)
    )


