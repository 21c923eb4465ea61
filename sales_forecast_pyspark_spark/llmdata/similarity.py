"""Similarity search over embedding columns (``array<float>``).

Two paths, per the brief:
- ``cosine_topk``: brute-force exact top-k — the BASELINE. The query set
  is broadcast (it is small by construction); every (query, candidate)
  pair is scored with JVM higher-order functions (zip_with + aggregate,
  inside codegen) and ranked per query. Cost is |Q| × N — linear in the
  corpus for a bounded query set, embarrassingly parallel, no shuffle
  except the final per-query top-k.
- ``lsh_similarity_join``: the SCALE path — MLlib
  BucketedRandomProjectionLSH hash functions over the full corpus:
  hyperplane bucketing turns the N×N similarity join into equality
  joins on bucket keys. The candidate join itself is OWNED (salted,
  merge-hinted — ``_lsh_candidate_pairs``) and pairs are scored at an
  Arrow-batched numpy boundary (``_arrow_scored_pairs``), returning
  pairs within a distance threshold. Seeded, so results are
  reproducible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.functions.vectors import cosine_similarity
from sales_forecast_pyspark_spark.session import shuffle_partitions

# Largest frame ``_ivfpq_search`` (its queries) and
# ``exact_self_similarity_join`` (its batch) materialize driver-side and
# broadcast: the ingest contract's batch ceiling (~50 MB at d=128).
SEARCH_MAX_ROWS = 50_000

# Training rows per centre for the IVF-PQ quantizers (FAISS's
# max_points_per_centroid): ``_ivfpq_fit`` trains on at most this many
# rows times max(n_centroids, codebook_k).
TRAIN_PER_CENTRE = 256

# Prefix of the error an ``_ivfpq_encode`` task raises on a vector of
# the wrong dimension (``_encoded_count`` re-raises it on the driver).
_DIM_ERR = "IVFPQ_DIM_MISMATCH"


def cosine_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (a query is
    never its own neighbor).

    Scores are rounded to 6 decimals BEFORE ranking so the ordering is
    reproducible across engines and partitionings (ties broken by
    neighbor id). Arrays are cast to double first: float arithmetic
    would diverge from any double-based oracle.
    """
    cand = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    pairs = cand.join(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity("v", "qv"), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def topk_recall_audit(
    approx: DataFrame,
    exact: DataFrame,
    min_recall: float = 0.5,
) -> DataFrame:
    """Append per-query recall-vs-exact audit columns to an approximate
    top-k result, making an ANN driver row SELF-VALIDATING: a row that
    runs is a row that proves recall, not just "ran, N rows" (VERDICT
    r07 #4 — the pattern rolling_wau_hll and value_quantiles_kll
    already use for their sketch-vs-exact audits).

    Both inputs are (query_id, neighbor_id, ...) top-k frames — exact
    comes from ``cosine_topk``, the declared brute-force baseline over
    a BOUNDED query set, so the audit adds the same bounded
    broadcast-join shape the ann_topk query already pays, nothing
    quadratic in the corpus. Two grains: per-query ``recall_at_k``
    (|approx ∩ exact| / |exact| for that query — individual queries
    legitimately vary on a structureless random corpus), and POOLED
    ``mean_recall`` = total hits / total exact pairs across the whole
    query set, with ``recall_ok`` applying ``min_recall`` to the
    pooled value — the exact semantics tests/test_similarity.py pins
    at >= 0.5. Drift in the index (a broken codebook seed, a
    probe-count regression) flips a visible column in the driver
    record instead of hiding behind a stable row count.

    Output rows anchor on the AUDITED QUERY SET, not on the approx
    rows (code-review r08, second pass): if the index returns zero
    rows for a query — or for EVERY query — that query still emits
    one row with null neighbor columns and its red recall audit, so
    total index dropout surfaces as visible recall_ok=false rows
    instead of an empty, unjudgeable result.
    """
    hits = approx.join(
        exact.select("query_id", "neighbor_id", F.lit(1).alias("_in_exact")),
        ["query_id", "neighbor_id"],
        "left",
    )
    per_q = hits.groupBy("query_id").agg(
        F.sum(F.coalesce(F.col("_in_exact"), F.lit(0))).alias("_n_hit")
    )
    n_exact = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("_n_exact")
    )
    # Anchor on the EXACT side (code-review r08): an inner join from
    # per_q would silently drop any query the index returned zero rows
    # for — excluding its exact pairs from the pooled denominator and
    # letting recall_ok stay green in exactly the broken-index regime
    # the audit exists to catch. A query with no approx rows counts as
    # zero hits over its full exact pair count.
    by_q = n_exact.join(per_q, "query_id", "left").withColumn(
        "_n_hit", F.coalesce(F.col("_n_hit"), F.lit(0))
    )
    audit = by_q.select(
        "query_id",
        F.round(F.col("_n_hit") / F.col("_n_exact"), 6).alias("recall_at_k"),
    )
    pooled = by_q.agg(
        F.round(F.sum("_n_hit") / F.sum("_n_exact"), 6).alias("mean_recall")
    )
    data_cols = [c for c in approx.columns if c != "query_id"]
    # audit (one row per audited query) is the PRESERVED side; approx
    # (bounded: |queries| x k rows) is the broadcast right side — the
    # left side of an outer join cannot be broadcast
    return (
        audit.join(F.broadcast(approx), "query_id", "left")
        .crossJoin(F.broadcast(pooled))
        .withColumn("recall_ok", F.col("mean_recall") >= F.lit(min_recall))
        .select(
            "query_id", *data_cols, "recall_at_k", "mean_recall", "recall_ok"
        )
        .orderBy("query_id", "rank")
    )


def _lsh_candidate_pairs(
    vecs: DataFrame,
    bucket_length: float,
    num_hash_tables: int,
    seed: int,
    rows_per_band: int = 1,
    n_salt: int = 16,
) -> DataFrame:
    """Bucket-equality candidate pairs from a BRP-LSH bucketing, with
    full join-strategy control. Replaces MLlib ``approxSimilarityJoin``
    for the self-join case (code-review r09): MLlib's internal
    candidate join sits downstream of a ``posexplode(hashes)`` whose
    fan-out Catalyst's STATIC size estimates do not model, so the
    planner broadcast the full exploded corpus-hash frame at the 10x
    rehearsal decade — and AQE cannot demote a statically planned
    BroadcastExchange (only shuffle stages are re-measured), the same
    failure class the dedup tier hit at 100x. Because MLlib owns that
    join, no hint can reach it; building the identical join here —
    bucket ids from the model's own hash functions, equality on
    (table, bucket), distinct pairs — lets the merge hint pin a
    sort-merge plan that survives any corpus size.

    ``vecs`` must carry (id, vec, arr). Returns one row per bucket
    COLLISION — (_ida, _va, _idb, _vb) with ``arr`` carried through
    BOTH sides so scoring needs no second join; a pair colliding in k
    of the hash tables appears k times, so callers dedupe AFTER their
    radius filter (post-filter distinct is cheaper than pre-scoring
    distinct + two array re-joins — measured 4x on the topk row at
    sf0.1). Each pair is emitted once, _ida < _idb. Equivalence with
    approxSimilarityJoin's candidate set: BRP's per-table hash is
    ``floor(proj / bucketLength)`` stored as a 1-element vector, so
    (pos, value[0]) equality IS MLlib's hash-entry equality. Carrying
    the vectors multiplies bucket-shuffle bytes by the vector width —
    still shuffle-safe at any corpus size, just heavier blocks; a
    vector-heavy corpus can trade back to the lean pair join + re-join
    shape, which is scale-equivalent (both broadcast-free).

    ``rows_per_band`` (r11, VERDICT r10 ask #4) adds AND-composition:
    ``num_hash_tables`` becomes the number of BANDS (OR, as before) and
    each band's key is the tuple of ``rows_per_band`` consecutive
    projections' buckets — a pair is a candidate iff it matches a
    whole band, collision probability p^r instead of p, the same
    banding shape as MinHash-LSH and the SRP cosine tier. Default 1 is
    the exact pre-r11 behavior (single-projection tables). AND-banding
    is what gives the index real contrast in TIGHT-cluster regimes:
    measured on the r11 near-dup fixture (20 planted clusters,
    within-cluster cos ~0.95), (bands=16, rows=6, bl=0.2) cut the
    candidate intermediate to 0.19x all-pairs at recall 1.0 (the numpy
    prototype's hyperplane draw reached 0.06x; Spark's differs), and
    the FRACTION keeps falling with corpus size — 0.032x at 20k,
    0.0149x at 200k (SCALING.md ladder, incl. the density caveat and
    its measured rows_per_band remedy) — where every rows=1 geometry
    traded candidates for recall ~linearly (no better than
    subsampling). In LOOSE regimes (top-k
    neighbors at cos <= ~0.6) no geometry prunes for free — the r11
    ladder in SCALING.md — so rows=1 stays the default for the
    general-purpose top-k contract.

    ``n_salt`` (ADVICE r10): the salt fan-out REPLICATES the right
    side — including its carried vectors — n_salt times through the
    shuffle, so its byte cost is n_salt x vector-width x corpus. 16
    spreads the measured hot-bucket mass at the rehearsal decades;
    lower it (or move to the lean pair-join + re-join shape) when
    vectors are wide enough that replication, not skew, is the
    binding cost.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import vector_to_array

    if rows_per_band < 1:
        raise ValueError(f"rows_per_band must be >= 1, got {rows_per_band}")
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_hash_tables * rows_per_band,
        seed=seed,
    )
    model = lsh.fit(vecs)
    if rows_per_band == 1:
        ht = (
            model.transform(vecs)
            .select("id", "arr", F.posexplode("hashes").alias("entry", "_hv"))
            .select(
                "id",
                "arr",
                "entry",
                vector_to_array("_hv").getItem(0).cast("long").alias("bucket"),
            )
        )
    else:
        # band key = array of the band's rows_per_band bucket ids; the
        # hashes array length is static (bands x rows), so the bands
        # are built as row-local expressions — no extra shuffle, and
        # the explode is the same 1 -> num_hash_tables fan-out as the
        # posexplode above (rows collapse INTO keys, not extra rows).
        bands = [
            F.struct(
                F.lit(b).alias("entry"),
                F.array(
                    *[
                        vector_to_array(F.col("hashes")[b * rows_per_band + j])
                        .getItem(0)
                        .cast("long")
                        for j in range(rows_per_band)
                    ]
                ).alias("bucket"),
            )
            for b in range(num_hash_tables)
        ]
        ht = (
            model.transform(vecs)
            .select("id", "arr", F.explode(F.array(*bands)).alias("_b"))
            .select("id", "arr", "_b.entry", "_b.bucket")
        )
    # SALTED bucket join: LSH buckets are intrinsically skewed (a few
    # central buckets hold most of a normally-projected corpus, and the
    # join KEY space is only num_hash_tables x buckets), so a plain
    # co-partitioned join serializes the hot bucket's entire collision
    # mass onto one reducer — measured 69s for a 6M-collision corpus
    # whose scoring is ~5s when spread (AQE's skew split can't help:
    # it reads input block sizes, and the explosion happens inside the
    # join). Deterministic salt (xxhash64 of the id, not rand()): the
    # left side takes its id-hash bucket, the right side fans out over
    # all of them — a hot bucket's many DISTINCT ids spread uniformly,
    # every (id_a, id_b) pair still meets in exactly one salt bucket,
    # and the result set is salt-invariant.
    left = ht.select(
        F.col("id").alias("_ida"),
        F.col("arr").alias("_va"),
        "entry",
        "bucket",
    ).withColumn("_s", F.pmod(F.xxhash64("_ida", F.lit(seed)), F.lit(n_salt)))
    right = ht.select(
        F.col("id").alias("_idb"),
        F.col("arr").alias("_vb"),
        "entry",
        "bucket",
    ).withColumn(
        "_s", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    return (
        left.join(right.hint("merge"), ["entry", "bucket", "_s"])
        .filter(F.col("_ida") < F.col("_idb"))
        .select("_ida", "_va", "_idb", "_vb")
    )


def _arrow_scored_pairs(pairs: DataFrame, metric: str) -> DataFrame:
    """Score candidate pairs with Arrow-batched numpy — the ANN pair
    tier's DECLARED Python boundary (the same class as pack.py /
    multimodal.py). Rationale (measured, code-review r09): a Catalyst
    higher-order ``aggregate(zip_with(...))`` dot product costs ~35µs
    of core time PER PAIR (per-element lambda evaluation), which at
    the multi-million-pair collision mass of a weak-contrast corpus
    turns a 5s query into a 50s one; ``np.einsum`` over Arrow batches
    is ~100x cheaper per pair and the transfer is one-way (survivor
    rows only come back rounded). MLlib's approxSimilarityJoin got the
    same effect from compiled ``Vectors.sqdist`` — this restores that
    constant after the owned (broadcast-safe, salted) candidate join
    replaced it.

    ``pairs`` must carry (_ida, _va, _idb, _vb); returns
    (_ida, _idb, _score) with _score = cosine (``metric='cos'``) or
    Euclidean distance (``metric='dist'``), UNROUNDED. Zero-norm
    vectors score NULL cosine (callers drop them upstream)."""
    import numpy as np
    import pandas as pd

    # id columns keep their INPUT types (code-review r09): hardcoding
    # `long` silently narrowed the public id_col contract — string doc
    # ids fit the LSH model fine and then died in the Arrow cast
    dtypes = dict(pairs.dtypes)
    out_schema = (
        f"_ida {dtypes['_ida']}, _idb {dtypes['_idb']}, _score double"
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            va = np.stack(pdf["_va"].to_numpy())
            vb = np.stack(pdf["_vb"].to_numpy())
            if metric == "cos":
                dots = np.einsum("ij,ij->i", va, vb)
                na = np.sqrt(np.einsum("ij,ij->i", va, va))
                nb = np.sqrt(np.einsum("ij,ij->i", vb, vb))
                denom = na * nb
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = np.where(denom == 0.0, np.nan, dots / denom)
                s = pd.Series(s).where(denom != 0.0, None)
            else:
                d = va - vb
                s = pd.Series(np.sqrt(np.einsum("ij,ij->i", d, d)))
            yield pd.DataFrame(
                {"_ida": pdf["_ida"], "_idb": pdf["_idb"], "_score": s}
            )

    return pairs.mapInPandas(score, out_schema)


def lsh_similarity_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 3,
    distance_threshold: float = 1.2,
    seed: int = 42,
    rows_per_band: int = 1,
    n_salt: int = 16,
) -> DataFrame:
    """Approximate all-pairs similarity via BRP-LSH bucketing (MLlib
    hash functions, OWNED candidate join — see ``_lsh_candidate_pairs``
    for why approxSimilarityJoin's internal join had to be replaced;
    Arrow-batched scoring via ``_arrow_scored_pairs``). Returns
    (id_a, id_b, dist) for pairs within the threshold, id_a < id_b.
    At 100 TB this is the shape that works: bucketing is a narrow map,
    the join is equality on (salted) bucket keys — never a statically
    broadcast exploded frame — and only bucket-mates are scored.

    Output-cardinality caveat (measured, SCALING.md "Second decade"):
    on a corpus that DENSIFIES in a fixed vector space, the number of
    true pairs within a fixed ``distance_threshold`` grows
    quadratically with corpus size (2k vectors → 22k pairs; 20k →
    2.25M), and any correct pair mine must emit them all — wall-clock
    is output-bound, per-pair cost flat. Keep the threshold tight at
    scale (near-dup regimes: cos >= 0.9) or bound output per item
    (top-k, see ``cosine_topk``/``ivfpq_topk``) when the corpus grows
    faster than its diversity.

    ``rows_per_band`` (r11): AND-banded bucket keys, same knob and
    measured ladder as ``lsh_pairs_topk`` — for TIGHT thresholds
    (near-dup mining, the threshold regime this operator exists for)
    banding cuts the CANDIDATE intermediate from an all-pairs mirror
    to a few percent of it with no pair loss at the tight radius
    (measured at 20k clustered vectors: 6.4M vs 301M candidates,
    recall 1.0; SCALING.md "LLM-data tier"). Default 1 = pre-r11
    single-projection behavior.

    ``n_salt`` (ADVICE r11 #2 made it PUBLIC here): the candidate
    join's deterministic salt fan-out replicates the right side — with
    its carried vector — ``n_salt`` times through the shuffle. 16 spreads
    the measured hot-bucket mass at the rehearsal decades; LOWER it
    when vectors are wide enough that replication bytes, not bucket
    skew, are the binding cost (the documented remedy is now reachable
    without editing library code)."""
    from pyspark.ml.functions import array_to_vector

    vecs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("arr"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("vec"),
    )
    pairs = _lsh_candidate_pairs(
        vecs,
        bucket_length,
        num_hash_tables,
        seed,
        rows_per_band=rows_per_band,
        n_salt=n_salt,
    )
    # strict < matches approxSimilarityJoin ("distance smaller than
    # the threshold"); filter on the UNROUNDED distance like MLlib,
    # round only the reported column. The distinct dedupes multi-table
    # collisions AFTER the radius filter (identical arrays give an
    # identical distance, so duplicates collapse exactly).
    return (
        _arrow_scored_pairs(pairs, "dist")
        .filter(F.col("_score") < distance_threshold)
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.round("_score", 6).alias("dist"),
        )
        .distinct()
        .orderBy("id_a", "id_b")
    )


def exact_self_similarity_join(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    distance_threshold: float = 1.2,
    max_rows: int = SEARCH_MAX_ROWS,
) -> DataFrame:
    """EXACT all-pairs within a Euclidean ``distance_threshold`` over a
    CONTRACT-BOUNDED frame — the drop-in replacement for
    ``lsh_similarity_join`` in the in-batch peel of the triad loop's
    semantic stage (``ann_index._semantic_stage``; VERDICT r14 wrong
    #1). Same output contract: (id_a, id_b, dist)
    with id_a < id_b, strict ``dist < distance_threshold`` on the
    unrounded distance, ``dist`` rounded to 6.

    Why exact beats approximate HERE (measured, SCALING.md r14 cost
    decomposition): the in-batch pair mine of a streaming micro-batch
    re-fit MLlib BRP-LSH per batch — model fit + hash explode + salted
    candidate join + Arrow scoring — at 320.9 s for a 25k-row batch,
    88% of the loop's per-batch cost. But the batch is bounded by the
    ingest contract, and at that bound the EXACT batch×batch product
    is a ~40 GFLOP blocked GEMM: seconds of BLAS, no model fit, no
    candidate shuffle, recall 1.0 by construction. LSH exists to avoid
    an N×N product over a CORPUS; a micro-batch is not a corpus.

    Execution shape (the broadcast-batch precedent of
    ``_ivfpq_search``, the IVF-PQ search kernel): the batch matrix is
    materialized ONCE driver-side via Arrow (|batch| × d floats —
    25 MB at the 25k×128 contract point) and broadcast; one
    ``mapInPandas`` pass over the same frame scores
    chunk × batchᵀ tiles (``|a−b|² = |a|² + |b|² − 2a·b``) and emits
    each qualifying pair exactly once via the strict
    ``id_row < id_col`` mask (works for numeric and string ids — ids
    never need to be positions). Nothing shuffles but the surviving
    pairs; the only |batch|-scale object is the broadcast, the same
    class the screen path already carries.

    CACHE-TILED scoring (measured necessity, SCALING.md r15): the
    obvious blocked form — one rows×|batch| float64 score panel per
    sub-block — streams ~64 MB temporaries through DRAM per block,
    and THIS is what dies under executor concurrency: on the
    rehearsal host, 32 concurrent workers each pushing 64 MB
    elementwise panels degraded ~200× versus a single process
    (aggregate bandwidth under contention measured BELOW one core's),
    turning a 9 s GEMM into a 38 s/task stall. Scoring instead runs
    float32 GEMM into a reused ≤1 MB (row-tile × column-tile) buffer
    — the working set stays cache-resident, so concurrency costs
    nothing (0.7 s/task measured at the same point) — and exactness
    is restored by a two-step filter: tiles are masked at the radius
    plus a magnitude-scaled float32 error margin (no true pair can be
    lost), and the few surviving candidates are re-scored in float64
    from the ORIGINAL values with the strict ``<`` the LSH path
    applies. Scoring precision never decides a pair; it only gates
    who pays the exact re-score.

    ``max_rows`` is the honesty guard: O(|batch|²) work is the
    POINT at micro-batch scale and a design error at corpus scale, so
    a frame larger than the contract bound raises loudly instead of
    silently burning a quadratic — use ``lsh_similarity_join`` (banded)
    or ``lsh_pairs_topk`` (bounded output) for corpus sweeps. The
    default matches the ingest contract's batch ceiling (≤50k rows:
    ~50 MB driver materialization + broadcast at d=128, ~10 s of GEMM)
    rather than 8× it (VERDICT r15 wrong #3) — a caller who truly
    wants a bigger exact mine raises it explicitly and owns the
    O(n²) bill.

    Ids must be distinct (the store contract); duplicate ids would
    compare equal under the strict mask and silently lose their
    self-pair, which is the LSH path's behavior for identical ids too.
    """
    import numpy as np

    src = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    id_dtype = dict(src.dtypes)["_id"]
    # limit BEFORE the collect so an over-contract frame costs at most
    # max_rows+1 rows of driver memory before the loud refusal
    pdf = src.limit(max_rows + 1).toPandas()
    n = len(pdf)
    if n > max_rows:
        raise ValueError(
            f"exact_self_similarity_join is for contract-bounded "
            f"micro-batches: got {n} rows > max_rows={max_rows}. Use "
            f"lsh_similarity_join / lsh_pairs_topk for corpus-scale "
            f"pair mining."
        )
    empty = src.sparkSession.createDataFrame(
        [], f"id_a {id_dtype}, id_b {id_dtype}, dist double"
    )
    if n < 2:
        return empty
    mat64 = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
    ids = pdf["_id"].to_numpy()
    if ids.dtype == object:
        ids = np.array(ids.tolist())  # -> <U dtype: vectorized compare
    sq64 = np.einsum("ij,ij->i", mat64, mat64)
    mat32 = mat64.astype(np.float32)
    sq32 = np.einsum("ij,ij->i", mat32, mat32)
    bc = src.sparkSession.sparkContext.broadcast(
        (ids, mat32, sq32, mat64, sq64)
    )
    t2 = float(distance_threshold) ** 2
    # cache-resident score tile (see docstring): RB×CB float32 ≤ 1 MB
    RB, CB = 256, 1024

    def mine(batches):
        import pandas as pd

        a_ids, a32, a_sq32, a64, a_sq64 = bc.value
        buf = np.empty((RB, CB), dtype=np.float32)
        for chunk in batches:
            if not len(chunk):
                continue
            x64 = np.stack(chunk["_v"].to_numpy()).astype(np.float64)
            x_ids = chunk["_id"].to_numpy()
            if x_ids.dtype == object:
                x_ids = np.array(x_ids.tolist())
            x32 = x64.astype(np.float32)
            x_sq32 = np.einsum("ij,ij->i", x32, x32)
            x_sq64 = np.einsum("ij,ij->i", x64, x64)
            out_a, out_b, out_d = [], [], []
            for cs in range(0, len(a32), CB):
                at = np.ascontiguousarray(a32[cs : cs + CB].T)
                c_sq = a_sq32[cs : cs + CB]
                nc = at.shape[1]
                for rs in range(0, len(x32), RB):
                    xb = x32[rs : rs + RB]
                    nr = len(xb)
                    if nr == RB and nc == CB:
                        gb = buf
                        np.dot(xb, at, out=gb)
                    else:
                        gb = xb @ at
                    gb *= -2.0
                    gb += x_sq32[rs : rs + nr, None]
                    gb += c_sq[None, :]
                    # float32 scoring can only GATE: admit candidates
                    # at the radius plus a magnitude-scaled error
                    # margin, then decide in float64 below
                    margin = 1e-3 * (
                        1.0
                        + float(x_sq32[rs : rs + nr].max())
                        + float(c_sq.max())
                    )
                    r, c = np.nonzero(gb < t2 + margin)
                    if not len(r):
                        continue
                    ra, ca = rs + r, cs + c
                    keep = x_ids[ra] < a_ids[ca]
                    if not keep.any():
                        continue
                    ra, ca = ra[keep], ca[keep]
                    # exact float64 re-score of the candidates from
                    # the ORIGINAL values; strict <, like the LSH path
                    d2 = (
                        x_sq64[ra]
                        + a_sq64[ca]
                        - 2.0 * np.einsum("ij,ij->i", x64[ra], a64[ca])
                    )
                    np.maximum(d2, 0.0, out=d2)
                    real = d2 < t2
                    if not real.any():
                        continue
                    out_a.append(x_ids[ra[real]])
                    out_b.append(a_ids[ca[real]])
                    out_d.append(np.sqrt(d2[real]))
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "dist": np.concatenate(out_d),
                    }
                )

    # repartition spreads the GEMM across cores, following
    # shuffle.partitions like every other fan-out in the package
    slices = shuffle_partitions(src.sparkSession)
    out = (
        src.repartition(min(slices, max(1, n // RB)))
        .mapInPandas(mine, f"id_a {id_dtype}, id_b {id_dtype}, dist double")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dist"), 6).alias("dist"),
        )
    )
    return out


def lsh_pairs_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bucket_length: float = 0.5,
    num_hash_tables: int = 3,
    distance_threshold: float = 1.2,
    seed: int = 42,
    rows_per_band: int = 1,
    n_salt: int = 16,
) -> DataFrame:
    """Bounded-output per-item neighbor mining: every corpus item gets
    at most ``k`` nearest neighbors (by exact cosine) drawn from its
    LSH bucket-mates — the production regime SCALING.md's Finding 2
    recommends over threshold pair mining. A fixed ``cos >= t`` pair
    mine on a corpus that densifies in a fixed vector space emits
    quadratically many pairs (measured: 2k vectors → 22k pairs, 20k →
    2.25M) and any correct implementation must pay that output;
    bounding output PER ITEM caps the result at ``k·N`` rows no matter
    how dense the corpus gets, which is what dedup-candidate and
    link-graph pipelines actually consume.

    Vectors are L2-NORMALIZED before hashing and pruning (code-review
    r09): the index prunes by EUCLIDEAN ``distance_threshold`` but the
    contract ranks by COSINE, and those only correspond on the unit
    sphere (``dist² = 2·(1−cos)``). Un-normalized inputs (norms ~10)
    would put cos≈1 neighbors at Euclidean distance > the threshold —
    silently emitting few/no rows — and the bucket geometry tuned
    below would be corpus-scale-dependent. Normalization leaves the
    ranking metric untouched (cosine is scale-invariant) and makes
    both defaults corpus-independent: on the unit sphere the
    projection range is fixed, so 1.2 ⇒ cos ≥ 0.28 is a true bound
    for ANY input.

    Shape at 100 TB: one BRP-LSH bucketing pass (narrow map), an
    equality join on bucket keys (``_lsh_candidate_pairs``, merge-
    hinted sort-merge — only bucket-mates are scored, never all
    pairs, and the static planner can never broadcast the exploded
    hash frame), then a per-item window top-k. The candidate
    intermediate is governed by both tunables; the r09 tuning
    (2.0, 1.5) → (0.5, 1.2) cut wall 13.5s → 5.6s at 2k vectors with
    pooled recall flat at 0.97, and the r11 re-measurement attributes
    ~all of that win to ``distance_threshold`` (1.5 ⇒ cos ≥ −0.125
    kept 74% of ALL pairs through scoring+mirroring; 1.2 ⇒ cos ≥ 0.28
    keeps the true-neighbor shell; 1.15 measured recall 0.86 — the
    radius had started cutting true neighbors). ``bucket_length`` was
    believed to slice ~16 buckets/table at 0.5; measured r11, unit-
    sphere projections have std 1/sqrt(d), so at d=64 there are TWO
    populated buckets/table at 0.5 and the candidate join mirrors
    all-pairs — see the rows_per_band/SCALING.md ladder for what
    actually buys contrast. The top-k makes the OUTPUT contract independent of
    both. Scale honesty (measured r09, sharpened by the r11 clustered-
    fixture ladder in SCALING.md): output stays exactly k·N at 10x the
    corpus (100k rows at 20k vectors, recall 0.96), but the bucket-join
    INTERMEDIATE is corpus-density-bound — 14x wall at 10x vectors on
    the structureless corpus, and the r11 measurements show WHY no
    bucket_length fixes that: on the unit sphere projections have std
    1/sqrt(d), so at d>=32 the default width holds ~2 populated
    buckets/table (the join mirrors all-pairs), and narrowing the
    bucket trades candidates for recall ~LINEARLY (0.98 recall at
    1.5x-all-pairs candidates -> 0.60 at 0.51x, clustered d=32) — a
    single-projection OR index has subsampling-grade contrast in loose
    regimes regardless of cluster structure. The contract the defaults
    pin (r11 clustered fixture, within-cluster cos ~0.6): pooled
    recall >= 0.96 with the intermediate bounded by num_hash_tables x
    all-pairs. When the workload is TIGHT (near-dup mining, within
    cos >= ~0.9), set ``rows_per_band`` > 1: AND-banded keys get real
    contrast — (16 bands, rows=6, bl=0.2) measured 0.19x all-pairs at
    recall 1.0 on the r11 near-dup fixture (test-pinned), falling to
    0.032x/0.0149x at the 20k/200k decades (SCALING.md ladder). The
    query-bounded ``ann_topk``/IVF/PQ tiers remain the scale path for
    loose-regime high recall under an IO budget.
    ``n_salt`` (ADVICE r11 #2): the candidate join's salt/replication
    knob, plumbed through — see ``lsh_similarity_join``.
    Deterministic: seeded hyperplanes, scores rounded to 6 decimals
    before ranking, ties broken by neighbor id.

    Output: (item_id, neighbor_id, cos_sim, rank), rank 1..k per item;
    items whose buckets yield no candidates emit no rows (the honest
    answer for an isolated item under this index), and zero-norm
    vectors are dropped up front (no direction ⇒ no cosine — same
    contract as ivfpq_topk)."""
    from pyspark.ml.functions import array_to_vector

    raw = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("arr"),
    )
    # zero-norm vectors have no direction: their cosine is NULL against
    # every neighbor, and a NULL-scored pair in an under-full bucket
    # would still take a rank <= k slot (code-review r09) — drop them
    # up front, same contract as ivfpq_topk. The same norm
    # then L2-normalizes the survivors so the Euclidean index prunes
    # in true cosine units (see docstring).
    #
    # The norm is materialized as a COLUMN and the guard sits at ROW
    # level (code-review r09, twice): (a) guarding is load-bearing —
    # the optimizer collapses Filter+Project and hoists shared UDF
    # subexpressions into filter predicates, so expressions downstream
    # of the zero-norm filter still EVALUATE on the filtered rows
    # (verified: an unguarded x/0 errors under the driver's ANSI
    # session, a NULL arr NPEs array_to_vector, an empty array fails
    # the LSH hash's dimension check); the otherwise(arr) branch hands
    # those rows their own (all-zero, right-length) array, finite
    # through every downstream UDF, and the filter still removes them.
    # (b) referencing the norm as an attribute keeps normalization
    # O(d) per row — an inline aggregate inside the transform lambda
    # re-evaluated the O(d) sum per ELEMENT (O(d^2)); CollapseProject
    # won't inline a non-cheap alias referenced three times.
    nrm = F.sqrt(
        F.aggregate(
            F.transform("arr", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    normed = raw.select("id", "arr", nrm.alias("_n"))
    unit = normed.filter(F.col("_n") > 0).select(
        "id",
        F.when(
            F.col("_n") > 0,
            F.transform("arr", lambda x: x / F.col("_n")),
        )
        .otherwise(F.col("arr"))
        .alias("arr"),
    )
    vecs = unit.select("id", "arr", array_to_vector(F.col("arr")).alias("vec"))
    # the owned candidate join replaces MLlib's approxSimilarityJoin
    # (see _lsh_candidate_pairs: its internal join is statically
    # broadcast-planned from post-explode fiction and no hint can
    # reach it). Each unordered pair is scored ONCE — the Arrow
    # scoring pass dominates this operator's wall, so halving its
    # input matters — and both orientations are mirrored AFTER the
    # radius filter on the ~100x smaller survivor set, so every item
    # still appears as item_id with its full candidate set.
    pairs = _lsh_candidate_pairs(
        vecs,
        bucket_length,
        num_hash_tables,
        seed,
        rows_per_band=rows_per_band,
        n_salt=n_salt,
    )
    # on unit vectors dist < t  <=>  cos > 1 - t^2/2 (dist^2 = 2(1-cos)):
    # the same strict-< radius approxSimilarityJoin applied, expressed
    # on the cosine the contract ranks by; distinct dedupes multi-table
    # collisions after the filter (identical arrays → identical rounded
    # cos, duplicates collapse exactly)
    half = (
        _arrow_scored_pairs(pairs, "cos")
        .filter(F.col("_score") > 1.0 - distance_threshold * distance_threshold / 2.0)
        .select("_ida", "_idb", F.round("_score", 6).alias("cos_sim"))
        .distinct()
    )
    # explode-mirror, NOT a union of two half-selects: a union embeds
    # the heavy scoring subtree TWICE in the plan, and this query's
    # audit/anchor branches then multiply that replication (8 scoring
    # subtrees in the static plan before this; 2x cold codegen + more
    # runtime stage-reuse surface). One subtree, per-row 1->2 fan-out.
    scored = half.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("_ida").alias("item_id"),
                    F.col("_idb").alias("neighbor_id"),
                ),
                F.struct(
                    F.col("_idb").alias("item_id"),
                    F.col("_ida").alias("neighbor_id"),
                ),
            )
        ).alias("_p"),
        "cos_sim",
    ).select("_p.item_id", "_p.neighbor_id", "cos_sim")
    w = Window.partitionBy("item_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("item_id", "rank")
    )


def group_centroids(
    df: DataFrame,
    keys: list[str],
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Mean-pooled embedding per group — the centroid table that powers
    class prototypes, cluster summaries, and IVF-style coarse quantizers.

    Shape: ``posexplode`` to (key, dim, value) rows, ONE hash aggregate
    on (key, dim), then ``array_agg`` back to a vector ordered by dim.
    The explode multiplies rows by the dimension count, but the exchange
    still carries one (group × dim) partial per map task — at 100 TB
    this is strictly cheaper than any collect-and-average, and the
    per-dim rows are what make an exact, order-independent mean
    possible: each value is rounded at ``scale`` then summed in DECIMAL
    (values land on the scale-6 grid exactly, so the sum is exact and
    partitioning-independent — see functions/deterministic.py), divided
    by the count as one IEEE division.

    Output: keys + ``centroid array<double>`` + ``n_vectors``.
    """
    from sales_forecast_pyspark_spark.functions.deterministic import dec_sum

    ex = df.select(
        *keys, F.posexplode(vec_col).alias("dim", "val")
    )
    per_dim = ex.groupBy(*keys, "dim").agg(
        (
            dec_sum(F.round(F.col("val").cast("double"), scale), scale=scale)
            / F.count("val")
        ).alias("centroid_val"),
        F.count("val").alias("n_vectors"),
    )
    return (
        per_dim.groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "centroid_val"))
            ).alias("pairs"),
            F.max("n_vectors").alias("n_vectors"),
        )
        .select(
            *keys,
            F.transform(F.col("pairs"), lambda p: p["centroid_val"]).alias("centroid"),
            "n_vectors",
        )
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector int8 scalar quantization: ``(id, qmin, qmax, codes)``
    with ``codes[i] = floor((x[i] − qmin)/(qmax − qmin)·255 + 0.5) − 128``
    — the 4× (vs float32) storage cut a 100 TB embedding corpus takes
    before ANN serving, at ≤ half-step reconstruction error per
    dimension.

    Pure narrow JVM transform — no shuffle, no UDF; quantize on write,
    keep float vectors only for the verify tier. The arithmetic is a
    fixed left-to-right IEEE double chain ending in ``floor``, so codes
    are bit-identical across engines (the DuckDB oracle replays it
    exactly). Constant vectors (qmax == qmin) code to all-zero with the
    range preserved in qmin/qmax.
    """
    d = df.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_e"),
    ).select(
        id_col,
        "_e",
        F.array_min("_e").alias("qmin"),
        F.array_max("_e").alias("qmax"),
    )
    span = F.col("qmax") - F.col("qmin")
    codes = F.when(
        span == 0, F.transform("_e", lambda v: F.lit(0))
    ).otherwise(
        F.transform(
            "_e",
            lambda v: (
                F.floor((v - F.col("qmin")) / span * 255 + F.lit(0.5))
            ).cast("int")
            - 128,
        )
    )
    return d.select(id_col, "qmin", "qmax", codes.alias("codes"))


def dequantize_embeddings(
    df: DataFrame,
    codes_col: str = "codes",
    out_col: str = "embedding",
) -> DataFrame:
    """Inverse of ``quantize_embeddings``:
    ``x̂[i] = qmin + (codes[i] + 128)·(qmax − qmin)/255`` — feeds the
    same cosine/top-k operators as the float tier."""
    span = F.col("qmax") - F.col("qmin")
    return df.withColumn(
        out_col,
        F.transform(
            F.col(codes_col),
            lambda c: F.col("qmin") + (c + 128).cast("double") * span / 255,
        ),
    )


def _ivfpq_math():
    """``(unit_rows, nearest)``, the two numpy kernels that the IVF-PQ
    fit and its encoder share.

    ``unit_rows(x)`` returns the mask of nonzero rows and those rows
    scaled to unit length. ``nearest(x, centres)`` returns each row's
    nearest centre by squared L2, as argmin(-2 x·c + |c|²) (|x|² is the
    same for every centre), ties to the lowest index; it works through
    ~4M distances at a time. Both are built inside this function so
    that cloudpickle ships them by value: the encoder's Python workers
    need not be able to import this package."""
    import numpy as np

    def unit_rows(x):
        norms = np.sqrt(np.einsum("ij,ij->i", x, x))
        keep = norms > 0
        return keep, x[keep] / norms[keep, None]

    def nearest(x, centres):
        cn = np.einsum("ij,ij->i", centres, centres)
        step = max(1, (1 << 22) // len(centres))
        return np.concatenate(
            [
                np.argmin(-2.0 * (x[lo : lo + step] @ centres.T) + cn, axis=1)
                for lo in range(0, len(x), step)
            ]
        )

    return unit_rows, nearest


_unit_rows, _nearest = _ivfpq_math()


def _kmeans(x, k: int, seed: int):
    """Seeded k-means over the rows of ``x`` on the driver, with MLlib
    ``KMeans``' defaults (``maxIter`` 20, ``tol`` 1e-4) and edge case.
    With no more than ``k`` distinct rows, those rows (in first-seen
    order) are the centres. Otherwise k-means++ picks ``k`` seed rows
    from ``default_rng(seed)``, and Lloyd rounds run until no centre
    moves by more than 1e-4 or 20 rounds have run; an empty cluster
    keeps its centre."""
    import numpy as np

    _, first = np.unique(x, axis=0, return_index=True)
    if len(first) <= k:
        return x[np.sort(first)].copy()
    rng = np.random.default_rng(seed)
    centres = np.empty((k, x.shape[1]))
    centres[0] = x[rng.integers(len(x))]
    d2 = ((x - centres[0]) ** 2).sum(axis=1)
    for c in range(1, k):
        cum = np.cumsum(d2)
        # side="right" never lands on a row already chosen (d2 = 0)
        i = np.searchsorted(cum, rng.random() * cum[-1], side="right")
        centres[c] = x[min(int(i), len(x) - 1)]
        d2 = np.minimum(d2, ((x - centres[c]) ** 2).sum(axis=1))
    for _ in range(20):
        cell = _nearest(x, centres)
        counts = np.bincount(cell, minlength=k)
        sums = np.stack(
            [np.bincount(cell, x[:, j], minlength=k) for j in range(x.shape[1])],
            axis=1,
        )
        new = centres.copy()
        filled = counts > 0
        new[filled] = sums[filled] / counts[filled, None]
        moved = ((new - centres) ** 2).sum(axis=1).max()
        centres = new
        if moved <= 1e-4**2:
            break
    return centres


def _ivfpq_encode(src: DataFrame, cell_mat, books, what: str) -> DataFrame:
    """The one IVF-PQ encoder, used by the build (through
    ``_ivfpq_fit``) and by ``ann_index.append_to_ivfpq_index``:
    (neighbor_id, v0) rows in, (neighbor_id, v, cell, codes) rows out.
    ``v`` is the unit vector, ``cell`` its nearest cell centre and
    ``codes`` the nearest codeword of each residual subspace. Zero-norm
    rows have no direction and are dropped.

    One Arrow-batched pass: the cell centres and codebooks are
    kilobytes of state in the closure, and each batch costs m + 1
    dense matrix products. A row of the wrong dimension fails the task
    with ``_DIM_ERR``; ``_encoded_count`` turns that back into a plain
    ``ValueError`` naming ``what``."""
    import numpy as np
    import pandas as pd

    d, m = cell_mat.shape[1], len(books)
    sub = d // m

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v0"].to_numpy()).astype(np.float64)
            if x.shape[1] != d:
                raise ValueError(
                    f"{_DIM_ERR}: {what} dimension {x.shape[1]} != "
                    f"index dimension {d}"
                )
            keep, x = _unit_rows(x)
            if not keep.any():
                continue
            cell = _nearest(x, cell_mat)
            resid = x - cell_mat[cell]
            codes = np.stack(
                [
                    _nearest(resid[:, j * sub : (j + 1) * sub], books[j])
                    for j in range(m)
                ],
                axis=1,
            )
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf["neighbor_id"].to_numpy()[keep],
                    "v": list(x),
                    "cell": cell.astype("int32"),
                    "codes": list(codes),
                }
            )

    return src.mapInPandas(
        encode,
        f"neighbor_id {dict(src.dtypes)['neighbor_id']}, "
        "v array<double>, cell int, codes array<int>",
    )


def _encoded_count(enc: DataFrame) -> int:
    """Cache an ``_ivfpq_encode`` frame and count it. An encode task's
    dimension error is raised again on the driver as a plain
    ``ValueError``; the cache is dropped before any error leaves."""
    enc.cache()
    try:
        return enc.count()
    except Exception as e:
        enc.unpersist()
        if _DIM_ERR in str(e):
            detail = str(e).split(_DIM_ERR + ": ", 1)[-1].split("\n", 1)[0]
            raise ValueError(detail) from None
        raise


def _ivfpq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    m: int,
    codebook_k: int,
    seed: int,
):
    """The IVF-PQ BUILD stage, shared verbatim by ``ivfpq_topk``
    (fit-and-query in one call) and ``llmdata.ann_index`` (fit once,
    persist, query many — the billion-scale usage). Returns
    (cell_mat, books, encoded corpus, d, sub): the coarse cell centres
    as an [n_centroids × d] array (seeded ``seed``), the shared
    residual codebooks (seeded ``seed + 1 + j`` per subspace) as m
    [codebook_k × sub] arrays, and the lazy ``_ivfpq_encode`` frame of
    (neighbor_id, v, cell, codes) rows — the arrays are the quantizer
    state ``_ivfpq_search`` takes. Seeded and input-deterministic, so
    the two callers produce identical indexes from identical inputs
    (parity pinned in tests/test_ann_index.py).

    The quantizers train on the driver (``_kmeans``) from one bounded
    learning set, as in Jégou et al. (TPAMI 2011) and FAISS: the
    ``TRAIN_PER_CENTRE · max(n_centroids, codebook_k)`` rows with the
    smallest ``(xxhash64(id), id)``, collected in one job. Below that
    size (every registry and benchmark corpus) the sample is the whole
    corpus. ``d`` comes from the sample. Nothing is cached."""
    import numpy as np

    src = df.select(
        F.col(id_col).alias("neighbor_id"),
        _vec_to_python_expr(df, vec_col).alias("v0"),
    )
    cap = TRAIN_PER_CENTRE * max(n_centroids, codebook_k)
    sample = (
        src.orderBy(F.xxhash64("neighbor_id"), "neighbor_id")
        .limit(cap)
        .toPandas()["v0"]
    )
    if len(sample):
        x = _unit_rows(np.stack(sample.to_numpy()).astype(np.float64))[1]
    if not len(sample) or not len(x):
        raise ValueError("IVF-PQ fit needs at least one nonzero vector")
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"vector dim {d} must divide evenly into m={m} subspaces")
    sub = d // m
    cell_mat = _kmeans(x, n_centroids, seed)
    resid = x - cell_mat[_nearest(x, cell_mat)]
    books = [
        _kmeans(
            np.ascontiguousarray(resid[:, j * sub : (j + 1) * sub]),
            codebook_k,
            seed + 1 + j,
        )
        for j in range(m)
    ]
    return cell_mat, books, _ivfpq_encode(src, cell_mat, books, "corpus"), d, sub


def _vec_to_python_expr(df: DataFrame, vec_col: str):
    """The vector column as it should cross the JVM→Python Arrow
    boundary: float/double element types ship AS-IS (the numpy side's
    ``astype(float64)`` widens exactly, so values are bit-identical —
    a JVM ``cast("array<double>")`` on a float column would only double
    the Arrow bytes and pay a per-element array transform before the
    boundary); anything else still casts to double."""
    try:
        et = df.schema[vec_col].dataType.elementType.simpleString()
    except Exception:
        et = ""
    if et in ("float", "double"):
        return F.col(vec_col)
    return F.col(vec_col).cast("array<double>")


def _ivfpq_search(
    queries: DataFrame,
    cell_mat,
    books,
    codes: DataFrame,
    vectors: DataFrame,
    k: int,
    n_probe: int,
    refine_factor: int,
    max_rows: int,
    what: str = "query",
) -> DataFrame:
    """The one IVF-PQ search kernel: probe → ADC scan → exact refine.
    ``ivfpq_topk`` runs it on its in-memory fit;
    ``ann_index.query_ivfpq_index`` and
    ``ann_index.screen_against_ivfpq_index`` run it on a persisted
    index's tables.

    Inputs: ``queries`` (query_id, v); the quantizer arrays
    ``cell_mat`` [n_centroids × d] and ``books`` (m arrays
    [codebook_k × sub]); the corpus as a ``codes`` frame
    (neighbor_id, cell, codes) and a ``vectors`` frame
    (neighbor_id, v) of unit vectors. Returns
    (query_id, neighbor_id, cos_sim, rank), unordered: per query, the
    k best true cosines (rounded to 6, ties by neighbor_id) among its
    k·refine_factor best-ADC candidates (ties by neighbor_id) over its
    n_probe nearest cells (ties by cell), its own id excluded.
    Zero-norm queries have no direction and return nothing.

    Shape: (1) the query frame — at most ``max_rows`` rows, refused
    loudly past that — is Arrow-materialized ONCE and broadcast;
    normalization, the probe and the cell→query map run in numpy on
    the driver. (2) The probed cells, at most n_centroids ids, reach
    the codes scan as a static ``isin`` filter, which a
    ``partitionBy(cell)`` table turns into a PartitionFilter.
    (3) ``groupBy(cell).applyInPandas`` over the narrow code rows
    builds each probing query's m × codebook_k residual ADC table,
    scores the cell's rows by table lookup, and cuts each query's
    k·refine_factor best in exact (adc, neighbor_id) order. No query
    vector shuffles. (4) A window makes the same cut across the probed
    cells. The bounded candidate set, grouped per neighbor, broadcasts
    against the vectors table, and each candidate vector crosses the
    Arrow boundary once for the exact cosine.

    Every sum is a left-to-right double fold over ascending index:
    query norms, probe distances and table entries over the
    dimensions, ADC over the subspaces, cosines over the dimensions.
    So every score is bit-identical to the same sum written as a JVM
    ``aggregate(zip_with(...))`` expression (test-pinned). Rounding
    stays in the JVM, since Spark's round is BigDecimal HALF_UP and
    numpy's is half-to-even.
    Duplicate vector rows for one id (a torn batch's orphans folded
    before its replay) are bit-identical by contract, and a whole-row
    distinct before the rank removes exactly them."""
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    q_dtype = dict(queries.dtypes)["query_id"]
    n_dtype = dict(codes.dtypes)["neighbor_id"]
    empty = spark.createDataFrame(
        [],
        f"query_id {q_dtype}, neighbor_id {n_dtype}, cos_sim double, "
        "rank int",
    )
    # limit BEFORE the collect so an over-contract frame costs at most
    # max_rows+1 rows of driver memory before the loud refusal
    qpdf = (
        queries.select("query_id", _vec_to_python_expr(queries, "v").alias("v"))
        .limit(int(max_rows) + 1)
        .toPandas()
    )
    if len(qpdf) > max_rows:
        raise ValueError(
            f"IVF-PQ search takes contract-bounded {what} frames: got "
            f"{len(qpdf)} rows > max_rows={max_rows}. Split the batch, "
            f"or use embedding_near_dups for corpus-scale sweeps."
        )
    if not len(qpdf):
        return empty
    x = np.stack(qpdf["v"].to_numpy()).astype(np.float64)
    d = cell_mat.shape[1]
    if x.shape[1] != d:
        raise ValueError(
            f"{what} dimension {x.shape[1]} != index dimension {d}"
        )
    sq = np.zeros(len(x))
    for j in range(d):
        sq += x[:, j] * x[:, j]
    norms = np.sqrt(sq)
    keep = norms > 0
    if not keep.any():
        return empty
    qids = qpdf["query_id"].to_numpy()[keep]
    x = x[keep] / norms[keep, None]

    cd = np.zeros((len(x), len(cell_mat)))
    for j in range(d):
        diff = x[:, j, None] - cell_mat[None, :, j]
        cd += diff * diff
    # stable sort: equal distances keep ascending cell order
    probe = np.argsort(cd, axis=1, kind="stable")[:, : int(n_probe)]
    cell_to_pos = {
        int(c): np.nonzero((probe == c).any(axis=1))[0]
        for c in np.unique(probe)
    }
    pos_of = {v: i for i, v in enumerate(qids.tolist())}
    bc = spark.sparkContext.broadcast((qids, x, cell_to_pos, pos_of))

    m, sub = len(books), books[0].shape[1]
    k_cand = int(k) * int(refine_factor)
    # Explicit fixed-N repartition on the group key: the code rows are
    # NARROW, so AQE — which sizes partitions by bytes and is blind to
    # the Python ADC work behind them — would coalesce this exchange to
    # ~1 task and serialize the scan (measured ×4 at the 10× decade).
    # A user-specified partition count is exempt from AQE coalescing,
    # and the groupBy reuses this exchange.
    n_scan_parts = shuffle_partitions(spark)
    scan_rows = (
        codes.filter(F.col("cell").isin(sorted(cell_to_pos)))
        .select("neighbor_id", F.col("cell").cast("int").alias("cell"), "codes")
        .repartition(n_scan_parts, "cell")
    )

    def scan(key, cpdf):
        b_ids, b_x, b_pos, _ = bc.value
        cell = int(key[0])
        pos = b_pos.get(cell)
        nid = cpdf["neighbor_id"].to_numpy()
        if pos is None or not len(nid):
            return pd.DataFrame(
                {"query_id": b_ids[:0], "neighbor_id": nid[:0],
                 "adc": np.empty(0)}
            )
        # columns in neighbor_id order: position order IS the tie order
        order = np.argsort(nid, kind="stable")
        nid = nid[order]
        code_mat = np.stack(cpdf["codes"].to_numpy())[order].astype(np.int64)
        resid = b_x[pos] - cell_mat[cell]
        qid = b_ids[pos]
        take = min(k_cand, len(nid))
        # bound peak memory at ~4M adc doubles per query chunk
        step = max(1, min(256, (1 << 22) // len(nid)))
        out = []
        for lo in range(0, len(pos), step):
            r, q = resid[lo : lo + step], qid[lo : lo + step]
            adc = np.zeros((len(r), len(nid)))
            for j in range(m):
                tab = np.zeros((len(r), len(books[j])))
                for s in range(j * sub, (j + 1) * sub):
                    diff = r[:, s, None] - books[j][None, :, s - j * sub]
                    tab += diff * diff
                adc += tab[:, code_mat[:, j]]
            own = nid[None, :] == q[:, None]
            adc[own] = np.inf
            sel = ~own
            if take < len(nid):
                # exact (adc, neighbor_id) cut: everything below the
                # take-th value, then the lowest-id rows tied at it
                kth = np.partition(adc, take - 1, axis=1)[:, take - 1 : take]
                below = adc < kth
                tied = adc == kth
                room = take - below.sum(axis=1, keepdims=True)
                sel &= below | (tied & (np.cumsum(tied, axis=1) <= room))
            rows, cols = np.nonzero(sel)
            out.append((q[rows], nid[cols], adc[rows, cols]))
        return pd.DataFrame(
            {
                "query_id": np.concatenate([o[0] for o in out]),
                "neighbor_id": np.concatenate([o[1] for o in out]),
                "adc": np.concatenate([o[2] for o in out]),
            }
        )

    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    cand_by_nb = (
        scan_rows.groupBy("cell")
        .applyInPandas(
            scan, f"query_id {q_dtype}, neighbor_id {n_dtype}, adc double"
        )
        .withColumn("_r", F.row_number().over(w_adc))
        .filter(F.col("_r") <= k_cand)
        .groupBy("neighbor_id")
        .agg(F.array_sort(F.collect_list("query_id")).alias("qids"))
    )

    def refine(batches):
        _, b_x, _, posmap = bc.value
        # once per task: query columns contiguous, so the per-j gathers
        # below stream over kilobyte-to-megabyte vectors instead of
        # striding over a |pairs|×d panel
        q_t = np.ascontiguousarray(b_x.T)
        for pdf in batches:
            if not len(pdf):
                continue
            v_t = np.ascontiguousarray(
                np.stack(pdf["v"].to_numpy()).astype(np.float64).T
            )
            qlists = pdf["qids"].to_numpy()
            lens = np.fromiter(
                (len(q) for q in qlists), dtype=np.int64, count=len(qlists)
            )
            rep = np.repeat(np.arange(len(qlists)), lens)
            flat_q = np.concatenate([np.asarray(q) for q in qlists])
            pos = pd.Series(flat_q).map(posmap).to_numpy()
            acc = np.zeros(len(flat_q))
            for j in range(v_t.shape[0]):
                acc += v_t[j][rep] * q_t[j][pos]
            yield pd.DataFrame(
                {
                    "query_id": flat_q,
                    "neighbor_id": pdf["neighbor_id"].to_numpy()[rep],
                    "cos_raw": acc,
                }
            )

    w_cos = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        vectors.join(F.broadcast(cand_by_nb), "neighbor_id")
        .select("neighbor_id", "v", "qids")
        .mapInPandas(
            refine,
            f"query_id {q_dtype}, neighbor_id {n_dtype}, cos_raw double",
        )
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cos_sim"))
        .dropDuplicates()
        .withColumn("rank", F.row_number().over(w_cos))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 6,
    m: int = 8,
    codebook_k: int = 256,
    refine_factor: int = 32,
    seed: int = 42,
) -> DataFrame:
    """IVF-PQ approximate top-k — the composition of the two scale
    tiers into the standard billion-scale layout (FAISS's IVFPQ;
    Jégou et al. TPAMI 2011, public literature): a coarse k-means
    quantizer restricts each query to ``n_probe`` cells (IVF), and
    within probed cells the RESIDUALS (vector − its cell centroid) are
    PQ-encoded and scored with per-(query, cell) ADC lookup tables.
    Residual encoding is what makes the composition better than either
    tier alone: residuals concentrate near zero, so the same codebook
    budget quantizes them much more finely than raw vectors.

    Scale shape: the corpus stores (cell, m code bytes) per vector;
    a query touches ~n_probe/n_centroids of the corpus, reads only
    codes, and computes m lookups per candidate; the
    k x refine_factor survivors are re-ranked with exact cosine.
    Defaults follow the codebook sweep (codebook_k=256,
    refine_factor=32, SCALING.md "LLM-data tier"); **n_probe defaults
    to 6**: measured with the MLlib ``KMeans`` fit the quantizers had
    before they trained on the driver, 4 probes gave pooled recall
    0.55 on the structureless audit corpus, one bad seeded draw from
    the 0.5 tier bar, while 6 gave 0.61 (20k) / 0.59 (200k) for 1.5x
    the ADC mass. With the driver fit the ``ann_ivfpq_topk`` row reads
    0.66 (sf0.01) and 0.67 (sf0.1) at 6 probes; over fit seeds 1–6 at
    sf0.1 it reads 0.71–0.81, against 0.70–0.83 for the MLlib fit.
    ``n_probe = n_centroids`` is the full-scan tier: every cell's
    residual codes are ADC-scored (``ann_pq_topk`` runs it).

    Codebooks are shared across cells (trained on the pooled
    residuals), so the broadcast state is m x codebook_k centroids +
    n_centroids cell centers regardless of corpus size.

    This is ``_ivfpq_fit`` followed by ``_ivfpq_search``, the one
    IVF-PQ search kernel that ``ann_index.query_ivfpq_index`` and
    ``ann_index.screen_against_ivfpq_index`` run over a persisted
    index; the encoded corpus serves as both its codes and its vectors
    frame. The query set is materialized driver-side, at most
    ``SEARCH_MAX_ROWS`` rows. Output: (query_id, neighbor_id, cos_sim,
    rank) like ``cosine_topk``; seeded, neighbor-id tie order, refined
    scores are true cosines."""
    cell_mat, books, enc, _, _ = _ivfpq_fit(
        df, id_col, vec_col, n_centroids, m, codebook_k, seed
    )
    return _ivfpq_search(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("v")
        ),
        cell_mat,
        books,
        enc.select("neighbor_id", "cell", "codes"),
        enc.select("neighbor_id", "v"),
        k,
        n_probe,
        refine_factor,
        SEARCH_MAX_ROWS,
    ).orderBy("query_id", "rank")
