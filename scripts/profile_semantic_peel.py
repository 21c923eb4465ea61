"""Per-batch cost decomposition of the semantic dedup stage (stage 3 of
the triad loop, ``ann_index._semantic_stage``) — the
measurement behind SCALING.md's r14 finding (index screen 28.4 s /
in-batch BRP-LSH peel 320.9 s / admission 13.7 s at the 10x decade)
made re-runnable, so the r15 fix (the exact blocked-GEMM peel,
``exact_self_similarity_join``) is graded against the same protocol
instead of an ad-hoc session.

Replicates one representative micro-batch of the former
``semantic_ingest`` rehearsal leg: a contract-bounded ~25k-row half-dup / half-hash-random
batch against an index built on the full embeddings table of ``--dir``
(the 10x decade at .rehearsal/sf1x: 25k rows vs 20k vectors). Times the
loop's three stages IN ISOLATION on the same cached batch:

  screen_s  — ``screen_against_ivfpq_index`` (the corpus-growth term)
  peel_s    — in-batch exact pair mine (``exact_self_similarity_join``)
              + ``_greedy_losers``
  admit_s   — ``append_to_ivfpq_index`` of the survivors

The BRP-LSH miner is no longer timed: the side-by-side run recorded in
SCALING.md measured the exact miner ×201 faster with the same losers.
Prints one JSON line.

Usage:
    python scripts/profile_semantic_peel.py [--dir .rehearsal/sf1x]
        [--batch-rows 25000] [--threshold 0.9]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=".rehearsal/sf1x")
    ap.add_argument("--batch-rows", type=int, default=25_000)
    ap.add_argument("--threshold", type=float, default=0.9)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sales_forecast_pyspark_spark.llmdata.ann_index import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        screen_against_ivfpq_index,
    )
    from sales_forecast_pyspark_spark.llmdata.dedup_store import (
        _greedy_losers,
    )
    from sales_forecast_pyspark_spark.llmdata.similarity import (
        exact_self_similarity_join,
    )
    from sales_forecast_pyspark_spark.session import get_spark

    spark = get_spark("profile-semantic-peel")
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(
        os.path.join(args.dir, "embeddings.parquet")
    ).select("vec_id", "embedding")
    n_vecs = emb.count()
    d = len(emb.select("embedding").first()[0])

    # the rehearsal leg's construction: dups on odd negatives, fresh
    # hash-random on even negatives, half/half, truncated to the
    # contract-bounded batch size
    half = args.batch_rows // 2
    dups = (
        emb.orderBy("vec_id")
        .limit(half)
        .select((-F.col("vec_id") * 2 - 1).alias("vec_id"), "embedding")
    )
    fresh = (
        emb.orderBy("vec_id")
        .limit(half)
        .select(
            (-F.col("vec_id") * 2 - 2).alias("vec_id"),
            F.expr(
                f"transform(sequence(1, {d}), i -> "
                "cast((pmod(xxhash64(concat('fresh', cast(vec_id as "
                "string), 'x', cast(i as string))), 2000001) - 1000000)"
                " / 1000000.0 as float))"
            ).alias("embedding"),
        )
    )
    batch = dups.unionByName(fresh).localCheckpoint(eager=True)
    n_batch = batch.count()

    tmp = tempfile.mkdtemp(prefix="profile_semantic_peel_")
    path = os.path.join(tmp, "idx")
    t0 = time.time()
    build_ivfpq_index(emb, path)
    build_s = time.time() - t0

    out = {
        "dir": args.dir,
        "n_index_vectors": n_vecs,
        "n_batch": n_batch,
        "d": d,
        "build_s": round(build_s, 2),
    }

    # ---- stage 1: the store screen (the corpus-growth term) ----
    t0 = time.time()
    dup_store = (
        screen_against_ivfpq_index(
            spark,
            path,
            batch,
            threshold=args.threshold,
            exclude_ids=batch.select("vec_id"),
        )
        .select("vec_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_store_hits = dup_store.count()
    out["screen_s"] = round(time.time() - t0, 2)
    out["store_hits"] = n_store_hits

    # ---- stage 2: the in-batch peel ----
    norm = F.sqrt(
        F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)
    )
    normed = (
        batch.withColumn("_n", norm)
        .filter(F.col("_n") > 0)
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: F.try_divide(x, F.col("_n")).cast("float"),
            ).alias("embedding"),
        )
        .localCheckpoint(eager=True)
    )
    dist_t = (2.0 * (1.0 - args.threshold)) ** 0.5
    t0 = time.time()
    pairs = exact_self_similarity_join(
        normed, "vec_id", "embedding", distance_threshold=dist_t
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    pairs = pairs.join(
        dup_store.select(F.col("vec_id").alias("doc_a")), "doc_a", "left_anti"
    ).join(
        dup_store.select(F.col("vec_id").alias("doc_b")), "doc_b", "left_anti"
    )
    peel = _greedy_losers(pairs).localCheckpoint(eager=True)
    out["peel_losers"] = peel.count()
    out["peel_s"] = round(time.time() - t0, 2)

    # ---- stage 3: admission of the survivors ----
    survivors = batch.join(dup_store, "vec_id", "left_anti").join(
        peel.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti"
    )
    t0 = time.time()
    append_to_ivfpq_index(survivors, path, batch_id=1)
    out["admit_s"] = round(time.time() - t0, 2)
    out["survivors"] = survivors.count()

    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
