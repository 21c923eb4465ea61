"""Streaming-tier scale rehearsal: measured evidence for SCALING.md's
streaming dedup claims, one-to-two decades above the testdata scales
(the batch tiers' decades are scripts/scale_rehearsal.py).

1. ``ingest_all`` — the composed TRIAD loop (stream_ingest_dedup_all,
   the engine's one streaming dedup loop) over a four-class engineered
   stream (exact / text / semantic / fresh, one class per verdict).
   Claims: per-class verdict exactness — the short-circuit stage order
   holds under real micro-batching at every decade — plus end-to-end
   throughput and post-drain increment depth across all three stores.
2. ``dedup_screen_ratio`` — a 500-doc MinHash store screen against
   the one-shot ``minhash_near_dedup`` it replaces, per decade.

Usage (generate rehearsal data first — scripts/scale_rehearsal.py gen):

    python scripts/stream_rehearsal.py --dirs /root/testdata/sf0.1 .rehearsal/sf1x

Prints one JSON line per (scale, path) with wall_s / input_rows /
rows_per_s / n_batches / exactness flags, then a
single summary JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


_PROGRESS_CAP_CONF = "spark.sql.streaming.numRecentProgressUpdates"


def _raise_progress_retention(spark) -> None:
    """All totals below are summed from ``recentProgress``, a ring
    buffer capped at this conf (Spark retains at most cap-1 entries) —
    raise it BEFORE starting any measured query."""
    spark.conf.set(_PROGRESS_CAP_CONF, "10000")


def _collect_progress(q) -> list[dict]:
    """Progress entries for a drained query, with a hard guard against
    silent ring-buffer truncation: every rehearsal query runs on a
    fresh checkpoint, so batch ids start at 0 — a first retained entry
    with batchId > 0 means the buffer dropped the head and any summed
    total (input_rows) would be undercounted. This
    anchors on batchId rather than len(progs) because Spark's
    ProgressReporter dequeues down to cap-1 entries, making a
    ``len >= cap`` check unreachable (code-review r08)."""
    progs = [json.loads(p.json) for p in q.recentProgress]
    if progs and int(progs[0].get("batchId", 0)) != 0:
        raise RuntimeError(
            "recentProgress dropped early batches (first retained "
            f"batchId={progs[0].get('batchId')}) — totals would silently "
            f"undercount; raise {_PROGRESS_CAP_CONF} or use fewer, larger "
            "micro-batches"
        )
    return progs


def _progress_stats(progs: list[dict]) -> dict:
    rows = sum(int(p.get("numInputRows", 0)) for p in progs)
    batches = sum(1 for p in progs if int(p.get("numInputRows", 0)) > 0)
    return {"input_rows": rows, "n_batches": batches}


def run_ingest_all(spark, sf_dir) -> dict:
    """The composed TRIAD loop (stream_ingest_dedup_all) — all three
    dedup legs over the same stream, the entry point a real corpus
    pipeline deploys (VERDICT r13 ask #6 wants it measured, not just
    pytest-pinned). The incoming stream carries FOUR engineered
    classes, one per verdict, on structurally disjoint negative id
    ranges (pmod(doc_id, 4): 3=exact copy, 2=text dup, 1=semantic dup,
    0=fresh), each sized |corpus|:

    - EXACT (pmod 3): re-keyed verbatim (text, embedding) copies —
      stage 1's whole-text fp join against the seeded store is
      deterministic, so every row must read ``exact_dup``.
    - TEXT (pmod 2): ``text || ' ' || text`` with a hash-random fresh
      embedding. The store is built with UNIGRAM shingles (n=1) for
      this leg, so doubling the text preserves the shingle SET exactly
      — identical tokens ⇒ identical MinHash signature ⇒ the store
      screen is deterministic (the exactness the other classes get
      from verbatim copies) — while the whole-text md5 differs, so
      stage 1 CANNOT catch it: every row must read ``text_dup``, which
      pins the stage order at scale. Geometry-level (probabilistic)
      recall is the one-shot rows' concern, deliberately not
      re-measured here.
    - SEMANTIC (pmod 1): constructed-fresh disjoint text (so stages
      1-2 pass it) with a verbatim embedding copy — the serving-index
      screen must flag it at cos 1.0: every row must read
      ``semantic_dup``.
    - FRESH (pmod 0): disjoint text + hash-random embedding (pairwise
      cosine 0 ± 1/√64 at any rehearsed scale): every row must read
      ``admitted``.

    Claims measured: per-class verdict EXACTNESS (the short-circuit
    cost ladder holds under real micro-batching), end-to-end wall /
    throughput per decade, and post-drain increment-tier depth across
    ALL THREE stores. Micro-batches are bounded by contract (the
    semantic stage's ``SEARCH_MAX_ROWS``; ~3k-row source files, 8
    files/trigger)."""
    from sales_forecast_pyspark_spark.llmdata import (
        build_fp_store,
        build_ivfpq_index,
        build_minhash_store,
        stream_ingest_dedup_all,
    )
    from sales_forecast_pyspark_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = read_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    # one row per distinct TEXT: the corpus plants exact text dups
    # (sf0.1 carries one pair), and two text-dup-class rows built from
    # the same base text would share their doubled text too — stage
    # 1's in-batch first-wins would then (correctly!) call one of them
    # exact_dup, which is a property of the planted data, not of the
    # stage order this leg pins. localCheckpoint pins WHICH row
    # survives, so the seeded stores and the engineered classes are
    # built from the same frame even if a partition recomputes.
    corpus = (
        docs.join(emb, "doc_id")
        .dropDuplicates(["text"])
        .localCheckpoint(eager=True)
    )
    n_corpus = corpus.count()
    d = len(corpus.select("embedding").first()[0])

    def _rand_vec(tag: str):
        # deterministic hash-random direction, salted per class so the
        # text-dup and fresh classes never share a vector
        return F.expr(
            f"transform(sequence(1, {d}), i -> "
            f"cast((pmod(xxhash64(concat('{tag}', cast(doc_id as string), "
            "'x', cast(i as string))), 2000001) - 1000000) / 1000000.0 "
            "as float))"
        )

    def _fresh_text(tag: str):
        # 60 tokens, unique per (class, source id) — disjoint from the
        # corpus vocabulary and from every other constructed doc
        return F.expr(
            "array_join(transform(sequence(1, 60), "
            f"i -> concat('{tag}', doc_id, 'x', i)), ' ')"
        )

    exact = corpus.select(
        (-F.col("doc_id") * 4 - 1).alias("doc_id"), "text", "embedding"
    )
    text_dup = corpus.select(
        (-F.col("doc_id") * 4 - 2).alias("doc_id"),
        F.concat("text", F.lit(" "), "text").alias("text"),
        _rand_vec("triT").alias("embedding"),
    )
    semantic = corpus.select(
        (-F.col("doc_id") * 4 - 3).alias("doc_id"),
        _fresh_text("g").alias("text"),
        "embedding",
    )
    fresh = corpus.select(
        (-F.col("doc_id") * 4 - 4).alias("doc_id"),
        _fresh_text("f").alias("text"),
        _rand_vec("triF").alias("embedding"),
    )
    incoming = (
        exact.unionByName(text_dup).unionByName(semantic).unionByName(fresh)
    )
    n_incoming = 4 * n_corpus
    tmp = tempfile.mkdtemp(prefix="stream_rehearsal_triad_")
    try:
        src = os.path.join(tmp, "src")
        n_files = max(8, -(-n_incoming // 3125))
        incoming.repartition(int(n_files)).write.parquet(src)
        fp, mh, idx = (
            os.path.join(tmp, "fp"),
            os.path.join(tmp, "mh"),
            os.path.join(tmp, "idx"),
        )
        t0 = time.time()
        build_fp_store(corpus, fp)
        build_minhash_store(corpus, mh, n=1)  # unigram: see docstring
        build_ivfpq_index(
            corpus.select("doc_id", "embedding"), idx, id_col="doc_id"
        )
        build_s = time.time() - t0

        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "8")
            .parquet(src)
        )
        _raise_progress_retention(spark)
        t0 = time.time()
        q = stream_ingest_dedup_all(
            stream,
            fp,
            mh,
            idx,
            survivors_dir=os.path.join(tmp, "out"),
            checkpoint_dir=os.path.join(tmp, "ckpt"),
            auto_compact_after=None,  # measuring post-drain tier depth
        )
        q.awaitTermination()
        wall = time.time() - t0
        out = {"path": "ingest_all", "wall_s": round(wall, 2)}
        out.update(_progress_stats(_collect_progress(q)))
        out["input_rows"] = n_incoming  # source truth
        out["build_s"] = round(build_s, 2)
        from sales_forecast_pyspark_spark.llmdata import lsm
        from sales_forecast_pyspark_spark.llmdata.ann_index import INDEX_TABLES
        from sales_forecast_pyspark_spark.llmdata.dedup_store import (
            MINHASH_TABLES,
        )
        from sales_forecast_pyspark_spark.llmdata.ingest import FP_TABLES

        out["inc_batches"] = (
            len(lsm.list_inc_batches(spark, fp, "fps"))
            + len(lsm.list_inc_batches(spark, mh, "doc_counts"))
            + len(lsm.list_inc_batches(spark, idx, "codes"))
        )
        out["inc_files"] = sum(
            lsm.data_files(spark, os.path.join(p, f"{t}_inc"))
            for p, tables in (
                (fp, FP_TABLES), (mh, MINHASH_TABLES), (idx, INDEX_TABLES)
            )
            for t in tables
        )
        verdicts = (
            spark.read.parquet(os.path.join(tmp, "out"))
            .groupBy(
                F.pmod(F.col("doc_id"), F.lit(4)).alias("cls"), "verdict"
            )
            .count()
            .collect()
        )
        counts = {(r["cls"], r["verdict"]): r["count"] for r in verdicts}
        expected = {
            (3, "exact_dup"): n_corpus,
            (2, "text_dup"): n_corpus,
            (1, "semantic_dup"): n_corpus,
            (0, "admitted"): n_corpus,
        }
        out["class_counts"] = {
            f"{c}:{v}": n for (c, v), n in sorted(counts.items())
        }
        out["per_class"] = n_corpus
        out["triad_exactness"] = bool(counts == expected)
        # post-drain cross-store agreement (VERDICT r14 ask #6): the
        # throughput/verdict measurements above say the LOOP behaved;
        # the consistency report says the three STORES it fed still
        # hold the same admitted set — the audit the maintenance CLI
        # offers operators, asserted here after every rehearsed drain
        from sales_forecast_pyspark_spark.llmdata import (
            triad_consistency_report,
        )

        rep = triad_consistency_report(spark, fp, mh, idx)
        out["triad_consistent"] = bool(rep["consistent"])
        out["strict_consistent"] = bool(rep["strict_consistent"])
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def run_dedup_screen_ratio(spark, sf_dir) -> dict:
    """The screen-vs-reshingle ratio at this corpus decade, made
    reproducible (the r12 numbers in SCALING.md — 2.6× at 20k docs,
    7.8× at 80k — were measured ad hoc; VERDICT r12 ask #5 wants the
    100× point recorded from a rerunnable path): time a 500-doc batch
    SCREEN against a store built on the full corpus, vs the one-shot
    `minhash_near_dedup` over corpus+batch that a store-less pipeline
    would rerun at every ingest. The screen is O(batch) — near-flat
    across decades — while the one-shot re-signatures the corpus AND
    pays the duplicate-family candidate fan-out, so the ratio widens
    with corpus growth; at real ingest cadence the one-shot side is
    paid per batch, making the ratio the per-ingest saving."""
    from sales_forecast_pyspark_spark.llmdata import (
        build_minhash_store,
        screen_against_minhash_store,
    )
    from sales_forecast_pyspark_spark.llmdata.dedup import minhash_near_dedup
    from sales_forecast_pyspark_spark.sources.readers import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    batch = (
        docs.orderBy("doc_id")
        .limit(500)
        .select((-F.col("doc_id") - 1).alias("doc_id"), "text")
    )
    batch = batch.localCheckpoint(eager=True)  # fix the batch off-clock
    tmp = tempfile.mkdtemp(prefix="stream_rehearsal_ratio_")
    try:
        store = os.path.join(tmp, "store")
        t0 = time.time()
        build_minhash_store(docs, store)
        build_s = time.time() - t0
        t0 = time.time()
        n_hits = screen_against_minhash_store(
            batch, store, threshold=0.5
        ).count()
        screen_s = time.time() - t0
        t0 = time.time()
        n_oneshot = minhash_near_dedup(
            docs.unionByName(batch), threshold=0.5
        ).count()
        oneshot_s = time.time() - t0
        # the ratio of the REPORTED (rounded) times, so a reader can
        # recompute it from the same record
        screen_s, oneshot_s = round(screen_s, 2), round(oneshot_s, 2)
        return {
            "path": "dedup_screen_ratio",
            "corpus_docs": n_docs,
            "batch_docs": 500,
            "build_s": round(build_s, 2),
            "screen_s": screen_s,
            "oneshot_s": oneshot_s,
            "ratio": round(oneshot_s / max(screen_s, 1e-9), 2),
            "screen_hits": n_hits,
            "oneshot_pairs": n_oneshot,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


PATHS = {
    "ingest_all": run_ingest_all,
    "dedup_screen_ratio": run_dedup_screen_ratio,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="+",
                    default=["/root/testdata/sf0.1", ".rehearsal/sf1x"])
    ap.add_argument("--paths", nargs="+", default=list(PATHS),
                    choices=list(PATHS))
    args = ap.parse_args()

    from sales_forecast_pyspark_spark.session import get_spark

    spark = get_spark("stream-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")

    summary: dict[str, dict] = {}
    for sf_dir in args.dirs:
        label = os.path.basename(os.path.normpath(sf_dir))
        summary[label] = {}
        for path in args.paths:
            res = PATHS[path](spark, sf_dir)
            res["scale"] = label
            # dedup_screen_ratio reports component timings, not a
            # streamed row total — no throughput line for it
            if res.get("wall_s") and "input_rows" in res:
                res["rows_per_s"] = round(res["input_rows"] / res["wall_s"])
            print(json.dumps(res), flush=True)
            summary[label][path] = res
    print(json.dumps({"summary": summary}), flush=True)


if __name__ == "__main__":
    main()
