"""``dedup_ingest``: the triad dedup stores under an ingest stream and a
serve load.

Set-up builds the three seed stores over a corpus of documents joined
with their embeddings (``build_fp_store``, ``build_minhash_store`` with
unigram shingles, ``build_ivfpq_index``) in the fresh session, as a
scheduled ingest job would; the three builds are independent and run
side by side, one thread each. Each round then lands one engineered
micro-batch file, drains it through ``stream_ingest_dedup_all``
(availableNow, one micro-batch), and runs one ``query_ivfpq_index``
serve batch. The micro-batch holds four classes drawn from the corpus,
one per verdict (as in the stream rehearsal's triad leg): exact copies
(``exact_dup``), doubled texts with fresh embeddings (``text_dup``),
fresh texts with copied embeddings (``semantic_dup``) and fresh rows
(``admitted``).

After the measured rounds, a traced run ingests one more micro-batch by
calling the loop's stage functions directly, in the loop's order (fp
screen, MinHash screen, IVF-PQ screen, exact in-batch self-join, the
three appends), which splits the time that one ``foreachBatch`` call
hides.

Off the clock, after the last round: the first serve batch's top-1
against exact ``cosine_topk``, every row's verdict against its
class, and ``triad_consistency_report`` must be strictly consistent.

The corpus and the seed stores come from the engine's fixed testdata;
the seed picks the engineered rows and the serve queries.

Op: one serve batch. Pass: a round (ingest plus serve). Named figures:
``store_build_s`` (the three seed-store builds), ``ingest_batch_p50_s``
(one drained micro-batch), ``ingest_rows_per_s`` (rows streamed over
the rounds' ingest wall time) and ``serve_p50_s`` / ``serve_p90_s``.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from spine import end_to_end, figure, layer_medians, median, sample_values

N_CORPUS = 200
PER_CLASS = 10
SERVE_QUERIES = 20
K = 5
COS_THRESHOLD = 0.9
INDEX_PARAMS = {"n_centroids": 8, "m": 1, "codebook_k": 16}
DIRECT_BATCH_BASE = 1_000_000  # batch ids of directly called rounds
# pmod(doc_id, 4) of an engineered row -> its expected verdict
CLASSES = {3: "exact_dup", 2: "text_dup", 1: "semantic_dup", 0: "admitted"}
SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                    ("embedding", pa.list_(pa.float32()))])


class Stores:
    def __init__(self, ctx):
        self.fp, self.mh, self.idx = (ctx.path("stores", s) for s in ("fp", "mh", "idx"))
        self.src = ctx.path("stream", "src")
        self.direct = ctx.path("direct")
        self.ckpt = ctx.path("stream", "ckpt")
        self.out = ctx.path("stream", "survivors")
        os.makedirs(self.src, exist_ok=True)
        os.makedirs(self.direct, exist_ok=True)


def load_corpus(ctx):
    tab = pq.read_table(os.path.join(ctx.data, "documents.parquet"),
                        columns=["doc_id", "text"]).to_pandas()
    emb = pq.read_table(os.path.join(ctx.data, "embeddings.parquet"),
                        columns=["vec_id", "embedding"]).to_pandas()
    corpus = tab.merge(emb.rename(columns={"vec_id": "doc_id"}), on="doc_id")
    return corpus.sort_values("doc_id").head(N_CORPUS).reset_index(drop=True)


def engineered_batch(corpus, seed: int, rnd: int):
    """One micro-batch: PER_CLASS rows of each class, keyed so that
    ``pmod(doc_id, 4)`` names the class and ids never repeat."""
    rng = np.random.default_rng([seed, rnd])
    picks = rng.choice(len(corpus), size=PER_CLASS, replace=False)
    ids, texts, vecs = [], [], []
    d = len(corpus["embedding"][0])
    for i in picks:
        base = (rnd * 100_000 + int(corpus["doc_id"][i])) * 4
        text, vec = corpus["text"][i], np.asarray(corpus["embedding"][i], np.float32)

        def fresh(tag):
            return " ".join(f"{tag}{rnd}x{base}x{j}" for j in range(60))

        rows = (
            (-base - 1, text, vec),
            (-base - 2, f"{text} {text}", rng.standard_normal(d).astype(np.float32)),
            (-base - 3, fresh("g"), vec),
            (-base - 4, fresh("f"), rng.standard_normal(d).astype(np.float32)),
        )
        for doc_id, t, v in rows:
            ids.append(doc_id)
            texts.append(t)
            vecs.append(v)
    return pa.table({"doc_id": ids, "text": texts, "embedding": [list(v) for v in vecs]},
                    schema=SCHEMA)


def serve_queries(corpus, seed: int, rnd: int):
    """Corpus vectors with a little noise: each has one clear nearest
    neighbour, the corpus row it came from."""
    rng = np.random.default_rng([seed, rnd, 7])
    picks = rng.choice(len(corpus), size=SERVE_QUERIES, replace=False)
    vecs = [np.asarray(corpus["embedding"][i], np.float32)
            + rng.normal(0.0, 0.02, len(corpus["embedding"][i])).astype(np.float32)
            for i in picks]
    return [(-1 - int(i), [float(x) for x in v]) for i, v in zip(picks, vecs)]


def build(ctx, st: Stores, corpus_df) -> float:
    from sales_forecast_pyspark_spark.llmdata import (
        build_fp_store,
        build_ivfpq_index,
        build_minhash_store,
    )

    t0 = time.perf_counter()
    ctx.tracer.parallel({
        "llmdata.ingest.fp_build": lambda: build_fp_store(corpus_df, st.fp),
        # unigram shingles: a doubled text keeps its set, so text_dup is exact
        "llmdata.dedup_store.build": lambda: build_minhash_store(corpus_df, st.mh, n=1),
        "llmdata.ann_index.build": lambda: build_ivfpq_index(
            corpus_df.select("doc_id", "embedding"), st.idx, id_col="doc_id",
            **INDEX_PARAMS),
    })
    return time.perf_counter() - t0


def stream_round(ctx, st: Stores) -> tuple[list, str]:
    """Drain the landed files; returns the query's progress reports and
    its run id."""
    from sales_forecast_pyspark_spark.llmdata import stream_ingest_dedup_all

    stream = (ctx.spark.readStream.schema(_spark_schema())
              .option("maxFilesPerTrigger", "1").parquet(st.src))
    q = stream_ingest_dedup_all(stream, st.fp, st.mh, st.idx,
                                survivors_dir=st.out, checkpoint_dir=st.ckpt,
                                auto_compact_after=None)
    q.awaitTermination()
    return [json.loads(p.json) for p in q.recentProgress], str(q.runId)


def direct_round(ctx, st: Stores, path: str, batch_id: int) -> dict:
    """The loop's stages called one by one on one batch; returns
    {doc_id: verdict}."""
    from pyspark.sql import functions as F

    from sales_forecast_pyspark_spark.llmdata import (
        append_to_fp_store,
        append_to_ivfpq_index,
        append_to_minhash_store,
        screen_against_fp_store,
        screen_against_minhash_store,
    )
    from sales_forecast_pyspark_spark.llmdata.ann_index import screen_against_ivfpq_index
    from sales_forecast_pyspark_spark.llmdata.similarity import exact_self_similarity_join

    spark, tr = ctx.spark, ctx.tracer
    b = spark.read.parquet(path).cache()

    def ids(df):
        return {r[0] for r in df.collect()}

    with tr.span("llmdata.ingest.fp_screen"):
        exact = ids(screen_against_fp_store(b, st.fp).select("doc_id").distinct())
    s1 = b.filter(~F.col("doc_id").isin(list(exact))).localCheckpoint(eager=True)
    with tr.span("llmdata.dedup_store.screen"):
        text = ids(screen_against_minhash_store(s1, st.mh, threshold=0.5)
                   .select("doc_id").distinct())
    s2 = s1.filter(~F.col("doc_id").isin(list(text))).localCheckpoint(eager=True)
    with tr.span("llmdata.ann_index.screen"):
        sem = ids(screen_against_ivfpq_index(
            spark, st.idx, s2.select("doc_id", "embedding"), id_col="doc_id",
            threshold=COS_THRESHOLD, k=K, exclude_ids=s2.select("doc_id"),
        ).select("vec_id").distinct())
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
    normed = s2.select("doc_id", F.transform(
        "embedding", lambda x: (x / norm).cast("float")).alias("embedding"))
    with tr.span("llmdata.similarity.self_join") as rec:
        pairs = exact_self_similarity_join(
            normed, "doc_id", "embedding",
            distance_threshold=(2.0 * (1.0 - COS_THRESHOLD)) ** 0.5).collect()
    rec["pairs"] = len(pairs)
    sem |= {max(r["id_a"], r["id_b"]) for r in pairs}
    survivors = s2.filter(~F.col("doc_id").isin(list(sem))).localCheckpoint(eager=True)
    with tr.span("llmdata.ingest.fp_append"):
        append_to_fp_store(survivors, st.fp, batch_id=batch_id)
    with tr.span("llmdata.dedup_store.append"):
        append_to_minhash_store(survivors, st.mh, batch_id=batch_id)
    with tr.span("llmdata.ann_index.append"):
        append_to_ivfpq_index(survivors.select("doc_id", "embedding"), st.idx,
                              id_col="doc_id", batch_id=batch_id)
    b.unpersist()
    verdicts = {i: "admitted" for i in ids(survivors.select("doc_id"))}
    for name, found in (("exact_dup", exact), ("text_dup", text), ("semantic_dup", sem)):
        verdicts.update(dict.fromkeys(found, name))
    return verdicts


def _spark_schema():
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StringType, StructField, StructType,
    )

    return StructType([StructField("doc_id", LongType()),
                       StructField("text", StringType()),
                       StructField("embedding", ArrayType(FloatType()))])


def serve(ctx, st: Stores, queries) -> list:
    from sales_forecast_pyspark_spark.llmdata import query_ivfpq_index

    qdf = ctx.spark.createDataFrame(queries, "doc_id long, embedding array<float>")
    return query_ivfpq_index(ctx.spark, st.idx, qdf, id_col="doc_id", k=K).collect()


def check_recall(ctx, corpus_df, queries, served) -> None:
    """Top-1 of a served batch against exact ``cosine_topk``."""
    from sales_forecast_pyspark_spark.llmdata.similarity import cosine_topk

    got = {r["query_id"]: r["neighbor_id"] for r in served if r["rank"] == 1}
    qdf = ctx.spark.createDataFrame(queries, "doc_id long, embedding array<float>")
    want = {r["query_id"]: r["neighbor_id"] for r in cosine_topk(
        corpus_df.select("doc_id", "embedding"), qdf, id_col="doc_id", k=1).collect()
        if r["rank"] == 1}
    hits = sum(got.get(q) == n for q, n in want.items())
    ctx.check(len(want) == len(queries) and hits == len(want),
              f"serve top-1 recall {hits}/{len(want)} of {len(queries)}")


def check_verdicts(ctx, st: Stores, direct: dict) -> None:
    from pyspark.sql import functions as F

    rows = (ctx.spark.read.parquet(st.out)
            .groupBy(F.pmod("doc_id", F.lit(4)).alias("cls"), "verdict").count()
            .collect())
    streamed = {(r["cls"], r["verdict"]): r["count"] for r in rows}
    wrong = {k: n for k, n in streamed.items() if CLASSES[k[0]] != k[1]}
    ctx.check(not wrong and sum(streamed.values()) > 0,
              f"streamed verdicts off class: {wrong}")
    wrong = {i: v for i, v in direct.items() if CLASSES[i % 4] != v}
    ctx.check(not wrong, f"direct verdicts off class: {list(wrong.items())[:5]}")


def lsm_layers(spark, st: Stores, input_bytes: int) -> dict:
    from sales_forecast_pyspark_spark.llmdata import lsm

    tiers = ((st.fp, ("fps",)),
             (st.mh, ("signatures", "buckets", "fingerprints", "doc_counts")),
             (st.idx, ("codes", "vectors", "stats_live")))
    batches = files = 0
    for path, tables in tiers:
        batches += len(lsm.list_inc_batches(spark, path, tables[0]))
        files += sum(lsm.data_files(spark, os.path.join(path, f"{t}_inc"))
                     for t in tables)
    stored = sum(lsm.dir_bytes(spark, p) for p, _ in tiers)
    return {"llmdata.lsm.inc_batches": batches, "llmdata.lsm.inc_files": files,
            "llmdata.lsm.store_bytes_per_input_byte": stored / max(1, input_bytes)}


def run(ctx):
    from sales_forecast_pyspark_spark.llmdata import triad_consistency_report

    spark, tr = ctx.spark, ctx.tracer
    st = Stores(ctx)
    corpus = load_corpus(ctx)
    corpus_df = spark.createDataFrame(
        corpus, "doc_id long, text string, embedding array<float>")
    input_bytes = 0

    def land(rnd: int, into: str) -> str:
        nonlocal input_bytes
        path = os.path.join(into, f"round_{rnd:05d}.parquet")
        pq.write_table(engineered_batch(corpus, ctx.seed, rnd), path)
        input_bytes += os.path.getsize(path)
        return path

    setup_s = build(ctx, st, corpus_df)

    serves: list[dict] = []
    ingest_spans: list[dict] = []
    passes: list[dict] = []
    progress: list[dict] = []
    first_serve = None
    end = time.perf_counter() + ctx.seconds
    while not passes or time.perf_counter() < end:
        rnd = len(passes) + 1
        tr.pass_no = len(passes)
        land(rnd, st.src)
        queries = serve_queries(corpus, ctx.seed, rnd)
        ctx.attempted += 2
        try:
            with tr.span("round") as round_rec:
                with tr.span("ingest", key="stream") as ingest:
                    prog, run_id = stream_round(ctx, st)
                    tr.count_group(ingest, run_id)
                progress += prog
                with tr.span("llmdata.ann_index.query") as rec:
                    served = serve(ctx, st, queries)
        except Exception as e:  # noqa: BLE001 - a failed op, not a crash
            ctx.fail(f"round {rnd}: {e!r}")
            break  # its latency counts as missing; the stores may be torn
        serves.append(rec)
        ingest_spans.append(ingest)
        passes.append(round_rec)
        first_serve = first_serve or (queries, served)
    direct: dict = {}
    if ctx.trace:
        # one more round, off the measured loop, through the stage functions
        rnd = len(passes) + 1
        tr.pass_no = "direct"
        path = land(rnd, st.direct)
        ctx.attempted += 1
        try:
            direct = direct_round(ctx, st, path, DIRECT_BATCH_BASE + rnd)
        except Exception as e:  # noqa: BLE001
            ctx.fail(f"direct round: {e!r}")
    tr.pass_no = None

    # the checks read what the rounds wrote and change nothing: side by side
    checks = {"check.verdicts": lambda: check_verdicts(ctx, st, direct),
              "check.triad_report": lambda: triad_consistency_report(
                  spark, st.fp, st.mh, st.idx)}
    if first_serve:
        checks["check.recall"] = lambda: check_recall(ctx, corpus_df, *first_serve)
    report = tr.parallel(checks)["check.triad_report"]
    ctx.check(bool(report["strict_consistent"]), f"triad report: {report}")

    ctx.samples.update(passes=len(passes), serves=len(serves))
    ctx.extra["values"] = sample_values(passes, serves)
    e2e = end_to_end(setup_s, passes, serves)
    ingests = [s["wall_s"] for s in ingest_spans]
    rows = sum(p.get("numInputRows", 0) for p in progress)
    serve_s = [s["wall_s"] for s in serves]
    ctx.extra["named"] = {
        "store_build_s": figure([setup_s]),
        "ingest_batch_p50_s": figure(ingests),
        "ingest_rows_per_s": {"value": rows / sum(ingests) if ingests else None,
                              "unit": "1/s", "n": len(ingests), "rows": rows},
        "serve_p50_s": figure(serve_s),
        "serve_p90_s": figure(serve_s, q=0.9),
    }
    layers = {}
    if ctx.trace:
        query = layer_medians(tr.spans, range(len(passes))).get("llmdata.ann_index.query", {})
        one = {s["name"]: s for s in tr.spans if s["pass"] in (None, "direct")}
        wall = lambda n: one[n]["wall_s"] if n in one else 0.0  # noqa: E731
        dur = [p["durationMs"] for p in progress if p.get("numInputRows", 0)]
        layers.update({
            f"{n}_s": wall(n) for n in (
                "llmdata.ingest.fp_build", "llmdata.ingest.fp_screen",
                "llmdata.ingest.fp_append", "llmdata.dedup_store.build",
                "llmdata.dedup_store.screen", "llmdata.dedup_store.append",
                "llmdata.similarity.self_join", "llmdata.ann_index.build",
                "llmdata.ann_index.screen", "llmdata.ann_index.append")
        })
        layers.update({
            "llmdata.similarity.pairs": one.get("llmdata.similarity.self_join", {}).get("pairs", 0),
            "llmdata.ann_index.append_jobs": one.get(
                "llmdata.ann_index.append", {}).get("counters", {}).get("jobs", 0),
            "llmdata.ann_index.query_s": query.get("wall_s", 0.0),
            "llmdata.ann_index.query_jobs": query.get("jobs", 0.0),
            "streaming.batches": len(dur),
            "streaming.add_batch_s": median(d.get("addBatch", 0) / 1e3 for d in dur),
            "streaming.commit_s": median(
                (d.get("commitOffsets", 0) + d.get("walCommit", 0)) / 1e3 for d in dur),
        })
        layers.update(lsm_layers(spark, st, input_bytes))
    return e2e, layers
