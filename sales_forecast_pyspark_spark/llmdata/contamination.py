"""Benchmark-contamination detection: find corpus documents that share
word n-grams with a held-out evaluation/benchmark set.

The standard pre-training hygiene pass (the GPT-3 paper's 13-gram
dedup-against-evals, PaLM's n-gram overlap filters): before training,
every corpus document is checked for verbatim n-gram overlap with the
benchmark suite, and contaminated documents are dropped or flagged so
eval numbers stay honest.

Shape at 100 TB: the benchmark side is tiny relative to the corpus
(eval suites are millions of n-grams at most), so its distinct n-gram
set broadcasts and the whole check is a map-side hash semi-join over
one explode of the corpus — no corpus-sized shuffle. For benchmark
sets too large to broadcast there is an equality shuffle-join fallback
(`broadcast_bench=False`); either way nothing is quadratic. N-grams
reuse the corpus tokenizer (`tokens_expr`), so contamination, dedup,
and token accounting all agree on what a token is.
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.llmdata.text import ngrams_expr


def _distinct_grams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram) rows, one per DISTINCT n-gram per document. The
    per-document dedup happens inside `array_distinct` BEFORE the
    explode, so the shuffle-free fan-out is bounded by document token
    count, never inflated by in-document repetition."""
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(ngrams_expr(text_col, n))).alias("gram"),
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per-document contamination report against a benchmark set.

    Returns one row per CONTAMINATED corpus document:
    ``(id, n_grams, n_hits)`` where ``n_grams`` is the document's
    distinct n-gram count and ``n_hits`` how many of those appear
    anywhere in the benchmark. Both are exact integers (the
    hit ratio has a document-dependent denominator, so counts — not a
    pre-divided float — keep results bit-exact across engines; divide
    downstream). Clean documents are absent: at corpus scale the
    interesting output is the violation list, not a full-corpus
    projection.

    Join strategy: the benchmark's distinct grams are broadcast by
    default (eval suites are small); pass ``broadcast_bench=False``
    to fall back to an equality shuffle join for oversized sets.
    """
    bench_grams = (
        benchmark.select(
            F.explode(F.array_distinct(ngrams_expr(text_col, n))).alias("gram")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_bench:
        bench_grams = F.broadcast(bench_grams)
    else:
        # the caller asserts the benchmark is NOT broadcast-small: pin
        # the shuffle join explicitly — the gram frame sits behind an
        # explode, so leaving the choice to static estimates risks the
        # un-demotable fictional-broadcast class (audit r09)
        bench_grams = bench_grams.hint("merge")
    doc_grams = _distinct_grams(corpus, id_col, text_col, n)
    # Mark-then-aggregate: a LEFT join against the (distinct) benchmark
    # grams tags each doc gram in place — map-side under the default
    # broadcast — and ONE per-doc aggregation derives both counts
    # (n_grams = all rows, n_hits = tagged rows). The previous shape
    # aggregated n_grams and n_hits separately and joined the two
    # per-doc frames back together: a second full-corpus-gram shuffle
    # plus a doc-scale join, for counts one pass already had.
    return (
        doc_grams.join(bench_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
        .select(id_col, "n_grams", "n_hits")
    )


