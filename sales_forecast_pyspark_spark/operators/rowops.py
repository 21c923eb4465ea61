"""Row-level operators: dedup, null repair, sampling, time split.

Reference operators P4-P9 (SURVEY.md §2.2).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dedup_exact(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact deduplication (reference P6, Sales_forecast_pyspark.py:99).

    Physically a hash-aggregate over all (or ``subset``) columns — one
    shuffle keyed on the dedup columns. At 100 TB this is the cheapest
    exact strategy Spark has; near-dup alternatives live in
    ``llmdata.dedup``.
    """
    return df.dropDuplicates(subset) if subset else df.dropDuplicates()


def null_repair(
    df: DataFrame,
    fill: dict[str, object] | None = None,
    coalesce_to_zero: list[str] | None = None,
) -> DataFrame:
    """Null repair (reference P7): per-column ``coalesce(c, 0)``
    (py:617-643) and bulk ``fillna`` (py:969-982)."""
    if coalesce_to_zero:
        df = df.select(
            *[
                F.coalesce(F.col(c), F.lit(0)).alias(c) if c in coalesce_to_zero else F.col(c)
                for c in df.columns
            ]
        )
    if fill:
        df = df.fillna(fill)
    return df


def deterministic_sample(
    df: DataFrame, key: str, modulus: int, keep: int = 0
) -> DataFrame:
    """Deterministic 1/modulus sample by the residue of a numeric key.

    The reference samples with ``df.sample(0.2, seed=42)`` (py:1971) —
    seed-stable within Spark but not reproducible by an external oracle.
    Keyed residue sampling gives cross-engine determinism and is
    partition-prunable; use ``df.sample`` when statistical randomness
    matters more than reproducibility.
    """
    return df.filter(F.pmod(F.col(key), F.lit(modulus)) == keep)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict,
    seed: int = 42,
    deterministic: bool = False,
    key: str | None = None,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-stratum sampling — the training-data rebalancing primitive
    (downweight an over-represented language/source, upweight a rare
    one). ``fractions`` maps stratum value → keep probability; strata
    absent from the map are dropped (fraction 0), matching
    ``DataFrame.sampleBy``.

    Two modes:
    - ``deterministic=False``: ``sampleBy`` — per-row Bernoulli draws,
      seed-stable within one Spark version but NOT reproducible by an
      external engine, and approximate counts (binomial variance).
    - ``deterministic=True``: keyed-hash thresholding — keep a row iff
      ``pmod(xxhash64(all columns, seed), 1e6) < frac·1e6``. Exactly
      reproducible anywhere xxhash64 exists, stable under repartition,
      and the sample is a deterministic FUNCTION of the row: the same
      row always lands in (or out of) the sample across reruns —
      what you want for reproducible training mixtures.

    ``key`` (deterministic mode only) thresholds the RAW residue of one
    numeric key column instead of hashing the whole row:
    ``pmod(key, 1e6) < frac·1e6``. Use it when the key is a
    well-spread surrogate id and the sample must be reproducible by
    engines without xxhash64 (the DuckDB oracle) — same determinism,
    one caveat: clustered keys bias the slice (dense sequential ids are
    only uniform modulo a ``scale`` much smaller than the id range —
    size ``scale`` accordingly), so prefer the hashed default unless
    cross-engine reproducibility is required.

    Both are one narrow filter pass: no shuffle, predicate-pushdown
    friendly."""
    if not deterministic:
        return df.sampleBy(strata_col, fractions=fractions, seed=seed)
    h = (
        F.pmod(F.col(key), F.lit(scale))
        if key is not None
        else F.pmod(F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed)), F.lit(scale))
    )
    threshold = F.create_map(
        *[x for v, frac in fractions.items() for x in (F.lit(v), F.lit(int(frac * scale)))]
    )[F.col(strata_col)]
    return df.filter(h < F.coalesce(threshold, F.lit(0)))


def weighted_sample(
    df: DataFrame,
    strata: Sequence[str],
    weight_col: str,
    k: int,
    id_cols: Sequence[str],
    seed: int = 42,
) -> DataFrame:
    """Weighted reservoir sample (A-Res, Efraimidis & Spirakis 2006):
    the ``k`` rows per stratum with the largest priority
    ``u^(1/w)`` — equivalently the largest ``ln(u)/w`` — where ``u`` is
    a per-row uniform. Inclusion probability is proportional to
    ``weight_col`` without ever materializing cumulative weights, and
    the whole thing is one window top-k: shuffle on the strata, no
    driver state — the distributed-and-exact way to draw "sample 10k
    docs per language, weighted by quality" from 100 TB.

    Determinism: ``u`` is not random — it is derived from
    ``md5(seed | id_cols)`` (first 8 hex digits + 0.5, scaled by 2^32:
    an exactly-representable dyadic rational in (0,1)), so the sample
    is a pure function of row identity + seed: reproducible across
    engines (the DuckDB oracle computes the same u), reruns, and
    repartitions, and a different ``seed`` is a fresh draw. Rows with
    non-positive weight are excluded (zero weight == never sampled).
    The priority itself is never output — only membership and rank —
    which removes the COMMON ulp hazard (hashing a transcendental
    result directly). A residual risk remains in principle: membership
    is ordered by ``ln(u)/w``, so two rows whose priorities differ by
    ~1 ulp could rank differently if the engines' ``ln`` rounds
    differently on those inputs. With md5-derived dyadic-rational u's
    exact priority ties are impossible and near-ties at 1-ulp distance
    are vanishingly rare (none at any test SF); accepted rather than
    quantized, since quantizing only relocates the boundary."""
    ids = F.concat_ws(
        "|", F.lit(str(seed)), *[F.col(c).cast("string") for c in id_cols]
    )
    u = (
        F.conv(F.substring(F.md5(ids), 1, 8), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(float(2**32))
    priority = F.log(u) / F.col(weight_col)
    win = Window.partitionBy(*strata).orderBy(
        F.desc(priority), *[F.asc(c) for c in id_cols]
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("sample_rank", F.row_number().over(win))
        .filter(F.col("sample_rank") <= k)
    )


def time_split(
    df: DataFrame, date_col: str, cutoff: str
) -> tuple[DataFrame, DataFrame]:
    """Train/test time split (reference P4, py:366-369): train rows have
    ``date <= cutoff``, test rows ``date > cutoff``. Applied AFTER window
    features are computed — filters must not cut window history
    (SURVEY.md §4 row 1)."""
    train = df.filter(F.col(date_col) <= F.lit(cutoff))
    test = df.filter(F.col(date_col) > F.lit(cutoff))
    return train, test


def epoch_shuffle(
    df: DataFrame,
    key: str,
    epoch: int = 0,
    order_col: str = "shuffle_order",
) -> DataFrame:
    """Deterministic training-epoch shuffle: a total order from
    ``md5(key || ':' || epoch)`` — every epoch is a different but fully
    reproducible permutation of the corpus, identical across engines
    (md5 is everywhere), partition counts, and reruns; exactly what a
    trainer feed needs where ``orderBy(rand(seed))`` is Spark-internal
    and ``repartition`` order is nondeterministic.

    One range shuffle (the global sort). At 100 TB a full sort per
    epoch is real cost — the standard cheat is to shuffle SHARD order
    plus intra-shard order (sequence packing's hashed shards already
    give the former), but when a true global permutation is required
    this is its reproducible form. Ties are impossible (md5 over
    distinct keys); duplicate keys order together — pass a unique key.
    """
    h = F.md5(F.concat_ws(":", F.col(key).cast("string"), F.lit(str(epoch))))
    return df.withColumn(order_col, h).orderBy(order_col)


def latest_snapshot(
    df: DataFrame,
    keys: list[str],
    version_cols: list[str],
) -> DataFrame:
    """Keep only the NEWEST record per key — the CDC-compaction /
    changelog-to-snapshot pattern (a mutable table arriving as an append
    stream of versions collapses to its current state).

    ``version_cols`` must be a total order within each key (put a unique
    id last as the tie-break); otherwise "newest" is partition-order-
    dependent and the snapshot is nondeterministic. One shuffle on the
    keys (row_number window), no join — the shape that survives a
    billion-key changelog.
    """
    from sales_forecast_pyspark_spark.operators.aggregates import grouped_top_k

    order = [F.col(c).desc() for c in version_cols]
    return grouped_top_k(df, keys, order, 1, rank_col="__rn").drop("__rn")


def scd2_intervals(
    df: DataFrame,
    keys: list[str],
    version_cols: list[str],
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a changelog — the
    HISTORY twin of ``latest_snapshot``: every version of every key is
    kept, annotated with its validity interval. ``valid_from`` is the
    row's own first version column; ``valid_to`` is the NEXT version's
    ``valid_from`` (half-open [from, to) intervals — they tile each
    key's timeline with no gaps or overlaps); the newest row per key
    gets a null ``valid_to`` and ``is_current`` true.

    ``version_cols`` must totally order each key's versions (unique
    tie-break last), exactly as in ``latest_snapshot`` — same reason:
    otherwise lead() is partition-order-dependent. One shuffle on the
    keys (a single window), no join; point-in-time lookups against the
    result are ``asof_join``s or a ``valid_from <= t < valid_to``
    interval join, both already in the operator set."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in version_cols])
    first_version = version_cols[0]
    return (
        df.withColumn(valid_from_col, F.col(first_version))
        .withColumn(valid_to_col, F.lead(valid_from_col).over(w))
        .withColumn(current_col, F.col(valid_to_col).isNull())
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str | None = None,
) -> DataFrame:
    """Per-group percentile clipping (winsorization) — the outlier
    treatment for heavy-tailed panel features: values below the group's
    ``lo`` quantile or above its ``hi`` quantile are pulled to the cut.

    Implemented as a two-pass aggregate-and-join rather than a
    whole-partition window: one hash-aggregate computes both exact
    interpolated cuts per group, then an equi-join (broadcast when the
    group table is small) applies them. That keeps the plan
    sort-free — a ``PARTITION BY group`` window with an unbounded frame
    would shuffle AND sort every row, and collapse onto single tasks
    for giant groups; the agg+join form scales with the grouped
    aggregate like every other rollup here.

    Exact `F.percentile` (not approx) so results are engine-portable:
    its linear interpolation is bit-identical to DuckDB/ANSI
    ``quantile_cont`` on double input (proven in the sketch-tier
    oracles). Nulls pass through unclipped (SQL aggregate semantics
    drop them from the cut computation).
    """
    out_col = out_col or f"{value_col}_w"
    v = F.col(value_col)
    cuts = df.groupBy(*group_cols).agg(
        F.percentile(v, F.lit(float(lo))).alias("_lo_cut"),
        F.percentile(v, F.lit(float(hi))).alias("_hi_cut"),
    )
    # Explicit null guard: SQL LEAST/GREATEST *skip* nulls (in Spark and
    # DuckDB alike), which would silently clip a null value to the hi
    # cut instead of passing it through.
    clipped = F.when(
        v.isNotNull(), F.greatest("_lo_cut", F.least("_hi_cut", v))
    )
    return (
        df.join(cuts, group_cols)
        .withColumn(out_col, clipped)
        .drop("_lo_cut", "_hi_cut")
    )


def funnel_counts(
    df: DataFrame,
    steps: list[str],
    id_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered-funnel analysis: how many entities completed step 1,
    then step 2 STRICTLY AFTER their step 1, then step 3 after that,
    and so on — each step matched at its EARLIEST eligible time (the
    standard funnel semantics: earliest-entry, strict ordering, no
    window cap; compose with a time-range filter upstream for bounded
    windows).

    Shape: one filtered hash-aggregate per step, each keyed on
    ``id_col`` (len(steps) passes over progressively smaller frames —
    step frames shrink monotonically, so the expensive pass is the
    first). No window functions, no self-join on the raw events: at
    100 TB each stage is a key-partitioned agg over one event type's
    rows. Returns (step_idx, step, n_entities) with step_idx 1-based,
    monotonically non-increasing counts."""
    spark = df.sparkSession
    prev = None
    counts = []
    for i, step in enumerate(steps):
        ev = df.filter(F.col(type_col) == step).select(
            F.col(id_col).alias("_id"), F.col(ts_col).alias("_ts")
        )
        if prev is None:
            prev = ev.groupBy("_id").agg(F.min("_ts").alias("_t"))
        else:
            prev = (
                ev.join(prev, "_id")
                .filter(F.col("_ts") > F.col("_t"))
                .groupBy("_id")
                .agg(F.min("_ts").alias("_t"))
            )
        counts.append((i + 1, step, prev))
    rows = [
        frame.agg(
            F.lit(idx).alias("step_idx"),
            F.lit(name).alias("step"),
            F.count(F.lit(1)).alias("n_entities"),
        )
        for idx, name, frame in counts
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step_idx")


def scd2_apply_changes(
    existing: DataFrame,
    changes: DataFrame,
    keys: list[str],
    version_cols: list[str],
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Incremental SCD-2 maintenance: fold a batch of new versions into
    an existing ``scd2_intervals`` table WITHOUT rewriting untouched
    history — the MERGE-INTO shape for dimension tables.

    The result is bit-equal to rebuilding ``scd2_intervals`` over the
    combined changelog (pinned by test), but the work is proportional to
    the TOUCHED keys, not the table: keys absent from the batch pass
    through via a left-anti join (they ship only their key columns to
    the join, and at 100 TB a key-bucketed layout makes both sides of
    the touch-split bucket-local); keys present in the batch have their
    full timeline rebuilt — which also makes LATE-ARRIVING versions
    correct for free, because a touched key's intervals are re-derived
    from scratch, not appended to (the classic append-only MERGE bug
    when a version lands out of order).

    ``changes`` must carry the original changelog columns (the same
    schema ``scd2_intervals`` was first built from); ``existing`` is a
    prior ``scd2_intervals`` output — its derived interval columns are
    dropped and re-derived for touched keys.
    """
    touched = changes.select(*keys).distinct()
    untouched = existing.join(touched, keys, "left_anti")
    touched_changelog = existing.join(touched, keys, "left_semi").drop(
        valid_from_col, valid_to_col, current_col
    )
    rebuilt = scd2_intervals(
        touched_changelog.unionByName(changes),
        keys,
        version_cols,
        valid_from_col,
        valid_to_col,
        current_col,
    )
    return untouched.unionByName(rebuilt)
