"""Structured Streaming over the events and lineitem tables: readStream
sources, watermarked tumbling-window aggregation, streaming last-touch
attribution, foreachBatch maintenance of the panel's partial state, and
an availableNow runner for batch-equivalence testing.

The reference is batch-only (SURVEY.md §2.10); this module is the
streaming extension the driver's events table invites. Design rules:
event-time semantics via watermarks (late data beyond the watermark is
dropped, state is bounded), the SAME window expressions as the batch
queries so batch-stream equivalence is testable, and checkpointable
sinks in production (the memory sink here is for tests/demos).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.operators.windows import (
    DEFAULT_CONVERSION_TYPE,
    DEFAULT_TOUCH_TYPES,
)

def _stream_source(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over ``<sf_dir>/<table>.parquet``, handling
    both layouts the repo ships: the driver testdata's single FILE
    (one micro-batch) and a DIRECTORY of part-files (the rehearsal
    generator's layout — ``maxFilesPerTrigger`` then forces a
    multi-batch drain, making cross-batch state carry real). The
    declared schema comes from the existing footer (a driver-side
    metadata read, not a data scan) — in production this is the
    table's registered schema."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(files_per_trigger))
    if os.path.isfile(path):
        return reader.option(
            "pathGlobFilter", f"{table}.parquet"
        ).parquet(sf_dir)
    return reader.parquet(path)


def stream_events(
    spark: SparkSession, sf_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events parquet (each file = one
    micro-batch under availableNow; in production this is a directory
    that accumulates files, or a Kafka source with the same schema).
    ``normalize_event_ts`` canonicalizes ts to TIMESTAMP exactly like
    the batch scan layer, for every ts encoding the generator has
    shipped."""
    from sales_forecast_pyspark_spark.sources.readers import normalize_event_ts

    return normalize_event_ts(
        _stream_source(spark, sf_dir, "events", files_per_trigger)
    )


def windowed_event_totals(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window totals per event type — the streaming
    twin of the ``events_window`` batch query (same window expression;
    equivalence is asserted in tests). The watermark bounds aggregation
    state: windows older than (max event time - watermark) are finalized
    and their state dropped."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", window).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "event_type",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "n_events",
            "total_value",
        )
    )


def run_available_now(
    df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Execute a streaming DataFrame to completion over the currently
    available input (trigger=availableNow) into an in-memory table and
    return it as a batch DataFrame. Test/demo harness — production sinks
    are kafka/parquet/delta with checkpointLocation."""
    query = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return df.sparkSession.table(query_name)


def stream_lineitem(
    spark: SparkSession, sf_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the lineitem parquet. New files landing
    in the directory become micro-batches; with ``availableNow`` the
    current contents drain as one bounded run, the standard
    backfill-then-tail pattern."""
    return _stream_source(spark, sf_dir, "lineitem", files_per_trigger)


def maintain_partials_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    qty_col: str,
    revenue_expr,
    price_expr,
):
    """Streaming maintenance of the flagship panel's mergeable partial
    state via ``foreachBatch`` — the production form of the incremental
    rollup: each micro-batch folds its ``daily_rollup_partials`` into
    the persisted state, so the published panel is always
    merge-then-finalize bit-equal to a full batch rebuild over
    everything ingested (decimal partials are exact and associative).

    Exactly-once across restarts WITHOUT a transactional sink: the
    state write is keyed by ``batch_id`` (``state_dir/v=<id>``), and
    each fold reads the newest version STRICTLY OLDER than its own
    batch_id. A replayed batch (failure between sink write and
    checkpoint commit) overwrites its own version directory from the
    same base — idempotent; it can never double-fold because its own
    partial output is not in its read set. Version retention: old
    ``v=`` dirs are superseded, keep N for time travel / prune by age
    (a real deployment swaps this two-line layout for Delta/Iceberg
    MERGE and gets retention + metadata pruning from the table format).

    Returns the started StreamingQuery (caller awaits/stops). Use
    ``read_latest_partials`` + ``finalize_daily_rollup`` to publish.
    """
    import os

    from sales_forecast_pyspark_spark.operators.aggregates import (
        daily_rollup_partials,
        merge_daily_rollup_partials,
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = daily_rollup_partials(
            batch_df, keys, qty_col, revenue_expr, price_expr
        )
        bases = []
        if os.path.isdir(state_dir):
            bases = [
                int(d[2:])
                for d in os.listdir(state_dir)
                if d.startswith("v=") and int(d[2:]) < batch_id
            ]
        if bases:
            base = spark.read.parquet(os.path.join(state_dir, f"v={max(bases)}"))
            merged = merge_daily_rollup_partials(base, delta, keys)
        else:
            merged = delta
        merged.write.mode("overwrite").parquet(
            os.path.join(state_dir, f"v={batch_id}")
        )

    return (
        stream_df.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_latest_partials(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest version of the partial state written by
    ``maintain_partials_stream``."""
    import os

    versions = [
        int(d[2:]) for d in os.listdir(state_dir) if d.startswith("v=")
    ]
    return spark.read.parquet(os.path.join(state_dir, f"v={max(versions)}"))


def attribution_stream(
    events: DataFrame,
    touch_types: tuple[str, ...] = DEFAULT_TOUCH_TYPES,
    conversion_type: str = DEFAULT_CONVERSION_TYPE,
) -> DataFrame:
    """Streaming last-touch attribution via ``applyInPandasWithState``:
    per user the state is ONE tuple (last touch type, its event-time
    micros) — O(1) per key regardless of history length — and every
    conversion emits an attributed row (channel, value, latency) the
    moment it arrives. The batch twin
    (operators/windows.py::touch_attribution) needs the full timeline
    under a window sort; the stream needs only the current touch, which
    is why attribution is the canonical "tiny-state stateful operator"
    on a 100 TB event firehose.

    Assumes in-order delivery per user ACROSS micro-batches (attribution
    state cannot retro-correct a touch that arrives after its
    conversion; recompute an affected user from the full log with the
    batch ``last_touch_rows``).
    WITHIN a micro-batch no ordering is assumed: Arrow hands a group's
    rows as multiple chunks (split at
    ``spark.sql.execution.arrow.maxRecordsPerBatch``, default 10k) with
    no cross-chunk ordering guarantee, so the whole group batch is
    materialized and sorted by (ts, event_id) ONCE before replay —
    sorting chunks independently would let a hot user spanning chunks
    replay a later touch before an earlier conversion. Memory is
    bounded by one user's rows in one micro-batch, which the state
    design already assumes. Equivalence with the batch operator —
    including a hot user split across Arrow chunks — is pinned in
    tests/test_streaming.py.

    THROUGHPUT CONTRACT (measured r08/r09 rehearsal ladder, SCALING.md
    "streaming" section): per-row cost is flat — throughput is set by
    **rows per group instance** (batch_rows / distinct_users_in_batch)
    times the per-instance fixed cost of ``applyInPandasWithState``.
    Measured at the 100x decade: 8 files/trigger = 8.3 rows/instance =
    63.5k rows/s; 32 files/trigger = 33 rows/instance = 185.6k rows/s
    (2.9x, near-linear in rows/instance — the fixed-cost model).
    ``scripts/stream_rehearsal.py`` defaults to the measured 32; size
    production micro-batches so instances stay in the thousands of
    rows, and cluster parallelism divides instances per core while
    per-row cost stays flat."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    touch_set = set(touch_types)

    def _update(key, pdfs, state: GroupState):
        # Per-group-per-batch fixed cost is this operator's measured
        # throughput bound (SCALING.md streaming table: rows per group
        # INSTANCE, not total rows, sets the ceiling), so the replay
        # path avoids the expensive tiny-frame pandas primitives:
        # pd.concat only when a group actually spans Arrow chunks,
        # vectorized column→list extraction + one plain tuple sort
        # instead of sort_values, and no itertuples (namedtuple
        # construction dominates single-digit-row frames). Ordering
        # semantics are IDENTICAL: (ts, event_id) ascending, event_id
        # unique so later tuple elements never decide.
        last_t, last_us = state.get if state.exists else (None, None)
        out: list[tuple] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = chunks[0] if len(chunks) == 1 else pd.concat(
                chunks, ignore_index=True
            )
            recs = sorted(
                zip(
                    pdf["ts"].to_numpy("datetime64[ns]").view("int64").tolist(),
                    pdf["event_id"].tolist(),
                    pdf["event_type"].tolist(),
                    pdf["value"].tolist(),
                )
            )
            for t_ns, event_id, event_type, value in recs:
                us = t_ns // 1000
                if event_type in touch_set:
                    last_t, last_us = event_type, us
                elif event_type == conversion_type:
                    out.append(
                        (
                            key[0],
                            event_id,
                            last_t if last_t is not None else "none",
                            value,
                            (us - last_us) if last_us is not None else None,
                        )
                    )
        if last_t is not None:
            state.update((last_t, last_us))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "event_id", "channel", "value", "latency_us"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=(
            "user_id long, event_id long, channel string, "
            "value double, latency_us long"
        ),
        stateStructType="t string, us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


