"""Batch-stream equivalence: the streaming window aggregation, the
foreachBatch panel maintenance and the stateful attribution operator
must produce exactly the batch results once the stream drains
(availableNow).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.plans.queries import QUERIES
from sales_forecast_pyspark_spark.streaming import (
    run_available_now,
    stream_events,
    windowed_event_totals,
)

from tests.conftest import SF_SMALL


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_window_matches_batch(spark):
    stream = windowed_event_totals(stream_events(spark, SF_SMALL))
    got = run_available_now(stream, "stream_win_test")
    batch = QUERIES["events_window"].builder(spark, SF_SMALL)
    cols = ["event_type", "win_start", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(batch, cols)
    assert got.count() > 0


def test_foreachbatch_partials_maintenance_exactly_once(spark, tmp_path):
    """foreachBatch incremental panel maintenance: stream the raw rows
    in forced micro-batches, then (1) the final partial state finalizes
    bit-equal to a one-shot batch rebuild over everything ingested,
    (2) a RESTART on the same checkpoint with no new input changes
    nothing (idempotence), and (3) new files after restart fold in."""
    import os

    from pyspark.sql import types as T

    from sales_forecast_pyspark_spark.operators.aggregates import (
        daily_rollup_partials,
        finalize_daily_rollup,
    )
    from sales_forecast_pyspark_spark.sources.readers import read_table
    from sales_forecast_pyspark_spark.streaming.stream_ops import (
        maintain_partials_stream,
        read_latest_partials,
    )

    li = read_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    src = str(tmp_path / "in")
    for i in range(3):  # three files -> three micro-batches
        li.filter(F.col("l_orderkey") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
        ]
    )
    keys = ["l_returnflag", "ds"]
    qty, rev = "l_quantity", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    price = F.col("l_extendedprice")
    state, ckpt = str(tmp_path / "state"), str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withColumn("ds", F.to_date("l_shipdate"))
        )
        q = maintain_partials_stream(
            stream, state, ckpt, keys, qty, rev, price
        )
        q.awaitTermination()

    start()
    versions = sorted(d for d in os.listdir(state) if d.startswith("v="))
    assert len(versions) == 3, versions

    def published():
        return {
            (r["l_returnflag"], str(r["ds"])): (r["qty"], r["revenue"], r["avg_price"])
            for r in finalize_daily_rollup(
                read_latest_partials(spark, state), keys
            ).collect()
        }

    def batch_truth():
        all_rows = spark.read.parquet(src).withColumn("ds", F.to_date("l_shipdate"))
        return {
            (r["l_returnflag"], str(r["ds"])): (r["qty"], r["revenue"], r["avg_price"])
            for r in finalize_daily_rollup(
                daily_rollup_partials(all_rows, keys, qty, rev, price), keys
            ).collect()
        }

    assert published() == batch_truth()

    start()  # restart, no new files: no new version, state unchanged
    assert sorted(d for d in os.listdir(state) if d.startswith("v=")) == versions
    assert published() == batch_truth()

    li.filter(F.col("l_orderkey") % 4 == 3).coalesce(1).write.mode("append").parquet(src)
    start()  # new file folds in
    assert published() == batch_truth()


def test_streaming_attribution_matches_batch(spark):
    """Per-conversion equivalence: the O(1)-state streaming last-touch
    operator, drained over the real sf0.001 events parquet, must emit
    exactly the per-purchase (channel, value, latency) rows the batch
    window formulation derives — and its channel rollup must equal
    touch_attribution's registered output."""
    from pyspark.sql import Window

    from sales_forecast_pyspark_spark.operators.windows import touch_attribution
    from sales_forecast_pyspark_spark.sources.readers import read_table
    from sales_forecast_pyspark_spark.streaming import (
        attribution_stream,
        run_available_now,
        stream_events,
    )

    stream = attribution_stream(stream_events(spark, SF_SMALL))
    got = run_available_now(stream, "stream_attr_test", output_mode="append")

    ev = read_table(spark, SF_SMALL, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_touch = F.col("event_type").isin("view", "click", "signup")
    batch_rows = (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("us"),
            F.last(F.when(is_touch, F.col("event_type")), ignorenulls=True)
            .over(w)
            .alias("t"),
            F.last(F.when(is_touch, F.unix_micros("ts")), ignorenulls=True)
            .over(w)
            .alias("tus"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.coalesce("t", F.lit("none")).alias("channel"),
            "value",
            (F.col("us") - F.col("tus")).alias("latency_us"),
        )
    )
    cols = ["user_id", "event_id", "channel", "value", "latency_us"]
    assert _rows(got.select(*cols), cols) == _rows(batch_rows, cols)

    # and the rollup of the stream's emissions equals the registered query
    reg = {
        r["channel"]: (r["conversions"], r["attributed_revenue"])
        for r in touch_attribution(ev).collect()
    }
    agg = {
        r["channel"]: (r["n"], r["rev"])
        for r in got.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(30,6)")), 2)
            .cast("double")
            .alias("rev"),
        )
        .collect()
    }
    assert reg == {k: v for k, v in agg.items()}


def _write_events_file(path, rows):
    """Write an events parquet FILE (not a Spark directory) whose row
    order is exactly ``rows`` — pyarrow preserves order, which the
    chunk-adversarial test below depends on."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    uids, eids, etypes, vals, tss = zip(*rows)
    table = pa.table(
        {
            "user_id": pa.array(uids, pa.int64()),
            "event_id": pa.array(eids, pa.int64()),
            "event_type": pa.array(etypes, pa.string()),
            "value": pa.array(vals, pa.float64()),
            "ts": pa.array(list(tss), pa.timestamp("us")),
        }
    )
    pq.write_table(table, str(path))


def _events_stream(spark, directory):
    from sales_forecast_pyspark_spark.sources.readers import normalize_event_ts

    schema = (
        "user_id long, event_id long, event_type string, "
        "value double, ts timestamp"
    )
    return normalize_event_ts(
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(directory))
    )


def test_streaming_attribution_hot_user_spans_arrow_chunks(spark, tmp_path):
    """A hot user whose micro-batch exceeds one Arrow chunk must replay
    in global (ts, event_id) order, not per-chunk order.
    applyInPandasWithState delivers a group's rows as MULTIPLE pandas
    chunks (split at spark.sql.execution.arrow.maxRecordsPerBatch) with
    no cross-chunk ordering guarantee; sorting each chunk independently
    (the pre-r07 bug) replays whatever order the shuffle produced. The
    fixture is adversarial: 120 rows for one user written to the file in
    ts-DESCENDING order (verified preserved through scan -> shuffle ->
    key sort, so chunk-local order is globally backwards), ONE click at
    the earliest timestamp followed by 119 purchases, with
    maxRecordsPerBatch=16 forcing ~8 chunks. The state dependency
    (every purchase needs the click) then crosses every chunk boundary:
    per-chunk replay processes the latest purchases before ever seeing
    the click and emits channel 'none', while the correct whole-batch
    sort attributes all 119 to the click."""
    from datetime import timedelta

    from sales_forecast_pyspark_spark.streaming import (
        attribution_stream,
        run_available_now,
    )

    t0 = datetime(2024, 3, 1, 8, 0, 0)
    rows = [(1, 0, "click", 0.0, t0)]
    for i in range(1, 120):
        rows.append((1, i, "purchase", 10.0 + i, t0 + timedelta(minutes=i)))
    rows.reverse()  # file order = ts descending: the click lands in the LAST chunk
    _write_events_file(tmp_path / "events-000.parquet", rows)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "16")
    try:
        got = run_available_now(
            attribution_stream(_events_stream(spark, tmp_path)),
            "stream_attr_chunks",
            output_mode="append",
        ).collect()
    finally:
        spark.conf.set(conf, prev)

    assert len(got) == 119
    # every purchase attributes to the single click at t0
    assert {r["channel"] for r in got} == {"click"}
    assert {
        (r["event_id"], r["latency_us"]) for r in got
    } == {(i, i * 60_000_000) for i in range(1, 120)}


def test_streaming_attribution_late_touch_reprocessing(spark, tmp_path):
    """Pins attribution_stream's documented out-of-order limitation. A
    touch arriving in a LATER micro-batch with an EARLIER event time
    cannot retro-correct a conversion the stream already emitted (O(1)
    state keeps no timeline) — the stream and the batch truth
    genuinely diverge, which this test asserts rather than hides."""
    from sales_forecast_pyspark_spark.operators.windows import last_touch_rows
    from sales_forecast_pyspark_spark.streaming import attribution_stream

    src = tmp_path / "src"
    src.mkdir()
    batch1 = [
        (7, 1, "click", 0.0, datetime(2024, 3, 1, 10, 0, 0)),
        (7, 2, "purchase", 50.0, datetime(2024, 3, 1, 12, 0, 0)),
        (8, 5, "view", 0.0, datetime(2024, 3, 1, 9, 0, 0)),
        (8, 6, "purchase", 5.0, datetime(2024, 3, 1, 9, 30, 0)),
    ]
    # the signup's EVENT time (11:00) precedes the already-emitted
    # purchase (12:00): a late arrival the stream cannot retro-correct
    batch2 = [
        (7, 3, "signup", 0.0, datetime(2024, 3, 1, 11, 0, 0)),
        (7, 4, "purchase", 70.0, datetime(2024, 3, 1, 13, 0, 0)),
    ]
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def drain():
        # parquet sink: the one test sink that supports restarting from
        # the same checkpoint (memory sink refuses recovery)
        q = (
            attribution_stream(_events_stream(spark, src))
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink).collect()

    _write_events_file(src / "events-000.parquet", batch1)
    drain()
    _write_events_file(src / "events-001.parquet", batch2)
    all_out = drain()

    by_eid = {r["event_id"]: r for r in all_out}
    assert len(by_eid) == 3
    # the divergence: the stream attributed purchase 2 to the click,
    # because the signup (event time 11:00) arrived after emission
    assert by_eid[2]["channel"] == "click"
    assert by_eid[2]["latency_us"] == 2 * 3600 * 1_000_000
    # forward attribution after the late batch is correct
    assert by_eid[4]["channel"] == "signup"
    assert by_eid[6]["channel"] == "view"

    all_events = spark.createDataFrame(
        batch1 + batch2,
        "user_id long, event_id long, event_type string, value double, ts timestamp",
    )
    # the batch truth retro-corrects purchase 2 to the signup
    truth = {r["event_id"]: r for r in last_touch_rows(all_events).collect()}
    assert truth[2]["channel"] == "signup"
    assert truth[2]["latency_us"] == 3600 * 1_000_000
