"""IO boundary tests: parquet sink round-trip (S6), CSV scan with the
declared reference schema + date parse (S1), and the guarded pandas
reporting boundary (S3).
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import functions as F

from sales_forecast_pyspark_spark.functions.deterministic import stable_avg
from sales_forecast_pyspark_spark.sources.readers import (
    ONLINE_RETAIL_SCHEMA,
    parse_invoice_date,
    read_csv,
)
from sales_forecast_pyspark_spark.sources.sinks import to_report_frame, write_parquet


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)], "id long, k string, v double"
    )
    path = os.path.join(str(tmp_path), "t")
    write_parquet(df, path, partition_by=["k"])
    back = spark.read.parquet(path)
    assert sorted((r["id"], r["k"], r["v"]) for r in back.collect()) == [
        (1, "a", 1.5),
        (2, "b", 2.5),
        (3, "a", 3.5),
    ]
    # partitioned layout on disk -> partition pruning is possible
    assert any(d.startswith("k=") for d in os.listdir(path))


def test_csv_scan_with_reference_schema(spark, tmp_path):
    """S1: the reference's exact ingest path — declared schema (no
    inference pass) + to_date(to_timestamp(.., 'M/d/yy H:mm'))."""
    csv = tmp_path / "retail.csv"
    csv.write_text(
        "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n"
        "536365,85123A,HEART HOLDER,6,12/1/10 8:26,2.55,17850,United Kingdom\n"
        "C536379,D,Discount,-1,12/1/10 9:41,27.5,14527,United Kingdom\n"
    )
    df = parse_invoice_date(read_csv(spark, str(csv), schema=ONLINE_RETAIL_SCHEMA))
    rows = {r["InvoiceNo"]: r for r in df.collect()}
    assert rows["536365"]["InvoiceDate"] == datetime.date(2010, 12, 1)
    assert rows["536365"]["Quantity"] == 6
    assert rows["C536379"]["Quantity"] == -1  # cancellations kept, negative
    assert rows["C536379"]["UnitPrice"] == 27.5


def test_report_frame_guard(spark):
    df = spark.range(100).select(F.col("id"))
    pdf = to_report_frame(df, limit=7)
    assert len(pdf) == 7
    assert to_report_frame(df.groupBy().count(), limit=None).iloc[0, 0] == 100


def test_stable_avg_reference_parity_mode(spark):
    """Golden-shape check: parity mode reproduces the reference's
    round(avg(x), 2) on a fixture with an exact .xx5 half (the case the
    default mode deliberately avoids)."""
    df = spark.createDataFrame([(12.33,), (0.0,)], "p double")
    got = df.agg(stable_avg(F.col("p"), round_digits=2).alias("a")).first()["a"]
    assert got == 6.17  # HALF_UP of 6.165, the reference's rounding
    raw = df.agg(stable_avg(F.col("p")).alias("a")).first()["a"]
    assert abs(raw - 6.165) < 1e-12


def test_partitioned_scan_actually_prunes(spark, tmp_path):
    """A filter on the partition column must reach the scan as a
    PartitionFilter (directory-level pruning: non-matching partitions
    are never listed into the scan), not as a post-scan row filter —
    the property that makes a date-partitioned 100 TB table cheap to
    time-slice."""
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b", float(i)) for i in range(10)],
        "id long, k string, v double",
    )
    path = os.path.join(str(tmp_path), "pt")
    write_parquet(df, path, partition_by=["k"])
    scan = spark.read.parquet(path).filter(F.col("k") == "a")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "(k" in plan.split("PartitionFilters")[1][:80], plan
    # and the pruned read returns only the matching partition's rows
    assert sorted(r["id"] for r in scan.collect()) == [1, 3, 5, 7, 9]


def test_csv_corrupt_record_auditing(spark, tmp_path):
    """Malformed CSV rows must be captured verbatim in the corrupt
    column (the reject feed), not silently nulled: good rows parse with
    a null audit column, bad rows keep their raw text, and the reject
    count is exact."""
    from sales_forecast_pyspark_spark.sources.readers import read_csv

    csv = tmp_path / "dirty.csv"
    csv.write_text(
        "InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country\n"
        "536365,85123A,OK ROW,6,12/1/10 8:26,2.55,17850,United Kingdom\n"
        "536366,85123B,BAD QTY,not_a_number,12/1/10 8:26,2.55,17850,United Kingdom\n"
        "536367,85123C,OK ROW 2,3,12/1/10 9:00,1.25,13047,France\n"
    )
    df = read_csv(spark, str(csv), corrupt_col="_rejected")
    # Spark's PERMISSIVE parser requires caching (or a fresh scan) when
    # filtering on the corrupt column — document the supported pattern.
    df = df.cache()
    rows = {r["InvoiceNo"]: r for r in df.collect()}
    assert rows["536365"]["Quantity"] == 6 and rows["536365"]["_rejected"] is None
    assert rows["536367"]["Quantity"] == 3 and rows["536367"]["_rejected"] is None
    rejects = df.filter(F.col("_rejected").isNotNull())
    assert rejects.count() == 1
    assert "not_a_number" in rejects.first()["_rejected"]
    df.unpersist()


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Dynamic partition pruning: when the partition-column predicate
    lives on the OTHER side of a join (filter on a dim, fact partitioned
    by the join key's functional image), Spark must inject a runtime
    subquery filter into the fact scan — the mechanism that makes
    "join facts to this month's dim slice" read one partition of a
    100 TB partitioned table instead of all of them. Static pruning
    (test above) can't help here because the fact query has no literal
    predicate on the partition column."""
    fact = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(100)],
        "id long, part_k int, v double",
    )
    path = os.path.join(str(tmp_path), "dpp_fact")
    write_parquet(fact, path, partition_by=["part_k"])
    dim = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(5)], "d_k int, d_name string"
    ).filter(F.col("d_name") == "dim3")
    joined = (
        spark.read.parquet(path)
        .join(F.broadcast(dim), F.col("part_k") == F.col("d_k"))
    )
    optimized = joined._jdf.queryExecution().optimizedPlan().toString()
    assert "dynamicpruning" in optimized.lower(), optimized
    rows = joined.collect()
    assert len(rows) == 20 and all(r["part_k"] == 3 for r in rows)


def test_spread_scan_requires_key_and_spreads_small_scans(spark):
    """spread_scan contract: (1) keyless calls raise — a round-robin
    repartition(n) assigns rows by arrival order, which is not
    deterministic under task retry; (2) a single-split scan is hashed
    out to defaultParallelism on the key; (3) an already-parallel frame
    passes through untouched (no down-partitioning, no extra
    exchange)."""
    import pytest

    from sales_forecast_pyspark_spark.sources.readers import spread_scan

    one_split = spark.range(100).coalesce(1)
    with pytest.raises(ValueError, match="at least one key column"):
        spread_scan(one_split)

    target = spark.sparkContext.defaultParallelism
    spread = spread_scan(one_split, "id")
    assert spread.rdd.getNumPartitions() == target
    assert sorted(r["id"] for r in spread.collect()) == list(range(100))

    wide = spark.range(1000).repartition(target + 7, "id")
    assert spread_scan(wide, "id") is wide
