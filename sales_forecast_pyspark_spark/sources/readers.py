"""Scan layer: CSV + Parquet sources with declared schemas.

The reference ingests one CSV with ``inferSchema=True``
(Sales_forecast_pyspark.py:69-74). Inference costs an extra full pass and
is nondeterministic across dirty data, so the engine defaults to declared
``StructType`` schemas (inference stays available via ``schema=None``).
Parquet is first-class because the driver's testdata is parquet and
because it's the only sane format at 100 TB (column pruning + predicate
pushdown + min/max skipping all depend on it).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The reference's raw table schema (Sales_forecast_pyspark.py:69-74 and
# the notebook's printSchema output).
ONLINE_RETAIL_SCHEMA = T.StructType(
    [
        T.StructField("InvoiceNo", T.StringType(), True),
        T.StructField("StockCode", T.StringType(), True),
        T.StructField("Description", T.StringType(), True),
        T.StructField("Quantity", T.IntegerType(), True),
        T.StructField("InvoiceDate", T.StringType(), True),
        T.StructField("UnitPrice", T.DoubleType(), True),
        T.StructField("CustomerID", T.IntegerType(), True),
        T.StructField("Country", T.StringType(), True),
    ]
)

# Driver testdata star schema (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = ONLINE_RETAIL_SCHEMA,
    sep: str = ",",
    corrupt_col: str | None = None,
) -> DataFrame:
    """CSV scan (reference operator S1, Sales_forecast_pyspark.py:69-70).

    With ``schema=None`` falls back to the reference's inferSchema
    behavior (two extra jobs: header + inference pass).

    ``corrupt_col`` turns on malformed-row AUDITING (declared schema
    only): rows that fail to parse keep their raw text in that column
    with nulls elsewhere (Spark's PERMISSIVE mode) instead of being
    silently nulled with no trace — at ingest scale "how many rows
    failed and what did they look like" is a data-quality expectation
    like any other (``filter(corrupt_col IS NOT NULL)`` is the reject
    file; route it to quarantine and fail the batch past a threshold).
    """
    reader = spark.read.option("header", True).option("sep", sep)
    if schema is None:
        reader = reader.option("inferSchema", True)
        return reader.csv(path)
    if corrupt_col is not None:
        schema = T.StructType(
            [*schema.fields, T.StructField(corrupt_col, T.StringType(), True)]
        )
        reader = (
            reader.option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", corrupt_col)
        )
    return reader.schema(schema).csv(path)


def parse_invoice_date(df: DataFrame, col: str = "InvoiceDate") -> DataFrame:
    """The reference's ingest transform (Sales_forecast_pyspark.py:73-74):
    ``to_date(to_timestamp(col, "M/d/yy H:mm"))`` — time-of-day is
    deliberately truncated to daily grain.
    """
    return df.withColumn(col, F.to_date(F.to_timestamp(F.col(col), "M/d/yy H:mm")))


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Canonicalize an event-time column to TIMESTAMP regardless of the
    physical parquet encoding. The testdata generator has shipped the
    events table in two encodings across rounds: TIMESTAMP(NANOS)
    (surfaced as long nanos under the ``nanosAsLong`` session conf) and
    plain ``timestamp[us]`` (surfaced as TIMESTAMP_NTZ under Spark 4's
    NTZ inference). Downstream operators see ONE dtype either way:

    - ``bigint`` (nanos) → truncating ``DIV 1000`` to micros, the same
      narrowing every engine applies when reading nanos parquet;
    - ``timestamp_ntz`` → cast through the session timezone (pinned UTC
      by ``ensure_runtime_confs``), value-preserving;
    - ``timestamp`` / anything else → unchanged.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table from a testdata scale-factor directory,
    normalizing the events time column to TIMESTAMP (see
    ``normalize_event_ts`` for the encodings tolerated)."""
    from sales_forecast_pyspark_spark.session import ensure_runtime_confs

    ensure_runtime_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = normalize_event_ts(df)
    return df


def spread_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Hash-repartition a SMALL-FILE scan across the cluster before
    CPU-heavy per-row work (tokenization, shingling, hash projections).

    Scan parallelism is file-split parallelism: a corpus packed into
    fewer splits than cores runs its entire pre-shuffle pipeline on
    those few tasks (measured 3.5× on the sf0.1 documents table, whose
    single 600 KB parquet file tokenizes on ONE core without this). At
    real scale the guard makes it a no-op: when the scan already has at
    least defaultParallelism splits, the frame passes through untouched
    — so the helper never DOWN-partitions a 100 TB input, and the extra
    exchange is only paid where it buys parallelism. Partition count
    probing is plan-time file-listing work, not a job.

    At least one key column is REQUIRED: a keyless ``repartition(n)``
    is round-robin, which assigns rows to partitions by arrival order —
    under task retry or speculative execution the re-executed task can
    emit a different row->partition mapping, silently breaking the
    repo's partitioning-independence discipline. Hash partitioning on
    declared keys is retry-deterministic."""
    if not key_cols:
        raise ValueError(
            "spread_scan requires at least one key column: keyless "
            "round-robin repartition is not deterministic under task "
            "retry — pass a stable id column (e.g. the table's key)"
        )
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *[F.col(c) for c in key_cols])
