"""Write sinks + the pandas reporting boundary.

The reference's only outputs are ``toPandas()`` report tables and
matplotlib PNGs (S3/S6 in SURVEY.md §2.1, ~16 call sites). The engine
adds parquet writes because any pipeline at scale must persist
intermediate tables, and wraps the collect-to-client boundary so every
report path goes through one guarded, Arrow-accelerated function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def to_report_frame(df: DataFrame, limit: int | None = 10000):
    """S3: the collect-to-client boundary (Sales_forecast_pyspark.py:184
    etc.) — Arrow-batched ``toPandas()`` (enabled in session defaults)
    with a guard limit, because an unbounded driver-side collect is the
    classic scale accident. Pass ``limit=None`` only for aggregates you
    KNOW are small."""
    if limit is not None:
        df = df.limit(limit)
    return df.toPandas()


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Parquet sink. ``partition_by`` on low-cardinality columns (e.g. a
    date column) makes later time-range filters partition-prunable;
    ``max_records_per_file`` bounds file sizes on skewed partitions.
    """
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


