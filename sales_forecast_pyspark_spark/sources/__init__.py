from sales_forecast_pyspark_spark.sources.readers import (
    ONLINE_RETAIL_SCHEMA,
    TESTDATA_TABLES,
    read_csv,
    read_table,
)
from sales_forecast_pyspark_spark.sources.sinks import write_parquet

__all__ = [
    "ONLINE_RETAIL_SCHEMA",
    "TESTDATA_TABLES",
    "read_csv",
    "read_table",
    "write_parquet",
]
