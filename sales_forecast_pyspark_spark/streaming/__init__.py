"""Structured Streaming operators (SURVEY.md §2.10 extension)."""

from sales_forecast_pyspark_spark.streaming.stream_ops import (
    attribution_stream,
    run_available_now,
    stream_events,
    stream_lineitem,
    windowed_event_totals,
)

__all__ = [
    "attribution_stream",
    "run_available_now",
    "stream_events",
    "stream_lineitem",
    "windowed_event_totals",
]
