"""Windowed aggregations usable in both batch and streaming mode.

Each builder takes any events-shaped DataFrame (``ts timestamp,
user_id long, event_type string, value double``) — a batch frame or a
``readStream`` frame — and returns the aggregated plan. In streaming
mode add ``with_watermark=True`` so state for closed windows is
dropped (required for append-mode sinks and for bounded state at
scale; 100 TB streams die without a watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapipelinedemo_spark.functions.stable import dec_sum


def _maybe_watermark(df: DataFrame, enabled: bool, delay: str) -> DataFrame:
    return df.withWatermark("ts", delay) if enabled else df


def sliding_counts(
    events: DataFrame,
    width: str = "2 hours",
    slide: str = "1 hour",
    with_watermark: bool = False,
    delay: str = "2 hours",
) -> DataFrame:
    df = _maybe_watermark(events, with_watermark, delay)
    return (
        df.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("event_count"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "event_count",
        )
    )


def session_aggregates(
    events: DataFrame,
    gap: str = "5 minutes",
    with_watermark: bool = False,
    delay: str = "30 minutes",
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. ``session_window`` keeps per-key state bounded by the
    watermark in streaming mode; in batch it is a plain aggregation."""
    df = _maybe_watermark(events, with_watermark, delay)
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", "sum_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )
