"""Windowed event-time aggregation: tumbling / sliding / session
windows.

The streaming entries (`run_tumbling_stream`, `run_sliding_stream`,
`run_session_stream`) each drive a real readStream → watermark →
window-agg → memory-sink query to completion over the finite events
parquet — the same topology that would run against Kafka at scale,
where the shuffle key is (window, group) and state is bounded by the
watermark.

Window starts are cast to TIMESTAMP_NTZ (catalog normalizes the nanos
column) to match DuckDB's naive timestamps, so results are
oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .run import events_stream, memory_sink


def run_tumbling_stream(spark: SparkSession, sf_dir: str, size: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows, streamed: count + min/max value per
    (window, event_type) — min/max are order-independent, so the result
    is engine-stable without the decimal contract. File-source
    readStream over events.parquet, 10-minute watermark, complete-mode
    memory sink, driven synchronously to completion. Returns the sink
    table."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.min("value").alias("min_value"), F.max("value").alias("max_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("ws"),
            "event_type", "n", "min_value", "max_value",
        )
    )
    return memory_sink(agg, "tumbling")


def run_sliding_stream(
    spark: SparkSession, sf_dir: str, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding event-time windows, streamed: count per (window,
    event_type), where each event lands in size/slide overlapping
    windows; state per (window, event_type) is bounded by the watermark
    at scale."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("ws"), "event_type", "n")
    )
    return memory_sink(agg, "sliding")


def run_session_stream(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows, streamed: session = maximal event chain
    with inter-event gap < `gap`, session_end = last event + gap (Spark
    session_window semantics). State is merged per user as events
    arrive; the watermark closes sessions whose gap has passed at
    scale."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    return memory_sink(agg, "session")
