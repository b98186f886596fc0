"""Streaming deduplication — the streaming form of the corpus exact
dedup (operators/dedup.py): drop duplicate events as they arrive,
with watermark-bounded state.

No reference analog (batch-only engine, SURVEY.md §2.7). At scale
this is the standard ingestion-dedup topology: the dedup key includes
the event-time column, so the state store holds only keys inside the
watermark horizon — state is bounded by (arrival rate × watermark),
not by stream length. Keys shuffle once (hash on the dedup key);
output is append-mode, safe for any downstream sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .windows import (
    ROCKSDB_STATE_STORE,
    _conf_scope,
    _events_stream,
    _run_to_parquet_sink,
)


def run_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL streaming execution: file-source readStream over
    events.parquet, 10-minute watermark, dropDuplicates on
    (user_id, event_type, ts) — ts in the key makes watermark state
    eviction apply — driven to completion into the DISTRIBUTED
    parquet file sink (the deduped output is O(input) rows; a
    memory sink would collect them all to the driver — see
    _run_to_parquet_sink). State runs on RocksDB: the dedup key set
    is O(input) inside the watermark horizon, and the heap-backed
    default store degraded 2.8x at 100M keys (712 s -> 252.8 s,
    PROBE_STREAM_100M_r10.json). Returns the committed result read
    back: one row per distinct key."""
    with _conf_scope(spark, ROCKSDB_STATE_STORE):
        stream = _events_stream(spark, sf_dir)
        dd = (
            stream.withWatermark("ts", "10 minutes")
            .dropDuplicates(["user_id", "event_type", "ts"])
            .select(
                "user_id",
                "event_type",
                F.col("ts").cast("timestamp_ntz").alias("ts"),
            )
        )
        return _run_to_parquet_sink(dd, "dedup")
