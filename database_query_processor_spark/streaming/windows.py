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

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_query_processor_spark.catalog import footer_schema
from database_query_processor_spark.workdir import scratch_dir

from . import normalize_event_ts


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over events.parquet (the same topology
    that would read Kafka at scale)."""
    raw_schema = footer_schema(f"{sf_dir}/events.parquet")
    # the file stream source wants a directory: glob-filter to events
    stream = (
        spark.readStream.schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # dtype handling and tz reasoning live in normalize_event_ts
    stream = normalize_event_ts(stream)
    return stream


def _run_to_memory_sink(agg: DataFrame, prefix: str, mode: str = "complete") -> DataFrame:
    """Drive a streaming frame to completion through a memory sink in
    the given output mode and return the sink table.

    The sink name is DETERMINISTIC per topology (one registered table
    per prefix, dropped and re-registered on each run) — uuid-suffixed
    names would leak one fully-materialized result copy into the
    driver catalog per invocation for the session's lifetime. A
    DataFrame returned by a PREVIOUS run of the same topology is
    invalidated by the next run; collect before re-running."""
    name = f"dqps_sink_{prefix}"
    spark = agg.sparkSession
    for q in spark.streams.active:
        if q.name == name:  # concurrent same-prefix run would corrupt the sink
            raise RuntimeError(
                f"streaming sink '{name}' already has an active query; "
                "stop it (or use a different prefix) before re-running"
            )
    spark.catalog.dropTempView(name)
    q = agg.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


# RocksDB state store — the production provider for any HIGH-KEY-COUNT
# stateful stream. Heap-backed state (the default provider) degrades
# hard once the key set outgrows comfortable heap: s06's 100M-key
# dedup measured 712 s on the default store vs 252.8 s on RocksDB
# (PROBE_STREAM_100M_r10.json). Used by the tws scaffold
# (transformWithState REQUIRES RocksDB) and the large-key
# dropDuplicates topology.
ROCKSDB_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


@contextmanager
def _conf_scope(spark: SparkSession, settings: dict[str, str]):
    """Set ``settings`` on the session conf for the scope's lifetime;
    on exit restore each key's previous value (or unset it)."""
    conf = spark.conf
    saved = {k: conf.get(k, None) for k in settings}
    for k, v in settings.items():
        conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                conf.unset(k)
            else:
                conf.set(k, old)


def _run_to_parquet_sink(out: DataFrame, prefix: str) -> DataFrame:
    """Drive a streaming frame to completion through a DISTRIBUTED
    parquet file sink (append mode) and return the committed result
    read back.

    The memory sink collects every result row through a
    single-threaded driver collect — fine for the small-aggregate
    topologies (one row per group), but fatal for the LARGE-OUTPUT
    streams whose result is O(input): s05's attribution pairs, s06's
    deduped events, s12's sessions (~0.95 rows per input event on the
    synthetic horizon). artifacts/S12_DECOMP_r10.json measured the
    memory sink as roughly HALF of s12's 10M-event wall (177 s
    memory-sink vs 95 s noop, quiet box) and a driver-side
    super-linear term — the core of PROBE_STREAM_r09's exponent-1.27
    decade. The file sink writes executor-side with exactly-once
    semantics via the _spark_metadata transaction log (which the
    batch read-back consults automatically, so uncommitted files are
    invisible), keeping result materialization distributed — the only
    topology that survives 100 TB.

    Append mode is correct for all three users: s05/s06 are
    append-mode queries already, and s12's transformWithState emits
    every session exactly once under any batching (data-closed inline,
    timer-closed on expiry), so its update-mode emissions ARE
    append-semantics rows. A fresh scratch dir per run keeps re-runs
    independent (the file sink otherwise accumulates across runs). It
    lives under the process scratch root (workdir.scratch_dir), which
    is removed at process exit: the read-back is lazy, so the files
    must outlive this call, but nothing needs them past process exit."""
    spark = out.sparkSession
    root = scratch_dir(f"dqps_stream_{prefix}_")
    path = f"{root}/out"
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", f"{root}/ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # schema-pinned read-back: a query that commits ZERO rows (e.g. an
    # attribution join with no matches at a tiny scale factor) leaves
    # no parquet footer to infer from — the explicit schema returns an
    # empty typed frame instead of an unable-to-infer-schema error
    # (the old memory sink's behavior).
    return spark.read.schema(out.schema).parquet(path)


def run_tumbling_stream(spark: SparkSession, sf_dir: str, size: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows, streamed: count + min/max value per
    (window, event_type) — min/max are order-independent, so the result
    is engine-stable without the decimal contract. File-source
    readStream over events.parquet, 10-minute watermark, complete-mode
    memory sink, driven synchronously to completion. Returns the sink
    table."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.min("value").alias("min_value"), F.max("value").alias("max_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("ws"),
            "event_type", "n", "min_value", "max_value",
        )
    )
    return _run_to_memory_sink(agg, "tumbling")


def run_sliding_stream(
    spark: SparkSession, sf_dir: str, size: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding event-time windows, streamed: count per (window,
    event_type), where each event lands in size/slide overlapping
    windows; state per (window, event_type) is bounded by the watermark
    at scale."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", size, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("ws"), "event_type", "n")
    )
    return _run_to_memory_sink(agg, "sliding")


def run_session_stream(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes"
) -> DataFrame:
    """Per-user session windows, streamed: session = maximal event chain
    with inter-event gap < `gap`, session_end = last event + gap (Spark
    session_window semantics). State is merged per user as events
    arrive; the watermark closes sessions whose gap has passed at
    scale."""
    stream = _events_stream(spark, sf_dir)
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
    return _run_to_memory_sink(agg, "session")
