"""Stream execution: how every streaming query in the package runs over
the finite events replay.

One module owns the source (`events_stream`), the lifecycle
(`drive`: start → processAllAvailable → stop, the only
processAllAvailable in the package), the two result sinks built on it
(`memory_sink`, `parquet_sink`) and the state-store policy for
high-key-count streams (`rocksdb_state`). The topology modules
(windows, joins, dedup, stateful, sinks, cdc) only build frames and
writers and hand them here.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from database_query_processor_spark.catalog import footer_schema
from database_query_processor_spark.workdir import scratch_dir


def normalize_event_ts(stream: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the event-time column to TimestampType for watermarking.

    The events table has shipped `ts` as either bigint nanos or native
    TIMESTAMP_NTZ depending on the datagen version; watermarks require
    TimestampType (instant semantics). Session tz is pinned UTC, so the
    NTZ -> TIMESTAMP cast is wall-clock-preserving and oracle results
    are unchanged.
    """
    dtype = dict(stream.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"normalize_event_ts: column {col!r} not in {stream.columns}")
    if dtype == "bigint":
        return stream.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    if dtype == "timestamp_ntz":
        return stream.withColumn(col, F.col(col).cast("timestamp"))
    if dtype == "timestamp":
        return stream
    raise ValueError(
        f"normalize_event_ts: column {col!r} has unhandled dtype {dtype!r}; "
        "expected bigint nanos, timestamp_ntz, or timestamp"
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
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
    return normalize_event_ts(stream)


def drive(writer: DataStreamWriter) -> None:
    """Start ``writer``'s query, run it until every available input is
    processed, and stop it on every exit path, so a failed batch
    raises here and leaves no active query behind."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def memory_sink(agg: DataFrame, prefix: str, mode: str = "complete") -> DataFrame:
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
    drive(agg.writeStream.outputMode(mode).format("memory").queryName(name))
    return spark.table(name)


def parquet_sink(out: DataFrame, prefix: str) -> DataFrame:
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
    root = scratch_dir(f"dqps_stream_{prefix}_")
    path = f"{root}/out"
    drive(
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", f"{root}/ckpt")
    )
    # schema-pinned read-back: a query that commits ZERO rows (e.g. an
    # attribution join with no matches at a tiny scale factor) leaves
    # no parquet footer to infer from — the explicit schema returns an
    # empty typed frame instead of an unable-to-infer-schema error
    # (the old memory sink's behavior).
    return out.sparkSession.read.schema(out.schema).parquet(path)


# RocksDB state store — the production provider for any HIGH-KEY-COUNT
# stateful stream. Heap-backed state (the default provider) degrades
# hard once the key set outgrows comfortable heap: s06's 100M-key
# dedup measured 712 s on the default store vs 252.8 s on RocksDB
# (PROBE_STREAM_100M_r10.json). transformWithState (s10-s12)
# REQUIRES it.
ROCKSDB_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}

STREAM_STATE_BYTES_PER_PARTITION = 256 * 1024


def _stream_state_partitions(spark: SparkSession, input_bytes: int) -> int:
    """Number of state-store partitions for a stateful stream, derived
    from the INPUT SIZE instead of inherited from the session's batch
    shuffle default (which tracks core count).

    Why (r12, guide §2.2 "fewer, larger partitions" applied to state
    stores): every state partition is a RocksDB instance whose commit
    zips + fsyncs a snapshot to the checkpoint location EVERY
    micro-batch — a fixed per-partition cost that, over-partitioned,
    turns into an fsync storm. Measured on s12 at sf0.1 (2 MB input,
    1500 keys, artifacts/S12_PROGRESS_r12.json): 32 partitions →
    rocksdbCommitFileSyncLatencyMs sums 47-78 s per batch (contention:
    ~2.3 s per tiny commit); 8 partitions → 1-4 s total; wall 5.4 →
    4.5 s. The knee is ~256 KiB of batch input per partition
    (4 partitions starves update parallelism: 5.98 s; 16 re-adds
    commit cost: 5.14 s).

    Scale behavior: the count grows linearly with input until capped
    by defaultParallelism, so a 100 TB/day stream still gets
    cluster-wide parallelism, while a small replay is never taxed
    32 fsyncs per batch for kilobytes of state. Deriving from data
    rather than cores also makes the bench's 8-core and 32-core runs
    use the SAME state partitioning (comparable scaling ratios)."""
    by_bytes = max(1, round(input_bytes / STREAM_STATE_BYTES_PER_PARTITION))
    return min(spark.sparkContext.defaultParallelism, by_bytes)


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


@contextmanager
def rocksdb_state(spark: SparkSession, sf_dir: str):
    """Run the streams started inside the scope on the RocksDB state
    store with the events input's state partition count (see
    _stream_state_partitions); the session conf is restored on exit.
    A stateful stream fixes its partition count when it first starts,
    so the query must be driven inside the scope."""
    input_bytes = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    parts = _stream_state_partitions(spark, input_bytes)
    settings = {**ROCKSDB_STATE_STORE, "spark.sql.shuffle.partitions": str(parts)}
    with _conf_scope(spark, settings):
        yield
