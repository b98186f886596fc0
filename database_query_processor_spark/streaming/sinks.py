"""Streaming sinks beyond the built-ins: foreachBatch with an
idempotent, epoch-keyed layout — the pattern for exactly-once file
output under retries.

No reference analog (batch-only engine writes one result file,
reference: src/QueryMain.java:162-226). Structured Streaming's
foreachBatch re-delivers a micro-batch after failure with the SAME
batch_id; writing each epoch to its own directory with mode=overwrite
makes the redelivery a no-op — at-least-once delivery × idempotent
write = exactly-once file contents. At 100 TB the same layout holds:
each epoch directory is written in parallel by the batch's partitions,
and downstream consumers read the union of epochs.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def run_foreach_batch_sink(spark: SparkSession, sf_dir: str, out_dir: str | None = None) -> DataFrame:
    """REAL streaming execution: file-source readStream over events,
    per-micro-batch event_type counts written by foreachBatch into
    `{out}/epoch=<batch_id>/` with overwrite (idempotent under epoch
    redelivery). Returns the re-read union aggregated across epochs —
    equal to the batch groupBy regardless of how the stream was
    micro-batched."""
    from .windows import _events_stream

    from database_query_processor_spark.workdir import scratch_dir

    # scratch_dir (not a raw uuid /tmp path): the result directory is a
    # full table copy per invocation and must die with the process, not
    # accumulate until the disk fills (the leak workdir.py exists to fix)
    out = out_dir or scratch_dir("dqps_s07_")
    stream = _events_stream(spark, sf_dir)

    def write_epoch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .write.mode("overwrite")
            .parquet(f"{out}/epoch={batch_id}")
        )

    q = stream.writeStream.foreachBatch(write_epoch).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.read.schema("event_type string, n bigint")
        .parquet(out)
        .groupBy("event_type")
        .agg(F.sum("n").alias("n"))
    )
