"""Stream-stream join: the two-moving-sides case (no reference
analog — SURVEY.md §2.7).

Both inputs are unbounded; Spark buffers each side's recent rows in
watermark-bounded state and emits matches as they form. The join MUST
carry an event-time constraint — that is what lets the engine discard
state: a click older than (purchase watermark − interval) can never
match a future purchase, so its buffer entry is dropped. At 100 TB
the state store holds only the interval window per key, not history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_query_processor_spark.catalog import load_table

from .run import events_stream, memory_sink, parquet_sink


def purchase_click_attribution(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Each purchase joined to the same user's clicks in the hour
    before it — the classic attribution join, expressed with an
    event-time range so both state buffers stay bounded."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "10 minutes")
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "10 minutes")
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"))


def run_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join — the dimension-enrichment topology: the
    unbounded event stream is joined to a bounded customer dimension
    (user_id = c_custkey) and rolled up per (market segment,
    event_type). The static side needs NO watermark and holds NO
    state: Spark re-plans it per micro-batch and broadcasts it under
    the join threshold — at 100 TB of stream, the dimension join costs
    one broadcast per batch, never a shuffle of the stream.

    Driven as a REAL streaming query over the finite events parquet
    (complete-mode memory sink — the full aggregate re-emits per
    batch, which is what makes the final table equal the batch
    rollup)."""
    stream = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    enriched = stream.join(
        F.broadcast(dim), stream.user_id == dim.c_custkey, "inner"
    )
    # exact-decimal sum (streaming forbids exact COUNT DISTINCT;
    # the decimal contract keeps the sum oracle-stable)
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
    )
    return memory_sink(agg, "enrich")


def run_purchase_click_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the attribution join as a REAL stream-stream join over
    the finite events parquet. The match set is O(input), so the sink
    is the DISTRIBUTED parquet file sink (append mode, executor-side
    writes), not the driver-collecting memory sink — see
    run.parquet_sink for the measured rationale."""
    purchases = events_stream(spark, sf_dir).filter(F.col("event_type") == "purchase")
    clicks = events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    out = purchase_click_attribution(purchases, clicks)
    return parquet_sink(out, "attribution")
