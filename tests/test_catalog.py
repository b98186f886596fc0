"""Catalog schemas come from the parquet footer on the driver: the same
StructType Spark's inference gives, with no Spark job launched."""

from __future__ import annotations

import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from database_query_processor_spark.catalog import TABLES, footer_schema, load_table
from database_query_processor_spark.engine import Engine

from tests.conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIRS = [
    os.path.join(REPO, "perfbench", "data", "sf0.001"),
    os.path.join(REPO, "perfbench", "data", "sf0.1"),
    *sorted(glob.glob(os.path.join(os.path.dirname(SF_SMOKE), "sf*"))),
]
TABLE_FILES = [
    os.path.join(d, f"{t}.parquet")
    for d in SF_DIRS
    if os.path.isdir(d)
    for t in TABLES
    if os.path.exists(os.path.join(d, f"{t}.parquet"))
]


@pytest.mark.parametrize("path", TABLE_FILES, ids=["/".join(p.split(os.sep)[-3:]) for p in TABLE_FILES])
def test_footer_schema_matches_inference(spark, path):
    assert footer_schema(path) == spark.read.parquet(path).schema


def test_footer_schema_nanos_timestamp_is_long(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789, None], pa.timestamp("ns"))
    pq.write_table(pa.table({"id": [1, 2], "ts": ts}), path)
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    schema = footer_schema(path)
    assert schema["ts"].dataType.simpleString() == "bigint"
    assert schema == spark.read.parquet(path).schema


def test_footer_schema_of_spark_written_events(spark, tmp_path):
    """A Spark-written copy of events, plus the shapes Spark writes
    that a pyarrow-written table lacks: a zoned timestamp (INT96 by
    default) and non-null nested fields (REQUIRED in the footer)."""
    out = str(tmp_path / "events_copy")
    (
        load_table(spark, SF_SMOKE, "events")
        .withColumn("ts_zoned", F.col("ts").cast("timestamp"))
        .withColumn("tags", F.array(F.lit(1), F.lit(2)))
        .withColumn("pair", F.struct(F.lit(1).alias("a"), F.col("event_type").alias("b")))
        .withColumn("attrs", F.create_map(F.lit("k"), F.lit(1)))
        .coalesce(1)
        .write.parquet(out)
    )
    (path,) = glob.glob(os.path.join(out, "*.parquet"))
    assert pq.ParquetFile(path).schema.column(6).physical_type == "INT96"
    # the table directory, as a catalog table or Spark reads it
    assert footer_schema(out) == spark.read.parquet(out).schema


def test_engine_and_load_table_launch_no_jobs(spark):
    sc = spark.sparkContext

    def jobs_launched_by(fn) -> list[int]:
        group = f"catalog-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "catalog schema probe")
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_launched_by(lambda: Engine(SF_SMOKE, spark=spark)) == []
    assert jobs_launched_by(lambda: load_table(spark, SF_SMOKE, "events")) == []
    # the probe sees the inference job a plain read launches
    assert jobs_launched_by(lambda: spark.read.parquet(os.path.join(SF_SMOKE, "orders.parquet")))
