"""The stream-execution owner (streaming/run.py): every stream starts,
drains and stops through `drive`, every RocksDB stream gets the same
state-store setting, and no other module forks that lifecycle."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from database_query_processor_spark.streaming.run import (
    _stream_state_partitions,
    drive,
    events_stream,
    memory_sink,
)
from tests.conftest import SF_SMOKE

PACKAGE = Path(__file__).resolve().parent.parent / "database_query_processor_spark"
OWNER = PACKAGE / "streaming" / "run.py"


class _StatePartitions(StreamingQueryListener):
    """Collects numShufflePartitions of every state operator in every
    progress event."""

    def __init__(self):
        self.seen: list[int] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.seen += [op.numShufflePartitions for op in event.progress.stateOperators]

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _state_partitions_of(spark, run) -> set[int]:
    listener = _StatePartitions()
    spark.streams.addListener(listener)
    try:
        run(spark, SF_SMOKE).count()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
    assert listener.seen, "no state operator reported progress"
    return set(listener.seen)


def test_rocksdb_streams_share_state_partitioning(spark):
    """s06 (dropDuplicates) and s12 (transformWithState) both run on
    the RocksDB store with the input-derived state partition count,
    not the session's core-count shuffle default."""
    from database_query_processor_spark.streaming.dedup import run_stream_dedup
    from database_query_processor_spark.streaming.stateful import (
        run_session_expiry_stream,
    )

    want = _stream_state_partitions(
        spark, os.path.getsize(os.path.join(SF_SMOKE, "events.parquet"))
    )
    assert _state_partitions_of(spark, run_stream_dedup) == {want}
    assert _state_partitions_of(spark, run_session_expiry_stream) == {want}


def test_drive_propagates_foreach_batch_error(spark):
    def boom(batch_df, batch_id):
        raise RuntimeError("planted foreachBatch failure")

    with pytest.raises(StreamingQueryException, match="planted foreachBatch failure"):
        drive(events_stream(spark, SF_SMOKE).writeStream.foreachBatch(boom))
    assert spark.streams.active == []


def test_memory_sink_propagates_query_failure(spark):
    failing = events_stream(spark, SF_SMOKE).select(
        F.assert_true(F.col("event_id") < 0, "planted query failure").alias("ok")
    )
    try:
        with pytest.raises(StreamingQueryException, match="planted query failure"):
            memory_sink(failing, "planted_failure", mode="append")
    finally:
        spark.catalog.dropTempView("dqps_sink_planted_failure")
    assert spark.streams.active == []


def _streaming_module(node: ast.ImportFrom, path: Path) -> bool:
    """Whether ``node`` imports from a module of the streaming package."""
    if node.level == 0:
        return (node.module or "").startswith("database_query_processor_spark.streaming")
    base = path.parent
    for _ in range(node.level - 1):
        base = base.parent
    return (base / (node.module or "").replace(".", "/")).resolve().is_relative_to(
        PACKAGE / "streaming"
    )


def test_stream_lifecycle_has_one_owner():
    """processAllAvailable is called only in streaming/run.py, and no
    module imports a private name from a streaming module."""
    drains, private = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        if path != OWNER and "processAllAvailable(" in src:
            drains.append(str(path.relative_to(PACKAGE)))
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.ImportFrom) and _streaming_module(node, path):
                private += [
                    f"{path.relative_to(PACKAGE)}: {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert drains == [], drains
    assert private == [], private
