"""Watermark semantics under REAL streaming execution: a late event
arriving after the watermark has passed its window must be dropped,
not silently aggregated. This is the late-data contract SCALE.md
claims for the streaming operators (state bounded by the watermark).
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F


def test_late_event_dropped_after_watermark(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    schema = "ts timestamp, user string"

    from datetime import datetime

    def write_batch(rows, fname):
        typed = [(datetime.fromisoformat(ts), u) for ts, u in rows]
        spark.createDataFrame(typed, schema).coalesce(1).write.mode("append").parquet(src)

    # batch 1: one event in window W1 [00:00, 01:00), one at 05:00
    # (advances max event time → watermark becomes 04:50 ≫ W1's end).
    write_batch(
        [("2024-01-01 00:10:00", "u1"), ("2024-01-01 05:00:00", "u2")], "b1"
    )

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    name = "late_" + uuid.uuid4().hex[:8]
    q = agg.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        # batch 2: a LATE event for W1 (ts < watermark) plus a fresh one.
        write_batch(
            [("2024-01-01 00:20:00", "u3"), ("2024-01-01 05:10:00", "u4")], "b2"
        )
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.table(name).filter(F.col("ws") == F.lit("2024-01-01 00:00:00").cast("timestamp"))
    counts = sorted(r.n for r in out.collect())
    # W1 was emitted once (n=1) in batch 1; the late u3 event must NOT
    # have produced an n=2 update.
    assert counts == [1], counts


def test_foreach_batch_sink_idempotent(spark, tmp_path):
    """Re-delivering an epoch (same batch_id) must leave the sink
    contents unchanged — overwrite into the epoch directory makes the
    redelivery a no-op, which is the exactly-once contract."""
    from database_query_processor_spark.streaming.sinks import run_foreach_batch_sink

    out = str(tmp_path / "sink")
    first = {
        (r["event_type"], r["n"])
        for r in run_foreach_batch_sink(spark, "/root/testdata/sf0.001", out).collect()
    }
    # Second full run against the SAME directory: every epoch is
    # redelivered; contents must not duplicate.
    second = {
        (r["event_type"], r["n"])
        for r in run_foreach_batch_sink(spark, "/root/testdata/sf0.001", out).collect()
    }
    assert first == second


class _FakeMapState:
    """In-memory MapState double for protobuf-free logic tests."""

    def __init__(self):
        self.d = {}

    def containsKey(self, k):
        return k in self.d

    def getValue(self, k):
        # real MapState.getValue returns None for a missing key
        return self.d.get(k)

    def updateValue(self, k, v):
        self.d[k] = v


class _FakeHandle:
    def __init__(self, state):
        self._state = state

    def getMapState(self, name, key_schema, value_schema, ttlDurationMs=None):
        return self._state


def test_tws_daily_count_processor_logic():
    """_DailyCountProcessor (the transformWithStateInPandas s10
    operator) accumulates per-(key, day) counts across batches and
    emits monotone updates — the protobuf-free logic check backing
    the full streaming run (s10_daily_counts_tws, which uses the
    vendored protobuf shim for the real state server)."""
    import pandas as pd

    from database_query_processor_spark.streaming.stateful import (
        _DailyCountProcessor,
    )

    p = _DailyCountProcessor()
    p.init(_FakeHandle(_FakeMapState()))
    day0 = pd.Timestamp("2024-01-01")
    batch1 = pd.DataFrame({"ts": [day0, day0 + pd.Timedelta(hours=3),
                                  day0 + pd.Timedelta(days=1)]})
    out1 = pd.concat(p.handleInputRows(("click",), iter([batch1]), None))
    got1 = dict(zip(out1["day_us"], out1["n"]))
    d0_us = int(day0.value // 1000)
    d1_us = d0_us + 86_400_000_000
    assert got1 == {d0_us: 2, d1_us: 1}

    # second batch: same day accumulates on top of stored state
    batch2 = pd.DataFrame({"ts": [day0 + pd.Timedelta(hours=5)]})
    out2 = pd.concat(p.handleInputRows(("click",), iter([batch2]), None))
    assert dict(zip(out2["day_us"], out2["n"])) == {d0_us: 3}


def test_tws_protobuf_shim_activates(spark):
    """The vendored pure-Python protobuf shim must make BOTH
    google.protobuf and PySpark's generated StateMessage_pb2
    importable, and the messages must wire-round-trip (the s10
    topology rides on this)."""
    from database_query_processor_spark.streaming.stateful import (
        _activate_protobuf_shim,
    )

    _activate_protobuf_shim(spark)
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    req = sm.StateRequest(
        statefulProcessorCall=sm.StatefulProcessorCall(
            getMapState=sm.StateCallCommand(
                stateName="daily", schema="day_us BIGINT",
                mapStateValueSchema="n BIGINT",
            )
        )
    )
    back = sm.StateRequest()
    back.ParseFromString(req.SerializeToString())
    got = back.statefulProcessorCall.getMapState
    assert (got.stateName, got.schema, got.mapStateValueSchema) == (
        "daily", "day_us BIGINT", "n BIGINT",
    )
    resp = sm.StateResponseWithMapIterator()
    resp.ParseFromString(
        sm.StateResponseWithMapIterator(
            statusCode=0,
            kvPair=[sm.KeyAndValuePair(key=b"k", value=b"v")],
            requireNextFetch=True,
        ).SerializeToString()
    )
    assert [(p.key, p.value) for p in resp.kvPair] == [(b"k", b"v")]
    assert resp.requireNextFetch is True


def test_cdc_epoch_redelivery_idempotent(spark, tmp_path):
    """s09's exactly-once contract: re-applying an epoch with the same
    batch_id must be a manifest no-op, and the incremental apply must
    converge to the one-shot batch MERGE."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.relational import merge_into
    from database_query_processor_spark.sources import snapshots as SNAP
    from database_query_processor_spark.streaming.cdc import (
        apply_cdc_epoch,
        run_cdc_apply,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    log = spark.createDataFrame(
        [(2, "B", 25.0, False), (3, "c", 30.0, True), (4, "d", 40.0, False)],
        "k long, s string, v double, is_delete boolean",
    )

    table = str(tmp_path / "cdc_tbl")
    (tmp_path / "cdc_tbl").mkdir()
    final = run_cdc_apply(
        spark, target, log, key="k", update_cols=["s", "v"],
        log_files=2, table_dir=table,
    )
    batch = merge_into(
        target, log, key="k",
        matched_update={"s": F.col("s.s"), "v": F.col("s.v")},
        matched_delete=F.col("s.is_delete"),
    )
    assert sorted(final.collect()) == sorted(batch.collect())

    # redeliver the last applied epoch: manifest must not move
    v_before = SNAP.latest_version(table)
    import json as _json

    with open(SNAP._manifest(table, v_before)) as fh:
        live_name = _json.load(fh)["files"][0]  # merged_<run>_epoch_<id>
    prefix, bid = live_name.rsplit("_epoch_", 1)
    redo = apply_cdc_epoch(
        spark, table, log.limit(1), batch_id=int(bid),
        key="k", update_cols=["s", "v"], name_prefix=prefix,
    )
    assert redo is False and SNAP.latest_version(table) == v_before


def test_cdc_delete_of_absent_key_is_noop(spark, tmp_path):
    """A changelog delete for a key the snapshot doesn't hold must NOT
    resurrect the record via WHEN NOT MATCHED insert — the CDC path
    gates source-only rows on ~is_delete."""
    from pyspark.sql import functions as F  # noqa: F401

    from database_query_processor_spark.streaming.cdc import run_cdc_apply

    target = spark.createDataFrame(
        [(1, "a", 10.0)], "k long, s string, v double"
    )
    # delete of absent key 99, plus a real insert and a real delete
    log = spark.createDataFrame(
        [(99, "ghost", 0.0, True), (2, "b", 20.0, False), (1, "a", 10.0, True)],
        "k long, s string, v double, is_delete boolean",
    )
    table = str(tmp_path / "tbl")
    (tmp_path / "tbl").mkdir()
    final = run_cdc_apply(
        spark, target, log, key="k", update_cols=["s", "v"],
        log_files=1, table_dir=table,
    )
    assert {(r.k, r.s) for r in final.collect()} == {(2, "b")}


def test_cdc_crash_between_data_write_and_publish_recovers(spark, tmp_path):
    """The exactly-once crash window: an epoch that wrote its data dir
    but died before the manifest rename leaves an unpublished orphan.
    Redelivery must discard the orphan and commit cleanly instead of
    wedging on mode('errorifexists')."""
    from database_query_processor_spark.sources import snapshots as SNAP
    from database_query_processor_spark.streaming.cdc import apply_cdc_epoch

    target = spark.createDataFrame([(1, "a", 10.0)], "k long, s string, v double")
    table = str(tmp_path / "tbl")
    (tmp_path / "tbl").mkdir()
    SNAP.commit(table, {"base": target})

    # simulate the crash: epoch 0's data dir exists, no manifest names it
    orphan = spark.createDataFrame([(1, "STALE", -1.0)], "k long, s string, v double")
    orphan.coalesce(1).write.parquet(str(tmp_path / "tbl" / "data" / "merged_epoch_0"))
    assert SNAP.latest_version(table) == 1

    batch = spark.createDataFrame(
        [(1, "a2", 11.0, False)], "k long, s string, v double, is_delete boolean"
    )
    assert apply_cdc_epoch(
        spark, table, batch, batch_id=0, key="k", update_cols=["s", "v"]
    ) is True
    final = {(r.k, r.s, r.v) for r in SNAP.read_version(spark, table).collect()}
    assert final == {(1, "a2", 11.0)}  # orphan bytes replaced, not read


def test_snapshot_commit_never_overwrites_published_history(spark, tmp_path):
    """A name referenced by ANY published manifest — even one whose
    file was since dropped from the live snapshot — is immutable
    history (time travel reads old manifests), so re-adding it must
    raise rather than overwrite."""
    import pytest

    from database_query_processor_spark.sources import snapshots as SNAP

    df1 = spark.createDataFrame([(1,)], "k long")
    df2 = spark.createDataFrame([(2,)], "k long")
    table = str(tmp_path / "tbl")
    (tmp_path / "tbl").mkdir()
    SNAP.commit(table, {"base": df1})
    SNAP.commit(table, {"v2": df2}, drops=("base",))  # base now historical
    with pytest.raises(ValueError, match="immutable"):
        SNAP.commit(table, {"base": df2})
    # v1 stays readable after the refused overwrite
    assert [r.k for r in SNAP.read_version(spark, table, 1).collect()] == [1]


def test_commit_ignores_stale_staging_debris(spark, tmp_path):
    """A .staging-* dir left by a commit that crashed mid-write is
    invisible to readers and must not block a retry of the same name
    (the retry stages under a fresh token and promotes over the
    never-published name)."""
    from database_query_processor_spark.sources import snapshots as SNAP

    table = str(tmp_path / "tbl")
    (tmp_path / "tbl" / "data").mkdir(parents=True)
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    # crashed attempt: staging dir written, never promoted
    df.coalesce(1).write.parquet(
        str(tmp_path / "tbl" / "data" / "snap.staging-deadbeef")
    )
    v = SNAP.commit(table, {"snap": df})
    assert v == 1
    assert [tuple(r) for r in SNAP.read_version(spark, table, 1).collect()] == [
        (1, "a")
    ]
    # debris is still on disk (gc is out of band) but never read
    import os

    assert any(
        name.startswith("snap.staging-")
        for name in os.listdir(tmp_path / "tbl" / "data")
    )


def test_tws_mapstate_topology_runs(spark):
    """End-to-end transformWithStateInPandas run (MapState on the
    RocksDB store through the vendored protobuf shim) at the smoke
    scale: result equals the batch groupBy."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.catalog import load_table
    from database_query_processor_spark.streaming.stateful import (
        run_daily_counts_stream,
    )

    got = run_daily_counts_stream(spark, "/root/testdata/sf0.001")
    expect = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    g = {(r.event_type, r.day, r.n) for r in got.collect()}
    e = {(r.event_type, r.day, r.n) for r in expect.collect()}
    assert g == e


def test_tws_liststate_topology_runs(spark):
    """End-to-end ListState run: final per-user (n_seen, top3) equals
    the batch window derivation."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from database_query_processor_spark.catalog import load_table
    from database_query_processor_spark.streaming.stateful import (
        run_recent_top_stream,
    )

    got = {
        (r.user_id, r.n_seen, r.top3)
        for r in run_recent_top_stream(spark, "/root/testdata/sf0.001").collect()
    }
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    expect = {
        (r.user_id, r.n_seen, r.top3)
        for r in (
            ev.select(
                "user_id", "event_id",
                F.row_number().over(w).alias("rn"),
                F.count("*").over(W.partitionBy("user_id")).alias("n_seen"),
            )
            .filter(F.col("rn") <= 3)
            .groupBy("user_id", "n_seen")
            .agg(
                F.concat_ws(
                    ",", F.collect_list(F.col("event_id").cast("string"))
                ).alias("top3")
            )
        ).collect()
    }
    assert got == expect


def test_tws_timer_session_expiry_planted(spark, tmp_path):
    """ValueState + event-time timers on a PLANTED stream where every
    expected row is hand-derivable: user 1 has two sessions — the
    second event pair closes the first inline ('data'), and the
    watermark (driven to t0+5h by user 2's lone event) fires the
    armed timer for the second ('timer'). User 2 holds the global max
    timestamp, so its own session's expiry never precedes the final
    watermark and must NOT be emitted."""
    import datetime as dt

    from database_query_processor_spark.streaming.stateful import (
        run_session_expiry_stream,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)

    def us(delta_min):
        return t0 + dt.timedelta(minutes=delta_min)

    rows = [
        (1, 1, us(0), "a", 0.0),
        (1, 2, us(10), "a", 0.0),   # same session (gap 10min < 30)
        (1, 3, us(120), "a", 0.0),  # jumps the gap -> closes session 1
        (2, 4, us(300), "a", 0.0),  # global max ts, drives the watermark
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp_ntz, event_type string, value double"
    )
    # one parquet FILE named events.parquet (the stream's pathGlobFilter
    # matches the file name, like the driver-generated testdata layout)
    import pyarrow.parquet as pq

    pq.write_table(
        __import__("pyarrow").Table.from_pandas(df.toPandas()),
        str(tmp_path / "events.parquet"),
    )

    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n, r.closed_by)
        for r in run_session_expiry_stream(spark, str(tmp_path)).collect()
    )
    assert got == [
        (1, us(0), us(10), 2, "data"),
        (1, us(120), us(120), 1, "timer"),
    ]


def test_tws_timer_fires_at_exact_watermark(spark, tmp_path):
    """Pins Spark's timer-expiry comparison as INCLUSIVE (fires when
    expiry ms == watermark ms), which the s12 oracle mirrors with
    '<='. Planted: user 1's session expiry lands EXACTLY on the final
    watermark (user 2's lone max-ts event, whole-second timestamps so
    the ms floor is exact) — the 'timer' row must be emitted."""
    import datetime as dt
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_query_processor_spark.streaming.stateful import (
        SESSION_GAP_US,
        run_session_expiry_stream,
    )

    t0 = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [
        (1, 1, t0, "a", 0.0),
        (2, 2, t0 + dt.timedelta(microseconds=SESSION_GAP_US), "a", 0.0),
    ]
    df = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "event_type", "value"])
    df["ts"] = pd.to_datetime(df["ts"])
    pq.write_table(pa.Table.from_pandas(df), os.path.join(str(tmp_path), "events.parquet"))
    got = run_session_expiry_stream(spark, str(tmp_path)).collect()
    assert [(r.user_id, r.closed_by) for r in got] == [(1, "timer")]


def test_session_expiry_requires_single_file_events(spark, tmp_path):
    """The s12 closed_by oracle assumes single-microbatch replay (no
    intermediate watermark can fire a timer mid-history); a DIRECTORY
    events.parquet (multi-file) must be refused loudly instead of
    quietly flipping closed_by values."""
    import os

    import pytest

    from database_query_processor_spark.streaming.stateful import (
        run_session_expiry_stream,
    )

    os.makedirs(tmp_path / "events.parquet")
    with pytest.raises(ValueError, match="SINGLE-FILE"):
        run_session_expiry_stream(spark, str(tmp_path))


def test_stream_state_partitions_follow_input_size(spark):
    """State partitions = input bytes / 256 KiB, rounded to nearest,
    at least 1 and at most defaultParallelism."""
    from database_query_processor_spark.streaming.stateful import (
        STREAM_STATE_BYTES_PER_PARTITION as B,
        _stream_state_partitions as parts,
    )

    cap = spark.sparkContext.defaultParallelism
    assert B == 256 * 1024
    assert parts(spark, 0) == 1 and parts(spark, B // 3) == 1  # floor of 1
    assert parts(spark, int(1.4 * B)) == 1
    assert parts(spark, int(1.6 * B)) == min(cap, 2)
    assert parts(spark, cap * B) == cap
    assert parts(spark, 1000 * cap * B) == cap  # capped


def test_conf_scope_restores_session_conf(spark):
    """_conf_scope sets its keys for the scope only: a preset key gets
    its old value back and an unset key is unset again, also when the
    body raises."""
    from database_query_processor_spark.streaming.windows import _conf_scope

    preset, fresh = "spark.sql.shuffle.partitions", "spark.dqps.test.fresh"
    old = spark.conf.get(preset)
    try:
        with _conf_scope(spark, {preset: "3", fresh: "x"}):
            assert spark.conf.get(preset) == "3" and spark.conf.get(fresh) == "x"
            raise RuntimeError("body failed")
    except RuntimeError:
        pass
    assert spark.conf.get(preset) == old
    assert spark.conf.get(fresh, None) is None
