"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming at all (batch-only single pass,
src/QueryMain.java:162-194); this is the extension surface for
operators Spark's built-in windowed aggregations can't express —
arbitrary per-key state machines (user profiles, fraud counters,
cross-event feature extraction).

The demo operator keeps a per-user running profile (event count,
first/last event time) in explicit GroupState, emitting the updated
profile per key per micro-batch. Scale design: state lives in the
executor state store keyed by user_id (shuffle key), so throughput
scales with executors and state size with distinct keys — at 100 TB
the knobs are the state-store provider (RocksDB), watermark-driven
timeout eviction, and key-salting only if a single user dominates.

Timestamps cross the Arrow boundary as int64 micros (state schema has
no timestamp type restrictions to fight, and min/max on ints is
exact); the plan edge converts back to TIMESTAMP_NTZ.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .run import events_stream, memory_sink, parquet_sink, rocksdb_state


STATE_SCHEMA = "n BIGINT, first_us BIGINT, last_us BIGINT"
OUTPUT_SCHEMA = "user_id BIGINT, n_events BIGINT, first_us BIGINT, last_us BIGINT"


def _update_profile(key, pdfs: Iterator, state) -> Iterator:
    import pandas as pd

    n, first_us, last_us = state.get if state.exists else (0, None, None)
    for pdf in pdfs:
        if pdf.empty:
            continue
        ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
        n += len(pdf)
        mn, mx = int(ts_us.min()), int(ts_us.max())
        first_us = mn if first_us is None else min(first_us, mn)
        last_us = mx if last_us is None else max(last_us, mx)
    state.update((n, first_us, last_us))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "first_us": [first_us], "last_us": [last_us]}
    )


def user_profiles(stream: DataFrame) -> DataFrame:
    """Per-user stateful profile over a streaming DataFrame with
    (user_id, ts) columns. Output: one row per user per micro-batch
    with the running totals."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return stream.select("user_id", "ts").groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_user_profile_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive user_profiles over the finite events parquet: file-source
    readStream → stateful op → update-mode memory sink, synchronously
    to completion. The final per-user profile is the row with the
    largest n_events (update mode emits one row per key per batch) —
    reduced batch-side so the result is batching-invariant."""
    stream = events_stream(spark, sf_dir)
    sink = memory_sink(user_profiles(stream), "user_profiles", mode="update")
    return (
        sink
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.min("first_us").alias("first_us"),
            F.max("last_us").alias("last_us"),
        )
        .select(
            "user_id",
            "n_events",
            F.timestamp_micros(F.col("first_us")).cast("timestamp_ntz").alias("first_ts"),
            F.timestamp_micros(F.col("last_us")).cast("timestamp_ntz").alias("last_ts"),
        )
    )


# --- transformWithState (Spark 4 arbitrary-state API) --------------------

TWS_OUTPUT_SCHEMA = "event_type STRING, day_us BIGINT, n BIGINT"


from pyspark.sql.streaming import StatefulProcessor as _StatefulProcessor


class _DailyCountProcessor(_StatefulProcessor):
    """StatefulProcessor: per event_type, a MapState day→count."""

    def init(self, handle) -> None:
        self._counts = handle.getMapState("daily", "day_us BIGINT", "n BIGINT")

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        touched: dict[int, int] = {}
        for pdf in rows:
            if pdf.empty:
                continue
            day_us = (
                pdf["ts"].astype("datetime64[us]").astype("int64")
                // 86_400_000_000
            ) * 86_400_000_000
            for d, c in day_us.value_counts().items():
                d = int(d)
                if d in touched:
                    prev = touched[d]
                else:
                    # one RPC, not containsKey()+getValue(): getValue
                    # returns None when the map has no such key
                    stored = self._counts.getValue((d,))
                    prev = int(stored[0]) if stored is not None else 0
                total = prev + int(c)
                self._counts.updateValue((d,), (total,))
                touched[d] = total
        if touched:
            yield pd.DataFrame(
                {
                    "event_type": [key[0]] * len(touched),
                    "day_us": list(touched.keys()),
                    "n": list(touched.values()),
                }
            )

    def close(self) -> None:
        pass


def _activate_protobuf_shim(spark: SparkSession) -> None:
    """Make ``google.protobuf`` importable on the driver AND in the
    executor Python workers. Prefers a real installed protobuf; where
    absent (this container), activates the vendored minimal shim
    (vendor/protoshim — pure-Python wire codec covering exactly the
    StateMessage.proto feature set) by prepending it to sys.path and
    shipping it to workers as an addPyFile zip (idempotent: Spark
    dedupes re-added files by name)."""
    try:
        import google.protobuf  # noqa: F401
        return
    except ImportError:
        pass
    import sys
    import tempfile
    import zipfile

    shim_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "vendor",
        "protoshim",
    )
    if shim_root not in sys.path:
        sys.path.insert(0, shim_root)
    import google.protobuf  # noqa: F401  (now resolves to the shim)

    # Zip name carries a content hash: a stale /tmp cache from an older
    # shim version can otherwise ship to executors (pyFiles precede the
    # PYTHONPATH entry on worker sys.path) while the driver imports the
    # new code — silent codec skew. Staging name is per-PID so two
    # drivers building concurrently never clobber each other's temp.
    import hashlib

    sources = []
    for dirpath, _dirs, files in os.walk(os.path.join(shim_root, "google")):
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                sources.append((os.path.relpath(full, shim_root), full))
    sources.sort()
    digest = hashlib.sha256()
    for rel, full in sources:
        digest.update(rel.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(), f"dqps_protoshim_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.tmp-{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for rel, full in sources:
                zf.write(full, rel)
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)

    # The transformWithState DRIVER worker (a dedicated Python process
    # the JVM launches for state-schema pre-init) does not process
    # pyFiles — its sys.path comes solely from the PYTHONPATH the JVM
    # passes. Worker env = JVM env merged with the UDF's envVars
    # (sc.environment), so expose the shim through both: the os.environ
    # entry covers JVMs launched after this point, the sc.environment
    # entry rides inside every UDF created from now on and reaches
    # workers of an already-running JVM.
    for env in (os.environ, spark.sparkContext.environment):
        prev = env.get("PYTHONPATH", "")
        if shim_root not in prev.split(os.pathsep):
            env["PYTHONPATH"] = (
                shim_root + os.pathsep + prev if prev else shim_root
            )


def daily_counts_tws(stream: DataFrame) -> DataFrame:
    """Per-(event_type, day) running counts via Spark 4's
    transformWithStateInPandas — the arbitrary-state successor to
    applyInPandasWithState (s04): typed state variables (MapState
    here) on the executor state store instead of one opaque tuple,
    plus timers/TTL when needed. Counts are additive, so emitted
    update-mode rows are monotone and the batch-side max() reduction
    is batching-invariant (same contract as s04).

    The state-server protocol speaks protobuf; where the real package
    is absent the vendored pure-Python shim is activated for driver
    and workers (see _activate_protobuf_shim)."""
    _activate_protobuf_shim(stream.sparkSession)
    return (
        stream.select("event_type", "ts")
        .groupBy("event_type")
        .transformWithStateInPandas(
            _DailyCountProcessor(),
            outputStructType=TWS_OUTPUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


TWS_RECENT_SCHEMA = "user_id BIGINT, n_seen BIGINT, top3 STRING"


class _RecentTopProcessor(_StatefulProcessor):
    """StatefulProcessor: per user, a ListState of (ts_us, event_id)
    appended per batch; emits the running event count and the 3 most
    recent event ids (ts desc, event_id desc). Exercises the OTHER
    typed-state surface (ListState appendList/get iteration) through
    the state-server protocol — MapState is covered by
    _DailyCountProcessor."""

    def init(self, handle) -> None:
        self._evts = handle.getListState("recent", "ts_us BIGINT, event_id BIGINT")

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        new: list[tuple[int, int]] = []
        for pdf in rows:
            if pdf.empty:
                continue
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            new.extend(
                (int(t), int(e)) for t, e in zip(ts_us, pdf["event_id"])
            )
        if new:
            self._evts.appendList(new)
        stored = [(int(r[0]), int(r[1])) for r in self._evts.get()]
        if not stored:
            return
        top = sorted(stored, key=lambda r: (-r[0], -r[1]))[:3]
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_seen": [len(stored)],
                "top3": [",".join(str(e) for _, e in top)],
            }
        )

    def close(self) -> None:
        pass


def recent_top_tws(stream: DataFrame) -> DataFrame:
    """Per-user running (count, 3-most-recent-events) via
    transformWithStateInPandas ListState. n_seen strictly increases
    per emission, so the batch-side max_by(n_seen) reduction is
    batching-invariant (the last emission per user is the final
    state)."""
    _activate_protobuf_shim(stream.sparkSession)
    return (
        stream.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _RecentTopProcessor(),
            outputStructType=TWS_RECENT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


TWS_SESSION_SCHEMA = (
    "user_id BIGINT, start_us BIGINT, end_us BIGINT, n BIGINT, closed_by STRING"
)
SESSION_GAP_US = 30 * 60 * 1_000_000  # same 30-min gap as batch sessionize (t04)


class _SessionExpiryProcessor(_StatefulProcessor):
    """StatefulProcessor: ValueState + EVENT-TIME TIMERS — the third
    and last typed-state primitive of the Spark 4 API (MapState = s10,
    ListState = s11). Per user, the open session (start, last, n)
    lives in a ValueState; events that jump the inactivity gap close
    the previous session inline ('data'); ONE timer is kept armed at
    last + gap, so when the WATERMARK passes a session's expiry with
    no further events, handleExpiredTimer emits it ('timer') and
    clears the state — the users' final sessions, which no data row
    can ever close, are exactly what the timer path contributes.

    State is O(1) per live user and timers are 1 per user, so at
    100 TB/day the state store holds |active users| entries, not
    events; the RocksDB state store is the scale path."""

    def init(self, handle) -> None:
        self._handle = handle
        self._sess = handle.getValueState(
            "sess", "start_us BIGINT, last_us BIGINT, n BIGINT"
        )

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        evts: list[int] = []
        for pdf in rows:
            if pdf.empty:
                continue
            evts.extend(
                int(t) for t in pdf["ts"].astype("datetime64[us]").astype("int64")
            )
        if not evts:
            return
        evts.sort()
        # ONE state-server round-trip, not exists()+get(): get()
        # returns None when the value state is absent (at 1500 keys
        # per batch at sf0.1 — and 150k at the 10M-event probe — the
        # exists() RPC was pure per-key overhead).
        prev = self._sess.get()
        if prev is not None:
            start, last, n = (int(x) for x in prev)
        else:
            start, last, n = -1, -1, 0
        prev_last = last
        closed: list[tuple[int, int, int]] = []
        for t in evts:
            if n == 0:
                start, last, n = t, t, 1
            elif t - last > SESSION_GAP_US:
                closed.append((start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = max(last, t), n + 1
        self._sess.update((start, last, n))
        # exactly one armed timer per user: re-arm at the new expiry.
        # INVARIANT: a timer is armed iff the value state exists (we
        # register after every update and clear both on expiry), and
        # its expiry is always prev_last + GAP — derivable from the
        # state we just read, so the old timer is deleted by VALUE
        # (one RPC) instead of via the listTimers() iterator protocol
        # (its own round-trips per key). A first-time key has no timer
        # to delete, and an unchanged expiry needs no re-arm at all.
        old_expiry = (prev_last + SESSION_GAP_US) // 1000
        new_expiry = (last + SESSION_GAP_US) // 1000
        if prev is None:
            self._handle.registerTimer(new_expiry)
        elif new_expiry != old_expiry:
            self._handle.deleteTimer(old_expiry)
            self._handle.registerTimer(new_expiry)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [int(key[0])] * len(closed),
                    "start_us": [c[0] for c in closed],
                    "end_us": [c[1] for c in closed],
                    "n": [c[2] for c in closed],
                    "closed_by": ["data"] * len(closed),
                }
            )

    # NB: PySpark invokes this with KEYWORD arguments (key=, timerValues=,
    # expiredTimerInfo= — stateful_processor_util.py:231) so the parameter
    # names must match the base class exactly.
    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import pandas as pd

        prev = self._sess.get()  # one RPC: None when already cleared
        if prev is None:
            return
        start, last, n = (int(x) for x in prev)
        self._sess.clear()
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])],
                "start_us": [start],
                "end_us": [last],
                "n": [n],
                "closed_by": ["timer"],
            }
        )

    def close(self) -> None:
        pass


def session_expiry_tws(stream: DataFrame) -> DataFrame:
    """Per-user gap sessions closed by data OR by event-time timer
    (timeMode='EventTime' requires a watermark; 0s delay — the finite
    replayed parquet arrives in one batch, and the trailing no-data
    batch fires every timer the final watermark passed)."""
    _activate_protobuf_shim(stream.sparkSession)
    return (
        stream.select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .transformWithStateInPandas(
            _SessionExpiryProcessor(),
            outputStructType=TWS_SESSION_SCHEMA,
            outputMode="Update",
            timeMode="EventTime",
        )
    )


def run_session_expiry_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive session_expiry_tws over the finite events parquet
    (RocksDB state store, parquet file sink). Every session is
    emitted exactly once (a session closes once under any batching),
    so no reduction is needed — only a typed projection.

    SINGLE-BATCH CONTRACT: the s12 oracle (TWS_SESSION_SQL) assumes
    every non-final session is closed by a DATA row — true exactly
    when the finite events table replays as ONE microbatch, so no
    intermediate watermark can fire a timer mid-history. One parquet
    FILE -> one file-source batch guarantees it; a multi-file events
    dir (or a maxFilesPerTrigger split) could let a timer close a
    non-final session and flip its closed_by. Assert the precondition
    loudly instead of letting the oracle go quietly stale (artifacts/
    gen_scale.py writes events as one file for the same reason).

    SINK: the parquet file sink, not memory — sessions are ~0.95 rows
    per input event on this horizon, and S12_DECOMP_r10 measured the
    memory sink's driver-side collect as about half the 10M-event
    wall and its super-linear term."""
    events_path = os.path.join(sf_dir, "events.parquet")
    if not os.path.isfile(events_path):
        raise ValueError(
            "run_session_expiry_stream requires a SINGLE-FILE events.parquet "
            f"(single-microbatch replay; the closed_by oracle depends on it): {events_path}"
        )
    with rocksdb_state(spark, sf_dir):
        stream = events_stream(spark, sf_dir)
        sink = parquet_sink(session_expiry_tws(stream), "session_expiry")
    return sink.select(
        "user_id",
        F.timestamp_micros(F.col("start_us")).cast("timestamp_ntz").alias("session_start"),
        F.timestamp_micros(F.col("end_us")).cast("timestamp_ntz").alias("session_end"),
        "n", "closed_by",
    )


def run_recent_top_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive recent_top_tws over the finite events parquet (RocksDB
    state store, update-mode memory sink) and reduce to each user's
    final emission."""
    with rocksdb_state(spark, sf_dir):
        stream = events_stream(spark, sf_dir)
        sink = memory_sink(recent_top_tws(stream), "recent_top", mode="update")
    final = F.max(F.struct("n_seen", "top3")).alias("_f")
    return (
        sink.groupBy("user_id")
        .agg(final)
        .select("user_id", F.col("_f.n_seen").alias("n_seen"),
                F.col("_f.top3").alias("top3"))
    )


def run_daily_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive daily_counts_tws over the finite events parquet to
    completion (file readStream → RocksDB-backed state → update-mode
    memory sink), then reduce update rows to the final count per
    (event_type, day)."""
    with rocksdb_state(spark, sf_dir):
        stream = events_stream(spark, sf_dir)
        sink = memory_sink(daily_counts_tws(stream), "daily_counts", mode="update")
    return (
        sink
        .groupBy("event_type", "day_us")
        .agg(F.max("n").alias("n"))
        .select(
            "event_type",
            F.timestamp_micros(F.col("day_us")).cast("timestamp_ntz").alias("day"),
            "n",
        )
    )
