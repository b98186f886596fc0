"""Per-layer readings for the benchmark: spans, counters, Spark status
and /proc.

Everything here observes the engine from outside the package:

* `Tracer` keeps spans (name, start, end, parent, query id) and
  counters in memory; `write` dumps them as JSON when the run ends.
* `instrument` wraps the public functions of the session, catalog,
  dialect and sink layers wherever the package's modules reference
  them, so calls made deep inside a builder are still timed.
* `stage_totals` reads one query's Spark stages by job group from the
  status store, right after that query, so stage retention limits
  never turn a reading into a delta over unrelated stages.
* `StreamProgress` sums micro-batch progress events.
* `ProcTree` reads CPU and peak memory of this process and its
  descendants (JVM, Python workers) from /proc.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql.streaming import StreamingQueryListener

# Per-layer metric -> (unit, end-to-end metric it should move, on which
# workloads). Written down before measuring, so that a change to one
# layer can be checked against the number it was expected to move.
LAYER_METRICS: dict[str, tuple[str, str, str]] = {
    "session.get_spark_s": ("s", "setup_s", "adhoc, pipeline"),
    "catalog.register_tables_s": ("s", "setup_s", "adhoc, pipeline"),
    "catalog.input_bytes": ("bytes", "pass_s", "pipeline; query_p50_s on adhoc"),
    "dialect.translate_s": ("s", "query_p50_s", "adhoc"),
    "dialect.translate_calls": ("count", "query_p50_s", "adhoc"),
    "workload.build_s": ("s", "query_p50_s", "adhoc; pass_s on pipeline"),
    "workload.build_jobs": ("count", "query_p50_s", "adhoc; pass_s on pipeline"),
    "plan.plan_s": ("s", "query_p50_s", "adhoc, pipeline"),
    "plan.exchanges": ("count", "query_p50_s", "adhoc; pass_s on pipeline"),
    "plan.python_nodes": ("count", "pass_s", "pipeline"),
    "exec.execute_s": ("s", "pass_s", "pipeline, adhoc"),
    "exec.jobs": ("count", "pass_s", "pipeline, adhoc"),
    "exec.stages": ("count", "pass_s", "pipeline, adhoc"),
    "exec.tasks": ("count", "pass_s", "pipeline, adhoc"),
    "exec.failed_tasks": ("count", "failed (result line)", "adhoc, pipeline"),
    "exec.executor_run_s": ("s", "pass_s", "pipeline, adhoc"),
    "exec.executor_cpu_s": ("s", "pass_s", "pipeline, adhoc"),
    "exec.jvm_gc_s": ("s", "pass_s", "pipeline, adhoc"),
    "exec.shuffle_read_bytes": ("bytes", "pass_s", "pipeline, adhoc"),
    "exec.shuffle_write_bytes": ("bytes", "pass_s", "pipeline, adhoc"),
    "exec.spill_bytes": ("bytes", "pass_s", "pipeline, adhoc"),
    "exec.slot_util": ("ratio", "pass_s", "pipeline, adhoc"),
    "python.worker_cpu_s": ("s", "pass_s", "pipeline; about 0 on adhoc"),
    "cache.bytes_before_clear": ("bytes", "peak_rss_mb (stderr report)", "pipeline"),
    "sink.write_result_s": ("s", "query_p50_s", "adhoc"),
    "sink.bytes_written": ("bytes", "query_p50_s", "adhoc"),
    "stream.batches": ("count", "pass_s", "pipeline"),
    "stream.trigger_ms": ("ms", "pass_s", "pipeline"),
    "stream.add_batch_ms": ("ms", "pass_s", "pipeline"),
    "stream.wal_commit_ms": ("ms", "pass_s", "pipeline"),
    "stream.commit_offsets_ms": ("ms", "pass_s", "pipeline"),
    "stream.state_commit_ms": ("ms", "pass_s", "pipeline"),
    "stream.state_rows": ("count", "pass_s", "pipeline"),
    "trace.overhead_s": ("s", "none", "adhoc, pipeline"),
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    query: str


class Tracer:
    """Spans and counters of one run, kept in memory.

    A disabled tracer records nothing, so the untraced passes pay
    only a context-manager call per query."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.query = ""
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.query))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counters[name] += value

    def seconds(self, name: str, query_prefix: str = "") -> float:
        """Summed duration of the spans called `name` on queries whose id
        starts with `query_prefix`."""
        return sum(
            s.end - s.start
            for s in self.spans
            if s.name == name and s.query.startswith(query_prefix)
        )

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "counters": dict(self.counters),
                    **extra,
                },
                fh,
            )


# Layer functions wrapped by `instrument`: (module, attribute, span name).
_WRAPPED = (
    ("database_query_processor_spark.session", "get_spark", "session.get_spark"),
    ("database_query_processor_spark.catalog", "register_tables", "catalog.register_tables"),
    ("database_query_processor_spark.catalog", "load_table", "catalog.load_table"),
    ("database_query_processor_spark.plans.dialect", "translate", "dialect.translate"),
    ("database_query_processor_spark.sources.sink", "write_result", "sink.write_result"),
)


@contextmanager
def instrument(tracer: Tracer):
    """Wrap each layer function in a span, in every loaded module of the
    package that holds a reference to it (modules import these names
    directly, so patching the defining module alone would miss calls).
    Restores the originals on exit."""
    import importlib

    patched: list[tuple[object, str, object]] = []
    for mod_name, attr, span_name in _WRAPPED:
        original = getattr(importlib.import_module(mod_name), attr)
        wrapper = _timed(tracer, span_name, original)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("database_query_processor_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, key, wrapper)
                    patched.append((mod, key, original))
    try:
        yield
    finally:
        for mod, key, original in reversed(patched):
            setattr(mod, key, original)


def _timed(tracer: Tracer, name: str, fn):
    def wrapper(*args, **kwargs):
        tracer.count(name + "_calls")
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapper.__wrapped__ = fn
    return wrapper


# --- Spark status ---------------------------------------------------------

STAGE_FIELDS = (
    "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "jvm_gc_s", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)


def drain_listener_bus(spark) -> None:
    """Block until every posted event (stage completions, streaming
    progress) has reached its listeners, so the status store and the
    progress listener are complete for the query that just ran."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_totals(spark, jobs: list[int]) -> dict[str, float]:
    """Sum the status-store stage data of the given jobs' stages. Stages
    skipped because their shuffle output was reused are not counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_status = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    out = dict.fromkeys(STAGE_FIELDS, 0.0)
    seen: set[int] = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for stage in info.stageIds:
            if stage in seen:
                continue
            seen.add(stage)
            attempts = store.stageData(stage, False, no_status, False, no_quantiles)
            for i in range(attempts.size()):
                d = attempts.apply(i)
                if d.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks() + d.numFailedTasks()
                out["failed_tasks"] += d.numFailedTasks()
                out["executor_run_s"] += d.executorRunTime() / 1e3
                out["executor_cpu_s"] += d.executorCpuTime() / 1e9
                out["jvm_gc_s"] += d.jvmGcTime() / 1e3
                out["input_bytes"] += d.inputBytes()
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.diskBytesSpilled()
    return out


def cached_bytes(spark) -> int:
    """Memory plus disk held by persisted RDDs and cached tables."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


class StreamProgress(StreamingQueryListener):
    """Sums micro-batch progress of the streaming queries that builders
    start, and records each batch as a span ending when its progress
    event arrives. Each run id is attributed to the query the harness
    was running when the stream started; its job group is the run id.
    Events arrive on the listener thread; the harness drains the
    listener bus before it reads these counters."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.run_query: dict[str, str] = {}
        self.state_rows: dict[str, int] = {}

    def onQueryStarted(self, event) -> None:
        self.run_query[str(event.runId)] = self.tracer.query

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = p.durationMs
        t = self.tracer
        if t.enabled:
            end = time.perf_counter()
            start = end - d.get("triggerExecution", 0) / 1e3
            query = self.run_query.get(str(p.runId), t.query)
            t.spans.append(Span("stream.batch", start, end, None, query))
        t.count("stream.batches")
        t.count("stream.trigger_ms", d.get("triggerExecution", 0))
        t.count("stream.add_batch_ms", d.get("addBatch", 0))
        t.count("stream.wal_commit_ms", d.get("walCommit", 0))
        t.count("stream.commit_offsets_ms", d.get("commitOffsets", 0))
        for op in p.stateOperators:
            t.count("stream.state_commit_ms", op.commitTimeMs)
        if p.stateOperators:
            self.state_rows[str(p.runId)] = sum(op.numRowsTotal for op in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def runs_of(self, query: str) -> list[str]:
        return [r for r, q in self.run_query.items() if q == query]


# --- /proc ------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime in seconds) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is the state; ppid is field 4 of stat, times 14-17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


class ProcTree:
    """CPU and memory of this process and every live descendant.

    A process's own cutime/cstime hold the CPU of its children that have
    exited and been reaped, so summing utime+stime+cutime+cstime over the
    live tree counts each process once, dead ones included."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _members(self) -> dict[int, float]:
        stats: dict[int, tuple[int, float]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _proc_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        members = {self.root}
        grew = True
        while grew:
            grew = False
            for pid, (ppid, _) in stats.items():
                if ppid in members and pid not in members:
                    members.add(pid)
                    grew = True
        return {pid: stats[pid][1] for pid in members if pid in stats}

    def descendants(self) -> list[int]:
        return [p for p in self._members() if p != self.root]

    def cpu_s(self) -> float:
        return sum(self._members().values())

    def python_worker_cpu_s(self) -> float:
        return sum(
            cpu for pid, cpu in self._members().items()
            if pid != self.root and any(m in _cmdline(pid) for m in ("pyspark.daemon", "pyspark.worker"))
        )

    def peak_rss_mb(self) -> float:
        """Summed VmHWM of the descendants (the JVM and Python workers)."""
        return sum(_vm_hwm_kb(p) for p in self._members() if p != self.root) / 1024
