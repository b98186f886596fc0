#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 15 --trace 0

Run from the repository root. One driver process on local[nproc] with
SPARK_GRAFT_CPUS=nproc serves a closed loop with one client: each query
is sent after the previous one has finished. A run

1. sets the session up once (`get_spark` + `Engine`, which registers
   the tables) in a newly launched JVM, as a user's first call does, and
   reports that time as `setup_s`;
2. checks every query of the workload once against its DuckDB oracle
   (untimed; this pass also warms the JVM);
3. repeats timed passes over the workload until `--seconds` have passed,
   and at least MIN_PASSES times, so each query's median has at least
   two warm samples beside the first.

Each query's latency is its median over the timed passes, so the first,
least warm pass and one slow moment of the host do not move it. Before
each timed query the run also takes a host probe (`host_probe`), a fixed
task that runs none of the program's code, and all three end-to-end
metrics are scaled to the reference host speed: multiplied by
REF_PROBE_S / (the run's median probe time). The host is shared: its
other tenants make every query of a run slower together, by up to 70%
for minutes at a time, and the probe, read in the same minutes, follows
part of that drift, so runs made at different times compare more nearly
like-for-like. `setup_s` is the scaled setup time, `pass_s` the sum of
the scaled query latencies over the workload's queries (one pass at each
query's typical speed) and `query_p50_s` their median. The stderr report
holds the unscaled values ("wall"), the probe times, the p90 over the
queries beside its sample count (with 5 or 10 queries a pass it is the
slowest query's latency, too unsteady across runs to bound), the CPU
time of this process and its descendants (JVM, Python workers) inside a
pass's queries (which JIT compilation threads make as unsteady), peak
resident memory, the failed fraction, each query's oracle row count,
each pass's wall time and the host's cores, memory, load and CPU steal.

Between queries, outside the timed window, the cached intermediates are
cleared and the JVM and this process collect garbage. With `--trace 0` the result line
carries the end-to-end metrics. With `--trace 1` a traced pass follows
the timed ones and the result line carries the per-layer metrics; the
spans and counters are written to .perfbench_work/traces/.

Inputs: the sf0.1 tables under perfbench/data. All scratch files go to
.perfbench_work/ in the repository root. The last stdout line is
{"correct", "attempted", "failed", "metrics"}; everything else goes to
stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

import numpy as np

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
DATA = BENCH / "data" / "sf0.1"
WORK = ROOT / ".perfbench_work"
RUN_DIR = WORK / f"run-{os.getpid()}"
MIN_PASSES = 3
# host_probe's median CPU time on a quiet reference host (4 vCPUs of a
# shared x86-64 VM), to which the end-to-end times are scaled
REF_PROBE_S = 0.020

sys.path.insert(0, str(ROOT))

from database_query_processor_spark import session  # noqa: E402
from database_query_processor_spark.engine import Engine  # noqa: E402
from database_query_processor_spark.plans import inspect  # noqa: E402
from database_query_processor_spark.sources import sink  # noqa: E402

import tracing  # noqa: E402
from workloads import WORKLOADS, check, pass_queries  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
}
PER_LAYER = {name: unit for name, (unit, _, _) in tracing.LAYER_METRICS.items()}


def _host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "loadavg": os.getloadavg()[0],
        "cpu_ticks": sum(cpu),
        "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
    }


def _prepare_env(nproc: int) -> None:
    """Scratch dirs inside the checkout, the host's cores, and the repo
    root on PYTHONPATH, all before the JVM (and the Python workers and
    streaming runners it forks) starts."""
    for stale in WORK.glob("run-*"):  # left by a run that was killed
        if not Path("/proc", stale.name[4:]).exists():
            shutil.rmtree(stale, ignore_errors=True)
    for sub in ("py", "local", "results"):
        (RUN_DIR / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(RUN_DIR / "py")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(RUN_DIR / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def _spark_conf(mem_total_mb: int) -> tuple[str, dict]:
    driver_memory = f"{max(1024, mem_total_mb // 4)}m"
    return driver_memory, {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(RUN_DIR / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={RUN_DIR / 'py'}",
    }


def _stop_spark(spark, procs: tracing.ProcTree) -> None:
    """Stop the session, then the JVM, then wait for every descendant."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while procs.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in procs.descendants():
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def _p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[-1] if len(values) > 1 else values[0]


# physical operators that run Python code in the executors
_PYTHON_NODE = re.compile(
    r"\b(?:BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas(?:WithState)?"
    r"|TransformWithStateInPandas)\b"
)


_PROBE_RNG = np.random.default_rng(0)
_PROBE_TABLE = _PROBE_RNG.integers(0, 1 << 30, 16_000_000, dtype=np.int32)  # 64 MB
_PROBE_INDEX = _PROBE_RNG.integers(0, len(_PROBE_TABLE), 1_000_000)


def host_probe() -> float:
    """CPU seconds this thread spends on a fixed task that runs none of
    the program's code: a million reads at random places in a table many
    times larger than a core's own caches, so they are served by the
    cache all the host's cores share, or by memory. A shared host's other
    tenants slow that access for minutes at a time, and this workload's
    JVM feels it far more than a loop of arithmetic does; CPU time, unlike
    wall time, leaves out the moments the thread waits for a core."""
    t0 = time.thread_time()
    _PROBE_TABLE[_PROBE_INDEX].sum()
    return time.thread_time() - t0


class Runner:
    """Executes queries for one run and keeps what they measured."""

    def __init__(self, workload: str, eng: Engine, tracer: tracing.Tracer, procs: tracing.ProcTree,
                 progress: tracing.StreamProgress):
        self.workload = workload
        self.eng = eng
        self.spark = eng.spark
        self.tracer = tracer
        self.procs = procs
        self.progress = progress
        self.results = RUN_DIR / "results"
        self.failed = 0
        self.attempted = 0
        self.per_query: dict[str, dict] = {}
        self.latencies: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.probes: list[float] = []

    def _reset(self) -> None:
        # a full collection between queries, in the JVM and in this
        # process, keeps one query's garbage out of the next one's timing
        # and keeps peak memory repeatable
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    def check_all(self, queries) -> dict[str, int]:
        """Oracle-check each query once; returns oracle row counts."""
        rows = {}
        for q in queries:
            self.spark.sparkContext.setJobGroup(f"{self.workload}/check/{q.qid}", q.qid)
            try:
                problems, rows[q.qid] = check(self.eng, q)
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                self.failed += 1
                print(f"check {q.qid}: WRONG {problems}", file=sys.stderr)
            self._reset()
        return rows

    def run_pass(self, queries, label: str) -> list[float]:
        """One pass; returns per-query latencies (failed queries excluded)
        and keeps each query's latency and the CPU the process tree spent
        inside it."""
        lats = []
        for q in queries:
            self.probes.append(host_probe())
            self.attempted += 1
            cpu0 = self.procs.cpu_s()
            try:
                lats.append(self._run_query(q, f"{self.workload}/{label}/{q.qid}"))
                self.cpu.setdefault(q.qid, []).append(self.procs.cpu_s() - cpu0)
                self.latencies.setdefault(q.qid, []).append(lats[-1])
            except Exception:
                self.failed += 1
                print(f"query {q.qid} failed:\n{traceback.format_exc()}", file=sys.stderr)
            self._reset()
        return lats

    def _run_query(self, q, group: str) -> float:
        t = self.tracer
        t.query = group
        sc = self.spark.sparkContext
        sc.setJobGroup(group, q.qid)
        worker_cpu0 = self.procs.python_worker_cpu_s() if t.enabled else 0.0
        t0 = time.perf_counter()
        with t.span("query"):
            with t.span("workload.build"):
                df = q.build(self.eng)
            if t.enabled:
                build_jobs = len(tracing.job_ids(self.spark, group))
                with t.span("plan.plan"):
                    df._jdf.queryExecution().executedPlan()
            with t.span("exec.execute"):
                if q.to_file:
                    sink.write_result(df, str(self.results / q.qid), single_file=True)
                else:
                    df.write.format("noop").mode("overwrite").save()
        latency = time.perf_counter() - t0
        if t.enabled:
            self._record_layers(q, df, group, build_jobs, worker_cpu0)
        return latency

    def _record_layers(self, q, df, group: str, build_jobs: int, worker_cpu0: float) -> None:
        t = self.tracer
        spark = self.spark
        t.count("python.worker_cpu_s", self.procs.python_worker_cpu_s() - worker_cpu0)
        tracing.drain_listener_bus(spark)
        jobs = tracing.job_ids(spark, group)
        t.count("workload.build_jobs", build_jobs)
        t.count("exec.jobs", len(jobs) - build_jobs)
        for run_id in self.progress.runs_of(group):
            jobs += tracing.job_ids(spark, run_id)
            t.count("stream.state_rows", self.progress.state_rows.get(run_id, 0))
        stages = tracing.stage_totals(spark, jobs)
        for k, v in stages.items():
            t.count("catalog.input_bytes" if k == "input_bytes" else f"exec.{k}", v)
        t.count("plan.exchanges", inspect.count_exchanges(df))
        t.count("plan.python_nodes", len(_PYTHON_NODE.findall(inspect.explain_str(df, "simple"))))
        cached = tracing.cached_bytes(spark)
        t.count("cache.bytes_before_clear", cached)
        if q.to_file:
            t.count("sink.bytes_written", sum(
                f.stat().st_size for f in (self.results / q.qid).glob("part-*")))
        self.per_query[group] = {"build_jobs": build_jobs, "jobs": len(jobs),
                                 "cached_bytes": cached, **stages}

    def file_rows(self, qid: str) -> int:
        """Data rows of the result file the last pass wrote for `qid`."""
        total = 0
        for f in (self.results / qid).glob("part-*.csv"):
            with open(f) as fh:
                total += max(0, sum(1 for _ in fh) - 1)
        return total


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data-dir", default=str(DATA), help="parquet table directory")
    args = ap.parse_args(argv)
    traced = args.trace == 1

    t_start = time.perf_counter()
    host0 = _host()
    nproc = host0["nproc"]
    _prepare_env(nproc)
    driver_memory, conf = _spark_conf(host0["mem_total_mb"])
    queries = pass_queries(args.workload, args.seed)
    tracer = tracing.Tracer(traced)
    procs = tracing.ProcTree()

    with tracing.instrument(tracer) if traced else nullcontext():
        tracer.query = "setup"
        t0 = time.perf_counter()
        spark = session.get_spark(app_name="perfbench", driver_memory=driver_memory, extra_conf=conf)
        eng = Engine(args.data_dir, spark)
        setup_s = time.perf_counter() - t0
        progress = tracing.StreamProgress(tracer)
        if traced:
            spark.streams.addListener(progress)

        runner = Runner(args.workload, eng, tracer, procs, progress)
        tracer.enabled = False
        phases = {"setup": time.perf_counter() - t_start}
        oracle_rows = runner.check_all(queries)
        phases["check"] = time.perf_counter() - t_start

        passes = []
        start = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - start < args.seconds:
            passes.append(sum(runner.run_pass(queries, f"p{len(passes)}")))
        phases["timed"] = time.perf_counter() - t_start
        query_s = {qid: statistics.median(v) for qid, v in runner.latencies.items()}
        probe_s = statistics.median(runner.probes)
        peak_rss_mb = procs.peak_rss_mb()
        for q in queries:
            if q.to_file and runner.file_rows(q.qid) != oracle_rows.get(q.qid):
                runner.failed += 1
                print(f"result file {q.qid}: {runner.file_rows(q.qid)} rows, "
                      f"oracle {oracle_rows.get(q.qid)}", file=sys.stderr)

        if traced:
            tracer.enabled = True
            traced_pass = sum(runner.run_pass(queries, "traced"))
            spark.streams.removeListener(progress)
    phases["traced"] = time.perf_counter() - t_start
    _stop_spark(spark, procs)
    phases["stop"] = time.perf_counter() - t_start
    host1 = _host()
    shutil.rmtree(RUN_DIR, ignore_errors=True)

    wall = {
        "setup_s": setup_s,
        "pass_s": sum(query_s.values()),
        "query_p50_s": statistics.median(query_s.values()),
    }
    speed = REF_PROBE_S / probe_s
    e2e = {k: v * speed for k, v in wall.items()}
    ticks = max(1, host1["cpu_ticks"] - host0["cpu_ticks"])
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "queries": [q.qid for q in queries],
        "end_to_end": e2e, "wall": wall,
        "failed_frac": runner.failed / max(1, runner.attempted),
        "query_p90_s": _p90(list(query_s.values())), "query_samples": len(query_s),
        "cpu_s": sum(statistics.median(v) for v in runner.cpu.values()),
        "peak_rss_mb": peak_rss_mb,
        "passes": passes, "phases": phases, "latencies": runner.latencies, "cpu": runner.cpu,
        "oracle_rows": oracle_rows,
        "host": {"nproc": nproc, "mem_total_mb": host0["mem_total_mb"],
                 "driver_memory": driver_memory,
                 "loadavg": [host0["loadavg"], host1["loadavg"]],
                 "steal_frac": (host1["steal_ticks"] - host0["steal_ticks"]) / ticks,
                 "probe_s": probe_s, "probes": runner.probes},
    }
    metrics = e2e
    if traced:
        layers = _layer_metrics(tracer, args.workload, nproc)
        # against the untraced pass just before, the one equally warm
        layers["trace.overhead_s"] = traced_pass - passes[-1]
        report["per_layer"] = layers
        tracer.write(str(WORK / "traces" / f"{args.workload}-seed{args.seed}.json"),
                     {"report": report, "per_query": runner.per_query,
                      "layer_metrics": tracing.LAYER_METRICS})
        metrics = layers
    print(json.dumps(report), file=sys.stderr)
    attempted = max(1, runner.attempted)
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": (END_TO_END | PER_LAYER)[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


def _layer_metrics(tracer: tracing.Tracer, workload: str, nproc: int) -> dict[str, float]:
    """Per-layer totals of the setup and of the traced pass."""
    traced = f"{workload}/traced/"
    c = tracer.counters
    build_s = tracer.seconds("workload.build", traced)
    execute_s = tracer.seconds("exec.execute", traced)
    out = {
        "session.get_spark_s": tracer.seconds("session.get_spark", "setup"),
        "catalog.register_tables_s": tracer.seconds("catalog.register_tables", "setup"),
        "dialect.translate_s": tracer.seconds("dialect.translate", traced),
        "dialect.translate_calls": c["dialect.translate_calls"],
        "workload.build_s": build_s,
        "plan.plan_s": tracer.seconds("plan.plan", traced),
        "exec.execute_s": execute_s,
        "sink.write_result_s": tracer.seconds("sink.write_result", traced),
    }
    for name in tracing.LAYER_METRICS:
        if name not in out and name in c:
            out[name] = c[name]
    # executor time can accrue while the builder runs eager jobs, so the
    # slots are measured against the query's whole build + execute wall
    out["exec.slot_util"] = c["exec.executor_run_s"] / max(1e-9, (build_s + execute_s) * nproc)
    for name in tracing.LAYER_METRICS:
        out.setdefault(name, 0.0)
    return out


if __name__ == "__main__":
    sys.exit(main())
