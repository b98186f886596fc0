#!/usr/bin/env python
"""Headline benchmark: runs the bench-flagged workload queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>}

Each query is forced to full materialization with a noop sink (no
driver collect — the sink write exercises the whole distributed plan).

Noise control (a single long-lived JVM accumulates hundreds of stages
of GC debt across the suite; back-to-back whole-suite runs historically
swung individual queries 2-3×):
  * every run is its own cache scope (database_query_processor_spark/
    cache.py), closed after the timer stops: what the run's operators
    persisted is released outside the timed window, so each timed run
    starts cold;
  * an explicit JVM System.gc() barrier before EVERY timed run (not
    just once per query) keeps one run's garbage from being collected
    inside the next run's timing, followed by a short drain pause:
    System.gc() is also what triggers Spark's ContextCleaner, whose
    ASYNC shuffle/RDD-file deletes would otherwise land inside the
    timed window it was meant to protect. Without the per-run
    barrier, debt accumulated across the suite concentrated on the
    last-positioned shuffle/sort-heavy queries (r8: p11/p16 measured
    1.38/1.59 normalized in-suite vs 1.08/1.05 isolated —
    artifacts/P11P16_CLEAR_r08.json). The drain is a bounded POLL of
    the DiskBlockManager local dirs (wait until their byte total stops
    shrinking, 50 ms steps, 2 s cap) rather than a fixed sleep — at
    larger SFs or on slower disks the async deletes can outlast any
    fixed pause; if JVM introspection fails it falls back to 0.25 s;
  * 2 warm runs (JIT/codegen) then 5 timed runs. The headline
    `queries`/`value` numbers are the MIN (for a deterministic plan
    the minimum is the plan's intrinsic cost; interference only adds
    time), but the JSON also carries `queries_median`, `value_median`
    and the full `raw_runs` list so (a) cross-round comparisons can be
    made methodology-consistent and (b) steady-state costs (GC every
    production run would pay) stay visible rather than hidden by min.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from database_query_processor_spark.cache import scope
from database_query_processor_spark.session import get_spark
from database_query_processor_spark.workload import all_specs

WARM_RUNS = 2
TIMED_RUNS = 5

# Ratio above the suite's median host-variance ratio at which a query
# counts as an outlier (plan-regression suspect) rather than VM noise.
# Host effects scale every query near-uniformly (BASELINE.md's
# host-variance note), so a query drifting 30%+ past that uniform
# band is the signature of a changed plan, not a slow VM.
OUTLIER_OVER_BAND = 1.30
# ...but only when the absolute excess over the band-adjusted baseline
# clears the fixed per-query noise floor (task launch + JIT jitter is
# ~30-50 ms on local[32], which alone exceeds 30% of a 150 ms query —
# sub-200ms queries would otherwise flag on pure scheduling noise
# while a real 2x regression on any substantive query still trips).
OUTLIER_MIN_EXCESS_SEC = 0.05


def _baseline_mins(path: str = "BASELINE.md") -> dict[str, float]:
    """Parse the re-recorded min-of-5 table out of BASELINE.md — the
    designated round-over-round reference. Returns {} if the file or
    table is missing so the bench never fails on a fresh checkout."""
    import re

    try:
        with open(os.path.join(os.path.dirname(__file__) or ".", path)) as fh:
            text = fh.read()
    except OSError:
        return {}
    out: dict[str, float] = {}
    for m in re.finditer(r"^\| (\w+) \| ([0-9.]+) \| [0-9.]+ \|$", text, re.M):
        out[m.group(1)] = float(m.group(2))
    return out


def _variance_report(timings: dict[str, float]) -> dict:
    """Per-query ratio vs the recorded baseline, the suite's median
    ratio (the uniform host-variance band), band-NORMALIZED ratios
    (ratio / band — the host-robust regression metric: a slow VM moves
    every query's raw ratio but leaves normalized ratios near 1), and
    the queries whose normalized ratio exceeds OUTLIER_OVER_BAND
    (plan-regression suspects rather than VM noise)."""
    base = _baseline_mins()
    raw = {
        name: t / base[name]
        for name, t in timings.items()
        if t >= 0 and base.get(name, 0) > 0
    }
    if not raw:
        return {}
    # the GATE uses unrounded ratios and an unrounded band — rounding
    # first silently un-flags regressions landing just past the
    # threshold (band*1.300, band*1.305]; rounded values are for
    # display only
    band_raw = statistics.median(raw.values())
    band = round(band_raw, 2)
    ratios = {name: round(r, 2) for name, r in raw.items()}
    normalized = {name: round(r / band_raw, 2) for name, r in raw.items()}
    outliers = sorted(
        name
        for name, r in raw.items()
        if r / band_raw > OUTLIER_OVER_BAND
        and timings[name] - base[name] * band_raw > OUTLIER_MIN_EXCESS_SEC
    )
    return {
        "ratios": ratios,
        "host_band": band,
        "normalized": normalized,
        "outliers": outliers,
    }


def _dd_direct_mbps(size_mb: int = 256) -> float | None:
    """Direct-IO write throughput of the local disk (MB/s), the
    BENCH_SUSPECTS_CLEAR_r09 'io weather' probe: this host's storage
    is burst-throttled (measured 124-233 MB/s swings on identical
    code), so every bench artifact records the disk state it ran
    under — suspect adjudication becomes mechanical instead of a
    per-round forensic reconstruction. oflag=direct bypasses the page
    cache; conv=fsync charges the final flush to the same window."""
    import re
    import subprocess
    import tempfile

    path = os.path.join(tempfile.gettempdir(), f"dqps_ddprobe_{os.getpid()}")
    try:
        res = subprocess.run(
            ["dd", "if=/dev/zero", f"of={path}", "bs=4M",
             f"count={size_mb // 4}", "oflag=direct", "conv=fsync"],
            capture_output=True, text=True, timeout=120,
        )
        m = re.search(r"([\d.]+)\s*([MG])B/s", res.stderr)
        if not m:
            return None
        val = float(m.group(1))
        return round(val * 1000 if m.group(2) == "G" else val, 1)
    except Exception:
        return None
    finally:
        try:
            os.unlink(path)
        except OSError:
            pass


def _null_query_sec(spark, barrier, runs: int = 3) -> float:
    """Min wall of a 32-task no-op query — the per-run additive cost
    floor (task launch + scheduling + noop commit) that tiny-baseline
    queries feel as a large RATIO (the p15/c11 suspect signature).
    Recorded so a future 1.3x-normalized flag on a sub-0.2s query can
    be checked against the measured floor without a fresh probe."""
    def _run():
        spark.range(0, 32_000, 1, 32).write.format("noop").mode("overwrite").save()

    _run()  # warm
    ts = []
    for _ in range(runs):
        barrier()
        t0 = time.perf_counter()
        _run()
        ts.append(time.perf_counter() - t0)
    return round(min(ts), 3)


def _fold_weather_rerun(
    prev_runs: list[float], rerun_runs: list[float], floor: float,
    prev_min: float, prev_median: float,
) -> tuple[dict, float, float, list[float]]:
    """Fold a weather re-run into a query's record. The headline
    min/median are taken over ALL runs (a rerun is just more N on a
    hopefully-quieter window), but the pre-rerun min-of-5 is KEPT in
    the entry: min-of-10 is stochastically <= min-of-5, so cross-run
    ratios (8-core scaling, vs-prev) must compare pre_rerun_min on
    both sides (r11's 8-core run produced t01 ratio 0.84 — "8 cores
    faster than 32" — exactly this min-bias artifact)."""
    entry = {
        "null_query": floor,
        "runs": rerun_runs,
        "pre_rerun_min": prev_min,
        "pre_rerun_median": prev_median,
    }
    all_runs = prev_runs + rerun_runs
    return (
        entry,
        round(min(all_runs), 3),
        round(statistics.median(all_runs), 3),
        all_runs,
    )


def _sf_number(sf: str):
    """The dir-name sf suffix as a number, or the raw string when the
    dir isn't named sf<number> — a parse crash HERE would discard the
    whole completed run at the final json.dumps."""
    try:
        return float(sf)
    except ValueError:
        return sf


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="dqps-bench")

    def _run(spec) -> float:
        with scope():
            t0 = time.perf_counter()
            spec.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

    def _local_dir_bytes() -> int:
        # Sum of all block-manager local dirs (shuffle + RDD spill files).
        # Shrinking total == ContextCleaner's async deletes still running.
        total = 0
        jvm = spark.sparkContext._jvm
        dirs = jvm.org.apache.spark.SparkEnv.get().blockManager().diskBlockManager().localDirs()
        for d in dirs:
            for root, _sub, files in os.walk(d.getAbsolutePath()):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(root, f))
                    except OSError:
                        pass  # a file the cleaner deleted mid-walk
        return total

    def _gc_barrier() -> None:
        spark.sparkContext._jvm.System.gc()
        # ContextCleaner reacts to that gc by asynchronously deleting
        # shuffle/RDD files; drain those deletes HERE, not inside the
        # timed window that starts next. A fixed pause can be outrun at
        # larger SFs / slower disks, so poll the local dirs until their
        # byte total stops shrinking (50 ms steps, 2 s cap).
        try:
            prev = _local_dir_bytes()
            for _ in range(40):
                time.sleep(0.05)
                cur = _local_dir_bytes()
                if cur >= prev:
                    break
                prev = cur
        except Exception:
            time.sleep(0.25)  # introspection unavailable: old fixed drain

    dd_start = _dd_direct_mbps()
    null_query = _null_query_sec(spark, _gc_barrier)
    print(f"  io weather: dd_direct={dd_start} MB/s, null_query={null_query}s",
          file=sys.stderr)

    specs = [s for s in all_specs() if s.bench]
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    raw: dict[str, list[float]] = {}

    def _timed_runs(spec) -> list[float]:
        runs = []
        for _ in range(TIMED_RUNS):
            _gc_barrier()
            runs.append(round(_run(spec), 3))
        return runs

    for spec in specs:
        try:
            _gc_barrier()
            for _ in range(WARM_RUNS):
                _run(spec)
            runs = _timed_runs(spec)
            timings[spec.name] = round(min(runs), 3)
            medians[spec.name] = round(statistics.median(runs), 3)
            raw[spec.name] = runs
            print(f"  {spec.name}: {timings[spec.name]}s {[round(r, 2) for r in runs]}", file=sys.stderr)
        except Exception as ex:  # one broken query must not zero the whole bench
            # keep the three per-query maps on the SAME key set
            timings[spec.name] = -1.0
            medians[spec.name] = -1.0
            raw[spec.name] = []
            print(f"  {spec.name}: FAILED {type(ex).__name__}: {ex}", file=sys.stderr)

    # THROTTLE-AWARE RERUN (r11): BENCH_r10 burned a round's official
    # number on a dd-258MB/s window and flagged 7 plan suspects the
    # code never earned. A query whose timed window coincided with a
    # weather excursion now gets ONE automatic second chance: 5 more
    # timed runs + a fresh null-query floor probe, the row marked
    # weather_rerun in the JSON, and min/median taken over ALL its
    # runs (min-of-N is the methodology; a rerun is just more N on a
    # hopefully-quieter window — both windows' raw runs are kept).
    weather_rerun: dict[str, dict] = {}
    if sf == "0.1":
        by_name = {s.name: s for s in specs}
        for name in (_variance_report(timings) or {}).get("outliers", []):
            try:
                floor = _null_query_sec(spark, _gc_barrier)
                runs = _timed_runs(by_name[name])
            except Exception as ex:
                print(f"  {name}: rerun FAILED {type(ex).__name__}: {ex}", file=sys.stderr)
                continue
            weather_rerun[name], timings[name], medians[name], raw[name] = (
                _fold_weather_rerun(raw[name], runs, floor,
                                    timings[name], medians[name])
            )
            print(f"  {name}: weather_rerun -> {timings[name]}s "
                  f"(floor {floor}s) {[round(r, 2) for r in runs]}", file=sys.stderr)

    # The driver captures only the last ~2000 chars of combined output and
    # parses the JSON line out of THAT (BENCH_r03/r04 went "parsed: null"
    # when raw_runs pushed the line past the buffer).  So: stdout gets ONE
    # COMPACT line (metric/value/queries/sf + a tiny host-band summary),
    # and the full detail (medians, raw runs, per-query ratios) goes to
    # artifacts/BENCH_DETAIL.json on disk.
    detail = {
        "metric": "headline_query_wall_clock_total",
        "value": round(sum(t for t in timings.values() if t >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "value_median": round(sum(t for t in medians.values() if t >= 0), 3),
        "queries_median": medians,
        "raw_runs": raw,
        "methodology": (
            f"min of {TIMED_RUNS} after {WARM_RUNS} warm; cache scope+System.gc+drain "
            "barrier before every timed run; baseline outliers re-run once "
            f"({TIMED_RUNS} more timed runs, min/median over all) and marked "
            "weather_rerun with the pre-rerun min/median kept for "
            "same-methodology cross-run ratios"
        ),
        "sf": _sf_number(sf),
        # io weather (BENCH_SUSPECTS_CLEAR_r09 methodology): direct-IO
        # disk MB/s at suite start and end + the 32-task null-query
        # floor, so suspect adjudication can separate burst-throttled
        # disk / additive-cost effects from plan regressions.
        "dd_mbps": [dd_start, _dd_direct_mbps()],
        "null_query": null_query,
    }
    if weather_rerun:
        detail["weather_rerun"] = weather_rerun
    if sf == "0.1":  # the baseline table's scale — ratios only apply there
        vs = _variance_report(timings)
        if vs:
            detail["vs_baseline"] = vs

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "artifacts", "BENCH_DETAIL.json"
    )
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as ex:  # detail is best-effort; the stdout line is the record
        print(f"  detail write failed: {ex}", file=sys.stderr)

    compact = {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": "sec",
        "queries": timings,
        "sf": detail["sf"],
        "dd_mbps": detail["dd_mbps"],
        "null_query": null_query,
    }
    # a crashed query is EXCLUDED from the headline total (its -1
    # sentinel would otherwise read as a speedup) — name it explicitly
    # so the failure survives even the truncation fallback below
    failed = sorted(n for n, t in timings.items() if t < 0)
    if failed:
        compact["failed"] = failed
    vs = detail.get("vs_baseline")
    if vs:
        compact["host_band"] = vs["host_band"]
        compact["plan_suspects"] = vs["outliers"]
    if weather_rerun:
        compact["weather_rerun"] = sorted(weather_rerun)
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1500:  # stay well inside the driver's 2000-char tail
        compact.pop("queries", None)
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
