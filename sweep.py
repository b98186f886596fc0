#!/usr/bin/env python
"""Local mirror of the driver's correctness sweep.

Runs every (or a filtered subset of) QuerySpec through the same
Spark-vs-DuckDB comparison the driver performs (tests/oracle.py), and
prints one line per query: wall seconds, name, MATCH / ROWS-ONLY /
MISMATCH / ERROR.

Usage:
    python sweep.py                 # all specs at sf0.01
    python sweep.py t09 s0 src      # name-prefix filters
    SWEEP_SF_DIR=/root/testdata/sf0.1 python sweep.py
    SWEEP_MASTER='local-cluster[2,8,9216]' python sweep.py   # real executor JVMs
"""

from __future__ import annotations

import os
import re
import sys
import time

from database_query_processor_spark.cache import scope
from database_query_processor_spark.session import get_spark
from database_query_processor_spark.workload import all_specs
from tests.oracle import compare, duckdb_run, hashed_compare


def _master_kwargs() -> dict:
    """SWEEP_MASTER support — run the identical oracle sweep under a
    different Spark master. The motivating value is
    `local-cluster[N,cores,memMB]`: unlike local[*] (one JVM, one
    Python env, block-manager 'shuffles' over shared memory), a
    local-cluster master launches REAL separate executor JVMs with
    netty shuffle/broadcast transport and executor-side Python
    workers — the closest single-machine approximation of the
    multi-executor seams a 1000-node cluster exercises (task/closure
    serialization, broadcast over the wire, localCheckpoint blocks on
    remote block managers, the transformWithState state server living
    in an executor process). Executor memory is derived from the
    master string's memMB field (Spark requires executor.memory <=
    worker memory); executor Python workers get PYTHONPATH so
    package-module functions referenced by pickled closures import.
    shuffle.partitions defaults to total cluster cores (N*cores)
    unless SPARK_GRAFT_CPUS-derived default is overridden here."""
    master = os.environ.get("SWEEP_MASTER", "")
    if not master:
        return {}
    kwargs: dict = {"master": master}
    m = re.fullmatch(r"local-cluster\[(\d+),(\d+),(\d+)\]", master)
    if m:
        n_exec, cores, mem_mb = (int(g) for g in m.groups())
        kwargs["shuffle_partitions"] = n_exec * cores
        # leave the worker JVM headroom above the executor heap
        # repo root derived from this file's location, not hardcoded:
        # a checkout elsewhere would otherwise hit executor-side
        # unpickling ImportErrors under local-cluster masters.
        repo_root = os.path.dirname(os.path.abspath(__file__))
        kwargs["extra_conf"] = {
            "spark.executor.memory": f"{max(mem_mb - 1024, 512)}m",
            "spark.executorEnv.PYTHONPATH": repo_root,
        }
    return kwargs


def main() -> int:
    sf_dir = os.environ.get("SWEEP_SF_DIR", "/root/testdata/sf0.01")
    # Comma-separated name prefixes compared via the in-engine
    # order-insensitive hash (tests/oracle.hashed_compare) instead of
    # pandas materialization — for queries whose RESULT is too large
    # to collect at the sweep scale (d06/d07 6M-row SELECT-* at sf1).
    # Reported as MATCH-HASHED so the weaker float contract (6 dp
    # canonicalization vs bit-equal) stays visible in artifacts.
    hashed = [p for p in os.environ.get("SWEEP_HASHED", "").split(",") if p]
    # Comma-separated name prefixes to SKIP (reported, not silent) —
    # for oracles that are infeasible at the sweep scale and verified
    # by a dedicated script instead (e.g. x62 at sf1, whose quadratic
    # DuckDB oracle OOMs: run_sf1_x_specials.py holds its sampled form).
    excluded = [p for p in os.environ.get("SWEEP_EXCLUDE", "").split(",") if p]
    prefixes = sys.argv[1:]
    specs = all_specs()
    if excluded:
        skipped = [s.name for s in specs if any(s.name.startswith(p) for p in excluded)]
        for name in skipped:
            print(f"# SKIP {name} (SWEEP_EXCLUDE)")
        specs = [s for s in specs if s.name not in set(skipped)]
    if prefixes:
        specs = [s for s in specs if any(s.name.startswith(p) for p in prefixes)]
        if not specs:
            # vacuous success is the trap: a typo'd prefix (or a spec
            # renamed out from under a CI wrapper) must not exit 0 on
            # an empty '0 bad of 0' sweep
            print(f"# no specs match prefixes {prefixes!r}", file=sys.stderr)
            return 2
    spark = get_spark(**_master_kwargs())
    n_match = n_rows = n_bad = 0
    for spec in specs:
        t0 = time.time()
        try:
            with scope():  # releases what the spec's operators persisted
                df = spec.build(spark, sf_dir)
                if spec.oracle is None:
                    rows = df.count()
                    print(f"{time.time() - t0:7.2f}s {spec.name} ROWS-ONLY ({rows} rows)")
                    n_rows += 1
                    continue
                use_hashed = any(spec.name.startswith(p) for p in hashed)
                if use_hashed:
                    probs = hashed_compare(df, spec.oracle, sf_dir)
                else:
                    probs = compare(df, duckdb_run(spec.oracle, sf_dir))
        except Exception as exc:  # noqa: BLE001 - harness reports, never dies
            print(f"{time.time() - t0:7.2f}s {spec.name} ERROR {type(exc).__name__}: {exc}")
            n_bad += 1
            continue
        if probs:
            print(f"{time.time() - t0:7.2f}s {spec.name} MISMATCH: {'; '.join(probs)}")
            n_bad += 1
        else:
            tag = "MATCH-HASHED" if use_hashed else "MATCH"
            print(f"{time.time() - t0:7.2f}s {spec.name} {tag}")
            n_match += 1
    print(f"# {n_match} MATCH, {n_rows} rows-only, {n_bad} bad, of {len(specs)}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
