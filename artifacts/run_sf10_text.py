#!/usr/bin/env python
"""Scaled-data check of x50_bigram_lm_quality in its SAMPLED-SLICE
form, which sweep.py cannot express, run on artifacts/gen_scale.py
output (500k docs at /tmp/dqps_sf10), against its real DuckDB oracle
via the in-engine order-insensitive hash compare (tests/oracle.py
hashed_compare — only two scalars cross the harness boundary).

x50's FULL oracle materializes every (doc,pos,prev,cur) row and
list-aggregates all of them per doc — ~80 GB peak / 890 s at 500k
docs (SWEEP_SF10_TEXT_r09.txt). The re-runnable form is the SAMPLED
SLICE (sql_bigram_logprob sample_mod=10, the x62 %-slice precedent):
corpus stats from every doc, per-position relation + ordered fold
over doc_id % 10 = 0 (50k docs at sf10); the engine frame is
filtered identically. Slice == full-form-filtered is pinned at sf0.01
by test_bigram_oracle_sampled_slice_parity.

The other sf10 text rows are plain oracle compares:
  SWEEP_SF_DIR=/tmp/dqps_sf10 SWEEP_HASHED=x40,x26,x41,x54,x57 \\
      python sweep.py x40 x26 x41 x54 x57

x50's oracle needs ~80 GB peak at 500k docs and the JVM never returns
heap to the OS once the Spark side has run, so start with a small
driver (24g fits the Spark side). Prints one row; exits 1 on a
MISMATCH. Usage:
  python -u artifacts/run_sf10_text.py [--data /tmp/dqps_sf10] [--driver-memory 24g]
"""
from __future__ import annotations

import argparse
import os
import sys
import time

os.environ.setdefault("DUCKDB_MEMLIMIT", "48GB")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python UDF workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

from database_query_processor_spark.session import get_spark  # noqa: E402
from database_query_processor_spark.workload import all_specs  # noqa: E402
from tests.oracle import hashed_compare  # noqa: E402

SF10 = "/tmp/dqps_sf10"
X50_SAMPLE_MOD = 10


def main(argv: list[str] | None = None) -> int:
    from database_query_processor_spark.operators.retrieval import sql_bigram_logprob
    from database_query_processor_spark.workload.extensions import TOKS_SQL

    ap = argparse.ArgumentParser(description="x50 sampled slice at scale")
    ap.add_argument("--data", default=SF10, help="gen_scale --dst")
    ap.add_argument("--driver-memory", default="64g")
    args = ap.parse_args(argv)
    spark = get_spark(app_name="sf10-text", driver_memory=args.driver_memory)
    name = "x50_bigram_lm_quality"
    spec = next(s for s in all_specs() if s.name == name)
    frame = spec.build(spark, args.data).filter(f"doc_id % {X50_SAMPLE_MOD} = 0")
    oracle = sql_bigram_logprob(toks_sql=TOKS_SQL, sample_mod=X50_SAMPLE_MOD)
    t0 = time.time()
    try:
        probs = hashed_compare(frame, oracle, args.data)
    except Exception as ex:  # an oracle OOM-kill must leave a row behind
        probs = [f"ERROR {type(ex).__name__}: {ex}"]
    print(
        f"{time.time() - t0:8.2f}s {name}[sampled-{X50_SAMPLE_MOD}] "
        + ("MATCH-HASHED" if not probs else
           "MISMATCH: " + "; ".join(str(p) for p in probs)),
        flush=True,
    )
    return 0 if not probs else 1


if __name__ == "__main__":
    sys.exit(main())
