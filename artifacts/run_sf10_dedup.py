#!/usr/bin/env python
"""Scaled-data correctness checks for the two dedup pair-space rows
whose check sweep.py cannot express, run on artifacts/gen_scale.py
output:

  * x02: the quadratic exact-Jaccard DuckDB oracle is infeasible at
    500k docs, so the check is an INDEPENDENT in-engine mechanism:
    the uncapped inverted-index exact-Jaccard pair set
    (operators/dedup.ngram_jaccard_pairs, df_cap=None — feasible
    because sum(df^2) is bounded by dup-cluster sizes + the exempt
    shingle tail) must EQUAL the MinHash-LSH verified pair set, row
    for row including the jaccard value (both sides reduce to the
    same shared/(na+nb-shared) IEEE divide). LSH-vs-inverted-index is
    a genuinely different pair-generation mechanism, so agreement is
    evidence, not tautology.
  * x55: exact copy-isomorphism PASS rows — gen_scale guarantees zero
    all-exempt 8-grams, so the k-gram universe is copy-pure and the
    result on --scaled must be EXACTLY `copies` id-shifted images of
    the result on --ref (which the sweep verifies against DuckDB).
    `copies` is the scaled/ref documents row ratio and the id span
    is ref's max doc_id + 1, both read from the data. Checked per
    copy with exceptAll in both directions.

The other sf10 dedup rows are plain oracle compares:
  SWEEP_SF_DIR=/tmp/dqps_sf10 SWEEP_HASHED=x04,x60 python sweep.py x04 x60
  python artifacts/run_sf1_x_specials.py --scaled /tmp/dqps_sf10 --sections x62

Run ONE SECTION PER PROCESS at 500k docs: a long-lived Spark
context's shuffle files (its ContextCleaner only drops them on driver
GC) accumulate next to the DuckDB spill. Prints one row per check;
exits 1 on any failure. Usage:
  python -u artifacts/run_sf10_dedup.py [--ref /tmp/dqps_sf1] \\
      [--scaled /tmp/dqps_sf10] [--sections x02,x55]
"""
from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python UDF workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

from pyspark.sql import functions as F  # noqa: E402

from database_query_processor_spark.catalog import load_table  # noqa: E402
from database_query_processor_spark.session import get_spark  # noqa: E402

SF1 = "/tmp/dqps_sf1"
SF10 = "/tmp/dqps_sf10"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="x02/x55 checks at scale")
    ap.add_argument("--ref", default=SF1, help="a smaller gen_scale output (or its base)")
    ap.add_argument("--scaled", default=SF10, help="a larger gen_scale output")
    ap.add_argument("--sections", default="x02,x55")
    ap.add_argument("--driver-memory", default="64g")
    args = ap.parse_args(argv)
    sections = set(args.sections.split(","))

    spark = get_spark(app_name="sf10-dedup", driver_memory=args.driver_memory)
    ok = True

    def emit(t0, name, probs, tag):
        nonlocal ok
        print(
            f"{time.time() - t0:8.2f}s {name} "
            + (tag if not probs else "MISMATCH: " + "; ".join(str(p) for p in probs)),
            flush=True,
        )
        ok &= not probs

    d10 = load_table(spark, args.scaled, "documents")

    # --- x02: LSH output == independent exact inverted-index Jaccard ---
    if "x02" in sections:
        from database_query_processor_spark.operators.dedup import (
            minhash_dedup_pairs,
            ngram_jaccard_pairs,
        )

        spark.catalog.clearCache()
        t0 = time.time()
        lsh = minhash_dedup_pairs(d10, "doc_id", "text", threshold=0.5)
        exact = ngram_jaccard_pairs(d10, "doc_id", "text", threshold=0.5, df_cap=None)
        n_lsh = lsh.count()
        missing = exact.exceptAll(lsh).count()
        extra = lsh.exceptAll(exact).count()
        probs = []
        if n_lsh == 0:
            probs.append("vacuous: 0 pairs")
        if missing or extra:
            probs.append(
                f"LSH vs exact inverted-index: missing={missing} extra={extra}"
            )
        emit(t0, f"x02_dedup_minhash[vs exact inverted-index, {n_lsh} pairs]", probs,
             "PASS-EXACT-ALT-MECHANISM")

    # --- x55: exact copy-isomorphism vs the ref (DuckDB-verified) result ---
    if "x55" in sections:
        from database_query_processor_spark.operators.dedup import substring_dup_spans

        spark.catalog.clearCache()
        t0 = time.time()
        d1 = load_table(spark, args.ref, "documents")
        n_docs = d1.count()
        copies, rest = divmod(d10.count(), n_docs)
        span = int(d1.agg(F.max("doc_id")).first()[0]) + 1
        if rest:
            raise SystemExit(f"{args.scaled} is not a whole multiple of {args.ref}")
        ref = substring_dup_spans(d1, "doc_id", "text").persist()
        n_ref = ref.count()
        got = (
            substring_dup_spans(d10, "doc_id", "text")
            .withColumn("_copy", (F.col("doc_id") / span).cast("long"))
            .withColumn("doc_id", F.col("doc_id") % span)
            .persist()
        )
        n_got = got.count()
        probs = []
        if n_ref == 0:
            probs.append("vacuous: ref result empty")
        if n_got != copies * n_ref:
            probs.append(f"count: {n_got} != {copies} * {n_ref}")
        for j in range(copies):
            cj = got.filter(F.col("_copy") == j).drop("_copy")
            diff = cj.exceptAll(ref).count() + ref.exceptAll(cj).count()
            if diff:
                probs.append(f"copy {j}: {diff} row diffs vs ref")
        emit(t0, f"x55_substring_dedup[copy-isomorphism x{copies}, {n_got} rows]",
             probs, "PASS-EXACT-INVARIANT")

    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
