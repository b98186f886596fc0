#!/usr/bin/env python
"""Scaled-data verification for the x-query forms the oracle sweep
(sweep.py) cannot express, run on artifacts/gen_scale.py output:

x62 sampled slice: the full hard-negative oracle is quadratic, so
this runs the SAME operator with the query predicate narrowed from
doc_id % 97 == 0 to doc_id % (97 * copies) == 0 (a 1-in-copies
deterministic subsample of the benchmark slice, ~50 queries at any
scale) on BOTH the Spark side and the oracle — corpus statistics
shift identically on both sides, so the compare stays exact. Validity
is pinned by running the same sampled form on the base first (must
MATCH like the full form does).

x05 scale-sized: embedding_dup_pairs at the sizing its docstring
prescribes for 10x+ corpora (30 planes / 3 bands ≈ log2(n/bucket)),
mirrored exactly in the oracle via the planes override — proves the
production-resolution knob is cross-engine verifiable, alongside the
sweep's default-banding x05 row.

x49 SemDeDup at the docstring's production cell count, cells ≈ √n.

`copies` is the scaled/base documents row ratio, read from the data.
Prints one row per check; exits 1 on any MISMATCH. Usage:
  python artifacts/gen_scale.py --src $SF01 --dst /tmp/dqps_sf1 --copies 10
  python -u artifacts/run_sf1_x_specials.py [--base $SF01] \\
      [--scaled /tmp/dqps_sf1] [--sections x62,x05,x49]
(SF01 = the sf0.1 test data dir; the base defaults to
catalog.DEFAULT_SF_DIR.)
"""
from __future__ import annotations

import argparse
import math
import os
import sys
import time

os.environ.setdefault("DUCKDB_MEMLIMIT", "48GB")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python UDF workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

from pyspark.sql import functions as F  # noqa: E402

from database_query_processor_spark.catalog import DEFAULT_SF_DIR, load_table  # noqa: E402
from database_query_processor_spark.session import get_spark  # noqa: E402
from tests.oracle import compare, duckdb_run  # noqa: E402

SF1 = "/tmp/dqps_sf1"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="x62/x05/x49 special forms at scale")
    ap.add_argument("--base", default=DEFAULT_SF_DIR, help="gen_scale --src")
    ap.add_argument("--scaled", default=SF1, help="gen_scale --dst")
    ap.add_argument("--sections", default="x62,x05,x49")
    ap.add_argument("--driver-memory", default="64g")
    args = ap.parse_args(argv)
    only = set(args.sections.split(","))

    from database_query_processor_spark.operators import retrieval as RT
    from database_query_processor_spark.operators import similarity as SIM
    from database_query_processor_spark.workload.extensions import _hardneg_oracle

    spark = get_spark(app_name="sf1-x-specials", driver_memory=args.driver_memory)

    def check(name, df, sql, sf_dir):
        t0 = time.time()
        probs = compare(df, duckdb_run(sql, sf_dir))
        print(f"{time.time() - t0:7.2f}s {name} "
              + ("MATCH" if not probs else "MISMATCH: " + "; ".join(probs)), flush=True)
        return not probs

    ok = True

    # --- x62 sampled slice (predicate % 97*copies both sides) ---
    if "x62" in only:
        n_base = load_table(spark, args.base, "documents").count()
        copies = load_table(spark, args.scaled, "documents").count() // n_base
        mod = 97 * copies
        sampled_oracle = _hardneg_oracle().replace("% 97 = 0", f"% {mod} = 0")
        assert sampled_oracle.count(f"% {mod} = 0") == 2  # is_q + decontam slice
        for sf_dir, tag in ((args.base, "base-validity"), (args.scaled, "scaled")):
            spark.catalog.clearCache()
            d = load_table(spark, sf_dir, "documents")
            df = RT.bm25_hard_negatives(
                d, "doc_id", "text", F.col("doc_id") % mod == 0, k=3
            )
            ok &= check(
                f"x62_hard_negatives[sampled-{mod}@{tag}]", df, sampled_oracle, sf_dir
            )
    # --- x05 at the docstring's 10x+ sizing (30 planes / 3 bands) ---
    NP, BANDS = 30, 3
    BITS = NP // BANDS
    planes = SIM._hyperplanes(num=NP)
    oracle = f"""
WITH b AS (SELECT vec_id, embedding,
                  sqrt({SIM.sql_dot('embedding', 'embedding')}) AS nrm,
                  {SIM.sql_hyperplane_bucket('embedding', planes)} AS bucket
           FROM embeddings),
bands AS (SELECT vec_id, embedding, nrm, band, (bucket >> ({BITS} * band)) & {(1 << BITS) - 1} AS bval
          FROM b, (SELECT unnest([0, 1, 2]) AS band) t)
SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
       {SIM.sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) AS cos
FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
WHERE {SIM.sql_dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm) >= 0.5
"""
    emb = load_table(spark, args.scaled, "embeddings")
    if "x05" in only:
        df = SIM.embedding_dup_pairs(
            emb, "vec_id", "embedding", num_planes=NP, bands=BANDS
        )
        ok &= check("x05_dedup_embedding[30planes@scaled]", df, oracle, args.scaled)

    # --- x49 SemDeDup at the √n cell sizing (production knob) ---
    # cells=8 is the oracle-parity demo sizing; its cell size grows
    # linearly with the corpus. The docstring's production rule is
    # cells ≈ √n: verify THAT sizing cross-engine too (ids codebook
    # stays deterministic, the oracle just changes its LIMIT).
    from database_query_processor_spark.workload.extensions import SEMDEDUP_SQL

    if "x49" in only:
        cells = round(math.sqrt(emb.count()))
        sem_oracle = SEMDEDUP_SQL.replace(f"LIMIT {SIM.SEM_CELLS}", f"LIMIT {cells}")
        assert f"LIMIT {cells}" in sem_oracle
        df = SIM.semantic_dedup(emb, "vec_id", "embedding", cells=cells)
        ok &= check(f"x49_dedup_semantic[cells{cells}@scaled]", df, sem_oracle, args.scaled)

    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
