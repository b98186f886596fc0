#!/usr/bin/env python
"""r12 injectivity evidence for the shingle-hash proxy (dedup.doc_shingle_hashes).

The r12 x02 change persists 64-bit xxhash64 shingle hashes instead of
gram strings; results are bit-identical to the string pipeline iff
xxhash64 is injective on the corpus' distinct shingle set. This script
asserts exactly that at every test SF:

    count(DISTINCT gram) == count(DISTINCT xxhash64(gram))

over the documents table's word-3-gram shingle universe (minhash /
jaccard / containment) AND the 8-gram universe (x55 substring-dedup's
hashed window key). Prints the counts as JSON (the record is
COLLISION_CHECK_r12.json); exits non-zero on a collision. Run on the
three test scales, or on any dataset dirs (e.g. gen_scale.py output):

    python artifacts/collision_check_r12.py [DIR ...]
"""
from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
# Python UDF workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))

from pyspark.sql import functions as F  # noqa: E402

from database_query_processor_spark.operators.dedup import doc_shingles  # noqa: E402
from database_query_processor_spark.session import get_spark  # noqa: E402

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="xxhash64 injectivity on shingles")
    ap.add_argument("dirs", nargs="*", default=SF_DIRS)
    args = ap.parse_args(argv)
    spark = get_spark(
        app_name="collision-check-r12",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    out = {}
    for sf_dir in args.dirs:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        for n in (3, 8):
            grams = (
                doc_shingles(docs, "doc_id", "text", n=n)
                .select(F.explode("grams").alias("gram"))
            )
            row = grams.agg(
                F.countDistinct("gram").alias("n_grams"),
                F.countDistinct(F.xxhash64("gram")).alias("n_hashes"),
            ).collect()[0]
            key = sf_dir if n == 3 else f"{sf_dir}#8gram"
            out[key] = {"distinct_grams": row["n_grams"], "distinct_hashes": row["n_hashes"]}
            assert row["n_grams"] == row["n_hashes"], f"collision at {key}: {out[key]}"
            print(f"{key}: {row['n_grams']} distinct grams == {row['n_hashes']} hashes OK")
    print(json.dumps(out, indent=1, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
