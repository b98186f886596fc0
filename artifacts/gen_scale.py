#!/usr/bin/env python
"""Scale a dataset N-fold by deterministic key-shifted replication.

Copy k (0 <= k < N) of every replicated table shifts each key domain
by k * span, where span is the domain's measured max key + 1. So
referential structure holds (orders still join their lineitems and
customers), per-key group sizes stay constant, and key cardinality
and row count scale N-fold: the growth profile a real sf-scaled TPC-H
has. Every scale comes straight from one base. Because the shift is
linear in the span, N copies of a base equal M copies of (N/M copies
of that base), so 100 copies of sf0.1 are the chained 10x-of-10x
output.

nation/region stay fixed (constant-size dims in TPC-H at every sf).

events: user_id/event_id shift like every other key; timestamps do
NOT, so the corpus keeps its event-time horizon and a larger copy
count grows live watermark state instead of stretching the timeline.
Written as ONE file, because the streaming topologies read the sf dir
with pathGlobFilter='events.parquet', which matches file names only.

documents: the text analog of the key shift. Verbatim replication
would flood the dup detectors (every doc would gain N-1 twins), so
copy k >= 1 rewrites every CONTENT token t -> t + 'q{k}x' (one alnum
run stays one token), a bijective token remap: within a copy,
shingle sets / fingerprints / df distributions / k-gram chains are
exactly isomorphic to the base, while cross-copy token universes are
disjoint (no new dup pairs). STOPWORDS and the retrieval query terms
are EXEMPT from the remap: language-ID profiles hold per copy and
BM25 hits scale N-fold with the corpus, as function-word df grows in
a real crawl. Invariants asserted (fail loudly instead of quietly
invalidating every number measured on the output):
  * no base token is already q<k>x-shaped (suffix collision guard);
  * zero all-exempt 8-grams in the base, so x55's k-gram universe is
    copy-pure and its result on the output is exactly N id-shifted
    images of its result on the base (run_sf10_dedup.py checks
    that). All-exempt 3-grams do exist, so the 3-gram ops
    (x02/x04/x60) are not count-invariant across copies;
  * exact-dup mass scales exactly N-fold.

embeddings: copy k >= 1 applies an ORTHOGONAL transform (dimension
roll by 7k + deterministic sign flips), an isometry, so every
within-copy cosine is preserved while cross-copy cosines are
near-random for a spread corpus (E[cos] ~ N(0, 1/dim)).

Every key-shifted table also asserts row count exactly N x the base
and each shifted key's distinct count exactly N x the base (shift
bijectivity: a span error would alias keys across copies and silently
change join fan-outs).

Usage (SF01 = the sf0.1 test data dir, see TESTDATA.md):
  python artifacts/gen_scale.py --src $SF01 --dst /tmp/dqps_sf1 --copies 10
  python artifacts/gen_scale.py --src $SF01 --dst /tmp/dqps_sf10 --copies 100
  python artifacts/gen_scale.py --src $SF01 --dst /tmp/dqps_sf100 \\
      --copies 1000 --tables events
Output is regenerable scratch, never committed.
"""

from __future__ import annotations

import argparse
import glob
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from database_query_processor_spark.catalog import TABLES, load_table  # noqa: E402
from database_query_processor_spark.session import get_spark  # noqa: E402

FIXED = ("region", "nation")

# key domain -> the columns sharing it
KEY_DOMAINS = {
    "orderkey": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "custkey": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "partkey": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "suppkey": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "user": [("events", "user_id")],
    "event": [("events", "event_id")],
    "doc": [("documents", "doc_id")],
}


def build(
    spark: SparkSession, src: str, dst: str, copies: int, tables=TABLES
) -> dict[str, int]:
    """Write `copies` key-shifted copies of each of `tables` from `src`
    into `dst` (nation/region once). Returns table -> rows written."""
    if copies < 1:
        raise ValueError("copies must be >= 1")
    os.makedirs(dst, exist_ok=True)
    out: dict[str, int] = {}
    shifts = _key_shifts(spark, src, tables)
    for table in tables:
        if table == "embeddings":
            out[table] = _write_embeddings(src, dst, copies)
            continue
        df = load_table(spark, src, table)
        if table in FIXED:
            df.write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
            out[table] = df.count()
            continue
        if table == "documents":
            _check_documents(df)
        rep = df.withColumn(
            "_copy", F.explode(F.array(*[F.lit(i).cast("long") for i in range(copies)]))
        )
        key_cols = [c for c in df.columns if (table, c) in shifts]
        for col in key_cols:
            rep = rep.withColumn(col, F.col(col) + F.col("_copy") * shifts[(table, col)])
        if table == "documents":
            rep = _remap_tokens(rep)
        _write(rep.drop("_copy"), dst, table)
        written = spark.read.parquet(f"{dst}/{table}.parquet")
        out[table] = _check_replica(df, written, key_cols, copies, table)
        if table == "documents":
            d_src, d_out = _dup_mass(df), _dup_mass(written)
            if d_out != copies * d_src:
                raise RuntimeError(
                    f"dup-mass invariant broken: {d_out} != {copies} * {d_src}"
                )
    return out


def _key_shifts(spark, src: str, tables) -> dict[tuple[str, str], int]:
    """(table, column) -> span of its key domain, measured over every
    table of the domain (not only the requested ones)."""
    shifts = {}
    for cols in KEY_DOMAINS.values():
        if not any(t in tables for t, _ in cols):
            continue
        hi = max(
            load_table(spark, src, t).agg(F.max(c)).first()[0] for t, c in cols
        )
        shifts.update({tc: int(hi) + 1 for tc in cols})
    return shifts


def _write(rep: DataFrame, dst: str, table: str) -> None:
    dest = f"{dst}/{table}.parquet"
    if table != "events":
        rep.write.mode("overwrite").parquet(dest)
        return
    tmp_dir = f"{dst}/_events_tmp"
    rep.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
    part = glob.glob(f"{tmp_dir}/part-*.parquet")[0]
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    elif os.path.exists(dest):
        os.remove(dest)
    shutil.move(part, dest)
    shutil.rmtree(tmp_dir)


def _check_replica(df, written, key_cols, copies: int, table: str) -> int:
    n_src, n = df.count(), written.count()
    if n != copies * n_src:
        raise RuntimeError(f"{table}: row count {n} != {copies} * {n_src}")
    for col in key_cols:
        d_src = df.select(col).distinct().count()
        d = written.select(col).distinct().count()
        if d != copies * d_src:
            raise RuntimeError(
                f"{table}.{col}: key bijectivity broken: {d} distinct != "
                f"{copies} * {d_src}"
            )
    return n


def _exempt() -> list[str]:
    from database_query_processor_spark.functions.text import STOPWORDS
    from database_query_processor_spark.workload.extensions import BM25_TERMS

    return sorted({w for ws in STOPWORDS.values() for w in ws} | set(BM25_TERMS))


def _check_documents(src: DataFrame) -> None:
    from database_query_processor_spark.functions.text import tokens, word_ngrams

    # a raw token already shaped like a copy suffix (…q3x) would
    # collide with copy 3's remapped tokens
    n_preshaped = src.filter(
        F.lower("text").rlike(r"(?<![a-z0-9])[a-z0-9]+q[1-9][0-9]*x(?![a-z0-9])")
    ).count()
    if n_preshaped:
        raise RuntimeError(
            f"{n_preshaped} base docs already contain q<k>x-shaped tokens; "
            "pick a different copy-suffix scheme"
        )
    ex_arr = F.array(*[F.lit(w) for w in _exempt()])
    n_allex8 = (
        src.select(F.explode(word_ngrams(tokens("text"), 8)).alias("g"))
        .filter(F.size(F.array_except(F.split("g", " "), ex_arr)) == 0)
        .count()
    )
    if n_allex8:
        raise RuntimeError(
            f"{n_allex8} all-exempt 8-grams in the base: x55's "
            "copy-isomorphism invariant would not hold"
        )


def _remap_tokens(rep: DataFrame) -> DataFrame:
    """Suffix every non-exempt token of copy k >= 1 with 'q{k}x'."""
    # Token boundaries must match the ENGINE's tokenizer ([^a-z0-9]+
    # split), not Java's \b (which treats '_' as a word char — 'foo_bar'
    # would keep 'foo'/'bar' identical across copies and silently break
    # the cross-copy disjointness). So: explicit [a-z0-9] lookarounds,
    # case-insensitive, escaped exempts.
    alts = "|".join(re.escape(w) for w in _exempt())
    pat = (
        r"(?i)(?<![a-z0-9])(?!(?:" + alts + r")(?![a-z0-9]))([a-z0-9]+)(?![a-z0-9])"
    )
    suffix = F.concat(F.lit("$1q"), F.col("_copy").cast("string"), F.lit("x"))
    remapped = F.col("_copy") > 0
    return rep.withColumn(
        "text", F.when(remapped, F.regexp_replace("text", pat, suffix)).otherwise(F.col("text"))
    ).withColumn(
        "n_chars", F.when(remapped, F.length("text")).otherwise(F.col("n_chars"))
    )


def _dup_mass(df: DataFrame) -> int:
    return df.count() - df.select("text").distinct().count()


def _write_embeddings(src: str, dst: str, copies: int) -> int:
    """One row group per copy, so memory stays that of the base."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(f"{src}/embeddings.parquet")
    vec_ids = np.asarray(t["vec_id"])
    labels = pa.array(np.asarray(t["label"]), pa.int32())
    emb = t["embedding"].combine_chunks()
    n = len(emb)
    dim = len(emb[0])
    vecs = np.asarray(emb.flatten(), dtype=np.float32).reshape(n, dim)
    span = int(vec_ids.max()) + 1
    rng = np.random.default_rng(20260815)
    signs = rng.choice([1.0, -1.0], size=(copies, dim)).astype(np.float32)
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
    )
    with pq.ParquetWriter(f"{dst}/embeddings.parquet", schema) as writer:
        for i in range(copies):
            v = vecs if i == 0 else np.roll(vecs, 7 * i, axis=1) * signs[i]
            writer.write_table(
                pa.table(
                    [
                        pa.array(vec_ids + i * span, pa.int64()),
                        pa.ListArray.from_arrays(offsets, pa.array(v.reshape(-1))),
                        labels,
                    ],
                    schema=schema,
                )
            )
    return copies * n


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="Key-shifted N-fold replication.")
    ap.add_argument("--src", required=True, help="base dataset dir")
    ap.add_argument("--dst", required=True, help="output dir")
    ap.add_argument("--copies", type=int, required=True)
    ap.add_argument("--tables", nargs="+", choices=TABLES, default=list(TABLES))
    args = ap.parse_args(argv)
    spark = get_spark(app_name="dqps-gen-scale")
    for table, n in build(spark, args.src, args.dst, args.copies, args.tables).items():
        print(f"{table}: {n} rows", flush=True)


if __name__ == "__main__":
    main()
