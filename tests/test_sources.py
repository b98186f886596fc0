"""Sources & sinks: det parsing, distributed datagen invariants,
text ingest roundtrip, result-sink format, stats.

The reference has no automated tests (SURVEY.md §5); these pin the
semantics its ETL path implements by construction: PK uniqueness and
range bounds (src/RandomDB.java:117-175), typed tab-text ingest
(src/ConvertTxtToTbl.java:18-73), tab-delimited `-NULL-` result
output (src/QueryMain.java:162-226).
"""

from __future__ import annotations

import datetime
import importlib.util
import random
import sys
import uuid
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from database_query_processor_spark.sources import (
    generate_table,
    ingest_text_table,
    parse_det,
    table_stats,
    write_result,
)
from database_query_processor_spark.sources.sink import NULL_TOKEN

REPO = Path(__file__).resolve().parent.parent

# Our own spec, in the reference's .det layout (format:
# src/RandomDB.java:41-111; cf. testcases/CUSTOMER.det shape).
ACCOUNT_DET = """\
4
32
aid INTEGER 5000 PK 4
branch INTEGER 7 NK 4
owner STRING 8 NK 16
balance REAL 1000 NK 4
"""


@pytest.fixture(scope="module")
def spec():
    return parse_det(ACCOUNT_DET)


def test_parse_det(spec):
    assert [c.name for c in spec.columns] == ["aid", "branch", "owner", "balance"]
    assert spec.tuple_bytes == 32
    assert spec.primary_key == "aid"
    assert [f.dataType for f in spec.schema.fields] == [
        IntegerType(), IntegerType(), StringType(), FloatType(),
    ]
    assert not any(f.nullable for f in spec.schema.fields)


def test_parse_det_rejects_bad_type():
    with pytest.raises(ValueError):
        parse_det("1\n4\nx DECIMAL 10 NK 4\n")


def test_generate_table_invariants(spark, spec):
    n = 3000
    df = generate_table(spark, spec, n, seed=7).cache()
    assert df.count() == n
    # PK: unique, within [0, range)
    pk = df.agg(
        F.count_distinct("aid").alias("d"),
        F.min("aid").alias("lo"),
        F.max("aid").alias("hi"),
    ).first()
    assert pk["d"] == n and pk["lo"] >= 0 and pk["hi"] < 5000
    # NK int within range; every branch value hit (7 << 3000 rows)
    br = df.agg(F.min("branch").alias("lo"), F.max("branch").alias("hi"),
                F.count_distinct("branch").alias("d")).first()
    assert br["lo"] >= 0 and br["hi"] < 7 and br["d"] == 7
    # STRING: exact length, lowercase a-z
    assert df.filter(~F.col("owner").rlike("^[a-z]{8}$")).count() == 0
    # REAL within [0, range)
    bal = df.agg(F.min("balance").alias("lo"), F.max("balance").alias("hi")).first()
    assert bal["lo"] >= 0.0 and bal["hi"] < 1000.0


def test_generate_table_deterministic_across_partitionings(spark, spec):
    a = generate_table(spark, spec, 500, seed=7, num_partitions=1)
    b = generate_table(spark, spec, 500, seed=7, num_partitions=13)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_generate_table_pk_overflow_rejected(spark, spec):
    with pytest.raises(ValueError):
        generate_table(spark, spec, 5001)


def test_ingest_roundtrip(spark, spec, tmp_path):
    src = generate_table(spark, spec, 200, seed=3)
    txt = str(tmp_path / "account_txt")
    src.write.option("sep", "\t").mode("overwrite").csv(txt)
    out = ingest_text_table(spark, txt, spec, str(tmp_path / "account_parquet"))
    # Spark file sources force nullable=true regardless of the read
    # schema — compare names/types only.
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in spec.schema.fields
    ]
    assert out.exceptAll(src).count() == 0 and src.exceptAll(out).count() == 0


def test_read_text_table_rejects_extra_field(spark, tmp_path):
    """A row with one field more than the spec fails the read itself,
    not a later action: a trailing tab is dropped only when it leaves
    one field per column."""
    from database_query_processor_spark.sources.ingest import read_text_table

    spec = parse_det("2\n8\na INTEGER 10 PK 4\nb INTEGER 10 NK 4\n")
    ok = tmp_path / "ok.txt"
    ok.write_text("1\t2\t\n3\t4\n")
    assert sorted(tuple(r) for r in read_text_table(spark, str(ok), spec).collect()) == [
        (1, 2), (3, 4)
    ]
    bad = tmp_path / "bad.txt"
    bad.write_text("1\t2\n3\t4\t5\n")
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        read_text_table(spark, str(bad), spec)


def test_result_sink_format(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, None)], "k int, v string"
    )
    path = str(tmp_path / "result")
    write_result(df, path, single_file=True)
    lines = sorted(
        spark.sparkContext.textFile(path).collect()
    )
    assert "k\tv" in lines  # header row
    assert "2\t-NULL-" in lines  # reference null token (QueryMain.java:219-220)


# --- single-file results: byte-identical to Spark's csv writer ----------


def _single_file_bytes(df, path: Path) -> bytes:
    write_result(df, str(path), single_file=True)
    assert sorted(p.name for p in path.iterdir()) == ["_SUCCESS", "part-00000.csv"]
    return (path / "part-00000.csv").read_bytes()


def _csv_writer_bytes(df, path: Path) -> bytes:
    """The oracle: Spark's csv writer on one partition, same options."""
    (df.coalesce(1).write.option("sep", "\t").option("header", "true")
     .option("nullValue", NULL_TOKEN).csv(str(path)))
    [part] = path.glob("part-*.csv")
    return part.read_bytes()


def _assert_same_as_csv_writer(df, tmp_path: Path) -> bytes:
    got = _single_file_bytes(df, tmp_path / "single")
    assert got == _csv_writer_bytes(df, tmp_path / "oracle")
    return got


def test_single_file_awkward_values_byte_identical(spark, tmp_path):
    schema = StructType([
        StructField("tab\tname", StringType()),
        StructField('quote"name', StringType()),
        StructField("new\nline name", StringType()),
        StructField("back\\slash", StringType()),
        StructField(" lead", StringType()),
        StructField("dbl", DoubleType()),
        StructField("flt", FloatType()),
        StructField("dec", DecimalType(12, 2)),
        StructField("d", DateType()),
        StructField("ts", TimestampType()),
        StructField("ts_ntz", TimestampNTZType()),
        StructField("dot.ted", StringType()),
        StructField("dot.ted", IntegerType()),  # the writer allows a repeated name
    ])
    rows = [
        ("a\tb", 'say "hi"', "two\nlines", "C:\\dir", " lead", float("nan"), -0.0,
         Decimal("1.50"), datetime.date(2020, 1, 2),
         datetime.datetime(2020, 1, 2, 3, 4, 5, 123000), datetime.datetime(2020, 1, 2, 3, 4, 5),
         "x.y", 1),
        ("", None, "\\", '"', "trail ", float("inf"), 1e20, None, None, None, None, None, None),
        (None, "", "cr\r\nlf", "x\\", "", 1e20, float("-inf"), Decimal("-0.01"),
         datetime.date(1970, 1, 1), datetime.datetime(1999, 12, 31, 23, 59, 59),
         datetime.datetime(1, 1, 1), "", -1),
        (" ", "-NULL-", None, None, None, -0.0, float("nan"), Decimal("0"), None, None, None,
         "a\tb", 0),
    ]
    got = _assert_same_as_csv_writer(spark.createDataFrame(rows, schema), tmp_path)
    assert got.startswith(b'"tab\tname"\t')  # awkward names reach the header quoted


def test_single_file_empty_result_is_header_only(spark, tmp_path):
    df = spark.range(10).selectExpr("id AS k", "CAST(id AS STRING) AS v").filter("k < 0")
    assert _assert_same_as_csv_writer(df, tmp_path) == b"k\tv\n"


def test_single_file_keeps_multi_partition_order_by(spark, tmp_path):
    conf = {"spark.sql.shuffle.partitions": "4",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    before = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        df = (spark.range(0, 4000, numPartitions=4)
              .select(((F.col("id") * 7919) % 4001).alias("k"), F.col("id"))
              .orderBy(F.col("k").desc()))
        assert df.select(F.spark_partition_id()).distinct().count() > 1
        got = _assert_same_as_csv_writer(df, tmp_path)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    keys = [int(line.split(b"\t")[0]) for line in got.splitlines()[1:]]
    assert len(keys) == 4000 and keys == sorted(keys, reverse=True)


def _adhoc_queries():
    """perfbench's adhoc templates, one query each (seed 1), read from
    the benchmark's workload module by path."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_workloads", REPO / "perfbench" / "workloads.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses resolve through sys.modules
    spec.loader.exec_module(mod)
    return mod.adhoc_queries(random.Random("adhoc:1"))


def test_single_file_adhoc_templates_byte_identical(spark, tmp_path):
    from database_query_processor_spark.engine import Engine

    eng = Engine(str(REPO / "perfbench" / "data" / "sf0.001"), spark=spark)
    queries = _adhoc_queries()
    assert len(queries) == 10
    for q in queries:
        _assert_same_as_csv_writer(q.build(eng), tmp_path / q.qid)


# --- single-file results: loud failures ----------------------------------


def _tree(path: Path) -> dict[str, bytes]:
    return {str(p.relative_to(path)): p.read_bytes() for p in path.rglob("*") if p.is_file()}


@pytest.mark.parametrize("expr", ["array(1, 2)", "map('k', 1)", "named_struct('a', 1)", "NULL"])
def test_single_file_rejects_unwritable_column_before_any_job(spark, tmp_path, expr):
    out = tmp_path / "result"
    write_result(spark.range(3), str(out), single_file=True)
    before = _tree(out)
    df = spark.range(3).selectExpr("id", f"{expr} AS bad_col")
    sc = spark.sparkContext
    group = f"sink-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "unwritable column")
    try:
        with pytest.raises(AnalysisException, match="UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE.*bad_col"):
            write_result(df, str(out), single_file=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _tree(out) == before


def test_single_file_rejects_frame_without_columns(spark, tmp_path):
    out = tmp_path / "result"
    with pytest.raises(AnalysisException, match="EMPTY_SCHEMA_NOT_SUPPORTED_FOR_DATASOURCE"):
        write_result(spark.range(3).select(), str(out), single_file=True)
    assert not out.exists()


def test_single_file_runtime_failure_keeps_previous_result(spark, tmp_path):
    out = tmp_path / "result"
    write_result(spark.range(5), str(out), single_file=True)
    before = _tree(out)
    bad = spark.range(10).select((F.lit(1) / (F.col("id") - F.col("id"))).alias("x"))
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        write_result(bad, str(out), single_file=True)
    assert _tree(out) == before
    assert [p.name for p in tmp_path.iterdir()] == ["result"]  # no temp sibling left


def test_single_file_replaces_existing_directory_or_file(spark, tmp_path):
    out = tmp_path / "result"
    (out / "nested").mkdir(parents=True)
    (out / "part-00001-old.csv").write_text("stale\n")
    (out / "nested" / "x").write_text("x")
    assert _single_file_bytes(spark.range(2), out) == b"id\n0\n1\n"
    out_file = tmp_path / "plain_file"
    out_file.write_text("stale\n")
    assert _single_file_bytes(spark.range(1), out_file) == b"id\n0\n"
    assert sorted(p.name for p in tmp_path.iterdir()) == ["plain_file", "result"]


def test_single_file_paths(spark, tmp_path):
    out = tmp_path / "via_uri"
    write_result(spark.range(1), out.as_uri(), single_file=True)
    assert (out / "part-00000.csv").read_bytes() == b"id\n0\n"
    for path in ("hdfs://namenode/results/q1", "s3a://bucket/q1"):
        with pytest.raises(ValueError, match="single_file=False"):
            write_result(spark.range(1), path, single_file=True)


def test_table_stats(spark, spec):
    df = generate_table(spark, spec, 1000, seed=7)
    st = table_stats(df, exact=True)
    assert st.row_count == 1000
    assert st.distinct_counts["aid"] == 1000
    assert st.distinct_counts["branch"] == 7
    text = st.to_stat_text()
    assert text.splitlines()[0] == "1000"
    assert len(text.splitlines()[1].split("\t")) == 4


def test_jsonl_export_roundtrip(spark, tmp_path):
    """write_jsonl → read_jsonl is lossless for (doc_id, text): the
    training-shard export can be re-ingested as a first-class source."""
    from database_query_processor_spark.catalog import load_table
    from database_query_processor_spark.operators.corpus import to_jsonl
    from database_query_processor_spark.sources.ingest import read_jsonl
    from database_query_processor_spark.sources.sink import write_jsonl

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "shards")
    write_jsonl(to_jsonl(docs, "doc_id", "text"), out)
    back = read_jsonl(spark, out, "doc_id BIGINT, n_tokens BIGINT, text STRING")
    orig = {(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()}
    got = {(r["doc_id"], r["text"]) for r in back.select("doc_id", "text").collect()}
    assert got == orig


def test_stat_sidecar_roundtrip(spark):
    """to_stat_text ↔ parse_stat round-trip in the reference's .stat
    layout (row count line + tab-separated positional distincts,
    src/RandomDB.java:147-170 / PlanCost.java:244-304)."""
    from database_query_processor_spark.sources.stats import parse_stat, table_stats

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a")], "k int, v string"
    )
    st = table_stats(df, exact=True)
    back = parse_stat(st.to_stat_text(), ["k", "v"])
    assert back == st
    import pytest

    with pytest.raises(ValueError):
        parse_stat("5", ["k"])
    with pytest.raises(ValueError):
        parse_stat("5\n1\t2", ["k"])


def test_write_table_stat_parses(spark, tmp_path):
    """The `.stat` that javaser_writer.write_table exports reads back
    through parse_stat: one writer, the reference's tab layout."""
    from database_query_processor_spark.sources.javaser_writer import write_table
    from database_query_processor_spark.sources.stats import parse_stat

    df = spark.createDataFrame(
        [(i, f"s{i % 4}", float(i % 5)) for i in range(25)], "k int, s string, r float"
    )
    write_table(df, str(tmp_path / "T25"))
    st = parse_stat((tmp_path / "T25.stat").read_text(), df.columns)
    assert st.row_count == 25
    assert st == table_stats(df)  # the HLL distincts, not exact ones
    assert all(d <= st.row_count for d in st.distinct_counts.values()), st


def test_snapshot_isolation_and_immutability(spark, tmp_path):
    """Time travel contract: a committed snapshot's contents never
    change under later commits; data files are immutable (re-adding a
    live name fails) and drops must name live files."""
    import pytest

    from database_query_processor_spark.sources import snapshots as SNAP

    table = str(tmp_path / "tbl")
    (tmp_path / "tbl").mkdir()
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    assert SNAP.commit(table, {"f1": df1}) == 1
    v1_before = sorted(SNAP.read_version(spark, table, 1).collect())

    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    assert SNAP.commit(table, {"f1_cow": df2}, drops=("f1",)) == 2

    # v1 unchanged after the copy-on-write commit; v2 = the new file
    assert sorted(SNAP.read_version(spark, table, 1).collect()) == v1_before
    assert {r.k for r in SNAP.read_version(spark, table, 2).collect()} == {2, 3}
    # latest resolves to v2
    assert {r.v for r in SNAP.read_version(spark, table).collect()} == {"B", "c"}

    with pytest.raises(ValueError, match="immutable"):
        SNAP.commit(table, {"f1_cow": df1})
    with pytest.raises(ValueError, match="absent"):
        SNAP.commit(table, {"x": df1}, drops=("nope",))


def test_snapshot_optimize_vacuum_lifecycle(spark, tmp_path):
    """OPTIMIZE rewrites the live content into the target file count
    (content-identical, layout-only commit); VACUUM physically removes
    files referenced only by dropped manifests, after which time
    travel to vacuumed versions fails loudly but the kept snapshot is
    intact."""
    import os

    import pytest

    from database_query_processor_spark.sources import snapshots as SNAP

    table = str(tmp_path / "tbl")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k long, v string")
    SNAP.commit(table, {f"in_{i}": df.filter(df.k % 4 == i) for i in range(4)})
    SNAP.commit(table, {"late": df.filter(df.k >= 18).withColumn("k", df.k + 100)})
    expect = sorted(
        (r.k, r.v) for r in SNAP.read_version(spark, table).collect()
    )

    v = SNAP.optimize(spark, table, target_files=2, split_col="k")
    assert v == 3
    with open(SNAP._manifest(table, 3)) as fh:
        import json

        live = json.load(fh)["files"]
    assert len(live) == 2 and all(f.startswith("compact_v3_") for f in live)
    assert sorted((r.k, r.v) for r in SNAP.read_version(spark, table).collect()) == expect

    removed = SNAP.vacuum(table, keep_versions=1)
    assert sorted(removed) == sorted([f"in_{i}" for i in range(4)] + ["late"])
    assert sorted(os.listdir(os.path.join(table, "data"))) == sorted(live)
    # old manifests gone -> time travel to v1 now raises
    with pytest.raises(FileNotFoundError):
        SNAP.read_version(spark, table, 1)
    # the kept snapshot still reads completely
    assert sorted((r.k, r.v) for r in SNAP.read_version(spark, table).collect()) == expect


def test_snapshot_optimize_empty_table_raises(tmp_path):
    import pytest

    from database_query_processor_spark.sources import snapshots as SNAP

    with pytest.raises(ValueError, match="empty"):
        SNAP.optimize(None, str(tmp_path / "none"))


def test_randomdb_matches_pure_python_reference(spark):
    """The src01 oracle is a committed golden parquet derived from the
    pure-Python XXH64 reference (tests/xxh64_ref.py). Re-derive a
    slice here on every run so EITHER side drifting — a generator
    change, a Spark hash change, or a stale golden — fails loudly
    rather than hiding behind the committed file."""
    import pandas as pd

    from database_query_processor_spark.workload.sources_ops import (
        _ACCOUNT_DET,
        _RANDOMDB_GOLDEN,
    )
    from tests.fixtures.make_randomdb_golden import account_rows

    n = 300
    exp = pd.DataFrame(
        list(account_rows(n)), columns=["aid", "branch", "owner", "balance"]
    )
    got = (
        generate_table(spark, parse_det(_ACCOUNT_DET), n, seed=42)
        .toPandas()
    )
    assert got["aid"].tolist() == exp["aid"].tolist()
    assert got["branch"].tolist() == exp["branch"].tolist()
    assert got["owner"].tolist() == exp["owner"].tolist()
    assert got["balance"].tolist() == exp["balance"].tolist()  # float32 bit-exact

    golden = pd.read_parquet(_RANDOMDB_GOLDEN).head(n)
    assert golden["aid"].tolist() == exp["aid"].tolist()
    assert golden["owner"].tolist() == exp["owner"].tolist()
    assert golden["balance"].tolist() == exp["balance"].tolist()


def test_xxh64_ref_official_vectors():
    """Pin the pure-Python XXH64 to the published spec vectors so the
    golden's provenance is anchored to the PUBLIC algorithm, not to
    whatever Spark happens to compute."""
    from tests.xxh64_ref import hash_bytes

    assert hash_bytes(b"", 0) == 0xEF46DB3751D8E999
    assert hash_bytes(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert hash_bytes(b"abc", 0) == 0x44BC2CF5AD770999
    # >= 32 bytes exercises the 4-lane path; constant cross-checked
    # against Spark's F.xxhash64 on the same bytes (seed 42)
    assert hash_bytes(b"this is a thirty-five byte string!!", 42) == 0x105D9BA1B7796829
