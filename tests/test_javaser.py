"""Round-trip gate for the Java-serialization bridge: generate a table
with the REFERENCE'S OWN RandomDB + ConvertTxtToTbl (javac'd from
/root/reference), then decode the `.md`/`.tbl` byte-for-byte with
sources/javaser.py and compare against the reference's own `.txt`
dump of the same rows. This is the check that a reference-produced
dataset loads verbatim — no regeneration from .det specs."""

from __future__ import annotations

import os
import shutil
import subprocess

import pytest

from database_query_processor_spark.sources import javaser

REF = os.environ.get("SPARK_GRAFT_REF_DIR", "/root/reference")
ROWS = 500
DET = (
    "4\n100\ncartid INTEGER {pk} PK 4\ncid INTEGER {pk} FK 4\n"
    "status STRING 8 NK 16\nremarks STRING 38 NK 76\n"
)

needs_java = pytest.mark.skipif(
    shutil.which("javac") is None or not os.path.isdir(REF),
    reason="reference sources or JDK unavailable",
)


@pytest.fixture(scope="module")
def ref_table(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("javaser"))
    classes = os.path.join(work, "classes")
    os.makedirs(classes)
    subprocess.run(
        ["javac", "-d", classes, "-sourcepath", os.path.join(REF, "src"),
         os.path.join(REF, "src", "ConvertTxtToTbl.java"),
         os.path.join(REF, "src", "RandomDB.java")],
        check=True, capture_output=True,
    )
    env = dict(os.environ, CLASSPATH=f"{classes}:.")
    with open(os.path.join(work, "CART.det"), "w") as f:
        f.write(DET.format(pk=2 * ROWS))
    subprocess.run(["java", "RandomDB", "CART", str(ROWS)], cwd=work, env=env,
                   check=True, capture_output=True)
    subprocess.run(["java", "ConvertTxtToTbl", "CART"], cwd=work, env=env,
                   check=True, capture_output=True)
    return work


def _txt_rows(work):
    rows = []
    with open(os.path.join(work, "CART.txt")) as f:
        for line in f:
            parts = line.split("\t")[:4]  # RandomDB emits a trailing \t
            rows.append([int(parts[0]), int(parts[1]), parts[2], parts[3]])
    return rows


@needs_java
def test_schema_decodes(ref_table):
    with open(os.path.join(ref_table, "CART.md"), "rb") as f:
        cols = javaser.read_schema(f.read())
    assert cols == [
        ("cartid", javaser.ATTR_INT),
        ("cid", javaser.ATTR_INT),
        ("status", javaser.ATTR_STRING),
        ("remarks", javaser.ATTR_STRING),
    ]


@needs_java
def test_tuples_match_reference_txt(ref_table):
    with open(os.path.join(ref_table, "CART.tbl"), "rb") as f:
        rows = javaser.read_tuples(f.read())
    assert rows == _txt_rows(ref_table)


@needs_java
def test_distributed_read(spark, ref_table):
    df = javaser.read_tbl_dataset(
        spark,
        os.path.join(ref_table, "CART.md"),
        os.path.join(ref_table, "CART.tbl"),
    )
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in _txt_rows(ref_table))
    assert got == want
    assert df.schema.fieldNames()[0].endswith("cartid")


FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
CART_DET = DET.format(pk=1000)  # the committed CART fixture: 500 rows


def _fixture_tbl_rows():
    with open(os.path.join(FIXTURES, "CART.tbl"), "rb") as f:
        return sorted(tuple(r) for r in javaser.read_tuples(f.read()))


def test_read_tbl_dataset_md_uri_and_relative_path(spark):
    """The `.md` sidecar resolves through pyarrow's filesystem layer: a
    `file:` URI and a path relative to the working directory both load
    the committed CART fixture."""
    md = os.path.join(FIXTURES, "CART.md")
    tbl = os.path.join(FIXTURES, "CART.tbl")
    for md_path in ("file://" + md, os.path.relpath(md)):
        df = javaser.read_tbl_dataset(spark, md_path, tbl)
        assert sorted(tuple(r) for r in df.collect()) == _fixture_tbl_rows(), md_path


def test_ingest_reference_txt_dump_equals_tbl(spark, tmp_path):
    """ConvertTxtToTbl's two ends agree: ingesting the reference's own
    `.txt` dump (every row ends in a tab) gives exactly the rows the
    reference serialized into the matching `.tbl`."""
    from database_query_processor_spark.sources import ingest_text_table, parse_det

    df = ingest_text_table(
        spark, os.path.join(FIXTURES, "CART.txt"), parse_det(CART_DET),
        str(tmp_path / "cart_parquet"),
    )
    assert df.columns == ["cartid", "cid", "status", "remarks"]
    got = sorted(tuple(r) for r in df.collect())
    assert len(got) == 500 and got == _fixture_tbl_rows()


def _stream(*body: bytes) -> bytes:
    import struct as _s

    return _s.pack(">HH", javaser.MAGIC, javaser.VERSION) + b"".join(body)


def test_modified_utf8_nul_and_astral():
    """Java writeUTF encodes NUL as 0xC0 0x80 and astral chars as
    CESU-8 surrogate pairs — strict standard UTF-8 rejects both, but
    a reference dataset containing them must still load."""
    r = javaser.JavaSerReader(
        _stream(bytes([javaser.TC_STRING, 0x00, 0x04, 0x61, 0xC0, 0x80, 0x62]))
    )
    assert r.read_content() == "a\x00b"
    # U+1F600 as CESU-8: ED A0 BD ED B8 80
    cesu = bytes([0xED, 0xA0, 0xBD, 0xED, 0xB8, 0x80])
    r2 = javaser.JavaSerReader(
        _stream(bytes([javaser.TC_STRING]) + len(cesu).to_bytes(2, "big") + cesu)
    )
    assert r2.read_content() == "\U0001F600"


def test_long_string_tag():
    """TC_LONGSTRING (0x7C): strings >= 64 KiB carry an 8-byte length."""
    payload = b"x" * 70000
    r = javaser.JavaSerReader(
        _stream(
            bytes([javaser.TC_LONGSTRING])
            + len(payload).to_bytes(8, "big")
            + payload
        )
    )
    s = r.read_content()
    assert s == "x" * 70000


def test_plain_utf8_fast_path_unchanged():
    b = "héllo wörld".encode("utf-8")
    assert javaser._decode_modified_utf8(b) == "héllo wörld"


# ---------------------------------------------------------------- writer


@needs_java
def test_writer_byte_identical_to_reference_tools(ref_table):
    """The STRONGEST read-back guarantee: for the same logical
    content, our writer emits byte-for-byte what the reference's own
    ObjectOutputStream wrote — so anything the reference can read of
    its own, it can read of ours. Covers the Integer.valueOf small-int
    cache (back-references), interned field signatures, and the .md's
    shared tblname string."""
    from database_query_processor_spark.sources import javaser_writer as jw

    with open(os.path.join(ref_table, "CART.md"), "rb") as f:
        md = f.read()
    sch = javaser.JavaSerReader(md).read_content()
    attrs = sch["attset"]
    w = jw.JavaSerWriter()
    w.write_schema(
        attrs[0]["tblname"],
        [(a["colname"], a["type"], a["attrsize"]) for a in attrs],
        sch["tupleSize"],
    )
    assert w.getvalue() == md

    with open(os.path.join(ref_table, "CART.tbl"), "rb") as f:
        tbl = f.read()
    types = [a["type"] for a in attrs]
    assert jw.tuples_bytes(javaser.read_tuples(tbl), types) == tbl


@needs_java
def test_reference_jvm_reads_our_md(ref_table, tmp_path):
    """Inverse migration, executed by the reference itself: write an
    .md with OUR writer, feed it (plus a .txt) to the reference's
    javac'd ConvertTxtToTbl — its ObjectInputStream must accept our
    Schema stream (serialVersionUID, field order, handles) and its
    .tbl output must byte-match our encoding of the same rows."""
    from database_query_processor_spark.sources import javaser_writer as jw

    work = str(tmp_path)
    table = "OURS"
    cols = [("k", javaser.ATTR_INT, 4), ("name", javaser.ATTR_STRING, 16),
            ("score", javaser.ATTR_REAL, 4)]
    rows = [[7, "alpha", 1.5], [7, "beta", 2.25], [300, "gamma", -0.5]]
    w = jw.JavaSerWriter()
    w.write_schema(table, cols, 24)
    with open(os.path.join(work, table + ".md"), "wb") as f:
        f.write(w.getvalue())
    with open(os.path.join(work, table + ".txt"), "w") as f:
        for r in rows:
            f.write(f"{r[0]}\t{r[1]}\t{r[2]}\n")

    classes = os.path.join(ref_table, "classes")
    if not os.path.isdir(classes):  # ref_table fixture compiled into cwd
        classes = ref_table
    env = dict(os.environ, CLASSPATH=f"{classes}:.")
    subprocess.run(["java", "ConvertTxtToTbl", table], cwd=work, env=env,
                   check=True, capture_output=True)
    with open(os.path.join(work, table + ".tbl"), "rb") as f:
        ref_tbl = f.read()
    types = [t for _, t, _ in cols]
    assert ref_tbl == jw.tuples_bytes(rows, types)
    assert javaser.read_tuples(ref_tbl) == rows


def test_writer_rejects_non_native_types(spark):
    """The reference's data model has INT/STRING/REAL only — a LONG
    column must fail the migration loudly, not truncate silently."""
    from database_query_processor_spark.sources import javaser_writer as jw

    df = spark.range(3)  # id: bigint
    with pytest.raises(ValueError, match="reference-native"):
        jw.schema_bytes(df, "T")


def test_shard_write_parallel_readback(spark, tmp_path):
    """Distributed export: one Java-ser shard per partition, encoded
    executor-side; read back in parallel via read_tbl_dataset with one
    task per shard."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.sources import javaser_writer as jw

    df = (
        spark.range(200)
        .repartition(4)
        .select(
            F.col("id").cast("int").alias("k"),
            F.concat(F.lit("row_"), F.col("id")).alias("name"),
            (F.col("id") * 0.5).cast("float").alias("score"),
        )
    )
    n = jw.write_tbl_shards(df, str(tmp_path), "ACC")
    assert n == 4
    back = javaser.read_tbl_dataset(
        spark, os.path.join(str(tmp_path), "ACC.md"),
        os.path.join(str(tmp_path), "ACC-p*.tbl"),
    )
    assert back.rdd.getNumPartitions() == 4
    got = sorted(tuple(r) for r in back.collect())
    want = sorted(tuple(r) for r in df.collect())
    assert got == want

    # Re-export into the SAME dir with fewer partitions: stale
    # p00002/p00003 shards from the 4-partition run must be cleared,
    # or the read-back glob would silently mix them into the dataset.
    df2 = df.filter(F.col("k") < 100).repartition(2)
    n2 = jw.write_tbl_shards(df2, str(tmp_path), "ACC")
    assert n2 == 2
    import glob as _glob

    assert len(_glob.glob(os.path.join(str(tmp_path), "ACC-p*.tbl"))) == 2
    back2 = javaser.read_tbl_dataset(
        spark, os.path.join(str(tmp_path), "ACC.md"),
        os.path.join(str(tmp_path), "ACC-p*.tbl"),
    )
    assert sorted(tuple(r) for r in back2.collect()) == sorted(
        tuple(r) for r in df2.collect()
    )


def test_modified_utf8_encode_roundtrips_nul_and_astral():
    """Encode side of the Java writeUTF format: NUL -> C0 80 and
    astral -> CESU-8, inverse of the reader's decoder."""
    from database_query_processor_spark.sources.javaser_writer import (
        _encode_modified_utf8,
    )

    for s in ["a\x00b", "\U0001F600", "plain ascii", "héllo wörld"]:
        assert javaser._decode_modified_utf8(_encode_modified_utf8(s)) == s
    assert _encode_modified_utf8("a\x00b") == bytes([0x61, 0xC0, 0x80, 0x62])


def test_writer_long_string_roundtrip():
    """>=64 KiB strings must switch to TC_LONGSTRING (8-byte length)
    exactly as ObjectOutputStream.writeString does — a large document
    must not crash the 2-byte writeUTF pack mid-export (r6 review)."""
    from database_query_processor_spark.sources import javaser_writer as jw

    big = "x" * 70_000 + "\x00tail"
    w = jw.JavaSerWriter()
    w.write_tuple([1, big], [javaser.ATTR_INT, javaser.ATTR_STRING])
    rows = javaser.read_tuples(w.getvalue())
    assert rows == [[1, big]]


def test_writer_drain_streams_in_bounded_memory():
    """drain() flushes buffered bytes while keeping handle state, so a
    multi-chunk write concatenates to exactly the one-shot stream —
    the mechanism write_table/write_tbl_shards use to bound memory."""
    from database_query_processor_spark.sources import javaser_writer as jw

    types = [javaser.ATTR_INT, javaser.ATTR_STRING]
    rows = [[i % 5, f"r{i}"] for i in range(50)]  # small-int cache refs cross chunks
    one = jw.JavaSerWriter()
    for r in rows:
        one.write_tuple(r, types)
    chunked = jw.JavaSerWriter()
    parts = []
    for j, r in enumerate(rows):
        chunked.write_tuple(r, types)
        if j % 7 == 6:
            parts.append(chunked.drain())
    parts.append(chunked.drain())
    assert b"".join(parts) == one.getvalue()
    assert javaser.read_tuples(b"".join(parts)) == rows


@needs_java
def test_reference_querymain_scans_our_export(spark, tmp_path):
    """FULL-CIRCLE migration proof: a Spark DataFrame exported with
    write_table (.md + .tbl, our bytes) is loaded and queried by the
    reference's complete engine — javac'd QueryMain with its real
    parser/optimizer/Scan path — and the engine's result file
    reproduces the DataFrame row for row."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.sources.javaser_writer import write_table

    work = str(tmp_path)
    classes = os.path.join(work, "classes")
    os.makedirs(classes)
    subprocess.run(
        ["javac", "-d", classes, "-classpath", os.path.join(REF, "lib"),
         "-sourcepath", os.path.join(REF, "src"),
         os.path.join(REF, "src", "QueryMain.java")],
        check=True, capture_output=True,
    )
    env = dict(os.environ,
               CLASSPATH=f"{classes}:{os.path.join(REF, 'lib')}:.")

    df = spark.range(25).select(
        F.col("id").cast("int").alias("k"),
        F.concat(F.lit("row_"), F.col("id")).alias("name"),
        # exact binary floats so Java Float.toString == Python repr
        (F.col("id") * 0.25).cast("float").alias("score"),
    )
    write_table(df, os.path.join(work, "MIGR"), table="MIGR")
    with open(os.path.join(work, "q.sql"), "w") as f:
        f.write("SELECT *\nFROM MIGR\n")
    r = subprocess.run(
        ["java", "QueryMain", "q.sql", "migr.out", "8000", "800", "1"],
        cwd=work, env=env, capture_output=True, text=True, timeout=300,
    )
    assert "Execution time" in r.stdout, r.stdout + r.stderr

    rows = []
    with open(os.path.join(work, "migr.out")) as f:
        header = f.readline()
        assert "MIGR.k" in header and "MIGR.score" in header
        for line in f:
            if not line.strip():
                continue
            k, name, score = line.rstrip("\n").split("\t")[:3]
            rows.append((int(k), name, float(score)))
    want = sorted((r.k, r.name, float(r.score)) for r in df.collect())
    assert sorted(rows) == want
