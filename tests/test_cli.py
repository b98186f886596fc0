"""CLI (QueryMain equivalent): reference-dialect query file in,
tab-delimited result out."""

from __future__ import annotations

import os

from database_query_processor_spark.cli import main

SF = "/root/testdata/sf0.001"


def _assert_one_result_file(out) -> None:
    """--single-file leaves exactly one part file plus the _SUCCESS marker."""
    assert sorted(os.listdir(out)) == ["_SUCCESS", "part-00000.csv"]


def test_cli_reference_dialect(spark, tmp_path):
    q = tmp_path / "q.sql"
    q.write_text(
        'SELECT lineitem.l_orderkey, lineitem.l_quantity FROM lineitem '
        'WHERE lineitem.l_quantity < "3", lineitem.l_returnflag = "A" '
        'ORDERBY lineitem.l_orderkey\n'
    )
    out = tmp_path / "result"
    rc = main([str(q), str(out), "--data-dir", SF, "--single-file"])
    assert rc == 0
    _assert_one_result_file(out)
    lines = spark.sparkContext.textFile(str(out)).collect()
    assert lines[0] == "l_orderkey\tl_quantity"
    assert len(lines) > 1
    # all rows satisfy the translated predicate
    for ln in lines[1:]:
        _, qty = ln.split("\t")
        assert float(qty) < 3


def test_cli_spark_dialect(spark, tmp_path):
    q = tmp_path / "q.sql"
    q.write_text("SELECT COUNT(*) AS n FROM orders")
    out = tmp_path / "result"
    rc = main([str(q), str(out), "--data-dir", SF, "--dialect", "spark", "--single-file"])
    assert rc == 0
    _assert_one_result_file(out)
    lines = spark.sparkContext.textFile(str(out)).collect()
    assert lines[0] == "n" and int(lines[1]) > 0


def test_cli_reference_positional_knobs(spark, tmp_path):
    """Drop-in compatibility with `java QueryMain q.sql out pagesize
    numbuff`: the two extra positionals are accepted (pagesize ignored,
    numbuffer -> shuffle partitions) and the query still runs."""
    q = tmp_path / "q.sql"
    q.write_text("SELECT lineitem.l_orderkey FROM lineitem ORDERBY lineitem.l_orderkey\n")
    out = tmp_path / "result_knobs"
    # NB: in-process, getOrCreate applies numbuffer to the SHARED test
    # session's runtime conf — restore it or every later test pays for
    # 64 shuffle partitions (a real CLI run is its own process)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        rc = main([str(q), str(out), "8000", "64", "--data-dir", SF, "--single-file"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert rc == 0
    _assert_one_result_file(out)
    lines = spark.sparkContext.textFile(str(out)).collect()
    assert lines[0] == "l_orderkey"
    assert len(lines) > 1


def test_cli_confirm_gate(spark, tmp_path, monkeypatch, capsys):
    """--confirm mirrors QueryMain's confirm-before-execute prompt
    (src/QueryMain.java:139-157): a non-yes answer prints the plan but
    never executes; yes runs normally."""
    q = tmp_path / "q.sql"
    q.write_text("SELECT region.r_name FROM region\n")
    out = tmp_path / "result"

    monkeypatch.setattr("builtins.input", lambda *_: "n")
    rc = main([str(q), str(out), "--data-dir", SF, "--confirm"])
    assert rc == 2
    assert not out.exists()

    monkeypatch.setattr("builtins.input", lambda *_: "y")
    rc = main([str(q), str(out), "--data-dir", SF, "--confirm", "--single-file"])
    assert rc == 0
    _assert_one_result_file(out)
    lines = spark.sparkContext.textFile(str(out)).collect()
    assert lines[0] == "r_name" and len(lines) == 6
