"""Negative paths: malformed inputs must fail LOUDLY at the API edge
with a diagnosable message, not surface later as an obscure analysis
error (the failure mode ADVICE.md flagged for normalize_event_ts)."""

from __future__ import annotations

import pytest

from database_query_processor_spark.plans.dialect import translate
from database_query_processor_spark.sources.javaser import JavaSerReader
from database_query_processor_spark.streaming.run import normalize_event_ts


def test_dialect_rejects_non_query():
    with pytest.raises(ValueError, match="reference-dialect"):
        translate("DROP TABLE lineitem")


def test_javaser_rejects_non_stream():
    with pytest.raises(ValueError, match="Java serialization"):
        JavaSerReader(b"not a serialized stream at all")


def test_normalize_event_ts_missing_column(spark):
    df = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError, match="'ts' not in"):
        normalize_event_ts(df)


def test_normalize_event_ts_bad_dtype(spark):
    df = spark.createDataFrame([("oops",)], "ts string")
    with pytest.raises(ValueError, match="unhandled dtype"):
        normalize_event_ts(df)


def test_missing_table_is_loud(spark):
    from pyspark.errors import AnalysisException

    from database_query_processor_spark.catalog import load_table

    with pytest.raises(AnalysisException):
        load_table(spark, "/root/testdata/sf0.001", "no_such_table")
