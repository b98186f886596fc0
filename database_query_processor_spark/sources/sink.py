"""Result sink — the reference's QueryMain output stage.

Reference: pulls the root operator's batches and writes a header row
plus tab-delimited tuples, printing ``-NULL-`` for null cells, into one
result file, all in one process (src/QueryMain.java:162-226).

``single_file=False`` is Spark's csv writer with the same separator /
header / null token: one file per partition, written in parallel — the
form to use at scale.

``single_file=True`` mirrors the reference's one result file the same
way QueryMain does. Spark's own CSV generator (``to_csv`` with the
writer's options) turns each row into a line, one Arrow collect brings
the lines to the driver, and the driver writes ``part-00000.csv``
(header, then the lines) plus ``_SUCCESS``. The bytes equal what the
csv writer writes for the same frame; the last stage keeps its
parallelism and no Hadoop commit protocol runs. Two limits follow:

* The result passes through driver memory. Above
  ``spark.driver.maxResultSize`` (Spark's default is 1g) the collect
  fails loudly, before ``path`` is touched.
* ``path`` must be a local path or a ``file:`` URI.

The file is written into a temp sibling directory that is then renamed
into place, so a failed query leaves an existing result intact.
"""

from __future__ import annotations

import shutil
import uuid
from pathlib import Path
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

NULL_TOKEN = "-NULL-"
_CSV_OPTIONS = {"sep": "\t", "nullValue": NULL_TOKEN}


def write_result(df: DataFrame, path: str, single_file: bool = False) -> None:
    if single_file:
        _write_single_file(df, _local_path(path))
        return
    df.write.mode("overwrite").option("header", "true").options(**_CSV_OPTIONS).csv(path)


def _local_path(path: str) -> Path:
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        raise ValueError(
            f"single_file=True writes on the driver's local disk; {path!r} has scheme "
            f"{url.scheme!r}: use single_file=False for a distributed filesystem"
        )
    return Path(url.path if url.scheme else path)


def _write_single_file(df: DataFrame, target: Path) -> None:
    spark = df.sparkSession
    schema = df._jdf.schema()
    # The csv writer's schema checks, run before any job: to_csv alone
    # would accept a frame with no columns, and array, map, struct and
    # void columns.
    if schema.isEmpty():
        _jclass(spark, "org.apache.spark.sql.execution.datasources.DataSource").validateSchema(
            "CSV", schema, spark._jsparkSession.sessionState().conf())
    _jclass(spark, "org.apache.spark.sql.execution.datasources.DataSourceUtils").verifySchema(
        _jclass(spark, "org.apache.spark.sql.execution.datasources.csv.CSVFileFormat")(),
        schema, False)
    header = _header(spark, schema)
    # struct(*) takes the columns by position, so repeated or dotted
    # names need no quoting
    lines = df.select(F.to_csv(F.struct(F.col("*")), _CSV_OPTIONS)).toArrow().column(0)

    tmp = target.parent / f".{target.name}.tmp-{uuid.uuid4().hex}"
    try:
        tmp.mkdir(parents=True)
        with open(tmp / "part-00000.csv", "w", encoding="utf-8", newline="") as fh:
            fh.write(header)
            fh.writelines(line + "\n" for line in lines.to_pylist())
        (tmp / "_SUCCESS").touch()
        if target.is_dir() and not target.is_symlink():
            shutil.rmtree(target)
        else:
            target.unlink(missing_ok=True)
        tmp.rename(target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)  # left only if a step above failed


def _header(spark: SparkSession, schema) -> str:
    """The writer's header line, from the generator the writer uses —
    built on the driver, with no Spark job."""
    options = _jclass(spark, "org.apache.spark.sql.catalyst.csv.CSVOptions")(
        spark._jvm.PythonUtils.toScalaMap(_CSV_OPTIONS), False,
        spark.conf.get("spark.sql.session.timeZone"))
    out = _jclass(spark, "java.io.CharArrayWriter")()
    gen = _jclass(spark, "org.apache.spark.sql.catalyst.csv.UnivocityGenerator")(schema, out, options)
    gen.writeHeaders()
    gen.flush()
    return out.toString()


def _jclass(spark: SparkSession, name: str):
    """A JVM class by its full name in one py4j round trip; ``jvm.a.b.C``
    costs one per name segment."""
    return getattr(spark._jvm, name)


def write_jsonl(df: DataFrame, path: str, line_col: str = "json_line") -> None:
    """Training-shard export: one JSON object per line (the
    `operators/corpus.to_jsonl` serialization), written as plain text
    so the bytes are exactly the serialized lines — one file per
    partition, written in parallel at scale."""
    df.select(line_col).write.mode("overwrite").text(path)
