"""Tab-delimited text ingest — the reference's ConvertTxtToTbl.

Reference: reads `<T>.txt` (tab-separated rows, no header), types each
field per the serialized `<T>.md` schema, writes serialized `Tuple`s
(src/ConvertTxtToTbl.java:18-73). Here the typed read is a single
distributed text scan parsed by `from_csv` with the det-derived schema,
and the sink is parquet — self-describing, columnar, splittable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_query_processor_spark.sources.det import TableSpec


def read_text_table(
    spark: SparkSession, path: str, spec: TableSpec, validate: bool = True
) -> DataFrame:
    """`<T>.txt` + spec → typed DataFrame, parsed in one JVM-side scan.

    Rows split on raw tabs: quote/escape are disabled because the
    reference has no quoting concept, so a field starting with a double
    quote is content, kept verbatim. The reference's RandomDB ends every
    row with a tab (src/RandomDB.java:117-145); one trailing tab is
    dropped exactly when the row then holds one field per column, so
    `3<tab>` under a two-column spec still reads as an empty 2nd field.

    FAILFAST mirrors the reference's exit-on-bad-field
    (src/ConvertTxtToTbl.java:60-65): an unparseable token, or a row
    with more or fewer fields than the spec, raises. An EMPTY token
    parses to NULL instead (the reference's Integer.parseInt("") would
    exit). ``validate`` closes that gap with one post-read scan that
    raises on any NULL cell, enforcing the reference's no-NULLs data
    model (det.py) that downstream operators assume. That scan parses
    every field of every row, so it also raises on a malformed row."""
    trailing_tab = rf"^([^\t]*(?:\t[^\t]*){{{len(spec.columns) - 1}}})\t$"
    parsed = F.from_csv(
        F.regexp_replace("value", trailing_tab, "$1"),
        spec.schema.toDDL(),
        {"sep": "\t", "quote": "", "escape": "", "mode": "FAILFAST"},
    )
    df = spark.read.text(path).select(parsed.alias("row")).select("row.*")
    if validate:
        anynull = None
        for f in spec.schema.fields:
            c = F.col(f.name).isNull()
            anynull = c if anynull is None else (anynull | c)
        bad = df.filter(anynull).limit(1).collect()
        if bad:
            raise ValueError(
                f"{path}: NULL field in row {tuple(bad[0])} — empty tokens "
                "violate the reference's no-NULLs data model"
            )
    return df


def ingest_text_table(
    spark: SparkSession, txt_path: str, spec: TableSpec, parquet_path: str
) -> DataFrame:
    """Full ConvertTxtToTbl equivalent: text in, columnar table out."""
    df = read_text_table(spark, txt_path, spec)
    df.write.mode("overwrite").parquet(parquet_path)
    return spark.read.parquet(parquet_path)


def read_jsonl(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """Read newline-delimited JSON training shards (the format
    `sources/sink.write_jsonl` + `operators/corpus.to_jsonl` export).

    An explicit schema skips Spark's whole-file inference scan — at
    100 TB schema inference is a full extra pass, so production reads
    must pass one. JSON source splits by line, so parallelism follows
    file count × block size exactly like text."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
