"""Table catalog: parquet directories → DataFrames + temp views.

The reference resolves each FROM-list table by deserializing a
`<TABLE>.md` sidecar schema and scanning `<TABLE>.tbl`
(reference: src/qp/optimizer/RandomInitialPlan.java:76-89,
src/qp/operators/Scan.java:30-55). Parquet is self-describing: the
footer plays the sidecar's part. `footer_schema` reads it on the
driver with pyarrow, and a table is `spark.read.schema(...).parquet(...)`
+ `createOrReplaceTempView`; statistics and column pruning ride the
data source. Spark is handed the schema because, left to infer it,
it launches one job per read just to open a footer
(`SchemaMergeUtils.mergeSchemasInParallel` runs even with
`mergeSchema=false`), and those jobs are fixed cost in every cold
process's setup and in every query build that loads a table.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns stored as TIMESTAMP(NANOS) in the driver parquet; Spark reads
# them as long (nanosAsLong) and we convert to microsecond timestamps,
# truncating like DuckDB does (ns → us).
_NANOS_TS_COLS = {"events": ("ts",)}


def footer_schema(path: str) -> StructType:
    """The Spark data schema of a parquet table, one file or a directory
    of part files, read from a footer on the driver: the schema
    `spark.read.parquet(path)` would infer, without the Spark job that
    inference launches.

    pyarrow's arrow schema converts with `from_arrow_schema`, and
    unzoned timestamps are TIMESTAMP_NTZ as Spark infers them. A
    top-level `timestamp[ns]` column takes an explicit rule: stored as
    INT64 TIMESTAMP(NANOS) it is long, as the session's
    `spark.sql.legacy.parquet.nanosAsLong=true` reads it; stored as
    INT96 (Spark's default timestamp output) it is a zoned TIMESTAMP.
    Every field comes out nullable, as Spark makes any file source's
    schema."""
    footer = pq.ParquetFile(_first_data_file(path))
    physical = {c.path: c.physical_type for c in footer.schema}
    fields = []
    for f in footer.schema_arrow:
        t = f.type
        if pa.types.is_timestamp(t) and t.unit == "ns":
            t = pa.timestamp("us", "UTC") if physical.get(f.name) == "INT96" else pa.int64()
        fields.append(pa.field(f.name, t))
    return _as_nullable(from_arrow_schema(pa.schema(fields), prefer_timestamp_ntz=True))


def _first_data_file(path: str) -> str:
    """`path`, or the first data file of a table directory. Spark's part
    files share one schema, and under `mergeSchema=false` Spark also
    reads a single footer. Names starting with `_` or `.` are hidden
    files (`_SUCCESS`, `.crc`, `_spark_metadata`), as Spark skips them."""
    if not os.path.isdir(path):
        return path
    for root, dirs, files in os.walk(path):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if not f.startswith(("_", ".")):
                return os.path.join(root, f)
    raise FileNotFoundError(f"no parquet data file under {path}")


def _as_nullable(t: DataType) -> DataType:
    if isinstance(t, StructType):
        return StructType([StructField(f.name, _as_nullable(f.dataType)) for f in t])
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType))
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType))
    return t


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one base relation (reference Scan operator,
    src/qp/operators/Scan.java:19-109 → `spark.read.parquet`) under its
    footer schema."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark.read
    # a missing table reaches Spark's reader, which raises its own
    # PATH_NOT_FOUND AnalysisException
    if os.path.exists(path):
        reader = reader.schema(footer_schema(path))
    df = reader.parquet(path)
    for col in _NANOS_TS_COLS.get(name, ()):
        if col in df.columns and dict(df.dtypes)[col] == "bigint":
            # ns → us truncation like DuckDB; NTZ so values compare
            # naively against the oracle (session tz is UTC anyway)
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast("timestamp_ntz")
            )
    return df


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register every base table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
