"""Table statistics — the reference's `<T>.stat` sidecar, Spark-side.

Reference: datagen writes a text file with the exact row count on
line 1 and tab-separated per-column distinct counts on line 2
(src/RandomDB.java:147-170); the optimizer's System-R cost model
reads it back (src/qp/optimizer/PlanCost.java:244-304). On Spark the
cost model is Catalyst CBO, fed by ``ANALYZE TABLE`` catalog stats —
:func:`analyze_table` wires that. :func:`table_stats` computes the
same numbers as the sidecar for inspection/tests;
``approx_count_distinct`` (HyperLogLog++) replaces exact distincts so
the pass stays one scan + one partial-aggregating reduce at 100 TB
(`exact=True` for small data / tests).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    NumericType,
    StringType,
    TimestampNTZType,
    TimestampType,
)


@dataclass(frozen=True)
class TableStats:
    row_count: int
    distinct_counts: dict[str, int]

    def to_stat_text(self) -> str:
        """Render in the reference's `.stat` layout (row count line,
        then tab-separated per-column distincts)."""
        return f"{self.row_count}\n" + "\t".join(
            str(self.distinct_counts[c]) for c in self.distinct_counts
        )


def table_stats(df: DataFrame, exact: bool = False) -> TableStats:
    agg = F.count_distinct if exact else F.approx_count_distinct
    row = df.agg(
        F.count(F.lit(1)).alias("__rows"),
        *[agg(F.col(c)).alias(c) for c in df.columns],
    ).first()
    # HLL++ can overshoot (25 distinct of 25 rows reads 26); PlanCost
    # needs distinct <= tuples, so clamp at the exact row count
    return TableStats(
        row_count=row["__rows"],
        distinct_counts={c: min(row[c], row["__rows"]) for c in df.columns},
    )


# Column types ANALYZE ... FOR COLUMNS accepts (Spark's
# CommandUtils.supportsType); arrays, maps and structs raise
# ANALYZE_UNSUPPORTED_COLUMN_TYPE.
_ANALYZABLE = (
    NumericType, BooleanType, DateType, TimestampType, TimestampNTZType,
    StringType, BinaryType,
)


def analyze_table(spark: SparkSession, table: str) -> None:
    """Populate Catalyst CBO stats (row counts, per-column NDV/min/
    max/nulls) for a catalog table — the engine-side consumer of what
    the `.stat` file fed in the reference. Column stats cover the
    columns whose types ANALYZE accepts; the row count covers the
    table either way."""
    cols = [
        "`" + f.name.replace("`", "``") + "`"
        for f in spark.table(table).schema
        if isinstance(f.dataType, _ANALYZABLE)
    ]
    target = f"FOR COLUMNS {', '.join(cols)}" if cols else ""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS {target}")


def parse_stat(text: str, columns: list[str]) -> TableStats:
    """Read the reference's `.stat` sidecar layout back into
    TableStats — the inverse of to_stat_text, matching the
    reference's own consumer (PlanCost reads row count then one
    distinct count per schema column, src/qp/optimizer/
    PlanCost.java:244-304). `columns` supplies the names the sidecar
    omits (it is positional, keyed by the schema's column order)."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    if len(lines) < 2:
        raise ValueError("stat sidecar needs a row-count line and a distincts line")
    row_count = int(lines[0].strip())
    distincts = [int(v) for v in lines[1].split("\t")]
    if len(distincts) != len(columns):
        raise ValueError(
            f"stat sidecar has {len(distincts)} distinct counts for "
            f"{len(columns)} columns"
        )
    return TableStats(row_count=row_count, distinct_counts=dict(zip(columns, distincts)))


def schema_drift_audit(
    spark: SparkSession, path_v1: str, path_v2: str
) -> DataFrame:
    """Schema + null-profile drift between two dataset versions — the
    "did the upstream crawl change shape under me" audit every
    scheduled ingest should run before appending: per column (union
    of both versions), whether it was kept / added / removed, its
    type in each version, and its null count in each version (type
    changes and null-rate spikes are the classic silent breakages).

    Output: (column_name, status, type_v1, type_v2, n_null_v1,
    n_null_v2) — counts are NULL for a version the column is absent
    from, BIGINT otherwise.

    Scale shape: the schema half is parquet-footer METADATA (driver-
    side, no data read); the null profile is ONE aggregate scan per
    version producing a single row (every per-column SUM rides the
    same partial-agg pass), unpivoted via stack() and joined to the
    tiny metadata frame — two scans total, no shuffle of data rows."""
    df1, df2 = spark.read.parquet(path_v1), spark.read.parquet(path_v2)
    t1 = {f.name: f.dataType.simpleString() for f in df1.schema.fields}
    t2 = {f.name: f.dataType.simpleString() for f in df2.schema.fields}
    meta = spark.createDataFrame(
        [
            (
                c,
                "kept" if c in t1 and c in t2 else ("removed" if c in t1 else "added"),
                t1.get(c),
                t2.get(c),
            )
            for c in sorted(set(t1) | set(t2))
        ],
        "column_name string, status string, type_v1 string, type_v2 string",
    )

    def null_counts(df: DataFrame, alias: str) -> DataFrame:
        aggs = [
            F.sum(F.when(F.col(f.name).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f.name)
            for f in df.schema.fields
        ]
        # escape quotes/backticks: the audit exists for externally
        # drifting datasets, whose new columns may carry any name
        cols = ", ".join(
            "'" + c.replace("'", "''") + "', `" + c.replace("`", "``") + "`"
            for c in df.columns
        )
        return df.agg(*aggs).select(
            F.expr(f"stack({len(df.columns)}, {cols}) AS (column_name, {alias})")
        )

    return meta.join(
        F.broadcast(null_counts(df1, "n_null_v1")), "column_name", "left"
    ).join(F.broadcast(null_counts(df2, "n_null_v2")), "column_name", "left")
