"""Sources & sinks: the reference's on-disk ETL surface re-expressed
on Spark (SURVEY.md §1.4).

Reference format inventory → here:
  * `<T>.det` table spec (parsed at src/RandomDB.java:41-111) →
    :mod:`det` (spec → StructType + column metadata).
  * RandomDB synthetic datagen (src/RandomDB.java:117-175) →
    :mod:`randomdb` (distributed, deterministic, shuffle-free).
  * ConvertTxtToTbl tab-text ingest (src/ConvertTxtToTbl.java:18-73)
    → :mod:`ingest` (text scan parsed by from_csv with the det schema,
    RandomDB's trailing tab dropped → parquet).
  * `<T>.md` schema + `<T>.tbl` tuple stream, Scan's input
    (src/qp/operators/Scan.java:43-86) → :mod:`javaser` (Java
    serialization decoder; `read_tbl_dataset` is a binaryFile scan).
  * `<T>.stat` statistics sidecar (src/RandomDB.java:147-170) →
    :mod:`stats` (row count + per-column distincts; ANALYZE TABLE
    wiring for Catalyst CBO).
  * QueryMain result sink (src/QueryMain.java:162-226) → :mod:`sink`
    (tab-delimited text with header and `-NULL-` nulls).
"""

from database_query_processor_spark.sources.det import TableSpec, parse_det
from database_query_processor_spark.sources.ingest import ingest_text_table
from database_query_processor_spark.sources.randomdb import generate_table
from database_query_processor_spark.sources.sink import write_result
from database_query_processor_spark.sources.stats import analyze_table, table_stats

__all__ = [
    "TableSpec",
    "parse_det",
    "generate_table",
    "ingest_text_table",
    "write_result",
    "analyze_table",
    "table_stats",
]
