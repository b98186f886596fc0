"""User-facing engine facade — the one-object API a reference user
switches to.

Reference workflow (src/QueryMain.java:21-40): point the process at a
directory of tables, hand it a query file, get a result file. Here::

    from database_query_processor_spark.engine import Engine

    eng = Engine("/root/testdata/sf0.01")
    eng.sql("SELECT COUNT(*) AS n FROM orders").show()
    eng.reference_sql('SELECT orders.o_orderkey FROM orders '
                      'WHERE orders.o_totalprice > "200000"').show()
    eng.execute_to_file("SELECT * FROM region", "/tmp/result")

Everything is a thin composition of session / catalog / dialect /
sink — the engine room is Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from database_query_processor_spark.catalog import (
    DEFAULT_SF_DIR,
    load_table,
    register_tables,
)
from database_query_processor_spark.plans.dialect import translate
from database_query_processor_spark.session import get_spark
from database_query_processor_spark.sources.sink import write_result
from database_query_processor_spark.sources.stats import analyze_table


class Engine:
    """A registered catalog + query entry points over one SparkSession."""

    def __init__(self, data_dir: str = DEFAULT_SF_DIR, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self.data_dir = data_dir
        self.tables = register_tables(self.spark, data_dir)

    def sql(self, query: str) -> DataFrame:
        """ANSI Spark SQL over the registered tables."""
        return self.spark.sql(query)

    def reference_sql(self, query: str) -> DataFrame:
        """The reference's dialect (comma-AND, GROUPBY/ORDERBY, quoted
        literals), translated then executed."""
        return self.spark.sql(translate(query))

    def table(self, name: str) -> DataFrame:
        return load_table(self.spark, self.data_dir, name)

    def execute_to_file(
        self, query: str, path: str, dialect: str = "spark", single_file: bool = True
    ) -> None:
        """QueryMain shape: query string → tab-delimited result file.

        With ``single_file=True`` (the default) the result is collected
        to the driver and written there as one file, so it must fit in
        ``spark.driver.maxResultSize`` (Spark's default is 1g). A larger
        result fails loudly before ``path`` is touched; write it with
        ``single_file=False`` (one file per partition, in parallel)."""
        df = self.reference_sql(query) if dialect == "reference" else self.sql(query)
        write_result(df, path, single_file=single_file)

    def analyze(self, *tables: str) -> None:
        """Populate CBO statistics for the given (or all) tables.
        Spark only ANALYZEs temp views when cached, so cache first —
        on a production deployment the tables live in the metastore
        and ANALYZE runs directly (sources/stats.py)."""
        for t in tables or self.tables:
            self.spark.catalog.cacheTable(t)
            analyze_table(self.spark, t)
