"""Command-line entry point — the reference's QueryMain UX on Spark.

Reference: ``java QueryMain query.sql resultfile [pagesize numbuffer]``
reads one query file, executes, writes a tab-delimited result file and
prints the wall-clock time (src/QueryMain.java:21-40,162-226). Here::

    python -m database_query_processor_spark.cli QUERY.sql RESULT_DIR \
        [--data-dir /root/testdata/sf0.01] [--dialect reference|spark] \
        [--explain] [--single-file]

The reference's positional ``pagesize numbuffer`` knobs are accepted
for drop-in compatibility: pagesize (bytes per I/O page) has no Spark
analog — Tungsten manages memory — and is ignored with a notice;
numbuffer (concurrent in-memory pages, the reference's parallelism/
memory bound) maps to ``spark.sql.shuffle.partitions``, the closest
Spark lever for the same trade-off.
``--dialect reference`` (default) accepts the reference's syntax
verbatim (comma-AND, GROUPBY/ORDERBY, double-quoted literals);
``--dialect spark`` passes the file straight to ``spark.sql``.
"""

from __future__ import annotations

import argparse
import sys
import time

from database_query_processor_spark.catalog import DEFAULT_SF_DIR
from database_query_processor_spark.engine import Engine
from database_query_processor_spark.session import get_spark
from database_query_processor_spark.sources.sink import write_result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="database_query_processor_spark")
    ap.add_argument("query_file", help="SQL file (one query)")
    ap.add_argument("result_dir", help="output directory (tab-delimited, header, -NULL- nulls)")
    ap.add_argument("pagesize", nargs="?", type=int, default=None,
                    help="reference-compat: bytes per page (no Spark analog; ignored)")
    ap.add_argument("numbuffer", nargs="?", type=int, default=None,
                    help="reference-compat: buffer pool pages -> spark.sql.shuffle.partitions")
    ap.add_argument("--data-dir", default=DEFAULT_SF_DIR, help="parquet table directory")
    ap.add_argument("--dialect", choices=("reference", "spark"), default="reference")
    ap.add_argument("--explain", action="store_true", help="print the physical plan")
    ap.add_argument("--single-file", action="store_true",
                    help="write one result file from the driver; the result must fit in "
                         "spark.driver.maxResultSize (default 1g) or the query fails "
                         "before RESULT_DIR is touched")
    ap.add_argument("--confirm", action="store_true",
                    help="reference-compat: show the plan and ask before executing "
                         "(QueryMain's confirm-before-execute prompt, "
                         "src/QueryMain.java:139-157)")
    args = ap.parse_args(argv)

    with open(args.query_file, encoding="utf-8") as fh:
        query = fh.read().strip().rstrip(";")

    if args.pagesize is not None:
        print(f"note: pagesize={args.pagesize} ignored (Tungsten manages memory)", file=sys.stderr)
    eng = Engine(args.data_dir, get_spark(app_name="dqps-cli", shuffle_partitions=args.numbuffer))
    df = eng.reference_sql(query) if args.dialect == "reference" else eng.sql(query)
    if args.explain or args.confirm:
        df.explain("formatted")
    if args.confirm:
        try:
            answer = input("execute this plan? [y/N] ").strip().lower()
        except EOFError:  # non-interactive stdin (cron/CI): clean abort
            answer = ""
        if answer not in ("y", "yes"):
            print("aborted", file=sys.stderr)
            return 2
    t0 = time.perf_counter()
    write_result(df, args.result_dir, single_file=args.single_file)
    elapsed = time.perf_counter() - t0
    # same closing line the reference prints (src/QueryMain.java:190-193)
    print(f"Execution time = {elapsed:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
