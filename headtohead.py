#!/usr/bin/env python
"""Measured head-to-head: the reference Java engine vs this Spark
engine on IDENTICAL data and the reference's own testcases/query*.sql.

The reference publishes no benchmark numbers (BASELINE.md), so this
harness produces them: it compiles the reference with javac (class
files land in the scratch dir — the reference tree is never written),
generates its demo-schema tables at the reference's experiment scale
with ITS OWN RandomDB/ConvertTxtToTbl, runs each testcase through
`java QueryMain` and parses the engine's printed `Execution time`,
then ingests the very same .txt files into parquet with
sources/ingest.py::ingest_text_table (the engine's one ConvertTxtToTbl
path) and runs the very same query text through
plans/dialect.translate → spark.sql with a noop sink.

Output: one JSON line
  {"rows_per_table": N, "queries": {q: {"ref_sec": r|null,
   "spark_sec": s, "ref_rows": n|null, "spark_rows": n}}, ...}
plus a markdown table on stderr for BASELINE.md.

Methodology notes:
  * ref_sec is the reference's own wall-clock print
    (src/QueryMain.java:190-193) — JVM startup excluded, median of 3.
  * spark_sec is a warm median-of-3 full-plan noop-sink run — JVM/
    session startup excluded, so both sides measure query execution.
  * query8 (MAX over join) aborts in the reference
    ("Aggregation is not implemented.", src/qp/operators/Project.java:66-70)
    → ref_sec null; our engine executes it.
  * row counts from both engines are cross-checked (ref result file
    = header + one line per tuple).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

REF = os.environ.get("SPARK_GRAFT_REF_DIR", "/root/reference")
WORK = os.environ.get("SPARK_GRAFT_H2H_DIR", "/tmp/refbench")
ROWS = int(os.environ.get("SPARK_GRAFT_H2H_ROWS", "15000"))
TABLES = ["CUSTOMER", "CART", "CARTDETAILS", "BILL"]
# demo-schema .det bodies at head-to-head scale: PK ranges widened to
# 2x rows (the originals are 2x their 100-row demo); line 2 is the
# reference's TUPLE SIZE IN BYTES (src/RandomDB.java:50,113), not a
# row count — rows come from the RandomDB CLI argument.
DETS = {
    "CUSTOMER": "5\n100\ncid INTEGER {pk} PK 4\ngender INTEGER 2 NK 4\n"
                "firstname STRING 10 NK 20\nlastname STRING 10 NK 20\n"
                "address STRING 26 NK 52\n",
    "CART": "4\n100\ncartid INTEGER {pk} PK 4\ncid INTEGER {pk} FK 4\n"
            "status STRING 8 NK 16\nremarks STRING 38 NK 76\n",
    "CARTDETAILS": "4\n100\niid INTEGER {pk} PK 4\ncartid INTEGER {pk} FK 4\n"
                   "qty INTEGER 50 NK 4\nremarks STRING 44 NK 88\n",
    "BILL": "4\n100\nbillid INTEGER {pk} PK 4\niid INTEGER {pk} FK 4\n"
            "amount INTEGER 2500 NK 4\nremarks STRING 44 NK 88\n",
}


def sh(
    cmd: list[str], cwd: str, env: dict | None = None, timeout: int = 1800,
    check: bool = False,
) -> str:
    r = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout
    )
    if check and r.returncode != 0:
        raise RuntimeError(f"{cmd[0]} failed ({r.returncode}):\n{r.stdout}{r.stderr}")
    return r.stdout + r.stderr


def build_reference(workdir: str) -> dict:
    classes = os.path.join(workdir, "classes")
    os.makedirs(classes, exist_ok=True)
    out = sh(
        ["javac", "-d", classes, "-classpath", os.path.join(REF, "lib"),
         "-sourcepath", os.path.join(REF, "src"),
         os.path.join(REF, "src", "QueryMain.java"),
         os.path.join(REF, "src", "ConvertTxtToTbl.java"),
         os.path.join(REF, "src", "RandomDB.java")],
        cwd=workdir,
    )
    if not os.path.exists(os.path.join(classes, "QueryMain.class")):
        raise RuntimeError(f"reference build failed:\n{out}")
    env = dict(os.environ)
    env["CLASSPATH"] = f"{classes}:{os.path.join(REF, 'lib')}:."
    return env


def generate_data(workdir: str, env: dict) -> None:
    pk_range = 2 * ROWS
    for t in TABLES:
        with open(os.path.join(workdir, f"{t}.det"), "w") as f:
            f.write(DETS[t].format(pk=pk_range))
        sh(["java", "RandomDB", t, str(ROWS)], cwd=workdir, env=env, check=True)
        sh(["java", "ConvertTxtToTbl", t], cwd=workdir, env=env, check=True)
    # stamp the row count so a changed SPARK_GRAFT_H2H_ROWS regenerates
    with open(os.path.join(workdir, ".rows"), "w") as f:
        f.write(str(ROWS))


def run_reference(workdir: str, env: dict, qfile: str, out: str) -> float | None:
    o = sh(["java", "-Xmx16g", "QueryMain", qfile, out, "8000", "800", "1"],
           cwd=workdir, env=env)
    for line in o.splitlines():
        if "Execution time" in line:
            return float(line.split("=")[1].strip())
    return None  # aborted (e.g. aggregation) or crashed


def main() -> None:
    os.makedirs(WORK, exist_ok=True)
    env = build_reference(WORK)
    stamp = os.path.join(WORK, ".rows")
    stale = (
        not os.path.exists(os.path.join(WORK, f"{TABLES[-1]}.tbl"))
        or not os.path.exists(stamp)
        or open(stamp).read().strip() != str(ROWS)
    )
    if stale:
        generate_data(WORK, env)
    for i in range(1, 11):
        shutil.copy(os.path.join(REF, "testcases", f"query{i}.sql"), WORK)

    from database_query_processor_spark.plans.dialect import translate
    from database_query_processor_spark.session import get_spark
    from database_query_processor_spark.sources import ingest_text_table
    from database_query_processor_spark.sources.det import parse_det_file

    spark = get_spark(app_name="dqps-headtohead")
    for t in TABLES:
        ingest_text_table(
            spark,
            os.path.join(WORK, f"{t}.txt"),
            parse_det_file(os.path.join(WORK, f"{t}.det")),
            os.path.join(WORK, f"{t.lower()}.parquet"),
        ).createOrReplaceTempView(t)

    results: dict[str, dict] = {}
    for i in range(1, 11):
        name = f"query{i}"
        ref_sql = open(os.path.join(WORK, f"{name}.sql")).read()

        ref_runs = []
        for _ in range(3):
            t_ref = run_reference(WORK, env, f"{name}.sql", f"{name}.out")
            if t_ref is None:
                break
            ref_runs.append(t_ref)
        ref_sec = sorted(ref_runs)[1] if len(ref_runs) == 3 else None
        ref_ran = bool(ref_runs)  # distinguishes flaky/timeout from a hard abort
        ref_rows = None
        if ref_sec is not None:
            with open(os.path.join(WORK, f"{name}.out")) as f:
                ref_rows = max(0, sum(1 for _ in f) - 1)  # minus header

        sdf = spark.sql(translate(ref_sql))
        spark_rows = sdf.count()
        sdf.write.format("noop").mode("overwrite").save()  # warm
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.sql(translate(ref_sql)).write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        spark_sec = round(sorted(runs)[1], 3)

        results[name] = {
            "ref_sec": ref_sec,
            "ref_ran": ref_ran,
            "spark_sec": spark_sec,
            "ref_rows": ref_rows,
            "spark_rows": spark_rows,
            "rows_agree": (ref_rows is None or ref_rows == spark_rows),
        }
        print(f"  {name}: ref={ref_sec} spark={spark_sec} "
              f"rows ref={ref_rows} spark={spark_rows}", file=sys.stderr)

    print("\n| query | reference sec | spark sec | rows (both) |", file=sys.stderr)
    print("|---|---|---|---|", file=sys.stderr)
    for name, r in results.items():
        if r["ref_sec"] is not None:
            ref = f"{r['ref_sec']:.2f}"
        elif r.get("ref_ran"):
            ref = "failed/timeout"  # ran but < 3 clean timings
        else:
            ref = "aborts (no aggregation)"
        rows = r["spark_rows"] if r["rows_agree"] else f"MISMATCH {r['ref_rows']}/{r['spark_rows']}"
        print(f"| {name} | {ref} | {r['spark_sec']:.2f} | {rows} |", file=sys.stderr)

    print(json.dumps({
        "metric": "headtohead_reference_vs_spark",
        "rows_per_table": ROWS,
        "queries": results,
        # totals over the COMMON query set only (the reference aborts
        # on aggregation), so total-vs-total is like-for-like; the
        # all-query spark total is reported separately
        "ref_total_sec": round(sum(r["ref_sec"] for r in results.values()
                                   if r["ref_sec"] is not None), 3),
        "spark_total_common_sec": round(sum(
            r["spark_sec"] for r in results.values() if r["ref_sec"] is not None
        ), 3),
        "spark_total_sec": round(sum(r["spark_sec"] for r in results.values()), 3),
    }))


if __name__ == "__main__":
    main()
