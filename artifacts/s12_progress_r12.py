#!/usr/bin/env python
"""r12 s12 fine decomposition: run the exact s12 topology once per
variant, capture wall-clock phases AND every micro-batch's durationMs /
state-operator metrics from recentProgress."""
from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from database_query_processor_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")


def one_run(spark, conf_overrides):
    import atexit
    import shutil
    import tempfile

    from database_query_processor_spark.streaming.stateful import (
        session_expiry_tws,
    )
    from database_query_processor_spark.streaming.windows import (
        ROCKSDB_STATE_STORE,
        _conf_scope,
        _events_stream,
    )

    t0 = time.perf_counter()
    with _conf_scope(spark, {**ROCKSDB_STATE_STORE, **conf_overrides}):
        stream = _events_stream(spark, SF_DIR)
        out = session_expiry_tws(stream)
        t_build = time.perf_counter()
        root = tempfile.mkdtemp(prefix="dqps_s12probe_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        q = (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{root}/out")
            .option("checkpointLocation", f"{root}/ckpt")
            .start()
        )
        t_start = time.perf_counter()
        try:
            q.processAllAvailable()
            t_done = time.perf_counter()
            progress = [json.loads(p.json) for p in q.recentProgress]
        finally:
            q.stop()
        t_stop = time.perf_counter()
    batches = []
    for p in progress:
        row = {"batchId": p.get("batchId"), "rows": p.get("numInputRows"),
               "durationMs": p.get("durationMs")}
        ops = p.get("stateOperators") or []
        if ops:
            o = ops[0]
            row["state"] = {k: o.get(k) for k in
                            ("allUpdatesTimeMs", "commitTimeMs",
                             "timerProcessingTimeMs", "numRowsUpdated")}
            cm = o.get("customMetrics") or {}
            row["rocksdb"] = {k: cm.get(k) for k in
                              ("rocksdbCommitCheckpointLatency",
                               "rocksdbCommitFileSyncLatencyMs",
                               "rocksdbCommitFlushLatency",
                               "rocksdbLoadLatencyMs",
                               "rocksdbSaveZipFilesLatencyMs")}
        batches.append(row)
    return {
        "build_s": round(t_build - t0, 3),
        "start_s": round(t_start - t_build, 3),
        "process_s": round(t_done - t_start, 3),
        "stop_s": round(t_stop - t_done, 3),
        "total_s": round(t_stop - t0, 3),
        "batches": batches,
    }


def main():
    spark = get_spark(app_name="s12-progress-r12", driver_memory="16g",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    variants = {
        "A_prod": {},
        "B_parts8": {"spark.sql.shuffle.partitions": "8"},
    }
    out = {}
    for r in range(2):
        for name, conf in variants.items():
            res = one_run(spark, conf)
            out.setdefault(name, []).append(res)
            print(f"run{r} {name}: build={res['build_s']} start={res['start_s']} "
                  f"process={res['process_s']} stop={res['stop_s']} total={res['total_s']}",
                  file=sys.stderr)
    path = os.path.join(REPO, "artifacts", "S12_PROGRESS_r12.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, indent=1)[:4000])
    spark.stop()


if __name__ == "__main__":
    main()
