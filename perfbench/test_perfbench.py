"""Self-tests for the benchmark. Run from the repository root:

    python -m pytest perfbench -q

The smoke tests start one Spark driver per run at sf0.001.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
from pathlib import Path

import pytest

import run
from workloads import WORKLOADS, pass_queries

BENCH = Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def _fingerprint(workload: str, seed: int) -> list[tuple[str, str, str]]:
    return [(q.qid, q.text, q.oracle) for q in pass_queries(workload, seed)]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_same_queries_and_order(workload):
    assert _fingerprint(workload, 7) == _fingerprint(workload, 7)


def test_seeds_change_adhoc_literals():
    texts = {seed: {q.qid: q.text for q in pass_queries("adhoc", seed)} for seed in (1, 2)}
    assert texts[1].keys() == texts[2].keys()
    assert sum(texts[1][k] != texts[2][k] for k in texts[1]) >= len(texts[1]) // 2


def test_seeds_shuffle_order():
    orders = {tuple(q.qid for q in pass_queries("adhoc", seed)) for seed in range(5)}
    assert len(orders) > 1


def test_adhoc_row_counts_steady():
    """Every seed's literals select about as many rows: each template's
    oracle row count stays within 15% of its median over the seeds."""
    from tests.oracle import duckdb_run

    rows: dict[str, list[int]] = {}
    for seed in range(1, 11):
        for q in pass_queries("adhoc", seed):
            rows.setdefault(q.qid, []).append(len(duckdb_run(q.oracle, str(BENCH / "data" / "sf0.1"))))
    for qid, counts in rows.items():
        mid = statistics.median(counts)
        assert mid > 0 and all(abs(c - mid) <= 0.15 * mid for c in counts), (qid, counts)


def test_metric_names_match_benchmark_json():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert tuple(w["name"] for w in SPEC["workloads"]) == WORKLOADS


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--data-dir", str(BENCH / "data" / "sf0.001")],
        cwd=BENCH.parent, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", (0, 1))
def test_smoke_sf0001(workload, trace):
    res = _smoke(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    expected = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in res["metrics"].items()} == expected
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
