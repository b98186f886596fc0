#!/usr/bin/env python
"""r12 all-queries plan audit — the r11 audit plus a REAL
BroadcastNestedLoopJoin check (VERDICT r11 issue 1 / next-round item 3):
the r11 script counted BNLJ nodes but never verified the build side, so
"all BNLJ are 1-row broadcasts" was an inference. This walks each
query's physical plan via py4j and classifies every BNLJ build side by
walking down through cardinality-preserving nodes (exchange/project/
filter/codegen wrappers) to the first cardinality-DEFINING node:

  * aggregate with NO grouping keys  -> <=1 row          (bounded)
  * GlobalLimit(n)/TakeOrderedAndProject(n) -> <=n rows  (bounded)
  * LocalTableScan with k rows       -> k rows           (bounded)
  * anything else                    -> UNBOUNDED        (FLAGGED)

Output: artifacts/PLAN_AUDIT_r12.json — one row per query with the r11
fields (exchanges, bnlj count, python/SortAggregate flags) plus
`bnlj_builds`: a list of {build: "...", bound: n|null} per BNLJ node.
Anything UNBOUNDED lands in the stderr suspect list.

The s-family is excluded because spec.build() for streaming queries
EXECUTES the stream to completion; their processors are audited by
hand (streaming/stateful.py docstrings).
"""
from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from database_query_processor_spark.plans.inspect import explain_str  # noqa: E402
from database_query_processor_spark.session import get_spark  # noqa: E402
from database_query_processor_spark.workload import all_specs  # noqa: E402

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")

# Arrow boundary sites that are DECLARED (codec/state work that must
# cross into Python by design): multimodal decode, TWS processors, and
# the java-serialization codec (src06/src18 MapInPandas over binary
# javaser payloads — no JVM-expression decoder exists; adjudicated
# intrinsic by the r11 verdict).
# x05/x13/x49/x66: the Arrow-batched numpy kernels of
# operators/similarity.py, built on its numpy kernel primitives (which
# carry the bit-equality argument)
PYTHON_OK = {"x12_", "x14_", "x15_", "x16_", "src06_", "src18_", "x05_", "x13_", "x49_", "x66_"}

# nodes that cannot INCREASE the row count of their child: walking
# through them preserves any bound established below
_PASS_THROUGH = (
    "BroadcastExchangeExec",
    "ShuffleExchangeExec",
    "AQEShuffleReadExec",
    "ProjectExec",
    "FilterExec",
    "WholeStageCodegenExec",
    "InputAdapter",
    "ColumnarToRowExec",
    "LocalLimitExec",  # bounded-below OR pass-through; either way safe
    "SortExec",
    "ReusedExchangeExec",
    "CoalesceExec",
)


def _children(jnode):
    seq = jnode.children()
    return [seq.apply(i) for i in range(seq.size())]


_ATTR_EQ = re.compile(r"(\w+)#\d+L? = ")
_ATTR = re.compile(r"(\w+)#\d+")
_SCAN_TABLE = re.compile(r"/(\w+)\.parquet")


def _subtree_eq_cols(jnode) -> set:
    """All column base-names equality-pinned anywhere in a subtree
    (FilterExec conditions + scan PushedFilters EqualTo)."""
    out: set = set()
    cls = jnode.getClass().getSimpleName()
    if cls == "FilterExec":
        out |= {m.group(1) for m in _ATTR_EQ.finditer(jnode.condition().toString())}
    if cls == "FileSourceScanExec":
        out |= set(re.findall(r"EqualTo\((\w+),", jnode.toString()))
    for child in _children(jnode):
        out |= _subtree_eq_cols(child)
    return out


def _classify_build(jnode, eq_cols: frozenset = frozenset()) -> dict:
    """Walk from a BNLJ build side down to the first
    cardinality-defining node; return {build, bound}. ``eq_cols``
    accumulates column base-names constrained by an equality filter on
    the way down — a keyed aggregate whose every grouping column is
    equality-pinned yields at most one row per pinned value
    combination, and a scan's equality-pinned columns are reported so
    key-uniqueness contracts can adjudicate the bound."""
    node = jnode
    while True:
        cls = node.getClass().getSimpleName()
        if cls in ("HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"):
            if node.groupingExpressions().isEmpty():
                return {"build": f"{cls}(no keys)", "bound": 1}
            keys = {
                m.group(1)
                for i in range(node.groupingExpressions().size())
                for m in [_ATTR.search(node.groupingExpressions().apply(i).toString())]
                if m
            }
            # Catalyst pushes key filters BELOW the aggregate, so the
            # pinning equality lives in the subtree (filter or scan
            # PushedFilters), not above: collect it from there too.
            pinned = eq_cols | _subtree_eq_cols(node)
            if keys and keys <= pinned:
                return {"build": f"{cls}(keys all eq-pinned: {sorted(keys)})", "bound": 1}
            return {"build": f"{cls}(keyed: {sorted(keys)})", "bound": None}
        if cls == "RangeExec":
            try:
                n = int(node.numElements().longValue())
            except Exception:  # noqa: BLE001
                try:
                    n = int(node.numElements())
                except Exception:  # noqa: BLE001
                    n = -1
            return {"build": f"RangeExec({n})", "bound": n}
        if cls in ("GlobalLimitExec", "TakeOrderedAndProjectExec"):
            try:
                n = int(node.limit())
            except Exception:  # noqa: BLE001
                n = -1
            return {"build": f"{cls}", "bound": n}
        if cls == "LocalTableScanExec":
            try:
                n = int(node.rows().size())
            except Exception:  # noqa: BLE001
                n = -1
            return {"build": cls, "bound": n}
        if cls == "BroadcastNestedLoopJoinExec":
            # a cross/inner BNLJ of two bounded inputs is itself
            # bounded by the product (x58/x61/x65: per-iteration
            # 1-row stats x 1-row top-pick)
            left = _classify_build(node.left(), eq_cols)
            right = _classify_build(node.right(), eq_cols)
            if left["bound"] is not None and right["bound"] is not None:
                return {
                    "build": f"BNLJ({left['build']} x {right['build']})",
                    "bound": left["bound"] * right["bound"],
                }
            inner = left if left["bound"] is None else right
            return {"build": f"BNLJ(unbounded side: {inner['build']})", "bound": None}
        if cls == "FileSourceScanExec":
            s = node.toString()
            table = _SCAN_TABLE.search(s)
            eq = sorted(set(re.findall(r"EqualTo\((\w+),", s)) | eq_cols)
            return {
                "build": f"Scan({table.group(1) if table else '?'}, eq-pinned: {eq})",
                "bound": None,
            }
        if cls == "FilterExec":
            eq_cols = eq_cols | {
                m.group(1) for m in _ATTR_EQ.finditer(node.condition().toString())
            }
            node = _children(node)[0]
            continue
        if cls == "ReusedExchangeExec":
            node = node.child()
            continue
        if cls in _PASS_THROUGH:
            kids = _children(node)
            if len(kids) != 1:
                return {"build": f"{cls}(fanout)", "bound": None}
            node = kids[0]
            continue
        return {"build": cls, "bound": None}


def _walk_bnlj(jnode, out: list) -> None:
    cls = jnode.getClass().getSimpleName()
    if cls == "BroadcastNestedLoopJoinExec":
        side = jnode.buildSide().toString()
        build_child = jnode.left() if side == "BuildLeft" else jnode.right()
        out.append(_classify_build(build_child))
    for child in _children(jnode):
        _walk_bnlj(child, out)


# Build sides the walker cannot bound from plan shape alone, bounded
# instead by a WORKLOAD-CONTRACT invariant stated here. Keyed by query
# name; the entry must substring-match the build label it excuses.
ADJUDICATED: dict[str, tuple[str, str]] = {
    # vec_id is the embeddings PK (generator emits one row per id):
    # eq-pinning it bounds the probe scan at one row.
    "x06_sim_cosine_topk": (
        "Scan(embeddings, eq-pinned: ['vec_id']",
        "probe = embeddings row vec_id=0; vec_id is the PK -> 1 row",
    ),
    "x46_hybrid_rrf_search": (
        "Scan(embeddings, eq-pinned: ['vec_id']",
        "dense ranker's query vector, vec_id PK eq-pinned -> 1 row",
    ),
    "x64_rerank_cross_encoder": (
        "Scan(embeddings, eq-pinned: ['vec_id']",
        "dense ranker's query vector, vec_id PK eq-pinned -> 1 row",
    ),
    # the knn query set is vec_id % m == 0 with m derived from
    # count(embeddings): the modulus scales WITH the corpus, so the
    # broadcast query side stays O(1) rows by construction
    # (workload/extensions.py:_knn_query_modulus).
    "x28_sim_knn_join": (
        "Scan(embeddings, eq-pinned: [])",
        "query side = vec_id % m == 0, m ~ n/const -> O(1) rows by construction",
    ),
    "x65_ann_sq8_rerank": (
        "Scan(embeddings, eq-pinned: ['vec_id']",
        "query vector (vec_id PK eq-pinned, 1 row) crossed with 1-row quantization stats",
    ),
    # declared cartesian semantics over the fixed 5-row TPC-H region
    # dimension — the cross join IS the query, and the build side's
    # cardinality is a dataset constant, not corpus-scaled.
    "p14_cross_join": (
        "Scan(region",
        "TPC-H region dim: fixed 5 rows at every SF; cross join is the declared semantics",
    ),
}


def main() -> None:
    spark = get_spark(app_name="dqps-plan-audit-r12", driver_memory="16g",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    rows = {}
    suspects = []
    for spec in all_specs():
        if spec.name.startswith("s") and spec.name[1].isdigit():
            rows[spec.name] = {"skipped": "streaming (build executes)"}
            continue
        try:
            df = spec.build(spark, SF_DIR)
            plan = explain_str(df, "simple")
            jplan = df._jdf.queryExecution().sparkPlan()
        except Exception as ex:  # noqa: BLE001
            rows[spec.name] = {"error": f"{type(ex).__name__}: {ex}"}
            suspects.append((spec.name, "BUILD ERROR"))
            continue
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            flags.append("BatchEvalPython")
        py_nodes = re.findall(
            r"(ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|PythonMapInArrow)", plan
        )
        if py_nodes and not any(spec.name.startswith(p) for p in PYTHON_OK):
            flags.append("python:" + "+".join(sorted(set(py_nodes))))
        if "SortAggregate" in plan:
            flags.append("SortAggregate")
        builds: list[dict] = []
        try:
            _walk_bnlj(jplan, builds)
        except Exception as ex:  # noqa: BLE001
            flags.append(f"bnlj-walk-error:{type(ex).__name__}")
        adj = ADJUDICATED.get(spec.name)
        for b in builds:
            if b["bound"] is None and adj and adj[0] in b["build"]:
                b["adjudicated"] = adj[1]
        unbounded = [b for b in builds if b["bound"] is None and "adjudicated" not in b]
        if unbounded:
            flags.append(
                "BNLJ-UNBOUNDED:" + "+".join(sorted({b["build"] for b in unbounded}))
            )
        rows[spec.name] = {
            "exchanges": len(re.findall(r"\bExchange\b", plan)),
            "bnlj": len(builds),
            "bnlj_builds": builds,
            "flags": flags,
        }
        if flags:
            suspects.append((spec.name, ",".join(flags)))
    out = os.path.join(REPO, "artifacts", "PLAN_AUDIT_r12.json")
    with open(out, "w") as fh:
        json.dump({"sf_dir": SF_DIR, "queries": rows}, fh, indent=1, sort_keys=True)
    n_bnlj = sum(r.get("bnlj", 0) for r in rows.values() if isinstance(r, dict))
    print(f"audited {len(rows)} queries, {n_bnlj} BNLJ nodes -> {out}", file=sys.stderr)
    for name, why in suspects:
        print(f"  SUSPECT {name}: {why}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
