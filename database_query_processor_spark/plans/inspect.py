"""Plan inspection: programmatic access to the physical plan
properties that matter at scale.

The reference's introspection is Debug.PPrint tree dumps
(src/qp/operators/Debug.java:80-134). Here the interesting facts are
Catalyst's choices — where the exchanges are, what reached the scan,
what stayed in codegen — surfaced as plain Python so tests and users
can assert on them (tests/test_plans.py, tests/test_layout.py).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """The df.explain output as a string (modes: simple, extended,
    codegen, cost, formatted)."""
    spark = df.sparkSession
    return spark._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def count_exchanges(df: DataFrame) -> int:
    """Number of DISTRIBUTING shuffle exchanges in the plan. Two
    deliberate exclusions: broadcast exchanges (they move dims, not
    data volume) and `Exchange SinglePartition` (a global collapse —
    gates assert its ABSENCE via 'SinglePartition' checks, so counting
    it here would double-book the same plan property)."""
    # \bExchange\b does not match inside "BroadcastExchange" (no word
    # boundary between 't' and 'E'), so this counts shuffles only.
    plan = explain_str(df, "simple")
    return len(re.findall(r"\bExchange\b(?! SinglePartition)", plan))


def _split_depth0(s: str) -> list[str]:
    """Split a filter list on commas at bracket depth 0 only —
    parameterized filters (EqualTo(a,x), In(a,[1,2])) carry commas of
    their own and must come back whole."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the data source (parquet row-group /
    page-level pruning)."""
    plan = explain_str(df, "formatted")
    out: list[str] = []
    for ln in plan.splitlines():
        if "PushedFilters:" in ln:
            body = ln.split("PushedFilters:", 1)[1].strip()
            if body.startswith("[") and body != "[]":
                out.extend(p for p in _split_depth0(body[1:-1]) if p)
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """Per-scan ReadSchema strings — what each source actually reads
    (column pruning evidence)."""
    plan = explain_str(df, "formatted")
    return [
        ln.split("ReadSchema:", 1)[1].strip()
        for ln in plan.splitlines()
        if "ReadSchema:" in ln
    ]


def join_strategies(df: DataFrame) -> list[str]:
    plan = explain_str(df, "simple")
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )


def uses_python(df: DataFrame) -> bool:
    """True if any Python-evaluation operator appears (row-at-a-time
    UDF or pandas path) — the hot-path smell the plan gates forbid
    outside explicitly-pandas operators."""
    plan = explain_str(df, "simple")
    return any(
        m in plan
        for m in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")
    )


def audit(df: DataFrame) -> dict:
    """One-call scale audit of a plan."""
    return {
        "exchanges": count_exchanges(df),
        "pushed_filters": pushed_filters(df),
        "read_schemas": read_schemas(df),
        "join_strategies": join_strategies(df),
        "uses_python": uses_python(df),
    }


# --- JVM physical-plan walks ------------------------------------------


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _nodes(jnode):
    """Pre-order walk of a JVM physical plan."""
    yield jnode
    for child in _seq(jnode.children()):
        yield from _nodes(child)


def _cls(jnode) -> str:
    return jnode.getClass().getSimpleName()


# Nodes that cannot INCREASE their child's row count: a bound
# established below them holds above them.
_PASS_THROUGH = {
    "BroadcastExchangeExec", "ShuffleExchangeExec", "AQEShuffleReadExec",
    "ProjectExec", "FilterExec", "WholeStageCodegenExec", "InputAdapter",
    "ColumnarToRowExec", "LocalLimitExec", "SortExec", "CoalesceExec",
}
# Nodes whose row count is a plan constant.
_CONSTANT_ROWS = {
    "RangeExec": lambda n: n.range().numElements(),
    "GlobalLimitExec": lambda n: n.limit(),
    "TakeOrderedAndProjectExec": lambda n: n.limit(),
    "LocalTableScanExec": lambda n: n.rows().size(),
}
_AGGREGATES = {"HashAggregateExec", "ObjectHashAggregateExec", "SortAggregateExec"}
_ATTR_EQ = re.compile(r"(\w+)#\d+L? = ")
_SCAN_TABLE = re.compile(r"/(\w+)\.parquet")


def _eq_pinned(jnode) -> set:
    """Column base-names equality-pinned by a filter condition or a
    scan's pushed EqualTo filters."""
    cls = _cls(jnode)
    if cls == "FilterExec":
        return set(_ATTR_EQ.findall(jnode.condition().toString()))
    if cls == "FileSourceScanExec":
        return set(re.findall(r"EqualTo\((\w+),", jnode.toString()))
    return set()


def _classify_build(node, eq_cols: frozenset = frozenset()) -> dict:
    """Walk from a BNLJ build side down through row-count-preserving
    nodes to the first row-count-defining one; return {build, bound}
    with bound = max rows, or None when plan shape alone cannot bound
    it. ``eq_cols`` accumulates equality-pinned columns on the way
    down: a keyed aggregate whose every grouping column is pinned
    yields one row, and a scan reports its pinned columns so a
    key-uniqueness contract can adjudicate it."""
    while True:
        cls = _cls(node)
        if cls in _CONSTANT_ROWS:
            n = int(_CONSTANT_ROWS[cls](node))
            return {"build": f"{cls}({n})", "bound": n}
        if cls in _AGGREGATES:
            keys = set(re.findall(r"(\w+)#\d+", node.groupingExpressions().toString()))
            if not keys:
                return {"build": f"{cls}(no keys)", "bound": 1}
            # Catalyst pushes key filters BELOW the aggregate, so the
            # pinning equality may sit anywhere in its subtree.
            if keys <= set(eq_cols).union(*map(_eq_pinned, _nodes(node))):
                return {"build": f"{cls}(keys all eq-pinned: {sorted(keys)})", "bound": 1}
            return {"build": f"{cls}(keyed: {sorted(keys)})", "bound": None}
        if cls == "BroadcastNestedLoopJoinExec":
            # a BNLJ of two bounded inputs is bounded by the product
            # (x58/x61/x65: 1-row stats x 1-row top pick)
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
            table = _SCAN_TABLE.search(node.toString())
            eq = sorted(_eq_pinned(node) | eq_cols)
            label = f"Scan({table.group(1) if table else '?'}, eq-pinned: {eq})"
            return {"build": label, "bound": None}
        if cls == "ReusedExchangeExec":
            node = node.child()
        elif cls in _PASS_THROUGH and node.children().size() == 1:
            eq_cols = eq_cols | _eq_pinned(node)
            node = node.children().apply(0)
        else:
            return {"build": cls, "bound": None}


def bnlj_build_bounds(df: DataFrame) -> list[dict]:
    """One {build, bound} per BroadcastNestedLoopJoin in ``df``'s
    physical plan, classifying its BUILD side: ``bound`` is the row
    bound that plan shape proves (a no-key or fully eq-pinned
    aggregate, a limit, a static range or local table, or a product
    of such), or None. An unbounded build side is a corpus-sized
    broadcast looped against every probe row."""
    return [
        _classify_build(n.left() if n.buildSide().toString() == "BuildLeft" else n.right())
        for n in _nodes(df._jdf.queryExecution().sparkPlan())
        if _cls(n) == "BroadcastNestedLoopJoinExec"
    ]


def exploded_scan_columns(df: DataFrame) -> list[str]:
    """Array or map columns that a Generate (explode, posexplode,
    ...) reads straight from a table scan, by name. Only such stored
    arrays lose anything to the session-wide InferFiltersFromGenerate
    exclusion (session.py): its inferred non-empty filter could prune
    them at the scan."""
    plan = list(_nodes(df._jdf.queryExecution().sparkPlan()))
    scanned = {
        a.toString()
        for n in plan
        if _cls(n) == "FileSourceScanExec"
        for a in _seq(n.output())
    }
    return [
        arg.name()
        for n in plan
        if _cls(n) == "GenerateExec"
        for arg in _seq(n.generator().children())
        if arg.toString() in scanned and arg.dataType().typeName() in ("array", "map")
    ]
