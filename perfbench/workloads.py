"""The benchmark's workloads: which queries a pass runs, in which order,
and how each query's output is checked.

A query is built from the `Engine` (the user-facing facade) into a
DataFrame, then executed by its action: the `noop` sink for declared
QuerySpecs, or `sources.sink.write_result` to a tab-delimited result
file for `adhoc` — the two halves of `Engine.execute_to_file`.

The seed decides only the query order and, for `adhoc`, the literals.
"""

from __future__ import annotations

import datetime
import random
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame

from database_query_processor_spark.engine import Engine
from database_query_processor_spark.workload import all_specs

# The declared QuerySpecs of `pipeline`, each run once per pass: exact
# dedup and two Arrow/numpy kernels (x49 Voronoi-cell verify over a
# persisted index, x66 PQ encode), then a windowed micro-batch
# aggregation on the state store and a foreachBatch sink with
# epoch-keyed idempotent writes.
PIPELINE = (
    "x01_dedup_exact", "x49_dedup_semantic", "x66_ann_pq_rerank",
    "s01_stream_tumbling", "s07_stream_foreach_batch_sink",
)
WORKLOADS = ("adhoc", "pipeline")


@dataclass(frozen=True)
class Query:
    """One query of a pass.

    qid     stable id within the pass (spec name, or adhoc template id)
    text    the reference-dialect query text (adhoc only)
    oracle  ANSI SQL DuckDB runs over the same parquet files
    build   Engine -> DataFrame (the user call up to a built plan)
    to_file True: the action writes a result file; False: `noop` sink
    """

    qid: str
    text: str
    oracle: str | None
    build: Callable[[Engine], DataFrame]
    to_file: bool


def _spec_query(spec) -> Query:
    return Query(spec.name, "", spec.oracle, lambda eng: spec.build(eng.spark, eng.data_dir), False)


# --- adhoc: seeded reference-dialect queries -----------------------------
#
# Each template is a d01-d10 / p01-p18 shape with literal slots, given
# in the reference dialect and as its ANSI twin. In the sf0.1 tables the
# banded columns are uniform (o_totalprice over 1000-500000, its
# twentieths are 25000 apart; p_retailprice over 900-1000; l_shipdate
# over 1995-01-02 to 2001-11-04) and the categorical ones equally
# frequent, so a band of fixed width selects about the same number of
# rows under every seed and only the values move.
# `test_adhoc_row_counts_steady` holds each template's oracle row count
# across seeds within 15% of its median.

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_STATUSES = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_J4 = (
    "customer.c_custkey=orders.o_custkey, orders.o_orderkey=lineitem.l_orderkey, "
    "lineitem.l_partkey=part.p_partkey"
)
_J4_ANSI = "c_custkey = o_custkey AND o_orderkey = l_orderkey AND l_partkey = p_partkey"

# id -> (reference text, ANSI twin, literal drawer)
_TEMPLATES: dict[str, tuple[str, str, Callable[[random.Random], dict]]] = {
    "p04_filter_band": (
        'SELECT orders.o_orderkey, orders.o_custkey, orders.o_totalprice FROM orders '
        'WHERE orders.o_totalprice > "{lo}", orders.o_totalprice <= "{hi}"',
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        "WHERE o_totalprice > {lo} AND o_totalprice <= {hi}",
        lambda r: _band(r, 1000, 490000, 10000),
    ),
    "d04_project_filter": (
        'SELECT customer.c_custkey, customer.c_mktsegment, customer.c_name FROM customer '
        'WHERE customer.c_mktsegment = "{seg}"',
        "SELECT c_custkey, c_mktsegment, c_name FROM customer WHERE c_mktsegment = '{seg}'",
        lambda r: {"seg": r.choice(_SEGMENTS)},
    ),
    "p07_filter_date_band": (
        'SELECT lineitem.l_orderkey, lineitem.l_linenumber, lineitem.l_shipdate FROM lineitem '
        'WHERE lineitem.l_shipdate >= "{lo}", lineitem.l_shipdate < "{hi}"',
        "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem "
        "WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}'",
        lambda r: _date_band(r, 30),
    ),
    "p08_filter_attr_attr": (
        'SELECT lineitem.l_orderkey, lineitem.l_discount, lineitem.l_tax FROM lineitem '
        'WHERE lineitem.l_discount > lineitem.l_tax, lineitem.l_quantity = "{q}"',
        "SELECT l_orderkey, l_discount, l_tax FROM lineitem "
        "WHERE l_discount > l_tax AND l_quantity = {q}",
        lambda r: {"q": r.randint(1, 50)},
    ),
    "d01_join_band_orderby": (
        "SELECT customer.c_name, orders.o_orderkey, orders.o_totalprice FROM customer, orders "
        'WHERE customer.c_custkey = orders.o_custkey, orders.o_totalprice > "{lo}", '
        'orders.o_totalprice < "{hi}", orders.o_orderstatus = "{st}" '
        "ORDERBY orders.o_totalprice DESC",
        "SELECT c_name, o_orderkey, o_totalprice FROM customer JOIN orders ON c_custkey = o_custkey "
        "WHERE o_totalprice > {lo} AND o_totalprice < {hi} AND o_orderstatus = '{st}' "
        "ORDER BY o_totalprice DESC",
        lambda r: {**_band(r, 1000, 490000, 10000), "st": r.choice(_STATUSES)},
    ),
    "d02_groupby_agg": (
        "SELECT orders.o_orderpriority, MAX(orders.o_totalprice), COUNT(orders.o_orderkey) "
        'FROM orders WHERE orders.o_orderstatus = "{st}" GROUPBY orders.o_orderpriority',
        "SELECT o_orderpriority, MAX(o_totalprice) AS max_o_totalprice, "
        "COUNT(o_orderkey) AS count_o_orderkey FROM orders WHERE o_orderstatus = '{st}' "
        "GROUP BY o_orderpriority",
        lambda r: {"st": r.choice(_STATUSES)},
    ),
    "p09_join2": (
        "SELECT customer.c_custkey, customer.c_name, orders.o_orderkey FROM customer, orders "
        'WHERE customer.c_custkey = orders.o_custkey, customer.c_mktsegment = "{seg}", '
        'orders.o_orderpriority = "{prio}"',
        "SELECT c_custkey, c_name, o_orderkey FROM customer JOIN orders ON c_custkey = o_custkey "
        "WHERE c_mktsegment = '{seg}' AND o_orderpriority = '{prio}'",
        lambda r: {"seg": r.choice(_SEGMENTS), "prio": r.choice(_PRIORITIES)},
    ),
    "d08_join4_band_project": (
        "SELECT customer.c_mktsegment, part.p_retailprice, lineitem.l_quantity "
        f"FROM customer, orders, lineitem, part WHERE {_J4}, "
        'part.p_retailprice > "{lo}", part.p_retailprice < "{hi}", customer.c_mktsegment = "{seg}"',
        "SELECT c_mktsegment, p_retailprice, l_quantity FROM customer, orders, lineitem, part "
        f"WHERE {_J4_ANSI} AND p_retailprice > {{lo}} AND p_retailprice < {{hi}} "
        "AND c_mktsegment = '{seg}'",
        lambda r: {**_band(r, 900, 997, 2), "seg": r.choice(_SEGMENTS)},
    ),
    "d10_orderby_asc": (
        "SELECT orders.o_orderkey, orders.o_totalprice FROM orders "
        'WHERE orders.o_totalprice > "{lo}", orders.o_totalprice < "{hi}" '
        "ORDERBY orders.o_totalprice",
        "SELECT o_orderkey, o_totalprice FROM orders "
        "WHERE o_totalprice > {lo} AND o_totalprice < {hi} ORDER BY o_totalprice",
        lambda r: _band(r, 1000, 495000, 5000),
    ),
    "p13_theta_join": (
        "SELECT customer.c_custkey, orders.o_orderkey FROM customer, orders "
        "WHERE customer.c_custkey = orders.o_custkey, orders.o_totalprice > customer.c_acctbal, "
        'customer.c_nationkey = "{n}"',
        "SELECT c_custkey, o_orderkey FROM customer JOIN orders ON c_custkey = o_custkey "
        "WHERE o_totalprice > c_acctbal AND c_nationkey = {n}",
        lambda r: {"n": r.randint(0, 24)},
    ),
}


def _band(r: random.Random, lo: int, hi: int, width: int) -> dict:
    start = r.randint(lo, hi)
    return {"lo": start, "hi": start + width}


def _date_band(r: random.Random, days: int) -> dict:
    start = datetime.date(1995, 1, 2) + datetime.timedelta(days=r.randint(0, 2400))
    return {"lo": start.isoformat(), "hi": (start + datetime.timedelta(days=days)).isoformat()}


def adhoc_queries(rng: random.Random) -> list[Query]:
    """One query per template, literals drawn from `rng`."""
    out = []
    for tid, (ref, ansi, draw) in _TEMPLATES.items():
        lits = draw(rng)
        text = ref.format(**lits)
        out.append(Query(tid, text, ansi.format(**lits), lambda eng, t=text: eng.reference_sql(t), True))
    return out


def pass_queries(workload: str, seed: int) -> list[Query]:
    """The queries of one pass of `workload`, in the seed's order."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {', '.join(WORKLOADS)}")
    rng = random.Random(f"{workload}:{seed}")
    if workload == "adhoc":
        queries = adhoc_queries(rng)
    else:
        specs = {s.name: s for s in all_specs()}
        queries = [_spec_query(specs[name]) for name in PIPELINE]
    rng.shuffle(queries)
    return queries


def check(eng: Engine, q: Query) -> tuple[list[str], int]:
    """Problems with `q`'s output (empty = correct) and its expected row
    count: the Spark result against the DuckDB oracle over the same
    parquet files."""
    from tests.oracle import compare, duckdb_run

    if q.oracle is None:  # nothing to compare against: the row count only
        return [], q.build(eng).count()
    expected = duckdb_run(q.oracle, eng.data_dir)
    return compare(q.build(eng), expected), len(expected)
