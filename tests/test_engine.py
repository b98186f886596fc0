"""Engine facade: the switch-over API for a reference user."""

from __future__ import annotations

import os

from database_query_processor_spark.engine import Engine

SF = "/root/testdata/sf0.001"


def test_engine_surface(spark, tmp_path):
    eng = Engine(SF, spark=spark)
    assert eng.sql("SELECT COUNT(*) AS n FROM orders").first().n > 0
    ref = eng.reference_sql(
        'SELECT orders.o_orderkey FROM orders WHERE orders.o_totalprice > "200000"'
    )
    ansi = eng.sql("SELECT o_orderkey FROM orders WHERE o_totalprice > 200000")
    assert ref.count() == ansi.count()
    assert eng.table("region").count() == 5

    out = str(tmp_path / "res")
    eng.execute_to_file("SELECT * FROM region", out)
    assert sorted(os.listdir(out)) == ["_SUCCESS", "part-00000.csv"]
    lines = spark.sparkContext.textFile(out).collect()
    assert len(lines) == 6  # header + 5 regions


def test_engine_analyze_feeds_cbo(spark):
    eng = Engine(SF, spark=spark)
    try:
        eng.analyze("nation")
        # stats visible to the optimizer: row count on the analyzed view
        stats = eng.sql("SELECT * FROM nation")._jdf.queryExecution().optimizedPlan().stats()
        assert stats.rowCount().isDefined()
    finally:
        spark.catalog.uncacheTable("nation")


def test_engine_analyze_all_tables(spark):
    """analyze() with no arguments covers every table, including
    embeddings, whose ARRAY<FLOAT> column ANALYZE cannot take column
    stats for: the row count still lands on it."""
    eng = Engine(SF, spark=spark)
    try:
        eng.analyze()
        for t in ("embeddings", "nation"):
            stats = eng.sql(f"SELECT * FROM {t}")._jdf.queryExecution().optimizedPlan().stats()
            assert stats.rowCount().isDefined(), t
    finally:
        for t in eng.tables:
            spark.catalog.uncacheTable(t)


def test_sweep_order_policy():
    """Harness policy (not library behavior): queries without a green
    row in the LATEST driver report sort first, risk-ordered
    (streaming, sources, dialect, temporal before the TPC-H tail);
    green queries follow, rotated so they get periodic re-checks.
    all_specs() itself stays in fixed declaration order."""
    import __spark_entry__ as e
    from database_query_processor_spark.workload import all_specs

    order = list(e.queries())
    names = {s.name for s in all_specs()}
    assert set(order) == names and len(order) == len(names)
    green = e._latest_green()
    if green:
        unverified = [n for n in order if n not in green]
        # contiguous prefix: every unverified name precedes every green one
        assert order[: len(unverified)] == unverified
        # rows-only-by-design queries (no oracle → can never turn green)
        # sort last within the front block: a permanent rows-only check
        # must not displace convertible queries from the budget
        oracles = e.oracle_sql()
        no_oracle = [n for n in unverified if n not in oracles]
        if no_oracle:
            assert unverified[-len(no_oracle):] == no_oracle
    # deterministic across calls
    assert order == list(e.queries())


def test_sweep_order_staleness_first_diff_tiebreak():
    """The green block is ordered by STALENESS of each query's latest
    driver row (oldest round first) so the driver's bounded budget
    refreshes its own oldest independent signal each round — the
    ordering self-rotates as re-checked queries get stamped with the
    current round. Within one staleness round, greens whose
    implementing modules changed since the last verification point
    sort first. Verified by monkeypatching the changed-file
    provider."""
    import __spark_entry__ as e

    rounds = e._latest_rounds()
    green = {n for n, (_, ok) in rounds.items() if ok}
    if not green:  # fresh checkout: nothing to order
        return
    from database_query_processor_spark.workload import all_specs

    specs = {s.name: s for s in all_specs()}

    orig = e._changed_since_last_verify
    try:
        e._changed_since_last_verify = lambda: set()
        e._ORDER_MEMO = None
        order = [s.name for s in e._sweep_order()]
        green_block = [n for n in order if n in green]
        # staleness rounds are non-decreasing through the green block
        rs = [rounds[n][0] for n in green_block]
        assert rs == sorted(rs)
        # the stalest green driver round fronts the green block
        assert rs[0] == min(rounds[n][0] for n in green)
    finally:
        e._changed_since_last_verify = orig
        e._ORDER_MEMO = None

    # diff-aware tie-break: pretend the module of the LAST green in
    # the stalest round changed — it must jump to the head of its own
    # staleness cohort, but NOT ahead of any staler cohort
    oldest = min(rounds[n][0] for n in green)
    cohort = [n for n in green_block if rounds[n][0] == oldest]
    target = cohort[-1]
    import pathlib
    import sys

    rel = str(pathlib.Path(
        sys.modules[specs[target].build.__module__].__file__
    ).resolve().relative_to(pathlib.Path(e.__file__).resolve().parent))
    try:
        e._changed_since_last_verify = lambda: {rel}
        e._ORDER_MEMO = None
        order2 = [s.name for s in e._sweep_order()]
        gb2 = [n for n in order2 if n in green]
        # staleness still dominates
        rs2 = [rounds[n][0] for n in gb2]
        assert rs2 == sorted(rs2)
        cohort2 = [n for n in gb2 if rounds[n][0] == oldest]
        # within the cohort every touched name precedes every untouched
        flags = [e._spec_touched(specs[n], {rel}) for n in cohort2]
        assert target in cohort2 and flags == sorted(flags, reverse=True), cohort2
        assert set(order2) == set(order)
    finally:
        e._changed_since_last_verify = orig
        e._ORDER_MEMO = None


def test_latest_green_latest_row_wins(tmp_path):
    """_latest_green parses REAL artifact files with latest-row-wins
    semantics: green in r1, red in r2 → not green; red in r1, green
    in r2 → green; unparseable artifacts are skipped, not fatal."""
    import json

    import __spark_entry__ as e

    g = {"rows_match": True, "schema_match": True, "hash_match": True,
         "spark_rows": 1, "oracle_rows": 1, "err": None}
    r = dict(g, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_regressed": g, "q_recovered": r, "q_stable": g}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_regressed": r, "q_recovered": g}))
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    assert e._latest_green(tmp_path) == {"q_recovered", "q_stable"}


def test_sweep_order_fronts_planted_regression():
    """Plant-a-regression drill (r6 verdict): a query whose LATEST
    driver row went red AND whose module changed must land in the
    unverified FRONT block — ahead of every green — so the driver's
    bounded budget re-verifies it THIS round. The router is
    load-bearing for 205 queries; this pins the failure path, not
    just the happy rotation."""
    import __spark_entry__ as e
    from database_query_processor_spark.workload import all_specs

    real_green = e._latest_green()
    if not real_green:
        return  # fresh checkout: no artifacts to regress against
    specs = {s.name: s for s in all_specs()}
    # the records keep rows for queries since renamed or deleted
    victim = sorted(n for n in real_green if n in specs and specs[n].oracle is not None)[0]
    import pathlib
    import sys

    rel = str(pathlib.Path(
        sys.modules[specs[victim].build.__module__].__file__
    ).resolve().relative_to(pathlib.Path(e.__file__).resolve().parent))

    orig_green, orig_changed = e._latest_green, e._changed_since_last_verify
    try:
        # the fake red row: victim drops out of the green set
        e._latest_green = lambda root=None: real_green - {victim}
        e._changed_since_last_verify = lambda: {rel}
        e._ORDER_MEMO = None
        order = [s.name for s in e._sweep_order()]
        front = [n for n in order if n not in real_green or n == victim]
        n_unverified = len([n for n in order if n not in (real_green - {victim})])
        # victim is inside the unverified front block, before ALL greens
        assert order.index(victim) < n_unverified
        first_green = next(i for i, n in enumerate(order)
                           if n in real_green and n != victim)
        assert order.index(victim) < first_green, front[:5]
    finally:
        e._latest_green, e._changed_since_last_verify = orig_green, orig_changed
        e._ORDER_MEMO = None
