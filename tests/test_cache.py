"""The cached-intermediate owner (cache.py): what a scope persists it
releases, and nothing else."""

from __future__ import annotations

import contextvars

import pytest
from pyspark import StorageLevel

from database_query_processor_spark import cache
from database_query_processor_spark.cache import persist, scope
from database_query_processor_spark.operators import corpus, graph
from database_query_processor_spark.workload import all_specs
from tests.conftest import SF_SMOKE


def _cached_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_spec_runs_release_their_persists(spark):
    """x04, x60, c64 and x49 persist intermediates; five runs of each
    in one session, each in a scope, leave storage where it started
    (without a release the held set grows with every distinct plan)."""
    specs = {s.name: s for s in all_specs()}
    start = _cached_rdds(spark)
    for name in ("x04_dedup_ngram_jaccard", "x60_dedup_containment",
                 "c64_triangle_count", "x49_dedup_semantic"):
        for run in range(5):
            with scope():
                specs[name].build(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
                held = _cached_rdds(spark)
            assert held - start, (name, run)
            # nothing new stays (an earlier test's RDDs may be collected)
            assert not _cached_rdds(spark) - start, (name, run)


def test_persist_outside_scope_stays_cached(spark):
    """No open scope (perfbench's path): a plain lazy persist that no
    later scope releases."""
    df = spark.range(50).selectExpr("id * 3 AS v")
    contextvars.Context().run(persist, df)
    try:
        df.count()
        with scope():
            persist(spark.range(7)).count()
        assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
    finally:
        df.unpersist()


def test_scope_leaves_caller_cache(spark):
    """A plan the caller cached is not the scope's to release, even
    when an operator persists the same plan inside it."""
    df = spark.range(40).selectExpr("id % 5 AS k").cache()
    try:
        with scope():
            persist(df).count()
        assert df.storageLevel != StorageLevel.NONE
    finally:
        df.unpersist()


def test_scope_releases_on_exception(spark):
    df = spark.range(30).selectExpr("id + 1 AS v")
    with pytest.raises(RuntimeError), scope():
        persist(df).count()
        raise RuntimeError("boom")
    assert df.storageLevel == StorageLevel.NONE


def test_nested_scope_releases_only_its_own(spark):
    outer_df = spark.range(20).selectExpr("id * 2 AS v")
    inner_df = spark.range(20).selectExpr("id * 5 AS v")
    with scope():
        persist(outer_df).count()
        with scope():
            persist(inner_df).count()
        assert inner_df.storageLevel == StorageLevel.NONE
        assert outer_df.storageLevel == StorageLevel.MEMORY_AND_DISK
    assert outer_df.storageLevel == StorageLevel.NONE


@pytest.fixture
def recorded(monkeypatch):
    """Every frame the graph operators persist, to check it is released."""
    frames = []

    def _persist(df):
        frames.append(df)
        return cache.persist(df)

    monkeypatch.setattr(graph, "persist", _persist)
    monkeypatch.setattr(corpus, "persist", _persist)
    return frames


@pytest.mark.parametrize("pairs", [[(1, 2), (2, 3), (3, 1), (3, 4)], []])
def test_pagerank_leaves_nothing_cached(spark, recorded, pairs):
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    ranks = graph.pagerank_fixedpoint(edges, iters=2)
    assert ranks.count() == len({n for p in pairs for n in p})
    assert len(recorded) == 2
    assert all(f.storageLevel == StorageLevel.NONE for f in recorded)


def test_connected_components_leaves_nothing_cached(spark, recorded):
    nodes = spark.range(1, 7).withColumnRenamed("id", "node_id")
    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    labels = corpus.connected_components(nodes, edges)
    got = {r.node_id: r.cluster_id for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}
    assert len(recorded) == 2
    assert all(f.storageLevel == StorageLevel.NONE for f in recorded)
