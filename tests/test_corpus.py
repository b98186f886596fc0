"""Unit tests for corpus-level training-data prep operators
(operators/corpus.py): connected components convergence, chunk
boundary arithmetic, deterministic sampling/shuffle invariants, and
the JSONL writer round-trip. The full-output oracle checks live in
the parity sweep (these pin edge cases the corpus data may not hit)."""

from __future__ import annotations

import json

from pyspark.sql import Row
from pyspark.sql import functions as F

from database_query_processor_spark.catalog import load_table
from database_query_processor_spark.operators import corpus as CP
from database_query_processor_spark.plans.inspect import explain_str

SF = "/root/testdata/sf0.001"


def test_connected_components_chain(spark):
    """A path graph 1-2-3-4-5 needs multiple propagation rounds; the
    fixpoint must label every node with the component min (1), and the
    isolated node 9 keeps its own label."""
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 9]], ["node_id"])
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["id_a", "id_b"]
    )
    got = {
        r["node_id"]: r["cluster_id"]
        for r in CP.connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 9: 9}


def test_connected_components_two_components(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["node_id"])
    edges = spark.createDataFrame([(2, 1), (5, 6), (4, 6)], ["id_a", "id_b"])
    got = {
        r["node_id"]: r["cluster_id"]
        for r in CP.connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4, 6: 4}


def test_chunk_boundaries(spark):
    """Empty doc -> one empty chunk; exactly chunk_size tokens -> one
    chunk; one token over -> two chunks with the stride overlap."""
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=""),
            Row(doc_id=2, text=" ".join(f"w{i}" for i in range(CP.CHUNK_SIZE))),
            Row(doc_id=3, text=" ".join(f"w{i}" for i in range(CP.CHUNK_SIZE + 1))),
        ]
    )
    out = CP.chunk_documents(docs, "doc_id", "text").collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == ""
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == CP.CHUNK_SIZE
    chunks3 = sorted(by_doc[3], key=lambda r: r["chunk_idx"])
    assert len(chunks3) == 2
    assert chunks3[0]["n_chunk_tokens"] == CP.CHUNK_SIZE
    # second chunk starts at token index stride (0-based)
    assert chunks3[1]["chunk_text"].split(" ")[0] == f"w{CP.CHUNK_STRIDE}"
    assert chunks3[1]["n_chunk_tokens"] == CP.CHUNK_SIZE + 1 - CP.CHUNK_STRIDE


def test_stratified_sample_deterministic(spark):
    df = spark.range(1000).select(F.col("id").alias("doc_id"), F.lit("x").alias("t"))
    stratum = F.when(F.col("doc_id") < 500, "a").otherwise("b")
    pick = lambda: sorted(  # noqa: E731
        r["doc_id"]
        for r in CP.stratified_sample(df, "doc_id", stratum, {"a": 10, "b": 50}).collect()
    )
    first = pick()
    assert first == pick(), "sampling must be reproducible run-to-run"
    a = sum(1 for i in first if i < 500)
    b = len(first) - a
    assert 20 <= a <= 90 and 180 <= b <= 320  # ~10% of 500 and ~50% of 500


def test_train_order_is_a_permutation(spark):
    n = 500
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    out = CP.train_order(df, "doc_id", num_partitions=8)
    rows = out.collect()
    assert sorted(r["pos"] for r in rows) == list(range(1, n + 1))
    # positions follow (shuffle_key, doc_id) order globally
    by_pos = sorted(rows, key=lambda r: r["pos"])
    keys = [(r["shuffle_key"], r["doc_id"]) for r in by_pos]
    assert keys == sorted(keys)
    # the output is not cached: a second action re-runs the plan above
    # the checkpointed pid stamp and must reproduce every position
    spark.catalog.clearCache()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, rows))


def test_decontaminate_broadcasts_bench_side(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=i, text="alpha beta gamma delta epsilon zeta") for i in range(20)]
    )
    df = CP.decontaminate(docs, "doc_id", "text", F.col("doc_id") == 0, n=5)
    assert "BroadcastHashJoin" in explain_str(df)
    got = {r["doc_id"]: r["contaminated"] for r in df.collect()}
    assert 0 not in got and all(got.values())  # all dups of the bench doc


def test_jsonl_roundtrip(spark, tmp_path):
    from database_query_processor_spark.sources.sink import write_jsonl

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text='say "hi"\tnow'),
            Row(doc_id=2, text="back\\slash\nnewline"),
        ]
    )
    lines = CP.to_jsonl(docs, "doc_id", "text")
    # every serialized line must be valid JSON preserving the text
    for r in lines.collect():
        obj = json.loads(r["json_line"])
        assert obj["doc_id"] == r["doc_id"]
    path = str(tmp_path / "shard")
    write_jsonl(lines, path)
    back = spark.read.json(path)
    assert back.count() == 2
    assert {r["text"] for r in back.collect()} == {
        'say "hi"\tnow',
        "back\\slash\nnewline",
    }


def test_connected_components_long_chain(spark):
    """Path graph of 24 hops: exercises many propagation rounds —
    the per-round localCheckpoint must keep the plan bounded instead
    of accreting 20+ join+agg layers of lineage, and the fixpoint
    still labels the whole chain with its min."""
    n = 25
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], ["node_id"])
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, n)], ["id_a", "id_b"]
    )
    labels = CP.connected_components(nodes, edges)
    got = {r["node_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == {i: 1 for i in range(1, n + 1)}
    # lineage is truncated: the returned plan is a checkpoint scan,
    # not a 20-round join tower
    assert "Scan ExistingRDD" in explain_str(labels)


def test_keep_best_handles_missing_scores(spark):
    """Members missing a score row still count toward n_docs and rank
    last; an entirely unscored cluster keeps one row (best_score
    NULL) instead of vanishing."""
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], ["node_id", "cluster_id"]
    )
    scores = spark.createDataFrame([(2, 0.5), (3, 0.9)], ["doc_id", "score"])
    got = {
        r["cluster_id"]: r
        for r in CP.keep_best_per_cluster(labels, scores).collect()
    }
    assert got[1]["keep_doc_id"] == 3 and got[1]["n_docs"] == 3
    assert got[1]["best_score"] == 0.9
    assert got[7]["keep_doc_id"] == 7 and got[7]["n_docs"] == 2
    assert got[7]["best_score"] is None


def test_partition_offsets_join_not_when_chain(spark):
    """train_order/pack_sequences must add partition offsets via a
    broadcast join against the tiny (pid, offset) frame — a chained
    CASE WHEN over num_partitions arms is O(P) expression depth and
    would not survive cluster partition counts."""
    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    plan = explain_str(CP.train_order(df, "doc_id", num_partitions=64))
    assert "BroadcastHashJoin" in plan
    assert plan.count("CASE WHEN") <= 2, "offset literal must not scale with P"

    toks = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 100 + 1).alias("n_tokens")
    )
    plan2 = explain_str(CP.pack_sequences(toks, "doc_id", "n_tokens", num_partitions=64))
    assert "BroadcastHashJoin" in plan2
    assert plan2.count("CASE WHEN") <= 2


def test_budget_select_boundary_and_order(spark):
    """Greedy fill semantics: docs rank by (score desc, id asc); the
    doc straddling the budget boundary is kept; everything after is
    cut. A budget covering everything keeps all rows."""
    rows = [(1, 10, 0.9), (2, 10, 0.8), (3, 10, 0.8), (4, 10, 0.1)]
    df = spark.createDataFrame(rows, "doc_id int, n_tok int, q double")
    got = {
        r["doc_id"]: r["start_offset"]
        for r in CP.budget_select(df, "doc_id", "n_tok", F.col("q"), budget=25).collect()
    }
    # 0.9 -> offset 0; tie at 0.8 breaks to id 2 then 3; 3 straddles 25
    assert got == {1: 0, 2: 10, 3: 20}
    all_kept = CP.budget_select(df, "doc_id", "n_tok", F.col("q"), budget=10**9)
    assert all_kept.count() == 4


def test_pagerank_star_graph_hub_dominates_and_mass_conserved(spark):
    """On a star graph the hub must outrank every leaf, leaves must
    tie exactly (fixed-point → EXACT equality, no float tolerance),
    and total mass must stay within iters×nodes floor-loss of the
    scale."""
    from database_query_processor_spark.operators.graph import (
        PR_SCALE,
        pagerank_fixedpoint,
    )

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 9)], "id_a long, id_b long"
    )
    ranks = {r.node_id: r.rank for r in pagerank_fixedpoint(edges).collect()}
    assert len(ranks) == 9
    leaf_ranks = {ranks[i] for i in range(1, 9)}
    assert len(leaf_ranks) == 1  # bit-exact tie
    assert ranks[0] > max(leaf_ranks)
    assert PR_SCALE >= sum(ranks.values()) > PR_SCALE - PR_SCALE // 10
    assert sum(ranks.values()) <= PR_SCALE


def test_jaccard_decontaminate_flags_paraphrase(spark):
    """A light edit of a benchmark doc (high 3-gram Jaccard, but NOT
    sharing any long verbatim run after the edit point) must be
    flagged; an unrelated doc must not; benchmark rows are excluded
    from the output."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.corpus import jaccard_decontaminate

    bench = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "the quick brown fox jumps over the lazy dog near the river shore"
    far = "completely different content about spark query engines and tests"
    df = spark.createDataFrame(
        [(0, bench), (1, near), (2, far)], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.contaminated, r.max_bench_jaccard)
        for r in jaccard_decontaminate(
            df, "doc_id", "text", F.col("doc_id") == 0, threshold=0.5
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[1][0] is True and out[1][1] > 0.5
    assert out[2] == (False, 0.0)


def test_substring_spans_maximal_and_min_length(spark):
    """x55 invariants on real data: every span is >= k tokens, starts
    at a positive position, and two spans of the same doc never touch
    or overlap (maximality: touching runs would have been one run)."""
    from database_query_processor_spark.operators.dedup import substring_dup_spans

    docs = load_table(spark, SF, "documents")
    spans = substring_dup_spans(docs, "doc_id", "text", k=8).collect()
    assert spans, "planted near-dups must produce at least one span"
    by_doc = {}
    for s in spans:
        assert s["span_tokens"] >= 8
        assert s["span_start"] >= 1
        by_doc.setdefault(s["doc_id"], []).append((s["span_start"], s["span_tokens"]))
    for doc, ss in by_doc.items():
        ss.sort()
        for (a, la), (b, _) in zip(ss, ss[1:]):
            # next span must start at least 2 past this span's last
            # covered START position (a+la-8); start+1 would have
            # chained into the same run
            assert b > a + la - 8 + 1, (doc, ss)


def test_containment_dominates_jaccard(spark):
    """x60 invariant: containment >= jaccard for every pair (min of
    the set sizes is never larger than the union), and every x04
    Jaccard pair at 0.5 also clears containment 0.5."""
    from database_query_processor_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, SF, "documents")
    cont = ngram_containment_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    assert cont
    for r in cont:
        assert r["containment"] >= r["jaccard"] - 1e-12
    jac = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    cpairs = {(r["id_a"], r["id_b"]) for r in cont}
    assert jac <= cpairs


def test_nb_classifier_split_and_pred_consistency(spark):
    """x57 invariants: scored docs are exactly the hash-gated 20%
    test split (with >= 1 token), and pred == (score > 0) row-wise."""
    from database_query_processor_spark.operators.retrieval import nb_classifier_scores
    from database_query_processor_spark.operators.corpus import HASH_MOD, HASH_MULT

    docs = load_table(spark, SF, "documents")
    got = nb_classifier_scores(docs, "doc_id", "text", F.col("lang") == "en").collect()
    assert got
    for r in got:
        assert (r["doc_id"] % HASH_MOD) * HASH_MULT % HASH_MOD % 100 >= 80
        assert r["pred"] == (r["score"] > 0)
