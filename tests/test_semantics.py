"""ANSI semantics this engine guarantees where the reference diverges
(SURVEY.md §2.2 fine print): null handling (the reference has no null
concept and would NPE, src/qp/utils/Tuple.java:37-43), theta joins
(the reference silently downgrades them to equi,
src/qp/operators/NestedJoin.java:139), cross products (the reference
silently DROPS un-joined tables,
src/qp/optimizer/RandomInitialPlan.java:93-102), and duplicate join
columns (src/qp/utils/Schema.java:83-90). These pin OUR documented
behavior, not the reference's bugs."""

from __future__ import annotations

from pyspark.sql import functions as F

from database_query_processor_spark.operators.relational import (
    cross_join,
    equi_join,
    theta_join,
)


def _lr(spark):
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "c")], "k int, lv string"
    )
    right = spark.createDataFrame(
        [(1, "x"), (None, "y"), (3, "z")], "k int, rv string"
    )
    return left, right


def test_inner_join_drops_null_keys(spark):
    left, right = _lr(spark)
    rows = left.join(right, "k").select("k", "lv", "rv").collect()
    assert [(r.k, r.lv, r.rv) for r in rows] == [(1, "a", "x")]


def test_outer_join_preserves_null_key_rows_unmatched(spark):
    left, right = _lr(spark)
    out = left.join(right, "k", "full").where(F.col("lv") == "c").collect()
    assert len(out) == 1 and out[0].rv is None  # null != null in join


def test_theta_join_is_real_not_silently_equi(spark):
    """col < col theta join — the reference would parse this and run
    equality instead."""
    a = spark.createDataFrame([(1,), (5,)], "x int")
    b = spark.createDataFrame([(3,), (4,)], "y int")
    got = sorted(
        (r.x, r.y)
        for r in theta_join(a, b, F.col("x") < F.col("y")).collect()
    )
    assert got == [(1, 3), (1, 4)]


def test_unjoined_tables_cross_product(spark):
    """Two FROM tables without a join condition → principled cartesian
    product (the reference silently loses one table)."""
    a = spark.createDataFrame([(1,), (2,)], "x int")
    b = spark.createDataFrame([(10,), (20,), (30,)], "y int")
    assert cross_join(a, b).count() == 6


def test_duplicate_join_columns_both_forms(spark):
    """Expression-condition join keeps both key copies (reference
    behavior, Schema.java:83-90); on=[names] form dedups."""
    left, right = _lr(spark)
    expr_form = equi_join(left, right, [("k", "k")])
    assert expr_form.columns.count("k") == 2
    named_form = left.join(right, ["k"])
    assert named_form.columns.count("k") == 1


def test_count_star_vs_count_col_on_nulls(spark):
    df = spark.createDataFrame([(1,), (None,), (3,)], "v int")
    row = df.agg(
        F.count("*").alias("n_star"), F.count("v").alias("n_v"),
        F.sum("v").alias("s"),
    ).first()
    assert row.n_star == 3 and row.n_v == 2 and row.s == 4


def test_empty_input_aggregates(spark):
    df = spark.createDataFrame([], "g string, v int")
    # global agg: exactly one row, count 0, sum NULL
    row = df.agg(F.count("*").alias("n"), F.sum("v").alias("s")).first()
    assert row.n == 0 and row.s is None
    # grouped agg: zero rows
    assert df.groupBy("g").agg(F.sum("v")).count() == 0


def test_interval_overlap_join_bin_boundaries(spark):
    """Binned overlap join must find pairs whose overlap straddles a
    bin boundary (and pairs wider than one bin), count a boundary
    TOUCH as overlap (closed intervals, overlap_us = 0), and never
    pair disjoint intervals that merely share a bin."""
    from datetime import datetime as dt

    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.temporal import interval_overlap_join

    left = spark.createDataFrame(
        [
            (1, dt(2020, 1, 1, 5), dt(2020, 1, 1, 7)),    # straddles 6h bin edge
            (2, dt(2020, 1, 1, 0), dt(2020, 1, 2, 0)),    # spans 5 bins
            (3, dt(2020, 1, 1, 1), dt(2020, 1, 1, 2)),    # disjoint from r20, same bin
        ],
        "lid int, s timestamp, e timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, dt(2020, 1, 1, 6, 30), dt(2020, 1, 1, 8)),   # overlaps l1 (past edge), l2
            (20, dt(2020, 1, 1, 3), dt(2020, 1, 1, 4)),       # same bin as l3, no overlap
            (30, dt(2020, 1, 1, 7), dt(2020, 1, 1, 9)),       # touches l1 at 07:00 exactly
        ],
        "rid int, rs timestamp, re timestamp",
    )
    out = {
        (r.lid, r.rid): r.overlap_us
        for r in interval_overlap_join(
            left, right, ("s", "e"), ("rs", "re"), bin_hours=6,
            dedup_cols=["lid", "rid"],
        ).collect()
    }
    assert set(out) == {(1, 10), (2, 10), (2, 20), (2, 30), (1, 30)}
    assert out[(1, 10)] == 30 * 60 * 1_000_000  # 06:30-07:00
    assert out[(1, 30)] == 0  # boundary touch counts, zero width
    assert out[(2, 20)] == 60 * 60 * 1_000_000


def test_merge_into_four_quadrants(spark):
    """merge_into must hit all four MERGE outcomes on one tiny table:
    matched-update, matched-delete, target-only untouched,
    source-only inserted."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.relational import merge_into

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, v string, amt double",
    )
    source = spark.createDataFrame(
        [(1, "a2", 11.0, False), (2, "b", 20.0, True), (9, "new", 90.0, False)],
        "k long, v string, amt double, is_delete boolean",
    )
    out = {
        r.k: (r.v, r.amt)
        for r in merge_into(
            target, source, "k",
            matched_update={"v": F.col("s.v"), "amt": F.col("s.amt")},
            matched_delete=F.col("s.is_delete"),
        ).collect()
    }
    assert out == {1: ("a2", 11.0), 3: ("c", 30.0), 9: ("new", 90.0)}
    # insert_when_missing=False drops the source-only row instead
    no_ins = merge_into(
        target, source, "k",
        matched_update={"v": F.col("s.v")},
        matched_delete=F.col("s.is_delete"),
        insert_when_missing=False,
    )
    assert {r.k for r in no_ins.collect()} == {1, 3}


def test_sequence_pattern_strict_contiguity(spark):
    """Pattern detection must reject interrupted sequences, find
    overlapping matches independently, and respect per-key isolation."""
    from datetime import datetime as dt

    from database_query_processor_spark.operators.temporal import sequence_pattern

    rows = [
        # user 1: A B C (match), then A X B C (interrupted -> no match)
        (1, 1, dt(2020, 1, 1, 0), "A"), (2, 1, dt(2020, 1, 1, 1), "B"),
        (3, 1, dt(2020, 1, 1, 2), "C"), (4, 1, dt(2020, 1, 1, 3), "A"),
        (5, 1, dt(2020, 1, 1, 4), "X"), (6, 1, dt(2020, 1, 1, 5), "B"),
        (7, 1, dt(2020, 1, 1, 6), "C"),
        # user 2: A A B C -> one match starting at the SECOND A
        (8, 2, dt(2020, 1, 1, 0), "A"), (9, 2, dt(2020, 1, 1, 1), "A"),
        (10, 2, dt(2020, 1, 1, 2), "B"), (11, 2, dt(2020, 1, 1, 3), "C"),
        # user 3: B C split across users with user 1's A -> no match
        (12, 3, dt(2020, 1, 1, 1), "B"), (13, 3, dt(2020, 1, 1, 2), "C"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, t string")
    out = sequence_pattern(df, "user_id", "ts", "t", ["A", "B", "C"], id_col="event_id")
    got = {(r.user_id, r.start_event_id) for r in out.collect()}
    assert got == {(1, 1), (2, 9)}


def test_ewma_recurrence_exact(spark):
    """EWMA fold must equal the hand-unrolled recurrence s_i =
    0.9*s_{i-1} + 0.1*x_i with s_1 = x_1, visiting samples in
    (ts, id) order regardless of input order."""
    from datetime import datetime as dt

    from database_query_processor_spark.operators.temporal import ewma

    rows = [  # deliberately out of order; ts tie broken by event_id
        (3, 1, dt(2020, 1, 1, 2), 30.0),
        (1, 1, dt(2020, 1, 1, 0), 10.0),
        (2, 1, dt(2020, 1, 1, 1), 20.0),
        (5, 2, dt(2020, 1, 1, 0), 7.0),
        (4, 2, dt(2020, 1, 1, 0), 5.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    out = {r.user_id: (r.n_samples, r.ewma) for r in
           ewma(df, "user_id", "ts", "value", 0.1, id_col="event_id").collect()}
    s = 10.0
    s = s * (1.0 - 0.1) + 0.1 * 20.0
    s = s * (1.0 - 0.1) + 0.1 * 30.0
    assert out[1] == (3, s)
    assert out[2] == (2, 5.0 * (1.0 - 0.1) + 0.1 * 7.0)


def test_rolling_zscore_flags_planted_outlier(spark):
    """A constant-ish series with one planted spike must flag exactly
    the spike, only once the window is full, with the documented
    (mean, std, z) math."""
    from datetime import datetime as dt

    from database_query_processor_spark.operators.temporal import rolling_zscore

    rows = []
    for i in range(12):
        # alternate 10/12 so the trailing std is non-zero
        rows.append((i, 1, dt(2020, 1, 1, 0, i), 10.0 + 2.0 * (i % 2)))
    rows.append((12, 1, dt(2020, 1, 1, 0, 12), 100.0))  # spike
    for i in range(13, 20):
        rows.append((i, 1, dt(2020, 1, 1, 0, i), 10.0 + 2.0 * (i % 2)))
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    out = rolling_zscore(df, "user_id", "ts", "value", n_window=5,
                         z_thresh=1.5, id_col="event_id").collect()
    flagged = {r.event_id for r in out}
    assert 12 in flagged  # the spike is caught
    assert all(r.event_id >= 4 for r in out)  # nothing before the window fills
    spike = next(r for r in out if r.event_id == 12)
    assert spike.z > 1.5 and abs(spike.value - 100.0) < 1e-9


def test_triangle_count_hand_graph(spark):
    """K4 plus a pendant vertex: 4 triangles, wedges = sum C(deg,2)
    = 3*C(3,2) + C(4,2) = 15, clustering = 12/15. Duplicate and
    reversed edges must not change the counts."""
    from database_query_processor_spark.operators.graph import triangle_count

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    edges = k4 + [(2, 1), (3, 1), (1, 2)]  # noise: reversed + dup
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    r = triangle_count(df).collect()[0]
    assert (r.n_nodes, r.n_edges, r.n_wedges, r.n_triangles) == (5, 7, 15, 4)
    assert abs(r.global_clustering - 12.0 / 15.0) < 1e-12


def test_detect_gaps_first_sample_and_threshold(spark):
    """The first sample of a key opens no gap; gaps strictly over the
    threshold are reported with exact microsecond spans; keys are
    isolated."""
    from datetime import datetime as dt

    from database_query_processor_spark.operators.temporal import detect_gaps

    rows = [
        (1, 1, dt(2020, 1, 1, 0, 0, 0)),
        (2, 1, dt(2020, 1, 1, 0, 0, 10)),   # 10s gap -> reported
        (3, 1, dt(2020, 1, 1, 0, 0, 15)),   # 5s gap -> exactly threshold, NOT reported
        (4, 2, dt(2020, 1, 2, 0, 0, 0)),    # other key's first sample: no cross-key gap
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = detect_gaps(df, "user_id", "ts", min_gap_us=5_000_000, id_col="event_id").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.user_id, r.gap_us) == (1, 10_000_000)
    assert r.gap_start == dt(2020, 1, 1, 0, 0, 0) and r.gap_end == dt(2020, 1, 1, 0, 0, 10)


def test_token_drift_ranks_planted_token_first(spark):
    """A token frequent in slice A and absent in B must top the KL
    contributions; a token with identical counts contributes ~0."""
    from database_query_processor_spark.operators.corpus import token_drift

    rows = [(i, "spark " * 5 + "common text here", "a") for i in range(5)]
    rows += [(10 + i, "filler " * 5 + "common text here", "b") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = token_drift(df, "text", "source", "a", "b", k=5).collect()
    assert out[0].token == "spark" and out[0].count_b == 0
    balanced = {r.token: r.drift_contrib for r in out}
    for tok in ("common", "text", "here"):
        if tok in balanced:
            assert abs(balanced[tok]) < 0.01


def test_refresh_grouped_agg_delta_algebra(spark):
    """IVM refresh must equal a full recompute: updates migrate
    groups, deletes retract (a group emptied by deletes disappears),
    inserts assert new groups."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.relational import (
        merge_into,
        refresh_grouped_agg,
    )

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "k long, g string, v double",
    )
    # 1: a->b migration, 3: delete (empties... no, b gains 1), 4: delete (c empties), 5: insert d
    log = spark.createDataFrame(
        [(1, "b", 11.0, False), (4, "c", 40.0, True), (5, "d", 50.0, False)],
        "k long, g string, v double, is_delete boolean",
    )
    dec_v = F.col("v").cast("decimal(13,3)")
    mv = target.groupBy("g").agg(F.count("*").alias("n"), F.sum(dec_v).alias("s"))
    got = refresh_grouped_agg(
        mv, target, log, key="k", group_col="g", cnt_col="n", sum_col="s", val=dec_v
    )
    merged = merge_into(
        target, log, key="k",
        matched_update={"g": F.col("s.g"), "v": F.col("s.v")},
        matched_delete=F.col("s.is_delete"),
    )
    want = merged.groupBy("g").agg(F.count("*").alias("n"), F.sum(dec_v).alias("s"))
    g = {r.g: (r.n, float(r.s)) for r in got.collect()}
    w = {r.g: (r.n, float(r.s)) for r in want.collect()}
    assert g == w
    assert "c" not in g  # fully-deleted group disappears
    assert g["b"] == (2, 41.0) and g["d"] == (1, 50.0)


def test_bpe_merges_hand_corpus(spark):
    """x58 semantics pinned on the classic BPE example: corpus where
    'lo' dominates. 'low' x3 + 'lower' x2 + 'lowest' + 'slow':
    pair (l,o) has weighted count 7 and wins round 1; round 2 then
    sees ('lo','w') with count 7. Also pins tie-breaks
    (lexicographic) implicitly via deterministic counts. Six rounds
    chain as one lazy DAG and yield six merges; rounds 5-6 break
    count-1 ties lexicographically."""
    from database_query_processor_spark.operators.tokenizer import bpe_learn_merges

    docs = spark.createDataFrame(
        [(1, "low low low lower lower lowest slow")], ["doc_id", "text"]
    )
    rows = {r["round"]: r for r in bpe_learn_merges(docs, "text", rounds=6).collect()}
    assert [rows[r]["merged"] for r in sorted(rows)] == [
        "lo", "low", "lowe", "lower", "lowes", "lowest"
    ]
    assert rows[1]["merged"] == "lo" and rows[1]["pair_count"] == 7
    assert rows[2]["lsym"] == "lo" and rows[2]["rsym"] == "w"
    assert rows[2]["merged"] == "low" and rows[2]["pair_count"] == 7


def test_bpe_merge_overlapping_pairs_leftmost(spark):
    """The greedy-apply step must merge leftmost-first on overlapping
    candidates: 'aaa' under merge (a,a) becomes [aa, a] — never
    [a, aa] and never a double-merge. Checked through a full learn
    round on a corpus where (a,a) wins."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.tokenizer import _merge_pair

    df = spark.createDataFrame([(["a", "a", "a"],), (["b", "a", "a", "b"],)], ["syms"])
    got = df.select(
        _merge_pair(F.col("syms"), F.lit("a"), F.lit("a")).alias("m")
    ).collect()
    assert got[0]["m"] == ["aa", "a"]
    assert got[1]["m"] == ["b", "aa", "b"]


def test_nearest_asof_tie_tolerance_and_directions(spark):
    """t17 semantics pinned by hand: backward match when nearer,
    forward when nearer, backward preferred on an exact distance tie,
    equal-timestamp right is a distance-0 backward match, and a left
    row with no right row within tolerance drops out."""
    import datetime as dt

    from database_query_processor_spark.operators.temporal import nearest_asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, 10, T(30)),   # clicks at 20 & 50: back d=10 < fwd d=20 -> 20
         (2, 10, T(48)),   # back d=28, fwd d=2 -> 50
         (3, 10, T(35)),   # back 20 d=15, fwd 50 d=15: TIE -> earlier (20)
         (4, 20, T(10)),   # right at T(10): distance 0 backward
         (5, 30, T(10))],  # right at T(59): d=49s > 20s tolerance -> dropped
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [(10, T(20), 100), (10, T(50), 101), (20, T(10), 102), (30, T(59), 103)],
        ["user_id", "ts", "click_id"],
    )
    got = {
        r["event_id"]: (r["matched_val"], r["dist_us"])
        for r in nearest_asof_join(
            left, right, key="user_id", left_ts="ts", right_ts="ts",
            right_val="click_id", tolerance_us=20_000_000,
        ).collect()
    }
    assert got[1] == (100, 10_000_000)
    assert got[2] == (101, 2_000_000)
    assert got[3] == (100, 15_000_000)  # tie -> backward
    assert got[4] == (102, 0)
    assert 5 not in got


def test_quality_score_zero_token_doc_is_zero_not_null(spark):
    """Punctuation-only text has length > 0 but zero tokens; the
    stopword ratio's guarded denominator must yield quality 0.0 (the
    oracles' greatest(len(toks), 1) contract), never NULL."""
    from database_query_processor_spark.functions.text import quality_score

    from pyspark.sql import functions as F

    got = (
        spark.createDataFrame([("!!! ...",), ("the cat sat",)], ["text"])
        .select(quality_score("text").alias("q"))
        .collect()
    )
    assert got[0]["q"] == 0.0
    assert got[1]["q"] is not None and got[1]["q"] > 0


def test_asof_joins_never_match_null_keys(spark):
    """Equi-join semantics: a NULL-key left row matches nothing in
    either as-of variant (window partitioning would otherwise group
    the NULL rows together and 'match' them). as_of_join keeps the
    unmatched left row with NULL matched_val (left-join contract);
    nearest_asof_join drops it (inner-tolerance contract: ALL
    unmatched rows drop)."""
    import datetime as dt

    from database_query_processor_spark.operators.temporal import (
        as_of_join,
        nearest_asof_join,
    )

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, None, T(30)), (2, 7, T(30))], "lid INT, k INT, ts TIMESTAMP"
    )
    right = spark.createDataFrame(
        [(None, T(20), 100), (7, T(20), 101)], "k INT, ts TIMESTAMP, rid INT"
    )
    a = as_of_join(left, right, key="k", left_ts="ts", right_ts="ts", right_val="rid")
    got_a = {r["lid"]: r["matched_val"] for r in a.collect()}
    assert got_a == {1: None, 2: 101}
    n = nearest_asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts", right_val="rid",
        tolerance_us=60_000_000,
    )
    got_n = {r["lid"]: r["matched_val"] for r in n.collect()}
    assert got_n == {2: 101}


def test_value_bars_boundary_assignment(spark):
    """t18 semantics by hand: values [4, 4, 4, 6, 10, 1] with
    threshold 10 — cumulative-before values [0,4,8,12,18,28] put
    events in bars [0,0,0,1,1,2]: an event STRADDLING the boundary
    stays in the bar its first unit lands in; an event starting
    exactly ON a boundary (cum_before=28 would be bar 2 with thr 10
    ... 28//10=2) opens the next bar."""
    import datetime as dt

    from database_query_processor_spark.operators.temporal import value_bars

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    df = spark.createDataFrame(
        [(i, T(i), float(v)) for i, v in enumerate([4, 4, 4, 6, 10, 1])],
        "event_id INT, ts TIMESTAMP, value DOUBLE",
    )
    bars = {
        r["bar_id"]: (r["n_events"], r["bar_value_us"])
        for r in value_bars(
            df, "ts", "event_id", "value", threshold_us=10_000_000
        ).collect()
    }
    assert bars == {
        0: (3, 12_000_000),
        1: (2, 16_000_000),
        2: (1, 1_000_000),
    }


def test_hard_negatives_exclude_near_dups(spark):
    """x62 semantics: the highest-BM25 candidate is a verbatim
    near-dup of the query doc — it must be screened out, and the
    returned negatives must be (a) non-query docs, (b) ranked 1..k
    by rounded score."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.retrieval import bm25_hard_negatives

    q = "zebra quokka lantern harvest moonlight sonata quartz"
    docs = spark.createDataFrame(
        [
            (0, q),                                     # the query (cond: id == 0)
            (1, q + " extra"),                          # near-dup: BM25-top but unsafe
            (2, "zebra quokka lantern in the field"),   # hard negative
            (3, "harvest moonlight over the quartz"),   # hard negative
            (4, "completely unrelated text about cats"),
        ],
        ["doc_id", "text"],
    )
    got = bm25_hard_negatives(
        docs, "doc_id", "text", F.col("doc_id") == 0, k=2
    ).collect()
    neg_ids = {r["neg_id"] for r in got}
    assert 1 not in neg_ids  # near-dup screened
    assert 0 not in neg_ids  # query never its own negative
    assert neg_ids <= {2, 3, 4} and len(got) == 2
    ranks = sorted(r["rank"] for r in got)
    assert ranks == [1, 2]


def test_hard_negatives_pool_is_retrieve_then_filter(spark):
    """x62 r8 pool semantics: candidates are the top POOL_M by BM25
    and the dup screen filters WITHIN that pool — a query whose
    entire pool is contaminated honestly yields fewer than k
    negatives (everything lexically close was a dup), it does not
    back-fill from rank pool_m+1. Also pins the quantized-score
    contract: score is an exact multiple of 1e-9."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.retrieval import bm25_hard_negatives

    q = "zebra quokka lantern harvest moonlight sonata quartz"
    docs = spark.createDataFrame(
        [(0, q)]
        # pool_m=2: both pool slots are near-dups -> screened out
        + [(1, q + " alpha"), (2, q + " beta")]
        # lexically related but outside the size-2 pool
        + [(3, "zebra quokka in the field today")],
        ["doc_id", "text"],
    )
    got = bm25_hard_negatives(
        docs, "doc_id", "text", F.col("doc_id") == 0, k=2, pool_m=2
    ).collect()
    assert got == []  # whole pool contaminated -> no negatives

    # with a wide pool the survivor ranks re-pack to 1..k
    wide = bm25_hard_negatives(
        docs, "doc_id", "text", F.col("doc_id") == 0, k=2, pool_m=10
    ).collect()
    assert [r["neg_id"] for r in wide] == [3]
    assert wide[0]["rank"] == 1
    assert abs(wide[0]["score"] * 1e9 - round(wide[0]["score"] * 1e9)) < 1e-3


def test_merge_and_refresh_treat_null_delete_flag_as_not_delete(spark):
    """Malformed changelogs with a NULL delete flag: three-valued
    logic must not silently turn NULL into a delete. merge_into keeps
    (and updates) the matched row; merge_into's insert_condition gate
    treats NULL as not-insertable only when the condition itself is
    NULL; refresh_grouped_agg must assert the row's new value, not
    just retract the old one."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.relational import (
        merge_into,
        refresh_grouped_agg,
    )

    target = spark.createDataFrame(
        [(1, "g1", 10.0), (2, "g1", 20.0)], "k long, g string, v double"
    )
    # NULL flag on an update of key 1; real delete of key 2
    changelog = spark.createDataFrame(
        [(1, "g1", 11.0, None), (2, "g1", 20.0, True)],
        "k long, g string, v double, is_delete boolean",
    )
    merged = merge_into(
        target, changelog, "k",
        matched_update={"g": F.col("s.g"), "v": F.col("s.v")},
        matched_delete=F.col("s.is_delete"),
    )
    assert {(r.k, r.v) for r in merged.collect()} == {(1, 11.0)}

    mv = spark.createDataFrame([("g1", 2, 30.0)], "g string, cnt long, total double")
    refreshed = refresh_grouped_agg(
        mv, target, changelog, key="k", group_col="g",
        cnt_col="cnt", sum_col="total", val=F.col("v"),
    )
    # key 1: retract 10, assert 11 (NULL flag != delete); key 2: retract 20
    assert [(r.g, r.cnt, r.total) for r in refreshed.collect()] == [("g1", 1, 11.0)]


def test_merge_into_insert_condition_gates_source_only_rows(spark):
    """WHEN NOT MATCHED AND <cond> THEN INSERT: source-only rows
    failing the condition (or with a NULL condition) are dropped;
    matched rows are unaffected by the gate."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.relational import merge_into

    target = spark.createDataFrame([(1, "a")], "k long, v string")
    source = spark.createDataFrame(
        [(1, "a2", False), (8, "ins", False), (9, "ghost", True), (10, "nul", None)],
        "k long, v string, is_delete boolean",
    )
    out = merge_into(
        target, source, "k",
        matched_update={"v": F.col("s.v")},
        matched_delete=F.col("s.is_delete"),
        insert_condition=~F.coalesce(F.col("s.is_delete"), F.lit(False)),
    )
    got = {(r.k, r.v) for r in out.collect()}
    assert got == {(1, "a2"), (8, "ins"), (10, "nul")}  # 9's tombstone not resurrected


def test_global_clustering_null_on_wedgeless_graph(spark):
    """Zero-wedge graphs (no node with degree >= 2): the clustering
    coefficient is NULL in BOTH engines, not NaN/div-by-zero."""
    import duckdb

    from database_query_processor_spark.operators.graph import (
        sql_triangle_count,
        triangle_count,
    )

    edges = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    row = triangle_count(edges).collect()[0]
    assert row.n_wedges == 0 and row.global_clustering is None

    con = duckdb.connect()
    con.execute("CREATE TABLE edges_t (id_a BIGINT, id_b BIGINT)")
    con.execute("INSERT INTO edges_t VALUES (1, 2), (3, 4)")
    orc = con.execute(
        sql_triangle_count("SELECT id_a, id_b FROM edges_t")
    ).fetchone()
    # same column order: ..., n_wedges, n_triangles, global_clustering
    assert orc[2] == 0 and orc[4] is None


def test_merge_into_null_key_rows_keep_sql_merge_semantics(spark):
    """NULL-key rows classify by PRESENCE, not key nullability: a
    NULL-key ON predicate is never true, so a NULL-key source row is
    NOT MATCHED (inserted, unless the insert gate drops it) and a
    NULL-key target row is kept verbatim — neither may collapse into
    an all-NULL output row (the t_only-by-s.key-IS-NULL bug)."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.relational import merge_into

    target = spark.createDataFrame(
        [(1, "a"), (None, "tnull")], "k long, v string"
    )
    source = spark.createDataFrame(
        [(1, "a2", False), (None, "ghost", True), (None, "snull", False)],
        "k long, v string, is_delete boolean",
    )
    out = merge_into(
        target, source, "k",
        matched_update={"v": F.col("s.v")},
        matched_delete=F.col("s.is_delete"),
        insert_condition=~F.coalesce(F.col("s.is_delete"), F.lit(False)),
    )
    got = sorted([(r.k, r.v) for r in out.collect()], key=str)
    # NULL-key target row survives untouched; NULL-key tombstone is a
    # no-op; NULL-key non-delete source row inserts (SQL MERGE: NOT
    # MATCHED); crucially no (None, None) row exists.
    assert got == sorted([(1, "a2"), (None, "tnull"), (None, "snull")], key=str)

    # insert_when_missing=False must keep the NULL-key TARGET row
    # (the old key-IS-NOT-NULL output filter dropped it)
    no_ins = merge_into(
        target, source, "k",
        matched_update={"v": F.col("s.v")},
        insert_when_missing=False,
    )
    got2 = sorted([(r.k, r.v) for r in no_ins.collect()], key=str)
    assert got2 == sorted([(1, "a2"), (None, "tnull")], key=str)


def test_ohlc_id_contract_and_ts_tie_determinism(spark):
    """t07's open/close ride min_by/max_by over the packed decimal
    (ts, id) key. The id contract (integral, row-unique) is what makes
    ties impossible: (a) timestamp ties between DISTINCT ids must
    break by id deterministically, (b) a non-integral id must be
    rejected loudly at the API boundary (arithmetic packing would
    silently reorder a string id), (c) duplicate (ts, id) rows —
    a contract violation — still aggregate high/low/n correctly and
    pick open/close from within the duplicate set."""
    import pytest as _pytest

    from database_query_processor_spark.operators.temporal import ohlc_bars

    ts = "2024-01-01 00:10:00"
    rows = [("k", ts, 5.0, 2), ("k", ts, 1.0, 1), ("k", ts, 3.0, 7)]
    df = spark.createDataFrame(rows, "key string, ts string, v double, id int")
    out = ohlc_bars(df, "key", "ts", "v", "id").collect()
    assert len(out) == 1
    r = out[0]
    # same ts everywhere: open = value at min id (1), close = at max id (7)
    assert (r.open, r.high, r.low, r.close, r.n) == (1.0, 5.0, 1.0, 3.0, 3)

    with _pytest.raises(TypeError, match="integral row id"):
        ohlc_bars(
            df.withColumn("id", F.col("id").cast("string")),
            "key", "ts", "v", "id",
        )

    # duplicate (ts, id) with EQUAL values: result well-defined even
    # though the pair violates the row-uniqueness contract
    dup = spark.createDataFrame(
        [("k", ts, 2.0, 1), ("k", ts, 2.0, 1), ("k", ts, 9.0, 3)],
        "key string, ts string, v double, id int",
    )
    rd = ohlc_bars(dup, "key", "ts", "v", "id").collect()[0]
    assert (rd.open, rd.high, rd.low, rd.close, rd.n) == (2.0, 9.0, 2.0, 9.0, 3)
