"""salted_join: result-equivalence with the plain join under heavy
key skew, and the fan-out property that makes it work.

(AQE's automatic skew split is asserted on in session config; this is
the manual fallback for pathological keys — see SCALE.md 'Known
cliffs'.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from database_query_processor_spark.operators.relational import salted_join


def _skewed(spark):
    # 10k rows, 90% on key 0 — the classic hot-key shape.
    left = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(50).select(
        F.col("id").alias("k"), F.concat(F.lit("dim_"), F.col("id")).alias("name")
    )
    return left, right


def test_salted_join_matches_plain_inner(spark):
    left, right = _skewed(spark)
    plain = left.join(right, ["k"], "inner")
    salted = salted_join(left, right, ["k"], num_salts=8)
    assert salted.columns == plain.columns
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_join_matches_plain_left(spark):
    left, right = _skewed(spark)
    plain = left.join(right, ["k"], "left")
    salted = salted_join(left, right, ["k"], num_salts=4, how="left")
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salt_fans_out_hot_key(spark):
    """The hot key's rows must actually spread across salts —
    otherwise the helper is a no-op."""
    left, _ = _skewed(spark)
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8))
    n_salts = left.withColumn("s", salt).filter("k = 0").select("s").distinct().count()
    assert n_salts == 8


def _boilerplate_corpus(spark, n_docs=400):
    """Every doc shares one boilerplate sentence (a stop-shingle hot
    key: df = n_docs) plus unique filler; docs 0 and 1 are verbatim
    duplicates of each other."""
    boiler = "subscribe to our newsletter for updates today"
    rows = []
    for i in range(n_docs):
        uniq = f"doc {i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}"
        rows.append((i, f"{boiler} {uniq}" if i > 1 else f"{boiler} shared dup body text here"))
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_simhash_variants_agree_on_exact_dups(spark):
    """Both SimHash forms (xxhash64-64 production, md5-60 oracle
    parity) must report verbatim duplicates at hamming 0, and not pair
    unrelated docs at this similarity level."""
    from database_query_processor_spark.operators.dedup import simhash_dedup_pairs

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely different content about database query engines"),
        (4, "another unrelated snippet mentioning vectors and columns"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    for hash_fn in ("xxhash64", "md5"):
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_dedup_pairs(docs, "doc_id", "text", hash_fn=hash_fn).collect()
        }
        assert pairs.get((1, 2)) == 0, (hash_fn, pairs)
        assert all(p == (1, 2) for p in pairs), (hash_fn, pairs)


def test_ngram_df_cap_bounds_stop_shingle_bucket(spark):
    """x04 skew guard: with a planted stop-shingle in all 400 docs, the
    capped inverted index must drop it — candidate space stays
    output-sensitive instead of 400²/2 pairs — while a genuine
    duplicate pair (unique shingles, df=2 ≤ cap) is still found with
    its exact Jaccard."""
    from database_query_processor_spark.operators.dedup import ngram_jaccard_pairs

    docs = _boilerplate_corpus(spark)
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", df_cap=10).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found, pairs
    # the duplicate pair's capped shingle sets are identical (their
    # unique shingles all have df=2 ≤ cap), so stopword-filtered
    # jaccard is exactly 1
    dup = next(r for r in pairs if (r.id_a, r.id_b) == (0, 1))
    assert dup.jaccard == 1.0
    # no pair should arise from boilerplate-only similarity
    assert all((a, b) == (0, 1) for a, b in found), found


def test_editdistance_pairs_planted_template_edits(spark):
    """Prefix-blocked Levenshtein finds template-edit duplicates (same
    page, one field changed past the blocking prefix) and never pairs
    unrelated docs."""
    from database_query_processor_spark.operators.dedup import editdistance_pairs

    page = "invoice for customer alpha number {} total due fifty units net thirty"
    docs = spark.createDataFrame(
        [
            (0, page.format("101")),
            (1, page.format("202")),          # 2 chars differ past the prefix
            (2, page.format("101") + " paid"),  # 5-char suffix append
            (3, "completely different content that shares no prefix at all"),
        ],
        "doc_id int, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.dist
        for r in editdistance_pairs(docs, "doc_id", "text").collect()
    }
    assert pairs[(0, 1)] == 2
    assert pairs[(0, 2)] == 5
    assert all(3 not in p for p in pairs)


def test_substring_spans_verbatim_dup_flood(spark):
    """x55 under the worst skew: 60 verbatim copies of one document
    make every gram's global count 60 (one fat partition per gram in
    the COUNT window). The operator must complete and report each
    copy's full token range as ONE maximal span."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.dedup import substring_dup_spans

    text = " ".join(f"tok{i}" for i in range(40))
    docs = spark.range(60).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    spans = substring_dup_spans(docs, "doc_id", "text", k=8).collect()
    assert len(spans) == 60
    assert all(s["span_start"] == 1 and s["span_tokens"] == 40 for s in spans)


def test_lsh_bucket_cap_bounds_identical_doc_flood(spark):
    """Planted mega-bucket: N identical docs collide into ONE
    (band, key) bucket in EVERY band. Uncapped all-pairs would emit
    N·(N-1)/2 candidates; the bucket cap pairs each doc with its next
    `cap` neighbors only, so the candidate count stays O(N·cap) while
    connected-components dedup still sees one component (the sorted
    chain keeps every duplicate reachable from the keeper)."""
    from database_query_processor_spark.operators.corpus import (
        connected_components,
    )
    from database_query_processor_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signature,
    )

    n, cap = 40, 5
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    cands = lsh_candidate_pairs(
        minhash_signature(df, "doc_id", "text"), bucket_cap=cap
    )
    got = cands.collect()
    # chain shape: doc i pairs with exactly min(cap, n-1-i) successors
    assert len(got) == sum(min(cap, n - 1 - i) for i in range(n))  # 185 << 780
    assert all(r.id_a < r.id_b and r.id_b - r.id_a <= cap for r in got)

    # the verified pipeline keeps the flood ONE component under the cap
    pairs = minhash_dedup_pairs(df, "doc_id", "text").select("id_a", "id_b")
    labels = connected_components(df.select("doc_id"), pairs)
    assert labels.select("cluster_id").distinct().count() == 1


def test_lsh_bucket_cap_is_all_pairs_below_cap(spark):
    """For buckets of ≤ cap+1 docs (every real bucket at the test
    scales: measured max 4 at sf0.1) the capped pairing IS the
    all-pairs set — x02's output is unchanged by the cap."""
    from database_query_processor_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    text = "pack my box with five dozen liquor jugs before noon today ok"
    df = spark.createDataFrame(
        [(i, text) for i in range(4)] + [(99, "completely different words entirely")],
        "doc_id long, text string",
    )
    got = sorted(
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            minhash_signature(df, "doc_id", "text"), bucket_cap=50
        ).collect()
    )
    assert got == [(a, b) for a in range(4) for b in range(a + 1, 4)]


def test_simhash_bucket_cap_bounds_identical_doc_flood(spark):
    """Planted simhash mega-bucket: N verbatim-identical docs share
    ONE signature, so every band puts all N into the SAME
    (band, bits) bucket — the templated-crawl hot-bucket shape.
    The production DEFAULT must emit the O(N·cap) sorted chain, not
    the O(N²) all-pairs set, while connected-components dedup still
    collapses the flood into one cluster; bucket_cap=None (the x03
    oracle-parity test-scale form) is exhaustive on the same input."""
    from database_query_processor_spark.operators.corpus import (
        connected_components,
    )
    from database_query_processor_spark.operators.dedup import (
        simhash_dedup_pairs,
    )

    n, cap = 40, 5
    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(i, text) for i in range(n)], "doc_id long, text string"
    )
    got = simhash_dedup_pairs(df, "doc_id", "text", bucket_cap=cap).collect()
    # chain shape: doc i pairs with exactly min(cap, n-1-i) successors,
    # all at hamming 0 — NOT the 780-pair quadratic set
    assert len(got) == sum(min(cap, n - 1 - i) for i in range(n))  # 185 << 780
    assert all(
        r.id_a < r.id_b and r.id_b - r.id_a <= cap and r.hamming == 0 for r in got
    )

    # the capped chain keeps the flood ONE component
    labels = connected_components(
        df.select("doc_id"),
        simhash_dedup_pairs(df, "doc_id", "text", bucket_cap=cap).select(
            "id_a", "id_b"
        ),
    )
    assert labels.select("cluster_id").distinct().count() == 1

    # uncapped = exact all-pairs (the oracle-parity contract)
    exact = simhash_dedup_pairs(df, "doc_id", "text", bucket_cap=None).collect()
    assert len(exact) == n * (n - 1) // 2


def test_simhash_default_cap_is_all_pairs_below_cap(spark):
    """Real sf0.01-scale buckets sit far under SIMHASH_BUCKET_CAP, so
    the scale-safe default is EXACTLY the all-pairs output there —
    capping only engages on hot buckets."""
    from database_query_processor_spark.operators.dedup import (
        SIMHASH_BUCKET_CAP,
        simhash_dedup_pairs,
    )

    rows = [(i, "pack my box with five dozen liquor jugs today") for i in range(4)]
    rows.append((99, "completely different words entirely about engines"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    assert SIMHASH_BUCKET_CAP >= 4
    got = sorted(
        (r.id_a, r.id_b) for r in simhash_dedup_pairs(df, "doc_id", "text").collect()
    )
    assert got == [(a, b) for a in range(4) for b in range(a + 1, 4)]


def test_bucket_pairs_capped_path_never_materializes_bucket_rows(spark):
    """The r8 mega-bucket bound: the CAPPED _bucket_pairs path must
    never hold a bucket as one collect_list aggregation-buffer row
    (16 B/doc was survivable at 1M docs but a 100M-doc degenerate
    bucket would blow Spark's 2 GB single-row limit). The capped plan
    routes buckets through WindowExec's spillable row buffer instead:
    one collect_list over the bounded row frame (1, cap) gives each
    doc its next <=cap successors; singleton buckets emit empty
    frames. Pinned two ways: plan-level (collect_list appears only as
    a bounded-frame window function, never as an aggregate over the
    bucket keys) and execution-level (a
    5000-doc planted flood — 125x the cap, far beyond anything the
    small flood tests exercise — yields the exact O(N*cap) chain
    count). The UNCAPPED path (oracle-parity, test scales only) is
    the same window path with an unbounded frame."""
    from database_query_processor_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    n, cap = 5000, 40
    text = "sphinx of black quartz judge my vow again and again today"
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(text).alias("text")
    )
    cands = lsh_candidate_pairs(minhash_signature(df, "doc_id", "text"), bucket_cap=cap)

    plan = cands._sc._jvm.PythonSQLUtils.explainString(
        cands._jdf.queryExecution(), "simple"
    )
    # collect_list appears ONLY as a bounded-frame window function
    # (rows 1..cap following) — never inside an Aggregate over the
    # bucket keys, which is what materialized the single bucket row
    assert "windowspecdefinition" in plan, plan[:1500]
    assert f"specifiedwindowframe(RowFrame, 1, {cap})" in plan, plan[:1500]
    assert "HashAggregate(keys=[band" not in plan, plan[:1500]
    assert "ObjectHashAggregate" not in plan, plan[:1500]

    assert cands.count() == sum(min(cap, n - 1 - i) for i in range(n))

    # uncapped is the same window path over (1, unbounded following),
    # with no bucket aggregate either
    exact = lsh_candidate_pairs(
        minhash_signature(df.limit(60), "doc_id", "text"), bucket_cap=None
    )
    eplan = exact._sc._jvm.PythonSQLUtils.explainString(
        exact._jdf.queryExecution(), "simple"
    )
    assert "specifiedwindowframe(RowFrame, 1, unboundedfollowing$())" in eplan, eplan[:1500]
    assert "HashAggregate(keys=[band" not in eplan, eplan[:1500]
    assert "ObjectHashAggregate" not in eplan, eplan[:1500]
    assert "slice(items" not in eplan, eplan[:1500]


def test_p18_pins_the_measured_skew_winner(spark):
    """artifacts/SKEW_PROBE_r09.json (20M-row fact, 50% of rows on one
    hot key, 150k-row dim, broadcast disabled to simulate the
    too-big-to-broadcast 100 TB dim): plain shuffle join 8.77s, AQE
    skew-split (thresholds sized to the data) 4.15s, salted_join
    num_salts=8 3.51s — the measured WINNER — salted_32 4.18s (salt
    overhead passes its benefit once the hot key is already spread
    across ~cores). This pins p18's declared shape to that winner:
    the 8-way salt spread on the fact side, the 8-replica dim
    explode, and the (user_id, salt) composite join key. When the dim
    CAN broadcast (the local default), broadcast wins outright
    (1.49s) — that regime is covered by the plain-join specs."""
    from database_query_processor_spark.plans.inspect import explain_str
    from database_query_processor_spark.workload import all_specs

    spec = {s.name: s for s in all_specs()}["p18_salted_join"]
    plan = explain_str(spec.build(spark, "/root/testdata/sf0.001"))
    assert "pmod(xxhash64(" in plan and ", 8)" in plan  # 8-way salt spread
    assert "explode([0,1,2,3,4,5,6,7])" in plan         # 8-replica dim
    assert "__salt" in plan                              # composite join key
