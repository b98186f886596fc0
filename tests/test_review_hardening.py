"""Regression tests for the round-4 deep-review findings on the
round-2/3 operator surface: edge-domain crashes (empty token arrays,
exhausted BPE merges), silent data corruption (zero/negative sample
weights, negative ids, unlisted strata), and contract gaps (true max
Jaccard, RFC 8259 control-char escaping)."""

import json

import pytest
from pyspark.sql import functions as F


def test_bigram_scores_survive_zero_and_one_token_docs(spark):
    """A punctuation-only doc tokenizes to an EMPTY array; the bigram
    slice must yield no bigrams (not a negative-length slice error),
    and 0/1-token docs drop out per the docstring."""
    from database_query_processor_spark.operators.retrieval import (
        bigram_logprob_scores,
    )

    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "!!! ..."), (3, "word")],
        "doc_id long, text string",
    )
    rows = bigram_logprob_scores(df, "doc_id", "text").collect()
    assert sorted(r.doc_id for r in rows) == [1]


def test_bpe_exhausted_merges_are_noops_not_data_loss(spark):
    """Once every word is fully merged, further rounds must be no-ops:
    the learner emits only the merges that exist, the vocab keeps the
    corpus symbols, and the curve plateaus — none of them may return
    empty/NULL because a crossJoin hit an empty winner frame."""
    from database_query_processor_spark.operators.tokenizer import (
        bpe_compression_curve,
        bpe_learn_merges,
        bpe_tokenize_vocab,
    )

    docs = spark.createDataFrame([(1, "ab ab cd")], "doc_id long, text string")
    merges = bpe_learn_merges(docs, "text", rounds=4).collect()
    assert [(r["round"], r.merged) for r in merges] == [(1, "ab"), (2, "cd")]
    vocab = sorted(
        (r.symbol, r.n_occ)
        for r in bpe_tokenize_vocab(docs, "text", rounds=4, k=10).collect()
    )
    assert vocab == [("ab", 2), ("cd", 1)]
    curve = {
        r["round"]: r.n_symbols
        for r in bpe_compression_curve(docs, "text", rounds=4).collect()
    }
    assert curve == {0: 6, 1: 4, 2: 3, 3: 3, 4: 3}  # plateau, not NULL


def test_weighted_reservoir_excludes_nonpositive_weights(spark):
    """A-ES is defined for w > 0 only: w = 0 must mean 'never
    sampled' (not 'key 1.0 ranks first' via pow(u, inf)) and
    negative weights must not produce always-winning keys > 1."""
    from database_query_processor_spark.operators.corpus import weighted_reservoir

    df = spark.createDataFrame(
        [(i, 10) for i in range(1, 21)] + [(100, 0), (101, -5)],
        "doc_id long, w long",
    )
    got = {r.doc_id for r in weighted_reservoir(df, "doc_id", "w", k=22).collect()}
    assert 100 not in got and 101 not in got
    assert len(got) == 20


def test_json_escape_control_chars_parse_as_strict_json(spark):
    """RFC 8259 forbids raw chars < 0x20 in strings: form-feed,
    vertical-tab, backspace etc. must come out as \\u00XX so any
    strict JSON reader can parse the shard line."""
    from database_query_processor_spark.operators.corpus import to_jsonl

    nasty = "a\x0cb\x0bc\x08d\ttab\nnl"
    df = spark.createDataFrame([(1, nasty)], "doc_id long, text string")
    line = to_jsonl(df, "doc_id", "text").collect()[0].json_line
    parsed = json.loads(line)  # raises on raw control chars
    assert parsed["text"] == nasty
    assert parsed["doc_id"] == 1


def test_json_escape_matches_duckdb_byte_for_byte():
    import duckdb

    from database_query_processor_spark.operators.corpus import sql_json_escape

    nasty = "q\x0c\x0b\x08\x00x \\ \" \n\r\t end"
    con = duckdb.connect()
    got = con.execute(
        f"SELECT {sql_json_escape('?')} AS e", [nasty]
    ).fetchone()[0]
    assert json.loads(f'"{got}"') == nasty


def test_det_hash_nonnegative_for_negative_ids(spark):
    """Ids minted by signed 64-bit hashes are negative ~half the
    time; det_hash must stay in [0, HASH_MOD) (pmod) or every
    `gate < pct` sampling comparison passes unconditionally."""
    import duckdb

    from database_query_processor_spark.operators.corpus import (
        HASH_MOD,
        det_hash,
        sql_det_hash,
        train_val_test_split,
    )

    ids = [-(2**62), -1000003, -999, -1, 0, 1, 999, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    hashes = {
        r.doc_id: r.h
        for r in df.select("doc_id", det_hash(F.col("doc_id")).alias("h")).collect()
    }
    assert all(0 <= h < HASH_MOD for h in hashes.values()), hashes
    # cross-engine: DuckDB mirror produces identical values
    con = duckdb.connect()
    for i in ids:
        (oh,) = con.execute(f"SELECT {sql_det_hash(str(i))}").fetchone()
        assert oh == hashes[i], (i, oh, hashes[i])
    # and the split gate routes negative ids like any other row, not
    # all-to-test
    split = train_val_test_split(df, "doc_id", val_pct=5, test_pct=5)
    by_split = {r.doc_id: r.split for r in split.collect()}
    assert not all(
        by_split[i] == "test" for i in ids if i < 0
    ), by_split


def test_stratified_sample_default_rate_for_unlisted_strata(spark):
    from database_query_processor_spark.operators.corpus import stratified_sample

    df = spark.createDataFrame(
        [(i, "web") for i in range(100)] + [(i + 1000, "code") for i in range(50)],
        "doc_id long, src string",
    )
    # default: unlisted stratum 'code' drops (documented)
    kept = stratified_sample(df, "doc_id", F.col("src"), {"web": 100})
    assert {r.stratum for r in kept.collect()} == {"web"}
    # default_rate=100 keeps it whole
    kept_all = stratified_sample(
        df, "doc_id", F.col("src"), {"web": 100}, default_rate=100
    )
    counts = {
        r.stratum: r.n
        for r in kept_all.groupBy("stratum").agg(F.count("*").alias("n")).collect()
    }
    assert counts == {"web": 100, "code": 50}


def test_jaccard_decontaminate_reports_true_max_for_near_misses(spark):
    """max_bench_jaccard is the TRUE max similarity against any
    benchmark doc — a near-miss below threshold must report its real
    value (for threshold tuning/audit), not 0.0, while contaminated
    still follows the threshold."""
    from database_query_processor_spark.operators.corpus import (
        jaccard_decontaminate,
    )

    bench = "alpha beta gamma delta epsilon zeta"
    near = "alpha beta gamma delta other words here now"  # some shared 3-grams
    far = "completely unrelated text with nothing shared"
    df = spark.createDataFrame(
        [(0, bench), (1, near), (2, far)], "doc_id long, text string"
    )
    out = {
        r.doc_id: (r.max_bench_jaccard, r.contaminated)
        for r in jaccard_decontaminate(
            df, "doc_id", "text", F.col("doc_id") == 0, threshold=0.5
        ).collect()
    }
    assert set(out) == {1, 2}
    mj, flagged = out[1]
    assert 0.0 < mj < 0.5 and flagged is False  # near-miss: real value, not 0.0
    assert out[2] == (0.0, False)


def test_merge_chain_localcheckpoint_sites_still_deterministic(spark):
    """train_order / pack_sequences positions must be a permutation of
    1..N with no gaps after the localCheckpoint swap (the pid column
    is read by both the counts collect and the final join)."""
    from database_query_processor_spark.operators.corpus import train_order

    df = spark.createDataFrame([(i,) for i in range(1, 501)], "doc_id long")
    rows = train_order(df, "doc_id", num_partitions=8).collect()
    assert sorted(r.pos for r in rows) == list(range(1, 501))


def test_gapfill_multi_unit_buckets_align(spark):
    """A '6 HOURS' bucket must truncate observations to 6-hour
    boundaries — date_trunc('hour') under a 6h interval misaligned
    the spine and silently DROPPED observed rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.temporal import (
        rollup_gapfill_locf,
    )

    rows = [
        (1, dt.datetime(2024, 1, 1, 1, 0), 10.0),   # bucket 00:00
        (1, dt.datetime(2024, 1, 1, 10, 0), 20.0),  # bucket 06:00
        (1, dt.datetime(2024, 1, 2, 2, 30), 30.0),  # bucket 1/2 00:00
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double")
    out = rollup_gapfill_locf(
        df, "k", "ts", F.sum(F.col("v").cast("decimal(12,2)")).cast("double"),
        bucket="6 HOURS",
    ).collect()
    by_ws = {r.ws: (r.n, r.v_locf) for r in out}
    assert by_ws[dt.datetime(2024, 1, 1, 0, 0)] == (1, 10.0)
    assert by_ws[dt.datetime(2024, 1, 1, 6, 0)] == (1, 20.0)  # was dropped pre-fix
    # gap buckets 12:00 and 18:00 are filled with LOCF 20.0
    assert by_ws[dt.datetime(2024, 1, 1, 12, 0)] == (0, 20.0)
    assert by_ws[dt.datetime(2024, 1, 1, 18, 0)] == (0, 20.0)
    assert by_ws[dt.datetime(2024, 1, 2, 0, 0)] == (1, 30.0)
    assert len(by_ws) == 5


def test_gapfill_rejects_malformed_bucket(spark):
    """Lowercase 'hours' previously survived rstrip('S') and made
    date_trunc return NULL for every row; month buckets are not
    fixed-width. Both must raise, not corrupt."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.temporal import (
        rollup_gapfill_locf,
    )

    df = spark.createDataFrame([], "k long, ts timestamp, v double")
    agg = F.sum(F.col("v").cast("decimal(12,2)")).cast("double")
    with _pytest.raises(ValueError, match="bucket"):
        rollup_gapfill_locf(df, "k", "ts", agg, bucket="1 hourz")
    with _pytest.raises(ValueError, match="bucket"):
        rollup_gapfill_locf(df, "k", "ts", agg, bucket="1 MONTH")
    with _pytest.raises(ValueError, match="bucket"):
        rollup_gapfill_locf(df, "k", "ts", agg, bucket="HOUR")


def test_asof_null_right_val_stays_paired_with_its_ts(spark):
    """(val, ts) must come from ONE right row: with right rows
    (10:00, v=5) and (11:00, v=NULL), a left row at 12:00 matches the
    LATEST right row whole — (NULL, 11:00) — never the frankenpair
    (5, 11:00) that independent ignorenulls scans produced."""
    import datetime as dt

    from database_query_processor_spark.operators.temporal import (
        as_of_join,
        nearest_asof_join,
    )

    T = lambda h: dt.datetime(2024, 1, 1, h, 0)
    left = spark.createDataFrame([(1, 7, T(12))], "lid INT, k INT, ts TIMESTAMP")
    right = spark.createDataFrame(
        [(7, T(10), 5), (7, T(11), None)], "k INT, ts TIMESTAMP, rid INT"
    )
    r = as_of_join(left, right, key="k", left_ts="ts", right_ts="ts",
                   right_val="rid").collect()[0]
    assert r.matched_val is None and r.matched_ts == T(11)
    n = nearest_asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts", right_val="rid",
        tolerance_us=10 * 3600 * 1_000_000,
    ).collect()[0]
    assert n.matched_val is None and n.matched_ts == T(11)


def test_minhash_short_docs_do_not_mega_bucket(spark):
    """Docs below the shingle width have no MinHash; they must be
    excluded from banding (all-NULL signatures collapse to one band
    key — xxhash64 skips null inputs and returns its seed, 42 — and
    would put every short doc in one corpus-wide bucket) without
    changing the verified pair output."""
    from database_query_processor_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_pairs,
        minhash_signature,
    )

    long_a = "the quick brown fox jumps over the lazy dog " * 3
    rows = [(1, long_a), (2, long_a + "extra"), *[(i, "hi") for i in range(10, 60)]]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signature(df, "doc_id", "text")
    cands = lsh_candidate_pairs(sigs)
    assert {tuple(r) for r in cands.select("id_a", "id_b").collect()} == {(1, 2)}
    pairs = minhash_dedup_pairs(df, "doc_id", "text")
    assert [
        (r.id_a, r.id_b) for r in pairs.select("id_a", "id_b").collect()
    ] == [(1, 2)]


def test_simhash_excludes_tokenless_docs(spark):
    """Empty/whitespace-only docs all hash to signature 0 — they must
    not be emitted as pairwise hamming-0 'duplicates' of each other."""
    from database_query_processor_spark.operators.dedup import simhash_dedup_pairs

    rows = [(1, "some real content here"), (2, "some real content there"),
            (3, ""), (4, "   "), (5, "\t\n")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_dedup_pairs(df, "doc_id", "text")
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert all(a not in (3, 4, 5) and b not in (3, 4, 5) for a, b in got)


def test_editdistance_block_cap_and_join_shape(spark):
    """Templated corpora share the blocking prefix systematically:
    oversized blocks are skipped (cap), and pairing is a streaming
    self-join — the plan must not collect_list full texts per block."""
    from database_query_processor_spark.operators.dedup import editdistance_pairs

    tmpl = "<!DOCTYPE html><html><head><title>page"
    near = [(1, tmpl + " one</title>"), (2, tmpl + " two</title>")]
    df = spark.createDataFrame(near, "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in editdistance_pairs(df, "doc_id", "text")
           .collect()}
    assert got == {(1, 2)}
    # oversized block (cap=3): no pairs emitted, no error
    flood = [(i, tmpl + f" {i:06d}</title>") for i in range(100)]
    df2 = spark.createDataFrame(flood, "doc_id long, text string")
    import database_query_processor_spark.operators.dedup as DD
    orig = DD.EDIT_BLOCK_CAP
    try:
        DD.EDIT_BLOCK_CAP = 3
        assert editdistance_pairs(df2, "doc_id", "text").count() == 0
    finally:
        DD.EDIT_BLOCK_CAP = orig
    plan = editdistance_pairs(df, "doc_id", "text")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "collect_list" not in plan


def test_pagerank_empty_edges_returns_empty_frame(spark):
    from database_query_processor_spark.operators.graph import pagerank_fixedpoint

    edges = spark.createDataFrame([], "id_a long, id_b long")
    out = pagerank_fixedpoint(edges)
    assert out.columns == ["node_id", "rank"]
    assert out.count() == 0


def test_ann_ivf_missing_query_returns_empty(spark):
    from database_query_processor_spark.operators.similarity import ann_ivf_topk

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    out = ann_ivf_topk(df, "vec_id", "embedding", query_id=99999, cells=4)
    assert out.count() == 0


def test_cdc_multi_op_per_key_changelog(spark, tmp_path):
    """A realistic CDC feed carries several ops per key. With seq_col
    the batch reduces to each key's latest op; without it the MERGE
    precondition is enforced (raise), never silently merged."""
    from database_query_processor_spark.streaming.cdc import run_cdc_apply

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, v string, amt double"
    )
    # key 1: update then delete (delete wins); key 3: insert then update
    log = spark.createDataFrame(
        [
            (1, "a2", 11.0, False, 1),
            (1, "a2", 11.0, True, 2),
            (3, "new", 30.0, False, 3),
            (3, "new2", 31.0, False, 4),
        ],
        "k long, v string, amt double, is_delete boolean, seq long",
    )
    out = run_cdc_apply(
        spark, target, log, key="k", update_cols=["v", "amt"],
        table_dir=str(tmp_path / "t1"), seq_col="seq",
    )
    got = {(r.k, r.v) for r in out.select("k", "v").collect()}
    assert got == {(2, "b"), (3, "new2")}  # 1 deleted, 3 at latest op

    import pytest as _pytest

    with _pytest.raises(Exception, match="multiple ops"):
        run_cdc_apply(
            spark, target, log.drop("seq"), key="k", update_cols=["v", "amt"],
            table_dir=str(tmp_path / "t2"),
        )


def test_cdc_retry_resumes_existing_table(spark, tmp_path):
    """Re-invoking run_cdc_apply on a table_dir that already has
    snapshots must resume (not raise immutable-base); and commit()
    creates a fresh table_dir itself."""
    from database_query_processor_spark.sources import snapshots as SNAP
    from database_query_processor_spark.streaming.cdc import run_cdc_apply

    target = spark.createDataFrame([(1, "a", 10.0)], "k long, v string, amt double")
    log = spark.createDataFrame(
        [(1, "a2", 11.0, False)], "k long, v string, amt double, is_delete boolean"
    )
    tdir = str(tmp_path / "tbl")  # does NOT exist: commit creates it
    out1 = run_cdc_apply(spark, target, log, key="k", update_cols=["v", "amt"],
                         table_dir=tdir)
    assert [(r.k, r.v) for r in out1.collect()] == [(1, "a2")]
    v_after_first = SNAP.latest_version(tdir)
    # retry: seeds nothing, applies the (fresh-stream) epochs on top
    out2 = run_cdc_apply(spark, target, log, key="k", update_cols=["v", "amt"],
                         table_dir=tdir)
    assert [(r.k, r.v) for r in out2.collect()] == [(1, "a2")]
    assert SNAP.latest_version(tdir) > v_after_first


def test_javaser_empty_batch_contributes_no_rows(monkeypatch):
    """A .tbl stream ending in an empty Batch (TupleWriter close-time
    flush) must decode to the same rows — not a phantom 0-column row
    that crashes the DataFrame build; TC_NULL content raises."""
    from database_query_processor_spark.sources import javaser

    class FakeReader:
        def __init__(self, data):
            self.items = list(data)

        def at_eof(self):
            return not self.items

        def read_content(self):
            return self.items.pop(0)

    monkeypatch.setattr(javaser, "JavaSerReader", FakeReader)
    batch_then_empty = [[[1, "x"], [2, "y"]], []]
    assert javaser.read_tuples(batch_then_empty) == [[1, "x"], [2, "y"]]
    bare_tuples = [[1, "x"], [2, "y"]]
    assert javaser.read_tuples(bare_tuples) == [[1, "x"], [2, "y"]]
    with pytest.raises(ValueError, match="unexpected serialized content"):
        javaser.read_tuples([None])


def test_schema_drift_audit_survives_quoted_column_names(spark, tmp_path):
    """The audit exists for externally drifting datasets — a column
    named with a quote must not break the stack() expression."""
    from database_query_processor_spark.sources.stats import schema_drift_audit

    p1, p2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    spark.createDataFrame([(1, 5)], ["id", "user's_id"]).write.parquet(p1)
    spark.createDataFrame([(1, 5, 7)], ["id", "user's_id", "extra"]).write.parquet(p2)
    out = {
        r.column_name: r.status
        for r in schema_drift_audit(spark, p1, p2).collect()
    }
    assert out["user's_id"] == "kept" and out["extra"] == "added"


def test_zorder_empty_dataframe_writes_cleanly(spark, tmp_path):
    from database_query_processor_spark.sources.layout import write_zordered

    df = spark.createDataFrame([], "a long, b long, v string")
    path = str(tmp_path / "z")
    write_zordered(df, path, "a", "b")
    assert spark.read.parquet(path).count() == 0


def test_memory_sink_names_are_bounded_per_topology(spark):
    """Re-running a MEMORY-sink streaming topology must reuse (drop +
    re-register) its one sink table, not leak a uuid-named table per
    run. s06 moved to the distributed parquet sink in r10 (its output
    is O(input)), so the boundedness contract is asserted on a
    topology that legitimately stays memory-sink (s01's small
    per-window aggregate) — and s06 is asserted to register NO
    driver-side sink table at all."""
    from database_query_processor_spark.streaming.dedup import run_stream_dedup
    from database_query_processor_spark.streaming.windows import (
        run_tumbling_stream,
    )

    run_tumbling_stream(spark, "/root/testdata/sf0.001").count()
    run_tumbling_stream(spark, "/root/testdata/sf0.001").count()
    n1 = run_stream_dedup(spark, "/root/testdata/sf0.001").count()
    n2 = run_stream_dedup(spark, "/root/testdata/sf0.001").count()
    assert n1 == n2 and n1 > 0  # parquet-sink re-runs stay independent
    after = {t.name for t in spark.catalog.listTables()}
    # exactly ONE registered sink for the memory topology no matter
    # how many runs (this or earlier tests) — and no uuid leaks, and
    # no catalog entry for the file-sink topology
    assert {n for n in after if n.startswith("dqps_sink_tumbling")} == {
        "dqps_sink_tumbling"
    }
    assert not {n for n in after if "dedup" in n}, after
    assert not {n for n in after if n.startswith("dedup_")}, after


def test_dialect_literal_semantics_and_quoted_commas(spark):
    """Reference literals coerce per COLUMN type: a numeric-looking
    literal against a STRING column must compare as a string (phone
    '0123' != '123'), and a comma inside a literal must not split
    the conjunct list."""
    from database_query_processor_spark.plans.dialect import run_reference_sql

    spark.createDataFrame(
        [(1, "0123", 5.0), (2, "123", 5.0), (3, "Smith, John", 9.0)],
        "cid long, phone string, amt double",
    ).createOrReplaceTempView("c")
    got = [r.cid for r in run_reference_sql(
        spark, 'SELECT c.cid FROM c WHERE c.phone="0123"'
    ).collect()]
    assert got == [1]  # NOT [1, 2]: string equality, no numeric coercion
    got2 = [r.cid for r in run_reference_sql(
        spark, 'SELECT c.cid FROM c WHERE c.phone="Smith, John", c.amt>"5"'
    ).collect()]
    assert got2 == [3]
    # numeric comparison against a numeric column still numeric
    got3 = sorted(r.cid for r in run_reference_sql(
        spark, 'SELECT c.cid FROM c WHERE c.amt>"4.5"'
    ).collect())
    assert got3 == [1, 2, 3]


def test_png_decompression_bomb_and_short_ihdr_raise_value_error():
    import struct as _struct
    import zlib as _zlib

    from database_query_processor_spark.functions import codecs

    # bomb: tiny declared dims, DEFLATE stream expanding way past them
    bomb_raw = b"\x00" * (10 * 1024 * 1024)
    sig = codecs._PNG_SIG
    ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    png = (
        sig
        + codecs._chunk(b"IHDR", ihdr)
        + codecs._chunk(b"IDAT", _zlib.compress(bomb_raw))
        + codecs._chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="length mismatch"):
        codecs.decode_png(png)
    # absurd IHDR dims rejected before any inflate
    huge = _struct.pack(">IIBBBBB", 2**31 - 1, 2**31 - 1, 8, 2, 0, 0, 0)
    png2 = sig + codecs._chunk(b"IHDR", huge) + codecs._chunk(
        b"IDAT", _zlib.compress(b"x")
    ) + codecs._chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="decode cap"):
        codecs.decode_png(png2)
    # IHDR with honest-but-short length: ValueError, not struct.error
    png3 = sig + codecs._chunk(b"IHDR", b"\x00\x00\x00\x02") + codecs._chunk(
        b"IEND", b""
    )
    with pytest.raises(ValueError, match="IHDR"):
        codecs.decode_png(png3)


def test_multimodal_null_payloads_quarantine_not_crash(spark):
    """One NULL payload row must not fail the stage: the real-codec
    path emits an all-NULL (quarantined) row, the fake paths
    propagate SQL NULLs, frame sampling skips."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.multimodal import (
        decode_image_batch,
        decode_media_batch,
        extract_features_batch,
        resize_image_batch,
        sample_frames,
    )

    df = spark.createDataFrame(
        [(1, bytearray(b"some payload bytes")), (2, None)],
        "doc_id long, payload binary",
    )
    media = {r.doc_id: r.kind for r in decode_media_batch(df).collect()}
    assert media[2] is None  # quarantined, and kind for doc 1 is also
    # None here (not PNG/WAV) — the important part: no crash
    rows = {r.doc_id: r.n_bytes for r in decode_image_batch(df).collect()}
    assert rows[1] == 18 and rows[2] is None
    rz = {r.doc_id: r.out_width for r in resize_image_batch(df).collect()}
    assert rz[1] is not None and rz[2] is None
    fr = sample_frames(df).groupBy("doc_id").count().collect()
    assert {r.doc_id for r in fr} <= {1}
    ft = {r.doc_id: r.features for r in extract_features_batch(df).collect()}
    assert len(ft[1]) == 8 and ft[2] is None


def test_quality_score_empty_doc_scores_zero_not_null(spark):
    from pyspark.sql import functions as F

    from database_query_processor_spark.functions.text import (
        punct_ratio,
        quality_score,
    )

    df = spark.createDataFrame([(1, ""), (2, "a solid doc here")],
                               "doc_id long, text string")
    out = {
        r.doc_id: (r.pr, r.q)
        for r in df.select(
            "doc_id",
            punct_ratio("text").alias("pr"),
            quality_score("text").alias("q"),
        ).collect()
    }
    assert out[1][0] == 0.0 and out[1][1] is not None
    assert out[2][1] > 0.0


def test_order_by_directions_pinned(spark):
    """The driver's value hash is ORDER-INSENSITIVE, so p16/d01/d10's
    sort directions are invisible to the oracle check — a flipped
    descending flag would stay hash-green forever. Pin the directions
    by collecting and checking monotonicity directly."""
    import __spark_entry__ as e

    qs = e.queries()
    sf = "/root/testdata/sf0.001"
    # p16 sorts (l_extendedprice DESC, l_orderkey ASC) — descending
    # flags [True, False] in its spec
    rows = qs["p16_orderby"](spark, sf).limit(200).collect()
    assert len(rows) > 2
    keys = [(-r.l_extendedprice, r.l_orderkey) for r in rows]
    assert keys == sorted(keys), "p16 order (price DESC, orderkey ASC) flipped"

    d01 = qs["d01_dialect_join_band_orderby"](spark, sf).collect()
    tp = [r.o_totalprice for r in d01]
    assert tp == sorted(tp, reverse=True), "d01 global DESC flag"

    d10 = qs["d10_dialect_orderby_asc"](spark, sf).collect()
    tp10 = [r.o_totalprice for r in d10]
    assert tp10 == sorted(tp10), "d10 ascending ORDERBY"


def test_order_by_rejects_mismatched_direction_list(spark):
    from database_query_processor_spark.operators.relational import order_by

    df = spark.createDataFrame([(1, 2)], "a long, b long")
    with pytest.raises(ValueError, match="flags for"):
        order_by(df, ["a", "b"], [True])


def test_refresh_grouped_agg_null_group_key(spark):
    """A NULL group is a real aggregation group: its delta must land
    on the SAME combined row as its MV entry (eqNullSafe), not beside
    it — a plain = join left the stale row and dropped the delta."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.operators.relational import (
        refresh_grouped_agg,
    )

    target = spark.createDataFrame(
        [(1, None, 10.0), (2, None, 20.0), (3, "g", 30.0)],
        "k long, grp string, v double",
    )
    mv = spark.createDataFrame(
        [(None, 2, 30.0), ("g", 1, 30.0)], "grp string, cnt long, total double"
    )
    # delete k=1 (NULL group): NULL group count must drop to 1
    changelog = spark.createDataFrame(
        [(1, None, 10.0, True)], "k long, grp string, v double, is_delete boolean"
    )
    out = {
        r.grp: (r.cnt, r.total)
        for r in refresh_grouped_agg(
            mv, target, changelog, key="k", group_col="grp",
            cnt_col="cnt", sum_col="total",
            val=F.col("v").cast("decimal(12,2)").cast("double"),
        ).collect()
    }
    assert out[None] == (1, 20.0), out
    assert out["g"] == (1, 30.0)


def test_randomdb_two_pk_columns_differ(spark):
    from database_query_processor_spark.sources.det import parse_det
    from database_query_processor_spark.sources.randomdb import generate_table

    spec = parse_det("2\n8\nid1 INTEGER 1000 PK 4\nid2 INTEGER 1000 PK 4\n")
    df = generate_table(spark, spec, 1000, seed=7)
    same = df.filter("id1 = id2").count()
    assert same < 10, f"PK columns nearly identical ({same}/1000 equal)"
    # both still bijective permutations
    assert df.select("id1").distinct().count() == 1000
    assert df.select("id2").distinct().count() == 1000


def test_ingest_rejects_empty_tokens(spark, tmp_path):
    """The reference's ConvertTxtToTbl exits on Integer.parseInt('');
    Spark parses an empty token to NULL without erroring — the
    validation pass must enforce the no-NULLs data model."""
    from database_query_processor_spark.sources.det import parse_det
    from database_query_processor_spark.sources.ingest import read_text_table

    spec = parse_det("2\n8\na INTEGER 10 PK 4\nb INTEGER 10 NK 4\n")
    good = tmp_path / "good.txt"
    good.write_text("1\t2\n3\t4\n")
    assert read_text_table(spark, str(good), spec).count() == 2
    bad = tmp_path / "bad.txt"
    bad.write_text("1\t2\n3\t\n")
    with pytest.raises(ValueError, match="NULL field"):
        read_text_table(spark, str(bad), spec)


def test_cdc_equal_seq_tiebreak_deterministic(spark, tmp_path):
    """Two ops for the same key with EQUAL sequence values must apply a
    deterministic winner: the delete-flag tiebreaker makes the delete
    win (conservative for an ambiguous feed), and reruns of the same
    batch produce identical state."""
    from database_query_processor_spark.streaming.cdc import run_cdc_apply

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, v string, amt double"
    )
    # key 1: update and delete sharing seq=5 -> delete wins the tie
    log = spark.createDataFrame(
        [
            (1, "a2", 11.0, False, 5),
            (1, "a2", 11.0, True, 5),
            (2, "b2", 21.0, False, 1),
        ],
        "k long, v string, amt double, is_delete boolean, seq long",
    )
    results = []
    for i in range(2):
        out = run_cdc_apply(
            spark, target, log, key="k", update_cols=["v", "amt"],
            table_dir=str(tmp_path / f"t{i}"), seq_col="seq",
        )
        results.append({(r.k, r.v) for r in out.select("k", "v").collect()})
    assert results[0] == results[1] == {(2, "b2")}


def test_asof_join_null_right_ts_never_matches(spark):
    """A right row with NULL right_ts satisfies no 'ts <= left_ts'
    ordering — it must not surface as a phantom (matched_val, NULL
    matched_ts) pair when no real match exists."""
    from database_query_processor_spark.operators.temporal import as_of_join

    left = spark.createDataFrame(
        [(1, 100)], "k long, ts long"
    )
    right = spark.createDataFrame(
        [(1, None, "phantom"), (1, 200, "late")],
        "k long, ts long, val string",
    )
    out = as_of_join(left, right, key="k", left_ts="ts",
                     right_ts="ts", right_val="val").collect()
    assert len(out) == 1
    assert out[0].matched_val is None and out[0].matched_ts is None


def test_cdc_tiebreak_total_over_null_patterns(spark, tmp_path):
    """The equal-seq tiebreak hash must distinguish rows that differ
    only in WHICH column is NULL (xxhash64 over raw columns skips
    NULLs and would collide) — reruns of the same ambiguous batch
    apply identical state."""
    from database_query_processor_spark.streaming.cdc import run_cdc_apply

    target = spark.createDataFrame([(1, "a", "b")], "k long, v string, w string")
    # two non-delete ops, equal seq, same non-null chain 'x' but in
    # different columns: raw xxhash64(v, w) would collide
    log = spark.createDataFrame(
        [(1, "x", None, False, 5), (1, None, "x", False, 5)],
        "k long, v string, w string, is_delete boolean, seq long",
    )
    results = []
    for i in range(2):
        out = run_cdc_apply(
            spark, target, log, key="k", update_cols=["v", "w"],
            table_dir=str(tmp_path / f"t{i}"), seq_col="seq",
        )
        results.append([(r.k, r.v, r.w) for r in out.collect()])
    assert results[0] == results[1]
    # the winner is the JSON-hash max... just assert determinism and
    # that exactly one op applied
    assert len(results[0]) == 1


def test_spec_touched_outside_root_treated_touched():
    """A build function whose module resolves outside the repo root
    must degrade to 'touched', never crash the sweep ordering."""
    import types

    import __spark_entry__ as e

    mod = types.ModuleType("outside_mod")
    mod.__file__ = "/usr/lib/python3/dist-packages/outside_mod.py"
    import sys

    sys.modules["outside_mod"] = mod
    try:
        def build(spark, sf):  # pragma: no cover - never called
            return None

        build.__module__ = "outside_mod"
        spec = types.SimpleNamespace(build=build)
        assert e._spec_touched(
            spec, {"database_query_processor_spark/whatever.py"}
        ) is True
    finally:
        del sys.modules["outside_mod"]


def test_cosine_zero_norm_vector_is_null_not_crash(spark):
    """A zero-norm embedding must yield NULL cosine (comparison-
    neutral), not a DIVIDE_BY_ZERO job abort under the session's
    pinned ANSI mode."""
    from database_query_processor_spark.operators.similarity import cosine_topk

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.5, 0.5])],
        "vec_id int, embedding array<double>",
    )
    out = cosine_topk(df, "vec_id", "embedding", 0, k=5).collect()
    got = {r.vec_id: r.cos for r in out}
    assert got[1] is None  # zero vector: no defined similarity
    assert got[2] is not None


def test_rolling_zscore_constant_window_not_anomalous(spark):
    """A constant trailing window has zero variance: no crash, no
    NaN-driven spurious anomaly rows."""
    from datetime import datetime, timedelta

    from database_query_processor_spark.operators.temporal import rolling_zscore

    t0 = datetime(2024, 1, 1)
    rows = [("u", t0 + timedelta(minutes=i), i, 5.0) for i in range(25)]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long, value double")
    out = rolling_zscore(df, key_col="user_id", ts_col="ts",
                         val_col="value", id_col="event_id",
                         n_window=20, z_thresh=3.0)
    assert out.count() == 0


def test_time_weighted_avg_all_zero_durations_dropped(spark):
    """A key whose weighted observations all share one timestamp has
    zero total duration: dropped (mirrored by HAVING SUM(dt) > 0 in
    the oracle), not a divide-by-zero abort."""
    from datetime import datetime

    from database_query_processor_spark.operators.temporal import time_weighted_avg

    t0 = datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("a", t0, 1, 1.0), ("a", t0, 2, 2.0), ("a", t0, 3, 3.0)],
        "event_type string, ts timestamp, event_id long, value double",
    )
    out = time_weighted_avg(df, key_col="event_type", ts_col="ts",
                            val_col="value", id_col="event_id")
    assert out.count() == 0


def test_salted_join_rejects_right_full(spark):
    """right/full outer would emit null-extended rows for every salt
    replica a left row didn't hit — rejected loudly."""
    import pytest

    from database_query_processor_spark.operators.relational import salted_join

    l = spark.createDataFrame([(1, "a")], "k long, v string")
    r = spark.createDataFrame([(1, "X"), (2, "Y")], "k long, w string")
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(l, r, on=["k"], num_salts=4, how=how)
    # inner stays identical to the plain join
    got = sorted(salted_join(l, r, on=["k"], num_salts=4).collect())
    assert got == sorted(l.join(r, ["k"]).collect())


def test_hyperplane_bucket_dim_mismatch_raises(spark):
    """A vector whose dimension differs from the planes' must fail
    loudly, not silently collapse all LSH blocking into bucket 0."""
    import pytest

    from database_query_processor_spark.operators.similarity import (
        hyperplane_bucket,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(0, [1.0] * 8)], "vec_id int, embedding array<double>")
    bad = df.select(hyperplane_bucket(F.col("embedding")).alias("b"))
    with pytest.raises(Exception, match="dim"):
        bad.collect()


def test_decontaminate_null_pred_rows_kept(spark):
    """A row whose bench predicate evaluates to NULL is NOT a
    benchmark row — it must appear in the decontaminated output, not
    silently vanish from both sides of the split."""
    from database_query_processor_spark.operators.corpus import decontaminate
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over it", "bench"),
         (2, "totally unrelated text with many words here", "train"),
         (3, "the quick brown fox jumps over it", None)],
        "doc_id long, text string, src string",
    )
    out = decontaminate(df, "doc_id", "text", F.col("src") == "bench", n=5)
    got = {r.doc_id: r.contaminated for r in out.collect()}
    assert set(got) == {2, 3}  # NULL-src doc 3 present
    assert got[3] is True  # and correctly flagged as contaminated


def test_cross_encoder_rerank_empty_terms(spark):
    """An empty query-term list (tokenizer stripped everything) must
    degrade to ce_score 0 with pool order preserved by rrf, not raise
    IndexError."""
    from database_query_processor_spark.operators.retrieval import (
        cross_encoder_rerank,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
    )
    cand = spark.createDataFrame(
        [(1, 0.5), (2, 0.25)], "doc_id long, rrf double"
    )
    out = cross_encoder_rerank(docs, cand, terms=[], k=5).collect()
    assert [(r.doc_id, r.ce_score) for r in out] == [(1, 0.0), (2, 0.0)]


def test_group_ols_degenerate_groups_null_not_crash(spark, tmp_path):
    """c66: a singleton group (den = x^2 - x^2 = 0) and an all-equal-
    value group (deny = 0) must yield NULL slope/corr — matching
    DuckDB's x/0 = NULL — instead of an ANSI DIVIDE_BY_ZERO abort."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.workload.completions import group_ols

    rows = [
        (1, "2024-01-01 00:10:00", "solo", 5.0),
        (2, "2024-01-01 00:10:00", "flat", 7.0),
        (3, "2024-01-01 02:10:00", "flat", 7.0),
        (4, "2024-01-01 00:10:00", "ok", 1.0),
        (5, "2024-01-01 02:10:00", "ok", 3.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).select(
        "event_id", F.col("ts").cast("timestamp_ntz").alias("ts"),
        F.lit(0).cast("long").alias("user_id"), "event_type", "value",
    )
    d = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {r.event_type: r for r in group_ols(spark, d).collect()}
    assert got["solo"].slope_cents_per_hour is None
    assert got["solo"].corr is None
    assert got["flat"].slope_cents_per_hour == 0.0  # den>0, num=0
    assert got["flat"].corr is None  # deny=0
    assert got["ok"].slope_cents_per_hour == 100.0  # 2 cents/…: 200c over 2h
    assert got["ok"].corr == 1.0


def test_cdc_empty_table_clear_error(spark, tmp_path):
    """apply_cdc_epoch on a table with no committed snapshot must give
    a clear seeding error, not a raw manifest_v0.json FileNotFoundError."""
    import pytest

    from database_query_processor_spark.streaming.cdc import apply_cdc_epoch

    batch = spark.createDataFrame(
        [(1, "a", False)], "k long, v string, is_delete boolean"
    )
    with pytest.raises(ValueError, match="no committed snapshot"):
        apply_cdc_epoch(spark, str(tmp_path / "fresh"), batch, 0,
                        key="k", update_cols=["v"])


def test_cdc_checkpoint_log_dir_deterministic(spark, tmp_path):
    """With a persistent checkpoint_dir the changelog source dir must
    derive from it (a restart's checkpoint references the recorded
    source paths) — and a full re-invocation with the same dirs must
    converge to the same final state via idempotent epoch redelivery."""
    from database_query_processor_spark.streaming.cdc import run_cdc_apply

    target = spark.createDataFrame([(1, "a", 10.0)], "k long, v string, amt double")
    log = spark.createDataFrame(
        [(1, "a2", 11.0, False), (2, "b", 20.0, False)],
        "k long, v string, amt double, is_delete boolean",
    )
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out1 = sorted(run_cdc_apply(
        spark, target, log, key="k", update_cols=["v", "amt"],
        table_dir=table, checkpoint_dir=ckpt,
    ).collect())
    import os

    assert os.path.isdir(os.path.join(ckpt, "changelog"))  # beside the checkpoint
    # re-invocation with the same dirs: checkpoint finds the same
    # source paths; already-applied epochs are manifest no-ops
    out2 = sorted(run_cdc_apply(
        spark, target, log, key="k", update_cols=["v", "amt"],
        table_dir=table, checkpoint_dir=ckpt,
    ).collect())
    assert out1 == out2


def test_dialect_keywords_inside_literals(spark):
    """Clause keywords inside double-quoted literals must not split
    the query mid-string."""
    from database_query_processor_spark.plans.dialect import translate

    out = translate('SELECT C.name FROM C WHERE C.addr = "MAIN ORDERBY ST"')
    assert "WHERE C.addr = 'MAIN ORDERBY ST'" in out
    assert "ORDER BY" not in out
    out2 = translate('SELECT C.n FROM C WHERE C.x = "A GROUPBY B", C.y = "Z DESC"')
    assert "'A GROUPBY B'" in out2 and "'Z DESC'" in out2
    assert "GROUP BY" not in out2 and "ORDER BY" not in out2


def test_pushed_filters_keep_parameterized_whole():
    """Comma-carrying pushed filters (EqualTo, In) come back whole."""
    from database_query_processor_spark.plans.inspect import _split_depth0

    body = "IsNotNull(r_name), EqualTo(r_name,ASIA), In(a, [1,2,3])"
    assert _split_depth0(body) == [
        "IsNotNull(r_name)", "EqualTo(r_name,ASIA)", "In(a, [1,2,3])",
    ]


def test_lang_id_null_text_stays_null(spark):
    """NULL text must classify as NULL, not fall through the CASE tie
    order to 'es'."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.functions.text import lang_id

    df = spark.createDataFrame([(1, None), (2, "the and is of city")],
                               "doc_id long, text string")
    got = {r.doc_id: r.lang for r in
           df.select("doc_id", lang_id("text").alias("lang")).collect()}
    assert got[1] is None and got[2] == "en"


def test_url_scrub_does_not_cross_newlines(spark):
    """A URL match must stop at ANY whitespace — [^ ]+ ran across
    newlines and swallowed the next line's first word."""
    from pyspark.sql import functions as F

    from database_query_processor_spark.functions.text import pii_scrub

    df = spark.createDataFrame(
        [(1, "see https://a.example\nHello world")], "doc_id long, text string"
    )
    out = df.select(pii_scrub("text").alias("t")).first().t
    assert "Hello world" in out and "<URL>" in out


def test_snapshot_commit_rejects_unsafe_names(spark, tmp_path):
    """Names colliding with the staging namespace or nesting past the
    flat data dir would be destroyed or orphaned by vacuum — rejected
    at commit time."""
    import pytest

    from database_query_processor_spark.sources import snapshots as SNAP

    df = spark.createDataFrame([(1,)], "k long")
    for bad in ("part.staging-0", "2024/part1", ".hidden", ""):
        with pytest.raises(ValueError, match="invalid data file name"):
            SNAP.commit(str(tmp_path / "t"), {bad: df})


def test_randomdb_anagram_pk_columns_differ(spark):
    """Two same-range PK columns with anagram names must yield
    different permutations (byte-sum seeds collided)."""
    from database_query_processor_spark.sources import generate_table, parse_det

    det = "2\n32\nAID INTEGER 1000 PK 4\nDIA INTEGER 1000 PK 4\n"
    df = generate_table(spark, parse_det(det), 200, seed=42)
    rows = df.collect()
    assert any(r.AID != r.DIA for r in rows)
    # both stay bijective over the sample
    assert len({r.AID for r in rows}) == 200 and len({r.DIA for r in rows}) == 200


def test_read_text_table_leading_quote_verbatim(spark, tmp_path):
    """Reference .txt rows split on raw tabs — a field starting with a
    double quote is content, not CSV quoting."""
    from database_query_processor_spark.sources import parse_det
    from database_query_processor_spark.sources.ingest import read_text_table

    det = "2\n32\na INTEGER 100 PK 4\nb STRING 8 NK 16\n"
    spec = parse_det(det)
    p = tmp_path / "t.txt"
    p.write_text('1\t"hi"\n2\t"x\ty"\n'.replace("\\t", "\t"))
    # row 2 has a tab INSIDE what CSV-quoting would treat as one field:
    # with quoting disabled it is a 3rd column -> FAILFAST error, which
    # IS the reference behavior (its raw split would also see 3 fields)
    import pytest

    with pytest.raises(Exception):
        read_text_table(spark, str(p), spec).collect()
    p2 = tmp_path / "t2.txt"
    p2.write_text('1\t"hi"\n')
    got = read_text_table(spark, str(p2), spec).collect()
    assert got[0].b == '"hi"'  # quotes preserved verbatim


def test_bench_outlier_gate_unrounded():
    """The plan-suspect gate must use UNROUNDED ratios: a regression
    at ratio 1.304 with band 1.0 flags (round-to-1.30-first would
    silently pass it)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "benchmod_t", __file__.replace("tests/test_review_hardening.py", "bench.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    m._baseline_mins = lambda: {"a": 1.0, "b": 1.0, "c": 1.0}
    r = m._variance_report({"a": 1.0, "b": 1.0, "c": 1.304})
    assert r["outliers"] == ["c"], r


def test_bench_weather_rerun_keeps_pre_rerun_min():
    """The weather-rerun fold takes the headline min/median over all
    10 runs but must preserve the pre-rerun min-of-5 for
    same-methodology cross-run ratios (min-of-10 is stochastically
    <= min-of-5; r11's 8-core t01 ratio of 0.84 was this bias)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "benchmod_t2", __file__.replace("tests/test_review_hardening.py", "bench.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    prev = [2.0, 1.8, 2.1, 1.9, 2.2]
    rerun = [1.5, 1.6, 1.7, 1.4, 1.55]
    entry, new_min, new_median, all_runs = m._fold_weather_rerun(
        prev, rerun, 0.09, 1.8, 2.0
    )
    assert entry["pre_rerun_min"] == 1.8
    assert entry["pre_rerun_median"] == 2.0
    assert entry["runs"] == rerun and entry["null_query"] == 0.09
    assert new_min == 1.4  # headline still min over all runs
    assert all_runs == prev + rerun and new_median == 1.75


def test_bench_failed_query_named_in_compact():
    """A crashed query's -1 sentinel is excluded from the headline
    total — the compact line must carry an explicit failed list."""
    # logic check on the same construction main() uses
    timings = {"q1": 1.0, "q2": -1.0}
    failed = sorted(n for n, t in timings.items() if t < 0)
    assert failed == ["q2"]


def test_sweep_empty_prefix_nonzero_exit():
    import subprocess
    import sys

    p = subprocess.run(
        [sys.executable, "sweep.py", "zz_no_such_prefix"],
        capture_output=True, text=True, timeout=120,
        cwd=__file__.replace("tests/test_review_hardening.py", ""),
    )
    assert p.returncode == 2, (p.returncode, p.stderr[-200:])
    assert "no specs match" in p.stderr


def test_session_rejects_bad_cpu_env(monkeypatch):
    import pytest

    from database_query_processor_spark.session import _default_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "auto")
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _default_cpus()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "0")
    with pytest.raises(ValueError, match=">= 1"):
        _default_cpus()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "16")
    assert _default_cpus() == 16


def test_changed_files_rename_takes_new_path(monkeypatch):
    """Porcelain rename lines keep the POST-rename path."""
    import subprocess

    import __spark_entry__ as e

    real_run = subprocess.run

    def fake_run(cmd, **kw):
        class R:
            stdout = ""
        r = R()
        if cmd[1] == "log":
            r.stdout = "deadbeef\n"
        elif cmd[1] == "diff":
            r.stdout = ""
        elif cmd[1] == "status":
            r.stdout = 'R  database_query_processor_spark/a.py -> database_query_processor_spark/b.py\n'
        return r

    monkeypatch.setattr(subprocess, "run", fake_run)
    try:
        got = e._changed_since_last_verify()
    finally:
        monkeypatch.setattr(subprocess, "run", real_run)
    assert got == {"database_query_processor_spark/b.py"}


def test_twa_zero_duration_group_survives_codegen_off(spark):
    """The total_us > 0 filter sits ABOVE the aggregate, so the twa
    divide must be try_divide: with whole-stage codegen disabled the
    engine evaluates the aggregate expressions eagerly and a plain
    ANSI divide crashes on a group whose observations all tie on the
    timestamp (r6 ADVICE, temporal.py)."""
    import datetime as dt

    from database_query_processor_spark.operators.temporal import time_weighted_avg

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 10.0, 1),
        (1, t0, 20.0, 2),  # all of key 1 ties on ts -> every dt = 0
        (2, t0, 1.0, 3),
        (2, t0 + dt.timedelta(seconds=10), 3.0, 4),
    ]
    df = spark.createDataFrame(rows, "k long, ts timestamp, v double, id long")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try:
        got = {r.k: r.twa for r in time_weighted_avg(df, "k", "ts", "v", "id").collect()}
    finally:
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
    assert got == {2: 1.0}  # key 1 dropped, no DIVIDE_BY_ZERO


def test_ann_sq8_all_zero_corpus_does_not_crash(spark):
    """A corpus of all-zero embeddings makes the corpus-global SQ8
    scale 0; the quantization divide must be guarded (r6 ADVICE,
    similarity.py) — expect rows (cos ties at 0) instead of an ANSI
    DIVIDE_BY_ZERO, matching the DuckDB oracle's NULL-propagation."""
    from database_query_processor_spark.operators.similarity import ann_sq8_rerank

    df = spark.createDataFrame(
        [(i, [0.0, 0.0, 0.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    rows = ann_sq8_rerank(df, "vec_id", "embedding", query_id=0, k=3).collect()
    assert [r.vec_id for r in rows] == [1, 2, 3]  # id tie-break, no crash


def test_protoshim_two_level_vivification_attaches_chain():
    """msg.a.b.c = x with BOTH a and b unset must attach the whole
    chain (r6 ADVICE, protoshim): the child's first write fires the
    parent's own __setattr__ recursively, so serialization carries the
    subtree instead of silently dropping it."""
    from tests.test_property import _shim_sm

    sm = _shim_sm()
    req = sm.StateRequest()
    req.stateVariableRequest.valueStateCall.stateName = "sess"
    back = sm.StateRequest()
    back.ParseFromString(req.SerializeToString())
    assert back.stateVariableRequest.valueStateCall.stateName == "sess"


def test_scrub_sql_interpolates_shared_url_pattern():
    """The URL pattern in the DuckDB oracles is interpolated from
    functions/text.py URL_RE (r6 ADVICE) — no hand-duplicated regex
    literal that can drift or re-introduce the \\S SyntaxWarning."""
    from database_query_processor_spark.functions import text as TX
    from database_query_processor_spark.workload.extensions import (
        PIPELINE_SQL,
        SCRUB_SQL,
    )

    assert SCRUB_SQL.count(TX.URL_RE) == 2
    assert PIPELINE_SQL.count(TX.URL_RE) == 1


@pytest.mark.parametrize("n", [3, 8])
def test_shingle_xxhash64_is_injective_on_corpus(spark, n):
    """doc_shingle_hashes stands in 64-bit xxhash64 values for gram
    strings; its results equal the string form only while no two
    distinct grams share a hash. Checked on the 3-gram (MinHash /
    Jaccard / containment) and 8-gram (substring-dedup window key)
    universes."""
    from database_query_processor_spark.catalog import load_table
    from database_query_processor_spark.operators.dedup import doc_shingles

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    row = (
        doc_shingles(docs, "doc_id", "text", n=n)
        .select(F.explode("grams").alias("gram"))
        .agg(
            F.countDistinct("gram").alias("grams"),
            F.countDistinct(F.xxhash64("gram")).alias("hashes"),
        )
        .first()
    )
    assert row.grams > 0
    assert row.grams == row.hashes, row
