"""Corpus-level training-data preparation operators: duplicate-cluster
resolution (connected components), benchmark decontamination, document
chunking, deterministic stratified sampling, deterministic global
shuffle, and JSONL serialization.

No reference analog (the reference stops at relational operators,
src/qp/operators/); these are the pipeline stages between "deduped
corpus" and "training shards". All JVM-side built-ins — no Python in
any hot path.

Scale design:
  * Connected components: min-label propagation as iterated
    (edges ⋈ labels) → groupBy-min rounds. Each round is one shuffle
    keyed by node id; rounds needed = O(log(component diameter)), and
    near-dup components are near-cliques (diameter ≤ 2-3), so 2-4
    rounds in practice. Labels are persisted per round and the
    previous round unpersisted; at 100 TB, localCheckpoint every few
    rounds to truncate lineage.
  * Decontamination: the benchmark side is tiny by construction
    (~1% held-out slice), so its distinct n-gram set is broadcast —
    the training corpus is filtered in a single scan + broadcast hash
    join, no shuffle of the big side.
  * Chunking: pure scan-side flatMap (tokenize once, explode chunk
    indices, slice) — linear, no shuffle.
  * Stratified sampling: a deterministic per-row modular hash gate —
    embarrassingly parallel, reproducible across runs and cluster
    sizes (never rand()-based, which resamples per retry/speculative
    task).
  * Global shuffle: two-pass distributed total order — range-
    repartition by shuffle key, count per partition, broadcast the
    cumulative offsets, then within-partition row_number + offset.
    No single-partition global window (the naive ORDER BY window
    collapses 100 TB onto one task).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from database_query_processor_spark.functions.text import tokens, word_ngrams

# --- connected components ------------------------------------------------


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 25,
) -> DataFrame:
    """Resolve undirected `edges` (id_a, id_b) over `nodes` (node_id)
    into components: returns (node_id, cluster_id) where cluster_id is
    the minimum node id reachable from node_id. Singletons keep their
    own id — every input node appears exactly once.

    Min-label propagation to fixpoint: each round joins current labels
    across edges (both directions) and takes the per-node min. A round
    is one shuffle; convergence needs O(log diameter) rounds. Each
    round's labels are checkpointed, so lineage stays O(1) instead of
    growing one join+agg per round — without it, deep chains
    (high-diameter clusters) re-plan an ever-taller tree and
    eventually blow the planner."""
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    labels = nodes.select(
        F.col(nodes.columns[0]).alias("node_id"),
        F.col(nodes.columns[0]).alias("cluster_id"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Convergence check: labels only ever decrease (min-propagation),
    # so the labels are a fixpoint iff sum(cluster_id) is unchanged —
    # one cheap aggregate per round instead of a self-join diff.
    cur_sum = labels.agg(F.sum("cluster_id")).first()[0]
    for _ in range(max_rounds):
        prop = sym.join(labels, sym.src == labels.node_id).select(
            F.col("dst").alias("node_id"), "cluster_id"
        )
        # localCheckpoint (eager) both materializes this round's labels
        # for reuse AND truncates lineage at the checkpointed RDD; the
        # superseded round's blocks are released by the ContextCleaner
        # once the old `labels` reference drops.
        new = (
            labels.union(prop)
            .groupBy("node_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        new_sum = new.agg(F.sum("cluster_id")).first()[0]
        labels.unpersist()
        labels = new
        if new_sum == cur_sum:
            break
        cur_sum = new_sum
    sym.unpersist()
    return labels


def keep_best_per_cluster(
    labels: DataFrame, scores: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Canonical-document selection — the curation step that CONSUMES
    dedup clusters: per cluster keep the highest-scoring member
    (ties → smallest id). Input: `labels` (id, cluster_id) from
    connected_components, `scores` (id, score). Output: one row per
    cluster (cluster_id, keep_doc_id, n_docs, best_score).

    One hash shuffle on cluster_id; the rank is a window with
    partial top-1 pushdown (WindowGroupLimit), so per-cluster state
    is O(1) — no cluster's members are ever collected.

    Score coverage contract: members missing from `scores` still
    count toward n_docs and rank LAST (score NULL, desc_nulls_last);
    a cluster whose members all lack scores keeps one row with
    best_score NULL. (An inner join would silently drop unscored
    members — and whole clusters — from the output.)"""
    joined = labels.join(
        scores, labels["node_id"] == scores[id_col], "left"
    ).select(
        "cluster_id",
        F.col("node_id").alias(id_col),
        F.col("score"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc_nulls_last(), F.col(id_col).asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count("*").over(Window.partitionBy("cluster_id")))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("keep_doc_id"),
            "n_docs",
            F.col("score").alias("best_score"),
        )
    )


# --- decontamination -----------------------------------------------------


def decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench_pred: Column,
    n: int = 5,
) -> DataFrame:
    """Flag training documents that share ≥1 word n-gram with the
    held-out benchmark slice (`bench_pred` selects benchmark rows).
    Returns every NON-benchmark row as (doc_id, n_bench_grams,
    contaminated).

    Real pipelines use 8-13-gram overlap; n=5 here because the test
    corpus is short-doc. The benchmark n-gram set is distinct-ed and
    broadcast — the big side never shuffles."""
    # tokens in their own projection: word_ngrams re-evaluates an
    # inlined tokenize per gram lookup (see dedup.doc_shingles, r12).
    grams = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(bench_pred, F.lit(False)).alias("is_bench"),
        tokens(text_col).alias("_toks"),
    ).select(
        "doc_id",
        "is_bench",
        F.array_distinct(word_ngrams(F.col("_toks"), n)).alias("grams"),
    )
    bench_grams = (
        grams.where("is_bench")
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    train_grams = grams.where(~F.col("is_bench")).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bench_grams"))
    )
    base = grams.where(~F.col("is_bench")).select("doc_id")
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bench_grams", F.lit(0)).alias("n_bench_grams"),
        (F.coalesce("n_bench_grams", F.lit(0)) > 0).alias("contaminated"),
    )


def jaccard_decontaminate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench_pred: Column,
    threshold: float = 0.5,
    n: int = 3,
) -> DataFrame:
    """Near-duplicate decontamination: flag training documents whose
    word n-gram Jaccard similarity with ANY benchmark document is
    >= `threshold`. x19's any-shared-n-gram test catches verbatim
    leakage; this catches paraphrase/template edits that dodge exact
    long-gram overlap while staying set-similar. Returns every
    non-benchmark row as (doc_id, max_bench_jaccard, contaminated).

    EXACT, not LSH: banding at threshold 0.5 has ~0.65 recall (fine
    for dedup where observed dups sit at >=0.9, unacceptable for a
    leakage gate where a miss poisons an eval). Exact stays cheap
    because the benchmark side is small by construction: its exploded
    (gram, bench_id, set-size) index broadcasts, the training side
    streams through one broadcast hash join, and the only shuffle is
    the (doc, bench) shared-gram count — output-sensitive, like the
    x04 inverted index. If the benchmark outgrows the broadcast
    threshold, the same plan falls back to a gram-keyed shuffle join.
    Per-pair Jaccard is one integer divide (engine-deterministic);
    docs with fewer than n tokens have empty shingle sets and are
    never flagged."""
    # tokens in their own projection (see dedup.doc_shingles, r12)
    g = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(bench_pred, F.lit(False)).alias("is_bench"),
        tokens(text_col).alias("_toks"),
    ).select(
        "doc_id",
        "is_bench",
        F.array_distinct(word_ngrams(F.col("_toks"), n)).alias("grams"),
    )
    bench_ex = g.where("is_bench").select(
        F.col("doc_id").alias("bench_id"),
        F.size("grams").alias("nb"),
        F.explode("grams").alias("gram"),
    )
    train_ex = g.where(~F.col("is_bench")).select(
        "doc_id", F.size("grams").alias("nt"), F.explode("grams").alias("gram")
    )
    jac = F.col("shared") / (F.col("nt") + F.col("nb") - F.col("shared"))
    # max is taken over ALL gram-sharing pairs, not just those >=
    # threshold: Jaccard > 0 ⟺ the pair shares an n-gram, so this IS
    # the true max similarity against any benchmark doc — a
    # threshold-first filter would report 0.0 for near-miss docs and
    # mislead anyone tuning the threshold from the output.
    best = (
        train_ex.join(F.broadcast(bench_ex), "gram")
        .groupBy("doc_id", "bench_id", "nt", "nb")
        .agg(F.count("*").alias("shared"))
        .groupBy("doc_id")
        .agg(F.max(jac).alias("max_bench_jaccard"))
    )
    base = g.where(~F.col("is_bench")).select("doc_id")
    return base.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("max_bench_jaccard", F.lit(0.0)).alias("max_bench_jaccard"),
        (F.coalesce("max_bench_jaccard", F.lit(0.0)) >= threshold).alias(
            "contaminated"
        ),
    )


# --- cleaning gate -------------------------------------------------------


def clean_gate(df: DataFrame, id_col: str, text_col: str, min_quality: float = 0.3) -> DataFrame:
    """Language-gate (en) + quality-gate in ONE scan with tokenization
    computed ONCE: the token array is materialized behind a
    non-deterministic always-true guard (`monotonically_increasing_id()
    >= -1`) — an optimizer fence that stops CollapseProject and
    predicate pushdown from re-inlining the tokenize expression into
    every stopword score (6× re-evaluation measured ≈1.6× slower; see
    the expression-inlining pitfall in operators/dedup.py).

    Semantics are EXACTLY functions/text.lang_id == 'en' AND
    quality_score >= min_quality (the DuckDB oracle mirrors both);
    the only divergence is stopword_ratio's denominator guard
    (greatest(n,1) vs n) which differs only on zero-token docs, where
    the n_tokens factor already zeroes the quality score."""
    from database_query_processor_spark.functions.text import (
        CJK_RE,
        STOPWORDS,
        punct_ratio,
        tokens,
    )

    toks_fenced = F.when(F.monotonically_increasing_id() >= -1, tokens(text_col))
    t1 = df.select(
        F.col(id_col),
        F.col(text_col),
        toks_fenced.alias("toks"),
        F.array_distinct(toks_fenced).alias("td"),
    )
    s = {
        lang: F.size(F.array_intersect("td", F.array(*[F.lit(w) for w in STOPWORDS[lang]])))
        for lang in STOPWORDS
    }
    lang_en = (
        (~F.col(text_col).rlike(CJK_RE))
        & ~((s["en"] == 0) & (s["de"] == 0) & (s["fr"] == 0) & (s["es"] == 0))
        & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"])
    )
    n_toks = F.size("toks")
    en_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    sw_occ = F.size(F.filter(F.col("toks"), lambda tk: F.array_contains(en_arr, tk)))
    quality = (
        F.least(F.lit(1.0), n_toks / F.lit(50.0))
        * (F.lit(1.0) - punct_ratio(text_col))
        * (F.lit(0.5) + F.lit(0.5) * sw_occ / F.greatest(n_toks, F.lit(1)))
    )
    return t1.where(lang_en & (quality >= min_quality)).select(id_col, text_col)


# --- chunking ------------------------------------------------------------

CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> DataFrame:
    """Split each document into overlapping token windows of
    `chunk_size` tokens every `stride` tokens (the standard pretrain
    packing prep). Every document yields ≥1 chunk (an empty doc yields
    one empty chunk). Output: (doc_id, chunk_idx, chunk_text,
    n_chunk_tokens). Scan-side flatMap — tokenize once per doc, then
    explode precomputed chunk indices."""
    toked = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks"))
    counted = toked.select(
        "doc_id",
        "toks",
        F.greatest(
            F.lit(1),
            (F.ceil((F.size("toks") - F.lit(chunk_size)) / F.lit(float(stride))) + 1),
        )
        .cast("bigint")
        .alias("n_chunks"),
    )
    exploded = counted.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_chunks") - 1)).alias(
            "chunk_idx"
        ),
    )
    chunk = F.slice("toks", F.col("chunk_idx").cast("int") * stride + 1, chunk_size)
    sliced = exploded.select("doc_id", "chunk_idx", chunk.alias("chunk_toks"))
    return sliced.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", "chunk_toks").alias("chunk_text"),
        F.size("chunk_toks").cast("bigint").alias("n_chunk_tokens"),
    )


# --- deterministic sampling & shuffle ------------------------------------

# Overflow-safe modular hash shared verbatim with the DuckDB oracles:
# reduce the id below 2^20 first so the multiply stays < 2^63 in both
# engines (DuckDB errors on int64 overflow; Spark would wrap).
HASH_MOD = 1000003  # prime
HASH_MULT = 2654435761  # Knuth multiplicative constant


def det_hash(id_col: Column) -> Column:
    """Deterministic pseudo-random value in [0, HASH_MOD).

    pmod semantics throughout: both Spark's % and DuckDB's % keep the
    dividend's sign, so a plain `id % m` would go NEGATIVE for
    negative ids (e.g. ids minted by signed xxhash64) — every
    downstream `gate < pct` comparison would then pass
    unconditionally, silently routing ~half the corpus into
    val/test/sample. The double-pmod keeps the range [0, HASH_MOD)
    for the full signed-64 id domain, identically in both engines."""
    return F.pmod(F.pmod(id_col, HASH_MOD) * HASH_MULT, HASH_MOD)


def sql_det_hash(expr: str) -> str:
    return (
        f"(((({expr}) % {HASH_MOD} + {HASH_MOD}) % {HASH_MOD})"
        f" * {HASH_MULT}) % {HASH_MOD}"
    )


def train_val_test_split(
    df: DataFrame, id_col: str, val_pct: int = 5, test_pct: int = 5
) -> DataFrame:
    """Deterministic corpus split manifest: every row labeled
    train/val/test by a hash gate on its id — disjoint, exhaustive,
    and reproducible across runs, retries, and cluster sizes (the
    property df.randomSplit lacks under speculative re-execution).
    At 100 TB this is a scan-side map; writing the output
    partitionBy("split") yields the three training shards with no
    extra shuffle beyond the write."""
    gate = det_hash(F.col(id_col)) % 100
    split = (
        F.when(gate < test_pct, F.lit("test"))
        .when(gate < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.select(F.col(id_col), split.alias("split"))


def stratified_sample(
    df: DataFrame,
    id_col: str,
    stratum: Column,
    rates: dict[str, int],
    default_rate: int = 0,
) -> DataFrame:
    """Keep a deterministic per-stratum percentage of rows:
    row kept iff det_hash(id) % 100 < rates[stratum]. Reproducible
    across runs, retries, and cluster sizes — unlike df.sample(),
    whose per-partition RNG changes under speculative re-execution
    and repartitioning.

    Strata ABSENT from `rates` (including a NULL stratum) get
    `default_rate` percent — the default 0 DROPS them, so a typo'd
    or incomplete rates mapping silently loses those strata; pass
    default_rate=100 to keep unlisted strata whole, or audit with a
    stratum groupBy count before sampling."""
    gate = det_hash(F.col(id_col)) % 100
    rate = F.lit(default_rate)
    for name, pct in rates.items():
        rate = F.when(stratum == name, F.lit(pct)).otherwise(rate)
    return df.withColumn("stratum", stratum).where(gate < rate)


def _prefix_offsets(spark: SparkSession, per_pid: dict[int, int]) -> DataFrame:
    """Tiny (pid, _offset) frame of exclusive prefix sums over the
    per-partition counts/totals — one row per partition, meant to be
    broadcast-joined back onto the partitioned data."""
    rows, acc = [], 0
    for pid in sorted(per_pid):
        rows.append((pid, acc))
        acc += per_pid[pid]
    return spark.createDataFrame(rows or [(0, 0)], "pid int, _offset bigint")


def distributed_prefix_scaffold(
    df: DataFrame,
    order_cols: list,
    weight: Column | None,
    num_partitions: int,
) -> DataFrame:
    """The shared two-pass distributed prefix-sum scaffold (used by
    train_order, pack_sequences, budget_select, and temporal
    value_bars): range-repartition on ``order_cols``, stamp the
    partition id, collect the tiny per-partition weight totals
    (``weight`` None = row count), and broadcast-join the exclusive
    partition offsets back. Returns the input columns + ``pid`` +
    ``_offset``; callers add their within-partition window term over
    the SAME ``order_cols``.

    The pid stamp is checkpointed (not persisted): the pid column
    must be read by BOTH the totals collect and the final join from
    the SAME materialized partitioning. A merely-persisted frame is
    recomputable — cache eviction or executor loss re-runs the range
    shuffle, and shuffle-fetch order nondeterminism (SPARK-23207)
    could land rows in different pids than were counted, silently
    corrupting global positions. An eager ``localCheckpoint`` holds
    the stamped rows as executor blocks with no lineage below them,
    so a lost block fails the job loudly instead of recomputing
    differently. Blocks free on GC of the frame.

    The offsets come back as a broadcast JOIN rather than a
    chained-WHEN literal: a CASE over num_partitions arms is O(P)
    expression depth — fine at 32, a codegen hazard at cluster
    partition counts (thousands). The collect is O(#partitions), not
    O(rows)."""
    keyed = df.repartitionByRange(num_partitions, *order_cols)
    keyed = keyed.withColumn("pid", F.spark_partition_id()).localCheckpoint(
        eager=True
    )
    agg = (F.count("*") if weight is None else F.sum(weight)).cast("long")
    totals = {
        r["pid"]: r["t"]
        for r in keyed.groupBy("pid").agg(agg.alias("t")).collect()
    }
    offsets = _prefix_offsets(keyed.sparkSession, totals)
    return keyed.join(F.broadcast(offsets), "pid")


def train_order(
    df: DataFrame, id_col: str, num_partitions: int = 32,
) -> DataFrame:
    """Deterministic global shuffle for training-data ordering:
    assigns each row a position 1..N in det_hash order without a
    single-partition sort. Two passes: (1) range-repartition on the
    shuffle key and count rows per partition; (2) broadcast the
    cumulative offsets (one tiny row per partition) and add them to
    within-partition row numbers. Output: (id, shuffle_key, pos)."""
    base = df.select(F.col(id_col), det_hash(F.col(id_col)).alias("shuffle_key"))
    joined = distributed_prefix_scaffold(
        base, ["shuffle_key", id_col], weight=None, num_partitions=num_partitions
    )
    w = Window.partitionBy("pid").orderBy("shuffle_key", id_col)
    return joined.select(
        id_col,
        "shuffle_key",
        (F.row_number().over(w) + F.col("_offset")).alias("pos"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    ntok_col: str,
    budget: int = 1024,
    num_partitions: int = 32,
) -> DataFrame:
    """Sequence packing: lay documents end-to-end in deterministic
    det_hash order and cut fixed token-budget training sequences —
    seq_id = floor(global_start_offset / budget), the concat-then-split
    packing used to fill context windows without padding.

    The global start offset is a distributed PREFIX SUM, same two-pass
    shape as train_order: (1) range-repartition on the order key and
    collect per-partition token totals (one tiny row each); (2)
    broadcast the cumulative totals as partition offsets and add the
    within-partition running sum. No single-partition global window —
    the full-data movement is the one range shuffle, identical at 500
    docs or 500 billion."""
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(ntok_col).alias("n_tokens"),
        det_hash(F.col(id_col)).alias("ord_key"),
    )
    joined = distributed_prefix_scaffold(
        base, ["ord_key", "doc_id"], weight=F.col("n_tokens"),
        num_partitions=num_partitions,
    )
    w = Window.partitionBy("pid").orderBy("ord_key", "doc_id")
    start = (
        F.sum("n_tokens").over(w) - F.col("n_tokens") + F.col("_offset")
    ).alias("start_offset")
    return (
        joined.select("doc_id", "n_tokens", start)
        .withColumn("seq_id", F.floor(F.col("start_offset") / budget).cast("bigint"))
    )


# --- JSONL serialization -------------------------------------------------


# Control chars that need \u00XX form (RFC 8259 forbids ALL raw
# controls < 0x20 in strings; \n, \r, \t get their short escapes).
_JSON_CTRL = [cc for cc in range(0x20) if cc not in (0x09, 0x0A, 0x0D)]


def json_escape(col: Column) -> Column:
    """Full JSON string escaping (backslash first, then quote, the
    short control escapes, then every remaining char < 0x20 as
    \\u00XX — RFC 8259 forbids raw controls, and crawled text does
    contain form-feeds/vertical-tabs) — chain shared verbatim with
    the DuckDB oracle (sql_json_escape) so serialized lines are
    byte-identical AND parse in any strict JSON reader."""
    c = col
    for raw, esc in [("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")]:
        c = F.replace(c, F.lit(raw), F.lit(esc))
    for cc in _JSON_CTRL:
        c = F.replace(c, F.lit(chr(cc)), F.lit(f"\\u{cc:04x}"))
    return c


def sql_json_escape(expr: str) -> str:
    """DuckDB replace-chain mirroring json_escape byte-for-byte."""
    s = (
        f"replace(replace(replace(replace(replace({expr}, "
        "'\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'), "
        "chr(13), '\\r'), chr(9), '\\t')"
    )
    for cc in _JSON_CTRL:
        s = f"replace({s}, chr({cc}), '\\u{cc:04x}')"
    return s


def to_jsonl(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Serialize (id, n_tokens, text) to one JSON object per row —
    the training-shard export format. Hand-built with format_string
    (not to_json) so the byte layout is engine-independent and
    oracle-checkable; floats are deliberately excluded (their text
    rendering is engine-specific)."""
    from database_query_processor_spark.functions.text import ws_token_count

    return df.select(
        F.col(id_col).alias("doc_id"),
        F.format_string(
            '{"doc_id":%d,"n_tokens":%d,"text":"%s"}',
            F.col(id_col),
            ws_token_count(F.col(text_col)),
            json_escape(F.col(text_col)),
        ).alias("json_line"),
    )


def vocab_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus vocabulary: (token, term_freq, doc_freq) — the tokenizer
    vocabulary-building pass of a training pipeline. One explode + one
    shuffle on token; term and document frequencies come out of the
    same grouped aggregate (countDistinct rewrites to a two-phase
    Expand, still a single logical pass). At 100 TB the token key is
    Zipf-skewed — the partial (map-side) aggregate absorbs the head
    before the shuffle, so the hot keys ship one row per partition,
    not one per occurrence."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    return toks.groupBy("token").agg(
        F.count("*").alias("term_freq"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Top-k characteristic terms per document by tf·idf.

    idf is the rational variant N/df (not log(N/df)): ln() is not
    bit-identical across engines' libm, while a single IEEE divide and
    multiply are — scores hash-match the DuckDB oracle exactly, and
    the per-document ranking is the same monotone order log would
    give. Shape: tf groupBy (doc, token) → df groupBy token → join on
    token → broadcast 1-row corpus size → per-doc window top-k."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df_cnt"))
    n_docs = df.agg(F.count("*").cast("double").alias("n_docs"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn("score", F.col("tf") * (F.col("n_docs") / F.col("df_cnt")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "token", F.col("tf").alias("tf"), F.col("score").alias("score"))
    )


def bigram_counts(df: DataFrame, id_col: str, text_col: str, min_count: int = 2) -> DataFrame:
    """Corpus bigram frequencies (the n-gram LM / collocation pass):
    word_ngrams(2) explode → grouped count, thresholded. Same
    skew-absorbing partial-aggregate property as vocab_counts."""
    # tokens in their own projection (see dedup.doc_shingles, r12)
    grams = df.select(tokens(text_col).alias("_toks")).select(
        F.explode(word_ngrams(F.col("_toks"), 2)).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style per-document repetition signals (Rae et al. 2021,
    appendix A1.1): duplicate-token fraction, top-bigram coverage, and
    duplicate-bigram fraction — the filters that drop boilerplate and
    auto-generated text before training.

    Every count is an exact integer and every emitted fraction is one
    IEEE int/int divide, so the doubles hash-match the DuckDB oracle
    bit-for-bit. Shape: ONE scan and ZERO shuffles — every signal is a
    per-document function of that document's own token array, so the
    whole computation stays inside the scan stage as higher-order
    array expressions (optimization guide §2.4: remove shuffles
    outright; §4.1: built-ins/higher-order functions): the max bigram
    multiplicity is a linear fold over the SORTED bigram array (equal
    bigrams are adjacent, so the longest equal-run IS the max count),
    and the bigram totals are size/array_distinct. The previous
    formulation exploded every bigram occurrence into its own row and
    paid two doc-keyed exchanges (explode_outer →
    groupBy(doc_id, bigram) → groupBy(doc_id)) — shuffling the entire
    bigram stream to compute values each row already contains. Per-row
    cost is the array_sort's O(B log B) on B = bigrams-per-doc,
    bounded by document length and independent of corpus size.
    """
    base = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        word_ngrams(F.col("toks"), 2).alias("bgs"),
    )

    # Longest run in the sorted bigram array == max multiplicity.
    # Accumulator (prev bigram, current run, max run); bigrams are
    # space-joined non-empty tokens (length >= 3), so the "" seed can
    # never match a real bigram. An empty array folds to mx=0 — the
    # same value the old explode_outer null group produced.
    def _run_step(acc, x):
        run = F.when(x == acc.prev, acc.run + F.lit(1).cast("long")).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"), F.greatest(acc.mx, run).alias("mx")
        )

    max_bg = F.aggregate(
        F.array_sort("bgs"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("mx"),
        ),
        _run_step,
        lambda acc: acc.mx,
    )
    per_doc = base.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        max_bg.alias("max_bg"),
        F.size("bgs").alias("n_bg"),
        F.size(F.array_distinct("bgs")).alias("n_distinct_bg"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        (
            (F.col("n_tokens") - F.col("n_distinct"))
            / F.greatest(F.col("n_tokens"), F.lit(1))
        ).alias("dup_token_frac"),
        (
            (F.lit(2) * F.col("max_bg")) / F.greatest(F.col("n_tokens"), F.lit(1))
        ).alias("top_bigram_frac"),
        (
            (F.col("n_bg") - F.col("n_distinct_bg"))
            / F.greatest(F.col("n_bg"), F.lit(1))
        ).alias("dup_bigram_frac"),
    )


def budget_select(
    df: DataFrame,
    id_col: str,
    ntok_col: str,
    score_col,
    budget: int,
    num_partitions: int = 32,
) -> DataFrame:
    """Greedy quality-first corpus selection under a global token
    budget — the "fill N tokens with the best data" pretraining
    primitive: rank documents by (score DESC, id ASC) and keep the
    prefix whose cumulative token count stays under ``budget`` (the
    document straddling the boundary is kept — greedy fill, never an
    empty result for a positive budget).

    Output: (id, n_tokens, score, start_offset) for kept docs, where
    start_offset is the tokens consumed before this doc.

    Scale: same two-pass distributed prefix sum as train_order /
    pack_sequences, but range-partitioned on the RANKING key
    (score DESC, id ASC) instead of a hash key: per-partition token
    totals (one tiny row each) broadcast back as partition offsets,
    within-partition running sums complete the global prefix — no
    single-partition global window, one range shuffle of
    (id, n_tokens, score)."""
    base = df.select(
        F.col(id_col),
        F.col(ntok_col).alias("n_tokens"),
        score_col.alias("score"),
    )
    joined = distributed_prefix_scaffold(
        base, [F.col("score").desc(), F.col(id_col).asc()],
        weight=F.col("n_tokens"), num_partitions=num_partitions,
    )
    w = Window.partitionBy("pid").orderBy(F.col("score").desc(), F.col(id_col).asc())
    start = (
        F.sum("n_tokens").over(w) - F.col("n_tokens") + F.col("_offset")
    ).alias("start_offset")
    return (
        joined.select(id_col, "n_tokens", "score", start)
        .where(F.col("start_offset") < budget)
    )


def weighted_reservoir(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Fixed-size weighted sample WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws key_i = u_i^(1/w_i) with u_i
    uniform in (0,1]; the k largest keys are the sample, and
    P(row in sample) is proportional-to-weight without replacement.
    Complements weighted_sample (x31), which is Bernoulli and only
    controls the EXPECTED size — this pins the exact size k.

    u_i comes from the shared det_hash gate mapped into (0,1], so
    the draw is reproducible across runs/retries/cluster sizes AND
    replayable by the DuckDB oracle. Keys are rounded to 9 decimals
    before ranking with an id tie-break, so the top-k cut is taken
    on identical values in both engines (pow's last ulp may differ
    between libms).

    Scale: orderBy(...).limit(k) compiles to TakeOrderedAndProject —
    per-partition top-k heaps merged on the driver, O(k·P) driver
    work, NO global sort shuffle. The plan gate pins that shape.

    Non-positive weights are excluded up front: A-ES is defined for
    w > 0 only — w = 0 makes the exponent +Inf (and u = 1.0 would
    yield key 1.0, ranking a never-sample row FIRST), and w < 0
    gives keys > 1 that always win. "Weight zero" must mean "never
    sampled", so those rows are filtered, not keyed."""
    u = (det_hash(F.col(id_col)) + F.lit(1)) / F.lit(HASH_MOD)
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 9
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .select("*", key.alias("res_key"))
        .orderBy(F.col("res_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def token_drift(
    df: DataFrame,
    text_col: str,
    slice_col: str,
    slice_a: str,
    slice_b: str,
    k: int = 20,
) -> DataFrame:
    """Distribution drift between two corpus slices: per-token
    KL-divergence contribution p_a * ln(p_a / p_b) with add-one
    smoothing over the union vocabulary — the monitoring primitive
    for "did this source/crawl change under me". Returns the top-k
    drifting tokens as (token, count_a, count_b, drift_contrib).

    One token-keyed shuffle builds both slices' counts in a single
    conditional aggregate (no per-slice scans, no join); the totals
    are a 1-row broadcast. Probabilities divide exact integers, so
    cross-engine variance reduces to ln's last ulp — absorbed by the
    shared ROUND(...,9) + token tie-break before the top-k cut,
    which is TakeOrderedAndProject (no global sort)."""
    toks = df.where(F.col(slice_col).isin([slice_a, slice_b])).select(
        F.col(slice_col).alias("sl"), F.explode(tokens(text_col)).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("sl") == slice_a, 1).otherwise(0)).alias("count_a"),
        F.sum(F.when(F.col("sl") == slice_b, 1).otherwise(0)).alias("count_b"),
    )
    totals = counts.agg(
        F.sum("count_a").alias("na"),
        F.sum("count_b").alias("nb"),
        F.count("*").alias("v"),
    )
    p_a = (F.col("count_a") + 1) / (F.col("na") + F.col("v"))
    p_b = (F.col("count_b") + 1) / (F.col("nb") + F.col("v"))
    contrib = F.round(p_a * F.log(p_a / p_b), 9)
    return (
        counts.crossJoin(F.broadcast(totals))
        .select("token", "count_a", "count_b", contrib.alias("drift_contrib"))
        .orderBy(F.col("drift_contrib").desc(), F.col("token").asc())
        .limit(k)
    )


# DSIR feature space: the bucket is the first 2 md5 hex chars, so the
# bucket count is structurally 16² — a constant, not a knob (a knob
# that didn't change the bucketing would silently skew the smoothing).
DSIR_BUCKETS = 256


def dsir_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_cond: Column,
    k: int = 50,
) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how much its hashed-token feature distribution looks
    like a small in-domain target slice, then keep the top scorers.
    The per-doc importance weight is the log-likelihood ratio

        score(d) = Σ_i ln( p_target(b(tok_i)) / p_raw(b(tok_i)) )

    over hashed feature buckets b(tok) = int(md5(tok)[:2 hex]) in
    [0, 256), with add-one smoothing on both distributions. Returns
    the top-k non-target docs by (score DESC, doc_id) — rounded to 9
    decimals BEFORE the cut (cross-engine contract).

    Shape & scale: one token-bucket aggregate over the corpus
    (map-side combinable, 256 result rows), broadcast back onto the
    token stream (no big-side shuffle), one per-doc aggregate, then
    TakeOrderedAndProject for the cut — no global sort. Per-token log
    ratios fold in token-position order for bit-reproducibility
    (see retrieval module docstring on ordered float reductions).

    No reference analog (the reference has no text surface at all,
    src/qp/parser/parser.cup:197-255)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(target_cond, F.lit(False)).alias("is_t"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    ).select(
        "doc_id",
        "is_t",
        "pos",
        (F.conv(F.substring(F.md5("tok"), 1, 2), 16, 10).cast("long")).alias("bucket"),
    )
    stats = toks.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(~F.col("is_t"), 1).otherwise(0)).cast("long").alias("cr"),
    )
    tot = stats.agg(
        F.sum("ct").cast("long").alias("nt"), F.sum("cr").cast("long").alias("nr")
    )
    lr = F.log((F.col("ct") + 1) / (F.col("nt") + DSIR_BUCKETS).cast("double")) - F.log(
        (F.col("cr") + 1) / (F.col("nr") + DSIR_BUCKETS).cast("double")
    )
    ratios = stats.crossJoin(F.broadcast(tot)).select("bucket", lr.alias("lr"))
    per = (
        toks.filter(~F.col("is_t"))
        .join(F.broadcast(ratios), "bucket")
        .select("doc_id", F.struct("pos", "lr").alias("pl"))
    )
    return (
        per.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pl")).alias("arr"))
        .select(
            "doc_id",
            F.size("arr").cast("long").alias("n_toks"),
            F.round(
                F.aggregate(F.col("arr"), F.lit(0.0), lambda acc, x: acc + x["lr"]), 9
            ).alias("dsir_score"),
        )
        .orderBy(F.desc("dsir_score"), F.asc("doc_id"))
        .limit(k)
    )
