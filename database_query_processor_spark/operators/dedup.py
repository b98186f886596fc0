"""Deduplication operators for document corpora — exact, MinHash+LSH,
SimHash, and exact n-gram-Jaccard. None of these exist in the
reference (its only dedup is row-level DISTINCT via external sort,
src/qp/operators/Project.java:122-292); they are the LLM-data-pipeline
extension surface.

Scale design (the whole point):
  * Exact dedup: hash-groupBy on a fingerprint — one shuffle keyed by
    md5, map-side partial agg; at 100 TB this is the only full-data
    shuffle and it carries (fingerprint, id, 1) not documents.
  * MinHash LSH: per-doc signature is a scan-side map (no shuffle);
    candidate generation shuffles (band_id, band_signature) keys only
    — never the quadratic pair space. Bucket sizes are bounded by
    band-collision probability, and the exact-Jaccard verify join
    touches candidate pairs only.
  * SimHash: 64-bit signature per doc; pigeonhole banding (4×16 bits)
    finds all pairs within hamming distance ≤3 without O(n²).
  * n-gram Jaccard uses a df-capped inverted-index join on shingles:
    stop-shingles (document frequency > NGRAM_DF_CAP) never generate
    candidates — exactly like a search engine drops stopwords — so
    the candidate space is bounded by |shingles|·cap² regardless of
    corpus skew; candidate pairs are verified with exact Jaccard over
    full shingle sets. The cap is deterministic and mirrored in the
    DuckDB oracle.

All hashing is xxhash64 (Spark built-in, deterministic across runs and
partitionings) masked to 32 bits for overflow-safe permutation
arithmetic in (a*h + b) mod p with p = 4294967291 (largest 32-bit
prime).
"""

from __future__ import annotations

import random

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from database_query_processor_spark.functions.text import (
    content_fingerprint,
    tokens,
    word_ngrams,
)

MERSENNE_P = 4294967291  # largest prime < 2^32
NUM_PERMS = 64
LSH_BANDS = 16  # 16 bands x 4 rows: P(candidate) ≈ 1 at jaccard ≥ 0.8


def _perm_constants(num_perms: int = NUM_PERMS, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, 2**31 - 1), rng.randrange(0, 2**31 - 1)) for _ in range(num_perms)]


PERMS = _perm_constants()


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by normalized-content fingerprint: one row per
    distinct content with the kept (minimum) id and the copy count."""
    return (
        df.select(content_fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def _spread(df: DataFrame) -> DataFrame:
    """Shingling/hashing stages are CPU-bound maps, so their
    parallelism equals the number of input splits — a small parquet
    file arrives as ONE split and pins the whole stage to a single
    core. Spread low-partition inputs to cluster parallelism; no-op at
    scale, where the scan already yields many splits."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc_id, grams): distinct word n-gram shingle set per document.
    The single heavy text-processing map — every downstream consumer
    (signatures, candidate verify, exact jaccard) derives from this.

    The token array is materialized in its OWN projection (r12):
    word_ngrams looks tokens up per gram position, and with the
    tokenize expression inlined each lookup re-evaluates the full
    split+filter pipeline (higher-order functions are CodegenFallback
    — no subexpression reuse across lambda invocations), an
    O(n·grams) tokenize per document. CollapseProject preserves the
    boundary because the alias is non-cheap and multiply-referenced.
    Measured at sf0.1: 14.4 s -> 0.9 s for the n=3 shingle map
    (artifacts/NGRAM_SHAPE_AB_r12.json)."""
    return (
        _spread(df)
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks"))
        .select(
            "doc_id",
            F.array_distinct(word_ngrams(F.col("_toks"), n)).alias("grams"),
        )
    )


def doc_shingle_hashes(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(doc_id, hs64): the distinct shingle set as FULL 64-bit
    xxhash64 values — the lightweight proxy of `doc_shingles` (guide
    §2.3 "shuffle keys and metadata instead of payloads"): every
    pipeline decision (signatures, banding, candidate verify) depends
    only on shingle IDENTITY, never on shingle text, so persisting and
    shuffling 8-byte longs instead of ~30-byte gram strings shrinks
    the cached intermediate and every downstream exchange by ~4x.

    Identity contract: xxhash64 is injective on every tested corpus
    (tests/test_review_hardening.py::
    test_shingle_xxhash64_is_injective_on_corpus asserts
    count(distinct gram) == count(distinct hash) for the 3- and 8-gram
    universes, so all derived results are BIT-IDENTICAL to the string
    form there; artifacts/COLLISION_CHECK_r12.json records the same at
    sf0.01/0.1). At 10^12 distinct
    shingles (100 TB) the birthday bound expects ~27k colliding PAIRS
    corpus-wide; a collision only perturbs a result when both grams
    co-occur in one candidate pair — the same p≈2^-64 trade the LSH
    band keys already make. The 32-bit masked hash the MinHash
    permutations consume is derived as hs64 & 0xFFFFFFFF, exactly the
    xxhash64(g).bitwiseAND(...) the string pipeline computed.

    Tokens materialize in their own projection — see doc_shingles."""
    return (
        _spread(df)
        .select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("_toks"))
        .select(
            "doc_id",
            F.transform(
                F.array_distinct(word_ngrams(F.col("_toks"), n)),
                lambda g: F.xxhash64(g),
            ).alias("hs64"),
        )
    )


def _signature_from_shingles(grams_df: DataFrame) -> DataFrame:
    """(doc_id, grams) → (doc_id, sig).

    The shingle-hash array is materialized in its own projection and
    the permutation fold references that attribute. Inlining the hash
    pipeline into the fold (one projection) makes the expression tree
    ~64× larger — Catalyst and codegen choke on it (30s+ of
    plan/compile time at ANY data size) and the hashing would be
    re-evaluated per permutation. CollapseProject keeps the boundary
    because the alias is non-cheap and referenced by the fold.

    All 64 permutation mins come from ONE aggregate() pass over the
    hash array (acc = 64-wide running-min array; LEAST skips the NULL
    init, so an empty array yields 64 NULLs exactly like the old
    per-permutation array_min(transform(...)) — 64 separate array
    traversals — which measured 2.2× slower at sf0.1 and produced
    bit-identical signatures)."""
    with_hashes = grams_df.select(
        "doc_id",
        F.transform("grams", lambda g: F.xxhash64(g).bitwiseAND(F.lit(0xFFFFFFFF))).alias("hs"),
    )
    return _signature_from_hash32(with_hashes)


def _signature_from_hashes64(hs_df: DataFrame) -> DataFrame:
    """(doc_id, hs64) → (doc_id, sig): signatures from the 64-bit
    shingle-hash proxy. Masking to 32 bits reproduces exactly the
    hs the string pipeline fed the permutation fold, so signatures
    are bit-identical to `_signature_from_shingles`."""
    return _signature_from_hash32(
        hs_df.select(
            "doc_id",
            F.transform("hs64", lambda h: h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("hs"),
        )
    )


def _signature_from_hash32(with_hashes: DataFrame) -> DataFrame:
    """(doc_id, hs: array<bigint> of 32-bit-masked shingle hashes) →
    (doc_id, sig). Shared tail of both signature entries; see
    `_signature_from_shingles` for the fold design notes."""
    consts_a = F.array(*[F.lit(a) for a, _ in PERMS])
    consts_b = F.array(*[F.lit(b) for _, b in PERMS])
    init = F.expr(f"array_repeat(CAST(NULL AS BIGINT), {NUM_PERMS})")
    sig = F.aggregate(
        "hs",
        init,
        lambda acc, h: F.zip_with(
            F.zip_with(consts_a, consts_b, lambda a, b: (a * h + b) % F.lit(MERSENNE_P)),
            acc,
            lambda v, m: F.least(v, m),
        ),
    )
    return with_hashes.select("doc_id", sig.alias("sig"))


def minhash_signature(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of
    (a_i*h + b_i) mod p. Pure scan-side map — no shuffle, no UDF."""
    return _signature_from_shingles(doc_shingles(df, id_col, text_col))


LSH_BUCKET_CAP = 50  # successors each doc pairs with inside one (band, key) bucket


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = LSH_BANDS, bucket_cap: int = LSH_BUCKET_CAP
) -> DataFrame:
    """Band the signatures and emit candidate pairs that collide in ≥1
    band. The shuffle key is (band, band_signature) — linear in corpus
    size; pairs materialize only inside colliding buckets."""
    rows = NUM_PERMS // bands
    # Band key = ONE xxhash64 long over the band's signature slice,
    # not a concat_ws string: a fixed 8-byte shuffle key with no
    # per-band string allocation (measured −12% on the sf1 candidate
    # stage vs string keys; candidate sets identical). Two distinct
    # band slices colliding into one long (p ≈ 2⁻⁶⁴ per bucket) can
    # only ADD a candidate pair, and every candidate is exact-verified
    # downstream — output semantics are unchanged.
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.element_at("sig", b * rows + r + 1) for r in range(rows)]).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")
    # Docs with EMPTY shingle sets (fewer tokens than the shingle
    # width: titles, stubs, blank docs) have no MinHash — array_min
    # over [] is NULL for all permutations, and xxhash64 SKIPS null
    # inputs, returning its seed (42) — so they ALL land on band key
    # 42 in EVERY band: one corpus-wide mega-bucket (quadratic
    # candidate pairs) for a common corpus artifact. The exact-Jaccard
    # verify drops those pairs anyway (0-shingle overlap), so
    # filtering key 42 changes nothing but the blow-up (a real slice
    # hashing to exactly 42 forfeits that doc's ONE band at p ≈ 2⁻⁶⁴
    # — the usual multi-band recall argument absorbs it). The filter
    # sits AFTER the explode on the generated attribute — placed
    # before the signature projection it would be pushed beneath it
    # and re-evaluate the tokenize+shingle pipeline once more per row
    # (measured 3x on the x02 bench).
    banded = banded.filter(F.col("key") != 42)
    # Bucket-then-pair instead of a self-join (_bucket_pairs): ONE
    # shuffle on (band, key), the upstream signature pipeline is
    # evaluated once (a self-join would recompute it per side), and
    # pairs materialize only inside multi-occupant buckets. Pairing is
    # CAPPED at `bucket_cap` successors per doc. RECALL CONTRACT: for
    # every bucket of ≤ cap+1 docs this is EXACTLY the all-pairs set
    # (minhash band keys are 128-bit-ish concatenations, so real
    # buckets are tiny — measured max 4 at sf0.1, 50k-doc sf1 alike);
    # a pathological mega-bucket (near-identical boilerplate
    # collapsing into one (band, key)) emits a sorted O(N·cap) chain
    # instead of O(N²) candidates — the same df-cap recall trade as
    # NGRAM_DF_CAP below: a true pair sitting > cap apart in doc_id
    # order inside an over-cap bucket (and within cap in no other
    # band) is forgone to bound the blow-up, while downstream
    # connected-components dedup still sees one component for
    # identical-doc floods (adjacent pairs verify at jaccard 1.0).
    # Skew cost: the capped path holds each bucket in WindowExec's
    # SPILLABLE row buffer (never a single collect_list array row —
    # r7's residual 2 GB-row risk for a 100M-doc degenerate bucket,
    # closed r8 via the bounded-frame window; singleton buckets emit
    # empty frames, so no prefilter pass is needed).
    return (
        _bucket_pairs(banded, ["band", "key"], F.col("doc_id"), bucket_cap)
        .select(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .distinct()
    )


def _bucket_pairs(
    banded: DataFrame, key_cols: list[str], payload, cap: int | None
) -> DataFrame:
    """Shared bucket-then-pair shape for every banding scheme (minhash
    LSH, simhash pigeonhole): sort each (key_cols) bucket by payload
    (doc_id, or a struct whose FIRST field is doc_id — so the order is
    doc_id order either way) and pair each item with its successors —
    ALL of them when ``cap`` is None (exact all-pairs, the
    oracle-parity setting), or at most ``cap`` (the skew-bounded
    setting: a mega-bucket of N items emits an O(N·cap) sorted chain
    instead of O(N²) pairs). a.doc_id < b.doc_id by construction.
    Returns (a, b) payload pairs; callers project and ``distinct()``
    across bands themselves.

    The two paths materialize buckets differently, and the difference
    IS the scale story:

    * ``cap=None`` groups via sort_array(collect_list) — the whole
      bucket becomes ONE aggregation-buffer array row, fine at test
      scales (real minhash buckets measured max 4 docs at sf0.1/sf1)
      but a 100M-doc degenerate bucket would blow Spark's 2 GB
      single-row limit. That is acceptable ONLY because this path is
      the oracle-parity / recall-testing setting; production callers
      get a cap by default.
    * capped (the DEFAULT) never builds a bucket row at all: ONE
      window function — collect_list over the bounded row frame
      (1 FOLLOWING, cap FOLLOWING) — gives each row its next ≤cap
      successors in bucket order, the EXACT same sorted-chain pair
      set as slicing a collected array, with per-ROW state bounded by
      ``cap`` and the bucket itself held in WindowExec's spillable
      row buffer (disk-backed beyond the in-memory threshold), never
      a single row. A 100M-doc flood bucket costs one sorted spill,
      not a 2 GB array. Singleton buckets (the vast majority of
      banded rows) emit an empty frame that explodes to nothing — no
      pre-filter pass needed. Measured at sf0.1 on the x02 pairing
      stage (80k banded rows, min-of-5 on a cached input): bounded
      frame 0.50 s vs collect_list+slice 0.72 s vs 50-lead-expression
      window 1.09 s vs rank+shard self-join 3.4 s whole-query (the
      self-join re-evaluates the signature pipeline per side — the
      reason bucket-then-pair replaced self-joins in the first
      place). Determinism: payloads are unique within a bucket (one
      row per doc per band), so the orderBy has no ties and the
      chain is reproducible across runs and partitionings."""
    if cap is None:
        buckets = (
            banded.groupBy(*key_cols)
            .agg(F.sort_array(F.collect_list(payload)).alias("items"))
            .filter(F.size("items") >= 2)
        )
        return buckets.select(
            F.posexplode("items").alias("_pos", "a"), F.col("items")
        ).select(
            "a",
            F.explode(F.slice("items", F.col("_pos") + 2, F.size("items"))).alias("b"),
        )

    from pyspark.sql.window import Window

    w_s = Window.partitionBy(*key_cols).orderBy("_p").rowsBetween(1, cap)
    # the successor array materializes in its own projection — window
    # expressions are not allowed inside a generator (explode)
    chained = banded.select(*key_cols, payload.alias("_p")).select(
        F.col("_p").alias("a"), F.collect_list("_p").over(w_s).alias("_succ")
    )
    return chained.select("a", F.explode("_succ").alias("b"))


NGRAM_DF_CAP = 100  # stop-shingle cutoff: shingles in more docs than this are excluded from the Jaccard universe


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = NGRAM_DF_CAP,
) -> DataFrame:
    """Stopword-filtered n-gram Jaccard near-dup pairs: Jaccard is
    computed over the df-CAPPED shingle universe — shingles with
    document frequency > df_cap count toward neither the intersection
    nor the set sizes, exactly as a search engine scores similarity
    after dropping stopwords. Within that universe the similarity is
    EXACT and the whole pipeline is one inverted-index self-join:
    |∩| = per-pair match count, sizes from a per-doc count, never an
    array shuffled or intersected.

    The cap is also the skew guard: without it, one boilerplate
    shingle shared by 1M docs makes a 10¹²-pair bucket in the
    self-join; with it the per-shingle bucket is ≤ df_cap, so the
    join's pair space is bounded by |shingles|·df_cap² under ANY
    corpus skew. The cap is deterministic, so the DuckDB oracle
    mirrors it exactly. ``df_cap=None`` disables the filter (plain
    exact Jaccard; oracle/recall testing only)."""
    return (
        _ngram_shared_counts(df, id_col, text_col, n, df_cap)
        .withColumn("jaccard", F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _ngram_shared_counts(
    df: DataFrame, id_col: str, text_col: str, n: int, df_cap: int | None
) -> DataFrame:
    """Shared machinery of the exact n-gram pair metrics: df-capped
    inverted-index self-join yielding one row per candidate pair with
    (shared, na, nb) over the capped shingle universe.

    The index is (doc_id, 64-bit shingle hash), persisted once (r12):
    every consumer — the df-cap frequency count, both self-join sides,
    the per-doc sizes — needs shingle IDENTITY only, so the inverted
    index carries xxhash64 longs instead of gram strings (guide §2.3;
    same identity contract and collision analysis as
    doc_shingle_hashes) and the tokenize+shingle corpus pass runs ONCE
    into a MEMORY_AND_DISK cache instead of once per consumer (guide
    §1/§5 — four scans of the heaviest map in the workload). Cache
    lifecycle as in minhash_dedup_pairs: lazy persist, freed by the
    caller's clearCache() between queries."""
    exploded = (
        doc_shingle_hashes(df, id_col, text_col, n)
        .select("doc_id", F.explode("hs64").alias("gram"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    if df_cap is not None:
        rare = (
            exploded.groupBy("gram")
            .agg(F.count("*").alias("gram_df"))
            .filter(F.col("gram_df") <= df_cap)
            .select("gram")
        )
        indexed = exploded.join(rare, "gram")  # vocab-sized side: AQE broadcasts it when it fits
    else:
        indexed = exploded
    sizes = indexed.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    a = indexed.select(F.col("doc_id").alias("id_a"), "gram")
    b = indexed.select(F.col("doc_id").alias("id_b"), "gram")
    shared = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("nb"))
    return shared.join(sa, "id_a").join(sb, "id_b")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = NGRAM_DF_CAP,
) -> DataFrame:
    """Near-CONTAINMENT pairs: C(A,B) = |A∩B| / min(|A|, |B|) ≥
    threshold over the df-capped shingle universe. The asymmetric
    complement of `ngram_jaccard_pairs`: a short document quoted
    verbatim inside a long one has high containment but LOW Jaccard
    (|∩|/|∪| is diluted by the long side), so a Jaccard gate misses
    exactly the quote/subset duplication this catches — the
    containment-sketch use case (Broder's "containment" from the
    original resemblance paper). Same single inverted-index
    self-join, same df_cap skew bound; only the final metric differs
    (min instead of union in the denominator — one exact int min +
    one IEEE divide, bit-stable cross-engine). Also returns the
    pair's jaccard so downstream can see the gap."""
    base = _ngram_shared_counts(df, id_col, text_col, n, df_cap)
    cont = F.col("shared") / F.least(F.col("na"), F.col("nb"))
    return (
        base.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .withColumn(
            "jaccard", F.col("shared") / (F.col("na") + F.col("nb") - F.col("shared"))
        )
        .select("id_a", "id_b", "containment", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Full MinHash-LSH pipeline: signatures → banded candidates →
    exact-Jaccard verification of the CANDIDATE PAIRS ONLY (join each
    side back to its distinct-shingle set, jaccard via array_intersect
    — cost is O(|candidates|), never the corpus-wide pair space).
    With 16×4 banding, recall at the observed duplicate similarity
    (≥0.9) is ≈1, so the verified output equals the exact-Jaccard pair
    set (which is what the DuckDB oracle computes quadratically).

    The shingle pipeline feeds three consumers (signatures + both
    verify sides). It is persisted: one tokenize+shingle pass
    populates a MEMORY_AND_DISK cache that all three branches read
    (cold-cache per call: parity at sf0.1 — 2.47 s vs 2.39 s — and
    −27% at sf1, 5.1 s vs 7.0 s, where the three recomputed corpus
    passes were the scaling tail; r6 measured the opposite at bench
    scale, re-measured r7 with per-run cold cache). Two rejected
    alternatives, both measured slower: scoping the verify joins to
    candidate-doc shingles behind a broadcast+repartition (the
    broadcast barrier serializes the critical path that the
    recompute-per-branch plan overlaps — sf1 7.6 s), and persist
    combined with that scoping (10.3 s).

    CACHE LIFECYCLE: the persist is lazy and this function returns an
    unmaterialized DataFrame, so nothing here can unpersist it —
    Spark frees the blocks at context shutdown, and long-lived
    sessions issuing MANY dedup queries should call
    ``spark.catalog.clearCache()`` between queries (bench.py and
    sweep.py both do); disk-backed blocks are not LRU-evicted.

    WHAT IS PERSISTED (r12, guide §5/§2.3): the 64-bit shingle-HASH
    arrays, not the gram strings — shingle identity is all any
    consumer needs (signatures mask to 32 bits; the verify intersects
    hash sets), so the cached bytes and the two verify-join exchanges
    carry 8-byte longs instead of ~30-byte strings. Equivalence to
    the string pipeline: injective on every tested corpus
    (collision_check_r12.py) → bit-identical results; see
    doc_shingle_hashes for the 100 TB collision analysis."""
    grams = doc_shingle_hashes(df, id_col, text_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cands = lsh_candidate_pairs(_signature_from_hashes64(grams))
    ga = grams.select(F.col("doc_id").alias("id_a"), F.col("hs64").alias("grams_a"))
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("hs64").alias("grams_b"))
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .withColumn("shared", F.size(F.array_intersect("grams_a", "grams_b")))
        .withColumn(
            "jaccard",
            F.col("shared") / (F.size("grams_a") + F.size("grams_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(text_col: str) -> Column:
    """64-bit SimHash over unigram token hashes: bit b of the signature
    is the sign of Σ_tokens (2·bit_b(xxhash64(tok)) − 1). ONE fold over
    the token-hash array accumulates all 64 bit-sums via zip_with
    (bit-sums are integers, so the reassociation is exact; the pre-r11
    form ran 64 separate array folds — 64 traversals). The signature
    assembles inside the same expression: bit b set iff sums[b] > 0,
    as 2^b via pow for b ≤ 62 (powers of two are exact in doubles and
    fit signed-64) and the min-long literal for b = 63 — bit values
    are distinct powers, so the final sum equals the bitwise OR.

    NULL contract (changed in r11 with the fused fold): NULL text →
    NULL signature (the final aggregate over a NULL array is NULL);
    the pre-r11 form returned 0. NULL-in-NULL-out is the standard SQL
    convention and the only call site filters token-less docs first —
    coalesce at the call site if the 0 contract is needed."""
    hs = F.transform(F.array_distinct(tokens(text_col)), lambda t: F.xxhash64(t))

    def token_bits(h):
        return F.array(
            *[
                (F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) * 2 - 1).cast("long")
                for b in range(64)
            ]
        )

    zero = F.array_repeat(F.lit(0).cast("long"), 64)
    sums = F.aggregate(hs, zero, lambda acc, h: F.zip_with(acc, token_bits(h), lambda x, y: x + y))
    indexed = F.zip_with(
        sums,
        F.sequence(F.lit(0), F.lit(63)),
        lambda s, b: F.when(
            s > 0,
            F.when(b == 63, F.lit(-9223372036854775808).cast("long")).otherwise(
                F.pow(F.lit(2.0), b.cast("double")).cast("long")
            ),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(indexed, F.lit(0).cast("long"), lambda acc, x: acc + x)


def simhash60_md5(text_col: str) -> Column:
    """60-bit SimHash over md5 token hashes — the ORACLE-PARITY
    variant of simhash64: md5 exists in both Spark and DuckDB (hex
    digits sliced to nibbles → 4 bits each, 15 nibbles = 60 bits; 60
    rather than 64 keeps every shift inside positive signed-64 range
    in both engines). Production corpora should prefer simhash64
    (xxhash64 is ~10× cheaper than md5); the algebra is identical."""
    # per-token nibble values materialized ONCE (15 hex parses per
    # token), then ONE fold over the token array accumulates all 60
    # bit-sums via zip_with — bit-sums are integers, so the
    # reassociation is exact, and a single traversal replaces 60
    # separate array folds (smaller Catalyst tree, one codegen pass)
    nibs = F.transform(
        F.array_distinct(tokens(text_col)),
        lambda t: F.transform(
            F.slice(F.split(F.md5(t), ""), 1, 15),
            lambda c: F.conv(c, 16, 10).cast("long"),
        ),
    )

    def token_bits(nb):
        return F.array(
            *[
                (
                    F.shiftright(F.element_at(nb, b // 4 + 1), b % 4).bitwiseAND(F.lit(1))
                    * 2
                    - 1
                ).cast("long")
                for b in range(60)
            ]
        )

    zero = F.array_repeat(F.lit(0).cast("long"), 60)
    sums = F.aggregate(nibs, zero, lambda acc, nb: F.zip_with(acc, token_bits(nb), lambda x, y: x + y))
    # assemble the signature: bit b set iff sums[b] > 0 (2^b via pow —
    # powers of two are exact in doubles; b ≤ 59 stays in signed-64)
    indexed = F.zip_with(
        sums,
        F.sequence(F.lit(0), F.lit(59)),
        lambda s, b: F.when(s > 0, F.pow(F.lit(2.0), b.cast("double")).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )
    return F.aggregate(indexed, F.lit(0).cast("long"), lambda acc, x: acc + x)


def sql_simhash60(nibs_expr: str) -> str:
    """DuckDB expression mirroring simhash60_md5 over ``nibs_expr`` (a
    list of per-token 15-nibble integer lists), bit-for-bit."""
    terms = []
    for b in range(60):
        idx, shift = b // 4 + 1, b % 4
        bit = f"((nb[{idx}] >> {shift}) & 1)"
        terms.append(
            f"(CASE WHEN list_sum([2 * {bit} - 1 for nb in {nibs_expr}]) > 0 "
            f"THEN (1::BIGINT << {b}) ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


SIMHASH_BUCKET_CAP = 50  # successors each doc pairs with inside one (band, bits) bucket


def simhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
    bucket_cap: int | None = SIMHASH_BUCKET_CAP,
) -> DataFrame:
    """SimHash near-dup pairs within hamming distance ≤ max_hamming.
    Pigeonhole banding: split the signature into 4 bands; any pair
    with ≤3 differing bits collides on ≥1 band, so candidate
    generation is an equi-join on (band, band_bits), not O(n²).
    ``hash_fn='xxhash64'`` → 64-bit/4×16 production form;
    ``hash_fn='md5'`` → 60-bit/4×15 oracle-parity form (DuckDB can
    reproduce it exactly; see simhash60_md5).

    THE DEFAULT IS SCALE-SAFE: pairing runs through the shared
    ``_bucket_pairs`` chain with ``bucket_cap`` successors per doc,
    so a hot (band, bits) bucket — templated crawl text collapses
    millions of near-boilerplate docs into the SAME 16-bit band value
    — emits an O(N·cap) sorted chain instead of O(N²) pairs. The
    recall trade is the same one lsh_candidate_pairs documents: a
    true pair sitting > cap apart in doc_id order inside an over-cap
    bucket (and within cap in no other band) is forgone; for the
    hamming-0 floods that actually create hot buckets the chain still
    verifies every adjacent pair at distance 0, so connected-
    components dedup keeps the flood ONE component. ``bucket_cap=
    None`` is the exact-hamming all-pairs form — the x03 oracle-
    parity setting, test scales only (its candidate space is
    quadratic in the hottest bucket: 1700+-doc buckets at sf0.1
    already mean ~1.4M pairs from one bucket)."""
    if hash_fn == "md5":
        sig, band_bits, mask = simhash60_md5(text_col), 15, 0x7FFF
    else:
        sig, band_bits, mask = simhash64(text_col), 16, 0xFFFF
    # Token-less docs (empty/whitespace-only text — a common crawl
    # artifact) all hash to signature 0: they'd collide in EVERY band
    # as one mega-bucket and come out as pairwise hamming-0 "dups" at
    # full confidence — quadratic output over a set with no actual
    # content similarity. A signature over zero features is undefined;
    # exclude those docs (mirrored in the x03 oracle).
    sh = _spread(df).filter(F.size(tokens(text_col)) > 0).select(
        F.col(id_col).alias("doc_id"), sig.alias("sh")
    )
    banded = sh.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("sh", band_bits * b)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "sh", "bk.band", "bk.bits")
    # Bucket-then-pair through the SHARED helper (see
    # lsh_candidate_pairs): one shuffle on (band, bits), signatures
    # computed once, pairs only within multi-occupant buckets, and —
    # with the default cap — at most `bucket_cap` successors per doc
    # even in a hot bucket. The payload struct leads with doc_id, so
    # _bucket_pairs' bucket ordering is doc_id order and a.doc_id <
    # b.doc_id by construction. Skew cost: the capped path buckets
    # live in WindowExec's spillable row buffer — no single
    # aggregation-array row even for a degenerate flood bucket — and
    # the pair space itself is capped.
    pairs = (
        _bucket_pairs(
            banded.select("doc_id", "sh", "band", "bits"),
            ["band", "bits"],
            F.struct("doc_id", "sh"),
            bucket_cap,
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


EDIT_PREFIX_LEN = 24  # blocking-key length (chars of normalized prefix)
EDIT_MAX_DIST = 8  # near-dup cutoff (absolute Levenshtein distance)
EDIT_BLOCK_CAP = 500  # skip prefix blocks larger than this (boilerplate prefixes)


def editdistance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    prefix_len: int = EDIT_PREFIX_LEN,
    max_dist: int = EDIT_MAX_DIST,
) -> DataFrame:
    """Edit-distance near-duplicate pairs: Levenshtein ≤ ``max_dist``
    among documents sharing a ``prefix_len``-char normalized prefix.

    A fourth near-dup family beside MinHash (token-set), SimHash
    (weighted-feature), and n-gram Jaccard: Levenshtein is the only
    one sensitive to ORDER at character granularity, catching
    template-edit duplicates (same page, one field changed) that
    token-set measures over-merge and embedding cosine under-splits.

    Scale shape (100 TB): all-pairs Levenshtein is O(n² · len²) —
    never. Blocking on the normalized prefix makes the join an
    equi-join whose cost is sum(block²), the same bound as the
    SimHash band join; the quadratic distance only runs on candidate
    pairs. Production hardening (not needed for the oracle): Spark
    3.5+'s ``levenshtein(l, r, threshold)`` short-circuits the DP at
    the cutoff (O(len·max_dist) per pair), and a second block pass on
    the suffix catches dups whose edit falls inside the prefix —
    same union-of-blocks trick as multi-band LSH.

    No reference analog (the reference has no string functions at
    all, src/qp/parser/parser.cup:197-255)."""
    from pyspark.sql.window import Window as W

    b = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("txt"),
        F.substring(F.lower(F.col(text_col)), 1, prefix_len).alias("blk"),
    )
    # Unlike the LSH/SimHash buckets (hash keys, collision probability
    # bounded), a prefix block can be SYSTEMATICALLY shared — every
    # page of a templated corpus opens with the same 24 chars — so
    # (a) blocks are capped at EDIT_BLOCK_CAP members (oversized
    # blocks are boilerplate, not near-dup candidates; the df-cap
    # recall trade-off, mirrored in the x48 oracle), and (b) pairing
    # is a self-JOIN on the block key rather than a collect_list
    # bucket: an array holding every member's FULL TEXT in one
    # aggregation row is an executor OOM at exactly the block sizes
    # that matter; the join streams pairs instead.
    b = b.withColumn("_bn", F.count("*").over(W.partitionBy("blk"))).filter(
        (F.col("_bn") >= 2) & (F.col("_bn") <= EDIT_BLOCK_CAP)
    )
    a = b.select(F.col("doc_id").alias("id_a"), F.col("txt").alias("_ta"), "blk")
    c = b.select(F.col("doc_id").alias("id_b"), F.col("txt").alias("_tb"), "blk")
    return (
        a.join(c, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("_ta"), F.col("_tb")).alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def substring_dup_spans(
    df: DataFrame, id_col: str, text_col: str, k: int = 8
) -> DataFrame:
    """Exact repeated-substring spans, suffix-array-style (the "dedup
    long verbatim repeats" primitive of Lee et al. 2022, which removes
    any substring of >= N tokens that appears more than once in the
    corpus). A true distributed suffix array is overkill on Spark; the
    standard scalable equivalent is k-gram chaining: a token position
    is *duplicated* iff the k-gram starting there occurs >= 2 times
    corpus-wide, and every maximal repeated substring of length
    >= k is exactly a maximal run of consecutive duplicated positions
    (a repeat of length L >= k duplicates its L-k+1 covering k-grams).
    Returns one row per maximal duplicated span:
    (doc_id, span_start 1-based token index, span_tokens).

    Shape & scale: gram explode is a generator in the scan stage (no
    shuffle); duplicated-gram marking is a COUNT window on the gram
    partition (one exchange carrying (doc_id, pos) — the x33
    boilerplate shape, same viral-gram caveat and same groupBy+join
    fallback if a fat gram partition ever bites); run chaining is a
    lag + running-sum window on the doc partition (second exchange)
    followed by a per-(doc, run) aggregate that rides the same
    partitioning. No join, no pair space — cost is linear in corpus
    token count regardless of how much duplication exists.

    No reference analog (the reference's only dedup is row-level
    DISTINCT, src/qp/operators/Project.java:122-292)."""
    from pyspark.sql.window import Window

    # Optimizer fences (see corpus.clean_gate): keep the tokenize
    # regex from being re-inlined into every gram slice.
    toks_f = F.when(F.monotonically_increasing_id() >= -1, tokens(text_col))
    grams_f = F.when(
        F.monotonically_increasing_id() >= -1, word_ngrams(F.col("toks"), k)
    )
    # The duplicated-gram COUNT window shuffles every token position
    # once, keyed by the k-gram. Key it by xxhash64 of the gram (r12,
    # guide §2.3): the marking depends on gram IDENTITY only, and the
    # exchange + window sort then carry an 8-byte long instead of a
    # ~50-byte k-gram string. Identity contract as doc_shingle_hashes
    # (injective on every tested corpus, 8-gram check in
    # artifacts/COLLISION_CHECK_r12.json; at 100 TB a colliding pair
    # adds a spurious duplicated mark with p≈2^-64 per gram pair).
    g = (
        df.select(F.col(id_col).alias("doc_id"), toks_f.alias("toks"))
        .select("doc_id", grams_f.alias("grams"))
        .select("doc_id", F.posexplode("grams").alias("pos0", "gram"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), F.xxhash64("gram").alias("gh"))
    )
    dup = (
        g.withColumn("cnt", F.count("*").over(Window.partitionBy("gh")))
        .filter(F.col("cnt") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) == 1, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn("run", F.sum("brk").over(w))
    return (
        runs.groupBy("doc_id", "run")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_tokens"),
        )
        .select("doc_id", "span_start", "span_tokens")
    )
