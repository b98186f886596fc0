"""Lexical retrieval and language-model scoring over document corpora
— the query-side complement of the dedup/similarity operators (no
reference analog; the reference has no text surface at all beyond
STRING equality, src/qp/utils/Attribute.java:11-13).

Scale design:
  * BM25 (bm25_topk, query-literal terms): per-document term
    frequencies are per-row array expressions over ONE shared
    tokenize — no explode, no (doc, term) shuffle; the only exchange
    is the single-row corpus-stats aggregate broadcast back to the
    scoring scan. Scoring is scan-side arithmetic; the top-k is
    TakeOrderedAndProject (per-partition heaps, driver merges k rows
    — never a global sort). Cost is O(|terms|·|tokens|) per row:
    right for search-query-sized term lists (see bm25_topk).
  * BM25 (bm25_hard_negatives, query docs × corpus): term
    frequencies come from one explode+groupBy over the token stream
    (shuffle keyed by (doc, term), map-side combined, query-term
    semi-join BEFORE the shuffle); document frequencies and corpus
    stats are tiny aggregates that broadcast.
  * Unigram-LM scoring: the "train" pass is a token-frequency
    aggregate (one shuffle of (term, count)); the "score" pass joins
    per-token log-probs back and fold-sums them per document. The
    vocabulary table broadcasts; the fold is over each document's own
    token array, so scoring is embarrassingly parallel.

Cross-engine determinism: every floating-point reduction is an
ORDERED sequential fold (sort_array + F.aggregate here, list_sum
over an ORDER BY'd list in the DuckDB oracle) — float addition is
not associative, so an unordered SUM() would hash-mismatch even with
both engines bit-correct.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from database_query_processor_spark.functions.text import tokens

BM25_K1 = 1.2
BM25_B = 0.75


def _bm25_term_score(
    tf: Column | None = None,
    df: Column | None = None,
    dl: Column | None = None,
    n_docs: Column | None = None,
    avgdl: Column | None = None,
) -> Column:
    """The shared per-term Okapi BM25 score expression:
    idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with RSJ
    idf = ln((N - df + 0.5)/(df + 0.5) + 1). Parameterized over column
    expressions (defaults: the like-named columns) so bm25_topk's
    per-index tf_i/df_i columns and bm25_hard_negatives' exploded
    (tf, df) rows evaluate the ONE definition — keeping them and the
    DuckDB oracles from drifting apart on the formula or K1/B. The
    operation ORDER below is part of the cross-engine contract (float
    addition/multiplication are not associative)."""
    tf = F.col("tf") if tf is None else tf
    df = F.col("df") if df is None else df
    dl = F.col("dl") if dl is None else dl
    n_docs = F.col("n_docs") if n_docs is None else n_docs
    avgdl = F.col("avgdl") if avgdl is None else avgdl
    idf = F.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
    return (
        idf
        * (tf * (BM25_K1 + 1.0))
        / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * dl / avgdl))
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str],
    k: int = 10,
) -> DataFrame:
    """Okapi BM25 top-k: score = Σ_t idf(t) · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl)) with the Robertson-Sparck-Jones
    idf = ln((N − df + 0.5)/(df + 0.5) + 1). Per-document term scores
    are summed in term order (sorted struct array + sequential fold)
    so the result is bit-reproducible across engines and
    partitionings.

    ``terms`` is assumed to be a search-query-sized literal list: the
    per-row tf scans make cost O(|terms|·|tokens|) per document, the
    right trade for short queries (it removes the (doc, term) shuffle
    entirely) but a silent degradation for hundred-term lists — use
    the explode-shaped bm25_hard_negatives machinery for those. An
    empty ``terms`` matches nothing and returns an empty frame."""
    if not terms:
        return df.select(
            F.col(id_col).alias("doc_id"), F.lit(0.0).alias("score")
        ).limit(0)
    # Query terms are a short literal list (a search query), so per-doc
    # term frequencies are per-row ARRAY expressions over one shared
    # tokenize — no explode, no (doc_id, term) shuffle at all. One scan
    # produces (doc_id, dl, tf_0..tf_m) feeding both the single-row
    # corpus-stats aggregate and the scoring projection (two scans of
    # the parquet, each tokenizing once — down from FOUR tokenize
    # passes in the old explode shape, where the tf, df, dl and avgdl
    # branches each re-ran scan+Generate; Catalyst pushes the
    # match-only filter into the scoring branch's scan, so non-matching
    # docs exit before the join).
    terms_sorted = sorted(set(terms))
    toks = tokens(text_col)  # CSE'd across the size/filter expressions below

    def _tf(t: str) -> Column:
        # NB: single-parameter lambda — a second (default) parameter
        # would make PySpark pass the ELEMENT INDEX as the second arg.
        return F.size(F.filter(toks, lambda x: x == F.lit(t)))

    per_doc = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("dl"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(terms_sorted)],
    )
    # n_docs/avgdl replicate the explode shape exactly: a doc with zero
    # tokens never produced a (doc_id, tok) row, so it counts toward
    # neither n_docs nor avgdl's denominator (dl=0 adds nothing to the
    # numerator either way).
    n_docs = F.count(F.when(F.col("dl") > 0, True))
    stats = per_doc.agg(
        n_docs.alias("n_docs"),
        (F.sum("dl") / n_docs).alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, True)).alias(f"df_{i}")
            for i in range(len(terms_sorted))
        ],
    )

    def term_s(i: int) -> Column:
        tf = F.col(f"tf_{i}")
        s = _bm25_term_score(tf=tf, df=F.col(f"df_{i}"))
        return F.when(tf > 0, s).otherwise(F.lit(0.0))

    # Left fold in ascending-term order, seeded with 0.0 — the same
    # sequence of double additions as the old sort_array + F.aggregate
    # fold (absent terms contribute +0.0, which is bitwise identity
    # here: every real term score is > 0 and the accumulator is never
    # -0.0). round to 9 decimals: JVM Math.log and C libm log() legally
    # differ in the last ulp (~2e-16), which would break the
    # cross-engine value hash; 9 decimals is far above ulp noise and
    # far below any meaningful score distinction.
    score = F.lit(0.0)
    for i in range(len(terms_sorted)):
        score = score + term_s(i)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(
            F.greatest(*[F.col(f"tf_{i}") for i in range(len(terms_sorted))]) > 0
            if len(terms_sorted) > 1
            else F.col("tf_0") > 0
        )
        .select("doc_id", F.round(score, 9).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def sql_bm25_topk(terms: list[str], k: int = 10, toks_sql: str = "") -> str:
    """DuckDB oracle mirroring bm25_topk bit-for-bit (same fold order,
    same double arithmetic)."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH toks AS (SELECT doc_id, unnest({toks_sql}) AS tok FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
corpus AS (SELECT count(*) AS n_docs,
                  cast(sum(dl) AS double) / count(*) AS avgdl FROM dl),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
       WHERE tok IN ({in_list}) GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
ts AS (SELECT tf.doc_id, tf.tok,
              ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
              * (tf * ({BM25_K1} + 1.0))
              / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl)) AS s
       FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN corpus)
SELECT doc_id, round(list_sum(list(s ORDER BY tok)), 9) AS score
FROM ts GROUP BY doc_id
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def unigram_logprob_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-trained unigram-LM quality score (the CCNet/perplexity
    filtering shape): nll(doc) = −(1/|doc|) Σ_i ln p(tok_i) with
    p(tok) = corpus_count(tok) / corpus_total. Lower = more typical
    of the corpus; filtering or temperature-sampling on this column
    is the classic LM-quality gate. Per-token log-probs are folded in
    token-POSITION order for bit-reproducibility."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    lnp = F.log(F.col("cnt") / F.col("total"))
    per_tok = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.struct(F.col("pos"), lnp.alias("lp")).alias("pl"))
    )
    return (
        per_tok.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pl")).alias("arr"))
        .select(
            "doc_id",
            F.size("arr").alias("n_toks"),
            F.round(
                -F.aggregate(F.col("arr"), F.lit(0.0), lambda acc, x: acc + x["lp"])
                / F.size("arr"),
                9,
            ).alias("nll"),
        )
    )


def sql_unigram_logprob(toks_sql: str = "") -> str:
    """DuckDB oracle mirroring unigram_logprob_scores bit-for-bit.

    Deliberately NO MATERIALIZED hints: measured at sf10 (500k docs),
    hinting toks/vocab made this oracle 3.3x SLOWER (345 s inlined ->
    1121 s materialized, SWEEP_SF10_TEXT_r09.txt has both rows) —
    materializing the ~60M-row tokenized relation costs more than the
    inlined recompute DuckDB chooses. The opposite call from x62 /
    sql_bigram_logprob, where hints win; per-oracle, measured."""
    return f"""
WITH toks AS (SELECT doc_id, unnest({toks_sql}) AS tok,
                     generate_subscripts({toks_sql}, 1) AS pos
              FROM documents),
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT sum(cnt) AS total FROM vocab),
pt AS (SELECT doc_id, pos, ln(cast(cnt AS double) / cast(total AS double)) AS lp
       FROM toks JOIN vocab USING (tok) CROSS JOIN total)
SELECT doc_id, count(*) AS n_toks,
       round(-list_sum(list(lp ORDER BY pos)) / count(*), 9) AS nll
FROM pt GROUP BY doc_id
"""


BIGRAM_LAMBDA = 0.75  # interpolation weight on the bigram term


def bigram_logprob_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Corpus-trained interpolated bigram-LM quality score — the next
    rung up from `unigram_logprob_scores` toward the 5-gram KenLM
    CCNet actually filters with:

        p(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1})
                         + (1−λ)·c(w_i)/total          (λ = 0.75)
        nll(doc) = −(1/(n−1)) Σ_{i=2..n} ln p(w_i | w_{i-1})

    Interpolation with the unigram model means unseen bigrams get
    backed-off mass instead of −∞ (and in a self-trained setting
    every doc's own bigrams have count ≥ 1 anyway). Context mass
    c(w_{i-1}) is the plain unigram count — the boundary-position
    refinement changes scores by O(1/doc_count) and no ranking at
    corpus scale; documented so the oracle mirrors exactly.

    Scale shape: bigram extraction is array algebra on the scan side
    (slice + zip_with, no shuffle); the "train" pass is one
    (prev,cur)-keyed count shuffle (map-side combined) and the
    "score" pass joins those counts back — Catalyst/AQE broadcasts
    them while they fit, and degrades to a shuffle join when the
    bigram vocabulary outgrows memory, which is exactly the right
    behavior (a forced broadcast would OOM first). Docs with < 2
    tokens have no bigrams and drop out, same as the oracle.
    Per-bigram log-probs fold in position order (see module
    docstring on ordered float reductions)."""
    ta = tokens(text_col)
    n = F.size(ta)
    # n == 0 would make the slice length -1 (a runtime error, not an
    # empty slice): gate on n >= 2 so zero- and one-token docs yield
    # an empty bigram array and drop out, as documented.
    bg = F.when(
        n >= 2,
        F.zip_with(
            F.slice(ta, 1, n - 1),
            F.slice(ta, 2, n - 1),
            lambda p, c: F.struct(p.alias("prev"), c.alias("cur")),
        ),
    ).otherwise(F.array().cast("array<struct<prev:string,cur:string>>"))
    bgs = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(bg).alias("pos", "b"),
    ).select("doc_id", "pos", F.col("b.prev").alias("prev"), F.col("b.cur").alias("cur"))
    toks = df.select(F.explode(tokens(text_col)).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    bgc = bgs.groupBy("prev", "cur").agg(F.count("*").alias("cb"))
    lam = F.lit(BIGRAM_LAMBDA)
    lnp = F.log(
        lam * (F.col("cb") / F.col("cu_prev"))
        + (F.lit(1.0) - lam) * (F.col("cu_cur") / F.col("total"))
    )
    per_bg = (
        bgs.join(bgc, ["prev", "cur"])
        .join(vocab.select(F.col("tok").alias("prev"), F.col("cnt").alias("cu_prev")), "prev")
        .join(vocab.select(F.col("tok").alias("cur"), F.col("cnt").alias("cu_cur")), "cur")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.struct(F.col("pos"), lnp.alias("lp")).alias("pl"))
    )
    return (
        per_bg.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pl")).alias("arr"))
        .select(
            "doc_id",
            F.size("arr").alias("n_bigrams"),
            F.round(
                -F.aggregate(F.col("arr"), F.lit(0.0), lambda acc, x: acc + x["lp"])
                / F.size("arr"),
                9,
            ).alias("nll"),
        )
    )


def sql_bigram_logprob(toks_sql: str = "", sample_mod: int = 0) -> str:
    """DuckDB oracle mirroring bigram_logprob_scores bit-for-bit.

    ONLY the bg CTE is AS MATERIALIZED — it is the fan-out point of
    DuckDB's CTE-inlining blowup (bg feeds bgc AND pt, and pt joins
    vocab twice, so an inlined bg re-runs the tokenize+lag chain
    combinatorially; the unhinted form burned >6 CPU-hours at sf10
    without finishing vs 22 s for the whole sf1 row). toks and vocab
    stay UNHINTED on purpose: materializing them was measured SLOWER
    (the same probe found the unigram oracle 3.3x faster unhinted).
    Hint only; results identical.

    ``sample_mod`` > 0 emits the big-scale SAMPLED-SLICE form (the
    x62 %9700 precedent): corpus statistics (vocab / bgc / total)
    still come from EVERY document, but the per-position bigram
    relation that feeds the join ladder and the ordered per-doc fold
    is restricted to doc_id % sample_mod = 0 — compare against the
    engine's output filtered the same way. The full form materializes
    every (doc, pos, prev, cur) row and list-aggregates all of them
    per doc, which peaked at ~80 GB / 890 s at sf10 (500k docs) and
    OOM-crashed twice under DUCKDB_MEMLIMIT=48GB before duck_connect
    had a spill path; the sliced form's memory scales with the slice
    while still proving full-corpus statistics (a wrong vocab/bgc
    count anywhere shifts every sampled doc's nll). bgc gets its own
    full-corpus lag-window pass (streamed straight into the count
    group-by, never materialized per-position); results on the
    sampled docs are identical to the full form — pinned by
    test_bigram_oracle_sampled_slice_parity."""
    if sample_mod:
        bg_src = f"(SELECT * FROM toks WHERE doc_id % {sample_mod} = 0)"
        bgc_src = (
            "(SELECT lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,"
            " tok AS cur FROM toks QUALIFY prev IS NOT NULL)"
        )
    else:
        bg_src = "toks"
        bgc_src = "bg"
    return f"""
WITH toks AS (SELECT doc_id, unnest({toks_sql}) AS tok,
                     generate_subscripts({toks_sql}, 1) AS pos
              FROM documents),
bg AS MATERIALIZED (SELECT doc_id, pos - 1 AS pos,
              lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev,
              tok AS cur
       FROM {bg_src} QUALIFY prev IS NOT NULL),
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
total AS (SELECT sum(cnt) AS total FROM vocab),
bgc AS (SELECT prev, cur, count(*) AS cb FROM {bgc_src} GROUP BY prev, cur),
pt AS (SELECT doc_id, pos,
              ln({BIGRAM_LAMBDA} * (cast(cb AS double) / cast(vp.cnt AS double))
                 + (1.0 - {BIGRAM_LAMBDA}) * (cast(vc.cnt AS double) / cast(total AS double))) AS lp
       FROM bg JOIN bgc USING (prev, cur)
               JOIN vocab vp ON bg.prev = vp.tok
               JOIN vocab vc ON bg.cur = vc.tok
               CROSS JOIN total)
SELECT doc_id, count(*) AS n_bigrams,
       round(-list_sum(list(lp ORDER BY pos)) / count(*), 9) AS nll
FROM pt GROUP BY doc_id
"""


RRF_K = 60


def hybrid_rrf_topk(
    docs: DataFrame,
    emb: DataFrame,
    terms: list[str],
    query_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    pool: int = 50,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion — the standard
    RAG-corpus primitive combining a lexical ranker and a dense
    ranker: rrf(d) = Σ_sys 1/(rrf_k + rank_sys(d)) over the systems
    that retrieved d (missing rank contributes 0), fused over a
    ``pool``-deep candidate list per system, top-``k`` by fused score.
    Embedding rows join the document domain by vec_id == doc_id.

    Output: doc_id, rrf (ROUND 9), lex_rank, dense_rank (NULL where
    one system missed the doc).

    Scale: both rankers end in TakeOrderedAndProject (per-partition
    heaps, k rows to the driver-side merge) — the global row_number
    windows and the full-outer fusion join run on ≤pool rows each, a
    CONSTANT, so single-partition execution there is correct, not a
    bottleneck. Corpus-sized work is exactly the two rankers' own
    scans; nothing else touches the data."""
    from pyspark.sql import Window as W

    from database_query_processor_spark.operators.similarity import cosine_topk

    lex = bm25_topk(docs, id_col, text_col, terms, k=pool)
    lexr = lex.select(
        F.col("doc_id"),
        F.row_number()
        .over(W.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
        .alias("lex_rank"),
    )
    dense = cosine_topk(emb, vec_id_col, vec_col, query_id, k=pool)
    denser = dense.select(
        F.col(vec_id_col).alias("doc_id"),
        F.row_number()
        .over(W.orderBy(F.col("cos").desc(), F.col(vec_id_col).asc()))
        .alias("dense_rank"),
    )
    contrib = lambda r: F.coalesce(F.lit(1.0) / (rrf_k + F.col(r)), F.lit(0.0))  # noqa: E731
    return (
        lexr.join(denser, "doc_id", "full")
        .select(
            "doc_id",
            F.round(contrib("lex_rank") + contrib("dense_rank"), 9).alias("rrf"),
            "lex_rank",
            "dense_rank",
        )
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def sql_hybrid_rrf(
    terms: list[str],
    query_id: int,
    cosine_sql: str,
    k: int = 10,
    pool: int = 50,
    rrf_k: int = RRF_K,
    toks_sql: str = "",
) -> str:
    """DuckDB oracle mirroring hybrid_rrf_topk (same rank tie-breaks,
    same 1/(k+rank) double arithmetic, ROUND 9). ``cosine_sql`` is the
    engine-shared ordered-fold cosine expression over (embedding, qv)
    — similarity.sql_cosine('embedding', 'qv')."""
    return f"""
WITH lexr AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
  FROM ({sql_bm25_topk(terms, k=pool, toks_sql=toks_sql)}) lex),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
dense AS (
  SELECT vec_id, {cosine_sql} AS cos
  FROM embeddings, q WHERE vec_id <> {query_id}
  ORDER BY cos DESC, vec_id ASC LIMIT {pool}),
denser AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (ORDER BY cos DESC, vec_id ASC) AS dense_rank
  FROM dense)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
       ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({rrf_k} + lex_rank), 0.0)
             + COALESCE(CAST(1.0 AS DOUBLE) / ({rrf_k} + dense_rank), 0.0),
             9) AS rrf,
       lex_rank, dense_rank
FROM lexr l FULL JOIN denser d ON l.doc_id = d.doc_id
ORDER BY rrf DESC, doc_id ASC LIMIT {k}
"""


def cross_encoder_rerank(
    docs: DataFrame,
    candidates: DataFrame,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
) -> DataFrame:
    """Rerank a retrieval candidate pool with a query-document
    INTERACTION scorer — the cross-encoder stage of the standard
    retrieve-then-rerank pipeline (first-stage rankers score query
    and document independently; the reranker sees both together).
    A real deployment batches (query, doc) pairs through a model in
    an Arrow ``mapInPandas``; here the interaction features are a
    deterministic proxy with the same data flow:

        ce(d) = Σ_t [ tf_t/(tf_t+1)  +  1/(1+pos_t) ]   (t present)

    term saturation (BM25-ish diminishing tf) plus an early-position
    prior, 0 for absent terms, ROUND 9 before the cut (double
    contract). Output: doc_id, rrf (carried from the pool), ce_score,
    ordered ce DESC / rrf DESC / doc_id ASC, top-k.

    Scale: candidates are a CONSTANT-size pool (first-stage top-N) —
    broadcast-joined against the corpus, so the rerank touches only
    |pool| documents' text regardless of corpus size; the expensive
    model pass is bounded by the pool, which is the whole point of
    the two-stage design."""
    # Join FIRST, tokenize after: computing _tk in a pre-join projection
    # evaluates the regex tokenize for EVERY corpus row (the Project
    # sits below the broadcast join in the optimized plan — confirmed
    # by explain); with the join first, only the |pool| surviving rows
    # are tokenized, which is the whole pool-bounded contract.
    scored = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("_text"))
        .join(F.broadcast(candidates.select("doc_id", "rrf")), "doc_id")
        .select("doc_id", "rrf", tokens("_text").alias("_tk"))
    )
    def _eq(term):
        # NB: F.filter dispatches on lambda arity — a second parameter
        # would be bound to the element INDEX, so close over the term
        # with a factory instead of a default arg.
        return lambda x: x == F.lit(term)

    # seed with 0.0 so an empty terms list (query fully stripped by the
    # tokenizer) degrades to ce_score 0 — pool order falls back to rrf —
    # instead of an IndexError before any plan is built
    total = F.lit(0.0)
    for t in terms:
        tf = F.size(F.filter(F.col("_tk"), _eq(t)))
        pos = F.array_position(F.col("_tk"), t)
        total = total + F.when(
            pos > 0,
            tf.cast("double") / (tf + 1) + F.lit(1.0) / (1 + pos),
        ).otherwise(F.lit(0.0))
    return (
        scored.select("doc_id", "rrf", F.round(total, 9).alias("ce_score"))
        .orderBy(F.col("ce_score").desc(), F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def sql_cross_encoder_rerank(
    candidates_sql: str, terms: list[str], k: int = 10, toks_sql: str = ""
) -> str:
    """DuckDB oracle mirroring cross_encoder_rerank over any candidate
    subquery producing (doc_id, rrf, ...): same saturation+position
    features, same ROUND 9, same tie-breaks. Absent-term sentinel
    differs per engine (DuckDB list_position: 0 or NULL depending on
    version; Spark array_position: 0) — ``COALESCE(pos, 0) >= 1`` maps
    every sentinel to the 0-contribution branch."""
    parts = []
    for t in terms:
        tf = f"len(list_filter(toks, x -> x = '{t}'))"
        pos = f"list_position(toks, '{t}')"
        parts.append(
            f"CASE WHEN COALESCE({pos}, 0) >= 1 THEN "
            f"CAST({tf} AS DOUBLE) / ({tf} + 1) "
            f"+ CAST(1.0 AS DOUBLE) / (1 + {pos}) "
            f"ELSE 0.0 END"
        )
    total = " + ".join(parts) if parts else "CAST(0.0 AS DOUBLE)"
    return f"""
WITH cand AS ({candidates_sql}),
d AS (SELECT doc_id, {toks_sql} AS toks FROM documents)
SELECT cand.doc_id, cand.rrf, ROUND({total}, 9) AS ce_score
FROM cand JOIN d ON cand.doc_id = d.doc_id
ORDER BY ce_score DESC, rrf DESC, cand.doc_id ASC LIMIT {k}
"""


def nb_classifier_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    positive_cond,
    train_pct: int = 80,
) -> DataFrame:
    """Train-and-apply a multinomial Naive-Bayes text classifier in
    one plan — the fastText-style "quality classifier" gate every
    large pretraining pipeline runs (e.g. GPT-3/LLaMA's
    looks-like-wiki filters), reduced to its linear log-odds core so
    both engines reproduce it bit-for-bit. Docs hash-gated into an
    80/20 train/test split (the x43 deterministic gate); training
    computes per-token log-odds with add-one smoothing

        lo(tok) = ln((c_pos+1)/(N_pos+V)) − ln((c_neg+1)/(N_neg+V))

    plus the doc-count prior ln(D_pos/D_neg); scoring folds each test
    doc's token log-odds in position order and adds the prior.
    Returns (doc_id, n_toks, score, pred, actual) for every test doc
    with ≥1 token. Unseen test tokens get the smoothed zero-count
    log-odds (coalesce, not dropped).

    Shape & scale: ONE token-count shuffle over the train split
    (map-side combined, one row per distinct token); vocabulary and
    totals broadcast back onto the test token stream (the big side
    never shuffles for the join); one per-doc aggregate. The model
    IS a DataFrame — at 100 TB it spills to a shuffle join exactly
    when a broadcast model would OOM, which is the right degradation.

    No reference analog (no text surface in the reference,
    src/qp/parser/parser.cup:197-255)."""
    from database_query_processor_spark.operators.corpus import det_hash

    base = df.select(
        F.col(id_col).alias("doc_id"),
        (det_hash(F.col(id_col)) % 100 < train_pct).alias("is_train"),
        F.coalesce(positive_cond, F.lit(False)).alias("y"),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    counts = (
        base.filter("is_train")
        .groupBy("tok")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("cp"),
            F.sum(F.when(~F.col("y"), 1).otherwise(0)).cast("long").alias("cn"),
        )
    )
    tot = counts.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cn").cast("long").alias("nn"),
        F.count("*").alias("v"),
    )
    priors = (
        df.select(
            (det_hash(F.col(id_col)) % 100 < train_pct).alias("is_train"),
            F.coalesce(positive_cond, F.lit(False)).alias("y"),
        )
        .filter("is_train")
        .agg(
            F.sum(F.when(F.col("y"), 1).otherwise(0)).cast("long").alias("dp"),
            F.sum(F.when(~F.col("y"), 1).otherwise(0)).cast("long").alias("dn"),
        )
    )
    lo = F.log(
        (F.coalesce(F.col("cp"), F.lit(0)) + 1) / (F.col("np") + F.col("v")).cast("double")
    ) - F.log(
        (F.coalesce(F.col("cn"), F.lit(0)) + 1) / (F.col("nn") + F.col("v")).cast("double")
    )
    scored = (
        base.filter(~F.col("is_train"))
        .join(F.broadcast(counts), "tok", "left")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", "y", F.struct("pos", lo.alias("lo")).alias("pl"))
        .groupBy("doc_id", "y")
        .agg(F.sort_array(F.collect_list("pl")).alias("arr"))
        .crossJoin(F.broadcast(priors))
    )
    score = F.round(
        F.log(F.col("dp") / F.col("dn").cast("double"))
        + F.aggregate(F.col("arr"), F.lit(0.0), lambda acc, x: acc + x["lo"]),
        9,
    )
    return scored.select(
        "doc_id",
        F.size("arr").cast("long").alias("n_toks"),
        score.alias("score"),
        (score > 0).alias("pred"),
        F.col("y").alias("actual"),
    )


def bm25_hard_negatives(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_cond,
    k: int = 3,
    dup_threshold: float = 0.5,
    pool_m: int = 10,
) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: for
    every query document (rows matching ``query_cond``), the top-k
    BM25-scored corpus documents that are NOT near-duplicates of the
    benchmark — lexically close enough to be hard, but screened so no
    unlabeled positive (a near-dup) is ever used as a negative. The
    standard BM25-negatives recipe (e.g. DPR/SBERT training data),
    with the x52 decontamination gate fused in as retrieve-then-
    filter: the top ``pool_m`` BM25 candidates per query form the
    pool, the dup screen removes contaminated pool members, and the
    survivors re-rank to k — the usual production shape (a query
    whose ENTIRE top-m pool is contaminated yields < k negatives,
    which is the honest answer: everything lexically close was a dup).

    Output: (query_id, neg_id, score, rank) with rank 1..k per query.
    score = Σ_terms floor(term_score·1e9 + 0.5) / 1e9 — each per-term
    BM25 score (a deterministic IEEE chain over exact integer tf, df,
    dl and a single-divide avgdl, so bit-identical cross-engine) is
    quantized ONCE to integer nano-units; the sum is then an exact
    BIGINT (order-free, shuffle-safe) and the final /1e9 is one IEEE
    divide. r7 used sort_array(collect_list)+ordered-fold for the
    same determinism — the r8 quantized sum replaces that with a
    plain hash aggregate, which is both the 100 TB shape (partial
    map-side combine; no per-group array buffer) and the sf1 tail
    fix: 297 s → see ROUND8_NOTES for the measured cut.

    Scale shape: corpus stats and tf come from one token-count
    shuffle over the CORPUS side, prefiltered to tokens that appear
    in any query (a semi-join against the query vocabulary — the
    shuffle carries query-relevant terms only); the scoring join
    fans out one row per (query, doc, shared term); the per-query
    top-m pool cut plans as WindowGroupLimit, so map tasks prune to
    ≤m rows per query BEFORE the window exchange — the (query × doc)
    score matrix never ships; the dup screen (a broadcast inverted
    index) then touches only queries × m rows. The token table is
    persisted (one tokenize pass feeds dl, qterms, tf —
    same lifecycle contract as minhash_dedup_pairs' shingle cache).
    At production query-set sizes, additionally df-cap the query
    vocabulary (drop stop-terms) exactly like x04 — the residual
    term fan-out is bounded by Σ_t df(t)·qf(t) and stop-terms
    dominate it."""
    from database_query_processor_spark.operators.corpus import jaccard_decontaminate

    toks = df.select(
        F.col(id_col).alias("doc_id"),
        query_cond.alias("is_q"),
        F.explode(tokens(text_col)).alias("tok"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    cand = toks.filter(~F.col("is_q"))
    dl = cand.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"), (F.sum("dl") / F.count("*")).alias("avgdl")
    )
    qterms = (
        toks.filter("is_q")
        .select(F.col("doc_id").alias("query_id"), "tok")
        .distinct()
    )
    tf = (
        cand.join(F.broadcast(qterms.select("tok").distinct()), "tok", "leftsemi")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    tscore = _bm25_term_score()
    # quantize each term score to integer nano-units; floor(x + 0.5)
    # rather than round() because round-half rules differ across
    # engines (scores are non-negative, so this IS half-up)
    ts = (
        qterms.join(tf, "tok")
        .join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "query_id",
            "doc_id",
            F.floor(tscore * F.lit(1e9) + F.lit(0.5)).cast("long").alias("su"),
        )
    )
    scored = (
        ts.groupBy("query_id", "doc_id")
        .agg(F.sum("su").alias("su"))
        .select("query_id", "doc_id", (F.col("su") / F.lit(1e9)).alias("score"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    pool = (
        scored.withColumn("_pm", F.row_number().over(w))
        .filter(F.col("_pm") <= pool_m)
        .drop("_pm")
    )
    contam = jaccard_decontaminate(
        df, id_col, text_col, query_cond, threshold=dup_threshold
    ).filter("contaminated").select(F.col("doc_id"))
    return (
        pool.join(contam, "doc_id", "left_anti")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("doc_id").alias("neg_id"), "score", "rank")
    )
