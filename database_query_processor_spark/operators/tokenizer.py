"""Tokenizer training on the corpus: byte-pair-encoding merge
learning and application (Sennrich et al. 2016), the
vocabulary-construction step every LLM pretraining pipeline runs
before tokenizing its data.

No reference analog (the reference has no text surface at all,
src/qp/parser/parser.cup:197-255).

Each BPE round is pure relational algebra, so the whole multi-round
learner stays ONE lazy DataFrame DAG — no driver-side loop state, no
collect():

  1. pair counting: explode each word type's adjacent symbol pairs,
     weight by the word's corpus frequency, aggregate — one shuffle
     keyed by (left, right), map-side combined. The frame is WORD
     TYPES (Zipf-bounded vocabulary), not corpus tokens, so at 100 TB
     the per-round cost is the one-off word-count aggregate plus
     rounds over a small types table.
  2. arg-max: orderBy(count DESC, pair ASC) LIMIT 1 compiles to
     TakeOrderedAndProject, then broadcast-crossJoins back onto the
     types frame (1 row — never a shuffle).
  3. merge application: greedy leftmost non-overlapping replacement
     of the winning pair inside each word's symbol list, as a single
     ordered F.aggregate fold (JVM, exact — the accumulator carries
     the pending unmerged symbol, so "aaa" + (a,a) correctly yields
     ["aa","a"]).

Rounds chain by building round r's types frame from round r-1's; the
demo keeps the whole learner one lazy DAG (each extra round
re-derives its ancestors, O(rounds²) over the types table). At
production round counts pass `checkpoint_every=k`: the chain
checkpoints the types frame every k rounds, bounding every plan's
lineage at k and making total work O(rounds·k).

The DuckDB oracle (sql_bpe_merges) reproduces the merge bit-for-bit
with a different mechanism — position explode + run-parity windows
(within a maximal run of consecutive matches, greedy-leftmost takes
the odd positions) — which doubles as an independent check of the
fold's greedy semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from database_query_processor_spark.functions.text import tokens

PAIR_STRUCT = "array<struct<l:string,r:string>>"


def _adjacent_pairs(syms: Column) -> Column:
    """Adjacent (l, r) symbol pairs of one word; empty for 1-symbol
    words (guarded: sequence() would count DOWN for an empty range)."""
    return F.when(
        F.size(syms) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("l"),
                F.element_at(syms, i + 1).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast(PAIR_STRUCT))


def _merge_pair(syms: Column, l: Column, r: Column) -> Column:
    """Greedy leftmost non-overlapping merge of adjacent (l, r) into
    l||r — the BPE apply step — as one ordered fold. The accumulator
    holds (out, pending): pending is the last symbol not yet emitted,
    so a merge consumes it and overlapping candidates ("aaa" with
    (a,a)) merge left-first exactly like the reference algorithm."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit("").alias("pending")
    )

    def step(acc, s):
        flush = F.when(acc["pending"] == "", acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pending"]))
        )
        return F.when(
            (acc["pending"] == l) & (s == r),
            F.struct(
                F.concat(acc["out"], F.array(F.concat(l, r))).alias("out"),
                F.lit("").alias("pending"),
            ),
        ).otherwise(F.struct(flush.alias("out"), s.alias("pending")))

    def finish(acc):
        return F.when(acc["pending"] == "", acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pending"]))
        )

    return F.aggregate(syms, init, step, finish)


def _word_types(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt, syms): word types with corpus occurrence counts and
    their initial character-symbol lists."""
    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            "word",
            "cnt",
            F.filter(F.split("word", ""), lambda c: F.length(c) > 0).alias("syms"),
        )
    )


def _merge_chain(
    types: DataFrame, rounds: int, checkpoint_every: int | None = None,
) -> tuple[list[DataFrame], DataFrame]:
    """Run `rounds` learn+apply BPE rounds over the types frame.
    Returns (per-round 1-row winner frames, the fully-merged types
    frame).

    `checkpoint_every=k` localCheckpoints the types frame every k
    rounds, truncating lineage so no round's plan (winner frames
    included) re-derives more than k ancestors: total work drops from
    O(rounds²) re-derivation to O(rounds·k) plus rounds/k bounded
    materializations of the Zipf-bounded types table — the knob a
    production 30k-merge vocabulary run needs. None (the demo
    default) keeps the whole learner one lazy DAG; checkpointing
    never changes values, only lineage."""
    tops = []
    for rnd in range(rounds):
        pairs = (
            types.select("cnt", F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
            .groupBy(F.col("p.l").alias("lsym"), F.col("p.r").alias("rsym"))
            .agg(F.sum("cnt").cast("long").alias("pair_count"))
        )
        top = pairs.orderBy(F.desc("pair_count"), F.asc("lsym"), F.asc("rsym")).limit(1)
        tops.append(top)
        # Exhausted-merge guard: once no adjacent pair remains (every
        # word fully merged), `top` is EMPTY — a crossJoin against it
        # would annihilate the whole types table. Left-joining the
        # winner onto a 1-row anchor instead yields NULL merge symbols,
        # and _merge_pair's match condition is never true on NULL, so
        # the round becomes a no-op rather than data loss. (The DuckDB
        # oracle chain mirrors this with LEFT JOIN ON TRUE.)
        anchor = types.sparkSession.range(1)
        top1 = anchor.join(F.broadcast(top), F.lit(True), "left").drop("id")
        types = types.crossJoin(F.broadcast(top1)).select(
            "word",
            "cnt",
            _merge_pair(F.col("syms"), F.col("lsym"), F.col("rsym")).alias("syms"),
        )
        if (
            checkpoint_every
            and (rnd + 1) % checkpoint_every == 0
            and rnd + 1 < rounds
        ):
            types = types.localCheckpoint(eager=True)
    return tops, types


def bpe_learn_merges(
    df: DataFrame, text_col: str, rounds: int = 3,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Learn the first `rounds` BPE merges from the corpus. Returns
    one row per round: (round, lsym, rsym, merged, pair_count) —
    the merge table a tokenizer ships. Ties on pair_count break
    lexicographically (lsym, rsym) in both engines."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    tops, _ = _merge_chain(_word_types(df, text_col), rounds, checkpoint_every)
    out_rounds = [
        top.select(
            F.lit(rnd).cast("long").alias("round"),
            "lsym",
            "rsym",
            F.concat("lsym", "rsym").alias("merged"),
            "pair_count",
        )
        for rnd, top in enumerate(tops, start=1)
    ]
    out = out_rounds[0]
    for nxt in out_rounds[1:]:
        out = out.unionByName(nxt)
    return out


def bpe_tokenize_vocab(
    df: DataFrame, text_col: str, rounds: int = 3, k: int = 20,
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Apply the first `rounds` learned BPE merges back to the corpus
    and report the resulting top-k symbol vocabulary with OCCURRENCE
    counts (token-weighted, not type-weighted) — the train+apply
    round trip a tokenizer pipeline ships. Ranking: count DESC,
    symbol ASC; all-integer counts, so the cut is exact.

    Scale shape: the learn chain's cost notes apply; the apply step
    is per-word array algebra on the TYPES table, then one
    (symbol)-keyed count aggregate and TakeOrderedAndProject for the
    cut — the corpus itself is touched only by the initial word-count
    aggregate."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    _, merged = _merge_chain(_word_types(df, text_col), rounds, checkpoint_every)
    return (
        merged.select(F.explode("syms").alias("symbol"), "cnt")
        .groupBy("symbol")
        .agg(F.sum("cnt").cast("long").alias("n_occ"))
        .orderBy(F.desc("n_occ"), F.asc("symbol"))
        .limit(k)
    )


def sql_bpe_merges(rounds: int = 3, toks_sql: str = "") -> str:
    """DuckDB oracle mirroring bpe_learn_merges bit-for-bit via an
    independent mechanism: per-round position explode + run-parity
    windows (greedy leftmost = odd positions within each maximal run
    of consecutive matches) instead of a sequential fold."""
    unions = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, lsym, rsym, lsym || rsym AS merged, "
        f"pair_count FROM top{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(_sql_chain_ctes(rounds, toks_sql)) + "\n" + unions


def sql_bpe_tokenize_vocab(rounds: int = 3, k: int = 20, toks_sql: str = "") -> str:
    """DuckDB oracle mirroring bpe_tokenize_vocab: the same CTE chain
    as sql_bpe_merges up to w{rounds}, then the symbol count."""
    return (
        "WITH "
        + ",\n".join(_sql_chain_ctes(rounds, toks_sql))
        + f"""
SELECT symbol, CAST(SUM(cnt) AS BIGINT) AS n_occ
FROM (SELECT unnest(syms) AS symbol, cnt FROM w{rounds})
GROUP BY symbol ORDER BY n_occ DESC, symbol ASC LIMIT {k}
"""
    )


def _sql_chain_ctes(rounds: int, toks_sql: str) -> list[str]:
    """The shared CTE chain: word types w0, then per round r the pair
    counts p{r}, winner top{r}, and merged types w{r}."""
    ctes = [
        f"""wt AS (SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({toks_sql}) AS tok FROM documents) GROUP BY tok)""",
        """w0 AS (SELECT word, cnt,
             [word[i] for i in range(1, len(word) + 1)] AS syms FROM wt)""",
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""p{r} AS (SELECT pr[1] AS lsym, pr[2] AS rsym,
             CAST(SUM(cnt) AS BIGINT) AS pair_count
      FROM (SELECT cnt,
                   unnest([[syms[i], syms[i + 1]]
                           for i in range(1, len(syms))]) AS pr
            FROM w{p})
      GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""top{r} AS (SELECT lsym, rsym, pair_count FROM p{r}
         ORDER BY pair_count DESC, lsym ASC, rsym ASC LIMIT 1)"""
        )
        ctes.append(
            f"""e{r} AS (SELECT word, cnt, syms, t.lsym, t.rsym,
             unnest(syms) AS s, generate_subscripts(syms, 1) AS i
      FROM w{p} LEFT JOIN top{r} t ON TRUE)"""
        )
        ctes.append(
            f"""f{r} AS (SELECT *, (i < len(syms) AND s = lsym AND syms[i + 1] = rsym) AS m
      FROM e{r})"""
        )
        ctes.append(
            f"""g{r} AS (SELECT *, CASE WHEN m THEN i - row_number()
             OVER (PARTITION BY word, m ORDER BY i) END AS rid FROM f{r})"""
        )
        ctes.append(
            f"""h{r} AS (SELECT *, m AND ((row_number()
             OVER (PARTITION BY word, rid ORDER BY i)) % 2 = 1) AS taken
      FROM g{r})"""
        )
        ctes.append(
            f"""k{r} AS (SELECT *, coalesce(lag(taken)
             OVER (PARTITION BY word ORDER BY i), false) AS consumed FROM h{r})"""
        )
        ctes.append(
            f"""w{r} AS (SELECT word, any_value(cnt) AS cnt,
             list(CASE WHEN taken THEN s || syms[i + 1] ELSE s END ORDER BY i)
               FILTER (WHERE NOT consumed) AS syms
      FROM k{r} GROUP BY word)"""
        )
    return ctes


def bpe_compression_curve(
    df: DataFrame, text_col: str, rounds: int = 3,
) -> DataFrame:
    """The merge-count planning curve: after r = 0..rounds merges, how
    many symbol occurrences does the corpus tokenize to, and how many
    characters does each symbol carry on average — the statistic that
    answers "how big a merge table do I need" before committing to a
    vocabulary size. Returns one row per r:
    (round, total_chars, n_symbols, chars_per_symbol).

    total_chars is merge-invariant (sanity anchor); n_symbols
    decreases by exactly the number of merge applications each round.
    All counts are exact integers; chars_per_symbol is one IEEE
    divide of exact ints (engine-deterministic, no rounding needed).
    Scale notes as bpe_learn_merges — everything after the initial
    word-count aggregate runs over word TYPES.

    Every chain stage is checkpointed once (eager): the curve
    aggregates EVERY stage, so a lazy chain re-derives all ancestor
    rounds — plus the corpus word-count — once per output row
    (O(rounds²) passes; x63 was the slowest query in the whole sweep
    at 13.6 s). Materializing each stage makes it rounds passes over
    the Zipf-bounded types table and ONE corpus pass. Values are
    unchanged — checkpointing only truncates lineage."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    types = _word_types(df, text_col).localCheckpoint(eager=True)
    chain = [types]
    t = types
    for _ in range(rounds):
        _, t = _merge_chain(t, 1)
        t = t.localCheckpoint(eager=True)
        chain.append(t)
    out = None
    for r, t in enumerate(chain):
        row = t.agg(
            F.lit(r).cast("long").alias("round"),
            F.sum(F.col("cnt") * F.length("word")).cast("long").alias("total_chars"),
            F.sum(F.col("cnt") * F.size("syms")).cast("long").alias("n_symbols"),
            (
                F.sum(F.col("cnt") * F.length("word"))
                / F.sum(F.col("cnt") * F.size("syms")).cast("double")
            ).alias("chars_per_symbol"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def sql_bpe_compression_curve(rounds: int = 3, toks_sql: str = "") -> str:
    """DuckDB oracle mirroring bpe_compression_curve over the shared
    CTE chain."""
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round,"
        f" CAST(SUM(cnt * len(word)) AS BIGINT) AS total_chars,"
        f" CAST(SUM(cnt * len(syms)) AS BIGINT) AS n_symbols,"
        f" SUM(cnt * len(word)) / CAST(SUM(cnt * len(syms)) AS DOUBLE)"
        f" AS chars_per_symbol FROM w{r}"
        for r in range(rounds + 1)
    )
    return "WITH " + ",\n".join(_sql_chain_ctes(rounds, toks_sql)) + "\n" + selects
