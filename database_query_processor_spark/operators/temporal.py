"""Temporal join operators Spark lacks natively: as-of join and range
join. No reference analog (no timestamp type there at all).

Scale design:
  * as_of_join uses the union-merge trick: tag left/right, hash-
    partition by key, sort within partition by (ts, tag), and carry
    the last right row forward with a window `last(..., ignorenulls)`.
    ONE shuffle on the key — identical cost shape to a sort-merge
    join; never builds the inequality pair space. (The alternative,
    `applyInPandas` + pd.merge_asof per key group, is kept as a
    comment — it loses to this plan because it moves data into
    Python.)
  * range_join keeps the equi-key as the hash-join key and applies
    the interval predicate as a post-join filter — the pair space is
    per-key only. For key-less range joins, bucketize the range
    column to manufacture an equi-key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_val: str,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """For each left row, the latest right row of the same key with
    right_ts <= left_ts (ties: right row sorts first, so an equal
    timestamp matches). Right side must be unique per (key, ts) —
    pre-aggregate if not, OR pass ``right_tiebreak``: a right column
    whose MAXIMUM picks the winner among right rows sharing
    (key, ts). The tiebreak folds that dedup into the merge window's
    sort order (equal-ts right rows ordered tiebreak-ascending, so
    the last — maximal — one wins), saving the pre-aggregation's
    whole extra shuffle. Output: left columns + matched right_val
    (+ matched right_ts). Left-join contract: EVERY left row is
    emitted; rows with no match — including NULL-key rows — carry
    NULL matched_val/matched_ts. NULL keys never match (equi-join
    semantics): the right side's NULL-key rows are removed before
    the merge, and each left NULL-key row gets a row-unique salt in
    the window partition key, so NULL-key rows land in singleton
    partitions (trivially matching nothing) instead of piling into
    one _k=NULL partition — a NULL-heavy left input (common in event
    data) would otherwise funnel into a single straggler task.
    Right rows with a NULL right_ts are likewise removed: a NULL
    timestamp satisfies no 'ts <= left_ts' ordering, but under the
    merge window's nulls-first sort it would land in every frame and
    surface as a phantom (matched_val, NULL matched_ts) pair."""
    right = right.filter(
        F.col(key).isNotNull() & F.col(right_ts).isNotNull()
    )
    # (val, ts) travel in ONE struct: two independent last(ignorenulls)
    # scans would desync when right_val itself is NULL — matched_val
    # from one right row, matched_ts from a later one, a pair that
    # exists in no right row. The struct is non-NULL exactly for right
    # rows, so ignorenulls skips left placeholders and nothing else:
    # the latest right row wins whole, NULL value and all.
    r_struct_t = (
        f"struct<v:{right.schema[right_val].dataType.simpleString()},"
        f"t:{right.schema[right_ts].dataType.simpleString()}>"
    )
    ord_t = (
        right.schema[right_tiebreak].dataType.simpleString()
        if right_tiebreak is not None
        else "int"
    )
    l_tag = left.select(
        F.col(key).alias("_k"),
        F.when(F.col(key).isNull(), F.monotonically_increasing_id())
        .otherwise(F.lit(0))
        .alias("_salt"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        F.lit(None).cast(ord_t).alias("_ord"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).cast(r_struct_t).alias("_r"),
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.lit(0).cast("long").alias("_salt"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        (
            F.col(right_tiebreak) if right_tiebreak is not None else F.lit(0)
        ).cast(ord_t).alias("_ord"),
        F.lit(None).cast(l_tag.schema["_l"].dataType).alias("_l"),
        F.struct(
            F.col(right_val).alias("v"), F.col(right_ts).alias("t")
        ).alias("_r"),
    )
    # _tag asc puts right rows before the left row at equal ts (equal
    # timestamps match); _ord asc makes the MAX-tiebreak right row the
    # last — and thus winning — one among equal-(key, ts) right rows.
    w = W.partitionBy("_k", "_salt").orderBy(
        F.col("_ts").asc(), F.col("_tag").asc(), F.col("_ord").asc_nulls_first()
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    merged = l_tag.unionByName(r_tag).select(
        "_tag",
        "_l",
        F.last("_r", ignorenulls=True).over(w).alias("_m"),
    )
    out = merged.filter(F.col("_tag") == 1).select(
        "_l.*",
        F.col("_m.v").alias("matched_val"),
        F.col("_m.t").alias("matched_ts"),
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    key_cond: Column,
    range_cond: Column,
) -> DataFrame:
    """Equi-key + interval predicate: Catalyst plans the equi conjunct
    as the hash/sort-merge join key and evaluates the range conjunct
    as a join filter — pair space bounded per key."""
    return left.join(right, key_cond & range_cond, "inner")


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    l_span: tuple[str, str],
    r_span: tuple[str, str],
    bin_hours: int = 6,
    dedup_cols: list[str] | None = None,
) -> DataFrame:
    """Interval-overlap join: every (left, right) pair whose CLOSED
    time intervals intersect. The temporal-join triad's third member
    beside as-of (latest-at-or-before) and range (equi-key + band):
    here NEITHER side is a point and there is no equi-key at all.

    Scale shape: a bare overlap predicate is a cross join with a
    filter — O(|L|·|R|) at any scale. Instead both sides explode to
    the fixed-width time bins their interval covers (`sequence` on
    the bin index — bins-per-row bounded by span/bin) and equi-join
    ON THE BIN: the shuffle partitions by time bin, co-locating only
    temporally-near intervals — the binned range-join rewrite that
    engines with RANGE_JOIN hints apply, expressed directly. Pairs
    spanning a bin boundary match in several bins, so the join
    dedups on `dedup_cols` (default: every output column) before the
    exact overlap filter. Pick `bin_hours` ≈ typical span: too fine
    multiplies explode fan-out, too coarse co-locates distant
    intervals (same knob as the LSH band width trade-off).
    """
    ls, le = l_span
    rs, re_ = r_span
    binsec = bin_hours * 3600

    def binned(df, s, e):
        return df.withColumn(
            "_bin",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(F.col(s)) / binsec),
                    F.floor(F.unix_timestamp(F.col(e)) / binsec),
                )
            ),
        )

    j = binned(left, ls, le).join(binned(right, rs, re_), "_bin").drop("_bin")
    j = j.dropDuplicates(dedup_cols) if dedup_cols else j.distinct()
    return j.filter(
        (F.col(ls) <= F.col(re_)) & (F.col(rs) <= F.col(le))
    ).withColumn(
        "overlap_us",
        F.unix_micros(F.least(F.col(le), F.col(re_)).cast("timestamp"))
        - F.unix_micros(F.greatest(F.col(ls), F.col(rs)).cast("timestamp")),
    )


_BUCKET_UNITS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def _parse_bucket(bucket: str) -> tuple[int, str]:
    """Parse an 'N UNIT' bucket spec into (n, unit), case-insensitive,
    validating both. Only fixed-width units are accepted: the spine
    arithmetic (ws + k*interval, epoch-floor alignment) requires every
    bucket to be the same physical width, which months/years are not.
    A malformed spec previously slipped through (lowercase 'hours'
    survived rstrip('S') and made date_trunc return NULL for EVERY
    row, collapsing all data into one ws=NULL group) — now it raises."""
    parts = bucket.split()
    if len(parts) != 2:
        raise ValueError(f"bucket must be 'N UNIT', got {bucket!r}")
    try:
        n = int(parts[0])
    except ValueError:
        raise ValueError(f"bucket must be 'N UNIT', got {bucket!r}") from None
    unit = parts[1].lower().rstrip("s")
    if n < 1 or unit not in _BUCKET_UNITS:
        raise ValueError(
            f"unsupported bucket {bucket!r}; use 'N <"
            f"{'|'.join(sorted(_BUCKET_UNITS))}>[S]'"
        )
    return n, unit


def _bucket_start(ts: Column, n: int, unit: str) -> Column:
    """Bucket-aligned truncation honoring the COUNT, not just the
    unit: date_trunc('hour') under a '6 HOURS' bucket would misalign
    the gap spine (sequence stepping 6h from an hourly-truncated
    start skips observed buckets — silent row loss). n == 1 keeps
    date_trunc (calendar-aligned, NTZ-safe, the common path); n > 1
    floors the epoch to n*unit seconds (epoch-aligned, so '6 HOURS'
    buckets start at 00/06/12/18 UTC)."""
    if n == 1:
        return F.date_trunc(unit, ts)
    secs = n * _BUCKET_UNITS[unit]
    return F.timestamp_seconds(
        F.floor(F.unix_timestamp(ts.cast("timestamp")) / secs) * secs
    )


def rollup_gapfill_locf(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col,
    bucket: str = "1 HOUR",
) -> DataFrame:
    """Hypertable-style downsample: bucket rows to `bucket`-sized
    time slots per key, then densify — every key gets a continuous
    spine of buckets from its first to its last observation, with
    empty buckets gap-filled and the value carried forward (LOCF).

    Output: key, ws (bucket start), n (rows in bucket, 0 if filled),
    filled (bool), v_locf (bucket value, last non-empty carried
    forward). `val_col` must be an order-independent aggregate
    expression (pass an exact-decimal sum — see operators/aggregates).

    Shape & scale: the rollup is one hash shuffle on (key, bucket)
    with map-side partial aggregation — the shuffle carries one row
    per (partition × key × bucket), not the input. Densification
    never materializes a spine or joins it back: every gap lies
    between two CONSECUTIVE observed buckets, so a single lag()
    window over the rollup yields each gap's span and its LOCF value,
    and each rollup row emits [its preceding gap rows ++ itself] via
    one `sequence` + `inline` — one scan, one shuffle, one
    bucket-level window. (The earlier span→sequence→spine-join
    formulation — and a naive union of observed + gap branches —
    aggregate the input subtree twice; this shape is the fix, worth
    1.5×→~1× of baseline on t05.)
    Contract: `val_col` must aggregate non-empty buckets to non-NULL
    (true for any exact-decimal sum over a non-null column) — the
    carried value is the previous observed bucket's aggregate.
    """
    n_units, unit = _parse_bucket(bucket)
    iv = F.expr(f"INTERVAL {bucket}")
    agg = df.groupBy(
        F.col(key_col), _bucket_start(F.col(ts_col), n_units, unit).alias("ws")
    ).agg(val_col.alias("v"), F.count("*").alias("n"))
    w = W.partitionBy(key_col).orderBy(F.col("ws").asc())
    lagged = agg.select(
        key_col,
        "ws",
        "v",
        "n",
        F.lag("ws").over(w).alias("_pws"),
        F.lag("v").over(w).alias("_pv"),
    )
    # start of this row's emission span: first missing bucket after the
    # previous observation if there is a gap, else the row's own bucket
    start = F.when(
        F.col("_pws").isNotNull() & (F.col("_pws") + iv < F.col("ws")),
        F.col("_pws") + iv,
    ).otherwise(F.col("ws"))
    is_obs = lambda g: g == F.col("ws")  # noqa: E731
    rows = F.transform(
        F.sequence(start, F.col("ws"), iv),
        lambda g: F.struct(
            g.alias("ws"),
            F.when(is_obs(g), F.col("n")).otherwise(F.lit(0)).alias("n"),
            (~is_obs(g)).alias("filled"),
            F.when(is_obs(g), F.col("v")).otherwise(F.col("_pv")).alias("v_locf"),
        ),
    )
    return lagged.select(key_col, F.inline(rows))


def gapfill_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col,
    bucket: str = "1 HOUR",
) -> DataFrame:
    """Linear-interpolation gap fill: like rollup_gapfill_locf, but a
    filled bucket gets the value linearly interpolated between its
    nearest observed neighbors. Output: key, ws, filled, v_interp.

    Same single-pass shape as rollup_gapfill_locf: every filled
    bucket lies strictly between two CONSECUTIVE observed buckets, so
    one lag() window over the rollup supplies both interpolation
    endpoints ((_pws, _pv) and the current row), and each rollup row
    emits [its preceding gap rows ++ itself] via one `sequence` +
    `inline` — one scan, one shuffle, one bucket-level window; no
    spine materialization, no second aggregation of the input, no
    spine join. The interpolation ratio divides integer epoch-second
    offsets (bucket timestamps are whole bucket multiples, so the
    casts are exact), bit-identical across engines, and v_interp is
    ROUND(...,9) on both engines (the x40/x41 cross-engine hash
    contract — unrounded doubles are 1-ulp hostages to engine
    arithmetic changes, the hazard class that cost t09 its round-2
    driver row).
    """
    n_units, unit = _parse_bucket(bucket)
    iv = F.expr(f"INTERVAL {bucket}")
    agg = df.groupBy(
        F.col(key_col), _bucket_start(F.col(ts_col), n_units, unit).alias("ws")
    ).agg(val_col.alias("v"))
    w = W.partitionBy(key_col).orderBy(F.col("ws").asc())
    lagged = agg.select(
        key_col,
        "ws",
        "v",
        F.lag("ws").over(w).alias("_pws"),
        F.lag("v").over(w).alias("_pv"),
    )
    start = F.when(
        F.col("_pws").isNotNull() & (F.col("_pws") + iv < F.col("ws")),
        F.col("_pws") + iv,
    ).otherwise(F.col("ws"))
    is_obs = lambda g: g == F.col("ws")  # noqa: E731

    def frac(g):
        return (g.cast("long") - F.col("_pws").cast("long")).cast("double") / (
            F.col("ws").cast("long") - F.col("_pws").cast("long")
        )

    rows = F.transform(
        F.sequence(start, F.col("ws"), iv),
        lambda g: F.struct(
            g.alias("ws"),
            (~is_obs(g)).alias("filled"),
            F.round(
                F.when(is_obs(g), F.col("v")).otherwise(
                    F.col("_pv") + (F.col("v") - F.col("_pv")) * frac(g)
                ),
                9,
            ).alias("v_interp"),
        ),
    )
    return lagged.select(key_col, F.inline(rows))


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
    bucket: str = "1 HOUR",
) -> DataFrame:
    """OHLC downsampling bars (open/high/low/close per key × bucket) —
    the classic time-series rollup. Open/close are the value at the
    first/last row of the bucket under the total order (ts, id) — the
    id tiebreak makes ties deterministic.

    Shape: ONE hash shuffle with full map-side partial aggregation,
    and the aggregate is a true HashAggregate: open/close ride
    MIN_BY/MAX_BY over the total order (ts, id) packed into a single
    DECIMAL(38,0) key (`unix_micros(ts)·10¹⁸ + id` — micros ≲10¹⁷ and
    ids <10¹⁸, so the packing is order-preserving and overflow-free).
    A lexicographic MIN/MAX over (ts, id, value) STRUCTS computes the
    same thing but struct buffers aren't UnsafeRow-mutable, forcing a
    SortAggregate (sort every partition by key × bucket) on both sides
    of the exchange; decimal buffers hash-aggregate. Either way beats
    the row_number-window formulation, which must sort whole
    partitions and cannot partial-aggregate before the exchange.

    ``id_col`` contract (what makes the packed key a total order):
    an integral column, non-negative, < 10¹⁸, and UNIQUE per row —
    the standard row-id shape. The type is checked here (a string or
    floating id would silently reorder under the arithmetic packing);
    negatives/overflow cannot occur for ids within the documented
    range, and row-uniqueness is what makes min_by/max_by ties
    impossible (two rows sharing (ts, id) would be picked between
    arbitrarily — if your ids can repeat, pre-deduplicate or
    synthesize a unique id before calling).
    """
    n_units, unit = _parse_bucket(bucket)
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"ohlc_bars id_col {id_col!r} must be an integral row id "
            f"(got {id_type.simpleString()}): the (ts, id) order key is "
            "packed arithmetically and a non-integral id would reorder ties "
            "silently"
        )
    order_key = (
        F.unix_micros(F.col(ts_col).cast("timestamp")).cast("decimal(38,0)")
        * F.lit(1_000_000_000_000_000_000).cast("decimal(19,0)")
        + F.col(id_col)
    )
    return df.groupBy(
        F.col(key_col), _bucket_start(F.col(ts_col), n_units, unit).alias("ws")
    ).agg(
        F.min_by(F.col(val_col), order_key).alias("open"),
        F.max(F.col(val_col)).alias("high"),
        F.min(F.col(val_col)).alias("low"),
        F.max_by(F.col(val_col), order_key).alias("close"),
        F.count("*").alias("n"),
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
) -> DataFrame:
    """Time-weighted average over irregularly-sampled observations
    (the TimescaleDB `time_weight('LOCF', ...)` primitive): each
    observation's value is held until the next observation of the same
    key, so its weight is that duration in seconds; the average is
    Σ v·Δt / Σ Δt per key. The key's last observation has no duration
    and contributes nothing (classic LOCF-over-the-observed-span).

    Output: key, twa (double), total_us (bigint, weighted span in
    microseconds), n_obs (count of weighted observations).

    Shape & scale: ONE hash exchange on the key — the lead() window
    and the final groupBy share the same partitioning, so Catalyst
    reuses the exchange. Determinism: the window orders by (ts, id),
    so timestamp ties get Δt = 0 and contribute nothing regardless of
    tie order; Δt is exact MICROSECONDS (whole-`SECOND` diffs truncate
    differently across engines on sub-second timestamps); the weighted
    sum is kept as an exact SCALE-0 integer (value in cents × Δt in
    µs, summed as DECIMAL(38,0)) so the final double conversion is a
    single correctly-rounded int→double in both engines — a scaled
    decimal would round twice (int→double, then /10^scale) in DuckDB
    and drift by 1 ulp. One divide at the end, then ROUND(..., 9) on
    BOTH engines (the proven x40/x41 contract, retrieval.py): the raw
    double is 1-ulp-sensitive to DuckDB-version arithmetic changes,
    which is exactly what broke the round-2 driver hash (t09)."""
    from database_query_processor_spark.operators.aggregates import dec

    w = W.partitionBy(key_col).orderBy(F.col(ts_col).asc(), F.col(id_col).asc())
    stepped = df.select(
        F.col(key_col),
        (dec(val_col) * 100).cast("bigint").alias("_v_cents"),
        F.col(ts_col).alias("_ts"),
        F.lead(F.col(ts_col)).over(w).alias("_nxt"),
    ).select(
        key_col,
        "_v_cents",
        F.expr("timestampdiff(MICROSECOND, _ts, _nxt)").alias("_dt"),
    )
    weighted = stepped.where(F.col("_dt").isNotNull())
    num = F.sum(F.col("_v_cents").cast("decimal(38,0)") * F.col("_dt"))
    # Keys whose surviving observations ALL have zero duration (ties on
    # the timestamp) have no time-weighted average — drop them rather
    # than divide by zero (mirrored by HAVING SUM(dt) > 0 in the
    # oracle). The divide itself must still be try_divide: the filter
    # sits ABOVE the aggregate expression, so a plain ANSI divide on a
    # zero-duration group crashes whenever codegen doesn't defer the
    # unused column past the fused filter (confirmed with
    # spark.sql.codegen.wholeStage=false). try_divide yields NULL there
    # and the filter then drops the row — identical output either way.
    return (
        weighted.groupBy(key_col)
        .agg(
            F.round(
                F.try_divide(num.cast("double"), F.lit(100.0) * F.sum("_dt")), 9
            ).alias("twa"),
            F.sum("_dt").alias("total_us"),
            F.count("*").alias("n_obs"),
        )
        .where(F.col("total_us") > 0)
    )


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based batch sessionization: a user's events belong to one
    session until an inter-event gap exceeds `gap_minutes`; then a new
    session starts. Output: one row per (key, session_idx) with
    session_start / session_end / n_events.

    Shape: lag window flags session boundaries, a running sum over the
    same (key, ts) window order numbers the sessions, then a
    groupBy(key, session_idx) rollup. Both windows and the final
    aggregate hash-partition on the key, so Catalyst plans ONE
    exchange and reuses it — at 100 TB this is a single shuffle of
    (key, ts) pairs, no self-join and no pair blow-up. Assignment is
    deterministic under timestamp ties: a tie has gap zero, so the
    only flagged row in any tie group is the partition's first row,
    and every tie-ordering yields the same cumulative session index.
    """
    w = W.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    prev = F.lag(F.col(ts_col)).over(w)
    # interval arithmetic, not epoch casts: exact at any sub-second
    # precision and bit-identical to the DuckDB oracle's comparison
    late = F.col(ts_col) > prev + F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")
    is_new = F.when(prev.isNull() | late, 1).otherwise(0)
    run = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    numbered = df.select(
        F.col(key_col),
        F.col(ts_col),
        is_new.alias("_is_new"),
    ).select(
        key_col,
        ts_col,
        F.sum("_is_new").over(run).alias("session_idx"),
    )
    return numbered.groupBy(key_col, "session_idx").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count("*").alias("n_events"),
    )


def sequence_pattern(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    pattern: list[str],
    id_col: str | None = None,
) -> DataFrame:
    """CEP-style event-sequence detection (the MATCH_RECOGNIZE /
    Flink-CEP shape, strict contiguity): every position where a key's
    ts-ordered event stream reads exactly ``pattern`` with no other
    event interleaved. Output: one row per match with the span.

    Differs from t10's funnel: the funnel asks "did each stage EVER
    happen in order" (conditional-MIN chain, one row per key);
    this asks for CONTIGUOUS occurrences and yields every one.

    Shape & scale: len(pattern)−1 lead() columns over ONE
    (key, ts, id) window — Catalyst evaluates all leads in a single
    Window operator on a single key exchange, so cost is one shuffle
    of the event stream regardless of pattern length. Matching is a
    scan-side conjunction. ``id_col`` breaks timestamp ties
    deterministically (required for a stable oracle; pass the event
    PK)."""
    order = [F.col(ts_col).asc()] + ([F.col(id_col).asc()] if id_col else [])
    w = W.partitionBy(key_col).orderBy(*order)
    n = len(pattern)
    cond = F.col(type_col) == pattern[0]
    for i in range(1, n):
        cond = cond & (F.lead(type_col, i).over(w) == pattern[i])
    end_ts = F.lead(ts_col, n - 1).over(w)
    out = df.select(
        F.col(key_col),
        *([F.col(id_col).alias("start_event_id")] if id_col else []),
        F.col(ts_col).alias("start_ts"),
        end_ts.alias("end_ts"),
        cond.alias("_m"),
    ).filter(F.col("_m")).drop("_m")
    return out.withColumn(
        "span_us",
        F.unix_micros(F.col("end_ts").cast("timestamp"))
        - F.unix_micros(F.col("start_ts").cast("timestamp")),
    )


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    alpha: float,
    id_col: str | None = None,
) -> DataFrame:
    """Final exponentially-weighted moving average per key:
    s_1 = x_1, s_i = (1-alpha)*s_{i-1} + alpha*x_i over the key's
    samples in (ts, id) order. Returns (key, n_samples, ewma).

    The recurrence is inherently sequential, but it never needs a
    Python round-trip: each key's ordered value list is materialized
    with sort_array(collect_list(struct(...))) inside ONE hash
    aggregate, then folded JVM-side with F.aggregate. Cross-engine
    determinism comes free — the fold visits elements in the same
    order with the same two-multiply-one-add step as DuckDB's
    list_reduce, so results are bit-identical with no rounding
    contract. Assumes per-key history fits an executor (the same
    bound sessionize/scd2 carry); for unbounded keys the streaming
    form is transformWithState with a single running-value state.
    No reference analog (no ordered aggregation there at all)."""
    order_fields = [F.col(ts_col).alias("t")] + (
        [F.col(id_col).alias("i")] if id_col else []
    )
    arr = F.sort_array(
        F.collect_list(F.struct(*order_fields, F.col(val_col).cast("double").alias("v")))
    )
    a = repr(float(alpha))
    fold = F.expr(
        f"aggregate(slice(_s, 2, size(_s) - 1), element_at(_s, 1).v, "
        f"(acc, x) -> acc * (1.0d - {a}d) + {a}d * x.v)"
    )
    return (
        df.groupBy(key_col)
        .agg(arr.alias("_s"))
        .select(
            key_col,
            F.size("_s").alias("n_samples"),
            fold.alias("ewma"),
        )
    )


def rolling_zscore(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    n_window: int = 20,
    z_thresh: float = 3.0,
    id_col: str | None = None,
) -> DataFrame:
    """Rolling z-score anomaly detection: flag samples whose value
    deviates more than `z_thresh` sample standard deviations from the
    trailing `n_window`-row mean (window INCLUDES the current row, the
    conventional monitoring formulation; rows before the window fills
    are not scored). Returns the anomalous rows with (mean, std, z).

    One hash exchange on the key; the three frame aggregates
    (COUNT/SUM/SUM of squares) share a single Window operator.
    Variance uses the explicit sum-of-squares identity rather than
    stddev_samp so both engines run the same associative +/* plan;
    residual last-ulp float divergence is absorbed by the shared
    ROUND(...,9)-before-threshold contract (the x40/x41 pattern), so
    the >threshold cut is taken on identical values in both engines."""
    order = [F.col(ts_col).asc()] + ([F.col(id_col).asc()] if id_col else [])
    w = (
        W.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(-(n_window - 1), W.currentRow)
    )
    v = F.col(val_col).cast("double")
    cnt = F.count(v).over(w)
    s1 = F.sum(v).over(w)
    s2 = F.sum(v * v).over(w)
    mean = s1 / cnt
    # Degenerate-window guards: a constant window has var exactly 0
    # (divide would crash under ANSI), and float cancellation can push
    # s2 - s1²/n a hair NEGATIVE (sqrt → NaN, and NaN > threshold is
    # TRUE in Spark — spurious anomalies on flat series). Clamp var at
    # 0 and NULL the z via try_divide when std is 0: NULL fails the
    # threshold predicate in both engines, so flat windows are simply
    # never anomalous. Identity for every window with real variance.
    var = F.greatest((s2 - s1 * s1 / cnt) / (cnt - 1), F.lit(0.0))
    std = F.sqrt(var)
    z = F.round(F.try_divide(v - mean, F.nullif(std, F.lit(0.0))), 9)
    out = df.select(
        key_col,
        ts_col,
        *([id_col] if id_col else []),
        v.alias("value"),
        cnt.alias("_n"),
        F.round(mean, 9).alias("mean"),
        F.round(std, 9).alias("std"),
        z.alias("z"),
    )
    return out.where(
        (F.col("_n") == n_window) & (F.abs(F.col("z")) > F.lit(z_thresh))
    ).drop("_n")


def detect_gaps(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    min_gap_us: int,
    id_col: str | None = None,
) -> DataFrame:
    """Outage / dead-air detection: every interval between
    consecutive samples of a key that exceeds `min_gap_us`
    microseconds — the monitoring complement of sessionize (t03
    groups activity; this reports the silence between). Returns
    (key, gap_start, gap_end, gap_us).

    One hash exchange on the key; lag() streams within the sorted
    partition, the threshold is a scan-side filter — cost identical
    to sessionize's flag pass at any scale. A key's FIRST sample has
    no predecessor and by definition opens no gap (lag is null)."""
    order = [F.col(ts_col).asc()] + ([F.col(id_col).asc()] if id_col else [])
    w = W.partitionBy(key_col).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    gap = F.unix_micros(F.col(ts_col).cast("timestamp")) - F.unix_micros(
        prev.cast("timestamp")
    )
    return (
        df.select(
            F.col(key_col),
            prev.alias("gap_start"),
            F.col(ts_col).alias("gap_end"),
            gap.alias("gap_us"),
        )
        .where(F.col("gap_us") > min_gap_us)
    )


def nearest_asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_val: str,
    tolerance_us: int,
) -> DataFrame:
    """Nearest-in-time as-of join (pandas merge_asof
    direction='nearest'): for each left row, the right row of the same
    key minimizing |right_ts - left_ts|, only if that distance is
    within tolerance_us; equal forward/backward distance prefers the
    earlier (backward) row, and an equal-timestamp right row is a
    backward match at distance 0. Right side must be unique per
    (key, ts). Output: left columns + matched_val, matched_ts,
    dist_us.

    Same union-merge shape as `as_of_join` — ONE shuffle on the key —
    but with BOTH direction scans: the backward candidate is
    last(ignorenulls) over the preceding frame, the forward candidate
    first(ignorenulls) over the following frame, and both windows
    share one partitioning+ordering, so Catalyst plans one Exchange +
    one Sort (the second Window operator reuses them). The global
    nearest within tolerance is necessarily one of the two candidates,
    so the pick is a scan-side CASE — the inequality pair space is
    never built. NULL keys never match (equi-join semantics, same
    guard as `as_of_join`)."""
    left = left.filter(F.col(key).isNotNull())
    right = right.filter(F.col(key).isNotNull())
    # Each direction's (val, ts) candidate travels in ONE struct —
    # same desync guard as as_of_join: independent last/first scans
    # of _rv and _rts would pair one right row's value with another's
    # timestamp whenever right_val is NULL.
    r_struct_t = (
        f"struct<v:{right.schema[right_val].dataType.simpleString()},"
        f"t:{right.schema[right_ts].dataType.simpleString()}>"
    )
    l_tag = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).cast(r_struct_t).alias("_r"),
    )
    r_tag = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        F.lit(None).cast(l_tag.schema["_l"].dataType).alias("_l"),
        F.struct(
            F.col(right_val).alias("v"), F.col(right_ts).alias("t")
        ).alias("_r"),
    )
    order = [F.col("_ts").asc(), F.col("_tag").asc()]
    w_back = (
        W.partitionBy("_k").orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_fwd = (
        W.partitionBy("_k").orderBy(*order).rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    merged = l_tag.unionByName(r_tag).select(
        "_tag",
        "_l",
        "_ts",
        F.last("_r", ignorenulls=True).over(w_back).alias("_b"),
        F.first("_r", ignorenulls=True).over(w_fwd).alias("_f"),
    )
    bd = F.unix_micros(F.col("_ts").cast("timestamp")) - F.unix_micros(
        F.col("_b.t").cast("timestamp")
    )
    fd = F.unix_micros(F.col("_f.t").cast("timestamp")) - F.unix_micros(
        F.col("_ts").cast("timestamp")
    )
    b_ok = F.col("_b").isNotNull() & (bd <= tolerance_us)
    f_ok = F.col("_f").isNotNull() & (fd <= tolerance_us)
    take_back = b_ok & (~f_ok | (bd <= fd))
    picked = (
        merged.filter(F.col("_tag") == 1)
        .select(
            "_l",
            F.when(take_back, F.col("_b.v")).otherwise(F.col("_f.v")).alias("matched_val"),
            F.when(take_back, F.col("_b.t")).otherwise(F.col("_f.t")).alias("matched_ts"),
            F.when(take_back, bd).otherwise(fd).alias("dist_us"),
            (b_ok | f_ok).alias("_hit"),
        )
    )
    return picked.filter("_hit").select("_l.*", "matched_val", "matched_ts", "dist_us")


def value_bars(
    df: DataFrame,
    ts_col: str,
    id_col: str,
    val_col: str,
    threshold_us: int,
    num_partitions: int = 32,
) -> DataFrame:
    """Threshold bars ("dollar bars" / "volume bars", López de Prado):
    slice the GLOBAL (ts, id)-ordered event stream into bars that each
    accumulate ~threshold of value — the information-driven resample
    quant pipelines prefer over fixed time windows. Event e belongs to
    bar floor(cum_value_before(e) / threshold). Returns one row per
    bar: (bar_id, n_events, start_ts, end_ts, bar_value_us).

    Cross-engine exactness: values are quantized ONCE to
    DECIMAL(18,6) micro-units (an exact integral decimal → BIGINT in
    both engines), so every cumulative sum is integer arithmetic —
    associative, order-insensitive, bit-identical — and the bar
    boundary is an integer division (values are non-negative, so
    trunc-vs-floor division semantics cannot diverge).

    Scale shape: a global ordered prefix sum done the distributed way
    (the budget_select/train_order pattern) — range-repartition on
    (ts, id), per-partition totals (one tiny row each) collected and
    broadcast back as exclusive offsets, within-partition ordered
    window completes the global cumsum; the final per-bar aggregate
    is one more keyed shuffle. No single-partition global window
    anywhere."""
    from database_query_processor_spark.operators.corpus import (
        distributed_prefix_scaffold,
    )

    v_us = (
        (F.col(val_col).cast("decimal(18,6)") * 1000000).cast("long").alias("v_us")
    )
    base = df.select(F.col(ts_col).alias("_ts"), F.col(id_col).alias("_id"), v_us)
    joined = distributed_prefix_scaffold(
        base, [F.col("_ts").asc(), F.col("_id").asc()],
        weight=F.col("v_us"), num_partitions=num_partitions,
    )
    w = W.partitionBy("pid").orderBy(F.col("_ts").asc(), F.col("_id").asc())
    cum_before = F.sum("v_us").over(w) - F.col("v_us") + F.col("_offset")
    return (
        joined
        .select("_ts", "v_us", cum_before.alias("_cumb"))
        .select("_ts", "v_us", F.expr(f"_cumb DIV {threshold_us}").alias("bar_id"))
        .groupBy("bar_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("_ts").alias("start_ts"),
            F.max("_ts").alias("end_ts"),
            F.sum("v_us").cast("long").alias("bar_value_us"),
        )
    )
