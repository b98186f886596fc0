"""Temporal + streaming workload: as-of join, range join, and
event-time windowed aggregation (tumbling, sliding, and session
windows ALL via real Structured Streaming execution — readStream →
watermark → window agg → memory sink). No reference analog — the
reference is batch-only with no timestamp type (SURVEY.md §2.7).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from database_query_processor_spark.catalog import load_table
from database_query_processor_spark.operators import temporal as TMP
from database_query_processor_spark.streaming import windows as SW
from database_query_processor_spark.workload import QuerySpec


def _events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def asof_join(spark, sf_dir):
    """For each purchase, the latest click of the same user at or
    before the purchase (clicks deduped to one per (user, ts))."""
    e = _events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    # clicks go in UN-deduped: the (user, ts)->max(event_id) dedup is
    # folded into the as-of merge window via right_tiebreak, saving the
    # pre-aggregation's whole extra shuffle (2 exchanges -> 1).
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = TMP.as_of_join(purchases, clicks, key="user_id", left_ts="ts",
                         right_ts="ts", right_val="click_id",
                         right_tiebreak="click_id")
    return out.filter(F.col("matched_val").isNotNull()).select(
        "event_id", "user_id", "ts",
        F.col("matched_val").alias("click_id"), F.col("matched_ts").alias("click_ts"),
    )


ASOF_SQL = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, MAX(event_id) AS click_id FROM events
      WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT p.event_id, p.user_id, p.ts, c.click_id, c.ts AS click_ts
FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
"""


def range_join(spark, sf_dir):
    """Events within 1 hour after each signup of the same user: the
    equi-key (user_id) drives the join; the interval is a join filter."""
    e = _events(spark, sf_dir)
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("user_id").alias("su"), F.col("ts").alias("sts")
    )
    j = TMP.range_join(
        s, e,
        key_cond=F.col("su") == F.col("user_id"),
        range_cond=(F.col("ts") > F.col("sts")) & (F.col("ts") <= F.col("sts") + F.expr("INTERVAL 1 HOUR")),
    )
    return j.groupBy("signup_id").agg(F.count("*").alias("n_follow"))


RANGE_SQL = """
WITH s AS (SELECT event_id AS signup_id, user_id, ts FROM events WHERE event_type = 'signup')
SELECT s.signup_id, COUNT(*) AS n_follow
FROM s JOIN events e ON s.user_id = e.user_id
  AND e.ts > s.ts AND e.ts <= s.ts + INTERVAL 1 HOUR
GROUP BY s.signup_id
"""


def stream_tumbling(spark, sf_dir):
    return SW.run_tumbling_stream(spark, sf_dir)


TUMBLING_SQL = """
SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n,
       MIN(value) AS min_value, MAX(value) AS max_value
FROM events GROUP BY 1, 2
"""


def sliding_windows(spark, sf_dir):
    return SW.run_sliding_stream(spark, sf_dir)


SLIDING_SQL = """
SELECT ws, event_type, COUNT(*) AS n
FROM (SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE]) AS ws,
             event_type
      FROM events)
GROUP BY ws, event_type
"""


def session_windows(spark, sf_dir):
    return SW.run_session_stream(spark, sf_dir)


def stream_stream_join(spark, sf_dir):
    from database_query_processor_spark.streaming.joins import run_purchase_click_stream

    return run_purchase_click_stream(spark, sf_dir)


STREAM_JOIN_SQL = """
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM events p JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
"""


def stream_dedup(spark, sf_dir):
    from database_query_processor_spark.streaming.dedup import run_stream_dedup

    return run_stream_dedup(spark, sf_dir)


DEDUP_STREAM_SQL = """
SELECT DISTINCT user_id, event_type, ts FROM events
"""


def stream_stateful_profiles(spark, sf_dir):
    from database_query_processor_spark.streaming.stateful import run_user_profile_stream

    return run_user_profile_stream(spark, sf_dir)


STATEFUL_SQL = """
SELECT user_id, COUNT(*) AS n_events, MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events GROUP BY user_id
"""


def stream_foreach_batch_sink(spark, sf_dir):
    from database_query_processor_spark.streaming.sinks import run_foreach_batch_sink

    return run_foreach_batch_sink(spark, sf_dir)


FOREACH_BATCH_SQL = """
SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type
"""


SESSION_SQL = """
WITH x AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM x)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""


def compact_changelog(spark, sf_dir):
    """Changelog compaction — the incremental-ingest primitive: treat
    events as an upsert stream keyed by (user_id, event_type) and keep
    only each key's latest record (ts, then event_id as the total-order
    tiebreak). One hash shuffle on the key; the per-key window streams
    within the sorted partition, so state never exceeds a partition.
    At 100 TB this is the nightly 'merge new crawl into corpus' step —
    the same plan shape compacts any keyed changelog."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.select("user_id", "event_type", "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type",
                F.col("ts").alias("latest_ts"),
                F.col("event_id").alias("latest_event_id"),
                F.col("value").alias("latest_value"))
    )


COMPACT_SQL = """
SELECT user_id, event_type, ts AS latest_ts, event_id AS latest_event_id,
       value AS latest_value
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
WHERE rn = 1
"""


def sessionize_batch(spark, sf_dir):
    """Ordinal gap-based sessionization of the event log (30m gap):
    lag-flag → running-sum session numbering → per-session rollup,
    all on one user_id exchange."""
    return TMP.sessionize(_events(spark, sf_dir), "user_id", "ts", gap_minutes=30)


SESSIONIZE_SQL = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
s AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM o)
SELECT user_id, session_idx, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM s GROUP BY user_id, session_idx
"""


def rollup_gapfill(spark, sf_dir):
    """Hourly hypertable rollup of the event log per event_type, with
    gap-filled buckets and last-observation-carried-forward values.
    Sum is exact-decimal for cross-engine bit-stability."""
    from database_query_processor_spark.operators.aggregates import dec

    return TMP.rollup_gapfill_locf(
        _events(spark, sf_dir),
        key_col="event_type",
        ts_col="ts",
        val_col=F.sum(dec("value")).cast("double"),
        bucket="1 HOUR",
    )


GAPFILL_SQL = """
WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS ws,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v, COUNT(*) AS n
  FROM events GROUP BY 1, 2),
span AS (SELECT event_type, MIN(ws) AS a, MAX(ws) AS b FROM agg GROUP BY 1),
spine AS (SELECT event_type, unnest(generate_series(a, b, INTERVAL 1 HOUR)) AS ws
          FROM span)
SELECT s.event_type, s.ws, COALESCE(agg.n, 0) AS n, agg.n IS NULL AS filled,
       last_value(agg.v IGNORE NULLS)
         OVER (PARTITION BY s.event_type ORDER BY s.ws) AS v_locf
FROM spine s LEFT JOIN agg ON s.event_type = agg.event_type AND s.ws = agg.ws
"""


def gapfill_interpolate_q(spark, sf_dir):
    """Hourly rollup with linear interpolation across empty buckets
    (avg value per bucket via the exact-decimal contract)."""
    from database_query_processor_spark.operators.aggregates import avg_money

    return TMP.gapfill_interpolate(
        _events(spark, sf_dir),
        key_col="event_type",
        ts_col="ts",
        val_col=avg_money("value", "v"),
        bucket="1 HOUR",
    )


INTERPOLATE_SQL = """
WITH agg AS (
  SELECT event_type, date_trunc('hour', ts) AS ws,
         CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / COUNT(value) AS v
  FROM events GROUP BY 1, 2),
span AS (SELECT event_type, MIN(ws) AS a, MAX(ws) AS b FROM agg GROUP BY 1),
spine AS (SELECT event_type, unnest(generate_series(a, b, INTERVAL 1 HOUR)) AS ws
          FROM span),
x AS (
  SELECT s.event_type, s.ws, agg.v,
         last_value(agg.v IGNORE NULLS) OVER wp AS pv,
         last_value(CASE WHEN agg.v IS NOT NULL THEN s.ws END IGNORE NULLS)
           OVER wp AS pt,
         first_value(agg.v IGNORE NULLS) OVER wn AS nv,
         first_value(CASE WHEN agg.v IS NOT NULL THEN s.ws END IGNORE NULLS)
           OVER wn AS nt
  FROM spine s LEFT JOIN agg ON s.event_type = agg.event_type AND s.ws = agg.ws
  WINDOW wp AS (PARTITION BY s.event_type ORDER BY s.ws
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY s.event_type ORDER BY s.ws
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_type, ws, v IS NULL AS filled,
       ROUND(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * (CAST(date_diff('second', pt, ws) AS DOUBLE)
                                         / date_diff('second', pt, nt))
             END, 9) AS v_interp
FROM x
"""


def ohlc_bars_q(spark, sf_dir):
    """Hourly OHLC bars per event_type over the event log."""
    return TMP.ohlc_bars(
        _events(spark, sf_dir),
        key_col="event_type", ts_col="ts", val_col="value",
        id_col="event_id", bucket="1 HOUR",
    )


OHLC_SQL = """
SELECT event_type, date_trunc('hour', ts) AS ws,
       (MIN({'t': ts, 'e': event_id, 'v': value})).v AS open,
       MAX(value) AS high, MIN(value) AS low,
       (MAX({'t': ts, 'e': event_id, 'v': value})).v AS close,
       COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def scd2_intervals(spark, sf_dir):
    """SCD2 temporal-table build: turn the (user, event_type) keyed
    changelog into validity intervals [valid_from, valid_to) with an
    is_current flag — the warehouse dimension-history primitive (t04
    keeps only the latest; this keeps the full history queryable by
    as-of time). One hash shuffle on the key; lead() streams within
    the sorted partition."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id", "event_type", "value",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


SCD2_SQL = """
SELECT user_id, event_type, value, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
"""


def time_weighted_avg_q(spark, sf_dir):
    """Daily-ops style time-weighted average of `value` per event_type
    over the event log: each reading holds until the next one of the
    same type (LOCF weighting)."""
    return TMP.time_weighted_avg(
        _events(spark, sf_dir),
        key_col="event_type", ts_col="ts", val_col="value", id_col="event_id",
    )


TWA_SQL = """
WITH s AS (
  SELECT event_type,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS v_cents,
         date_diff('microsecond', ts,
                   lead(ts) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id)) AS dt
  FROM events)
SELECT event_type,
       ROUND(CAST(SUM(CAST(v_cents AS DECIMAL(38,0)) * dt) AS DOUBLE)
             / (100.0 * SUM(dt)), 9) AS twa,
       CAST(SUM(dt) AS BIGINT) AS total_us, COUNT(*) AS n_obs
FROM s WHERE dt IS NOT NULL GROUP BY event_type
HAVING SUM(dt) > 0
"""


def funnel_conversion(spark, sf_dir):
    """Ordered funnel signup → click → purchase per user: the first
    click at/after the first signup, then the first purchase at/after
    that click. One row: stage reach counts + conversion ratios.

    Shape: three chained windows over the SAME user_id partitioning
    (each stage's anchor timestamp feeds the next stage's conditional
    MIN), then a per-user dedup and a single-row global rollup —
    Catalyst plans ONE exchange on user_id for all three windows.
    Ratios are single int/int IEEE divides (bit-stable)."""
    e = _events(spark, sf_dir)
    uw = Window.partitionBy("user_id")
    s1 = e.select(
        "user_id", "event_type", "ts",
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(uw).alias("s_ts"),
    )
    s2 = s1.withColumn(
        "c_ts",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts") >= F.col("s_ts")), F.col("ts"))
        ).over(uw),
    )
    s3 = s2.withColumn(
        "p_ts",
        F.min(
            F.when((F.col("event_type") == "purchase") & (F.col("ts") >= F.col("c_ts")), F.col("ts"))
        ).over(uw),
    )
    per_user = s3.groupBy("user_id").agg(
        F.first("s_ts").alias("s_ts"), F.first("c_ts").alias("c_ts"), F.first("p_ts").alias("p_ts")
    )
    return per_user.agg(
        F.count("s_ts").alias("n_signup"),
        F.count("c_ts").alias("n_click_after_signup"),
        F.count("p_ts").alias("n_purchase_after_click"),
        (F.count("c_ts").cast("double") / F.count("s_ts")).alias("conv_click"),
        (F.count("p_ts").cast("double") / F.count("c_ts")).alias("conv_purchase"),
    )


FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, event_type, ts,
         MIN(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS s_ts
  FROM events),
s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= s_ts THEN ts END)
              OVER (PARTITION BY user_id) AS c_ts
  FROM s1),
s3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= c_ts THEN ts END)
              OVER (PARTITION BY user_id) AS p_ts
  FROM s2),
u AS (SELECT user_id, ANY_VALUE(s_ts) AS s_ts, ANY_VALUE(c_ts) AS c_ts,
             ANY_VALUE(p_ts) AS p_ts
      FROM s3 GROUP BY user_id)
SELECT COUNT(s_ts) AS n_signup,
       COUNT(c_ts) AS n_click_after_signup,
       COUNT(p_ts) AS n_purchase_after_click,
       CAST(COUNT(c_ts) AS DOUBLE) / COUNT(s_ts) AS conv_click,
       CAST(COUNT(p_ts) AS DOUBLE) / COUNT(c_ts) AS conv_purchase
FROM u
"""


def retention_cohorts(spark, sf_dir):
    """Weekly cohort retention matrix: cohort = ISO week of the user's
    first event; each (cohort_week, week_offset) cell counts the
    distinct users of that cohort active that many weeks later.

    Shape: a min() window on the user_id exchange pins each user's
    cohort, then one hash aggregate on the (cohort, offset) cell.
    Offsets are exact integer day-diffs / 7 (both engines truncate
    `week` to Monday, so the division is always whole)."""
    e = _events(spark, sf_dir)
    uw = Window.partitionBy("user_id")
    x = e.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).alias("aw"),
        F.date_trunc("week", F.min("ts").over(uw)).alias("cw"),
    )
    return (
        x.select(
            "user_id",
            F.col("cw").alias("cohort_week"),
            (F.datediff(F.to_date("aw"), F.to_date("cw")) / 7).cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


RETENTION_SQL = """
WITH x AS (
  SELECT user_id, date_trunc('week', ts) AS aw,
         date_trunc('week', MIN(ts) OVER (PARTITION BY user_id)) AS cw
  FROM events)
SELECT CAST(cw AS TIMESTAMP) AS cohort_week,
       CAST(date_diff('day', CAST(cw AS DATE), CAST(aw AS DATE)) / 7 AS INT) AS week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM x GROUP BY 1, 2
"""


def stream_static_enrichment(spark, sf_dir):
    from database_query_processor_spark.streaming.joins import (
        run_stream_static_enrichment,
    )

    return run_stream_static_enrichment(spark, sf_dir)


STREAM_STATIC_SQL = """
SELECT c.c_mktsegment, e.event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""



def interval_overlap(spark, sf_dir):
    """t12: interval-overlap join — user sessions (30m-gap
    sessionization) against per-event-type incident windows
    ([first occurrence, +12h]). No equi-key, neither side a point:
    both sides bin to 6h buckets and equi-join on the bin
    (operators/temporal.py:interval_overlap_join), so the shuffle
    co-locates only temporally-near intervals. Output: which sessions
    an incident touched and for how long (closed-interval overlap,
    exact microseconds)."""
    sessions = TMP.sessionize(_events(spark, sf_dir), "user_id", "ts", gap_minutes=30)
    incidents = (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.min("ts").alias("inc_start"))
        .withColumn("inc_end", F.col("inc_start") + F.expr("INTERVAL 12 HOURS"))
    )
    out = TMP.interval_overlap_join(
        sessions.select("user_id", "session_idx", "session_start", "session_end"),
        incidents,
        l_span=("session_start", "session_end"),
        r_span=("inc_start", "inc_end"),
        bin_hours=6,
        dedup_cols=["user_id", "session_idx", "event_type"],
    )
    return out.select("user_id", "session_idx", "event_type", "overlap_us")


INTERVAL_OVERLAP_SQL = """
WITH o AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)),
s AS (
  SELECT user_id, ts,
         CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
  FROM o),
sess AS (
  SELECT user_id, session_idx, MIN(ts) AS session_start, MAX(ts) AS session_end
  FROM s GROUP BY user_id, session_idx),
inc AS (
  SELECT event_type, MIN(ts) AS inc_start, MIN(ts) + INTERVAL 12 HOURS AS inc_end
  FROM events GROUP BY event_type)
SELECT user_id, session_idx, event_type,
       epoch_us(least(session_end, inc_end)) - epoch_us(greatest(session_start, inc_start)) AS overlap_us
FROM sess JOIN inc
  ON session_start <= inc_end AND inc_start <= session_end
"""



def funnel_pattern_match(spark, sf_dir):
    """t13: strict-contiguity event-sequence detection (the
    MATCH_RECOGNIZE / CEP shape): every place a user's ts-ordered
    stream reads exactly view→click→purchase with nothing between.
    One (user, ts, event_id) window exchange evaluates all pattern
    leads (operators/temporal.py:sequence_pattern)."""
    return TMP.sequence_pattern(
        _events(spark, sf_dir),
        key_col="user_id",
        ts_col="ts",
        type_col="event_type",
        pattern=["view", "click", "purchase"],
        id_col="event_id",
    )


PATTERN_SQL = """
WITH o AS (
  SELECT user_id, event_id, ts, event_type,
         lead(event_type, 1) OVER w AS t1,
         lead(event_type, 2) OVER w AS t2,
         lead(ts, 2) OVER w AS end_ts
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
SELECT user_id, event_id AS start_event_id, ts AS start_ts, end_ts,
       epoch_us(end_ts) - epoch_us(ts) AS span_us
FROM o
WHERE event_type = 'view' AND t1 = 'click' AND t2 = 'purchase'
"""


def ewma_smooth(spark, sf_dir):
    """t14: final EWMA (alpha=0.1) of each user's value stream —
    the time-series smoothing primitive. The sequential recurrence
    runs as one hash aggregate (sort_array(collect_list)) + a
    JVM-side ordered fold; DuckDB's list_reduce replays the
    identical fold, so results are bit-identical with no rounding
    contract (operators/temporal.py:ewma)."""
    return TMP.ewma(
        _events(spark, sf_dir),
        key_col="user_id", ts_col="ts", val_col="value",
        alpha=0.1, id_col="event_id",
    )


EWMA_SQL = """
SELECT user_id,
       CAST(len(vs) AS INT) AS n_samples,
       list_reduce(vs, (acc, x) -> acc * (1.0 - 0.1) + 0.1 * x) AS ewma
FROM (SELECT user_id, list(value ORDER BY ts ASC, event_id ASC) AS vs
      FROM events GROUP BY user_id)
"""


def anomaly_zscore(spark, sf_dir):
    """t15: rolling z-score anomaly detection — samples deviating
    >3 trailing sample-stddevs from the 20-row rolling mean. One
    user exchange; COUNT/SUM/SUM-of-squares share one Window
    operator; the ROUND(...,9)-before-threshold contract makes the
    cut identical across engines
    (operators/temporal.py:rolling_zscore)."""
    return TMP.rolling_zscore(
        _events(spark, sf_dir),
        key_col="user_id", ts_col="ts", val_col="value",
        n_window=20, z_thresh=3.0, id_col="event_id",
    )


ZSCORE_SQL = """
WITH w AS (
  SELECT user_id, ts, event_id, value,
         COUNT(value) OVER win AS n,
         SUM(value) OVER win AS s1,
         SUM(value * value) OVER win AS s2
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT user_id, ts, event_id, value,
       ROUND(s1 / n, 9) AS mean,
       ROUND(sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0)), 9) AS std,
       ROUND((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)), 9) AS z
FROM w
WHERE n = 20
  AND (s2 - s1 * s1 / n) / (n - 1) > 0
  AND abs(ROUND((value - s1 / n) / sqrt((s2 - s1 * s1 / n) / (n - 1)), 9)) > 3.0
"""


def stream_cdc_apply(spark, sf_dir):
    """s09: REAL streaming CDC materialization — the orders changelog
    (src11's derivation, one op per key) streamed one file per
    micro-batch, each epoch MERGEd into the latest manifest snapshot
    and committed as the next version (streaming/cdc.py). The final
    materialized table must equal src11's one-shot batch MERGE — the
    incremental-equals-batch convergence check."""
    from database_query_processor_spark.streaming.cdc import run_cdc_apply
    from database_query_processor_spark.workload.sources_ops import orders_changelog

    o = load_table(spark, sf_dir, "orders")
    target = o.select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    return run_cdc_apply(
        spark,
        target,
        orders_changelog(target),
        key="o_orderkey",
        update_cols=["o_orderstatus", "o_totalprice"],
    )


def _cdc_oracle():
    # The convergence claim IS the oracle choice: the streaming
    # incremental apply must reproduce src11's batch MERGE exactly.
    from database_query_processor_spark.workload.sources_ops import _MERGE_ORACLE

    return _MERGE_ORACLE


def stream_daily_counts_tws(spark, sf_dir):
    """s10: REAL streaming execution of Spark 4's
    transformWithStateInPandas (typed-state successor to s04's
    applyInPandasWithState): per-(event_type, day) running counts in
    a MapState on the RocksDB state store, update-mode memory sink,
    batch-side max() reduction (counts are additive/monotone, so the
    reduction is batching-invariant). The state-server protocol's
    protobuf dependency is satisfied by the vendored pure-Python shim
    (vendor/protoshim) where the real package is absent."""
    from database_query_processor_spark.streaming.stateful import (
        run_daily_counts_stream,
    )

    return run_daily_counts_stream(spark, sf_dir)


TWS_DAILY_SQL = """
SELECT event_type, date_trunc('day', ts) AS day, COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def stream_recent_top_tws(spark, sf_dir):
    """s11: transformWithStateInPandas via the OTHER typed-state
    surface — per-user ListState appended each micro-batch, emitting
    the running event count and the 3 most recent event ids; final
    reduce keeps each user's last (max-n_seen) emission. Together with
    s10 (MapState) this covers both tws state shapes end-to-end
    through the vendored protobuf shim."""
    from database_query_processor_spark.streaming.stateful import (
        run_recent_top_stream,
    )

    return run_recent_top_stream(spark, sf_dir)


TWS_RECENT_SQL = """
WITH r AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_seen
  FROM events)
SELECT user_id, n_seen,
       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rn) AS top3
FROM r WHERE rn <= 3 GROUP BY user_id, n_seen
"""


def stream_session_expiry_tws(spark, sf_dir):
    """s12: transformWithStateInPandas with VALUE STATE + EVENT-TIME
    TIMERS — the last typed-state primitive (s10 = MapState, s11 =
    ListState). Per-user 30-min gap sessions: a new event past the gap
    closes the previous session inline ('data'); one armed timer per
    user fires via handleExpiredTimer when the WATERMARK passes
    last + gap, emitting the user's final session ('timer') — the
    rows no data-close can ever produce. RocksDB state store,
    parquet file sink."""
    from database_query_processor_spark.streaming.stateful import (
        run_session_expiry_stream,
    )

    return run_session_expiry_stream(spark, sf_dir)


# Timer semantics mirrored exactly: Spark watermarks and timers are
# MILLISECOND-granular (micros truncate), the final watermark is
# max(ts) - 0s delay, and a timer fires when its expiry ms is <= the
# watermark ms — INCLUSIVE, determined by experiment with a planted
# expiry exactly on the watermark and pinned by
# test_tws_timer_fires_at_exact_watermark (not inferable from this
# data alone: no sweep-scale session lands on the boundary).
# Non-final sessions are closed by data rows by construction.
TWS_SESSION_SQL = f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
s AS (SELECT user_id, tus,
      CASE WHEN LAG(tus) OVER w IS NULL
                OR tus - LAG(tus) OVER w > {30 * 60 * 1_000_000} THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
g AS (SELECT user_id, tus, SUM(brk) OVER (PARTITION BY user_id ORDER BY tus) AS sid FROM s),
sess AS (SELECT user_id, sid, MIN(tus) AS start_us, MAX(tus) AS end_us,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM g GROUP BY 1, 2),
mx AS (SELECT MAX(epoch_us(ts)) AS max_us FROM events),
l AS (SELECT user_id, MAX(sid) AS last_sid FROM sess GROUP BY user_id)
SELECT sess.user_id,
       make_timestamp(start_us) AS session_start,
       make_timestamp(end_us) AS session_end,
       n,
       CASE WHEN sid = last_sid THEN 'timer' ELSE 'data' END AS closed_by
FROM sess JOIN l USING (user_id), mx
WHERE sid <> last_sid
   OR (end_us + {30 * 60 * 1_000_000}) // 1000 <= max_us // 1000
"""


def gap_detect(spark, sf_dir):
    """t16: outage detection — every silence longer than 24h between
    a user's consecutive events (operators/temporal.py:detect_gaps).
    One key exchange, lag window, scan-side threshold."""
    return TMP.detect_gaps(
        _events(spark, sf_dir),
        key_col="user_id", ts_col="ts",
        min_gap_us=24 * 3600 * 1_000_000, id_col="event_id",
    )


GAP_SQL = """
WITH g AS (
  SELECT user_id, lag(ts) OVER w AS gap_start, ts AS gap_end,
         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
SELECT user_id, gap_start, gap_end, gap_us
FROM g WHERE gap_us > CAST(24 AS BIGINT) * 3600 * 1000000
"""


def nearest_asof(spark, sf_dir):
    """t17: for each purchase, the NEAREST click of the same user
    within 1 hour either direction (ties prefer the earlier click) —
    pandas merge_asof direction='nearest' semantics
    (operators/temporal.py:nearest_asof_join). The oracle re-derives
    the match by a range join + rank, an independent mechanism."""
    e = _events(spark, sf_dir)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
    )
    out = TMP.nearest_asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_val="click_id", tolerance_us=3_600_000_000,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("matched_val").alias("click_id"),
        F.col("matched_ts").alias("click_ts"),
        "dist_us",
    )


NEAREST_ASOF_SQL = """
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT user_id, ts, MAX(event_id) AS click_id FROM events
      WHERE event_type = 'click' GROUP BY user_id, ts)
SELECT p.event_id, p.user_id, p.ts, c.click_id, c.ts AS click_ts,
       abs(epoch_us(c.ts) - epoch_us(p.ts)) AS dist_us
FROM p JOIN c ON p.user_id = c.user_id
 AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= 3600000000
QUALIFY row_number() OVER (PARTITION BY p.event_id
          ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)), c.ts) = 1
"""


def value_bars_query(spark, sf_dir):
    """t18: threshold ("dollar") bars — the event stream sliced into
    bars of ~10k value each in global (ts, event_id) order
    (operators/temporal.py:value_bars). Distributed two-pass prefix
    sum; micro-unit integer arithmetic keeps the running total
    bit-identical across engines."""
    e = _events(spark, sf_dir)
    return TMP.value_bars(
        e, ts_col="ts", id_col="event_id", val_col="value",
        threshold_us=10_000_000_000,
    )


VALUE_BARS_SQL = """
WITH e AS (SELECT event_id, ts,
                  CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_us
           FROM events),
c AS (SELECT ts, v_us,
             CAST(SUM(v_us) OVER (ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               - v_us AS cumb
      FROM e)
SELECT cumb // 10000000000 AS bar_id, COUNT(*) AS n_events,
       MIN(ts) AS start_ts, MAX(ts) AS end_ts,
       CAST(SUM(v_us) AS BIGINT) AS bar_value_us
FROM c GROUP BY 1
"""


SPECS = [
    QuerySpec("t18_value_bars", value_bars_query, VALUE_BARS_SQL,
              "threshold/dollar bars: global ordered prefix sum done the "
              "distributed two-pass way (range partition + broadcast "
              "offsets), exact micro-unit integer cumsum, no "
              "single-partition window"),
    QuerySpec("t17_nearest_asof", nearest_asof, NEAREST_ASOF_SQL,
              "nearest-in-time as-of join with tolerance (merge_asof "
              "'nearest'): both direction scans share ONE exchange + sort "
              "in the union-merge frame; pick is a scan-side CASE"),
    QuerySpec("t16_gap_detect", gap_detect, GAP_SQL,
              "outage/dead-air detection: consecutive-sample silences over "
              "a threshold — sessionize's monitoring complement, one "
              "exchange + lag window + scan-side filter"),
    QuerySpec("s09_stream_cdc_apply", stream_cdc_apply, _cdc_oracle(),
              "REAL streaming CDC apply: changelog stream -> MERGE per "
              "micro-batch -> manifest snapshot per epoch (idempotent on "
              "redelivery); final state equals the one-shot batch MERGE"),
    QuerySpec("s10_daily_counts_tws", stream_daily_counts_tws, TWS_DAILY_SQL,
              "REAL streaming transformWithStateInPandas (Spark 4 typed "
              "state): per-(event_type, day) MapState counts on RocksDB, "
              "protobuf satisfied by the vendored pure-Python shim"),
    QuerySpec("s11_recent_top_tws", stream_recent_top_tws, TWS_RECENT_SQL,
              "transformWithStateInPandas ListState: per-user append-only "
              "recent-events state, running count + 3 most recent ids, "
              "batching-invariant max-emission reduce"),
    QuerySpec("s12_session_expiry_tws", stream_session_expiry_tws,
              TWS_SESSION_SQL,
              "transformWithStateInPandas ValueState + EVENT-TIME TIMERS: "
              "gap sessions closed by data or by watermark-fired "
              "handleExpiredTimer (completes the Spark 4 typed-state "
              "matrix begun with s10/s11); bench-gated r7 so streaming "
              "throughput regressions can't hide behind correctness",
              bench=True),
    QuerySpec("t14_ewma_smooth", ewma_smooth, EWMA_SQL,
              "EWMA smoothing: sequential recurrence as ONE hash aggregate "
              "+ JVM ordered fold, bit-identical to DuckDB list_reduce"),
    QuerySpec("t15_anomaly_zscore", anomaly_zscore, ZSCORE_SQL,
              "rolling z-score anomaly detection: 20-row trailing window, "
              "shared COUNT/SUM/SUMSQ frame, round-before-threshold contract"),
    QuerySpec("t13_pattern_match", funnel_pattern_match, PATTERN_SQL,
              "CEP sequence detection (strict contiguity, MATCH_RECOGNIZE "
              "shape): all pattern leads in one window exchange"),
    QuerySpec("t12_interval_overlap", interval_overlap, INTERVAL_OVERLAP_SQL,
              "interval-overlap join (no equi-key, no point side): 6h-binned "
              "equi-join rewrite of the overlap predicate, exact closed-"
              "interval microsecond overlap"),
    QuerySpec("s08_stream_static_join", stream_static_enrichment, STREAM_STATIC_SQL,
              "REAL streaming stream-static dimension enrichment: "
              "per-micro-batch broadcast join to a bounded customer dim "
              "(no stream shuffle, no state) + streaming rollup"),
    QuerySpec("t09_time_weighted_avg", time_weighted_avg_q, TWA_SQL,
              "time-weighted average over irregular samples (LOCF "
              "duration weighting, one reused exchange, exact-decimal sum)"),
    QuerySpec("t10_funnel_conversion", funnel_conversion, FUNNEL_SQL,
              "ordered funnel signup→click→purchase: three chained "
              "conditional-MIN windows on ONE user exchange + global rollup"),
    QuerySpec("t11_retention_cohorts", retention_cohorts, RETENTION_SQL,
              "weekly cohort retention matrix: first-touch cohort window "
              "+ distinct-user cell aggregate"),
    QuerySpec("t08_scd2_intervals", scd2_intervals, SCD2_SQL,
              "SCD2 temporal-table build: changelog to validity intervals "
              "(full keyed history, one shuffle, streaming lead window)"),
    QuerySpec("t07_ohlc_bars", ohlc_bars_q, OHLC_SQL,
              "OHLC time-series bars: open/close via lexicographic struct "
              "MIN/MAX — one shuffle, full map-side partial aggregation"),
    QuerySpec("t06_gapfill_interpolate", gapfill_interpolate_q, INTERPOLATE_SQL,
              "linear-interpolation gap fill: nearest observed neighbors via "
              "paired forward/backward windows on one exchange"),
    QuerySpec("t05_rollup_gapfill", rollup_gapfill, GAPFILL_SQL,
              "hypertable rollup: hourly downsample + distributed spine "
              "densification (sequence/explode) + LOCF gap-fill window",
              bench=True),
    QuerySpec("t04_compact_changelog", compact_changelog, COMPACT_SQL,
              "changelog compaction: latest record per key (incremental "
              "upsert-ingest primitive; one shuffle, streaming window)"),
    QuerySpec("t03_sessionize", sessionize_batch, SESSIONIZE_SQL,
              "ordinal gap-based sessionization: lag boundary flag + running-sum "
              "numbering + rollup on a single reused exchange", bench=True),
    QuerySpec("t01_asof_join", asof_join, ASOF_SQL,
              "as-of join via union-merge window (one shuffle, no pair blowup)", bench=True),
    QuerySpec("t02_range_join", range_join, RANGE_SQL,
              "interval range join on an equi-key"),
    QuerySpec("s01_stream_tumbling", stream_tumbling, TUMBLING_SQL,
              "REAL Structured Streaming tumbling-window agg (watermark + memory sink)"),
    QuerySpec("s02_sliding_windows", sliding_windows, SLIDING_SQL,
              "REAL streaming sliding event-time windows (1h size / 30m "
              "slide, watermark-bounded state)"),
    QuerySpec("s03_session_windows", session_windows, SESSION_SQL,
              "REAL streaming per-user session windows, 30m inactivity gap "
              "(dynamic session_window state merged as events arrive)"),
    QuerySpec("s04_stream_stateful_profiles", stream_stateful_profiles, STATEFUL_SQL,
              "custom stateful op: applyInPandasWithState per-user profile, "
              "REAL streaming execution to a memory sink"),
    QuerySpec("s05_stream_stream_join", stream_stream_join, STREAM_JOIN_SQL,
              "REAL stream-stream join: purchase←click attribution with "
              "event-time range constraint bounding both state buffers"),
    QuerySpec("s06_stream_dedup", stream_dedup, DEDUP_STREAM_SQL,
              "REAL streaming dedup: watermark-bounded dropDuplicates state "
              "(ingestion dedup topology)"),
    QuerySpec("s07_stream_foreach_batch_sink", stream_foreach_batch_sink,
              FOREACH_BATCH_SQL,
              "REAL streaming foreachBatch sink: epoch-keyed idempotent "
              "parquet layout (at-least-once delivery x idempotent write = "
              "exactly-once contents), re-read union equals the batch agg"),
]
