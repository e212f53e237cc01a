"""§2.4.H — streaming-shaped operators, run as incremental batch over
`events` (the live pipeline twin lives in helium_etl_lite_spark/streaming/).

ETL-layer analogs: the reference's whole runtime is this section —
cursor-bounded incremental processing (src/follower.rs:69-98), per-block
idempotence (migrations/V3:43), watermark-like catch-up (src/follower.rs:86).
Each operator here is the deterministic batch form; the streaming module
runs the same logic with readStream + watermarks +
applyInPandasWithState.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..registry import query
from ..tables import Tables


@query(
    "stream_tumbling_window_agg",
    oracle="""
    SELECT date_trunc('hour', ts) AS win_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS win_end,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_tumbling_window_agg(spark, sf_dir):
    # groupBy(window(...)) — in the live pipeline this runs under a
    # watermark; batch form is deterministic and oracle-checkable.
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_sliding_window_agg",
    oracle="""
    WITH slid AS (
      SELECT e.*,
             make_timestamp(((epoch_us(ts) // 900000000) - i.i) * 900000000)
               AS win_start
      FROM events e, (SELECT unnest([0, 1, 2, 3]) AS i) i
    )
    SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value
    FROM slid
    GROUP BY 1, 2
    """,
)
def stream_sliding_window_agg(spark, sf_dir):
    # 1-hour window sliding every 15 min: each event lands in 4 windows.
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_events",
            "total_value",
        )
    )


@query(
    "stream_session_window",
    oracle="""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL 10 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 10 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark, sf_dir):
    # session_window(ts, '10 minutes'): session end = last event + gap,
    # matching Spark's semantics; the oracle rebuilds sessions with a
    # lag/cumsum construction.
    t = Tables(spark, sf_dir)
    return (
        t.events.groupBy(F.session_window("ts", "10 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query(
    "stream_watermark_late_drop",
    oracle="""
    SELECT event_id, ts, user_id
    FROM events
    WHERE ts > (SELECT MAX(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_watermark_late_drop(spark, sf_dir):
    # Batch check of withWatermark('ts', '1 hour') drop semantics: keep
    # rows within the watermark horizon of max event time.
    t = Tables(spark, sf_dir)
    ev = t.events
    horizon = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 1 HOUR")).alias("h")
    )
    return (
        ev.join(F.broadcast(horizon))
        .where(F.col("ts") > F.col("h"))
        .select("event_id", "ts", "user_id")
    )


@query(
    "stream_dedup_by_key",
    oracle="""
    SELECT user_id, event_type, MIN(event_id) AS first_event_id, COUNT(*) AS n_dupes
    FROM events
    GROUP BY user_id, event_type
    """,
)
def stream_dedup_by_key(spark, sf_dir):
    # E15: keyed idempotent ingest — "keep first per key", the
    # deterministic form of dropDuplicates (reference PK-on-hash,
    # migrations/V3:43).
    t = Tables(spark, sf_dir)
    return t.events.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"), F.count(F.lit(1)).alias("n_dupes")
    )


@query(
    "stream_cursor_incremental",
    oracle="""
    SELECT event_id, ts, user_id, event_type
    FROM events
    WHERE event_id > (SELECT CAST(FLOOR(MAX(event_id) * 0.8) AS BIGINT) FROM events)
    """,
)
def stream_cursor_incremental(spark, sf_dir):
    # E16-E19: cursor-bounded incremental batch — process only rows past
    # the stored cursor (reference src/follower.rs:86: `h if h > self.height`).
    t = Tables(spark, sf_dir)
    ev = t.events
    cursor = ev.agg(F.floor(F.max("event_id") * 0.8).cast("bigint").alias("cursor"))
    return (
        ev.join(F.broadcast(cursor))
        .where(F.col("event_id") > F.col("cursor"))
        .select("event_id", "ts", "user_id", "event_type")
    )


@query(
    "stream_stateful_running_count",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS total_value,
           MAX(ts) AS last_seen
    FROM events
    GROUP BY user_id
    """,
)
def stream_stateful_running_count(spark, sf_dir):
    t = Tables(spark, sf_dir)
    return t.events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.max("ts").alias("last_seen"),
    )


@query(
    "stream_stream_interval_join",
    oracle="""
    SELECT s.user_id,
           s.event_id AS signup_id,
           p.event_id AS purchase_id,
           p.value AS purchase_value
    FROM events s JOIN events p
      ON s.user_id = p.user_id
     AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 10 MINUTE
    WHERE s.event_type = 'signup' AND p.event_type = 'purchase'
    """,
)
def stream_stream_interval_join(spark, sf_dir):
    # Stream-stream interval join (batch twin): each signup joined to
    # the same user's purchases in the following 10 minutes. The join
    # key is user_id EQUALITY plus a time-range residual — exactly the
    # condition Structured Streaming requires for a watermarked
    # stream-stream join (state eviction needs the equi key + bound);
    # the live form is readStream x readStream with withWatermark on
    # both sides (tests/test_sources_streaming.py proves equivalence).
    # As a batch plan it's a hash join on user_id, never a BNLJ.
    t = Tables(spark, sf_dir)
    s = t.events.where(F.col("event_type") == "signup").select(
        "user_id", F.col("event_id").alias("signup_id"), F.col("ts").alias("s_ts")
    )
    p = t.events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        s.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("s_ts"))
            & (F.col("p_ts") < F.col("s_ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select("user_id", "signup_id", "purchase_id", "purchase_value")
    )
