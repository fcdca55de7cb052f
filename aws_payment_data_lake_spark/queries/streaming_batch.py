"""Event-time window aggregations: all three window families under REAL
Structured Streaming (one registered query, ``streaming_windows_live``),
plus their batch twins.

The batch functions run F.window / F.session_window in BATCH mode; they
are unregistered (the registry is capped at the driver's 50-query window
and the live query hash-matches the same SQL oracle, which is the
stronger claim) but remain the parity anchors for
tests/test_streaming.py and stay on the bench. Spark's tumbling windows
are epoch-aligned, exactly like DuckDB's time_bucket.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.queries import register
from aws_payment_data_lake_spark.sources import load


def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour tumbling windows per event type (batch twin, unregistered)."""
    (ev,) = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")
    )


def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 12h inactivity gap. Spark merges
    events whose gap < 12h; the oracle rebuilds the same islands with a
    lag + running-sum (the classic gaps-and-islands rewrite).

    Session end is last-event + gap (Spark's definition)."""
    (ev,) = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "12 hours").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select("user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events", "sum_value")
        .orderBy("user_id", "session_start")
    )


def _input_bytes(spark: SparkSession, path: str) -> int:
    """Size of an input zone: one file, or a directory's entries minus
    the ``_``/``.`` names Spark's file source skips. Sized through the
    Hadoop FileSystem of the path, so an object-store URI sizes the
    same way a local path does."""
    from aws_payment_data_lake_spark.streaming.source import path_status

    fs, status = path_status(spark, path)
    if not status.isDirectory():
        return status.getLen()
    return sum(s.getLen() for s in fs.listStatus(status.getPath())
               if not s.getPath().getName().startswith(("_", ".")))


@register(
    "streaming_windows_live",
    oracle="""
    WITH grid AS (
      SELECT time_bucket(INTERVAL '2 hours', ts) AS window_start, *
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '2 hours', ts, INTERVAL '1 hour')
               AS window_start, *
      FROM events
      WHERE time_bucket(INTERVAL '2 hours', ts, INTERVAL '1 hour')
            <> time_bucket(INTERVAL '2 hours', ts)
    ), marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL '12 hours'
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT 'tumbling' AS family,
           time_bucket(INTERVAL '6 hours', ts) AS window_start,
           time_bucket(INTERVAL '6 hours', ts) + INTERVAL '6 hours'
             AS window_end,
           event_type AS grain,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events GROUP BY 2, 3, 4
    UNION ALL
    SELECT 'sliding' AS family,
           window_start,
           window_start + INTERVAL '2 hours' AS window_end,
           NULL AS grain,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM grid GROUP BY 2, 3
    UNION ALL
    SELECT 'session' AS family,
           min(ts) AS window_start,
           max(ts) + INTERVAL '12 hours' AS window_end,
           CAST(user_id AS VARCHAR) AS grain,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM sessions GROUP BY user_id, session_id
    ORDER BY family, window_start, grain
    """,
    tags=("streaming", "structured-streaming", "window",
          "tumbling", "sliding", "session"),
)
def streaming_windows_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL THREE window families under REAL Structured Streaming, tagged
    and unioned into one normalized schema (family, window_start,
    window_end, grain, n_events, sum_value):

    * tumbling 6h per event_type (grain = event_type),
    * sliding 2h/1h global (grain = NULL),
    * session 12h-gap per user (grain = str(user_id); window_end is
      last-event + gap, Spark's session definition — the oracle rebuilds
      the same islands with the classic gaps-and-islands rewrite).

    Each branch is a file-source stream -> watermark -> windowed agg
    drained with AvailableNow into a memory sink in complete mode
    (session_window rejects update mode; complete over a finite source
    equals the batch result, so the batch SQL oracle applies verbatim).
    Exercises the tumbling/sliding window generators AND the
    session-merge state machine end-to-end in one driver slot.

    The three branches are INDEPENDENT streams, so all three are started
    before any is awaited — each StreamingQuery runs on its own scheduler
    thread and the wall time is the slowest branch, not the sum."""
    path = os.path.join(sf_dir, "events.parquet")

    # State-store sizing: each stateful stream materializes one state
    # store instance PER shuffle partition, and the number is fixed at
    # stream start. Every instance pays a per-micro-batch commit (a
    # delta file write + fsync on the checkpoint volume), so shards x
    # streams is a FIXED per-batch cost that does not shrink with the
    # data — the r13 driver record showed the slot running FASTER at 8
    # cores than 32 (scaling ratio 0.42) because 3 streams x 8 shards
    # of concurrent tiny commits contend harder the more of them run
    # at once. Derive the shard count from the stream's INPUT VOLUME
    # (guide §2.2 "fewer, larger partitions"; ~64 MB of input per
    # shard, floor 1), not from the core count: at bench scale that is
    # ONE instance per stream (r14 A/B, warm: 8 cores 5.5 -> 2.4 s,
    # 32 cores 2.4 -> 2.1 s, ratio 0.42 -> ~1.05), and on a real
    # cluster the same rule grows shards with the feed. State volume
    # scales with the key space, which scales with input; results are
    # partitioning-invariant either way.
    # Restored after the drain: conf is read at stream start, and the
    # batch union below should keep the session's normal parallelism.
    shards = max(1, _input_bytes(spark, path) // (64 * 1024 * 1024))
    saved_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shards))
    try:
        handles = _start_streams(spark, path)
        for q in handles:
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_shuffle)

    tumb = (spark.table("mem_swl_tumbling")
            .select(F.lit("tumbling").alias("family"),
                    "window_start", "window_end",
                    F.col("event_type").alias("grain"),
                    "n_events", "sum_value"))
    slide = (spark.table("mem_swl_sliding")
             .select(F.lit("sliding").alias("family"),
                     "window_start", "window_end",
                     F.lit(None).cast("string").alias("grain"),
                     "n_events", "sum_value"))
    sess = (spark.table("mem_swl_session")
            .select(F.lit("session").alias("family"),
                    "window_start", "window_end",
                    F.col("user_id").cast("string").alias("grain"),
                    "n_events", "sum_value"))

    return (tumb.unionByName(slide).unionByName(sess)
            .orderBy("family", "window_start", "grain"))


def _start_streams(spark: SparkSession, path: str) -> list:
    """Start the three independent window-family streams (all before any
    is awaited — each runs on its own scheduler thread)."""
    from aws_payment_data_lake_spark.streaming import (
        read_event_stream,
        start_available_now,
        tumbling_counts,
    )

    return [
        start_available_now(
            tumbling_counts(read_event_stream(spark, path)),
            "mem_swl_tumbling", output_mode="complete"),
        start_available_now(
            read_event_stream(spark, path)
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "n_events", "sum_value"),
            "mem_swl_sliding", output_mode="complete"),
        start_available_now(
            read_event_stream(spark, path)
            .withWatermark("ts", "1 day")
            .groupBy(F.session_window("ts", "12 hours").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"), "user_id",
                    "n_events", "sum_value"),
            "mem_swl_session", output_mode="complete"),
    ]
