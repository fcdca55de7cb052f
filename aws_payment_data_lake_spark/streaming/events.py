"""Streaming event analytics: watermarks and windows.

Batch/stream symmetry is the design invariant: `tumbling_counts` applies
the SAME expressions as the batch query `tumbling_window_events`
(queries/streaming_batch.py), so correctness is checked once (DuckDB
oracle on the batch side) and parity is checked once (stream vs batch,
tests/test_streaming.py). At scale the file source becomes Kafka with no
change below the source line — everything downstream is source-agnostic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

DEFAULT_WATERMARK = "1 day"


def read_event_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events table. Streaming sources need an
    explicit schema — taken from the parquet footer (driver-side metadata
    read, no data scan). Event-time columns are then normalized by the same
    source-boundary rule as the batch reader
    (sources/readers.py:normalize_event_time): TIMESTAMP_NTZ / legacy
    nanos → session-UTC TimestampType, so ``withWatermark`` always sees a
    watermarkable TIMESTAMP column regardless of the footer's shape."""
    from ..sources.readers import normalize_event_time
    from .source import read_parquet_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_event_time(
        read_parquet_stream(spark, path, max_files_per_trigger))


def tumbling_counts(events: DataFrame,
                    watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """6-hour tumbling windows per event type (streaming twin of the batch
    query tumbling_window_events). The watermark bounds window state: at
    100 TB/day the state store holds only windows newer than
    max(event time) - watermark, everything older is finalized + evicted."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
    )


def start_available_now(stream_df: DataFrame, query_name: str,
                        output_mode: str = "append"):
    """Start (without draining) an AvailableNow run into a memory sink.
    Returns the StreamingQuery handle; pair with awaitTermination() and
    ``spark.table(query_name)``. Split out so INDEPENDENT streams can run
    concurrently — Structured Streaming queries each get their own
    scheduler thread, so N finite streams drain in max() not sum() of
    their times."""
    return (stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start())
