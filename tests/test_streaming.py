"""Structured Streaming parity tests: stream == batch on the same data.

Every streaming plan is checked against its batch twin over the same
files. Batch results are themselves DuckDB-oracle-checked (see
queries/streaming_batch.py), so transitively the streams are too.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from tests.conftest import SF_DIR, normalized_rows

from aws_payment_data_lake_spark.plans import bronze as B
from aws_payment_data_lake_spark.plans import generator as G
from aws_payment_data_lake_spark.plans.pipeline import read_raw
from aws_payment_data_lake_spark.sources import read_table
from aws_payment_data_lake_spark.streaming import (
    read_event_stream,
    read_parquet_stream,
    read_raw_stream,
    run_bronze_stream,
    start_available_now,
    start_bronze_upsert_sink,
    tumbling_counts,
)

EVENTS = os.path.join(SF_DIR, "events.parquet")


def _drain(stream_df, query_name, output_mode="append"):
    """Run an AvailableNow stream into a memory sink to completion;
    returns (query, result frame)."""
    q = start_available_now(stream_df, query_name, output_mode)
    q.awaitTermination()
    return q, stream_df.sparkSession.table(query_name)


def _same_rows(df_a, df_b):
    cols_a, cols_b = sorted(df_a.columns), sorted(df_b.columns)
    assert cols_a == cols_b, f"columns differ: {cols_a} vs {cols_b}"
    rows_a = normalized_rows(df_a.columns, [tuple(r) for r in df_a.collect()])
    rows_b = normalized_rows(df_b.columns, [tuple(r) for r in df_b.collect()])
    assert rows_a == rows_b


def test_tumbling_stream_matches_batch(spark):
    stream = tumbling_counts(read_event_stream(spark, EVENTS))
    _, got = _drain(stream, "t_tumbling", output_mode="complete")
    batch = (
        read_table(spark, SF_DIR, "events")
        .groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "sum_value")
    )
    _same_rows(got, batch)


@pytest.fixture()
def raw_zone(spark, tmp_path):
    raw_dir = str(tmp_path / "raw")
    raw = G.generate_transactions(spark, days=2, rows_per_day=500,
                                  invalid_rate=0.02, duplicate_rate=0.1,
                                  seed=7)
    G.write_raw_csv(raw, raw_dir, mode="overwrite")
    return raw_dir


def test_bronze_stream_matches_batch_keys(spark, tmp_path, raw_zone):
    out = str(tmp_path / "bronze_stream")
    ckpt = str(tmp_path / "ckpt")
    stream = run_bronze_stream(
        read_raw_stream(spark, raw_zone).drop("ingest_date"))
    q = start_bronze_upsert_sink(stream, out, ckpt)
    q.awaitTermination()

    got = spark.read.parquet(out)
    batch = B.run_bronze(read_raw(spark, raw_zone).drop("ingest_date"))

    # Same schema (modulo column order from partitioned read-back).
    assert sorted(got.columns) == sorted(batch.columns)
    # Both dedup to the same key set: a duplicated key may resolve to a
    # different row (first arrival within the watermark, then the
    # sink's latest-wins merge across micro-batches), but the same
    # duplicates drop.
    assert got.count() == batch.count()
    assert got.select("txn_id").distinct().count() == got.count()
    _same_rows(got.select("txn_id", "txn_date"),
               batch.select("txn_id", "txn_date"))


def test_bronze_upsert_sink_replay_is_idempotent(spark, tmp_path, raw_zone):
    """The MERGE sink (foreachBatch + partition-scoped upsert): a FULL
    re-ingest with a fresh checkpoint replays every micro-batch against
    the already-populated zone — content must be byte-for-byte the same
    rows (a blind append sink would double every row)."""
    out = str(tmp_path / "bronze_merge")

    def ingest(ckpt: str) -> None:
        stream = run_bronze_stream(
            read_raw_stream(spark, raw_zone).drop("ingest_date"))
        q = start_bronze_upsert_sink(stream, out, str(tmp_path / ckpt))
        q.awaitTermination()

    ingest("ckpt1")
    zone = spark.read.parquet(out)
    first = normalized_rows(zone.columns, [tuple(r) for r in zone.collect()])
    parts1 = sorted(p for p in os.listdir(out) if p.startswith("txn_date="))
    assert first and parts1

    ingest("ckpt2")  # fresh checkpoint == replay of every batch
    zone2 = spark.read.parquet(out)
    second = normalized_rows(zone2.columns, [tuple(r) for r in zone2.collect()])
    parts2 = sorted(p for p in os.listdir(out) if p.startswith("txn_date="))
    assert second == first
    assert parts2 == parts1
    assert zone2.select("txn_id").distinct().count() == zone2.count()


def test_state_shard_sizing_matches_local_listing(spark, tmp_path):
    """streaming_windows_live sizes its state shards from the input
    bytes, read through the Hadoop FileSystem of the path. On a
    single-file zone and on a directory zone (part files plus the
    `_SUCCESS`/`.crc` entries Spark skips) the bytes equal the local
    listing, and a `file:` URI sizes the same as the bare path, so the
    shard count is what the os.path sizing computed."""
    from aws_payment_data_lake_spark.queries.streaming_batch import (
        _input_bytes,
    )

    def local_bytes(p):
        if os.path.isfile(p):
            return os.path.getsize(p)
        return sum(os.path.getsize(os.path.join(p, f))
                   for f in os.listdir(p)
                   if not f.startswith(("_", ".")))

    zone = str(tmp_path / "zone")
    spark.range(1000).repartition(3).write.parquet(zone)
    assert any(f.startswith(("_", ".")) for f in os.listdir(zone))
    for path in (EVENTS, zone):
        want = local_bytes(path)
        assert _input_bytes(spark, path) == want
        assert _input_bytes(spark, "file://" + path) == want
        assert (max(1, _input_bytes(spark, path) // (64 * 1024 * 1024))
                == max(1, want // (64 * 1024 * 1024)))


def test_uri_directory_zone_streams_with_max_files_per_trigger(
        spark, tmp_path):
    """A ``file:`` URI to a directory zone is a directory, decided
    through the path's Hadoop FileSystem: with max_files_per_trigger=1
    the stream reads one part file per micro-batch and drains every row
    under availableNow."""
    zone = str(tmp_path / "zone")
    spark.range(300).repartition(3).write.parquet(zone)
    n_files = len([f for f in os.listdir(zone) if f.endswith(".parquet")])
    assert n_files == 3

    stream = read_parquet_stream(spark, "file://" + zone,
                                 max_files_per_trigger=1)
    q, got = _drain(stream, "t_uri_zone")
    assert sorted(r["id"] for r in got.collect()) == list(range(300))
    batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(batches) == n_files
