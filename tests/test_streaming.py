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
    deduped_event_stream,
    read_event_stream,
    read_raw_stream,
    run_available_now,
    run_bronze_stream,
    start_bronze_sink,
    tumbling_counts,
    user_running_totals,
)

EVENTS = os.path.join(SF_DIR, "events.parquet")


def _same_rows(df_a, df_b):
    cols_a, cols_b = sorted(df_a.columns), sorted(df_b.columns)
    assert cols_a == cols_b, f"columns differ: {cols_a} vs {cols_b}"
    rows_a = normalized_rows(df_a.columns, [tuple(r) for r in df_a.collect()])
    rows_b = normalized_rows(df_b.columns, [tuple(r) for r in df_b.collect()])
    assert rows_a == rows_b


def test_tumbling_stream_matches_batch(spark):
    stream = tumbling_counts(read_event_stream(spark, EVENTS))
    got = run_available_now(stream, "t_tumbling", output_mode="complete")
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


def test_stream_dedup_drops_replayed_batch(spark, tmp_path):
    # Replay the same events file twice (an at-least-once source); the
    # watermarked dedup must restore exactly-once row counts.
    src = str(tmp_path / "replayed")
    ev = read_table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").parquet(src)
    ev.write.mode("append").parquet(src)
    assert spark.read.parquet(src).count() == 2 * ev.count()

    stream = deduped_event_stream(
        read_event_stream(spark, src, max_files_per_trigger=1))
    got = run_available_now(stream, "t_dedup", output_mode="append")
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_stateful_running_totals_match_batch(spark):
    stream = user_running_totals(read_event_stream(spark, EVENTS))
    got = run_available_now(stream, "t_totals", output_mode="update")
    # Final state per user == batch aggregate; with several micro-batches
    # the memory sink holds one row per (user, batch) — keep the last.
    final = (got.groupBy("user_id")
             .agg(F.max("n_events").alias("n_events"),
                  F.max("sum_value").alias("sum_value")))
    batch = (read_table(spark, SF_DIR, "events").groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum("value").alias("sum_value")))
    a = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
         for r in final.collect()}
    b = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6))
         for r in batch.collect()}
    assert a == b


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
    q = start_bronze_sink(stream, out, ckpt)
    q.awaitTermination()

    got = spark.read.parquet(out)
    batch = B.run_bronze(read_raw(spark, raw_zone).drop("ingest_date"))

    # Same schema (modulo column order from partitioned read-back).
    assert sorted(got.columns) == sorted(batch.columns)
    # Both dedup to the same key set: first-wins (stream) vs latest-wins
    # (batch) pick different rows for a duplicated key, but drop the same
    # duplicates.
    assert got.count() == batch.count()
    assert got.select("txn_id").distinct().count() == got.count()
    _same_rows(got.select("txn_id", "txn_date"),
               batch.select("txn_id", "txn_date"))


def test_bronze_stream_restart_is_exactly_once(spark, tmp_path, raw_zone):
    out = str(tmp_path / "bronze_stream")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):  # second start finds nothing new in the checkpoint
        stream = run_bronze_stream(
            read_raw_stream(spark, raw_zone).drop("ingest_date"))
        q = start_bronze_sink(stream, out, ckpt)
        q.awaitTermination()
    got = spark.read.parquet(out)
    assert got.select("txn_id").distinct().count() == got.count()


def test_bronze_upsert_sink_replay_is_idempotent(spark, tmp_path, raw_zone):
    """The MERGE sink (foreachBatch + partition-scoped upsert): a FULL
    re-ingest with a fresh checkpoint replays every micro-batch against
    the already-populated zone — content must be byte-for-byte the same
    rows (a blind append sink would double every row)."""
    from aws_payment_data_lake_spark.streaming import start_bronze_upsert_sink

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


def test_stream_stream_join_matches_batch(spark):
    """Watermarked stream-stream join (view->purchase attribution,
    1-hour window) == the identical batch join over the same file.
    Append mode: stream-stream inner joins emit rows as both watermarks
    pass them; AvailableNow over a finite file emits every match."""
    from aws_payment_data_lake_spark.streaming import (
        view_purchase_attribution_batch,
        view_purchase_attribution_stream,
    )

    stream = view_purchase_attribution_stream(
        read_event_stream(spark, EVENTS))
    got = run_available_now(stream, "t_ss_join", output_mode="append")
    batch = view_purchase_attribution_batch(
        read_table(spark, SF_DIR, "events"))
    assert got.count() > 0  # the join is non-vacuous on this data
    _same_rows(got, batch)


def test_rate_source_stream_matches_batch(spark):
    """The broker stand-in (rate-micro-batch source): one drained
    micro-batch through the windowed aggregation == the spark.range
    batch twin computing the identical synthetic events. Proves the
    transform/window/sink surface is source-agnostic (swap in a Kafka
    reader and nothing downstream changes)."""
    from aws_payment_data_lake_spark.streaming.rate_source import (
        rate_window_totals,
        rate_window_totals_batch,
        read_rate_events,
        synthetic_events,
    )

    stream = rate_window_totals(
        synthetic_events(read_rate_events(spark, rows_per_batch=10_000)))
    got = run_available_now(stream, "t_rate_totals", output_mode="complete")
    want = rate_window_totals_batch(spark, n_rows=10_000)
    _same_rows(got, want)
    # sanity: the synthetic hour spans 12 five-minute windows x 3 types
    assert got.count() == 36


def test_tws_twin_gate_or_parity(spark, tmp_path):
    """transformWithStateInPandas twin: when protobuf is missing (this
    container) the gate raises immediately, naming the dep and the
    working alternative; when present, the twin must agree with the
    applyInPandasWithState path."""
    import importlib.util

    from aws_payment_data_lake_spark.streaming.stateful import (
        user_running_totals_tws,
    )

    have_pb = (importlib.util.find_spec("google") is not None
               and importlib.util.find_spec("google.protobuf") is not None)
    if not have_pb:
        with pytest.raises(ImportError, match="protobuf"):
            user_running_totals_tws(read_event_stream(spark, EVENTS))
    else:  # pragma: no cover - container ships without protobuf
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                              None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
        try:
            tws = run_available_now(
                user_running_totals_tws(read_event_stream(spark, EVENTS)),
                "t_tws", output_mode="update")
            base = run_available_now(
                user_running_totals(read_event_stream(spark, EVENTS)),
                "t_tws_base", output_mode="update")
            _same_rows(tws, base)
        finally:
            if prev is not None:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev)


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
