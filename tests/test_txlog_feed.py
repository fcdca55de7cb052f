"""txlog_feed Python Data Source: the ACID table as a structured
stream of its commit log (batch reads are ``format("txlog")``)."""

from __future__ import annotations

import pytest

from aws_payment_data_lake_spark.sources.txlog import TxnTable
from aws_payment_data_lake_spark.sources.txlog_batch import read_txlog
from aws_payment_data_lake_spark.sources.txlog_stream import (
    register_txlog_feed,
    stream_table_feed,
)


def _rows(df, *cols):
    return sorted(tuple(r) for r in (df.select(*cols) if cols else df)
                  .collect())


@pytest.fixture()
def table(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "tbl"))
    t.create(spark.range(3).selectExpr("id", "id * 2 as v"))
    t.append(spark.range(3, 7).selectExpr("id", "id * 2 as v"))
    return t


def test_batch_feed_read_is_refused_with_pointer(spark, table):
    """A batch read of txlog_feed would bypass the deletion vectors
    format("txlog") applies; it is refused with a pointer there, and
    the pointed-to read drops the DV-deleted rows."""
    table.delete("id < 3", mode="dv")
    register_txlog_feed(spark)
    with pytest.raises(Exception, match=r"format\('txlog'\)"):
        (spark.read.format("txlog_feed").option("path", table.path)
         .load().collect())
    assert _rows(read_txlog(spark, table.path), "id") == [
        (i,) for i in range(3, 7)]


def test_stream_feed_full_history(spark, table, tmp_path):
    q = (stream_table_feed(spark, table.path)
         .writeStream.format("memory").queryName("feed_full")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from feed_full")
    assert _rows(got, "id", "v") == _rows(table.snapshot())


def test_stream_feed_incremental_skips_layout_ops(spark, table, tmp_path):
    """Restart from a checkpoint: only NEW commits arrive, and an
    OPTIMIZE between runs re-emits nothing."""
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_into_parquet():
        q = (stream_table_feed(spark, table.path)
             .writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_into_parquet()
    first = _rows(spark.read.parquet(out), "id", "v")
    assert first == _rows(table.snapshot())

    table.compact(max_files=1)                      # layout-only
    table.append(spark.range(7, 9).selectExpr("id", "id * 2 as v"))
    run_into_parquet()
    got = spark.read.parquet(out)
    # compaction re-emitted nothing; only the append arrived
    assert got.count() == len(first) + 2
    assert _rows(got, "id", "v") == sorted(first + [(7, 14), (8, 16)])
    new_vers = {r["_commit_version"] for r in got.collect()} - {0, 1}
    assert new_vers == {3}                          # the append commit


def test_stream_feed_starting_version(spark, table):
    q = (stream_table_feed(spark, table.path, starting_version=1)
         .writeStream.format("memory").queryName("feed_sv")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("select * from feed_sv")
    assert _rows(got, "id") == [(i,) for i in range(3, 7)]


def test_changes_skip_layout_ops(spark, table):
    before = table.changes(0).count()
    table.compact(max_files=1)
    assert table.changes(0).count() == before
    table.optimize(zorder_by=["id"], n_files=1)
    assert table.changes(0).count() == before
    table.append(spark.range(20, 22).selectExpr("id", "id * 2 as v"))
    assert table.changes(0).count() == before + 2


def test_feed_reconciles_evolution_mapping_and_widening(spark,
                                                        tmp_path):
    """Round 10: one pinned feed schema spans the table's WHOLE
    history — pre-evolution files null-fill new columns, renamed
    columns alias physical->logical, and pre-widening int32 files
    upcast — in batch mode AND in a stream replaying from version 0
    started AFTER the changes (the restart-heals contract). The batch
    half reads through ``format("txlog")``."""
    t = TxnTable(spark, str(tmp_path / "evo"))
    t.create(spark.createDataFrame([(1, 10)], "id int, v int"))
    t.merge(spark.createDataFrame([(2, 2 ** 40, "eu")],
                                  "id int, v bigint, region string"),
            on=["id"], schema_mode="merge")      # widen v + add region
    t.rename_column("region", "zone")           # mapping: zone->region
    # batch read under the head schema
    got = read_txlog(spark, t.path)
    assert set(got.columns) == {"id", "v", "zone"}
    rows = {r["id"]: (r["v"], r["zone"]) for r in got.collect()}
    assert rows[1] == (10, None) and rows[2] == (2 ** 40, "eu")
    # stream from version 0 over the same history
    q = (stream_table_feed(spark, t.path)
         .writeStream.format("memory").queryName("feed_evo")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    srows = {r["id"]: (r["v"], r["zone"], r["_commit_version"])
             for r in spark.sql("select * from feed_evo").collect()}
    assert srows[1] == (10, None, 0)
    assert srows[2] == (2 ** 40, "eu", 1)


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """Delta's maxFilesPerTrigger on the feed (round 12): commits
    arriving while the stream runs drain as BOUNDED micro-batches
    (cap 1 file => one commit => 10 rows per batch here), with every
    row delivered. The FIRST batch of a query's life is unbounded by
    documented design (offset-regression safety — see the module
    docstring), so the throttle is asserted on the post-start
    commits."""
    import time as _time

    from aws_payment_data_lake_spark.sources.txlog import TxnTable
    from aws_payment_data_lake_spark.sources.txlog_stream import (
        register_txlog_feed,
    )
    t = TxnTable(spark, str(tmp_path / "throttled"))
    t.create(spark.range(0, 10).selectExpr("id"))
    register_txlog_feed(spark)
    batches: list[int] = []

    def sink(df, epoch_id):
        n = df.count()
        if n:
            batches.append(n)

    q = (spark.readStream.format("txlog_feed")
         .option("path", t.path)
         .option("maxFilesPerTrigger", "1")
         .load()
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="200 milliseconds").start())
    deadline = _time.time() + 60
    while _time.time() < deadline and sum(batches) < 10:
        _time.sleep(0.3)                 # first (unbounded) batch
    n_first = len(batches)
    for k in range(1, 6):                # 5 commits while running
        t.append(spark.range(10 * k, 10 * (k + 1)).selectExpr("id"))
    deadline = _time.time() + 120
    while _time.time() < deadline and sum(batches) < 60:
        _time.sleep(0.5)
    q.stop()
    assert sum(batches) == 60            # nothing lost or duplicated
    post = batches[n_first:]
    # the 5 in-flight commits were SPLIT into bounded batches: cap=1
    # file admits exactly one commit (10 rows) per batch
    assert len(post) >= 3, batches
    assert max(post) <= 20, batches      # never more than 2 commits
                                         # (one may straddle a poll)


def test_throttled_stream_restart_no_redelivery(spark, tmp_path):
    """Restarting a maxFilesPerTrigger stream must not poison the
    offset WAL into re-delivering COMMITTED commits (3rd review
    pass, finding 1): after a stop/append/restart cycle the stream
    converges on exactly the full row set, with at most one replayed
    uncommitted epoch (standard foreachBatch at-least-once), never
    an unbounded re-walk from startingVersion."""
    import time as _time

    from aws_payment_data_lake_spark.sources.txlog import TxnTable
    from aws_payment_data_lake_spark.sources.txlog_stream import (
        register_txlog_feed,
    )
    t = TxnTable(spark, str(tmp_path / "rst"))
    t.create(spark.range(0, 10).selectExpr("id"))
    for k in range(1, 4):
        t.append(spark.range(10 * k, 10 * (k + 1)).selectExpr("id"))
    register_txlog_feed(spark)
    seen: list[int] = []

    def sink(df, epoch_id):
        seen.extend(r.id for r in df.select("id").collect())

    def run(expect_total):
        q = (spark.readStream.format("txlog_feed")
             .option("path", t.path)
             .option("maxFilesPerTrigger", "1").load()
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(processingTime="200 milliseconds").start())
        deadline = _time.time() + 120
        while _time.time() < deadline and len(set(seen)) < expect_total:
            _time.sleep(0.5)
        _time.sleep(1.5)             # let the last epoch COMMIT
        q.stop()

    run(40)
    assert set(seen) == set(range(40))
    n_run1 = len(seen)
    t.append(spark.range(40, 50).selectExpr("id"))   # while stopped
    run(50)
    assert set(seen) == set(range(50))
    # bound on duplicates: at most ONE replayed epoch's rows (<= 40),
    # NOT an unbounded 0..39 re-walk repeated every restart batch
    assert len(seen) <= n_run1 + 10 + 40, \
        f"offset regression re-delivery: {len(seen)} rows"
