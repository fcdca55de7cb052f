"""The txlog read path: one commit reader (``TxnTable._commits``), one
checkpoint meta field list (``_CKPT_META``) and one change-feed planner
(``_feed_plan``) shared by ``changes()`` and the ``txlog_feed`` stream."""

from __future__ import annotations

import dataclasses

import pytest

from aws_payment_data_lake_spark.sources.txlog import (
    _CKPT_META,
    Snapshot,
    TxnTable,
)
from aws_payment_data_lake_spark.sources.txlog_stream import (
    stream_table_feed,
)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_checkpoint_meta_round_trips_every_snapshot_field(spark, tmp_path):
    """A checkpoint decodes to exactly the snapshot a raw-JSON replay
    of the same version builds, for a table that sets every
    checkpointed field."""
    assert ({k for k, _ in _CKPT_META}
            == {f.name for f in dataclasses.fields(Snapshot)}
            - {"version", "live"})
    land = tmp_path / "landing"
    (spark.range(20, 23).selectExpr("cast(id as double) AS amount",
                                    "'copied' AS note", "'s' AS secret")
     .coalesce(1).write.parquet(str(land)))
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame(
        [], "pk bigint, amount double, region string, note string, "
            "secret string"),
        partition_by=["region"],
        generated={"amount2": "amount * 2"},
        identity={"pk": {"start": 1, "step": 1}},
        defaults={"region": "'eu'"},
        properties={"txlog.checkpointInterval": "1", "owner": "ops"})
    t.append(spark.range(1, 6).selectExpr(
        "cast(id as double) AS amount", "'n' AS note", "'s' AS secret"),
        txn_app="ingest", txn_batch=0)
    t.add_check_constraint("amount_pos", "amount >= 0")
    t.copy_into(str(land))
    t.delete("amount = 2.0", mode="dv")
    t.rename_column("note", "memo")
    t.drop_column("secret")
    v = t.latest_version()

    ck = t._read_checkpoint(v)
    assert ck is not None and ck.version == v
    raw_reader = TxnTable(spark, t.path)
    raw_reader._read_checkpoint = lambda upto: None
    raw = raw_reader._replay(v)
    for k, _ in _CKPT_META:
        assert getattr(raw, k), f"the history never set {k}"
    for f in dataclasses.fields(Snapshot):
        assert getattr(ck, f.name) == getattr(raw, f.name), f.name


@pytest.mark.parametrize("cdf", [False, True], ids=["cdf_off", "cdf_on"])
def test_changes_and_stream_feed_agree(spark, tmp_path, cdf):
    """``changes()`` and an availableNow ``txlog_feed`` stream over the
    same range return the same rows, plain and with change types, over
    a history holding every commit shape the feed policy tells apart."""
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.range(8).selectExpr(
        "id", "cast(id * 10 as double) AS amount"))
    if cdf:
        t.set_properties({"txlog.enableChangeDataFeed": "true"})
    t.append(spark.range(8, 10).selectExpr(
        "id", "cast(id * 10 as double) AS amount"))
    t.delete("id = 1")                                   # copy-on-write
    v_dv = t.delete("id = 2", mode="dv")["version"]
    t.update({"amount": "amount + 1"}, "id = 3", mode="dv")
    t.merge(spark.createDataFrame([(4, 4.5), (50, 5.0)],
                                  "id long, amount double"), on=["id"])
    t.optimize(["id"], n_files=2)
    for flag in (False, True):
        cols = ["id", "amount", "_commit_version"] + (
            ["_change_type"] if flag else [])
        name = f"parity_{int(cdf)}_{int(flag)}"
        q = (stream_table_feed(spark, t.path, read_change_feed=flag)
             .writeStream.format("memory").queryName(name)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        streamed = _rows(spark.sql(f"SELECT * FROM {name}"), cols)
        batch = _rows(t.changes(-1, include_deletes=flag), cols)
        assert batch == streamed
        if flag:
            assert (2, 20.0, v_dv, "delete") in batch
