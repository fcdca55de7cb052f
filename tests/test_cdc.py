"""CDC apply (streaming/cdc.py + txlog merge delete_when): the
queue -> ACID-table change-data-capture loop."""

from __future__ import annotations

import json

import pytest

from aws_payment_data_lake_spark.sources.queue_source import (
    produce,
    stream_queue,
)
from aws_payment_data_lake_spark.sources.txlog import TxnTable
from aws_payment_data_lake_spark.streaming.cdc import cdc_foreach_batch

DDL = "id bigint, v double"


def _state(table):
    return sorted((r["id"], r["v"]) for r in table.snapshot().collect())


def _send(qdir, events):
    """events: list of (id, v, op). Keyed by id, so per-key order is
    one partition's offset order — the Kafka CDC guarantee."""
    produce(qdir, "cdc", [
        {"key": str(i), "value": json.dumps({"id": i, "v": v, "_op": op})}
        for i, v, op in events], num_partitions=3)


# ------------------------------------------------------------------ merge

def test_merge_delete_when_matrix(spark, tmp_path):
    """The four MERGE cases: matched+flagged deletes, matched+unflagged
    updates, unmatched+unflagged inserts, unmatched+flagged is a
    no-op."""
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, 1.0), (2, 2.0)], DDL))
    src = spark.createDataFrame(
        [(1, 0.0, "d"),     # matched + flagged -> delete
         (2, 22.0, "u"),    # matched + unflagged -> update
         (3, 3.0, "u"),     # unmatched + unflagged -> insert
         (4, 0.0, "d")],    # unmatched + flagged -> nothing
        DDL + ", _op string")
    t.merge(src, on=["id"], delete_when="_op = 'd'")
    assert _state(t) == [(2, 22.0), (3, 3.0)]
    # replaying the identical merge is idempotent
    t.merge(src, on=["id"], delete_when="_op = 'd'")
    assert _state(t) == [(2, 22.0), (3, 3.0)]


def test_merge_delete_when_untouched_files_kept(spark, tmp_path):
    """delete_when keeps merge's file-granular contract: files with no
    matching key stay byte-identical."""
    import os
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(i, float(i)) for i in range(100)],
                                   DDL),
             partition_by=["id"], partition_files=8)
    before = {p: os.path.getmtime(os.path.join(t.path, p))
              for p in t._replay().live}
    src = spark.createDataFrame([(5, 0.0, "d")], DDL + ", _op string")
    t.merge(src, on=["id"], delete_when="_op = 'd'")
    after = t._replay().live
    survivors = set(before) & set(after)
    assert survivors and all(
        os.path.getmtime(os.path.join(t.path, p)) == before[p]
        for p in survivors)
    assert (5, 5.0) not in _state(t) and len(_state(t)) == 99


# ------------------------------------------------------------------ stream

def _run(spark, qdir, table, ckpt):
    q = (stream_queue(spark, qdir, "cdc")
         .writeStream
         .foreachBatch(cdc_foreach_batch(table, ["id"], DDL))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)


def test_cdc_stream_end_to_end(spark, tmp_path):
    """Produce upserts/deletes, apply, produce more (including events
    for existing keys), restart from the checkpoint: final table ==
    the python fold of the full event log."""
    qdir, ckpt = str(tmp_path / "q"), str(tmp_path / "ckpt")
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([], DDL))

    log1 = [(1, 1.0, "u"), (2, 2.0, "u"), (3, 3.0, "u"), (2, 0.0, "d")]
    _send(qdir, log1)
    _run(spark, qdir, t, ckpt)
    assert _state(t) == [(1, 1.0), (3, 3.0)]

    log2 = [(3, 33.0, "u"), (4, 4.0, "u"), (1, 0.0, "d"),
            (2, 20.0, "u")]                 # resurrect a deleted key
    _send(qdir, log2)
    _run(spark, qdir, t, ckpt)              # restart: only new events
    assert _state(t) == [(2, 20.0), (3, 33.0), (4, 4.0)]


def test_within_batch_order_nets_correctly(spark, tmp_path):
    """A key upserted THEN deleted inside one batch nets to deleted;
    deleted then re-upserted nets to present — the per-key last-event
    reduction follows offset order."""
    qdir, ckpt = str(tmp_path / "q"), str(tmp_path / "ckpt")
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(7, 7.0), (8, 8.0)], DDL))

    _send(qdir, [(7, 70.0, "u"), (7, 0.0, "d"),       # u then d -> gone
                 (8, 0.0, "d"), (8, 80.0, "u"),       # d then u -> kept
                 (9, 9.0, "u"), (9, 99.0, "u")])      # u then u -> last
    _run(spark, qdir, t, ckpt)
    assert _state(t) == [(8, 80.0), (9, 99.0)]


def test_cdc_respects_table_constraints(spark, tmp_path):
    """The CDC path goes through merge, so table CHECK constraints
    gate it: a violating upsert aborts the batch and the table stays
    bit-unchanged."""
    from aws_payment_data_lake_spark.sources.txlog import (
        CheckViolationError,
    )
    qdir, ckpt = str(tmp_path / "q"), str(tmp_path / "ckpt")
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, 1.0)], DDL))
    t.add_check_constraint("v_pos", "v > 0")

    _send(qdir, [(2, -2.0, "u")])
    with pytest.raises(Exception) as ei:
        _run(spark, qdir, t, ckpt)
    assert "CHECK" in str(ei.value) or isinstance(
        ei.value, CheckViolationError)
    assert _state(t) == [(1, 1.0)]


def test_cdc_retries_past_concurrent_writer(spark, tmp_path):
    """A concurrent append between the CDC merge's read and publish
    aborts the merge (strict serialization); the apply retries against
    the new head instead of failing the stream, and BOTH writes land."""
    qdir, ckpt = str(tmp_path / "q"), str(tmp_path / "ckpt")
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([(1, 1.0)], DDL))

    intruder = spark.createDataFrame([(50, 50.0)], DDL)
    orig = t._try_publish
    fired = {"n": 0}

    def racing_publish(version, commit, features=()):
        # first merge publish attempt loses: an append sneaks in first
        if commit.get("op") == "merge" and fired["n"] == 0:
            fired["n"] = 1
            t2 = TxnTable(spark, t.path)
            t2.append(intruder)
        return orig(version, commit, features)

    t._try_publish = racing_publish
    try:
        _send(qdir, [(2, 2.0, "u")])
        _run(spark, qdir, t, ckpt)
    finally:
        t._try_publish = orig
    assert fired["n"] == 1
    assert _state(t) == [(1, 1.0), (2, 2.0), (50, 50.0)]


def test_cdc_batching_invariance_random(spark, tmp_path):
    """Random event streams under random produce/drain splits: the
    final table always equals the python fold of the full event
    sequence — micro-batch boundaries never change the outcome (the
    per-key last-event reduction + merge are both order-correct)."""
    import random
    rng = random.Random(20260815)
    for trial in range(3):
        events = []
        for i in range(rng.randint(8, 20)):
            k = rng.randint(1, 5)
            if rng.random() < 0.3:
                events.append((k, 0.0, "d"))
            else:
                events.append((k, round(rng.uniform(1, 99), 2), "u"))
        # python fold (per-key order == sequence order: keyed routing)
        state = {}
        for k, v, op in events:
            if op == "d":
                state.pop(k, None)
            else:
                state[k] = v

        qdir = str(tmp_path / f"q{trial}")
        ckpt = str(tmp_path / f"ck{trial}")
        t = TxnTable(spark, str(tmp_path / f"t{trial}"))
        t.create(spark.createDataFrame([], DDL))
        i = 0
        while i < len(events):                  # random split points
            j = min(len(events), i + rng.randint(1, 7))
            _send(qdir, events[i:j])
            _run(spark, qdir, t, ckpt)
            i = j
        assert _state(t) == sorted(state.items()), (trial, events)


def test_cdc_stream_schema_drift_auto_widens(spark, tmp_path):
    """VERDICT r9 #1 end-to-end: a CDC source grows a column
    mid-stream. Phase 1 runs the narrow value_ddl; the sink is then
    redeployed with the wider ddl and schema_mode='merge' — the first
    merge carrying the new column widens the table inside the commit
    (no manual ADD COLUMNS), pre-drift rows read NULL, and per-key
    net-effect semantics hold across the drift."""
    qdir = str(tmp_path / "q")
    ckpt = str(tmp_path / "ckpt")
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([], DDL))

    _send(qdir, [(1, 1.0, "u"), (2, 2.0, "u")])
    _run(spark, qdir, t, ckpt)
    assert _state(t) == [(1, 1.0), (2, 2.0)]

    # source starts emitting `region`; sink redeployed wider + merge
    produce(qdir, "cdc", [
        {"key": "2", "value": json.dumps(
            {"id": 2, "v": 22.0, "region": "eu", "_op": "u"})},
        {"key": "3", "value": json.dumps(
            {"id": 3, "v": 3.0, "region": "us", "_op": "u"})},
        {"key": "1", "value": json.dumps(
            {"id": 1, "v": 0.0, "_op": "d"})},
    ], num_partitions=3)
    q = (stream_queue(spark, qdir, "cdc")
         .writeStream
         .foreachBatch(cdc_foreach_batch(
             t, ["id"], DDL + ", region string", schema_mode="merge"))
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = t.snapshot()
    assert [f.name for f in got.schema.fields] == ["id", "v", "region"]
    rows = sorted((r["id"], r["v"], r["region"]) for r in got.collect())
    assert rows == [(2, 22.0, "eu"), (3, 3.0, "us")]
    # the _op flag itself never evolved into the table
    assert "_op" not in got.columns
