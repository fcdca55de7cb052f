"""GENERATED ALWAYS AS IDENTITY (sources/txlog.py, TXLOG_FORMAT.md
§Commit record `identity`/`identity_high`): log-owned allocation.
Pins uniqueness + per-commit monotonicity (gaps allowed — Delta's
contract), explicit-value rejection, the accumulative high-water mark
surviving restore and checkpoints, concurrent-writer restaging (no
collisions under a race), COPY INTO assignment, MERGE refusal, and
the SQL DDL."""

from __future__ import annotations

import json
import threading

import pytest

from aws_payment_data_lake_spark.sources.txlog import (
    TxnTable,
)
from aws_payment_data_lake_spark.sources.txsql import LakehouseCatalog


def _mk(spark, tmp_path, name="tbl", **kw):
    t = TxnTable(spark, str(tmp_path / name), **kw)
    t.create(spark.createDataFrame([], "pk bigint, v long"),
             identity={"pk": {"start": 100, "step": 10}})
    return t


def _pks(t):
    return [r.pk for r in t.snapshot().collect()]


def test_assign_unique_aligned_and_monotone_across_commits(
        spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.range(7).selectExpr("id as v"))
    first = sorted(_pks(t))
    # dense two-pass assignment: one write's ids are CONTIGUOUS
    assert first == list(range(100, 170, 10))
    t.append(spark.range(7, 12).selectExpr("id as v"))
    second = sorted(set(_pks(t)) - set(first))
    assert second == list(range(170, 220, 10))
    assert min(second) > max(first)     # commits never interleave ids
    d = t.describe_detail()["identity"]["pk"]
    assert d["start"] == 100 and d["step"] == 10
    assert d["high"] == max(second)


def test_explicit_values_rejected_and_create_must_be_empty(
        spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
        t.append(spark.range(3).selectExpr("id as pk", "id as v"))
    with pytest.raises(ValueError, match="EMPTY"):
        TxnTable(spark, str(tmp_path / "t2")).create(
            spark.range(3).selectExpr("id as pk", "id as v"),
            identity={"pk": {"start": 1, "step": 1}})
    with pytest.raises(ValueError, match="integer type"):
        TxnTable(spark, str(tmp_path / "t3")).create(
            spark.createDataFrame([], "pk string, v long"),
            identity={"pk": {"start": 1, "step": 1}})


def test_high_water_survives_restore_and_checkpoint(spark, tmp_path):
    t = _mk(spark, tmp_path, checkpoint_every=1)
    t.append(spark.range(5).selectExpr("id as v"))
    high1 = t.describe_detail()["identity"]["pk"]["high"]
    pre = t.latest_version()
    t.append(spark.range(5, 9).selectExpr("id as v"))
    t.restore(version=pre)
    # post-restore appends must NOT reuse the rolled-back ids
    t.append(spark.range(9, 12).selectExpr("id as v"))
    post = sorted(set(_pks(t)))
    assert len(post) == len(set(post)) == 8
    assert min(p for p in post if p > high1) > high1
    # a fresh handle replays from the checkpoint and continues above
    t2 = TxnTable(spark, t.path, checkpoint_every=1)
    assert t2._read_checkpoint(t2.latest_version()) is not None
    t2.append(spark.range(12, 13).selectExpr("id as v"))
    allpk = _pks(t2)
    assert len(allpk) == len(set(allpk)) == 9


def test_concurrent_appends_never_collide(spark, tmp_path):
    t = _mk(spark, tmp_path)
    n, per = 6, 8
    barrier = threading.Barrier(n)
    errs = []

    def go(k):
        try:
            df = (spark.range(k * per, (k + 1) * per)
                  .selectExpr("id as v").coalesce(1))
            barrier.wait()
            TxnTable(spark, t.path).append(df)
        except Exception as e:          # pragma: no cover
            errs.append(e)

    ts = [threading.Thread(target=go, args=(k,)) for k in range(n)]
    [th.start() for th in ts]
    [th.join() for th in ts]
    assert not errs
    pks = _pks(t)
    assert len(pks) == n * per
    assert len(set(pks)) == n * per     # the restage rule held
    assert all((p - 100) % 10 == 0 for p in pks)


def test_copy_into_assigns_identity(spark, tmp_path):
    d = tmp_path / "landing"
    (spark.range(6).selectExpr("id as v")
     .coalesce(1).write.parquet(str(d)))
    t = _mk(spark, tmp_path)
    assert t.copy_into(str(d))["rows_loaded"] == 6
    pks = _pks(t)
    assert len(set(pks)) == 6 and all(p >= 100 for p in pks)
    assert t.copy_into(str(d))["files_loaded"] == 0


def test_merge_refused_update_delete_allowed(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.range(5).selectExpr("id as v"))
    with pytest.raises(ValueError, match="append-allocated"):
        t.merge(spark.createDataFrame([(100, 9)], "pk long, v long"),
                on=["pk"])
    assert t.update({"v": "v + 1"}, "v = 0")["rows_changed"] == 1
    assert t.delete("v = 1")["rows_changed"] == 2   # original 1 + bumped 0
    # feature activated at create
    with open(t._commit_path(0)) as f:
        assert "identity_columns" in json.load(
            f)["protocol"]["writer_features"]


def test_sql_identity_ddl(spark, tmp_path):
    lake = LakehouseCatalog(spark)
    lake.register("seq", str(tmp_path / "seq"))
    lake.sql("CREATE TABLE seq (pk bigint GENERATED ALWAYS AS IDENTITY "
             "(START WITH 1000 INCREMENT BY 2), v bigint) USING txlog")
    lake.sql("INSERT INTO seq SELECT id AS v FROM range(4)")
    rows = lake.sql("SELECT pk, v FROM seq").collect()
    pks = [r.pk for r in rows]
    assert len(set(pks)) == 4
    assert all(p >= 1000 and (p - 1000) % 2 == 0 for p in pks)
    # default spec: START WITH 1 INCREMENT BY 1
    lake.register("seq2", str(tmp_path / "seq2"))
    lake.sql("CREATE TABLE seq2 (pk bigint GENERATED ALWAYS AS "
             "IDENTITY, v bigint) USING txlog")
    lake.sql("INSERT INTO seq2 SELECT id AS v FROM range(3)")
    assert sorted(r.pk for r in
                  lake.sql("SELECT pk FROM seq2").collect()) == [1, 2, 3]


def test_streaming_into_identity_table(spark, tmp_path):
    """The NATIVE sink refuses identity tables at query start
    (executor tasks cannot claim globally-dense id ranges without
    coordination the Data Source API doesn't offer); the documented
    composition — foreachBatch(txn_foreach_batch) — streams in
    multi-batch with globally unique, commit-monotone ids through
    append()'s allocator."""
    from aws_payment_data_lake_spark.sources.txlog import (
        txn_foreach_batch,
    )
    from aws_payment_data_lake_spark.sources.txlog_batch import (
        write_stream_txlog,
    )

    src = tmp_path / "stream_in"
    (spark.range(9).selectExpr("id as v")
     .coalesce(3).write.json(str(src)))
    t = _mk(spark, tmp_path, "sunk")
    sdf = (spark.readStream.schema("v long")
           .option("maxFilesPerTrigger", "1").json(str(src)))
    with pytest.raises(Exception, match="foreachBatch"):
        (write_stream_txlog(sdf, t.path, str(tmp_path / "ckpt_bad"),
                            txn_app_id="ident")
         .trigger(availableNow=True).start().awaitTermination(300))
    assert t.snapshot().count() == 0
    q = (sdf.writeStream
         .foreachBatch(txn_foreach_batch(t, "ident"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    pks = _pks(t)
    assert len(pks) == 9 and len(set(pks)) == 9
    assert all(p >= 100 and (p - 100) % 10 == 0 for p in pks)


def test_native_sink_derives_generated_columns(spark, tmp_path):
    """The native sink streams into a GENERATED-column table: omitted
    columns derive row-locally at write (DuckDB over the arrow batch)
    and the __gen_ CHECK validates them at commit — e.g. the
    medallion's derived partition date can live inside the format
    even under streaming ingest."""
    from aws_payment_data_lake_spark.sources.txlog import TxnTable
    from aws_payment_data_lake_spark.sources.txlog_batch import (
        write_stream_txlog,
    )

    src = tmp_path / "gen_in"
    (spark.range(8).selectExpr("id as v")
     .coalesce(2).write.json(str(src)))
    t = TxnTable(spark, str(tmp_path / "gen_tbl"))
    t.create(spark.createDataFrame([], "v long, d long"),
             generated={"d": "v * 2 + 1"})
    sdf = (spark.readStream.schema("v long")
           .option("maxFilesPerTrigger", "1").json(str(src)))
    q = (write_stream_txlog(sdf, t.path, str(tmp_path / "gen_ckpt"),
                            txn_app_id="gen")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = t.snapshot().collect()
    assert len(rows) == 8
    assert all(r.d == r.v * 2 + 1 for r in rows)


def test_rename_drop_restore_keep_identity_coherent(spark, tmp_path):
    """The identity SPEC follows renames, dies with drops, and rolls
    back with restore; the HIGH-WATER is keyed by the stable PHYSICAL
    name, so allocation never reuses an id across any of it."""
    t = _mk(spark, tmp_path)
    t.append(spark.range(3).selectExpr("id as v"))
    pre = t.latest_version()
    t.rename_column("pk", "ident")           # spec re-keys
    t.append(spark.range(3, 5).selectExpr("id as v"))
    ids1 = sorted(r.ident for r in t.snapshot().collect())
    assert len(set(ids1)) == 5               # post-rename still unique
    # restore to the pre-rename schema: spec rolls back to 'pk',
    # allocation continues ABOVE the renamed-era ids (physical key)
    t.restore(version=pre)
    assert set(t._replay().identity) == {"pk"}
    t.append(spark.range(5, 7).selectExpr("id as v"))
    ids2 = sorted(r.pk for r in t.snapshot().collect())
    assert len(set(ids2)) == 5 and min(
        set(ids2) - set(ids1[:3])) > max(ids1)
    # dropping the identity column sheds the spec; appends then treat
    # it as gone (strict schema: v-only frames now fail)
    t2 = _mk(spark, tmp_path, "drops")
    t2.append(spark.range(2).selectExpr("id as v"))
    t2.drop_column("pk")
    assert t2._replay().identity == {}
    t2.append(spark.range(2, 4).selectExpr("id as v"))
    assert sorted(r.v for r in t2.snapshot().collect()) == [0, 1, 2, 3]
