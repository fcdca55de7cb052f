"""SHALLOW CLONE (sources/txlog.py clone_shallow, TXLOG_FORMAT.md
§Commit record `clone` + §Protocol `external_files`): zero-copy fork
whose v0 references the source's files by absolute path. Pins the
contracts that make it safe: full log independence after the fork,
vacuum NEVER deleting external files, DV re-keying, time-travel
clones, localization via compact, SQL DDL, and the independent-reader
replay of a cloned table."""

from __future__ import annotations

import json
import os

import pytest

from aws_payment_data_lake_spark.sources.txlog import (
    ProtocolError,
    TxnTable,
)
from aws_payment_data_lake_spark.sources.txsql import LakehouseCatalog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mk(spark, tmp_path, name, **kw):
    return TxnTable(spark, str(tmp_path / name), **kw)


def _src(spark, tmp_path, n=10):
    t = _mk(spark, tmp_path, "src")
    t.create(spark.range(n).selectExpr("id", "id * 2 as v"))
    return t


def test_clone_is_zero_copy_and_matches_source(spark, tmp_path):
    src = _src(spark, tmp_path)
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    assert _rows(c.snapshot()) == _rows(src.snapshot())
    # zero copy: every live file is an absolute reference into src,
    # and the clone's own data/ dir holds nothing
    snap = c._replay()
    assert all(os.path.isabs(p) for p in snap.live)
    assert all(p.startswith(os.path.abspath(src.path)) for p in snap.live)
    clone_data = os.path.join(c.path, "data")
    assert not os.path.isdir(clone_data) or not os.listdir(clone_data)
    # external_files activated at birth, in the v0 commit
    with open(c._commit_path(0)) as f:
        proto = json.load(f)["protocol"]
    assert "external_files" in proto["reader_features"]


def test_clone_at_version_time_travels(spark, tmp_path):
    src = _src(spark, tmp_path, n=5)
    src.append(spark.range(5, 9).selectExpr("id", "id * 2 as v"))
    c = _mk(spark, tmp_path, "clone").clone_shallow(src, version=0)
    assert c.snapshot().count() == 5
    assert _rows(c.snapshot()) == _rows(src.snapshot(version=0))


def test_logs_diverge_independently(spark, tmp_path):
    src = _src(spark, tmp_path, n=5)
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    c.append(spark.range(100, 103).selectExpr("id", "id * 2 as v"))
    src.append(spark.range(200, 202).selectExpr("id", "id * 2 as v"))
    assert c.snapshot().count() == 8        # 5 + 3, not src's 2
    assert src.snapshot().count() == 7      # 5 + 2, not clone's 3
    # txn marks did NOT come across: the clone is a fresh idempotence
    # domain (a stream re-targeted at it must replay, not skip)
    src2 = _mk(spark, tmp_path, "src2")
    src2.create(spark.range(3).selectExpr("id", "id as v"))
    src2.append(spark.range(3, 6).selectExpr("id", "id as v"),
                txn_app="job", txn_batch=7)
    c2 = _mk(spark, tmp_path, "clone2").clone_shallow(src2)
    assert c2._replay().txns == {}
    assert c2.append(spark.range(6, 8).selectExpr("id", "id as v"),
                     txn_app="job", txn_batch=7) is not None


def test_clone_vacuum_never_deletes_source_files(spark, tmp_path):
    src = _src(spark, tmp_path, n=8)
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    # retire every external reference on the clone side...
    c.overwrite(spark.range(50, 53).selectExpr("id", "id * 2 as v"))
    swept = c.vacuum(retain_versions=1, orphan_grace_s=0.0)
    # ...and vacuum reclaims NONE of them (they are src's data)
    assert swept["data_files_deleted"] == 0
    assert src.snapshot().count() == 8
    assert src.fsck()["missing"] == []


def test_source_vacuum_can_break_clone_and_fsck_flags_it(
        spark, tmp_path):
    src = _src(spark, tmp_path, n=6)
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    src.overwrite(spark.range(3).selectExpr("id", "id * 2 as v"))
    src.vacuum(retain_versions=1, orphan_grace_s=0.0)
    missing = c.fsck()["missing"]
    assert missing and all(os.path.isabs(p) for p in missing)


def test_clone_with_deletion_vectors_rekeys_sidecars(spark, tmp_path):
    src = _mk(spark, tmp_path, "src")
    src.create(spark.range(10).selectExpr("id", "id * 2 as v"))
    src.delete("id >= 7", mode="dv")
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    assert c.snapshot().count() == 7
    assert c.count_rows() == 7              # metadata-only count too
    assert _rows(c.snapshot()) == _rows(src.snapshot())
    snap = c._replay()
    # sidecars are LOCAL (rewritten), keyed by the clone's abs keys
    assert all(not os.path.isabs(f)
               for fs in snap.dvs.values() for f in fs)
    assert all(os.path.isabs(k) for k in snap.dvs)
    # further DV deletes on the clone only affect the clone
    c.delete("id = 0", mode="dv")
    assert c.snapshot().count() == 6
    assert src.snapshot().count() == 7


def test_clone_of_renamed_table_keeps_logical_names(spark, tmp_path):
    src = _src(spark, tmp_path, n=4)
    src.rename_column("v", "value")
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    assert [f.name for f in c.snapshot().schema.fields] == [
        "id", "value"]
    assert _rows(c.snapshot()) == _rows(src.snapshot())
    # inherited protocol: mapping + the clone's own external refs
    feats = c.describe_detail()["table_features"]
    assert "column_mapping" in feats and "external_files" in feats


def test_compact_localizes_clone_then_vacuum_leaves_source(
        spark, tmp_path):
    src = _src(spark, tmp_path, n=12)
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    c.compact(max_files=1)
    snap = c._replay()
    assert all(not os.path.isabs(p) for p in snap.live)  # local now
    c.vacuum(retain_versions=1, orphan_grace_s=0.0)
    assert src.fsck()["missing"] == []      # externals untouched
    assert _rows(c.snapshot()) == _rows(src.snapshot())


def test_cow_delete_and_merge_work_on_external_files(spark, tmp_path):
    src = _src(spark, tmp_path, n=10)
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    got = c.delete("id >= 8", mode="cow")   # meta-read on externals
    assert got["rows_changed"] == 2
    assert c.snapshot().count() == 8
    m = c.merge(spark.createDataFrame([(0, 999), (50, 100)],
                                      "id long, v long"), on=["id"])
    assert (m["rows_updated"], m["rows_inserted"]) == (1, 1)
    assert (c.snapshot().where("id = 0").collect()[0].v == 999)
    assert src.snapshot().count() == 10     # source never moved


def test_clone_of_clone_composes(spark, tmp_path):
    src = _src(spark, tmp_path, n=6)
    c1 = _mk(spark, tmp_path, "c1").clone_shallow(src)
    c1.append(spark.range(10, 12).selectExpr("id", "id * 2 as v"))
    c2 = _mk(spark, tmp_path, "c2").clone_shallow(c1)
    assert _rows(c2.snapshot()) == _rows(c1.snapshot())
    snap = c2._replay()
    assert all(os.path.isabs(p) for p in snap.live)
    roots = {os.path.abspath(src.path), os.path.abspath(c1.path)}
    assert {p for p in snap.live
            if not any(p.startswith(r + os.sep) for r in roots)} == set()


def test_clone_refuses_existing_target_and_unknown_writer_feature(
        spark, tmp_path):
    src = _src(spark, tmp_path, n=3)
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    with pytest.raises(FileExistsError):
        c.clone_shallow(src)
    # a source demanding writer capabilities we lack cannot be cloned
    v = src.latest_version() + 1
    p = src._commit_path(v)
    with open(p + ".tmp", "w") as f:
        json.dump({"op": "upgrade", "ts": 0.0, "add": [], "remove": [],
                   "protocol": {"min_reader": 1, "min_writer": 1,
                                "reader_features": [],
                                "writer_features": ["quantum_invariants"]}},
                  f)
    os.replace(p + ".tmp", p)
    with pytest.raises(ProtocolError, match="quantum_invariants"):
        _mk(spark, tmp_path, "clone3").clone_shallow(src)


def test_sql_shallow_clone_ddl(spark, tmp_path):
    lake = LakehouseCatalog(spark)
    lake.register("src", str(tmp_path / "src"))
    lake.register("dev", str(tmp_path / "dev"))
    lake.sql("CREATE TABLE src USING txlog AS "
             "SELECT id, id * 2 AS v FROM range(6)")
    lake.sql("INSERT INTO src SELECT id, id * 2 AS v "
             "FROM range(6, 9)")
    lake.sql("CREATE TABLE dev SHALLOW CLONE src VERSION AS OF 0")
    assert lake.sql("SELECT COUNT(*) FROM dev").collect()[0][0] == 6
    lake.sql("DELETE FROM dev WHERE id < 3")
    assert lake.sql("SELECT COUNT(*) FROM dev").collect()[0][0] == 3
    assert lake.sql("SELECT COUNT(*) FROM src").collect()[0][0] == 9


def test_feed_reads_clone_external_files(spark, tmp_path):
    """The plain-Spark batch read (``format("txlog")``) resolves
    absolute add paths: a clone's v0 reads exactly the forked
    content."""
    src = _src(spark, tmp_path, n=6)
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    from aws_payment_data_lake_spark.sources.txlog_batch import (
        read_txlog,
    )
    got = read_txlog(spark, c.path)
    assert sorted((r.id, r.v) for r in got.collect()) == [
        (i, 2 * i) for i in range(6)]


def test_independent_reader_replays_clone(spark, tmp_path):
    src = _mk(spark, tmp_path, "src")
    src.create(spark.range(9).selectExpr("id", "id * 2 as v"))
    src.delete("id % 4 = 1", mode="dv")     # external DV re-keying too
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    from scripts.txlog_reader import IndependentTxlogReader
    r = IndependentTxlogReader(c.path)
    assert r.count_rows() == c.count_rows() == 7
    got = sorted(r.snapshot_rows())
    want = sorted(tuple(x) for x in c.snapshot().collect())
    assert got == want


def test_clone_inherits_copy_into_state(spark, tmp_path):
    """The clone already HOLDS the copied rows via external refs — a
    COPY INTO re-run against it must skip them (contrast txn marks,
    which deliberately reset)."""
    (spark.range(4).selectExpr("id", "id * 2 as v")
     .coalesce(1).write.parquet(str(tmp_path / "land" / "a")))
    src = TxnTable(spark, str(tmp_path / "src"))
    src.create(spark.createDataFrame([], "id long, v long"))
    src.copy_into(str(tmp_path / "land"))
    c = _mk(spark, tmp_path, "clone").clone_shallow(src)
    assert c.copy_into(str(tmp_path / "land"))["files_loaded"] == 0
    assert c.snapshot().count() == 4
    # a NEW landing file still loads on the clone alone
    (spark.range(4, 6).selectExpr("id", "id * 2 as v")
     .coalesce(1).write.parquet(str(tmp_path / "land" / "b")))
    assert c.copy_into(str(tmp_path / "land"))["rows_loaded"] == 2
    assert src.snapshot().count() == 4
