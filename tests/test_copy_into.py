"""COPY INTO (sources/txlog.py copy_into, TXLOG_FORMAT.md §Commit
record `copy_into`): idempotent landing-zone ingest. Pins the
exactly-once contract (loaded paths ride the SAME commit as the
adds and accumulate across replay, restore, and checkpoints), the
pattern/format surface, constraint + generated-column enforcement on
the copied rows, and the SQL DDL."""

from __future__ import annotations

import json
import os

import pytest

from aws_payment_data_lake_spark.sources.txlog import (
    CheckViolationError,
    ConcurrentWriteError,
    TxnTable,
)
from aws_payment_data_lake_spark.sources.txsql import LakehouseCatalog


def _mk(spark, tmp_path, name="tbl", **kw):
    return TxnTable(spark, str(tmp_path / name), **kw)


def _land(spark, tmp_path, sub, lo, hi):
    """One parquet landing file holding ids [lo, hi)."""
    d = tmp_path / "landing" / sub
    (spark.range(lo, hi).selectExpr("id", "id * 2 as v")
     .coalesce(1).write.mode("append").parquet(str(d)))
    return str(d)


def test_rerun_loads_each_file_exactly_once(spark, tmp_path):
    _land(spark, tmp_path, "a", 0, 5)
    land = str(tmp_path / "landing")
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([], "id long, v long"))
    r1 = t.copy_into(land)
    assert r1["files_loaded"] >= 1 and r1["rows_loaded"] == 5
    r2 = t.copy_into(land)            # scheduler double-fire
    assert r2 == {"version": r1["version"], "files_loaded": 0,
                  "files_skipped": r1["files_loaded"],
                  "rows_loaded": 0}
    assert t.snapshot().count() == 5
    # a NEW landing file loads alone; the old ones stay skipped
    _land(spark, tmp_path, "b", 5, 8)
    r3 = t.copy_into(land)
    assert r3["rows_loaded"] == 3 and r3["files_skipped"] >= 1
    assert sorted(r.id for r in t.snapshot().collect()) == list(range(8))


def test_source_dir_file_uri_loads_and_bad_sources_raise(spark,
                                                         tmp_path):
    """A ``file:`` URI names the same directory as its path; another
    scheme or a missing directory raises instead of loading nothing."""
    d = _land(spark, tmp_path, "a", 0, 5)
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([], "id long, v long"))
    assert t.copy_into("file:" + d)["rows_loaded"] == 5
    assert t.copy_into(d)["files_loaded"] == 0       # same files
    with pytest.raises(ValueError, match="scheme"):
        t.copy_into("s3a://bucket/landing")
    with pytest.raises(FileNotFoundError):
        t.copy_into(str(tmp_path / "no_such_dir"))
    assert t.snapshot().count() == 5


def test_sources_ride_the_same_commit_as_the_adds(spark, tmp_path):
    _land(spark, tmp_path, "a", 0, 4)
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([], "id long, v long"))
    r = t.copy_into(str(tmp_path / "landing"))
    with open(t._commit_path(r["version"])) as f:
        c = json.load(f)
    assert c["op"] == "copy_into"
    assert len(c["add"]) >= 1 and len(c["copy_sources"]) >= 1
    assert all(os.path.isabs(p) for p in c["copy_sources"])
    # first copy activates the writer feature
    assert "copy_into" in c["protocol"]["writer_features"]


def test_idempotence_survives_restore_and_checkpoint(spark, tmp_path):
    _land(spark, tmp_path, "a", 0, 4)
    land = str(tmp_path / "landing")
    t = _mk(spark, tmp_path, checkpoint_every=1)
    t.create(spark.createDataFrame([], "id long, v long"))
    t.copy_into(land)
    pre = t.latest_version()
    t.append(spark.range(100, 102).selectExpr("id", "id as v"))
    t.restore(version=pre)
    # restore must NOT rewind the ingest state: a post-restore re-run
    # would otherwise double-load
    assert t.copy_into(land)["files_loaded"] == 0
    # a fresh handle replays from the CHECKPOINT (every commit wrote
    # one) and must still skip
    t2 = _mk(spark, tmp_path, checkpoint_every=1)
    assert t2._read_checkpoint(t2.latest_version()) is not None
    assert t2.copy_into(land)["files_loaded"] == 0
    assert t2.snapshot().count() == 4


def test_pattern_and_hidden_files(spark, tmp_path):
    _land(spark, tmp_path, "keep", 0, 3)
    _land(spark, tmp_path, "skip", 10, 13)
    land = str(tmp_path / "landing")
    # hidden/underscore artifacts in the landing zone are ignored
    open(os.path.join(land, "_SUCCESS"), "w").close()
    open(os.path.join(land, ".stage.parquet"), "w").close()
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([], "id long, v long"))
    r = t.copy_into(land, pattern="keep/*")
    assert r["rows_loaded"] == 3
    assert sorted(x.id for x in t.snapshot().collect()) == [0, 1, 2]


def test_constraints_and_generated_apply_to_copied_rows(spark, tmp_path):
    _land(spark, tmp_path, "a", 0, 6)
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([], "id long, v long, d long"),
             generated={"d": "v + 1"})
    r = t.copy_into(str(tmp_path / "landing"))   # lands without d
    assert r["rows_loaded"] == 6
    assert all(x.d == x.v + 1 for x in t.snapshot().collect())
    t.add_check_constraint("small", "id < 100")
    _land(spark, tmp_path, "big", 500, 503)
    with pytest.raises(CheckViolationError):
        t.copy_into(str(tmp_path / "landing"))
    # the refused batch is not marked ingested: fixing the constraint
    # lets the SAME files load
    t.drop_check_constraint("small")
    assert t.copy_into(str(tmp_path / "landing"))["rows_loaded"] == 3


def test_json_format_reads_under_table_schema(spark, tmp_path):
    d = tmp_path / "landing_json"
    (spark.range(4).selectExpr("id", "id * 3 as v")
     .coalesce(1).write.json(str(d)))
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([], "id long, v long"))
    r = t.copy_into(str(d), fmt="json")
    assert r["rows_loaded"] == 4
    assert sorted((x.id, x.v) for x in t.snapshot().collect()) == [
        (i, 3 * i) for i in range(4)]


def test_sql_copy_into(spark, tmp_path):
    d = tmp_path / "landing_csv"
    (spark.range(5).selectExpr("id", "id * 2 as v")
     .coalesce(1).write.option("header", "true").csv(str(d)))
    lake = LakehouseCatalog(spark)
    lake.register("tgt", str(tmp_path / "tgt"))
    lake.sql("CREATE TABLE tgt (id bigint, v bigint) USING txlog")
    res = {r["metric"]: r["value"] for r in lake.sql(
        f"COPY INTO tgt FROM '{d}' FILEFORMAT = CSV "
        f"FORMAT_OPTIONS ('header' = 'true')").collect()}
    assert res["rows_loaded"] == 5
    res2 = {r["metric"]: r["value"] for r in lake.sql(
        f"COPY INTO tgt FROM '{d}' FILEFORMAT = CSV "
        f"FORMAT_OPTIONS ('header' = 'true')").collect()}
    assert res2["rows_loaded"] == 0 and res2["files_loaded"] == 0
    assert lake.sql("SELECT COUNT(*) FROM tgt").collect()[0][0] == 5


def test_crash_between_stage_and_publish_never_double_loads(
        spark, tmp_path, monkeypatch):
    """Kill the writer AFTER staging but BEFORE the commit publishes:
    nothing is visible, the sources are not marked ingested, the
    re-run loads every file exactly once, and vacuum sweeps the
    orphaned stage."""
    _land(spark, tmp_path, "a", 0, 5)
    land = str(tmp_path / "landing")
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([], "id long, v long"))
    real = TxnTable._try_publish

    def boom(self, version, commit, features=()):
        raise RuntimeError("simulated crash before publish")

    monkeypatch.setattr(TxnTable, "_try_publish", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        t.copy_into(land)
    monkeypatch.setattr(TxnTable, "_try_publish", real)
    assert t.snapshot().count() == 0          # staged stays invisible
    r = t.copy_into(land)                     # the retry
    assert r["rows_loaded"] == 5
    assert t.copy_into(land)["files_loaded"] == 0
    assert t.snapshot().count() == 5
    swept = t.vacuum(orphan_grace_s=0.0)
    assert swept["orphan_dirs_deleted"] == 1  # the crashed stage
    assert t.snapshot().count() == 5


def test_concurrent_copies_of_same_landing_load_once(spark, tmp_path):
    """Two racing COPY INTOs of the same landing zone: exactly one
    wins; the loser either aborts (ConcurrentWriteError) or skips —
    the table ends with each file's rows exactly once."""
    import threading

    _land(spark, tmp_path, "a", 0, 6)
    land = str(tmp_path / "landing")
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([], "id long, v long"))
    barrier = threading.Barrier(2)
    outcomes = []

    def go():
        h = TxnTable(spark, t.path)
        barrier.wait()
        try:
            outcomes.append(h.copy_into(land))
        except ConcurrentWriteError:
            outcomes.append("aborted")

    ts = [threading.Thread(target=go) for _ in range(2)]
    [x.start() for x in ts]
    [x.join() for x in ts]
    loaded = [o for o in outcomes
              if isinstance(o, dict) and o["files_loaded"]]
    assert len(loaded) == 1, outcomes
    assert sorted(r.id for r in t.snapshot().collect()) == list(range(6))
