"""Deletion vectors (sources/txlog.py, delete(mode='dv')): merge-on-
read row deletes — no data file touched, sidecar positions applied at
every read path, materialized by any rewrite, time-travel/restore/
vacuum/checkpoint aware."""

from __future__ import annotations

import glob
import os

import pytest

from aws_payment_data_lake_spark.sources.txlog import TxnTable


def _mk(spark, tmp_path, name="tbl", **kw):
    return TxnTable(spark, str(tmp_path / name), **kw)


def _data_state(t):
    return {p: (os.path.getsize(p), os.path.getmtime(p))
            for p in glob.glob(os.path.join(t.path, "data", "*",
                                            "*.parquet"))}


def test_dv_delete_touches_no_data_file(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(100).selectExpr("id", "id as v"))
    before = _data_state(t)
    res = t.delete("id % 10 = 3", mode="dv")
    assert res["rows_changed"] == 10
    assert res["files_rewritten"] == 0
    assert res["dv_files"] >= 1
    after = _data_state(t)
    # every pre-existing data file is byte- and mtime-identical
    for p, st in before.items():
        assert after[p] == st, p
    got = t.snapshot()
    assert got.count() == 90
    assert got.where("id % 10 = 3").count() == 0
    # metadata-only count agrees with the merge-on-read scan
    assert t.count_rows() == 90
    d = t.describe_detail()
    assert d["num_rows"] == 90 and d["dv_dead_rows"] == 10


def test_dv_deletes_accumulate_and_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(50).selectExpr("id", "id as v"))   # v0
    t.delete("id < 10", mode="dv")                          # v1
    t.delete("id >= 40", mode="dv")                         # v2
    assert sorted(r["id"] for r in t.snapshot().collect()) \
        == list(range(10, 40))
    assert t.count_rows() == 30
    # each version sees exactly its own dead set
    assert t.snapshot(0).count() == 50
    assert t.snapshot(1).count() == 40
    assert t.count_rows(version=1) == 40
    # NULL-predicate rows survive (SQL semantics)
    t2 = _mk(spark, tmp_path, "nulls")
    t2.create(spark.createDataFrame(
        [(1, 5), (2, None), (3, 50)], "id long, v long"))
    t2.delete("v > 10", mode="dv")
    assert sorted(r["id"] for r in t2.snapshot().collect()) == [1, 2]


def test_rewrites_materialize_dvs(spark, tmp_path):
    """MERGE/OPTIMIZE read through the DV path, so their output files
    are born clean and the replayed log drops the sidecars with the
    replaced files — dead rows can never resurrect."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(100).selectExpr("id", "id as v"))
    t.delete("id % 10 = 3", mode="dv")
    # merge updates some survivors and inserts new ids; the dead ids
    # in the touched files must NOT come back
    src = spark.createDataFrame(
        [(4, -4), (14, -14), (200, 1)], "id long, v long")
    t.merge(src, on=["id"])
    got = {r["id"]: r["v"] for r in t.snapshot().collect()}
    assert got[4] == -4 and got[14] == -14 and got[200] == 1
    assert 3 not in got and 13 not in got
    assert len(got) == 91                      # 90 survivors + 1 insert
    # full compaction: all DVs materialized, state empty
    t.compact(max_files=2)
    snap = t._replay()
    assert snap.dvs == {} and snap.dv_dead == {}
    assert t.count_rows() == 91
    assert t.snapshot().count() == 91
    assert 3 not in {r["id"] for r in t.snapshot().collect()}


def test_dv_restore_roundtrip(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(30).selectExpr("id", "id as v"))   # v0
    t.delete("id < 5", mode="dv")                           # v1
    t.delete("id >= 25", mode="dv")                         # v2
    assert t.count_rows() == 20
    t.restore(version=1)                                    # v3
    assert t.count_rows() == 25                             # v2 undone
    assert sorted(r["id"] for r in t.snapshot().collect()) \
        == list(range(5, 30))
    t.restore(version=0)                                    # v4
    assert t.count_rows() == 30
    # pre-restore DV'd states remain time-travelable
    assert t.snapshot(2).count() == 20


def test_dv_vacuum_keeps_referenced_sidecars(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(40).selectExpr("id", "id as v"))   # v0
    t.delete("id < 4", mode="dv")                           # v1
    # sidecars referenced by retained versions survive vacuum
    res = t.vacuum(retain_versions=2, orphan_grace_s=0.0)
    assert t.snapshot().count() == 36
    # rewrite everything (materializes), then vacuum past the DV era:
    # the sidecar files become unreferenced and are removed
    t.compact(max_files=1)                                  # v2
    t.append(spark.range(100, 101).selectExpr("id", "id as v"))  # v3
    res = t.vacuum(retain_versions=2, orphan_grace_s=0.0)
    assert res["data_files_deleted"] >= 1
    assert t.snapshot().count() == 37
    assert t.snapshot().where("id < 4").count() == 0


def test_dv_survives_checkpoint_and_fresh_handle(spark, tmp_path):
    t = _mk(spark, tmp_path, checkpoint_every=2)
    t.create(spark.range(20).selectExpr("id", "id as v"))   # v0
    t.delete("id < 5", mode="dv")                           # v1
    t.append(spark.range(100, 110).selectExpr("id", "id as v"))  # v2 -> ckpt
    assert os.path.isfile(t._ckpt_path(2))
    fresh = TxnTable(spark, t.path, checkpoint_every=2)
    assert fresh.count_rows() == 25
    assert fresh.snapshot().where("id < 5").count() == 0
    snap = fresh._read_checkpoint(2)
    assert snap is not None and snap.dv_dead and snap.dvs


def test_dv_scan_pruning_still_applies_dvs(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(1000).selectExpr("id", "id as v"))
    t.delete("id IN (10, 500, 990)", mode="dv")
    pruned = t.scan("id", lo=0, hi=100)
    assert pruned.where("id = 10").count() == 0
    assert pruned.where("id = 11").count() == 1


def test_dv_merge_conflict_still_aborts(spark, tmp_path):
    """A dv-delete racing a merge is NOT provably disjoint (it removes
    rows by position, possibly in the merge's range) — the merge must
    abort, not silently drop the delete."""
    from unittest import mock

    from aws_payment_data_lake_spark.sources.txlog import (
        ConcurrentWriteError,
    )

    t = _mk(spark, tmp_path)
    t.create(spark.range(10).selectExpr("id", "id as v"))
    intruder = TxnTable(spark, t.path)
    real_stage = TxnTable._stage
    fired = []

    def stage_then_dv_delete(self, df, partition_by, max_files=None,
                             partition_files=None, **kw):
        adds = real_stage(self, df, partition_by, max_files,
                          partition_files, **kw)
        if self is t and not fired:
            fired.append(1)
            intruder.delete("id = 7", mode="dv")
        return adds

    with mock.patch.object(TxnTable, "_stage", stage_then_dv_delete):
        with pytest.raises(ConcurrentWriteError):
            t.merge(spark.createDataFrame([(1, -1)], "id long, v long"),
                    on=["id"])
    assert t.snapshot().count() == 9           # the dv delete won


def test_dv_update_appends_and_masks(spark, tmp_path):
    """update(mode='dv'): matched rows' old positions get a DV and the
    updated rows land as a NEW file in the same commit — no existing
    file rewritten; reads see exactly the post-update table."""
    import pyspark.sql.functions as F

    t = _mk(spark, tmp_path)
    t.create(spark.range(100).selectExpr("id", "id as v",
                                         "'a' as tag"))
    before = _data_state(t)
    res = t.update({"v": F.col("v") * 100, "tag": F.lit("hot")},
                   "id >= 95", mode="dv")
    assert res["rows_changed"] == 5
    assert res["files_rewritten"] == 0
    for p, st in before.items():            # old files byte-identical
        assert _data_state(t)[p] == st, p
    got = {r["id"]: (r["v"], r["tag"]) for r in t.snapshot().collect()}
    assert len(got) == 100                  # no dup, no loss
    assert all(got[i] == (i * 100, "hot") for i in range(95, 100))
    assert all(got[i] == (i, "a") for i in range(0, 95))
    assert t.count_rows() == 100            # metadata count balanced
    # constraint enforcement applies to the UPDATED rows
    t.add_check_constraint("v_cap", "v < 100000")
    with pytest.raises(Exception):
        t.update({"v": F.lit(10_000_000)}, "id = 1", mode="dv")
    # time travel: pre-update version intact
    assert {r["v"] for r in t.snapshot(0).where("id = 99").collect()} \
        == {99}
    # a later update of the SAME rows works (positions chain correctly)
    t.update({"v": F.col("v") + 1}, "id = 99", mode="dv")
    assert t.snapshot().where("id = 99").first()["v"] == 9901
    assert t.count_rows() == 100


def test_dv_fsck_flags_lost_sidecar(spark, tmp_path):
    """A deleted DV sidecar silently RESURRECTS dead rows — fsck must
    flag it as missing."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(20).selectExpr("id", "id as v"))
    t.delete("id < 3", mode="dv")
    assert t.fsck()["clean"]
    snap = t._replay()
    dv_rel = next(iter(next(iter(snap.dvs.values()))))
    os.unlink(os.path.join(t.path, dv_rel))
    rep = t.fsck()
    assert not rep["clean"] and dv_rel in rep["missing"]


def test_changes_with_deletes_cdf(spark, tmp_path):
    """changes(include_deletes=True): DV dead rows surface as
    _change_type='delete' with their full pre-image; a dv-update emits
    post-image insert + pre-image delete in the same commit."""
    import pyspark.sql.functions as F

    t = _mk(spark, tmp_path)
    t.create(spark.range(10).selectExpr("id", "id as v"))   # v0
    t.delete("id IN (2, 5)", mode="dv")                     # v1
    t.update({"v": F.col("v") * 100}, "id = 7", mode="dv")  # v2

    feed = t.changes(0, include_deletes=True).collect()
    by = {}
    for r in feed:
        by.setdefault((r["_commit_version"], r["_change_type"]),
                      []).append((r["id"], r["v"]))
    assert sorted(by[(1, "delete")]) == [(2, 2), (5, 5)]    # pre-images
    assert by[(2, "insert")] == [(7, 700)]                  # post-image
    assert by[(2, "delete")] == [(7, 7)]                    # pre-image
    assert (1, "insert") not in by
    # default shape unchanged (no _change_type, adds only)
    plain = t.changes(0)
    assert "_change_type" not in plain.columns
    assert [tuple(r) for r in plain.collect()] == [(7, 700, 2)]


# --------------------------------------------------------------- ADVICE r8
def _race_dv_into_first_publish(monkeypatch, table_path, spark,
                                ops=("compact", "optimize")):
    """Patch _try_publish so the FIRST compact/optimize publish loses
    the version race to a concurrent dv-delete of id%10=3 — the lost-
    update window: the rewrite's staged files were read BEFORE the DV
    existed, so republishing them must be refused."""
    t2 = TxnTable(spark, table_path)
    orig = TxnTable._try_publish
    state = {"raced": False}

    def racy(self, version, commit, features=()):
        if commit.get("op") in ops and not state["raced"]:
            state["raced"] = True
            t2.delete("id % 10 = 3", mode="dv")   # claims `version`
        return orig(self, version, commit, features)

    monkeypatch.setattr(TxnTable, "_try_publish", racy)
    return state


def test_compact_retry_rereads_after_concurrent_dv(spark, tmp_path,
                                                   monkeypatch):
    t = _mk(spark, tmp_path)
    t.create(spark.range(0, 40).selectExpr("id", "id as v"))
    t.append(spark.range(40, 80).selectExpr("id", "id as v"))
    state = _race_dv_into_first_publish(monkeypatch, t.path, spark)
    res = t.compact(max_files=1)
    assert state["raced"] and res["noop"] == 0
    got = t.snapshot()
    assert got.where("id % 10 = 3").count() == 0   # no resurrection
    assert got.count() == 72
    # the compaction materialized the DV: no sidecars survive
    assert t._replay().dv_dead == {}
    assert t.count_rows() == 72


def test_optimize_retry_rereads_after_concurrent_dv(spark, tmp_path,
                                                    monkeypatch):
    t = _mk(spark, tmp_path)
    t.create(spark.range(0, 40).selectExpr("id", "id as v"))
    t.append(spark.range(40, 80).selectExpr("id", "id as v"))
    state = _race_dv_into_first_publish(monkeypatch, t.path, spark)
    res = t.optimize(["v"], n_files=2)
    assert state["raced"] and res["noop"] == 0
    got = t.snapshot()
    assert got.where("id % 10 = 3").count() == 0
    assert got.count() == 72
    assert t._replay().dv_dead == {}


def test_cdf_inserts_not_retro_filtered_by_later_dvs(spark, tmp_path):
    """A deletion vector logged at v1 must NOT erase v0's 'insert'
    rows from the change feed: a from-scratch consumer applies the
    insert and then the explicit delete pre-image (Delta CDF emits
    inserts as committed at their version)."""
    t = _mk(spark, tmp_path, "cdf_raw")
    t.create(spark.range(10).selectExpr("id", "id as v"))   # v0
    t.delete("id IN (2, 5)", mode="dv")                     # v1
    feed = t.changes(-1, include_deletes=True).collect()
    ins = sorted(r["id"] for r in feed if r["_change_type"] == "insert")
    dels = sorted(r["id"] for r in feed if r["_change_type"] == "delete")
    assert ins == list(range(10))        # ALL ten inserts, 2 and 5 too
    assert dels == [2, 5]
    # strict apply: inserts minus deletes == live snapshot
    live = {r["id"] for r in feed if r["_change_type"] == "insert"} \
        - {r["id"] for r in feed if r["_change_type"] == "delete"}
    assert live == {r["id"] for r in t.snapshot().collect()}


def test_dv_on_percent_encoded_table_path(spark, tmp_path):
    """Table roots with URI-reserved characters (space, '%'):
    _metadata.file_path arrives percent-encoded, and the rel-strip
    must still land on log paths — a miss would 'succeed' while
    deleting nothing (guarded loudly by _assert_dv_targets_live)."""
    t = TxnTable(spark, str(tmp_path / "sp ace %tbl"))
    t.create(spark.range(20).selectExpr("id", "id as v"))
    res = t.delete("id < 5", mode="dv")
    assert res["rows_changed"] == 5
    assert t.snapshot().count() == 15
    assert t.count_rows() == 15
    assert {r["id"] for r in t.snapshot().collect()} == set(range(5, 20))


# ----------------------------------------------- REORG APPLY (PURGE) (r9)
def test_materialize_dvs_policy_threshold(spark, tmp_path):
    """materialize_dvs rewrites only files whose dead fraction beats
    the threshold (selection from the LOG alone), born clean through
    the DV read path; sparse files keep their bytes and sidecars."""
    t = _mk(spark, tmp_path, "purge")
    t.create(spark.range(100).selectExpr("id", "id as v"),
             partition_by=["id"], partition_files=2)
    t.delete("id < 20", mode="dv")       # dense: ~40% of file 1
    t.delete("id = 90", mode="dv")       # sparse: 1 row of file 2
    assert t.describe_detail()["dv_dead_rows"] == 21
    res = t.materialize_dvs(min_dead_frac=0.1)
    assert res["files_purged"] == 1 and res["rows_dropped"] == 20
    d = t.describe_detail()
    assert d["dv_dead_rows"] == 1        # sparse file untouched
    assert t.count_rows() == 79 and t.snapshot().count() == 79
    # full purge (threshold 0): the sparse file too
    res2 = t.materialize_dvs()
    assert res2["files_purged"] == 1 and res2["rows_dropped"] == 1
    assert t.describe_detail()["dv_dead_rows"] == 0
    assert t.describe_detail()["dv_files"] == 0
    assert t.snapshot().count() == 79
    # idempotent: nothing left to purge
    assert t.materialize_dvs()["noop"] == 1


def test_reorg_is_layout_only_and_vacuumable(spark, tmp_path):
    """The purge commit must not re-emit rows through the change feed
    (visible content unchanged), history stays truthful, and vacuum
    reclaims both the replaced data files and the dead sidecars."""
    import glob as _glob

    t = _mk(spark, tmp_path, "gc")
    t.create(spark.range(50).selectExpr("id", "id as v"))      # v0
    t.delete("id % 5 = 0", mode="dv")                          # v1
    t.materialize_dvs()                                        # v2
    assert [h["op"] for h in t.history()] == \
        ["create", "delete_dv", "reorg"]
    # change feed after the dv delete: the reorg adds are SKIPPED
    assert t.changes(1).count() == 0
    rep = t.vacuum(retain_versions=1, orphan_grace_s=0.0)
    assert rep["data_files_deleted"] >= 2   # replaced file + sidecar
    assert t.fsck()["clean"]
    assert t.snapshot().count() == 40
    # no sidecar parquet remains anywhere under data/
    live = set(t._replay().live)
    on_disk = {p for p in _glob.glob(
        os.path.join(t.path, "data", "*", "*.parquet"))}
    rels = {os.path.relpath(p, t.path) for p in on_disk}
    assert rels == live


def test_vacuum_retain_hours(spark, tmp_path):
    """Wall-clock retention: versions committed inside the window (plus
    the latest) survive; older snapshots' exclusive files are
    reclaimed. Backdates commit ts directly (the log is the clock)."""
    import json as _json

    t = _mk(spark, tmp_path, "hours")
    t.create(spark.range(10).selectExpr("id", "id as v"))      # v0
    t.overwrite(spark.range(10, 30).selectExpr("id", "id as v"))  # v1
    t.overwrite(spark.range(30, 35).selectExpr("id", "id as v"))  # v2
    # a window covering everything deletes nothing
    assert t.vacuum(retain_hours=24.0)["data_files_deleted"] == 0
    assert t.snapshot(0).count() == 10          # time travel intact
    # backdate v0/v1 two hours; retain 1 hour
    for v in (0, 1):
        p = t._commit_path(v)
        with open(p) as f:
            c = _json.load(f)
        c["ts"] -= 7200
        with open(p, "w") as f:
            _json.dump(c, f)
    rep = t.vacuum(retain_hours=1.0)
    assert rep["data_files_deleted"] >= 2       # v0 + v1 exclusive files
    assert t.snapshot().count() == 5            # latest always readable
    with pytest.raises(Exception):
        t.snapshot(0).collect()                 # beyond the horizon
