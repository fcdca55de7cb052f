"""CHECK constraints and TIMESTAMP AS OF on the ACID format
(sources/txlog.py): ALTER-style add/drop with existing-data
validation, write-side enforcement across append/overwrite/merge/
update, NULL-passes SQL semantics, checkpoint survival, and
timestamp-resolved time travel."""

from __future__ import annotations

import time

import pytest

from aws_payment_data_lake_spark.sources.txlog import (
    CheckViolationError,
    TxnTable,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, amount double")


@pytest.fixture()
def table(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "tbl"))
    t.create(_df(spark, [(1, 10.0), (2, 20.0)]))
    return t


def test_add_validates_existing_data(spark, table):
    table.add_check_constraint("amount_pos", "amount > 0")
    v = table.latest_version()
    with pytest.raises(CheckViolationError, match="amount_cap"):
        table.add_check_constraint("amount_cap", "amount < 15")
    # the failed ALTER published nothing
    assert table.latest_version() == v
    with pytest.raises(ValueError, match="already"):
        table.add_check_constraint("amount_pos", "amount > 1")


def test_append_enforced_and_atomic(spark, table):
    table.add_check_constraint("amount_pos", "amount > 0")
    v = table.latest_version()
    with pytest.raises(CheckViolationError, match="amount_pos"):
        table.append(_df(spark, [(3, -1.0)]))
    assert table.latest_version() == v          # nothing committed
    assert table.snapshot().count() == 2        # nothing visible
    table.append(_df(spark, [(3, 3.0)]))        # valid rows pass
    assert table.snapshot().count() == 3


def test_null_passes_sql_semantics(spark, table):
    """ANSI/Delta CHECK: a NULL predicate result is NOT a violation."""
    table.add_check_constraint("amount_pos", "amount > 0")
    table.append(_df(spark, [(4, None)]))
    assert table.snapshot().where("id = 4").count() == 1


def test_overwrite_merge_update_enforced(spark, table):
    table.add_check_constraint("amount_pos", "amount > 0")
    with pytest.raises(CheckViolationError):
        table.overwrite(_df(spark, [(9, -9.0)]))
    with pytest.raises(CheckViolationError):
        table.merge(_df(spark, [(1, -5.0)]), on=["id"])
    with pytest.raises(CheckViolationError):
        table.update({"amount": "amount - 100"}, "id = 1")
    # the table is bit-unchanged after all three rejections
    assert sorted((r["id"], r["amount"])
                  for r in table.snapshot().collect()) == \
        [(1, 10.0), (2, 20.0)]
    # deletes need no check (they only remove rows)
    table.delete("id = 2")
    assert table.snapshot().count() == 1


def test_drop_constraint_reopens_writes(spark, table):
    table.add_check_constraint("amount_pos", "amount > 0")
    table.drop_check_constraint("amount_pos")
    table.append(_df(spark, [(5, -5.0)]))       # now legal
    assert table.snapshot().where("amount < 0").count() == 1
    with pytest.raises(KeyError):
        table.drop_check_constraint("amount_pos")


def test_constraints_survive_checkpoint(spark, tmp_path):
    """A fresh reader replaying FROM THE CHECKPOINT (not the JSON
    tail) still sees and enforces the constraint."""
    t = TxnTable(spark, str(tmp_path / "ck"), checkpoint_every=2)
    t.create(_df(spark, [(1, 1.0)]))
    t.add_check_constraint("amount_pos", "amount > 0")
    t.append(_df(spark, [(2, 2.0)]))            # v2 -> checkpoint
    t.append(_df(spark, [(3, 3.0)]))
    fresh = TxnTable(spark, str(tmp_path / "ck"), checkpoint_every=2)
    assert fresh._read_checkpoint(fresh.latest_version()) is not None
    assert fresh._replay().constraints == {"amount_pos": "amount > 0"}
    with pytest.raises(CheckViolationError):
        fresh.append(_df(spark, [(4, -4.0)]))


def test_multiple_constraints_one_scan_names_violators(spark, table):
    table.add_check_constraint("amount_pos", "amount > 0")
    table.add_check_constraint("id_range", "id < 100")
    with pytest.raises(CheckViolationError, match="id_range"):
        table.append(_df(spark, [(500, 5.0)]))
    with pytest.raises(CheckViolationError) as ei:
        table.append(_df(spark, [(500, -5.0)]))
    assert "amount_pos" in str(ei.value) and "id_range" in str(ei.value)


def test_timestamp_time_travel(spark, table):
    t1 = time.time()
    time.sleep(0.02)
    table.append(_df(spark, [(3, 3.0)]))
    time.sleep(0.02)
    t2 = time.time()
    time.sleep(0.02)
    table.append(_df(spark, [(4, 4.0)]))

    assert table.version_at(t1) == 0
    assert table.version_at(t2) == 1
    assert table.snapshot(timestamp=t1).count() == 2
    assert table.snapshot(timestamp=t2).count() == 3
    assert table.snapshot(timestamp=time.time()).count() == 4
    with pytest.raises(ValueError, match="predates"):
        table.version_at(0.0)
    with pytest.raises(ValueError, match="not both"):
        table.snapshot(version=1, timestamp=t1)


def test_metadata_only_count_and_detail(spark, table):
    """COUNT(*) and DESCRIBE DETAIL answered from the log alone — no
    data file is opened (files chmod'd unreadable to prove it)."""
    import os
    table.append(_df(spark, [(3, 3.0)]))
    paths = [os.path.join(table.path, p) for p in table._replay().live]
    try:
        for p in paths:
            os.chmod(p, 0)
        assert table.count_rows() == 3
        assert table.count_rows(version=0) == 2
        d = table.describe_detail()
        assert d["num_rows"] == 3 and d["version"] == 1
        assert d["num_files"] == len(paths)
    finally:
        for p in paths:
            os.chmod(p, 0o644)
    # and the counts agree with a real scan
    assert table.count_rows() == table.snapshot().count()
    ts_now = time.time()
    assert table.count_rows(timestamp=ts_now) == 3


def test_fsck_detects_each_failure_class(spark, table):
    """fsck: clean table reports clean; an externally deleted live
    file, a truncated file, an orphan, and a deleted commit JSON are
    each named in their own bucket; nothing is mutated."""
    import os
    table.append(_df(spark, [(3, 3.0)]))
    assert table.fsck(verify_footers=True)["clean"]

    live = sorted(table._replay().live)
    victim = os.path.join(table.path, live[0])
    os.unlink(victim)                                  # external delete
    r = table.fsck()
    assert r["missing"] == [live[0]] and not r["clean"]

    # "restore" the path with truncated bytes: size drift, not missing
    with open(os.path.join(table.path, live[1]), "rb") as f:
        blob = f.read()
    with open(victim, "wb") as f:
        f.write(blob[: len(blob) // 2])
    r = table.fsck()
    assert r["size_drift"] == [live[0]] and not r["missing"]

    # orphan: an unreferenced parquet under a stage dir
    orphan_dir = os.path.join(table.path, "data", "deadbeef")
    os.makedirs(orphan_dir)
    with open(os.path.join(orphan_dir, "part-x.parquet"), "wb") as f:
        f.write(b"not parquet")
    r = table.fsck()
    assert any("deadbeef" in o for o in r["orphans"])

    # gap: a MIDDLE commit JSON deleted out from under the log (a
    # deleted TAIL commit is indistinguishable from the append never
    # happening — its files surface as orphans, not a gap)
    table.append(_df(spark, [(4, 4.0)]))        # versions now 0,1,2
    os.unlink(table._commit_path(1))
    r = table.fsck()
    assert r["gaps"] == [1] and not r["clean"]


def test_merge_discovery_is_stats_pruned(spark, tmp_path):
    """MERGE's match-discovery scan prunes by footer key stats: on an
    id-clustered table a narrow-key batch scans only the overlapping
    files, and the result equals an unpruned merge."""
    t = TxnTable(spark, str(tmp_path / "m"))
    t.create(_df(spark, [(i, float(i)) for i in range(1000)]),
             partition_by=["id"], partition_files=10)
    total = len(t._replay().live)
    assert total == 10
    src = _df(spark, [(5, 5555.0), (7, 7777.0)])    # one file's range
    res = t.merge(src, on=["id"])
    assert res["files_total"] == total
    assert res["files_scanned"] <= 2                # stats-pruned
    assert res["files_rewritten"] == 1
    got = {r["id"]: r["amount"] for r in
           t.snapshot().where("id in (5, 7, 500)").collect()}
    assert got == {5: 5555.0, 7: 7777.0, 500: 500.0}
    assert t.count_rows() == 1000


def test_restore_rolls_back_as_new_version(spark, table):
    """RESTORE: data/schema/constraints return to the target version
    as a NEW commit; history and pre-restore time travel survive; txn
    high-water marks stay monotone so a pre-restore streaming batch
    replay is still skipped."""
    table.add_check_constraint("amount_pos", "amount > 0")   # v1
    table.append(_df(spark, [(3, 3.0)]),
                 txn_app="ing", txn_batch=7)                 # v2
    table.update({"amount": "amount + 1"}, "id = 1")         # v3
    assert sorted(r["id"] for r in table.snapshot().collect()) \
        == [1, 2, 3]

    v = table.restore(version=0)                             # pre-all
    assert v == table.latest_version()
    got = sorted((r["id"], r["amount"])
                 for r in table.snapshot().collect())
    assert got == [(1, 10.0), (2, 20.0)]
    # constraints restored to v0's (none): negative append now legal
    assert table._replay().constraints == {}
    # pre-restore states still time-travel
    assert sorted(r["id"] for r in table.snapshot(version=3).collect()) \
        == [1, 2, 3]
    # txn marks did NOT roll back: the batch-7 replay is still skipped
    assert table.append(_df(spark, [(9, 9.0)]),
                        txn_app="ing", txn_batch=7) is None
    assert table.count_rows() == 2

    # restore past vacuum fails loudly
    table.overwrite(_df(spark, [(8, 8.0)]))
    table.vacuum(retain_versions=1, orphan_grace_s=0.0)
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError, match="vacuumed"):
        table.restore(version=0)


def test_overwrite_revalidates_after_concurrent_alter(spark, table):
    """An ALTER landing between overwrite's read and publish must
    re-validate the overwrite's rows (same hole append closes)."""
    orig = table._try_publish
    fired = {"n": 0}

    def racing(version, commit, features=()):
        if commit.get("op") == "overwrite" and fired["n"] == 0:
            fired["n"] = 1
            t2 = TxnTable(spark, table.path)
            t2.add_check_constraint("amount_pos", "amount > 0")
        return orig(version, commit, features)

    table._try_publish = racing
    try:
        with pytest.raises(CheckViolationError, match="amount_pos"):
            table.overwrite(_df(spark, [(9, -9.0)]))
    finally:
        table._try_publish = orig
    assert fired["n"] == 1
    # nothing replaced: original rows intact, constraint live
    assert sorted(r["id"] for r in table.snapshot().collect()) == [1, 2]
    assert table._replay().constraints == {"amount_pos": "amount > 0"}
