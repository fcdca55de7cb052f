"""txlog.merge_clauses — the general Delta MERGE engine (round 9):
concurrency posture, interactions with deletion vectors and column
mapping, and direct-API clause semantics beyond the SQL-level tests in
test_txsql.py."""

from __future__ import annotations

from unittest import mock

import pytest

from aws_payment_data_lake_spark.sources.txlog import (
    ConcurrentWriteError,
    TxnTable,
)


def _mk(spark, tmp_path, name="tbl", **kw):
    return TxnTable(spark, str(tmp_path / name), **kw)


def _state(t):
    return sorted(tuple(r) for r in t.snapshot().collect())


def test_clause_merge_rebases_over_disjoint_append(spark, tmp_path):
    """The key-disjoint rebase carries over to the clause engine for
    shapes that don't read the whole table."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(10).selectExpr("id", "id as v"))
    intruder = _mk(spark, tmp_path)
    real_stage = TxnTable._stage
    fired = []

    def stage_then_intrude(self, df, partition_by, max_files=None,
                           partition_files=None, **kw):
        adds = real_stage(self, df, partition_by, max_files,
                          partition_files, **kw)
        if self is t and not fired:
            fired.append(1)
            intruder.append(spark.range(50, 55)
                            .selectExpr("id", "id as v"))
        return adds

    with mock.patch.object(TxnTable, "_stage", stage_then_intrude):
        res = t.merge_clauses(
            spark.createDataFrame([(1, 7)], "id long, delta long"),
            on=["id"],
            matched=[{"cond": None, "action": "update",
                      "set": {"v": "t.v + s.delta"}}])
    assert fired and res["rows_updated"] == 1
    got = dict(_state(t))
    assert got[1] == 8 and got[50] == 50 and len(got) == 15


def test_nmbs_merge_aborts_on_any_concurrent_commit(spark, tmp_path):
    """NOT MATCHED BY SOURCE reads every row, so even a provably
    key-disjoint concurrent append must abort it (serializable)."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(10).selectExpr("id", "id as v"))
    intruder = _mk(spark, tmp_path)
    real_stage = TxnTable._stage
    fired = []

    def stage_then_intrude(self, df, partition_by, max_files=None,
                           partition_files=None, **kw):
        adds = real_stage(self, df, partition_by, max_files,
                          partition_files, **kw)
        if self is t and not fired:
            fired.append(1)
            intruder.append(spark.range(50, 55)
                            .selectExpr("id", "id as v"))
        return adds

    with mock.patch.object(TxnTable, "_stage", stage_then_intrude):
        with pytest.raises(ConcurrentWriteError,
                           match="NOT MATCHED BY SOURCE"):
            t.merge_clauses(
                spark.createDataFrame([(1, 0)], "id long, v long"),
                on=["id"],
                matched=[{"cond": None, "action": "update_star",
                          "set": None}],
                not_matched_by_source=[{"cond": None,
                                        "action": "delete",
                                        "set": None}])
    # the intruder's append survived; the aborted merge changed nothing
    assert t.snapshot().count() == 15


def test_clause_merge_on_dv_and_renamed_table(spark, tmp_path):
    """The interaction pile-up: deletion vectors + column mapping +
    the clause engine in one lifecycle. DV-dead rows must be invisible
    to every clause (including NOT MATCHED BY SOURCE, which would
    otherwise resurrect or double-delete them)."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(10).selectExpr("id", "id as amount"))
    t.delete("id IN (3, 4)", mode="dv")          # dead: 3, 4
    t.rename_column("amount", "amt")
    res = t.merge_clauses(
        spark.createDataFrame([(1, 100), (3, 300), (11, 1100)],
                              "id long, amt long"),
        on=["id"],
        matched=[{"cond": None, "action": "update",
                  "set": {"amt": "s.amt"}}],
        not_matched=[{"cond": None, "action": "insert_star",
                      "set": None}],
        not_matched_by_source=[{"cond": "t.id >= 8", "action": "delete",
                                "set": None}])
    # dv-dead id=3 is NOT matched (its row is invisible) -> re-INSERTED
    # with the new value; ids 8,9 nmbs-deleted; others kept
    got = dict(_state(t))
    assert got[1] == 100 and got[3] == 300 and got[11] == 1100
    assert 4 not in got and 8 not in got and 9 not in got
    assert got[0] == 0 and got[7] == 7
    assert res["rows_deleted"] == 2
    # the rewrite materialized every DV (nmbs touched all live files)
    assert t._replay().dv_dead == {}


def test_clause_validation_errors(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(5).selectExpr("id", "id as v"))
    src = spark.createDataFrame([(1, 1)], "id long, v long")
    with pytest.raises(ValueError, match="at least one WHEN"):
        t.merge_clauses(src, on=["id"])
    with pytest.raises(ValueError, match="aliases must differ"):
        t.merge_clauses(src, on=["id"], talias="x", salias="x",
                        matched=[{"cond": None, "action": "delete",
                                  "set": None}])
    with pytest.raises(ValueError, match="unknown column"):
        t.merge_clauses(src, on=["id"],
                        matched=[{"cond": None, "action": "update",
                                  "set": {"nope": "1"}}])


_UPDATE_STAR = {"cond": None, "action": "update_star", "set": None}
_INSERT_STAR = {"cond": None, "action": "insert_star", "set": None}
_UPDATE_V = {"cond": None, "action": "update", "set": {"v": "s.v"}}
_KILL = {"cond": "s.kill", "action": "delete", "set": None}


def _insert_values(cond=None):
    return {"cond": cond, "action": "insert",
            "set": {"id": "s.id", "v": "s.v"}}


# (replace-plan merge, the same merge spelled with explicit SET /
# VALUES, which only the CASE plan serves)
_PLAN_PAIRS = {
    "star": (
        lambda t, src: t.merge_clauses(src, on=["id"],
                                       matched=[_UPDATE_STAR],
                                       not_matched=[_INSERT_STAR]),
        {"matched": [_UPDATE_V], "not_matched": [_insert_values()]}),
    "delete_star": (
        lambda t, src: t.merge_clauses(src, on=["id"],
                                       matched=[_KILL, _UPDATE_STAR],
                                       not_matched=[_INSERT_STAR]),
        {"matched": [_KILL, _UPDATE_V],
         "not_matched": [_insert_values()]}),
    "update_only": (
        lambda t, src: t.merge_clauses(src, on=["id"],
                                       matched=[_UPDATE_STAR]),
        {"matched": [_UPDATE_V]}),
    "insert_only": (
        lambda t, src: t.merge_clauses(src, on=["id"],
                                       not_matched=[_INSERT_STAR]),
        {"not_matched": [_insert_values()]}),
    "merge_triple": (
        lambda t, src: t.merge(src, on=["id"], delete_when="kill",
                               helper_cols=("kill",)),
        {"matched": [_KILL, _UPDATE_V],
         "not_matched": [_insert_values("NOT coalesce(s.kill, false)")]}),
}


def _run_plan(spark, run):
    """(plan, result) of one merge: the CASE plan is the only one that
    full-outer joins the target against the source."""
    frame = type(spark.range(0))            # the session's DataFrame class
    hows = []
    real = frame.join

    def spy(self, other, on=None, how=None):
        hows.append(how)
        return real(self, other, on, how)

    with mock.patch.object(frame, "join", spy):
        res = run()
    return ("case" if "full_outer" in hows else "replace"), res


@pytest.mark.parametrize("shape", sorted(_PLAN_PAIRS))
def test_replace_and_case_plans_agree(spark, tmp_path, shape):
    """The replace plan and the CASE plan are one MERGE semantics: the
    star shapes and merge()'s CDC triple give the same table, counts
    and change rows as the same merge spelled with explicit SET /
    VALUES — flagged rows matched and unmatched, a NULL flag, inserts
    and untouched files included."""
    replace_run, explicit = _PLAN_PAIRS[shape]
    base = spark.range(20).selectExpr("id", "id * 1.0 as v")
    src = spark.range(15, 25).selectExpr(
        "id", "id * -1.0 as v",
        "CASE WHEN id = 17 THEN NULL ELSE id % 3 = 0 END as kill")
    out, rewritten = {}, {}
    for name in ("replace", "case"):
        t = _mk(spark, tmp_path, name)
        t.create(base, partition_by=["id"], partition_files=4)
        t.set_properties({"txlog.enableChangeDataFeed": "true"})
        v0 = t.latest_version()
        run = ((lambda: replace_run(t, src)) if name == "replace"
               else (lambda: t.merge_clauses(src, on=["id"], **explicit)))
        plan, res = _run_plan(spark, run)
        assert plan == name
        feed = sorted((r.id, r.v, r._change_type) for r in
                      t.changes(v0, include_deletes=True).collect())
        out[name] = (_state(t), feed,
                     {k: res[k] for k in ("files_total", "rows_updated",
                                          "rows_deleted", "rows_inserted")})
        rewritten[name] = res["files_rewritten"]
    assert out["replace"] == out["case"]
    # an insert-only merge rewrites no file; the CASE plan rewrites the
    # files holding a matched key, every other shape the same files
    assert rewritten["replace"] < out["replace"][2]["files_total"]
    assert (rewritten["replace"] == 0) == (shape == "insert_only")
    assert (rewritten["replace"] == rewritten["case"]) \
        == (shape != "insert_only")


def test_clause_merge_enforces_constraints_on_staged_output(spark,
                                                            tmp_path):
    """CHECK enforcement moved to the staged bytes (metrics ride the
    staging job): a violating clause result must still raise and leave
    the table unchanged (orphans fall to vacuum)."""
    from aws_payment_data_lake_spark.sources.txlog import (
        CheckViolationError,
    )

    t = _mk(spark, tmp_path)
    t.create(spark.range(10).selectExpr("id", "id as v"))
    t.add_check_constraint("v_small", "v < 1000")
    with pytest.raises(CheckViolationError, match="v_small"):
        t.merge_clauses(
            spark.createDataFrame([(1, 1)], "id long, k long"),
            on=["id"],
            matched=[{"cond": None, "action": "update",
                      "set": {"v": "t.v + 5000"}}])
    assert t.latest_version() == 1          # nothing published
    assert t.snapshot().where("v >= 1000").count() == 0
    # the compliant merge passes
    t.merge_clauses(
        spark.createDataFrame([(1, 1)], "id long, k long"),
        on=["id"],
        matched=[{"cond": None, "action": "update",
                  "set": {"v": "t.v + 500"}}])
    assert t.snapshot().where("id = 1").first()["v"] == 501


def test_null_key_source_rows_are_not_duplicates(spark, tmp_path):
    """ADVICE r9: a NULL key never equi-joins a target row, so several
    NULL-key source rows cannot multi-match anything — the duplicate-
    source guard must not fire on them (Delta raises only when a
    target row actually matches twice). NULL-key rows still flow to
    the NOT MATCHED clause (they match nothing)."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(5).selectExpr("id", "id as v"))
    src = spark.createDataFrame(
        [(None, 91), (None, 92), (1, 100)], "id long, v long")
    res = t.merge_clauses(
        src, on=["id"],
        matched=[{"cond": None, "action": "update_star", "set": None}],
        not_matched=[{"cond": None, "action": "insert_star",
                      "set": None}])
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 2
    got = {tuple(r) for r in t.snapshot().collect()}
    assert (1, 100) in got and (None, 91) in got and (None, 92) in got
    # a GENUINE duplicate (non-null key twice) still raises
    with pytest.raises(ValueError, match="duplicate key"):
        t.merge_clauses(
            spark.createDataFrame([(2, 1), (2, 2)], "id long, v long"),
            on=["id"],
            matched=[{"cond": None, "action": "update_star",
                      "set": None}])


def test_clause_merge_into_missing_table_raises_file_not_found(
        spark, tmp_path):
    """ADVICE r9: merging into a nonexistent table gives the standard
    no-table error, not an AttributeError on snap.schema."""
    t = _mk(spark, tmp_path, "ghost")
    with pytest.raises(FileNotFoundError, match="no txlog table"):
        t.merge_clauses(
            spark.createDataFrame([(1, 1)], "id long, v long"),
            on=["id"],
            matched=[{"cond": None, "action": "update_star",
                      "set": None}])
