"""Lost publish races on the verbs no other test races: each verb's
first publish loses its version to a concurrent append, and the
verb's rebase (TxnTable._commit) decides what happens next.

Metadata DDL rebuilds its commit from the new head and lands at the
next version with the winner's rows intact. overwrite/replace are
last-writer-wins: they land at the next version and remove the
winner's file too, whose rows stay readable at the winner's version.
The verbs that stage new rows (append, overwrite, COPY INTO) restage
them when the winner allocated identity ids past their base.
The single-shot verbs (delete, dv delete/update, replaceWhere,
restore) abort with ConcurrentWriteError and leave the winner's
commit as the head."""

from __future__ import annotations

import pytest

from aws_payment_data_lake_spark.sources.txlog import (
    ConcurrentWriteError,
    TxnTable,
)

DDL = "id long, v int, note string"
BASE = [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")]
WINNER = [(50, 500, "w")]


def _race_first_publish(monkeypatch, spark, t, winner=None):
    """Patch _try_publish so the next publish through ``t`` first lets
    a concurrent append (another handle) of ``winner`` (default: the
    WINNER row) claim that very version."""
    intruder = TxnTable(spark, t.path)
    orig = TxnTable._try_publish
    state = {"armed": True, "winner": None}

    def racy(self, version, commit, features=()):
        if self is t and state["armed"]:
            state["armed"] = False
            state["winner"] = intruder.append(
                winner if winner is not None
                else spark.createDataFrame(WINNER, DDL))
            assert state["winner"] == version    # it took our version
        return orig(self, version, commit, features)

    monkeypatch.setattr(TxnTable, "_try_publish", racy)
    return state


def _ids(t, version=None):
    return sorted(r["id"] for r in t.snapshot(version=version).collect())


@pytest.fixture
def table(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame(BASE, DDL))
    return t


# verb name -> (set-up on the table, the verb, check of its effect)
_REBUILT = {
    "set_properties": (
        None,
        lambda t, s: t.set_properties({"owner": "ops"}),
        lambda t: t.describe_detail()["properties"] == {"owner": "ops"}),
    "unset_properties": (
        lambda t, s: t.set_properties({"owner": "ops"}),
        lambda t, s: t.unset_properties(["owner"]),
        lambda t: t.describe_detail()["properties"] == {}),
    "add_check_constraint": (
        None,
        lambda t, s: t.add_check_constraint("v_pos", "v > 0"),
        lambda t: t.describe_detail()["constraints"]
        == {"v_pos": "v > 0"}),
    "drop_check_constraint": (
        lambda t, s: t.add_check_constraint("v_pos", "v > 0"),
        lambda t, s: t.drop_check_constraint("v_pos"),
        lambda t: t.describe_detail()["constraints"] == {}),
    "add_columns": (
        None,
        lambda t, s: t.add_columns({"extra": "string"}),
        lambda t: t.snapshot().columns == ["id", "v", "note", "extra"]),
    "widen_column": (
        None,
        lambda t, s: t.widen_column("v", "bigint"),
        lambda t: t.snapshot().schema["v"].dataType.simpleString()
        == "bigint"),
    "rename_column": (
        None,
        lambda t, s: t.rename_column("v", "w"),
        lambda t: t.snapshot().columns == ["id", "w", "note"]),
    "drop_column": (
        None,
        lambda t, s: t.drop_column("note"),
        lambda t: t.snapshot().columns == ["id", "v"]),
    "set_column_default": (
        None,
        lambda t, s: t.set_column_default("note", "'n/a'"),
        lambda t: t.describe_detail()["defaults"] == {"note": "'n/a'"}),
    "drop_column_default": (
        lambda t, s: t.set_column_default("note", "'n/a'"),
        lambda t, s: t.drop_column_default("note"),
        lambda t: t.describe_detail()["defaults"] == {}),
}


@pytest.mark.parametrize("verb", sorted(_REBUILT))
def test_ddl_rebuilds_from_the_new_head(spark, table, monkeypatch, verb):
    setup, run, effect = _REBUILT[verb]
    if setup is not None:
        setup(table, spark)
    before = table.latest_version()
    state = _race_first_publish(monkeypatch, spark, table)
    v = run(table, spark)
    assert state["winner"] == before + 1
    assert v == before + 2 == table.latest_version()
    assert _ids(table) == [1, 2, 3, 50]          # the winner's rows
    assert effect(table)                         # and the verb's effect


@pytest.mark.parametrize("verb", ["overwrite", "replace"])
def test_last_writer_wins_over_the_new_head(spark, table, monkeypatch,
                                            verb):
    before = table.latest_version()
    state = _race_first_publish(monkeypatch, spark, table)
    df = spark.createDataFrame([(7, 70, "o")], DDL)
    v = getattr(table, verb)(df)
    assert state["winner"] == before + 1
    assert v == before + 2 == table.latest_version()
    # the winner's rows committed (time travel sees them) and the
    # overwrite's removes were recomputed against them
    assert _ids(table, state["winner"]) == [1, 2, 3, 50]
    assert _ids(table) == [7]
    assert table.history()[-1]["op"] == verb


_SINGLE_SHOT = {
    "delete_cow": lambda t, s: t.delete("id = 1"),
    "delete_dv": lambda t, s: t.delete("id = 1", mode="dv"),
    "update_dv": lambda t, s: t.update({"v": "v + 1"}, "id = 1",
                                       mode="dv"),
    "replace_where": lambda t, s: t.replace_where(
        s.createDataFrame([(1, 11, "r")], DDL), "id = 1"),
    "restore": lambda t, s: t.restore(version=0),
}


@pytest.mark.parametrize("verb", sorted(_SINGLE_SHOT))
def test_single_shot_verbs_abort(spark, table, monkeypatch, verb):
    if verb == "restore":                 # something to restore past
        table.append(spark.createDataFrame([(4, 40, "d")], DDL))
    before = table.latest_version()
    rows = _ids(table)
    state = _race_first_publish(monkeypatch, spark, table)
    with pytest.raises(ConcurrentWriteError):
        _SINGLE_SHOT[verb](table, spark)
    assert state["winner"] == before + 1 == table.latest_version()
    assert table.history()[-1]["op"] == "append"
    assert _ids(table) == sorted(rows + [50])


@pytest.mark.parametrize("verb", ["append", "overwrite", "copy_into"])
def test_identity_race_restages_generated_columns(spark, tmp_path,
                                                  monkeypatch, verb):
    """The winner's append allocates ids past the write's base, so the
    write restages from its raw rows: fresh ids, and generated columns
    computed from those ids rather than the stale ones."""
    t = TxnTable(spark, str(tmp_path / "idg"))
    t.create(spark.createDataFrame([], "id long, v int"),
             identity={"id": {"start": 1, "step": 1}},
             generated={"g": "id * 10"})
    t.append(spark.createDataFrame([(1,), (2,)], "v int"))
    ours = spark.createDataFrame([(7,), (8,)], "v int")
    land = str(tmp_path / "land")
    if verb == "copy_into":
        ours.coalesce(1).write.parquet(land)
    state = _race_first_publish(
        monkeypatch, spark, t, spark.createDataFrame([(500,)], "v int"))
    {"append": lambda: t.append(ours),
     "overwrite": lambda: t.overwrite(ours),
     "copy_into": lambda: t.copy_into(land)}[verb]()
    assert state["winner"] == t.latest_version() - 1
    rows = t.snapshot().collect()
    assert all(r.g == r.id * 10 for r in rows)
    ids = [r.id for r in rows]
    assert len(set(ids)) == len(ids)
    assert sorted(r.v for r in rows) == (
        [7, 8] if verb == "overwrite" else [1, 2, 7, 8, 500])
    won = max(_ids(t, state["winner"]))        # no id is reused
    assert min(r.id for r in rows if r.v in (7, 8)) > won
