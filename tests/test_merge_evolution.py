"""MERGE/append schema evolution (Delta's autoMerge; VERDICT r9 #1).

A CDC source that grows a column mid-stream must widen the target
inside the merge commit — the schema union rides the commit, old files
NULL-fill through the pinned-schema read path (the same mechanism
CONVERT's mergeSchema read and append's schema_mode='merge' already
use) — and a source MISSING a table column keeps the target's value on
matched rows. Reference behavior: Delta Lake's
spark.databricks.delta.schema.autoMerge.enabled (public docs); the
reference repo's catalog-driven schema-on-read tolerance
(/root/reference/src/glue_jobs/etl_transactions_bronze.py:123-125).
"""

from __future__ import annotations

from unittest import mock

import pytest

from aws_payment_data_lake_spark.sources.txlog import TxnTable


def _mk(spark, tmp_path, name="tbl", **kw):
    return TxnTable(spark, str(tmp_path / name), **kw)


def _rows(t):
    return {r["id"]: tuple(r)[1:] for r in t.snapshot().collect()}


# ----------------------------------------------------------- merge()


def test_merge_auto_widens_on_new_source_column(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(4).selectExpr("id", "id AS v"))
    src = spark.createDataFrame([(1, 10, "eu"), (9, 90, "us")],
                                "id long, v long, region string")
    res = t.merge(src, on=["id"], schema_mode="merge")
    assert (res["rows_updated"], res["rows_inserted"]) == (1, 1)
    got = t.snapshot()
    assert [f.name for f in got.schema.fields] == ["id", "v", "region"]
    rows = _rows(t)
    assert rows[1] == (10, "eu") and rows[9] == (90, "us")
    assert rows[0] == (0, None)          # untouched file reads NULL
    assert rows[2] == (2, None)


def test_merge_strict_rejects_new_source_column(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(4).selectExpr("id", "id AS v"))
    src = spark.createDataFrame([(1, 10, "eu")],
                                "id long, v long, region string")
    # strict stays the pre-evolution behavior: the projection to the
    # table schema drops the extra column, schema does not widen
    t.merge(src, on=["id"])
    assert [f.name for f in t.snapshot().schema.fields] == ["id", "v"]


def test_merge_missing_source_column_keeps_target_value(spark,
                                                        tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame(
        [(0, 0, "a"), (1, 1, "b"), (2, 2, "c")],
        "id long, v long, tag string"))
    src = spark.createDataFrame([(1, 100), (7, 700)], "id long, v long")
    t.merge(src, on=["id"], schema_mode="merge")
    rows = _rows(t)
    assert rows[1] == (100, "b")         # tag kept from the target
    assert rows[7] == (700, None)        # insert NULL-fills it
    assert rows[0] == (0, "a")


def test_merge_evolution_time_travel_and_cdf(spark, tmp_path):
    """Pre-evolution versions still read with their own schema; the
    evolved head reads the union."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(3).selectExpr("id", "id AS v"))
    t.merge(spark.createDataFrame([(1, 10, 5.0)],
                                  "id long, v long, score double"),
            on=["id"], schema_mode="merge")
    assert [f.name for f in t.snapshot(0).schema.fields] == ["id", "v"]
    head = t.snapshot()
    assert [f.name for f in head.schema.fields] == ["id", "v", "score"]
    assert head.where("id = 1").first()["score"] == 5.0


def test_merge_rebase_keeps_concurrent_evolutions(spark, tmp_path):
    """A key-disjoint append that itself evolved the schema lands
    between our read and publish: the rebased merge commit must carry
    the union of BOTH evolutions, not clobber the winner's column."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(10).selectExpr("id", "id AS v"))
    intruder = _mk(spark, tmp_path)
    real_stage = TxnTable._stage
    fired = []

    def stage_then_intrude(self, df, partition_by, max_files=None,
                           partition_files=None, **kw):
        adds = real_stage(self, df, partition_by, max_files,
                          partition_files, **kw)
        if self is t and not fired:
            fired.append(1)
            intruder.append(
                spark.createDataFrame([(50, 50, "x")],
                                      "id long, v long, note string"),
                schema_mode="merge")
        return adds

    with mock.patch.object(TxnTable, "_stage", stage_then_intrude):
        t.merge(spark.createDataFrame([(1, 10, 9.9)],
                                      "id long, v long, score double"),
                on=["id"], schema_mode="merge")
    assert fired
    names = [f.name for f in t.snapshot().schema.fields]
    assert set(names) == {"id", "v", "note", "score"}
    rows = _rows(t)
    assert rows[50][:2] == (50, "x") or rows[50][1] == "x" or \
        dict(zip(names[1:], rows[50]))["note"] == "x"


def test_merge_evolution_type_clash_fails_loudly(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(3).selectExpr("id", "id AS v"))
    src = spark.createDataFrame([(1, "ten")], "id long, v string")
    with pytest.raises(ValueError, match="column types"):
        t.merge(src, on=["id"], schema_mode="merge")


# ---------------------------------------------------- merge_clauses()


def test_clause_merge_star_evolution_add_column(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(4).selectExpr("id", "id AS v"))
    src = spark.createDataFrame(
        [(1, 10, "eu"), (9, 90, "us")],
        "id long, v long, region string")
    res = t.merge_clauses(
        src, on=["id"],
        matched=[{"cond": None, "action": "update_star", "set": None}],
        not_matched=[{"cond": None, "action": "insert_star",
                      "set": None}],
        schema_mode="merge")
    assert res["rows_updated"] == 1 and res["rows_inserted"] == 1
    assert [f.name for f in t.snapshot().schema.fields] \
        == ["id", "v", "region"]
    rows = _rows(t)
    assert rows[1] == (10, "eu") and rows[9] == (90, "us")
    assert rows[2] == (2, None)


def test_clause_merge_star_evolution_missing_column(spark, tmp_path):
    """update_star with a column-subset source keeps the target's
    value; insert_star NULL-fills — the autoMerge contract."""
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame(
        [(0, 0, "a"), (1, 1, "b")], "id long, v long, tag string"))
    src = spark.createDataFrame([(1, 100), (7, 700)], "id long, v long")
    t.merge_clauses(
        src, on=["id"],
        matched=[{"cond": None, "action": "update_star", "set": None}],
        not_matched=[{"cond": None, "action": "insert_star",
                      "set": None}],
        schema_mode="merge")
    rows = _rows(t)
    assert rows[1] == (100, "b") and rows[7] == (700, None)
    assert rows[0] == (0, "a")


def test_clause_merge_set_may_assign_evolved_column(spark, tmp_path):
    """Once a star clause widened tcols, an explicit conditional SET
    can target the new column in the same merge."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(4).selectExpr("id", "id AS v"))
    src = spark.createDataFrame(
        [(1, 10, "eu"), (2, 20, "apac")],
        "id long, v long, region string")
    t.merge_clauses(
        src, on=["id"],
        matched=[
            {"cond": "s.region = 'apac'", "action": "update",
             "set": {"region": "upper(s.region)"}},
            {"cond": None, "action": "update_star", "set": None},
        ],
        schema_mode="merge")
    rows = _rows(t)
    assert rows[2] == (2, "APAC")        # SET on the evolved column
    assert rows[1] == (10, "eu")         # star clause


def test_clause_merge_insert_only_fast_path_evolution(spark, tmp_path):
    """The insert-only fast path (no matched clauses, zero rewrites)
    also widens and NULL-fills missing source columns."""
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([(0, 0, "a")],
                                   "id long, v long, tag string"))
    src = spark.createDataFrame([(0, 5, 1.5), (3, 30, 3.5)],
                                "id long, v long, w double")
    res = t.merge_clauses(
        src, on=["id"],
        not_matched=[{"cond": None, "action": "insert_star",
                      "set": None}],
        schema_mode="merge")
    assert res["files_rewritten"] == 0 and res["rows_inserted"] == 1
    assert [f.name for f in t.snapshot().schema.fields] \
        == ["id", "v", "tag", "w"]
    rows = _rows(t)
    assert rows[0] == (0, "a", None)     # matched row untouched
    assert rows[3] == (30, None, 3.5)    # insert: tag NULL, w carried


def test_clause_merge_strict_without_star_unchanged(spark, tmp_path):
    """No star clause: extra source columns stay expression inputs
    (usable in SET), never schema — in merge mode too."""
    t = _mk(spark, tmp_path)
    t.create(spark.range(4).selectExpr("id", "id AS v"))
    src = spark.createDataFrame([(1, 7)], "id long, delta long")
    for mode in ("strict", "merge"):
        t.merge_clauses(
            src, on=["id"],
            matched=[{"cond": None, "action": "update",
                      "set": {"v": "t.v + s.delta"}}],
            schema_mode=mode)
    assert [f.name for f in t.snapshot().schema.fields] == ["id", "v"]
    assert _rows(t)[1] == (15,)


def test_interop_reader_replays_evolved_merge(spark, tmp_path):
    """The independent log reader (zero package imports) must replay a
    table whose schema evolved inside a MERGE commit and agree with
    the writer column-for-column and row-for-row — at the evolved head
    AND at the pre-evolution version."""
    import sys

    from tests.conftest import REPO

    if REPO + "/scripts" not in sys.path:
        sys.path.insert(0, REPO + "/scripts")
    from txlog_reader import IndependentTxlogReader

    t = _mk(spark, tmp_path)
    t.create(spark.range(4).selectExpr("id", "id AS v"))
    t.merge(spark.createDataFrame([(1, 10, "eu"), (9, 90, "us")],
                                  "id long, v long, region string"),
            on=["id"], schema_mode="merge")
    reader = IndependentTxlogReader(str(tmp_path / "tbl"))
    for v in (0, 1):
        df = t.snapshot(v)
        ours_cols = df.columns
        ours = sorted(tuple(r) for r in df.collect())
        st = reader.replay(v)
        assert [n for n, _ in st.fields] == ours_cols, f"v{v} columns"
        theirs = sorted(tuple(r) for r in reader.snapshot_rows(v))
        assert theirs == ours, f"v{v} rows"


# ------------------------------------------------- type widening (r10)


def test_append_type_widening_int_to_bigint(spark, tmp_path):
    """Delta-style type widening under autoMerge: a frame whose column
    is a SAFE widening of the table's (int->bigint, float->double)
    widens the table schema metadata-only — the old narrow files
    upcast at scan (probed: Spark 4.1's vectorized parquet reader
    reads int32 under a bigint pinned schema), no rewrite."""
    import os

    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([(1, 1.5)], "id int, v float"))
    before = {p: os.path.getmtime(os.path.join(t.path, p))
              for p in t._replay().live}
    t.append(spark.createDataFrame([(2 ** 40, 2.5)],
                                   "id bigint, v double"),
             schema_mode="merge")
    snap = t._replay()
    assert [f.dataType.simpleString() for f in snap.schema.fields] \
        == ["bigint", "double"]
    for p, mt in before.items():        # narrow files untouched
        assert os.path.getmtime(os.path.join(t.path, p)) == mt
    rows = dict(_rows(t))
    assert rows[1] == (1.5,) and rows[2 ** 40] == (2.5,)


def test_append_narrower_frame_upcasts_at_scan(spark, tmp_path):
    """The mirror case: a NARROWER frame (int into a bigint table)
    stages as-is in merge mode; the pinned wide read upcasts it."""
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([(2 ** 40, 1.0)],
                                   "id bigint, v double"))
    t.append(spark.createDataFrame([(7, 2.0)], "id int, v double"),
             schema_mode="merge")
    snap = t._replay()
    assert snap.schema.fields[0].dataType.simpleString() == "bigint"
    rows = dict(_rows(t))
    assert rows[7] == (2.0,) and rows[2 ** 40] == (1.0,)
    # strict mode still rejects the very same frame
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.createDataFrame([(8, 3.0)], "id int, v double"))


def test_merge_clauses_widening_casts_up_not_down(spark, tmp_path):
    """A star merge whose source widened a column must cast target
    values UP to the union type — values past the old type's range
    survive (a down-cast would throw under ANSI)."""
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([(1, 10), (2, 20)],
                                   "id int, v int"))
    src = spark.createDataFrame([(2, 2 ** 50), (3, 30)],
                                "id int, v bigint")
    t.merge_clauses(
        src, on=["id"],
        matched=[{"cond": None, "action": "update_star", "set": None}],
        not_matched=[{"cond": None, "action": "insert_star",
                      "set": None}],
        schema_mode="merge")
    snap = t._replay()
    assert snap.schema.fields[1].dataType.simpleString() == "bigint"
    rows = dict(_rows(t))
    assert rows == {1: (10,), 2: (2 ** 50,), 3: (30,)}


def test_unsafe_type_change_still_rejected(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.create(spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS v"))
    # a FLOAT frame into a double table is the legal narrower-frame
    # path (float32 file upcasts under the double pinned read)
    t.append(spark.createDataFrame([(7, 1.5)], "id long, v float"),
             schema_mode="merge")
    assert t._replay().schema.fields[1].dataType.simpleString() \
        == "double"
    assert dict(_rows(t))[7] == (1.5,)
    # genuinely unsafe changes still fail loudly
    with pytest.raises(ValueError, match="not a safe widening"):
        t.merge(spark.createDataFrame([(1, "x")], "id long, v string"),
                on=["id"], schema_mode="merge")
    t2 = _mk(spark, tmp_path, "t2")
    t2.create(spark.createDataFrame([(1, 1.0)], "id long, v float"))
    with pytest.raises(ValueError, match="not a safe widening"):
        t2.append(spark.createDataFrame([(2, 2)], "id long, v int"),
                  schema_mode="merge")  # int under float: unreadable


def test_change_feed_spans_evolution_boundary(spark, tmp_path):
    """CDF across an autoMerge boundary: pre-evolution commits emit
    under the HEAD schema (new columns NULL, widened types upcast) —
    one result schema for the whole feed, Delta CDF's posture."""
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([(1, 10)], "id int, v int"))
    t.merge(spark.createDataFrame([(2, 2 ** 40, "eu")],
                                  "id int, v bigint, region string"),
            on=["id"], schema_mode="merge")
    feed = t.changes(-1)
    assert feed.schema["v"].dataType.simpleString() == "bigint"
    assert "region" in feed.columns
    got = {(r["id"], r["_commit_version"]): (r["v"], r["region"])
           for r in feed.collect()}
    assert got[(1, 0)] == (10, None)     # pre-evolution insert, NULLed
    assert got[(2, 1)] == (2 ** 40, "eu")


def test_explicit_widening_ddl(spark, tmp_path):
    """ALTER TABLE t ALTER COLUMN c TYPE bigint (Delta's explicit
    type-widening DDL): metadata-only, narrow files untouched, reads
    upcast, and post-widen appends of wide values just work; unsafe
    targets rejected."""
    import os

    from aws_payment_data_lake_spark.sources.txsql import (
        LakehouseCatalog,
    )

    cat = LakehouseCatalog(spark)
    cat.register("w", str(tmp_path / "w"))
    spark.sql("SELECT CAST(1 AS INT) AS id, CAST(1.5 AS FLOAT) AS v") \
        .createOrReplaceTempView("wseed")
    cat.sql("CREATE TABLE w USING txlog AS SELECT * FROM wseed")
    t = cat.table("w")
    before = {p: os.path.getmtime(os.path.join(t.path, p))
              for p in t._replay().live}
    cat.sql("ALTER TABLE w ALTER COLUMN id TYPE bigint")
    cat.sql("ALTER TABLE w ALTER COLUMN v TYPE double")
    assert [f.dataType.simpleString()
            for f in t._replay().schema.fields] == ["bigint", "double"]
    for p, mt in before.items():
        assert os.path.getmtime(os.path.join(t.path, p)) == mt
    cat.sql(f"INSERT INTO w SELECT CAST({2**40} AS BIGINT), "
            "CAST(2.5 AS DOUBLE)")
    got = sorted(tuple(r) for r in cat.sql("SELECT * FROM w").collect())
    assert got == [(1, 1.5), (2 ** 40, 2.5)]
    with pytest.raises(ValueError, match="not a safe widening"):
        cat.sql("ALTER TABLE w ALTER COLUMN v TYPE float")
    with pytest.raises(ValueError, match="not a safe widening"):
        cat.sql("ALTER TABLE w ALTER COLUMN id TYPE string")


def test_widening_composes_with_column_mapping(spark, tmp_path):
    """Widen a RENAMED column: the logical schema widens while the
    mapping keeps pinning the unchanged physical name — old files
    (physical name, narrow type) still read, new wide appends land."""
    t = _mk(spark, tmp_path)
    t.create(spark.createDataFrame([(1, 10)], "id int, amount int"))
    t.rename_column("amount", "amt")    # physical stays 'amount'
    t.widen_column("amt", "bigint")
    t.append(spark.createDataFrame([(2, 2 ** 40)],
                                   "id int, amt bigint"))
    snap = t._replay()
    assert snap.column_mapping == {"amt": "amount"}
    assert snap.schema["amt"].dataType.simpleString() == "bigint"
    rows = {r["id"]: r["amt"] for r in t.snapshot().collect()}
    assert rows == {1: 10, 2: 2 ** 40}
