"""Column DEFAULTs (sources/txlog.py, TXLOG_FORMAT.md §Commit record
`defaults`): constant expressions filled when an append-shaped write
OMITS the column — absence, not nullness, triggers the fill. Pins the
ANSI write-time semantics (no backfill, supplied NULL wins), constancy
validation at SET time, the lifecycle interactions (rename carries,
drop sheds, restore rolls back, checkpoint round-trips), COPY INTO's
footer-probe, the native sink fill, and the SQL surface."""

from __future__ import annotations

import json

import pytest

from aws_payment_data_lake_spark.sources.txlog import TxnTable
from aws_payment_data_lake_spark.sources.txsql import LakehouseCatalog


def _mk(spark, tmp_path, name="tbl", **kw):
    t = TxnTable(spark, str(tmp_path / name), **kw)
    t.create(spark.createDataFrame([], "id long, region string"),
             defaults={"region": "'emea'"})
    return t


def test_fill_on_absence_supplied_null_wins(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.append(spark.range(3).selectExpr("id"))          # region absent
    t.append(spark.createDataFrame([(10, None), (11, "apac")],
                                   "id long, region string"))
    got = {r.id: r.region for r in t.snapshot().collect()}
    assert got == {0: "emea", 1: "emea", 2: "emea",
                   10: None, 11: "apac"}
    # feature rides the create commit
    with open(t._commit_path(0)) as f:
        assert "column_defaults" in json.load(
            f)["protocol"]["writer_features"]


def test_overwrite_fills_an_omitted_default(spark, tmp_path):
    """overwrite readies its rows as append does: a frame omitting a
    defaulted column gets the DEFAULT, and the default survives."""
    t = _mk(spark, tmp_path)
    t.append(spark.createDataFrame([(9, "apac")], "id long, region string"))
    t.overwrite(spark.range(2).selectExpr("id"))
    got = {r.id: r.region for r in t.snapshot().collect()}
    assert got == {0: "emea", 1: "emea"}
    assert t._replay().defaults == {"region": "'emea'"}


def test_alter_set_default_no_backfill_drop_restores_strict(
        spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.range(2).selectExpr("id", "cast(null as string) "
                                             "as region"))
    # pre-default, omitting the column is a strict-schema error
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.range(2, 4).selectExpr("id"))
    t.set_column_default("region", "'latam'")
    t.append(spark.range(2, 4).selectExpr("id"))
    got = {r.id: r.region for r in t.snapshot().collect()}
    # NO backfill: the pre-default rows keep their NULLs
    assert got == {0: None, 1: None, 2: "latam", 3: "latam"}
    t.drop_column_default("region")
    with pytest.raises(ValueError, match="schema mismatch"):
        t.append(spark.range(4, 5).selectExpr("id"))
    with pytest.raises(KeyError):
        t.drop_column_default("region")


def test_default_must_be_constant_and_on_a_plain_column(
        spark, tmp_path):
    t = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="constant expression"):
        t.set_column_default("region", "id + 1")     # column reference
    with pytest.raises(ValueError, match="constant expression"):
        t.set_column_default("region", "not ( valid sql")
    with pytest.raises(KeyError):
        t.set_column_default("nope", "'x'")
    t2 = TxnTable(spark, str(tmp_path / "t2"))
    t2.create(spark.createDataFrame([], "pk bigint, v long"),
              identity={"pk": {"start": 1, "step": 1}})
    with pytest.raises(ValueError, match="IDENTITY"):
        t2.set_column_default("pk", "7")
    t3 = TxnTable(spark, str(tmp_path / "t3"))
    t3.create(spark.createDataFrame([], "v long, d long"),
              generated={"d": "v + 1"})
    with pytest.raises(ValueError, match="GENERATED"):
        t3.set_column_default("d", "7")


def test_lifecycle_rename_drop_restore_checkpoint(spark, tmp_path):
    t = _mk(spark, tmp_path, checkpoint_every=1)
    pre = t.latest_version()
    t.set_column_default("region", "'apac'")         # override
    t.rename_column("region", "zone")                # default follows
    t.append(spark.range(5, 6).selectExpr("id"))
    assert t.snapshot().where("id = 5").collect()[0].zone == "apac"
    # restore rolls the defaults map back with the schema
    t.restore(version=pre)
    assert t._replay().defaults == {"region": "'emea'"}
    # drop sheds the default
    t.add_columns({"extra": "string"})
    t.rename_column("region", "zone2")
    t.drop_column("zone2")
    assert t._replay().defaults == {}
    # checkpoint round-trip (every commit wrote one)
    t2 = TxnTable(spark, t.path, checkpoint_every=1)
    assert t2._read_checkpoint(t2.latest_version()) is not None
    assert t2._replay().defaults == {}


def test_copy_into_fills_only_source_absent_columns(spark, tmp_path):
    # landing file A lacks `region`; landing file B carries it
    (spark.range(3).selectExpr("id")
     .coalesce(1).write.parquet(str(tmp_path / "land" / "a")))
    (spark.createDataFrame([(10, "apac"), (11, None)],
                           "id long, region string")
     .coalesce(1).write.parquet(str(tmp_path / "land" / "b")))
    t = _mk(spark, tmp_path)
    t.copy_into(str(tmp_path / "land"))
    got = {r.id: r.region for r in t.snapshot().collect()}
    # A's rows default; B's supplied values (incl. NULL) win
    assert got == {0: "emea", 1: "emea", 2: "emea",
                   10: "apac", 11: None}


def test_native_sink_fills_defaults(spark, tmp_path):
    from aws_payment_data_lake_spark.sources.txlog_batch import (
        write_stream_txlog,
    )

    (spark.range(4).selectExpr("id")
     .coalesce(2).write.json(str(tmp_path / "in")))
    t = _mk(spark, tmp_path, "sunk")
    sdf = (spark.readStream.schema("id long")
           .option("maxFilesPerTrigger", "1").json(str(tmp_path / "in")))
    q = (write_stream_txlog(sdf, t.path, str(tmp_path / "ckpt"),
                            txn_app_id="d")
         .trigger(availableNow=True).start())
    q.awaitTermination(300)
    rows = t.snapshot().collect()
    assert len(rows) == 4 and all(r.region == "emea" for r in rows)


def test_sql_default_ddl_and_insert(spark, tmp_path):
    lake = LakehouseCatalog(spark)
    lake.register("pay", str(tmp_path / "pay"))
    lake.sql("CREATE TABLE pay (id bigint, status string "
             "DEFAULT 'pending', amount double) USING txlog")
    # named-column INSERT omitting the defaulted column fills it
    lake.sql("INSERT INTO pay (id, amount) VALUES (1, 9.5)")
    lake.sql("INSERT INTO pay (id, status, amount) "
             "VALUES (2, 'settled', 1.0)")
    got = {r.id: r.status for r in
           lake.sql("SELECT id, status FROM pay").collect()}
    assert got == {1: "pending", 2: "settled"}
    lake.sql("ALTER TABLE pay ALTER COLUMN status SET DEFAULT 'hold'")
    lake.sql("INSERT INTO pay (id, amount) VALUES (3, 0.5)")
    assert lake.sql("SELECT status FROM pay WHERE id = 3"
                    ).collect()[0][0] == "hold"
    lake.sql("ALTER TABLE pay ALTER COLUMN status DROP DEFAULT")
    # named-column INSERT keeps the ANSI rule: with no DEFAULT, an
    # unnamed column fills NULL (the strict-schema rejection applies
    # to the raw append API, which omits the column outright)
    lake.sql("INSERT INTO pay (id, amount) VALUES (4, 2.0)")
    assert lake.sql("SELECT status FROM pay WHERE id = 4"
                    ).collect()[0][0] is None
