"""GENERATED ALWAYS AS + NOT NULL columns (round 10 stretch, VERDICT
r9 #7): declared in `CREATE TABLE ... USING txlog` DDL, derived by
every write path that omits them, enforced as CHECK constraints when
supplied — so the medallion partition date lives inside the format."""

from __future__ import annotations

import pytest

from aws_payment_data_lake_spark.sources.txlog import (
    CheckViolationError,
    TxnTable,
)
from aws_payment_data_lake_spark.sources.txsql import LakehouseCatalog

DDL_SQL = ("CREATE TABLE pay (id BIGINT NOT NULL, amount DOUBLE, "
           "ts TIMESTAMP, "
           "txn_date DATE GENERATED ALWAYS AS (CAST(ts AS DATE))) "
           "USING txlog PARTITIONED BY (txn_date)")


@pytest.fixture()
def lake(spark, tmp_path):
    cat = LakehouseCatalog(spark)
    cat.register("pay", str(tmp_path / "pay"))
    return cat


def test_ddl_create_insert_derives_generated(spark, lake):
    lake.sql(DDL_SQL)
    t = lake.table("pay")
    assert t._replay().generated == {"txn_date": "CAST(ts AS DATE)"}
    assert set(t._replay().constraints) >= {"__gen_txn_date",
                                            "__nn_id"}
    # INSERT without the generated column: derived inside the format
    lake.sql("INSERT INTO pay (id, amount, ts) "
             "SELECT id, id * 1.5, "
             "timestamp'2024-03-01 10:00:00' + make_interval(0,0,0,id)"
             " FROM range(0, 6)")
    rows = {r["id"]: str(r["txn_date"])
            for r in lake.sql("SELECT id, txn_date FROM pay").collect()}
    assert rows[0] == "2024-03-01" and rows[5] == "2024-03-06"


def test_supplied_generated_value_must_match(spark, lake):
    lake.sql(DDL_SQL)
    with pytest.raises(CheckViolationError, match="__gen_txn_date"):
        lake.sql("INSERT INTO pay SELECT 1, 1.0, "
                 "timestamp'2024-03-01 10:00:00', DATE'1999-01-01'")
    # the matching value (and NULL ts -> NULL date) passes
    lake.sql("INSERT INTO pay SELECT 2, 2.0, "
             "timestamp'2024-03-05 10:00:00', DATE'2024-03-05'")
    lake.sql("INSERT INTO pay SELECT 3, 3.0, "
             "CAST(NULL AS TIMESTAMP), CAST(NULL AS DATE)")
    assert lake.sql("SELECT count(*) AS n FROM pay").first()["n"] == 2


def test_not_null_rejects_and_interop_reader_replays(spark, lake,
                                                     tmp_path):
    import sys

    from tests.conftest import REPO

    if REPO + "/scripts" not in sys.path:
        sys.path.insert(0, REPO + "/scripts")
    from txlog_reader import IndependentTxlogReader

    lake.sql(DDL_SQL)
    with pytest.raises(CheckViolationError, match="__nn_id"):
        lake.sql("INSERT INTO pay (id, amount, ts) SELECT "
                 "CAST(NULL AS BIGINT), 1.0, "
                 "timestamp'2024-03-01 00:00:00'")
    lake.sql("INSERT INTO pay (id, amount, ts) SELECT id, 0.5, "
             "timestamp'2024-03-01 00:00:00' FROM range(0, 4)")
    t = lake.table("pay")
    # a reader that knows nothing about the `generated` key replays
    # the table exactly (the column is ordinary committed data)
    import datetime as dt

    def _norm(v):
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return str(v)

    reader = IndependentTxlogReader(t.path)
    ours = sorted(tuple(_norm(x) for x in r)
                  for r in t.snapshot().collect())
    theirs = sorted(tuple(_norm(x) for x in r)
                    for r in reader.snapshot_rows())
    assert theirs == ours


def test_generated_partition_column_prunes(spark, lake):
    """PARTITIONED BY a generated column: derived values range-cluster
    the files, so a date filter prunes from log stats alone."""
    lake.sql(DDL_SQL)
    for month in (3, 4, 5, 6):        # one file per disjoint slice
        lake.sql("INSERT INTO pay (id, amount, ts) "
                 f"SELECT id + {month} * 100, 1.0, "
                 f"timestamp'2024-0{month}-01 00:00:00' "
                 "+ make_interval(0,0,0,id) FROM range(0, 10)")
    t = lake.table("pay")
    kept, total = t.scan_file_count("txn_date", "2024-04-02",
                                    "2024-04-03")
    assert total >= 4 and kept < total


def test_python_api_and_streaming_sink_derive(spark, tmp_path):
    """The direct API (create/append/merge) and the native streaming
    sink honor the same derivation + enforcement."""
    import json
    import os

    from aws_payment_data_lake_spark.sources.txlog_batch import (
        write_stream_txlog,
    )

    t = TxnTable(spark, str(tmp_path / "t"))
    t.create(spark.createDataFrame([], "id bigint, v double, "
                                   "v2 double"),
             generated={"v2": "v * 2"})
    t.append(spark.createDataFrame([(1, 1.5)], "id bigint, v double"))
    assert t.snapshot().first()["v2"] == 3.0
    # merge derives too
    t.merge(spark.createDataFrame([(1, 5.0), (2, 2.0)],
                                  "id bigint, v double"), on=["id"])
    got = {r["id"]: r["v2"] for r in t.snapshot().collect()}
    assert got == {1: 10.0, 2: 4.0}
    # the streaming sink carries the full schema, so a stream omitting
    # v2 widens nothing — it must SUPPLY matching values or fail the
    # __gen CHECK (DuckDB-evaluated); matching values pass
    src = str(tmp_path / "in")
    os.makedirs(src)
    with open(os.path.join(src, "f.jsonl"), "w") as f:
        f.write(json.dumps({"id": 3, "v": 4.0, "v2": 8.0}) + "\n")
    df = (spark.readStream.schema("id bigint, v double, v2 double")
          .json(src))
    q = (write_stream_txlog(df, t.path, str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert {r["id"]: r["v2"] for r in t.snapshot().collect()}[3] == 8.0
    src2 = str(tmp_path / "in2")
    os.makedirs(src2)
    with open(os.path.join(src2, "f.jsonl"), "w") as f:
        f.write(json.dumps({"id": 4, "v": 4.0, "v2": 99.0}) + "\n")
    df2 = (spark.readStream.schema("id bigint, v double, v2 double")
           .json(src2))
    # a DISTINCT txnAppId: the default is path-scoped, and a second
    # query reusing it would have its batch 0 skipped as a replay of
    # the first query's (the documented several-queries-one-table rule)
    q2 = (write_stream_txlog(df2, t.path, str(tmp_path / "ck2"),
                             txn_app_id="second-feed")
          .trigger(availableNow=True).start())
    with pytest.raises(Exception) as ei:
        q2.awaitTermination(120)
    assert "__gen_v2" in str(ei.value)
