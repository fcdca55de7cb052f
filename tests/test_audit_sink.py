"""Audit sink (sources/audit_sink.py): commit-protocol semantics —
roundtrip, append, overwrite orphan cleanup, abort invisibility."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from aws_payment_data_lake_spark.sources.audit_sink import (
    SINK_NAME,
    read_manifest,
    register_audit_sink,
)

DDL = "id bigint, user string, v double"


def _df(spark, lo, hi):
    return (spark.range(lo, hi)
            .selectExpr("id", "concat('u', id % 7) AS user",
                        "cast(id * 1.5 as double) AS v"))


def _write(df, path, mode):
    df.write.format(SINK_NAME).mode(mode).option("path", path).save()


def _read(spark, path):
    return (spark.read.format(SINK_NAME).schema(DDL)
            .option("path", path).load())


@pytest.fixture(autouse=True)
def _register(spark):
    register_audit_sink(spark)


def test_roundtrip_and_manifest(spark, tmp_path):
    out = str(tmp_path / "audit")
    df = _df(spark, 0, 100).repartition(4)
    _write(df, out, "overwrite")
    m = read_manifest(out)
    assert m["n_rows"] == 100
    assert m["schema"] == "struct<id:bigint,user:string,v:double>"
    assert sum(f["n_rows"] for f in m["files"]) == 100
    back = _read(spark, out)
    assert back.exceptAll(df).count() == 0
    assert df.exceptAll(back).count() == 0


def test_append_unions_manifest(spark, tmp_path):
    out = str(tmp_path / "audit")
    _write(_df(spark, 0, 60), out, "overwrite")
    _write(_df(spark, 60, 90), out, "append")
    assert read_manifest(out)["n_rows"] == 90
    assert _read(spark, out).count() == 90


def test_overwrite_removes_orphans(spark, tmp_path):
    out = str(tmp_path / "audit")
    _write(_df(spark, 0, 50).repartition(3), out, "overwrite")
    old_files = {f["file"] for f in read_manifest(out)["files"]}
    _write(_df(spark, 100, 120), out, "overwrite")
    m = read_manifest(out)
    assert m["n_rows"] == 20
    on_disk = {os.path.basename(p)
               for p in glob.glob(os.path.join(out, "part-*.jsonl"))}
    assert on_disk == {f["file"] for f in m["files"]}
    assert not (on_disk & old_files)
    assert _read(spark, out).agg(F.min("id"), F.max("id")).first() \
        == (100, 119)


def test_failed_write_commits_nothing(spark, tmp_path):
    """A task failure mid-write triggers abort(): staging is removed,
    no manifest appears, and a reader sees zero rows — the exactly-once
    contract. A failed APPEND leaves the prior commit fully intact."""
    out = str(tmp_path / "audit")
    poison = _df(spark, 0, 50).withColumn(
        "v", F.when(F.col("id") == 42,
                    F.raise_error(F.lit("poison"))).otherwise(F.col("v")))
    with pytest.raises(Exception, match="poison"):
        _write(poison, out, "overwrite")
    assert read_manifest(out) is None
    assert _read(spark, out).count() == 0

    _write(_df(spark, 0, 30), out, "overwrite")
    before = read_manifest(out)
    with pytest.raises(Exception, match="poison"):
        _write(poison, out, "append")
    assert read_manifest(out) == before
    assert _read(spark, out).count() == 30
    # stray staging from the aborted write (abort races still-running
    # tasks) is reader-invisible and swept by the next commit
    _write(_df(spark, 30, 35), out, "append")
    assert not glob.glob(os.path.join(out, ".staging"))
    assert _read(spark, out).count() == 35


def test_missing_manifest_reads_empty(spark, tmp_path):
    out = str(tmp_path / "nothing")
    os.makedirs(out)
    assert _read(spark, out).count() == 0


def test_stream_write_exactly_once(spark, tmp_path):
    """Micro-batch writes through the streaming sink: every batch id
    committed once, content equals the batch source, and a REPLAYED
    commit (same batch id — at-least-once delivery) is detected via the
    manifest's batch registry and discarded instead of double-appended."""
    import time

    from pyspark.sql.types import StructType

    from aws_payment_data_lake_spark.sources.audit_sink import (
        _AuditCommit,
        _AuditStreamWriter,
    )
    from aws_payment_data_lake_spark.sources.pydatasource import (
        SOURCE_NAME as SYNTH,
        read_payments,
        register_payments_source,
    )

    register_payments_source(spark)
    out = str(tmp_path / "audit_stream")
    ckpt = str(tmp_path / "ckpt")
    sdf = (spark.readStream.format(SYNTH).option("n", "6000")
           .option("rowsPerBatch", "2500").option("numPartitions", "3")
           .load())
    q = (sdf.writeStream.format(SINK_NAME).option("path", out)
         .option("checkpointLocation", ckpt).start())
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            m = read_manifest(out)
            if m and m["n_rows"] >= 6000:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    m = read_manifest(out)
    assert m["n_rows"] == 6000
    assert sorted(m["batches"]) == list(range(len(m["batches"])))
    ddl = ("txn_id bigint, user_id bigint, amount_cents bigint, "
           "currency string, status string, ts_us bigint")
    back = (spark.read.format(SINK_NAME).schema(ddl)
            .option("path", out).load())
    batch = read_payments(spark, 6_000, 3)
    assert back.exceptAll(batch).count() == 0
    assert batch.exceptAll(back).count() == 0

    # unit-level replay: re-commit an already-committed batch id with a
    # fresh staged file — manifest must be unchanged, file discarded
    import pyspark.sql.types as T

    schema = StructType([T.StructField("txn_id", T.LongType())])
    w = _AuditStreamWriter({"path": out}, schema, False)
    os.makedirs(w.staging, exist_ok=True)
    stray = "part-replayed-attempt.jsonl"
    with open(os.path.join(w.staging, stray), "w") as fh:
        fh.write('{"txn_id": 999999}\n')
    before = read_manifest(out)
    w.commit([_AuditCommit(stray, 1, 123)], batchId=0)
    assert read_manifest(out) == before
    assert not os.path.exists(os.path.join(out, stray))


def test_from_batch_incremental_read(spark, tmp_path):
    """fromBatch reads only files committed at batch id >= k — the
    incremental-consumer contract over the manifest's batch registry."""
    import pyspark.sql.types as T
    from pyspark.sql.types import StructType

    from aws_payment_data_lake_spark.sources.audit_sink import (
        _AuditCommit,
        _AuditStreamWriter,
    )

    out = str(tmp_path / "audit_cdf")
    os.makedirs(out)
    schema = StructType([T.StructField("id", T.LongType())])
    w = _AuditStreamWriter({"path": out}, schema, False)
    for batch_id, ids in enumerate([[1, 2], [3], [4, 5]]):
        os.makedirs(w.staging, exist_ok=True)
        name = f"part-b{batch_id}.jsonl"
        with open(os.path.join(w.staging, name), "w") as fh:
            for i in ids:
                fh.write('{"id": %d}\n' % i)
        w.commit([_AuditCommit(name, len(ids), 1)], batchId=batch_id)

    def ids_from(k):
        df = (spark.read.format(SINK_NAME).schema("id bigint")
              .option("path", out).option("fromBatch", str(k)).load())
        return sorted(r["id"] for r in df.collect())

    assert ids_from(0) == [1, 2, 3, 4, 5]
    assert ids_from(1) == [3, 4, 5]
    assert ids_from(2) == [4, 5]
    assert ids_from(3) == []


def test_batch_append_keeps_the_stream_batch_registry(spark, tmp_path):
    """A batch append after a stream commit carries the manifest's
    ``batches`` registry forward, so a replayed stream batch is still
    discarded instead of appended twice."""
    import pyspark.sql.types as T
    from pyspark.sql import Row
    from pyspark.sql.types import StructType

    from aws_payment_data_lake_spark.sources.audit_sink import (
        _AuditStreamWriter,
    )

    out = str(tmp_path / "audit_mixed")
    os.makedirs(out)
    schema = StructType([T.StructField("id", T.LongType())])
    w = _AuditStreamWriter({"path": out}, schema, False)

    def stream_batch_0():
        msg = w.write(iter([Row(id=1), Row(id=2)]))
        w.commit([msg], batchId=0)

    stream_batch_0()
    _write(spark.range(10, 13), out, "append")
    assert read_manifest(out)["n_rows"] == 5
    stream_batch_0()                       # at-least-once replay
    assert read_manifest(out)["n_rows"] == 5
    back = (spark.read.format(SINK_NAME).schema("id bigint")
            .option("path", out).load())
    assert sorted(r.id for r in back.collect()) == [1, 2, 10, 11, 12]
