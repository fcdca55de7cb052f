"""Crash-restart exactly-once proof for the native streaming sink
(VERDICT r12 #6) — the OS-process twin of the catalog CAS race proof
(`tests/test_catalog_process_race.py`).

`tests/test_txlog_sink.py::test_replayed_batch_is_skipped` simulates
the at-least-once crash window by deleting the checkpoint's commit
marker inside one long-lived session. This module proves the same
claims with a REAL crash: a subprocess driver runs the stream through
a fault-injected sink subclass that touches a sentinel file at the
chosen crash point and then blocks; the parent SIGKILLs the entire
process group (python driver + JVM + data-source runner — nothing
gets to clean up), then restarts the query from the same checkpoint
in a fresh process with the PRODUCTION sink and asserts exactly-once.

Both halves of the crash window are covered:

  * ``pre_publish``  — executor tasks staged their parquet files but
    ``commit`` died before ``_try_publish``: the batch is NOT in the
    table; the restart must replay it and land the rows ONCE, and the
    crashed attempt's staged orphans must stay out of the log (and be
    sweepable by ``vacuum``).
  * ``post_publish`` — the table commit PUBLISHED but the process died
    before Structured Streaming wrote the batch's checkpoint commit
    marker: the restart replays the batch and the sink's (app, batch)
    txn high-water mark must skip it — no doubled rows, no new table
    version.

Reference parity: the recovery contract Delta's streaming sink
documents (Armbrust et al., VLDB 2020 §4.3); the reference repo
declares streaming ingest without any crash-safety story.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import time

from tests.conftest import REPO

# Runs INSIDE the crash subprocess: builds its own SparkSession, feeds
# one jsonl batch into a fault-injected copy of the txlog sink, and
# spins at the crash point until the parent SIGKILLs the group.
# cloudpickle ships __main__-defined classes by value, so the subclass
# reaches the data-source runner without being importable.
_CRASHER = r"""
import os, sys, time
sys.path.insert(0, sys.argv[1])
tpath, src, ckpt, point, sentinel = sys.argv[2:7]

import json as _json
os.makedirs(src, exist_ok=True)
with open(os.path.join(src, "f0.jsonl"), "w") as f:
    for i in range(8):
        f.write(_json.dumps({"id": i, "v": float(i), "tag": "a"}) + "\n")

from pyspark.sql.datasource import DataSource
from aws_payment_data_lake_spark.session import get_spark
from aws_payment_data_lake_spark.sources.txlog_batch import (
    _StreamWriter)

class CrashyWriter(_StreamWriter):
    def __init__(self, options, schema):
        self._point = options["crashpoint"]
        self._sentinel = options["sentinel"]
        super().__init__(options, schema)

    def commit(self, messages, batchId):
        if self._point == "post_publish":
            super().commit(messages, batchId)   # table commit LANDS
        # signal the parent, then block so SIGKILL hits exactly here:
        # staged-not-published (pre) / published-not-checkpointed (post)
        open(self._sentinel, "w").close()
        while True:
            time.sleep(0.05)

class CrashySink(DataSource):
    @classmethod
    def name(cls):
        return "txlogcrashy"

    def streamWriter(self, schema, overwrite):
        return CrashyWriter(self.options, schema)

spark = get_spark(app_name="crash-run", master="local[4]",
                  shuffle_partitions=4)
spark.dataSource.register(CrashySink)
df = (spark.readStream.schema("id bigint, v double, tag string")
      .json(src))
(df.writeStream.format("txlogcrashy")
 .option("path", tpath)
 .option("checkpointLocation", ckpt)
 .option("txnAppId", "ing")
 .option("crashpoint", point)
 .option("sentinel", sentinel)
 .trigger(availableNow=True).start())
time.sleep(600)                      # parent kills long before this
"""

# Runs INSIDE the restart subprocess: resumes the SAME checkpoint with
# the PRODUCTION sink and prints the observed table state.
_RESTARTER = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
tpath, src, ckpt = sys.argv[2:5]
from aws_payment_data_lake_spark.session import get_spark
from aws_payment_data_lake_spark.sources.txlog import TxnTable
from aws_payment_data_lake_spark.sources.txlog_batch import (
    write_stream_txlog)

spark = get_spark(app_name="restart-run", master="local[4]",
                  shuffle_partitions=4)
df = (spark.readStream.schema("id bigint, v double, tag string")
      .json(src))
q = (write_stream_txlog(df, tpath, ckpt, txn_app_id="ing")
     .trigger(availableNow=True).start())
q.awaitTermination(180)

t = TxnTable(spark, tpath)
snap = t._replay()
orphans = []
data_dir = os.path.join(tpath, "data")
live = {os.path.join(tpath, a.path) for a in snap.live.values()}
for root, _dirs, files in os.walk(data_dir):
    for n in files:
        p = os.path.join(root, n)
        if p.endswith(".parquet") and p not in live:
            orphans.append(p)
swept = t.vacuum(retain_versions=1, orphan_grace_s=0.0)
print("OUT " + json.dumps({
    "rows": sorted(r["id"] for r in t.snapshot().collect()),
    "version": snap.version,
    "txn_hwm": snap.txns.get("ing", -1),
    "orphans_before_vacuum": len(orphans),
    "orphans_swept": swept["orphan_dirs_deleted"],
    "rows_after_vacuum": t.snapshot().count(),
}))
"""


def _run_crash_then_restart(tmp_path, point: str) -> dict:
    from aws_payment_data_lake_spark.session import get_spark
    from aws_payment_data_lake_spark.sources.txlog import TxnTable

    tpath = str(tmp_path / "t")
    src = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    sentinel = str(tmp_path / "crashed-here")
    # the table is created by the PARENT's session (the sink appends,
    # it does not define tables)
    spark = get_spark(app_name="pytest", master="local[8]",
                      shuffle_partitions=8)
    TxnTable(spark, tpath).create(
        spark.createDataFrame([], "id bigint, v double, tag string"))

    env = dict(os.environ, PYTHONPATH=REPO)
    crash = subprocess.Popen(
        [sys.executable, "-c", _CRASHER, REPO, tpath, src, ckpt,
         point, sentinel],
        stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
        env=env, cwd=str(tmp_path), start_new_session=True)
    deadline = time.time() + 300
    try:
        while not os.path.exists(sentinel):
            if crash.poll() is not None:
                raise AssertionError(
                    "crash subprocess exited before reaching the "
                    "crash point:\n" + crash.stderr.read()[-3000:])
            if time.time() > deadline:
                raise AssertionError(
                    "crash subprocess never reached the crash point")
            time.sleep(0.05)
    finally:
        # SIGKILL the whole group: driver + JVM + datasource runner.
        # No atexit, no finally blocks, no JVM shutdown hooks run.
        try:
            os.killpg(os.getpgid(crash.pid), signal.SIGKILL)
        except ProcessLookupError:
            pass
        crash.wait(timeout=60)

    restart = subprocess.run(
        [sys.executable, "-c", _RESTARTER, REPO, tpath, src, ckpt],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=420)
    assert restart.returncode == 0, restart.stderr[-3000:]
    out = [ln for ln in restart.stdout.splitlines()
           if ln.startswith("OUT ")]
    assert out, restart.stdout[-2000:]
    return json.loads(out[-1][4:])


def test_kill9_between_stage_and_publish_lands_rows_exactly_once(
        tmp_path):
    got = _run_crash_then_restart(tmp_path, "pre_publish")
    # the replayed batch landed the 8 rows ONCE — no loss, no dupes
    assert got["rows"] == list(range(8)), got
    assert got["txn_hwm"] == 0
    # the crashed attempt's staged files are orphans OUTSIDE the log
    # (the restart staged its own copies), and vacuum sweeps them
    # without touching live data
    assert got["orphans_before_vacuum"] >= 1, got
    assert got["rows_after_vacuum"] == 8


def test_kill9_between_publish_and_checkpoint_skips_replay(tmp_path):
    got = _run_crash_then_restart(tmp_path, "post_publish")
    # the crashed run PUBLISHED batch 0; the restart replays it and the
    # (app, batch) high-water mark skips it — exactly once, and the
    # no-op replay published no new table version (create=0, append=1)
    assert got["rows"] == list(range(8)), got
    assert got["version"] == 1, got
    assert got["txn_hwm"] == 0
    assert got["rows_after_vacuum"] == 8
