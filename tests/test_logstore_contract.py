"""Conformance pin for TXLOG_FORMAT.md's LogStore section (VERDICT r9
#4): the commit protocol's storage footprint IS the portability
contract. If `_try_publish` or `_maybe_checkpoint` start calling
storage operations outside the declared sets, this test fails and the
spec (plus any object-store LogStore port) must be revisited together
— the same discipline as the independent-reader interop pin. It also
pins `TxnTable._commit` as the only caller of both,
`TxnTable._commits` as the only reader of commit JSONs (property 4),
and one path that readies a write's new rows."""

from __future__ import annotations

import inspect
import re

from tests.source_refs import package_refs

from aws_payment_data_lake_spark.sources.txlog import TxnTable
from aws_payment_data_lake_spark.sources.txlog_batch import (
    _SnapshotWriter,
    _StreamWriter,
    _Upholding,
)


def _os_ops(fn) -> set[str]:
    src = inspect.getsource(fn)
    return set(re.findall(r"\bos\.((?:path\.)?[a-z_]+)\s*\(", src))


def test_try_publish_uses_only_put_if_absent_primitives():
    """Property 1 (put-if-absent): makedirs + fsync'd temp + hard link
    + unlink, nothing else. In particular no rename/replace (not a
    claim arbiter) and no listing (claims are arbitrated by the link,
    never by what a writer saw)."""
    ops = _os_ops(TxnTable._try_publish)
    assert ops == {"makedirs", "path.join", "fsync", "link", "unlink"}, \
        f"_try_publish storage footprint changed: {sorted(ops)} — " \
        "update TXLOG_FORMAT.md 'LogStore contract' and this pin " \
        "together"


def test_checkpoint_uses_only_idempotent_replace():
    """Property 2 (last-writer-wins replace of derived data): tmp +
    os.replace only — no link (a checkpoint must never become a claim)
    and no deletes."""
    ops = _os_ops(TxnTable._maybe_checkpoint)
    assert ops == {"path.join", "replace"}, \
        f"_maybe_checkpoint storage footprint changed: {sorted(ops)} " \
        "— update TXLOG_FORMAT.md 'LogStore contract' and this pin " \
        "together"


def test_commit_claim_never_reads_before_linking():
    """The writer must not gate the claim on a listing or existence
    check — property 1's conditional write is the only arbiter (an
    eventually-consistent listing would make exists() a lost-update
    vector)."""
    src = inspect.getsource(TxnTable._try_publish)
    for banned in ("os.listdir", "os.path.exists", "os.path.isfile",
                   "os.stat"):
        assert banned not in src, \
            f"_try_publish consults {banned}: claims must be " \
            "arbitrated by the atomic link alone"


def test_commit_loop_is_the_only_publisher():
    """One choke point: inside the package, ``_try_publish(`` and
    ``_maybe_checkpoint(`` are each called only from
    ``TxnTable._commit``, the single commit loop every write path
    (DML, DDL, maintenance, the batch writer, the streaming sink)
    publishes through. Commit metrics and per-step timings attach
    there and nowhere else."""
    refs = package_refs({"_try_publish", "_maybe_checkpoint"})
    for name, sites in refs.items():
        assert [caller for caller, _ in sites] == ["TxnTable._commit"], \
            f"{name} called outside TxnTable._commit: {sites}"


def test_commits_is_the_only_log_reader():
    """One read path (LogStore property 4): inside the package,
    ``_commit_path`` is used only by ``TxnTable._commits`` (the one
    commit reader), ``_try_publish`` (the link that claims a version)
    and ``exists``; and ``_LAYOUT_OPS`` only by ``_feed_plan``, the
    change-feed planner ``changes()`` and the txlog_feed stream
    share."""
    refs = package_refs({"_commit_path", "_LAYOUT_OPS"})
    assert sorted(caller for caller, _ in refs["_commit_path"]) == [
        "TxnTable._commits", "TxnTable._try_publish", "TxnTable.exists"], \
        f"a commit JSON is opened outside TxnTable._commits: " \
        f"{refs['_commit_path']}"
    assert [caller for caller, _ in refs["_LAYOUT_OPS"]] == \
        ["_feed_plan"], \
        f"change-feed policy outside _feed_plan: {refs['_LAYOUT_OPS']}"


def test_one_merge_engine():
    """One MERGE engine: ``TxnTable.merge`` is a clause translation into
    ``merge_clauses`` with no staging or commit of its own, and the SQL
    layer never calls ``.merge(`` — every ``MERGE INTO`` hands its
    parsed clauses to ``merge_clauses``, which alone picks the plan."""
    refs = package_refs({"_stage", "_commit", "merge", "merge_clauses"})
    own = [site for name in ("_stage", "_commit") for site in refs[name]
           if site[0] == "TxnTable.merge"]
    assert own == [], f"TxnTable.merge stages or commits itself: {own}"
    assert ("TxnTable.merge" in
            [caller for caller, _ in refs["merge_clauses"]])
    sql = [where for _, where in refs["merge"]
           if where.startswith("sources/txsql.py")]
    assert sql == [], f"the SQL layer calls .merge( directly: {sql}"


def test_one_row_readying_path():
    """One path readies a write's new rows: inside the package,
    ``_assign_identity`` is called only from ``TxnTable._ready``
    (identity, then DEFAULT, then generated columns) and
    ``_identity_moved`` only from ``TxnTable._restage``, the stage and
    lost-race restage step of append, overwrite and COPY INTO. The
    ``format("txlog")`` batch writer refuses no CHECK, generated or
    DEFAULT table: it upholds them through the code the stream writer
    uses."""
    refs = package_refs({"_assign_identity", "_identity_moved"})
    assert [c for c, _ in refs["_assign_identity"]] == \
        ["TxnTable._ready"], refs["_assign_identity"]
    assert [c for c, _ in refs["_identity_moved"]] == \
        ["TxnTable._restage"], refs["_identity_moved"]
    assert issubclass(_SnapshotWriter, _Upholding)
    assert issubclass(_StreamWriter, _Upholding)
    refusal = inspect.getsource(_SnapshotWriter._refuse_unsupported)
    for word in ("constraints", "CHECK", "generated", "default",
                 "DEFAULT"):
        assert word not in refusal, \
            f"the batch writer refuses {word!r} tables again"
