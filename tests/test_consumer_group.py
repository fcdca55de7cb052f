"""Consumer-group semantics (sources/consumer_group.py): range
assignment, rebalance-on-join/leave with generation fencing, committed
positions surviving partition handover, and Kafka's assign/subscribe
split. Pure coordination tests — no Spark session needed."""

from __future__ import annotations

import pytest

from aws_payment_data_lake_spark.sources.consumer_group import (
    ConsumerGroup,
    IllegalGenerationError,
    _range_assign,
    assign,
)
from aws_payment_data_lake_spark.sources.queue_source import produce


def _mk_queue(tmp_path, n=40, parts=4):
    qdir = str(tmp_path / "q")
    produce(qdir, "pay",
            [{"partition": i % parts, "key": f"k{i}", "value": f"v{i}"}
             for i in range(n)], num_partitions=parts)
    return qdir


def test_range_assignor_is_kafkas():
    assert _range_assign(["b", "a"], [0, 1, 2, 3]) == {
        "a": [0, 1], "b": [2, 3]}
    assert _range_assign(["a", "b", "c"], [0, 1, 2, 3, 4]) == {
        "a": [0, 1], "b": [2, 3], "c": [4]}
    assert _range_assign([], [0, 1]) == {}
    assert _range_assign(["x"], []) == {"x": []}


def test_single_member_owns_everything(tmp_path):
    qdir = _mk_queue(tmp_path)
    g = ConsumerGroup(qdir, "g1", "pay")
    m = g.join("c1")
    assert m.partitions == [0, 1, 2, 3]
    got = m.poll()
    assert len(got) == 40
    assert m.poll() == []            # committed: nothing re-delivered


def test_rebalance_on_join_partitions_disjoint_cover(tmp_path):
    qdir = _mk_queue(tmp_path)
    g = ConsumerGroup(qdir, "g1", "pay")
    m1 = g.join("c1")
    gen1 = g.generation()
    m2 = g.join("c2")                # membership change -> rebalance
    assert g.generation() == gen1 + 1
    # stale member is FENCED until it refreshes (Kafka's
    # ILLEGAL_GENERATION -> rejoin protocol)
    with pytest.raises(IllegalGenerationError):
        m1.poll()
    p1 = set(m1.refresh())
    p2 = set(m2.partitions)
    assert p1 | p2 == {0, 1, 2, 3}   # cover ...
    assert p1 & p2 == set()          # ... exactly once
    got = m1.poll() + m2.poll()
    assert len(got) == 40
    assert len({(r["partition"], r["offset"]) for r in got}) == 40


def test_rebalance_on_leave(tmp_path):
    qdir = _mk_queue(tmp_path)
    g = ConsumerGroup(qdir, "g1", "pay")
    m1, m2 = g.join("c1"), g.join("c2")
    m1.refresh()
    g.leave("c2")
    with pytest.raises(IllegalGenerationError):
        m1.poll()
    assert m1.refresh() == [0, 1, 2, 3]   # survivor owns everything


def test_committed_position_survives_handover(tmp_path):
    """A partition moving between members in a rebalance resumes from
    the group's committed offset — no re-delivery, no skip."""
    qdir = _mk_queue(tmp_path, n=40, parts=4)
    g = ConsumerGroup(qdir, "g1", "pay")
    m1 = g.join("c1")
    first = m1.poll(max_records=12)       # drains p0 (10) + 2 of p1
    assert len(first) == 12
    m2 = g.join("c2")                      # p1 may hand over to c2
    m1.refresh()
    rest = m1.poll() + m2.poll()
    seen = first + rest
    assert len(seen) == 40                 # no loss ...
    assert len({(r["partition"], r["offset"]) for r in seen}) == 40  # no dup
    assert sorted(r["value"] for r in seen) == sorted(
        f"v{i}" for i in range(40))


def test_uncommitted_records_redeliver_after_rebalance(tmp_path):
    """Records read under a stale assignment without commit are
    re-delivered to the new owner — at-least-once at the poll level,
    exactly-once for committed work (Kafka's contract)."""
    qdir = _mk_queue(tmp_path)
    g = ConsumerGroup(qdir, "g1", "pay")
    m1 = g.join("c1")
    peek = m1.poll(max_records=5, auto_commit=False)
    assert len(peek) == 5
    m2 = g.join("c2")
    m1.refresh()
    got = m1.poll() + m2.poll()
    assert len(got) == 40                  # the 5 uncommitted reappear


def test_manual_assign_bypasses_group(tmp_path):
    qdir = _mk_queue(tmp_path)
    m = assign(qdir, "gm", "pay", [1, 3])
    got = m.poll()
    assert {r["partition"] for r in got} == {1, 3}
    assert len(got) == 20
    # a rebalance in the same group does not touch manual members
    g = ConsumerGroup(qdir, "gm", "pay")
    g.join("dynamic-1")
    assert m.poll() == []                  # no fencing, no re-delivery
    produce(qdir, "pay", [{"partition": 1, "value": "late"}],
            num_partitions=4)
    late = m.poll()
    assert [r["value"] for r in late] == ["late"]


def test_poll_budget_and_resume(tmp_path):
    qdir = _mk_queue(tmp_path)
    g = ConsumerGroup(qdir, "g1", "pay")
    m = g.join("c1")
    a = m.poll(max_records=7)
    b = m.poll(max_records=1000)
    assert len(a) == 7 and len(a) + len(b) == 40
    assert len({(r["partition"], r["offset"]) for r in a + b}) == 40


# --------------------------------------------------------------- ADVICE r8
def test_concurrent_commits_of_different_partitions_never_lost(tmp_path):
    """Two members committing DIFFERENT partitions concurrently must
    both land (the shared-map read-modify-write lost one side). Offsets
    are now one file per partition + a commit lock."""
    import threading

    qdir = _mk_queue(tmp_path)
    g = ConsumerGroup(qdir, "g_race", "pay")
    errs = []

    def worker(p):
        try:
            for off in range(1, 11):
                g.commit(p, off)
        except Exception as e:          # pragma: no cover
            errs.append(e)

    ts = [__import__("threading").Thread(target=worker, args=(p,))
          for p in range(4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert g.committed() == {str(p): 10 for p in range(4)}


def test_commit_monotone_and_legacy_offsets_compat(tmp_path):
    import json as _json
    import os as _os

    qdir = _mk_queue(tmp_path)
    g = ConsumerGroup(qdir, "g_legacy", "pay")
    _os.makedirs(g.gdir, exist_ok=True)
    with open(_os.path.join(g.gdir, "offsets.json"), "w") as f:
        _json.dump({"0": 5}, f)          # pre-upgrade layout
    assert g.committed() == {"0": 5}
    g.commit(1, 7)
    assert g.committed() == {"0": 5, "1": 7}
    g.commit(0, 3)                       # stale: no-op
    assert g.committed()["0"] == 5
    g.commit(0, 9)                       # newer than legacy: wins
    assert g.committed()["0"] == 9


def test_hwm_floor_concurrent_commits_take_max(tmp_path):
    """The pydatasource pacing floor twin: concurrent committers of
    mixed indexes must leave the MAX, not the last writer."""
    import threading

    from aws_payment_data_lake_spark.sources.pydatasource import (
        _PaymentsStreamReader,
    )

    hwm = str(tmp_path / "hwm.json")
    idxs = [3, 8, 5, 1, 7, 2]
    rs = [_PaymentsStreamReader({"hwmPath": hwm}) for _ in idxs]
    ts = [threading.Thread(target=rs[i].commit,
                           args=({"index": idxs[i]},))
          for i in range(len(idxs))]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert rs[0]._floor() == max(idxs)


# --------------------------------------------- sticky assignor (r9 stretch)
def test_sticky_assignor_moves_minimum_on_join(tmp_path):
    from aws_payment_data_lake_spark.sources.consumer_group import (
        _sticky_assign,
    )

    qdir = _mk_queue(tmp_path, n=80, parts=8)
    g = ConsumerGroup(qdir, "gs", "pay", assignor="sticky")
    g.join("a")
    g.join("b")
    before = g.assignment()
    assert sorted(len(v) for v in before.values()) == [4, 4]
    g.join("c")
    after = g.assignment()
    # balanced: 3/3/2, disjoint cover of all 8
    assert sorted(len(v) for v in after.values()) == [2, 3, 3]
    got = sorted(p for ps in after.values() for p in ps)
    assert got == list(range(8))
    # MINIMUM movement: a and b each keep 3 of their previous 4 —
    # exactly 2 partitions moved (the theoretical floor)
    moved = sum(len(set(before[m]) - set(after.get(m, [])))
                for m in before)
    assert moved == 2
    assert set(after["a"]) <= set(before["a"])
    assert set(after["b"]) <= set(before["b"])
    # pure-function determinism: recompute is a fixed point
    assert _sticky_assign(["a", "b", "c"], list(range(8)), after) \
        == after
    # leave: c's partitions spread back, survivors keep everything
    g.leave("c")
    final = g.assignment()
    assert set(final["a"]) >= set(after["a"])
    assert set(final["b"]) >= set(after["b"])
    assert sorted(len(v) for v in final.values()) == [4, 4]


def test_sticky_rebalance_during_inflight_polls_no_double_delivery(
        tmp_path):
    """The r9 stretch scenario: a member paces through its partitions
    (small max_records, like maxOffsetsPerTrigger), a rebalance lands
    mid-stream, the generation fence fires, and after refresh the
    union of all deliveries across both members covers every record
    EXACTLY once (committed positions hand over; sticky retention
    keeps the survivor's remaining partitions in place)."""
    qdir = _mk_queue(tmp_path, n=40, parts=4)
    g = ConsumerGroup(qdir, "gi", "pay", assignor="sticky")
    a = g.join("a")
    delivered: list[tuple[int, int]] = []

    def drain(member, budget):
        got = member.poll(max_records=budget)
        delivered.extend((r["partition"], r["offset"]) for r in got)
        return got

    drain(a, 7)                      # partial: a owns everything
    drain(a, 7)
    b = g.join("b")                  # rebalance mid-stream
    with pytest.raises(IllegalGenerationError):
        a.poll(max_records=7)
    retained = set(a.partitions)
    a.refresh()
    # cooperative contract: a keeps a subset of what it had
    assert set(a.partitions) <= retained
    assert len(a.partitions) == 2 and len(b.partitions) == 2
    for _ in range(10):
        if not drain(a, 7) and not drain(b, 7):
            break
    assert len(delivered) == 40
    assert len(set(delivered)) == 40          # exactly once
    assert sorted(set(p for p, _ in delivered)) == [0, 1, 2, 3]


def test_locked_update_steals_stale_lock(tmp_path):
    """A crashed holder's lock (mtime past stale_s) is stolen by
    RENAME — exactly one stealer can win — and the update proceeds."""
    import os
    import time as _time

    from aws_payment_data_lake_spark.sources.queue_source import (
        locked_json_update,
    )

    path = str(tmp_path / "state.json")
    lock = path + ".lock"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(lock, "w"):
        pass
    old = _time.time() - 120
    os.utime(lock, (old, old))           # crashed 2 minutes ago
    out = locked_json_update(path, lambda cur: {"x": 1}, stale_s=30.0)
    assert out == {"x": 1}
    import json as _json
    with open(path) as f:
        assert _json.load(f) == {"x": 1}
    assert not os.path.exists(lock)      # released
    assert not [n for n in os.listdir(str(tmp_path))
                if ".stale-" in n]       # no grave litter


def test_locked_update_paused_holder_does_not_clobber_stealer(tmp_path):
    """ADVICE r9: a LIVE holder paused past stale_s whose lock was
    stolen must discard its computed write (ownership token gone) and
    re-run the update against the stealer's committed state — the
    stealer's commit survives and the monotone merge sees it."""
    import json as _json
    import os

    from aws_payment_data_lake_spark.sources.queue_source import (
        locked_json_update,
    )

    path = str(tmp_path / "state.json")
    lock = path + ".lock"
    calls = []

    def update(cur):
        calls.append(dict(cur))
        if len(calls) == 1:
            # simulate the pause + steal while the holder computes:
            # another writer rename-steals the lock, takes its own
            # lock (different token), commits, and releases
            os.unlink(lock)
            with open(lock, "w") as f:
                f.write("someone-else")
            with open(path + ".tmp-steal", "w") as f:
                _json.dump({"stealer": 7}, f)
            os.replace(path + ".tmp-steal", path)
            os.unlink(lock)              # stealer released
            return {"mine": 1}           # would clobber {"stealer": 7}
        # second run: merge with what the stealer wrote
        out = dict(cur)
        out["mine"] = 1
        return out

    out = locked_json_update(path, update, stale_s=30.0)
    assert out == {"stealer": 7, "mine": 1}
    with open(path) as f:
        assert _json.load(f) == {"stealer": 7, "mine": 1}
    assert calls == [{}, {"stealer": 7}]     # re-ran with fresh state
    assert not os.path.exists(lock)
