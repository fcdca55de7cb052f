"""sources/store.py:SessionStore — the session tier every store family
(MinHash, IVF, chunk index, bigram LM) shares: one live
(applicationId, sf_dir) key, same tuple back on a hit, cached frames
released on eviction, and a builder that finishes after its entry was
evicted releases its own frames."""

from __future__ import annotations

import sys
import threading

from aws_payment_data_lake_spark.sources.store import SessionStore


def _cached(spark, n: int):
    df = spark.range(n).persist()
    df.count()
    return df


def test_hit_returns_same_tuple_without_rebuilding(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_WAREHOUSE", raising=False)
    store, calls = SessionStore(), []

    def build(wh):
        calls.append(wh)
        return (_cached(spark, 3),)

    first = store.get(spark, "sf_a", "tier", build)
    assert store.get(spark, "sf_a", "tier", build) is first
    assert calls == [None]  # built once, with no warehouse configured
    # a second tier of the same key builds separately
    store.get(spark, "sf_a", "other", build)
    assert len(calls) == 2
    first[0].unpersist()


def test_new_sf_dir_evicts_and_unpersists(spark):
    store = SessionStore()
    plain = spark.range(2)  # never cached: left alone
    (old, kept) = store.get(spark, "sf_a", "tier",
                            lambda wh: (_cached(spark, 4), plain))
    assert old.is_cached
    (new,) = store.get(spark, "sf_b", "tier",
                       lambda wh: (_cached(spark, 5),))
    assert not old.is_cached
    assert kept is plain and not plain.is_cached
    assert new.is_cached
    # the old key is gone: asking for it again rebuilds
    rebuilt = store.get(spark, "sf_a", "tier",
                        lambda wh: (_cached(spark, 6),))
    assert rebuilt[0] is not old
    assert not new.is_cached
    rebuilt[0].unpersist()


def test_late_builder_of_evicted_entry_unpersists_its_frames(spark):
    store = SessionStore()
    started, release = threading.Event(), threading.Event()
    out: dict = {}

    def slow_build(wh):
        started.set()
        release.wait(timeout=60)
        return (_cached(spark, 7),)

    t = threading.Thread(target=lambda: out.setdefault(
        "val", store.get(spark, "sf_a", "tier", slow_build)))
    t.start()
    assert started.wait(timeout=60)
    # evict sf_a's entry while its builder is still running
    (live,) = store.get(spark, "sf_b", "tier",
                        lambda wh: (_cached(spark, 8),))
    release.set()
    t.join(timeout=120)
    (late,) = out["val"]
    assert late.count() == 7     # still a valid frame, merely uncached
    assert not late.is_cached
    assert live.is_cached
    live.unpersist()


def test_concurrent_getters_build_once(spark):
    """More threads than cores race on one key and tier with a tiny
    switch interval: exactly one build runs and every caller gets the
    same tuple."""
    store, calls, got = SessionStore(), [], []
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        def build(wh):
            calls.append(1)
            return (object(),)

        threads = [threading.Thread(target=lambda: got.append(
            store.get(spark, "sf_a", "tier", build))) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert len(calls) == 1
    assert len(got) == 16 and all(v is got[0] for v in got)
