"""Property-based hardening of the queue log semantics
(sources/queue_source.py): for RANDOM produce/compact/trim histories,
the Spark read-back equals a pure-Python reference fold of the same
history. Deterministic seeds (hypothesis with a fixed derandomize
profile) — the properties, not the examples, are the contract."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from aws_payment_data_lake_spark.sources.queue_source import (
    produce,
    read_queue,
)

# record: (key index or None, payload round) — small alphabets force
# key collisions, which is where compaction semantics live
_RECORD = st.tuples(st.one_of(st.none(), st.integers(0, 3)),
                    st.integers(0, 9))
_HISTORY = st.lists(st.lists(_RECORD, min_size=1, max_size=8),
                    min_size=1, max_size=5)


def _reference(history, n_parts):
    """Pure-python fold: the records each (partition, offset) holds
    after all produce calls, mirroring produce()'s routing."""
    import hashlib

    log = {}                                    # (part, offset) -> rec
    nxt = [0] * n_parts
    for call in history:
        per_part = {}
        for idx, (k, payload) in enumerate(call):
            if k is None:
                p = idx % n_parts
            else:
                p = int(hashlib.md5(f"k{k}".encode())
                        .hexdigest()[:15], 16) % n_parts
            per_part.setdefault(p, []).append((k, payload))
        for p, recs in per_part.items():
            for k, payload in recs:
                log[(p, nxt[p])] = (f"k{k}" if k is not None else None,
                                    f"v{payload}")
                nxt[p] += 1
    return log


def _spark_log(spark, qdir):
    return {(r["partition"], r["offset"]):
            (bytes(r["key"]).decode() if r["key"] is not None else None,
             bytes(r["value"]).decode())
            for r in read_queue(spark, qdir, "t").collect()}


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(history=_HISTORY)
def test_produce_readback_matches_reference(spark, tmp_path_factory,
                                            history):
    qdir = str(tmp_path_factory.mktemp("qprop"))
    for call in history:
        produce(qdir, "t", [
            {"key": f"k{k}" if k is not None else None,
             "value": f"v{p}"} for k, p in call], num_partitions=2)
    assert _spark_log(spark, qdir) == _reference(history, 2)
