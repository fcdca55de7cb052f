"""Domain-mixture resampling: DuckDB parity, determinism, weight
semantics, and statistical realization of fractional epochs."""

from __future__ import annotations

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.operators.mixture import mixture_resample
from aws_payment_data_lake_spark.oracle import compare_spark_duck
from aws_payment_data_lake_spark.queries.mixture import (
    _MIXTURE_ORACLE,
    MIX_WEIGHTS,
    corpus_mixture_resample,
)


def test_mixture_matches_duck(spark, duck):
    status = compare_spark_duck(corpus_mixture_resample(spark, SF_DIR),
                                duck, _MIXTURE_ORACLE)
    assert not status, status


def test_mixture_semantics(spark):
    docs = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(300)],
        "doc_id long, source string")
    rows = mixture_resample(
        docs, {"src0": 0.0, "src1": 2.0, "src2": 0.5},
        key_col="source").collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    # weight 0 -> fully dropped; weight 2.0 -> exactly 2 copies each
    assert "src0" not in by_src
    assert all(r["n_copies"] == 2 for r in by_src["src1"])
    assert len(by_src["src1"]) == 200  # 100 docs x 2 copies
    # weight 0.5 -> a strict, deterministic subset with 1 copy each
    n_kept = len(by_src["src2"])
    assert all(r["n_copies"] == 1 for r in by_src["src2"])
    assert 0 < n_kept < 100
    # determinism: same inputs -> identical rows
    again = mixture_resample(
        docs, {"src0": 0.0, "src1": 2.0, "src2": 0.5},
        key_col="source").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    # copy_idx enumerates 1..n_copies
    assert {r["copy_idx"] for r in by_src["src1"]} == {1, 2}


def test_realized_epochs_track_weights(spark, duck):
    """On the full corpus each source's realized epoch factor (output
    rows / input docs) lands near its weight (hash-uniformity; ~1500
    docs/source at sf0.1, ~150 at the default test SF — use a loose but
    meaningful band)."""
    from aws_payment_data_lake_spark.sources import load

    (docs,) = load(spark, SF_DIR, "documents")
    docs_in = {r["source"]: r["count"]
               for r in docs.groupBy("source").count().collect()}
    rows_out = {r["source"]: r["count"] for r in
                mixture_resample(docs, MIX_WEIGHTS).groupBy("source")
                .count().collect()}
    for src, n in docs_in.items():
        want = MIX_WEIGHTS.get(src, 1.0)
        got = rows_out.get(src, 0) / n
        assert abs(got - want) <= 0.2, (src, want, got)
    # exact invariants that hold at ANY corpus size
    assert "src4" not in rows_out
    assert rows_out["src3"] == 2 * docs_in["src3"]
