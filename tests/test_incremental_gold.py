"""Incremental gold maintenance (plans/gold.py): merge-on-append equals
full recompute, arrival-order/batching invariance, HLL estimate parity
(exact in the sketch's sparse mode, within its error once dense).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from aws_payment_data_lake_spark.plans.bronze import run_bronze
from aws_payment_data_lake_spark.plans.generator import generate_transactions
from aws_payment_data_lake_spark.plans.gold import (
    daily_totals,
    daily_totals_merge,
    merchant_kpi_report,
    merchant_kpi_state,
    merchant_kpi_state_merge,
    merchant_kpis,
)
from aws_payment_data_lake_spark.plans.pipeline import run_pipeline
from aws_payment_data_lake_spark.plans.silver import run_silver


@pytest.fixture(scope="module")
def silver(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("inc_gold"))
    res = run_pipeline(spark, base, days=4, rows_per_day=400,
                       invalid_rate=0.05, duplicate_rate=0.02, seed=7)
    return spark.read.parquet(res["paths"]["silver"])


def _days(silver):
    return [r["txn_date"] for r in
            silver.select("txn_date").distinct().orderBy("txn_date")
            .collect()]


def _same(a, b):
    assert sorted(a.columns) == sorted(b.columns)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_daily_totals_merge_equals_full(spark, silver):
    """Prior gold + delta slice == full recompute, exactly (counts and
    decimal sums are associative) — history never rescanned."""
    days = _days(silver)
    cut = days[-1]
    prior = daily_totals(silver.where(F.col("txn_date") < cut))
    merged = daily_totals_merge(prior,
                                silver.where(F.col("txn_date") == cut))
    _same(merged, daily_totals(silver))


def test_kpi_state_merge_equals_full_report(spark, silver):
    """Report from per-day merged states == report from one full-state
    build, INCLUDING the HLL distinct-user estimate. That estimate is
    exact here because this fixture has ~30 users per merchant: every
    sketch stays in coupon (sparse) mode, below 384 values at lgK=12,
    and a union of coupon sets is the coupon set of the union. Past
    that the estimates only agree within the sketch's error
    (test_kpi_state_merge_tracks_full_estimate_at_scale)."""
    days = _days(silver)
    per_day = [merchant_kpi_state(silver.where(F.col("txn_date") == d))
               for d in days]
    merged = merchant_kpi_report(merchant_kpi_state_merge(*per_day))
    full = merchant_kpi_report(merchant_kpi_state(silver))
    _same(merged, full)


def test_kpi_state_merge_tracks_full_estimate_at_scale(spark):
    """At 80k rows (4 days x 20k, 50 merchants, 5000 users: ~1400 users
    per merchant) the sketches are dense, and the merged state reports
    the composite estimator while the single-pass state reports HIP,
    so the two differ on most merchants. They must still agree within
    three standard errors of lgK=12 (1.04 / sqrt(4096) = 1.6 %), 5 %;
    seeds 1, 2, 3, 7, 11 and 13 gave largest gaps of 1.6-2.7 %."""
    raw = generate_transactions(spark, days=4, rows_per_day=20_000,
                                invalid_rate=0.0, seed=7)
    silver = run_silver(run_bronze(raw)).cache()
    try:
        per_day = [merchant_kpi_state(silver.where(F.col("txn_date") == d))
                   for d in _days(silver)]
        merged = merchant_kpi_report(merchant_kpi_state_merge(*per_day))
        full = merchant_kpi_report(merchant_kpi_state(silver))
        j = (merged.select("merchant_id", F.col("n_users_approx").alias("m"))
             .join(full.select("merchant_id",
                               F.col("n_users_approx").alias("f")),
                   "merchant_id"))
        assert j.count() == 50
        assert j.where(F.col("f") < 1000).count() == 0  # dense regime
        assert j.where(F.abs(F.col("m") - F.col("f"))
                       > 0.05 * F.col("f")).count() == 0
    finally:
        silver.unpersist()


def test_kpi_state_merge_batching_invariant(spark, silver):
    """(a+b)+(c+d) == ((a+b)+c)+d — any merge tree yields the same
    report, so late/backfill batches can fold in any order."""
    days = _days(silver)
    assert len(days) >= 4
    s = [merchant_kpi_state(silver.where(F.col("txn_date") == d))
         for d in days[:4]]
    tree_a = merchant_kpi_state_merge(
        merchant_kpi_state_merge(s[0], s[1]),
        merchant_kpi_state_merge(s[2], s[3]))
    tree_b = merchant_kpi_state_merge(
        merchant_kpi_state_merge(
            merchant_kpi_state_merge(s[3], s[0]), s[2]), s[1])
    _same(merchant_kpi_report(tree_a), merchant_kpi_report(tree_b))


def test_kpi_report_tracks_exact_recompute(spark, silver):
    """The state-derived report matches the exact batch merchant_kpis on
    every shared exact column; the HLL user estimate lands within 5% of
    exact countDistinct (16-bit-register default precision is ~0.4%
    typical — 5% is a hard ceiling, not the expectation)."""
    rep = merchant_kpi_report(merchant_kpi_state(silver)).alias("r")
    exact = merchant_kpis(silver).alias("e")
    j = rep.join(exact, "merchant_id")
    assert j.where(
        (F.col("r.n_txns") != F.col("e.n_txns"))
        | (F.col("r.gross_amount") != F.col("e.gross_amount"))
        | (F.col("r.n_success") != F.col("e.n_success"))
        | (F.col("r.avg_amount") != F.col("e.avg_amount"))
        | (F.col("r.success_rate") != F.col("e.success_rate"))
    ).count() == 0
    bad = j.where(
        F.abs(F.col("n_users_approx") - F.col("n_users"))
        > 0.05 * F.col("n_users")).count()
    assert bad == 0
