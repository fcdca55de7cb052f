"""End-to-end medallion pipeline invariants (SURVEY.md §5.2.3).

Runs generator -> bronze -> silver/audit on a temp dir and asserts the
invariants the reference only ever eyeballed in notebooks:
silver + audit = bronze, no invalid row survives, dedup idempotence &
latest-wins, partition dirs match distinct txn_date, DQ summary accounts
for every row, pipeline re-run is idempotent (unlike the reference's
append mode, SURVEY.md §1.5.3).
"""

from __future__ import annotations

import glob
import json
import os

import pyspark.sql.functions as F
import pytest

from aws_payment_data_lake_spark.plans import bronze as B
from aws_payment_data_lake_spark.plans import generator as G
from aws_payment_data_lake_spark.plans import silver as S
from aws_payment_data_lake_spark.plans.pipeline import run_pipeline
from aws_payment_data_lake_spark.plans.schemas import CURRENCIES, STATUSES


@pytest.fixture(scope="module")
def pipeline_result(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("medallion"))
    res = run_pipeline(spark, base, days=3, rows_per_day=500,
                       invalid_rate=0.05, duplicate_rate=0.02, seed=42)
    return base, res


def test_zone_counts_reconcile(spark, pipeline_result):
    base, res = pipeline_result
    c = res["counts"]
    assert c["raw"] > 0
    # dedup can only shrink; duplicates were injected so it must shrink
    assert c["bronze"] < c["raw"]
    assert c["silver"] + c["audit"] == c["bronze"]
    assert c["audit"] > 0  # invalid_rate=0.05 must reject something


def test_no_invalid_rows_in_silver(spark, pipeline_result):
    base, res = pipeline_result
    silver = spark.read.parquet(res["paths"]["silver"])
    assert silver.where(
        F.col("amount").isNull() | (F.col("amount") <= 0)
        | ~F.col("currency").isin(CURRENCIES)
        | ~F.col("status").isin(STATUSES)
        | (F.trim(F.col("user_id")) == "")
    ).count() == 0
    # curation is total: never null
    assert silver.where(F.col("status_curated").isNull()).count() == 0


def test_dedup_latest_wins_and_idempotent(spark):
    raw = G.generate_transactions(spark, days=1, rows_per_day=300,
                                  invalid_rate=0.0, duplicate_rate=0.1, seed=7)
    bronze = B.run_bronze(raw.drop("ingest_date"))
    # keys unique after dedup
    assert bronze.groupBy("txn_id").count().where("count > 1").count() == 0
    # idempotent: f(f(x)) = f(x)
    again = B.deduplicate(bronze.drop("txn_date"))
    assert again.count() == bronze.count()
    # latest wins: for every duplicated txn_id the surviving ts is the max
    typed = B.cast_dtypes(B.normalise_strings(raw.drop("ingest_date")))
    expected = typed.groupBy("txn_id").agg(F.max("txn_ts").alias("max_ts"))
    joined = bronze.join(expected, "txn_id")
    assert joined.where(F.col("txn_ts") != F.col("max_ts")).count() == 0


def test_partition_layout_matches_dates(spark, pipeline_result):
    base, res = pipeline_result
    bronze_dir = res["paths"]["bronze"]
    dirs = {os.path.basename(p).split("=")[1]
            for p in glob.glob(os.path.join(bronze_dir, "txn_date=*"))}
    dates = {str(r["txn_date"]) for r in
             spark.read.parquet(bronze_dir).select("txn_date").distinct().collect()}
    assert dirs == dates


def test_dq_summary_accounts_for_all_rows(spark, pipeline_result):
    base, res = pipeline_result
    with open(res["paths"]["dq"]) as f:
        dq = json.load(f)
    total = sum(r["row_count"] for r in dq["counts_by_reason"])
    assert total == res["counts"]["bronze"]
    reasons = {r["reason"] for r in dq["counts_by_reason"]}
    assert "valid" in reasons and len(reasons) > 1


def test_pipeline_rerun_idempotent(spark, pipeline_result):
    base, res = pipeline_result
    res2 = run_pipeline(spark, base, days=3, rows_per_day=500,
                        invalid_rate=0.05, duplicate_rate=0.02, seed=42)
    assert res2["counts"] == res["counts"]


def test_pipeline_streaming_upsert_ingest(spark, tmp_path_factory):
    """D3 via the MERGE sink (VERDICT r4 #6): run_pipeline with
    ingest='streaming_upsert' fills bronze through the streaming upsert
    path, downstream zones reconcile, and BOTH rerun shapes leave the
    zone's content identical — checkpoint recovery (same checkpoint, no
    new files) and a bookmark-reset re-ingest (checkpoint deleted, every
    micro-batch re-merged)."""
    import shutil

    base = str(tmp_path_factory.mktemp("medallion_stream"))
    kw = dict(days=2, rows_per_day=300, invalid_rate=0.05,
              duplicate_rate=0.02, seed=7, ingest="streaming_upsert")
    res = run_pipeline(spark, base, **kw)
    assert res["counts"]["bronze"] > 0
    assert (res["counts"]["silver"] + res["counts"]["audit"]
            == res["counts"]["bronze"])
    zone = spark.read.parquet(res["paths"]["bronze"])
    first = sorted(map(tuple, zone.collect()))
    assert zone.select("txn_id").distinct().count() == zone.count()

    res2 = run_pipeline(spark, base, **kw)  # checkpoint recovery rerun
    zone2 = spark.read.parquet(res2["paths"]["bronze"])
    assert sorted(map(tuple, zone2.collect())) == first

    shutil.rmtree(os.path.join(base, "checkpoints"))  # bookmark reset
    res3 = run_pipeline(spark, base, **kw)
    zone3 = spark.read.parquet(res3["paths"]["bronze"])
    assert sorted(map(tuple, zone3.collect())) == first


def test_generator_deterministic_across_partitionings(spark):
    a = G.generate_transactions(spark, days=1, rows_per_day=200, seed=5)
    b = G.generate_transactions(spark, days=1, rows_per_day=200,
                                seed=5).repartition(13)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_normalise_strings_actually_fires(spark):
    df = spark.createDataFrame([("  a b ", 1)], ["s", "i"])
    out = B.normalise_strings(df).collect()[0]
    assert out["s"] == "A B" and out["i"] == 1


def test_curate_status_total_mapping(spark):
    df = spark.createDataFrame(
        [("SETTLED",), ("CHARGEBACK",), ("WHATEVER",)], ["status"])
    got = {r["status"]: r["status_curated"]
           for r in S.curate_status(df).collect()}
    assert got == {"SETTLED": "SUCCESS", "CHARGEBACK": "FAILED",
                   "WHATEVER": "UNKNOWN"}


def test_gold_merchant_kpis_match_duckdb(spark, pipeline_result):
    import duckdb

    from aws_payment_data_lake_spark.plans import gold as GL

    base, res = pipeline_result
    silver_glob = os.path.join(res["paths"]["silver"], "**", "*.parquet")
    silver = spark.read.parquet(res["paths"]["silver"])
    got = {r["merchant_id"]: (r["n_txns"], r["n_users"], r["n_success"])
           for r in GL.merchant_kpis(silver).collect()}
    want = {m: (n, u, s) for m, n, u, s in duckdb.sql(f"""
        SELECT merchant_id, count(*),
               count(DISTINCT user_id),
               sum(CASE WHEN status_curated = 'SUCCESS' THEN 1 ELSE 0 END)
        FROM read_parquet('{silver_glob}', hive_partitioning=true)
        GROUP BY merchant_id""").fetchall()}
    assert got == want


def test_gold_daily_totals_cover_all_days(spark, pipeline_result):
    from aws_payment_data_lake_spark.plans import gold as GL

    base, res = pipeline_result
    silver = spark.read.parquet(res["paths"]["silver"])
    daily = GL.daily_totals(silver)
    assert daily.agg(F.sum("n_txns")).collect()[0][0] == res["counts"]["silver"]
    n_days = silver.select("txn_date").distinct().count()
    assert daily.select("txn_date").distinct().count() == n_days


def test_bronze_date_filter_prunes_partitions(spark, pipeline_result):
    import io
    from contextlib import redirect_stdout

    base, res = pipeline_result
    bronze = spark.read.parquet(res["paths"]["bronze"])
    one_day = bronze.where(F.col("txn_date") == "2024-01-02")
    buf = io.StringIO()
    with redirect_stdout(buf):
        one_day.explain("formatted")
    plan = buf.getvalue()
    # the txn_date predicate must prune directories, not filter rows
    assert "PartitionFilters: [isnotnull(txn_date" in plan
    assert one_day.count() > 0


def test_append_mode_reruns_duplicate_like_reference(spark, tmp_path_factory):
    # Reference parity (SURVEY.md §1.5.3): blind append + per-batch dedup
    # means a rerun doubles the bronze zone. That hazard is WHY the
    # engine's default is dynamic-partition overwrite.
    base = str(tmp_path_factory.mktemp("append_mode"))
    r1 = run_pipeline(spark, base, days=1, rows_per_day=200,
                      invalid_rate=0.0, duplicate_rate=0.0, seed=3,
                      mode="append")
    r2 = run_pipeline(spark, base, days=1, rows_per_day=200,
                      invalid_rate=0.0, duplicate_rate=0.0, seed=3,
                      mode="append")
    assert r2["counts"]["bronze"] == 2 * r1["counts"]["bronze"]


def test_pipeline_on_acid_format(spark, tmp_path_factory):
    """fmt='txn': the whole medallion pipeline on the engine's own
    ACID format — same counts as parquet, zones are transaction-logged
    tables with history, an overwrite rerun advances the version
    without changing content, and the append-mode rerun hazard the
    reference has (test above) is FIXED at the storage layer when the
    caller keys appends with txn ids (write_zone fmt='txn')."""
    from aws_payment_data_lake_spark.sources.txlog import TxnTable

    kw = dict(days=2, rows_per_day=300, invalid_rate=0.05,
              duplicate_rate=0.02, seed=7)
    base_p = str(tmp_path_factory.mktemp("medallion_pq"))
    base_t = str(tmp_path_factory.mktemp("medallion_txn"))
    rp = run_pipeline(spark, base_p, **kw)
    rt = run_pipeline(spark, base_t, fmt="txn", **kw)
    assert rt["counts"] == rp["counts"]

    bronze = TxnTable(spark, rt["paths"]["bronze"])
    assert [h["op"] for h in bronze.history()] == ["create", "overwrite"]
    v1 = bronze.latest_version()
    rt2 = run_pipeline(spark, base_t, fmt="txn", **kw)   # rerun
    assert rt2["counts"] == rt["counts"]
    assert bronze.latest_version() > v1                  # new commit,
    assert bronze.snapshot().count() == rt["counts"]["bronze"]  # same rows

    with pytest.raises(ValueError, match="pairs with ingest='batch'"):
        run_pipeline(spark, base_t, fmt="txn",
                     ingest="streaming_upsert", **kw)


def test_write_zone_format_flag_gated(spark, tmp_path_factory):
    """The declared Delta writer flag (SURVEY §4.1/§7.0) exists and is
    honestly gated: parquet writes through write_zone, fmt='delta' raises
    immediately naming the missing delta-spark dependency (not shipped in
    this container), unknown formats are rejected up front."""
    from aws_payment_data_lake_spark.sources import delta_available, write_zone

    df = spark.range(3).select(
        F.col("id"), F.lit("2024-01-01").cast("date").alias("txn_date"))
    base = str(tmp_path_factory.mktemp("zone_fmt"))
    write_zone(df, base + "/pq")
    assert spark.read.parquet(base + "/pq").count() == 3
    with pytest.raises(ValueError, match="fmt"):
        write_zone(df, base + "/bad", fmt="orc-ish")
    if not delta_available():
        with pytest.raises(RuntimeError, match="delta-spark"):
            write_zone(df, base + "/delta", fmt="delta")
    else:  # pragma: no cover - container ships without delta-spark
        write_zone(df, base + "/delta", fmt="delta")
        assert spark.read.format("delta").load(base + "/delta").count() == 3


def test_write_zone_bounds_files_per_partition(spark, tmp_path_factory):
    """files_per_partition is the small-files control: without it every
    task holding a date writes a file (here: up to shuffle-partitions
    files per date); with it each date directory holds at most N files
    and the data still round-trips identically."""
    import glob

    from aws_payment_data_lake_spark.sources import write_zone

    df = (spark.range(4_000)
          .select(F.col("id"),
                  F.date_add(F.lit("2024-01-01").cast("date"),
                             F.pmod(F.col("id"), F.lit(3)).cast("int"))
                  .alias("txn_date"))
          .repartition(8))  # simulate a wide upstream stage
    base = str(tmp_path_factory.mktemp("zone_files"))

    write_zone(df, base + "/free")
    write_zone(df, base + "/bounded", files_per_partition=2)

    def files_per_dir(root):
        return {d.split("=")[-1]: len(glob.glob(f"{root}/{d}/*.parquet"))
                for d in
                [p.split("/")[-1] for p in glob.glob(f"{root}/txn_date=*")]}

    free = files_per_dir(base + "/free")
    bounded = files_per_dir(base + "/bounded")
    assert set(free) == set(bounded) and len(free) == 3
    assert all(n <= 2 for n in bounded.values()), bounded
    assert sum(free.values()) > sum(bounded.values())  # it actually compacted
    assert (spark.read.parquet(base + "/bounded").count()
            == spark.read.parquet(base + "/free").count() == 4_000)
