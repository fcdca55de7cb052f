"""operators.spread.shuffle_width: a keyed shuffle sized from the bytes
its input carries, and the bronze dedup that uses it."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from aws_payment_data_lake_spark.operators.spread import shuffle_width
from aws_payment_data_lake_spark.plans import bronze as B
from aws_payment_data_lake_spark.plans import generator as G
from aws_payment_data_lake_spark.plans.pipeline import read_raw
from aws_payment_data_lake_spark.plans.schemas import RAW_SCHEMA

ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"


@pytest.fixture(scope="module")
def raw_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("width") / "raw")
    G.write_raw_csv(G.generate_transactions(
        spark, days=2, rows_per_day=500, duplicate_rate=0.05, seed=3), path)
    return path


def _shuffle_partitions(spark) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dedup_of_a_small_csv_plans_one_single_task_exchange(spark, raw_dir):
    """A ~100 KB batch is far below the 64 MB advisory size: one output
    partition (Spark plans hash partitioning into one partition as
    SinglePartition), and the aggregate reuses it — no second exchange."""
    df = B.cast_dtypes(B.normalise_strings(read_raw(spark, raw_dir)))
    assert shuffle_width(df) == 1
    plan = _physical_plan(B.deduplicate(df))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1, plan
    assert "SinglePartition, REPARTITION_BY_NUM" in exchanges[0], plan


def test_width_is_size_over_advisory_clamped_to_shuffle_partitions(
        spark, raw_dir):
    df = read_raw(spark, raw_dir)
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    cap = _shuffle_partitions(spark)
    saved = spark.conf.get(ADVISORY)
    try:
        spark.conf.set(ADVISORY, str(size // 3 + 1))  # three partitions
        assert shuffle_width(df) == 3
        spark.conf.set(ADVISORY, "1")
        assert shuffle_width(df) == cap
    finally:
        spark.conf.set(ADVISORY, saved)


def test_unknown_size_gets_shuffle_partitions(spark):
    """An RDD-backed frame reports spark.sql.defaultSizeInBytes: the
    width it would have without the guard."""
    rdd = spark.sparkContext.parallelize([("a", 1), ("b", 2)], 2)
    df = spark.createDataFrame(rdd, "k string, v int")
    assert shuffle_width(df) == _shuffle_partitions(spark)
    plan = _physical_plan(B.deduplicate(df, key="k", order_col="v"))
    assert "hashpartitioning(k#" in plan
    assert f", {_shuffle_partitions(spark)}), REPARTITION_BY_NUM" in plan


def test_streaming_frame_gets_shuffle_partitions(spark, raw_dir):
    stream = (spark.readStream.schema(RAW_SCHEMA).option("header", True)
              .csv(raw_dir))
    assert stream.isStreaming
    assert shuffle_width(stream) == _shuffle_partitions(spark)


def test_persisted_bronze_batch_is_scanned_by_one_task(spark, raw_dir):
    """The daily ETL caches its bronze batch; AQE cannot coalesce a
    cached plan's shuffle, so before the guard every scan of the batch
    ran spark.sql.shuffle.partitions tasks."""
    batch = B.run_bronze(read_raw(spark, raw_dir)).persist(
        StorageLevel.MEMORY_AND_DISK)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        n = batch.count()
        assert n == batch.select("txn_id").distinct().count()
        sc.setJobGroup("width-scan", "scan of the cached batch")
        try:
            assert batch.count() == n
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        stages = [tracker.getStageInfo(s)
                  for j in tracker.getJobIdsForGroup("width-scan")
                  for s in tracker.getJobInfo(j).stageIds]
        # a stage the job skipped (the cache's own lineage) ran no task
        ran = [s.numCompletedTasks for s in stages if s and s.numCompletedTasks]
        assert ran and max(ran) == 1, stages
    finally:
        batch.unpersist()
