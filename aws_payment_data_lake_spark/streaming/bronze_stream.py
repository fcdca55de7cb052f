"""Streaming medallion ingest: raw CSV stream -> bronze MERGE sink.

The streaming twin of plans/bronze.py. The stateless transforms
(normalise/cast/derive) are REUSED verbatim — they are row-local
projections, legal in any streaming plan. Only dedup changes shape:

  batch  dedup = max_by(struct) per key over the whole batch
         ("latest txn_ts wins", reference etl_transactions_bronze.py:61-80)
  stream dedup = dropDuplicatesWithinWatermark(txn_id)
         ("first arrival wins", state bounded by the watermark)

"Latest wins" is UNKNOWABLE on an unbounded stream — a later record can
always arrive — so first-wins-within-watermark is the principled
streaming semantics; tests assert both drop the same duplicate keys.

The sink upserts every micro-batch into the bronze zone, so a replayed
batch leaves the zone unchanged: the property the reference approximated
with Glue job bookmarks (SURVEY.md §2.12 D1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from aws_payment_data_lake_spark.plans.bronze import (
    cast_dtypes,
    derive_txn_date,
    normalise_strings,
)
from aws_payment_data_lake_spark.plans.schemas import RAW_SCHEMA
from aws_payment_data_lake_spark.plans.upsert import upsert_bronze_partitions

DEFAULT_WATERMARK = "1 day"


def read_raw_stream(spark: SparkSession, raw_dir: str,
                    max_files_per_trigger: int | None = None) -> DataFrame:
    """Stream the raw zone: header CSVs under ingest_date= dirs, explicit
    schema (streams cannot infer)."""
    reader = (spark.readStream.schema(RAW_SCHEMA)
              .option("header", True).option("basePath", raw_dir))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(raw_dir)


def run_bronze_stream(raw: DataFrame,
                      watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Ordered bronze transforms, streaming dedup in place of the batch
    aggregation."""
    df = normalise_strings(raw)
    df = cast_dtypes(df)
    df = (df.withWatermark("txn_ts", watermark)
          .dropDuplicatesWithinWatermark(["txn_id"]))
    return derive_txn_date(df)


def start_bronze_upsert_sink(bronze: DataFrame, bronze_dir: str,
                             checkpoint_dir: str) -> StreamingQuery:
    """MERGE sink: every micro-batch is upserted into the bronze zone via
    the partition-scoped MERGE (plans/upsert.py) instead of appended as
    new files — the reference's bookmark-style incremental semantics
    (SURVEY.md §2.12 D1) with REPLAY idempotence on top. foreachBatch
    delivery is at-least-once: after a failure the same micro-batch can
    run again. This sink absorbs that through MERGE semantics — a
    replayed batch re-merges latest-wins on txn_id and leaves the zone's
    content unchanged, so EITHER kind of rerun (checkpoint recovery or a
    full re-ingest with a fresh checkpoint) never duplicates rows.

    The micro-batch is localCheckpoint()ed first: the MERGE reads and
    dynamically overwrites the target partitions, and a lazy batch plan
    still referencing the zone would dangle mid-overwrite
    (plans/upsert.py docstring). A micro-batch is bounded (maxFiles /
    trigger interval sized), so materializing it is cheap at any scale.
    """
    from pyspark.errors import AnalysisException

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch = batch_df.localCheckpoint()
        try:
            spark.read.parquet(bronze_dir).schema
            exists = True
        except AnalysisException:
            exists = False
        if exists:
            upsert_bronze_partitions(spark, bronze_dir, batch)
        else:
            (batch.write.partitionBy("txn_date")
             .mode("overwrite").parquet(bronze_dir))

    return (
        bronze.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
