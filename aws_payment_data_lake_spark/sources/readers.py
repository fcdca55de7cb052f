"""Table readers over the driver-provided parquet testdata.

Maps the reference's catalog scans (S1/S2: ``create_dynamic_frame
.from_catalog(...).toDF()``, etl_transactions_bronze.py:123-125 and
etl_transactions_silver.py:137-139) and its local parquet scans (S4,
transactions_silver_dev.ipynb cell-2) onto plain ``spark.read.parquet``.

Parquet scans get column pruning + predicate pushdown from Catalyst for
free; at 100 TB the same call works because partition discovery and file
listing are distributed. No ``inferSchema`` anywhere (determinism; also at
scale an inference pass is a full extra read of the data —
SURVEY.md §4.4).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def normalize_event_time(df: DataFrame) -> DataFrame:
    """Source-boundary rule: event-time columns are session-UTC
    ``TimestampType``, whatever the parquet footer says.

    The driver testdata has shipped ``events.ts`` in two physical shapes
    so far — TIMESTAMP(NANOS) (older) and timestamp[us] with no timezone
    (current), which Spark 4 reads as TIMESTAMP_NTZ. Downstream consumers
    need plain TIMESTAMP: ``withWatermark`` rejects NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) and JSON sinks silently format
    NTZ under ``timestampNTZFormat`` (millisecond default, truncating
    micros). Normalizing once here keeps every consumer — batch, stream,
    sinks — agnostic of the footer's type. Under the pinned UTC session
    the NTZ→LTZ cast is value-preserving, so oracle hashes are unchanged.
    """
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
        elif f.name == "ts" and isinstance(f.dataType, T.LongType):
            # legacy TIMESTAMP(NANOS) shape, read as long via
            # spark.sql.legacy.parquet.nanosAsLong: truncate to micros —
            # the same truncation DuckDB applies.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (parquet carries its own schema), with
    event-time columns normalized to session-UTC TimestampType
    (see ``normalize_event_time``)."""
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return normalize_event_time(df)


def load(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Read several tables at once: ``li, ord = load(spark, d, "lineitem", "orders")``."""
    return tuple(read_table(spark, sf_dir, n) for n in names)
