"""Raw -> Bronze transforms (reference parity, corrected + scale-hardened).

Reference: src/glue_jobs/etl_transactions_bronze.py. Differences, each
deliberate (SURVEY.md §1.5):
  * transforms run in an ORDERED list (the reference folds a ``set``,
    :113-118 — nondeterministic iteration order);
  * ``normalise_strings`` actually fires (the reference's dtype check
    ``field.dataType == "string"`` is always False, :51-53 — a no-op; we
    implement the documented trim+upper semantics);
  * dedup keeps "latest txn_ts" like :61-80 but with a TOTAL ordering
    (txn_ts, then row digest) so ties are deterministic, and it is an
    aggregation (``max_by(struct)``) over one hash exchange sized from
    the batch's bytes, not a row_number window (see ``deduplicate``);
  * casts are ``try_*`` so malformed input lands as NULL for silver's
    validators instead of failing the job (Spark 4 ANSI mode throws on
    bad casts otherwise).
"""

from __future__ import annotations

from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from aws_payment_data_lake_spark.operators.spread import shuffle_width
from aws_payment_data_lake_spark.sources.writers import write_zone
from aws_payment_data_lake_spark.plans.schemas import AMOUNT_DECIMAL


def normalise_strings(df: DataFrame) -> DataFrame:
    """Trim + uppercase every string column (intended semantics of
    etl_transactions_bronze.py:41-58)."""
    string_cols = {f.name for f in df.schema.fields
                   if isinstance(f.dataType, T.StringType)}
    return df.select([
        F.upper(F.trim(F.col(c))).alias(c) if c in string_cols else F.col(c)
        for c in df.columns
    ])


def cast_dtypes(df: DataFrame) -> DataFrame:
    """amount -> Decimal(12,2), txn_ts -> timestamp
    (etl_transactions_bronze.py:24-38)."""
    return (
        df.withColumn("amount", F.col("amount").try_cast(AMOUNT_DECIMAL))
        .withColumn("txn_ts", F.try_to_timestamp(F.col("txn_ts")))
    )


def deduplicate(df: DataFrame, key: str = "txn_id",
                order_col: str = "txn_ts") -> DataFrame:
    """Latest-record-wins dedup per key (etl_transactions_bronze.py:61-80).

    Implemented as ``max_by(struct(all cols), struct(order, digest))``;
    the digest of the whole row breaks exact txn_ts ties stably (the
    deterministic tiebreak SURVEY.md §1.5.4 calls for), so the ordering
    is total and the result does not depend on partitioning.

    Plan (``explain()``): ``Exchange hashpartitioning(key, n)`` (Spark
    plans ``Exchange SinglePartition`` when n is 1), then a ``Sort`` on
    key and a partial and a final ``SortAggregate`` in the same stage —
    Spark plans ``max_by`` over structs as a sort aggregate, not a hash
    aggregate. The rows cross the exchange uncombined; each partition
    is sorted once, after the shuffle, as the reference's row_number
    window would be, but with no window buffer.

    The explicit ``repartition(n, key)`` comes before the ``groupBy`` so
    that ``n`` is ``shuffle_width(df)`` (the input's bytes over AQE's
    advisory partition size) rather than ``spark.sql.shuffle.partitions``.
    The aggregate reuses that hash partitioning, so it is still the one
    exchange, and AQE leaves an explicit count alone, so a caller that
    caches or checkpoints the result keeps the small width: every later
    scan of a cached day batch runs ``n`` tasks, not one per shuffle
    partition.
    """
    digest = F.xxhash64(*[F.col(c) for c in df.columns])
    payload = F.struct(*[F.col(c) for c in df.columns])
    ordering = F.struct(F.col(order_col).alias("o1"), digest.alias("o2"))
    return (
        df.repartition(shuffle_width(df), F.col(key))
        .groupBy(key)
        .agg(F.max_by(payload, ordering).alias("_row"))
        .select("_row.*")
    )


def derive_txn_date(df: DataFrame) -> DataFrame:
    """Partition column txn_date = date(txn_ts)
    (etl_transactions_bronze.py:83-94)."""
    return df.withColumn("txn_date", F.to_date(F.col("txn_ts")))


# Ordered pipeline — normalise on raw strings, then type, then dedup on
# typed rows, then derive the partition column.
BRONZE_TRANSFORMS = [normalise_strings, cast_dtypes, deduplicate, derive_txn_date]


def run_bronze(df: DataFrame) -> DataFrame:
    """Fold the ordered transform list (fixes etl_transactions_bronze.py:97-118)."""
    return reduce(lambda acc, fn: fn(acc), BRONZE_TRANSFORMS, df)


def write_bronze(df: DataFrame, path: str, mode: str = "overwrite",
                 fmt: str = "parquet") -> None:
    """Partitioned sink (S5). Default is idempotent dynamic overwrite —
    the reference's blind ``append`` (:130) duplicates data on re-run
    (SURVEY.md §1.5.3); pass mode="append" for strict parity, fmt="delta"
    for the transactional-append variant (gated; see sources.writers)."""
    write_zone(df, path, mode=mode, fmt=fmt)
