"""Zone sink with a pluggable table format (SURVEY.md §4.1/§7.0).

Parquet everywhere by default; ``fmt="delta"`` selects Delta Lake for
ACID appends — the reference's blind ``append`` sink
(src/glue_jobs/etl_transactions_bronze.py:130) duplicates rows on job
retry, which a transactional format fixes at the storage layer instead
of via our dynamic-overwrite idempotence. The flag is gated on the
``delta-spark`` package at call time: this container does not ship it,
so selecting Delta raises immediately with the exact missing dependency
rather than failing deep inside the JVM (documented in COVERAGE.md).
"""

from __future__ import annotations

import importlib.util

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

SUPPORTED_FORMATS = ("parquet", "delta", "txn")


def delta_available() -> bool:
    """True when the delta-spark Python bindings are importable. The JVM
    side additionally needs spark.sql.extensions/catalog configured
    (see get_spark); both ship together in the delta-spark package."""
    return importlib.util.find_spec("delta") is not None


def write_zone(df: DataFrame, path: str, mode: str = "overwrite",
               partition_col: str = "txn_date", fmt: str = "parquet",
               files_per_partition: int | None = None,
               txn_app: str | None = None,
               txn_batch: int | None = None) -> None:
    """Partitioned zone sink (S5/S6/S7). Default is idempotent dynamic
    partition overwrite; pass mode="append" for reference parity (and
    prefer a transactional format with it).

    ``fmt="txn"`` routes through the engine's OWN ACID format
    (sources/txlog.py): appends become log commits — pass
    (``txn_app``, ``txn_batch``) and a retried job SKIPS its replayed
    append instead of duplicating rows, the exact failure the
    reference's blind append has
    (src/glue_jobs/etl_transactions_bronze.py:130). ``fmt="delta"``
    remains the declared external-dependency path, gated on the
    missing package.

    ``files_per_partition`` bounds output file count — the small-files
    control that matters at 100 TB: without it every shuffle task holding
    a partition value writes its own file, so a 1000-task stage emits up
    to 1000 tiny files PER date and the downstream scan drowns in footer
    reads and task-per-file overhead. A deterministic whole-row salt
    bounded to N values, repartitioned together with the partition
    column, lands each date's rows in at most N tasks -> at most N files
    per date directory. (The opposite problem — one oversized file — is
    spark.sql.files.maxRecordsPerFile's job; both compose.)
    """
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"fmt must be one of {SUPPORTED_FORMATS}, got {fmt!r}")
    if files_per_partition is not None:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                      F.lit(files_per_partition))
        df = (df.withColumn("_file_salt", salt)
              .repartition(F.col(partition_col), F.col("_file_salt"))
              .drop("_file_salt"))
    if fmt == "txn":
        from aws_payment_data_lake_spark.sources.txlog import TxnTable

        t = TxnTable(df.sparkSession, path)
        if not t.exists():
            t.create(df.limit(0), partition_by=[partition_col])
        if mode == "append":
            t.append(df, txn_app=txn_app, txn_batch=txn_batch,
                     partition_by=[partition_col])
        elif mode == "overwrite":
            t.overwrite(df, partition_by=[partition_col])
        else:
            raise ValueError(f"fmt='txn' supports append/overwrite, "
                             f"got mode={mode!r}")
        return
    if fmt == "delta" and not delta_available():
        raise RuntimeError(
            "fmt='delta' requires the delta-spark package (pip install "
            "delta-spark) and a session built with "
            "spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension; "
            "neither is present in this environment — use fmt='parquet' "
            "(dynamic-overwrite idempotence) instead."
        )
    writer = df.write.partitionBy(partition_col).format(fmt)
    if mode == "overwrite":
        writer = writer.option("partitionOverwriteMode", "dynamic").mode("overwrite")
    else:
        writer = writer.mode(mode)
    writer.save(path)


def read_zone(spark, path: str, fmt: str = "parquet") -> DataFrame:
    """Format-aware zone read-back. A txn table must be read through
    its log — a bare ``spark.read.parquet`` on the table root would
    sweep up data/ files from EVERY version, removed and orphaned
    ones included."""
    if fmt == "txn":
        from aws_payment_data_lake_spark.sources.txlog import TxnTable

        return TxnTable(spark, path).snapshot()
    return spark.read.parquet(path)
