"""Shared parquet stream-source plumbing: ONE implementation of the
schema-from-footer read and the literal-file->glob rule, used by every
file-backed stream reader in the package. Extracted after two readers
drifted (int-vs-str trigger option, one-sided nanosAsLong handling) —
the quirky glob trick must exist exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def path_status(spark: SparkSession, path: str):
    """(FileSystem, FileStatus) of ``path``, looked up through the Hadoop
    FileSystem of the path, so a ``file:`` or object-store URI resolves
    the way a bare local path does."""
    jvm = spark.sparkContext._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, fs.getFileStatus(hpath)


def read_parquet_stream(spark: SparkSession, path: str,
                        max_files_per_trigger: int | None = None,
                        ) -> DataFrame:
    """File-source stream over a parquet file or directory. Streaming
    sources need an explicit schema — taken from the parquet footer
    (driver-side metadata read, no data scan).

    A literal FILE path is turned into a glob matching exactly that
    file (the file-stream source only accepts directories or globs).
    File vs directory is decided by ``path_status``, so a URI to a
    directory zone is a directory, not a file.
    ``max_files_per_trigger`` requires a DIRECTORY zone: combined with
    a single-file glob the source fails its basePath directory check
    deep inside Spark, so the incompatibility is rejected HERE with an
    error that says so."""
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    is_dir = path_status(spark, path)[1].isDirectory()
    if max_files_per_trigger is not None:
        if not is_dir:
            raise ValueError(
                f"max_files_per_trigger needs a directory zone; {path!r} "
                "is a single file (the file-stream source's basePath "
                "check rejects the combination with an obscure error)")
        reader = reader.option("maxFilesPerTrigger",
                               str(max_files_per_trigger))
    if not is_dir:
        path = f"{path[:-1]}[{path[-1]}]"
    return reader.parquet(path)
