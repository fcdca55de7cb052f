"""The ACID table as a STREAM SOURCE: `format("txlog_feed")` reads a
sources/txlog.py table as a structured stream of its commit log — the
Delta "table streaming / change data feed" capability (Armbrust et
al., VLDB 2020 §4.3) on the engine's own format, built on the Spark 4
Python Data Source API like the synthetic payments source
(pydatasource.py). Batch reads of the table are `format("txlog")`
(txlog_batch.py), the one reader that applies deletion vectors, time
travel and file skipping; a batch read of `txlog_feed` is refused with
a pointer there.

Stream semantics:
  * Offsets are LOG VERSIONS — `{"version": N}` means "commits < N
    processed". The log is append-only and commit files are immutable,
    so a replayed offset range re-reads byte-identical files:
    exactly-once content with any idempotent sink, with zero
    source-side state beyond the checkpointed offset.
  * Each micro-batch emits the rows ADDED by the commits in its
    version range, tagged `_commit_version`. Layout-only commits
    (compact / optimize) are SKIPPED — their adds rewrite existing
    rows without changing content (Delta's dataChange=false), and a
    feed that re-emitted the whole table after every OPTIMIZE would be
    useless. Merge/delete rewrites do re-emit surviving rows of
    touched files (the same rewrite amplification Delta CDF has
    without row tracking; documented, bounded by file granularity).
  * `startingVersion` picks up mid-log (default 0 = full history).
  * `maxFilesPerTrigger` (round 12, Delta's rate limit) bounds the
    FILES one micro-batch plans (adds; cdc images / DV pre-image
    parts under readChangeFeed) — a burst of commits drains as many
    bounded batches under a processing-time trigger (availableNow
    snapshots one bounded batch per run: the Python DS API has no
    prepareForTriggerAvailableNow hook). The FIRST batch of a
    query's life is always unbounded: Spark asks for the latest
    offset before revealing any start offset (probed: latest ->
    initial -> latest), and a bounded answer computed blind could
    regress below a restart's checkpoint and re-deliver committed
    rows — correctness beats smoothing for one batch.

Scale: planning reads only the commit JSONs in the version range
(driver-side metadata, ~KB per commit); each ADDED FILE becomes one
input partition, so read parallelism is file-granular exactly like a
native parquet scan, and executors read parquet via Arrow with no
Python row loop."""

from __future__ import annotations

import os
from collections.abc import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import LongType, StructField, StructType

from aws_payment_data_lake_spark.sources.txlog import TxnTable, _feed_plan

SOURCE_NAME = "txlog_feed"


class _FilePart(InputPartition):
    def __init__(self, path: str, version: int,
                 schema_json: str | None = None,
                 mapping: dict | None = None,
                 kind: str = "add", cdf: bool = False,
                 dv_paths: list[str] | None = None,
                 dv_key: str = "") -> None:
        self.path = path
        self.version = version
        self.schema_json = schema_json
        self.mapping = mapping or {}
        # kind: 'add' (an added data file), 'cdc' (a write-side change
        # image file — physical names + _change_type), or 'dv_dead'
        # (a RAW target file whose sidecar dead positions are the
        # delete pre-images). cdf=True keeps _change_type in the
        # output (readChangeFeed mode).
        self.kind = kind
        self.cdf = cdf
        self.dv_paths = dv_paths or []
        self.dv_key = dv_key           # log key the sidecars target


def reconcile_arrow(table, schema_json: str | None, mapping: dict):
    """RECONCILE one staged parquet file's Arrow table to a declared
    head schema — what lets one pinned schema span the table's whole
    history: physical file columns alias back to logical names
    (column mapping), columns a file predates null-fill, retired
    physical columns drop, and safely-widened types (int32 under a
    bigint schema) Arrow-cast up — the same upcasts the pinned-schema
    batch scan performs. An impossible cast fails loudly. Shared by
    the stream feed, the batch `format("txlog")` reader and the
    stream writer's derived-column typing."""
    import json as _json

    import pyarrow as pa

    if not schema_json:
        return table
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructType as _ST

    declared = _ST.fromJson(_json.loads(schema_json))
    names, cols = [], []
    for f in declared.fields:
        at = to_arrow_type(f.dataType)
        if pa.types.is_timestamp(at) and at.tz is None:
            at = pa.timestamp(at.unit, tz="UTC")
        phys = (mapping or {}).get(f.name, f.name)
        if phys in table.column_names:
            col = table.column(phys)
            if col.type != at:
                col = col.cast(at)       # safe widenings; else raises
        else:
            col = pa.nulls(table.num_rows, type=at)
        names.append(f.name)
        cols.append(col)
    return pa.table(cols, names=names)


def dead_positions(sidecars: list[str], key: str):
    """Sorted int64 Arrow array of the row positions the deletion-vector
    ``sidecars`` mark dead in the file logged as ``key``. Shared by the
    snapshot reader (drops them) and the feed's delete pre-images
    (keeps only them)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dead = set()
    for f in sidecars:
        dv = pq.read_table(f, columns=["target", "pos"])
        m = pc.equal(dv.column("target"), pa.scalar(key))
        dead.update(dv.filter(m).column("pos").to_pylist())
    return pa.array(sorted(dead), type=pa.int64())


def _read_file_batches(part: _FilePart) -> Iterator:
    """One staged parquet file -> Arrow batches reconciled to the
    feed's declared schema + the constant _commit_version column
    (+ _change_type under readChangeFeed)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    raw = pq.read_table(part.path)
    types = None
    if part.kind == "cdc":
        # write-side change images (physical names, reconciled below
        # like any table file); plain mode keeps the legacy "rows the
        # commit added" contract
        types = raw.column("_change_type")
        raw = raw.drop_columns(["_change_type"])
        if not part.cdf:
            keep = pc.is_in(types, value_set=pa.array(
                ["insert", "update_postimage"]))
            raw, types = raw.filter(keep), None
    elif part.kind == "dv_dead":
        # delete pre-images: the sidecars' dead positions of THIS file
        idx = pa.array(range(raw.num_rows), type=pa.int64())
        raw = raw.filter(pc.is_in(idx, value_set=dead_positions(
            part.dv_paths, part.dv_key)))
        types = pa.array(["delete"] * raw.num_rows)
    table = reconcile_arrow(raw, part.schema_json, part.mapping)
    if part.cdf:
        if part.kind == "cdc" and types is not None:
            ct = types
            if isinstance(ct, pa.ChunkedArray):
                ct = ct.combine_chunks()
        elif part.kind == "dv_dead":
            ct = types
        else:
            ct = pa.array(["insert"] * table.num_rows)
        table = table.append_column("_change_type", ct)
    col = pa.array([part.version] * table.num_rows, type=pa.int64())
    table = table.append_column("_commit_version", col)
    yield from table.to_batches()


class _Log:
    """Driver-side log inspector of the stream reader (TxnTable's
    filesystem half; no SparkSession needed)."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("txlog_feed requires .option('path', ...)")
        self.table = TxnTable(None, path)

    def commit_adds(self, lo: int, hi: int,
                    cdf: bool = False) -> list[_FilePart]:
        """File partitions for commits in [lo, hi), skipping
        layout-only ops. Every partition carries the HEAD schema +
        column mapping so read-side reconciliation aliases physical
        names and null-fills/upcasts historical files.

        ``cdf`` (Delta's readChangeFeed): rows carry _change_type.
        Which files each commit contributes is the shared change-feed
        policy (``txlog._feed_plan``); cdc files spell PHYSICAL names
        like every table file, so they reconcile like adds."""
        snap = self.table._replay()
        root = self.table.path
        parts: list[_FilePart] = []
        for v, c in self.table._commits(
                x for x in self.table._versions_on_disk() if lo <= x < hi):
            for ff in _feed_plan(c, cdf):
                parts.append(_FilePart(
                    os.path.join(root, ff.path), v, snap.schema_json,
                    dict(snap.column_mapping), kind=ff.kind, cdf=cdf,
                    dv_paths=[os.path.join(root, f) for f in ff.sidecars],
                    dv_key=ff.path if ff.kind == "dv_dead" else ""))
        return parts

    def schema(self, cdf: bool = False) -> StructType:
        from pyspark.sql.types import StringType
        base = self.table._replay().schema or StructType([])
        extra = ([StructField("_change_type", StringType())]
                 if cdf else [])
        return StructType(list(base.fields) + extra
                          + [StructField("_commit_version", LongType())])


class _FeedStreamReader(DataSourceStreamReader):
    """Stream legs always reconcile to the CURRENT HEAD schema (see
    _read_file_batches), which equals the schema Spark pinned at
    query start for as long as no schema change lands mid-stream.
    A mid-stream change makes the reconciled batches disagree with
    the pinned schema, failing the query once — and a RESTART always
    recovers: the re-pinned schema and the reconcile target are both
    the new head, and every historical file (pre-evolution, renamed,
    narrower types) replays under it via null-fill/alias/upcast. The
    restart-heals contract is test-pinned; offsets stay the plain
    {'version': n} cursor, so existing checkpoints keep working."""

    def __init__(self, options: dict) -> None:
        self.options = options
        self.start = int(options.get("startingVersion", 0))
        self.cdf = str(options.get("readChangeFeed", "false")
                       ).lower() == "true"
        # Delta's maxFilesPerTrigger (rate limiting): bound how many
        # ADDED FILES one micro-batch may plan, so a backfill over a
        # long history runs as many bounded batches instead of one
        # giant first batch — the knob that keeps executor working
        # sets flat when a stream starts 10k commits behind.
        # NOTE: drain a rate-limited backlog with a processing-time
        # trigger; trigger(availableNow) snapshots latestOffset once
        # for a Python data source (no prepareForTriggerAvailableNow
        # hook), so it stops after ONE bounded batch per run.
        self.max_files = int(options.get(
            "maxfilespertrigger", options.get("maxFilesPerTrigger", 0)
        ) or 0)
        self._last_end = None      # highest offset this reader issued
        self._floor = None         # progress learned from Spark
        #                            (initialOffset or partitions())

    def initialOffset(self) -> dict:
        self._floor = max(self._floor or 0, self.start)
        return {"version": self.start}

    def latestOffset(self) -> dict:
        log = _Log(self.options)
        vs = log.table._versions_on_disk()
        head_next = (vs[-1] + 1) if vs else self.start
        if not self.max_files:
            return {"version": head_next}
        if self._floor is None:
            # The FIRST latestOffset of a reader's life arrives before
            # Spark reveals any start offset (probed on 4.1: latest ->
            # initial -> latest on a fresh stream; on a RESTART
            # initialOffset is never called). An offset computed blind
            # from startingVersion could REGRESS below a restart's
            # checkpoint, poisoning the offset WAL into re-delivering
            # committed commits — so the first answer is always the
            # unbounded head (safe: >= every possible checkpoint),
            # and throttling begins once partitions()/initialOffset
            # teach us the real floor.
            return {"version": head_next}
        lo = max(self._last_end or 0, self._floor)
        if lo >= head_next:
            return {"version": head_next}
        bounded, files = lo, 0
        for v, c in log.table._commits(x for x in vs if x >= lo):
            # count what commit_adds will plan for the batch
            n = len(_feed_plan(c, self.cdf))
            if files and files + n > self.max_files:
                break              # cap reached — but never starve:
            files += n             # at least one commit per batch
            bounded = v + 1
        self._last_end = max(self._last_end or 0, bounded)
        return {"version": bounded}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        # checkpointed progress floors the throttle counter, so a
        # RESTARTED rate-limited reader resumes counting from the
        # checkpoint instead of re-walking from startingVersion
        self._floor = max(self._floor or 0, int(start["version"]))
        parts = _Log(self.options).commit_adds(int(start["version"]),
                                               int(end["version"]),
                                               cdf=self.cdf)
        # Spark requires >= 1 partition per batch; empty ranges (e.g.
        # a version window holding only layout-only commits) emit a
        # no-op sentinel
        return parts or [_FilePart("", -1)]

    def read(self, partition: _FilePart) -> Iterator:
        if partition.version < 0:
            return
        yield from _read_file_batches(partition)

    def commit(self, end: dict) -> None:
        pass                            # offsets live in the checkpoint


class TxlogFeedDataSource(DataSource):
    """`spark.readStream.format("txlog_feed")`, options: path
    (required), startingVersion, maxFilesPerTrigger (rate limit),
    readChangeFeed (Delta's streaming CDF: rows carry _change_type;
    commits with write-side cdc images stream them verbatim, DV
    deletes stream their pre-images). Schema = table schema
    [+ _change_type] + _commit_version."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> StructType:
        return _Log(self.options).schema(
            cdf=str(self.options.get("readChangeFeed", "false")
                    ).lower() == "true")

    def reader(self, schema):
        # batch reads have ONE home, format("txlog"), which applies
        # deletion vectors; a second batch reader here would not
        if str(self.options.get("readChangeFeed", "false")
               ).lower() == "true":
            raise ValueError(
                "readChangeFeed is a STREAMING option on txlog_feed "
                "(spark.readStream); for batch change queries use "
                "table_changes('t', start[, end]) through "
                "LakehouseCatalog.sql or TxnTable.changes()")
        raise ValueError(
            "txlog_feed is a STREAMING source (spark.readStream); read "
            "the table in batch with spark.read.format('txlog') "
            "(txlog_batch.read_txlog), or its changes with "
            "TxnTable.changes()")

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _FeedStreamReader(self.options)


def register_txlog_feed(spark: SparkSession) -> None:
    """Idempotent per-session registration."""
    spark.dataSource.register(TxlogFeedDataSource)


def stream_table_feed(spark: SparkSession, path: str,
                      starting_version: int = 0,
                      read_change_feed: bool = False):
    """Stream: every future (and, from startingVersion, past) commit's
    added rows as micro-batches; ``read_change_feed`` adds
    _change_type (Delta's streaming CDF)."""
    register_txlog_feed(spark)
    return (spark.readStream.format(SOURCE_NAME)
            .option("path", path)
            .option("readChangeFeed", str(read_change_feed).lower())
            .option("startingVersion", str(starting_version)).load())
