"""Kafka-semantics streaming source (`format("payments_queue")`): the
reference's declared Kinesis/Kafka upgrade path
(/root/reference/README.md "Potential Upgrades") closed to within the
transport. No broker ships in this container, so the commit log lives
as files — but everything Spark-visible IS the Kafka contract:

  * **Output schema** is byte-for-byte Spark's Kafka source schema:
    `key binary, value binary, topic string, partition int,
    offset long, timestamp timestamp, timestampType int`.
  * **Offsets** are per-(topic,partition) monotone longs; the stream's
    checkpointed offset is the same `{"topic": {"0": nextOffset}}`
    JSON shape Kafka uses, so `startingOffsets` accepts
    `"earliest"` / `"latest"` / explicit JSON, and batch reads honor
    `endingOffsets` the same way.
  * **`maxOffsetsPerTrigger`** rate-limits each micro-batch, spread
    across partitions proportionally to lag (Kafka's policy).
  * **Segments are immutable once published** (tmp + atomic rename),
    so a replayed offset range re-reads byte-identical records:
    exactly-once content with any idempotent sink — and composing with
    `txn_foreach_batch` (sources/txlog.py) gives the queue -> ACID
    table pipeline Delta documents for Kafka, end-to-end exactly-once,
    with zero source-side state beyond the checkpoint.

Swapping in a real broker changes ONLY `_segments`/`_read_segment`
(list offsets + poll instead of listdir + read): planning, offsets,
rate limiting, schema, and every downstream pipeline stay untouched.
Kinesis maps onto the same surface (shard = partition, sequence
number = offset, TRIM_HORIZON/LATEST = earliest/latest).

Storage layout (one dir per topic-partition, append-only segments):

    <dir>/<topic>/p<partition>/<start:020d>-<count:08d>.jsonl

Segment filenames carry (start offset, record count), so stream
PLANNING never opens a data file — latestOffset is a directory
listing, exactly the metadata-not-data cost a 100 TB log needs (the
same posture as txlog checkpointed replay). Records are JSON lines
`{"o": offset, "t": ts_ms, "k": b64|null, "v": b64}`; key/value are
base64 so arbitrary BYTES round-trip — the source emits them as Arrow
binary columns, executors decode segments in one pass with no Python
row loop downstream.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import time
import uuid
from collections.abc import Iterator
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SOURCE_NAME = "payments_queue"

QUEUE_SCHEMA_DDL = (
    "key binary, value binary, topic string, partition int, "
    "offset bigint, timestamp timestamp, timestampType int")

_CREATE_TIME = 1           # Kafka TimestampType.CREATE_TIME
_EPOCH_2024_MS = 1_704_067_200_000


# ---------------------------------------------------------------------------
# Producer side (the test/demo "broker"): append-only immutable segments
# ---------------------------------------------------------------------------

def _b64(s: bytes | str | None) -> str | None:
    if s is None:
        return None
    if isinstance(s, str):
        s = s.encode()
    return base64.b64encode(s).decode()


def _partition_for(key: bytes | str | None, idx: int, parts: int) -> int:
    """Kafka's sticky semantics, deterministically: keyed records hash
    (stable md5, not Python's salted hash), keyless round-robin by
    record index within the produce call."""
    if key is None:
        return idx % parts
    k = key.encode() if isinstance(key, str) else key
    return int(hashlib.md5(k).hexdigest()[:15], 16) % parts


def locked_json_update(path: str, update, timeout_s: float = 10.0,
                       stale_s: float = 30.0):
    """Serialize a read-modify-write of a shared JSON file with an
    O_CREAT|O_EXCL lock file — the fix for the last-writer-wins race
    an unlocked read/merge/rename pattern has when two writers update
    DIFFERENT keys concurrently (ADVICE r8: consumer-group offset
    commits; pacing-floor merges shared by two queries in one group).

    ``update(cur: dict) -> dict | None`` receives the current JSON
    (``{}`` if absent/corrupt) and returns the new content, or None to
    skip the write (stale monotone commit). The write itself stays
    tmp+rename, so READERS never need the lock — they see either the
    old or the new complete file. Locks older than ``stale_s`` are
    presumed crashed and stolen. At broker scale this whole file is an
    OffsetCommit RPC; the lock is the filesystem stand-in for the
    coordinator's serialization.

    Steal safety (ADVICE r9): a LIVE holder merely paused past
    stale_s (GC, NFS stall) must not interleave with the stealer and
    clobber its commit. Each holder writes a unique token into the
    lock at acquisition and RE-VERIFIES ownership immediately before
    the final os.replace; finding the token gone (stolen) discards
    the computed update and re-runs the whole read-modify-write under
    a fresh lock — monotone updates then see the stealer's commit in
    ``cur`` and return None. Verification also refreshes the lock
    mtime, so after a successful check the replace runs with a full
    fresh stale_s of protection; release unlinks only a lock that
    still holds our token."""
    lock = path + ".lock"
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    deadline = time.monotonic() + timeout_s
    while True:
        token = uuid.uuid4().hex
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.fsync(fd)
                break
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > stale_s:
                        # crashed holder: steal by RENAME, not unlink —
                        # rename moves exactly ONE inode, so of two
                        # concurrent stealers only one succeeds and
                        # neither can ever remove a FRESH lock another
                        # stealer just created (the unlink variant
                        # could: A checks stale, B steals + re-locks,
                        # A unlinks B's new lock -> two holders)
                        grave = lock + f".stale-{uuid.uuid4().hex}"
                        os.rename(lock, grave)  # own the old inode now
                        os.unlink(grave)
                        continue
                except OSError:
                    continue             # holder released mid-check
                if time.monotonic() > deadline:
                    raise TimeoutError(f"gave up acquiring {lock} "
                                       f"after {timeout_s}s")
                time.sleep(0.01)

        def _owns() -> bool:
            try:
                with open(lock) as lf:
                    return lf.read() == token
            except OSError:
                return False

        stolen = False
        try:
            try:
                with open(path) as f:
                    cur = json.load(f)
            except (OSError, json.JSONDecodeError):
                cur = {}
            new = update(cur)
            if new is not None:
                tmp = path + f".tmp-{uuid.uuid4().hex}"
                with open(tmp, "w") as f:
                    json.dump(new, f)
                if _owns():
                    os.utime(lock)       # fresh stale_s for the swap
                    os.replace(tmp, path)
                else:                    # paused past stale_s: stolen
                    stolen = True
                    os.unlink(tmp)
        finally:
            os.close(fd)
            if _owns():
                try:
                    os.unlink(lock)
                except OSError:
                    pass
        if not stolen:
            return new
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"lock {lock} stolen mid-update and re-acquire "
                f"deadline passed ({timeout_s}s)")
        # loop: re-acquire and re-run update against the stealer's state


def _tp_dir(queue_dir: str, topic: str, p: int) -> str:
    return os.path.join(queue_dir, topic, f"p{p}")


def _segments(tp_dir: str) -> list[tuple[int, int, str]]:
    """Sorted (start_offset, count, path) from filenames alone."""
    if not os.path.isdir(tp_dir):
        return []
    out = []
    for name in os.listdir(tp_dir):
        if not name.endswith(".jsonl") or name.startswith("."):
            continue
        start, count = name[:-len(".jsonl")].split("-")
        out.append((int(start), int(count), os.path.join(tp_dir, name)))
    return sorted(out)


def _offset_bounds(tp_dir: str) -> tuple[int, int]:
    """(earliest, next) for one topic-partition — a directory listing."""
    segs = _segments(tp_dir)
    if not segs:
        return 0, 0
    return segs[0][0], segs[-1][0] + segs[-1][1]


def produce(queue_dir: str, topic: str, records: list[dict],
            num_partitions: int = 4) -> dict[int, tuple[int, int]]:
    """Append `records` (dicts with "value", optional "key"/"ts_ms") to
    `topic`, one immutable segment per touched partition, offsets
    continuing per partition. Returns {partition: (start, count)}.
    Single producer per topic assumed (a broker's leader serializes
    writes the same way); atomic rename publishes each segment."""
    by_part: dict[int, list[dict]] = {}
    for idx, rec in enumerate(records):
        p = rec.get("partition")
        if p is None:
            p = _partition_for(rec.get("key"), idx, num_partitions)
        by_part.setdefault(int(p), []).append(rec)

    out: dict[int, tuple[int, int]] = {}
    for p, recs in sorted(by_part.items()):
        tp = _tp_dir(queue_dir, topic, p)
        os.makedirs(tp, exist_ok=True)
        _, nxt = _offset_bounds(tp)
        lines = []
        for j, rec in enumerate(recs):
            ts = int(rec.get("ts_ms", _EPOCH_2024_MS + nxt + j))
            lines.append(json.dumps({
                "o": nxt + j, "t": ts,
                "k": _b64(rec.get("key")), "v": _b64(rec["value"])}))
        tmp = os.path.join(tp, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        final = os.path.join(tp, f"{nxt:020d}-{len(recs):08d}.jsonl")
        os.rename(tmp, final)
        out[p] = (nxt, len(recs))
    return out


def produce_distributed(df, queue_dir: str, topic: str,
                        num_partitions: int = 4) -> dict[int, int]:
    """Partition-parallel producer (VERDICT r9 #6): publish a
    DataFrame of keyed records into the queue WITHOUT collecting them
    to the driver — the broker stand-in itself now scales with the
    slice. ``df`` columns: ``key`` (string, required non-null — CDC
    records are keyed by contract), ``value`` (string).

    Shape = a two-phase commit, like the txlog writers':

      * the driver reads each queue partition's next offset ONCE
        (single-producer-per-topic contract, same as ``produce``);
      * executors — one task per queue partition, via the same md5
        keyed routing computed JVM-side — write their partition's
        segment CONTENT (final offsets, deterministic key order) to a
        hidden staged name and return (qpart, staged, n) through
        ``mapInPandas`` (no RDD API, no row UDFs);
      * the driver COMMITS by renaming exactly the staged files the
        successful attempt reported — a retried task's abandoned
        stage is invisible to readers (dot-file) and swept here.

    A crash between per-partition renames leaves a prefix committed;
    re-producing may then duplicate those rows — the same posture as
    ``produce`` (the CDC apply is last-event-per-key, so replays
    converge). Returns {partition: records_published}."""
    import pyspark.sql.functions as F

    base: dict[int, int] = {}
    for p in range(num_partitions):
        base[p] = _offset_bounds(_tp_dir(queue_dir, topic, p))[1]

    qpart = (F.conv(F.substring(F.md5("key"), 1, 15), 16, 10)
             .cast("long") % num_partitions).cast("int")
    routed = (df.select(qpart.alias("qpart"),
                        F.col("key").cast("string").alias("key"),
                        F.col("value").cast("string").alias("value"))
              .repartition(num_partitions, "qpart"))

    qdir, tpc, bases, epoch = queue_dir, topic, dict(base), _EPOCH_2024_MS

    def _write(batches):
        import json as _json
        import os as _os
        import uuid as _uuid

        import pandas as _pd

        parts = list(batches)
        if not parts:
            return
        pdf = _pd.concat(parts, ignore_index=True)
        if pdf.empty:
            return
        if pdf["key"].isna().any():
            raise ValueError("produce_distributed requires non-null "
                             "keys (keyed CDC contract)")
        for p, grp in pdf.groupby("qpart", sort=True):
            grp = grp.sort_values("key", kind="mergesort")
            tp = _tp_dir(qdir, tpc, int(p))
            _os.makedirs(tp, exist_ok=True)
            nxt = bases[int(p)]
            lines = []
            for j, (k, v) in enumerate(zip(grp["key"], grp["value"])):
                lines.append(_json.dumps({
                    "o": nxt + j, "t": epoch + nxt + j,
                    "k": _b64(k), "v": _b64(v)}))
            staged = _os.path.join(tp, f".staged-{_uuid.uuid4().hex}")
            with open(staged, "w") as f:
                f.write("\n".join(lines) + "\n")
            yield _pd.DataFrame({"qpart": [int(p)],
                                 "n": [len(lines)],
                                 "staged": [staged]})

    staged = (routed.mapInPandas(
        _write, schema="qpart int, n long, staged string").collect())
    out: dict[int, int] = {}
    for r in staged:
        p, n = int(r["qpart"]), int(r["n"])
        final = os.path.join(_tp_dir(queue_dir, topic, p),
                             f"{base[p]:020d}-{n:08d}.jsonl")
        os.replace(r["staged"], final)      # the commit point
        out[p] = n
    for p in range(num_partitions):         # sweep abandoned stages
        tp = _tp_dir(queue_dir, topic, p)
        if os.path.isdir(tp):
            for name in os.listdir(tp):
                if name.startswith(".staged-"):
                    try:
                        os.remove(os.path.join(tp, name))
                    except OSError:
                        pass
    return out


# ---------------------------------------------------------------------------
# Offset-map helpers (the Kafka {"topic": {"partition": offset}} shape)
# ---------------------------------------------------------------------------

def _topics(options: dict) -> list[str]:
    sub = options.get("subscribe")
    if not sub:
        raise ValueError(
            "payments_queue requires .option('subscribe', 'topic[,topic]')")
    return [t.strip() for t in sub.split(",") if t.strip()]


def _partitions_of(queue_dir: str, topic: str) -> list[int]:
    tdir = os.path.join(queue_dir, topic)
    if not os.path.isdir(tdir):
        return []
    return sorted(int(d[1:]) for d in os.listdir(tdir)
                  if d.startswith("p") and d[1:].isdigit())


def _snapshot(queue_dir: str, topics: list[str],
              which: str) -> dict[str, dict[str, int]]:
    """Current earliest/latest offset map, Kafka JSON shape (partition
    keys are strings — that is what Kafka's offset JSON does too)."""
    out: dict[str, dict[str, int]] = {}
    for t in topics:
        out[t] = {}
        for p in _partitions_of(queue_dir, t):
            lo, hi = _offset_bounds(_tp_dir(queue_dir, t, p))
            out[t][str(p)] = lo if which == "earliest" else hi
    return out


def _resolve_offsets(queue_dir: str, topics: list[str], spec: str,
                     default: str) -> dict[str, dict[str, int]]:
    spec = (spec or default).strip()
    if spec in ("earliest", "latest"):
        return _snapshot(queue_dir, topics, spec)
    explicit = json.loads(spec)
    base = _snapshot(queue_dir, topics, "earliest")
    for t, parts in explicit.items():
        base.setdefault(t, {}).update(
            {str(p): int(o) for p, o in parts.items()})
    return base


# ---------------------------------------------------------------------------
# Readers
# ---------------------------------------------------------------------------

class _SegSlice(InputPartition):
    """One segment file clipped to [lo, hi) — the unit of read
    parallelism (file-granular, like a native parquet scan)."""

    def __init__(self, path: str, topic: str, part: int,
                 lo: int, hi: int) -> None:
        self.path = path
        self.topic = topic
        self.part = part
        self.lo = lo
        self.hi = hi


def _plan(queue_dir: str, start: dict, end: dict) -> list[_SegSlice]:
    slices: list[_SegSlice] = []
    for t, parts in end.items():
        for p_str, hi in parts.items():
            p = int(p_str)
            lo = int(start.get(t, {}).get(p_str, 0))
            if hi <= lo:
                continue
            for seg_start, count, path in _segments(_tp_dir(queue_dir, t, p)):
                s_lo, s_hi = max(lo, seg_start), min(hi, seg_start + count)
                if s_lo < s_hi:
                    slices.append(_SegSlice(path, t, p, s_lo, s_hi))
    return slices


def _read_slice(sl: _SegSlice) -> Iterator[Any]:
    """Decode one segment slice into a single Arrow RecordBatch of the
    Kafka schema (columnar across the Python->JVM boundary)."""
    import pyarrow as pa

    keys, vals, offs, ts = [], [], [], []
    with open(sl.path) as f:
        for line in f:
            r = json.loads(line)
            if not sl.lo <= r["o"] < sl.hi:
                continue
            keys.append(base64.b64decode(r["k"]) if r["k"] else None)
            vals.append(base64.b64decode(r["v"]))
            offs.append(r["o"])
            ts.append(r["t"] * 1000)          # ms -> us
    n = len(offs)
    if not n:
        return
    yield pa.RecordBatch.from_arrays(
        [pa.array(keys, pa.binary()), pa.array(vals, pa.binary()),
         pa.array([sl.topic] * n, pa.string()),
         pa.array([sl.part] * n, pa.int32()),
         pa.array(offs, pa.int64()),
         pa.array(ts, pa.timestamp("us", tz="UTC")),
         pa.array([_CREATE_TIME] * n, pa.int32())],
        names=["key", "value", "topic", "partition", "offset",
               "timestamp", "timestampType"])


class _QueueBatchReader(DataSourceReader):
    """Batch mode: [startingOffsets, endingOffsets), Kafka defaults
    (earliest -> latest), resolved at planning time."""

    def __init__(self, options: dict) -> None:
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("payments_queue requires .option('path', ...)")
        self.topics = _topics(options)
        self.start = _resolve_offsets(
            self.dir, self.topics,
            options.get("startingoffsets") or options.get("startingOffsets"),
            "earliest")
        self.end = _resolve_offsets(
            self.dir, self.topics,
            options.get("endingoffsets") or options.get("endingOffsets"),
            "latest")

    def partitions(self) -> list[InputPartition]:
        return (_plan(self.dir, self.start, self.end)
                or [_SegSlice("", "", -1, 0, 0)])

    def read(self, partition: _SegSlice) -> Iterator:
        if partition.part < 0:
            return
        yield from _read_slice(partition)


class _QueueStreamReader(DataSourceStreamReader):
    """Micro-batch twin. latestOffset advances to the current log end,
    clipped by maxOffsetsPerTrigger spread across partitions
    proportionally to lag (Kafka's rate-limit policy). Offsets live in
    the checkpoint; segments are immutable, so any replayed range is
    byte-identical."""

    def __init__(self, options: dict) -> None:
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("payments_queue requires .option('path', ...)")
        self.topics = _topics(options)
        self.starting = (options.get("startingoffsets")
                         or options.get("startingOffsets"))
        cap = (options.get("maxoffsetspertrigger")
               or options.get("maxOffsetsPerTrigger"))
        self.cap = int(cap) if cap else None
        self.group = (options.get("consumergroup")
                      or options.get("consumerGroup") or "default")
        self._pos: dict[str, dict[str, int]] | None = None

    # Durable consumer position (Kafka's consumer-group offsets). The
    # reader object is PICKLED to a Python runner and any call may land
    # on a fresh unpickle of the post-__init__ snapshot, so in-memory
    # pacing state can silently reset mid-run — a rate-limited
    # latestOffset paced from the reset state then returns an end
    # BELOW an end already recorded in Spark's offset WAL, the WAL
    # regresses, and the next batch re-emits delivered rows (observed:
    # 90-message drain delivered 156). commit() therefore persists the
    # element-wise max of committed ends per (queue, group); pacing
    # never starts below that floor, making returned ends monotone
    # across instance churn AND checkpointed restarts.
    def _floor_path(self) -> str:
        return os.path.join(self.dir, ".consumers", f"{self.group}.json")

    def _read_floor(self) -> dict[str, dict[str, int]]:
        try:
            with open(self._floor_path()) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}

    def _merge_floor(self, end: dict) -> None:
        # element-wise-max merge under the group lock: two queries
        # sharing a consumer_group (docstring-permitted) commit
        # concurrently without one regressing the other's pacing
        # floor — an unlocked read-merge-rename loses the slower
        # writer's partitions (ADVICE r8)
        def merge(cur: dict) -> dict | None:
            changed = False
            for t, ps in end.items():
                for p, o in ps.items():
                    if int(o) > cur.setdefault(t, {}).get(p, 0):
                        cur[t][p] = int(o)
                        changed = True
            return cur if changed else None

        locked_json_update(self._floor_path(), merge)

    def initialOffset(self) -> dict:
        self._pos = _resolve_offsets(self.dir, self.topics,
                                     self.starting, "earliest")
        return self._pos

    def _lift(self, floor: dict) -> None:
        """Raise _pos to at least `floor` per partition. Spark hands
        the CHECKPOINTED start to partitions() on every batch; lifting
        _pos to it there means a restarted, rate-limited stream resumes
        from the true position instead of crawling up from
        startingOffsets through empty batches (and lag spreading is
        computed against the right base)."""
        if self._pos is None:
            self._pos = {}
        for t, ps in floor.items():
            for p, o in ps.items():
                if o > self._pos.setdefault(t, {}).get(p, 0):
                    self._pos[t][p] = o

    def latestOffset(self) -> dict:
        cur = _snapshot(self.dir, self.topics, "latest")
        if self.cap is None:
            self._pos = cur            # the true log end: always safe
            return cur
        if self._pos is None:
            # fresh instance (start, restart, or mid-run unpickle):
            # pace from startingOffsets lifted to the durable group
            # floor — deterministic, so concurrent/successive
            # instances return the SAME end until a commit moves the
            # floor; never below any WAL-recorded end
            self._pos = _resolve_offsets(self.dir, self.topics,
                                         self.starting, "earliest")
        self._lift(self._read_floor())
        lag = {(t, p): cur[t][p] - self._pos.get(t, {}).get(p, 0)
               for t in cur for p in cur[t]
               if cur[t][p] > self._pos.get(t, {}).get(p, 0)}
        total = sum(lag.values())
        if total > self.cap:
            # proportional-to-lag spread; every lagging partition gets
            # >= 1 so no partition starves (Kafka's behavior)
            nxt = {t: dict(ps) for t, ps in self._pos.items()}
            for (t, p), lg in sorted(lag.items()):
                take = max(1, (self.cap * lg) // total)
                base = nxt.setdefault(t, {}).get(p, 0)
                nxt[t][p] = min(base + take, cur[t][p])
            self._pos = nxt
        else:
            self._pos = cur
        return self._pos

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        self._lift(start)       # checkpointed start = true floor
        return (_plan(self.dir, start, end)
                or [_SegSlice("", "", -1, 0, 0)])

    def read(self, partition: _SegSlice) -> Iterator:
        if partition.part < 0:
            return
        yield from _read_slice(partition)

    def commit(self, end: dict) -> None:
        # batch-range truth stays in Spark's checkpoint; this persists
        # only the PACING FLOOR (max committed end per group) so
        # rate-limited ends stay monotone across instance churn
        self._merge_floor(end)


class PaymentsQueueDataSource(DataSource):
    """`format("payments_queue")`; options: path (required), subscribe
    (required), startingOffsets / endingOffsets / maxOffsetsPerTrigger
    (Kafka names). Schema is fixed: Spark's Kafka source schema."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return QUEUE_SCHEMA_DDL

    def reader(self, schema) -> DataSourceReader:
        return _QueueBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _QueueStreamReader(self.options)


def register_queue_source(spark: SparkSession) -> None:
    """Idempotent per-session registration."""
    spark.dataSource.register(PaymentsQueueDataSource)


def read_queue(spark: SparkSession, queue_dir: str, topics: str,
               starting: str = "earliest", ending: str = "latest"):
    register_queue_source(spark)
    return (spark.read.format(SOURCE_NAME)
            .option("path", queue_dir).option("subscribe", topics)
            .option("startingOffsets", starting)
            .option("endingOffsets", ending).load())


def stream_queue(spark: SparkSession, queue_dir: str, topics: str,
                 starting: str = "earliest",
                 max_offsets_per_trigger: int | None = None,
                 consumer_group: str = "default"):
    """Rate limiting persists its pacing floor under the queue dir
    keyed by ``consumer_group`` (a Kafka consumer-group position);
    give each independent checkpointed query its own group, or a
    faster query's floor makes a slower one skip pacing (correctness
    is unaffected — ends only ever grow)."""
    register_queue_source(spark)
    r = (spark.readStream.format(SOURCE_NAME)
         .option("path", queue_dir).option("subscribe", topics)
         .option("startingOffsets", starting)
         .option("consumerGroup", consumer_group))
    if max_offsets_per_trigger is not None:
        r = r.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return r.load()


def parse_json_values(df, schema_ddl: str):
    """The standard Kafka deserialize step: value binary -> UTF-8 ->
    from_json(schema), keeping the queue metadata columns — built-in
    functions only (JVM-side), no UDF."""
    import pyspark.sql.functions as F

    return (df.select(
        F.col("topic"), F.col("partition"), F.col("offset"),
        F.col("timestamp"),
        F.from_json(F.col("value").cast("string"), schema_ddl).alias("m"))
        .select("topic", "partition", "offset", "timestamp", "m.*"))
