"""Custom Python Data Source (Spark 4 DataSource API): a deterministic
synthetic-payments generator, batch + micro-batch streaming.

The reference generates its synthetic transactions with a driver-side
Python/Faker loop that writes a CSV (src/generate_transaction_data.py:51 —
one process, one file, the shape that caps out at laptop scale).
`plans/generator.py` already re-expresses that generator as DataFrame ops;
this module is the SOURCE-side answer: the generator as a first-class
`spark.read.format("payments_synth")` / `readStream.format(...)` source
built on the Python Data Source API (SPARK-44076, public in Spark 4).

Why this is the 100 TB shape:
  * **Partition-parallel planning.** `partitions()` splits the row space
    into `numPartitions` independent ranges; every executor generates its
    slice with zero driver involvement and zero shuffle — generation
    bandwidth scales linearly with cores, where the reference's loop is
    one core forever.
  * **Arrow-batched emission.** `read()` yields pyarrow RecordBatches
    (not per-row tuples), so rows cross the Python->JVM boundary in
    columnar batches — the same reason the repo's Pandas UDFs beat
    row-at-a-time UDFs by ~10-100x.
  * **Determinism = replay + idempotence.** Every field derives from
    md5(row index), so any partition can be regenerated bit-identically
    on retry (Spark task re-execution is safe), the streaming reader's
    offsets are plain row indexes (a crashed micro-batch replays to the
    same rows), and DuckDB can replicate the whole table from `range(n)`
    — which is what gives the registered roundtrip query a REAL value
    hash oracle over a source that never touches disk.

The row contract (shared verbatim by the Python generator here, the
Spark-side fold in queries/jsonl_source.py, and the DuckDB oracle):

    h  = md5(str(i))                      # lowercase hex
    a  = int(h[0:15], 16)                 # 60-bit mix
    b  = int(h[15:17], 16)
    c  = int(h[17:19], 16)
    txn_id       = i
    user_id      = a % 10_000
    amount_cents = (a // 7) % 1_000_000
    currency     = CURRENCIES[b % 5]      # alphabetical list
    status       = STATUSES[c % 4]        # alphabetical list
    ts_us        = (1_704_067_200 + a % 31_536_000) * 1_000_000
                   # 2024-01-01T00:00:00Z + <1y spread, microseconds
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

SOURCE_NAME = "payments_synth"

PAY_SCHEMA_DDL = ("txn_id bigint, user_id bigint, amount_cents bigint, "
                  "currency string, status string, ts_us bigint")

CURRENCIES = ("AUD", "EUR", "GBP", "JPY", "USD")
STATUSES = ("completed", "failed", "pending", "refunded")

_EPOCH_2024 = 1_704_067_200
_YEAR_S = 31_536_000
_ARROW_CHUNK = 16_384


class _Range(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


def synth_batches(start: int, end: int) -> Iterator["pa.RecordBatch"]:
    """Generate rows [start, end) as Arrow RecordBatches of the source
    schema. Pure function of the range — safe under task retry."""
    import pyarrow as pa  # imported on the executor worker

    for lo in range(start, end, _ARROW_CHUNK):
        hi = min(lo + _ARROW_CHUNK, end)
        txn, usr, cents, cur, st, ts = [], [], [], [], [], []
        for i in range(lo, hi):
            h = hashlib.md5(str(i).encode()).hexdigest()
            a = int(h[0:15], 16)
            txn.append(i)
            usr.append(a % 10_000)
            cents.append((a // 7) % 1_000_000)
            cur.append(CURRENCIES[int(h[15:17], 16) % 5])
            st.append(STATUSES[int(h[17:19], 16) % 4])
            ts.append((_EPOCH_2024 + a % _YEAR_S) * 1_000_000)
        yield pa.RecordBatch.from_arrays(
            [pa.array(txn, pa.int64()), pa.array(usr, pa.int64()),
             pa.array(cents, pa.int64()), pa.array(cur, pa.string()),
             pa.array(st, pa.string()), pa.array(ts, pa.int64())],
            names=["txn_id", "user_id", "amount_cents",
                   "currency", "status", "ts_us"],
        )


def _split(start: int, end: int, parts: int) -> list[_Range]:
    n = max(0, end - start)
    parts = max(1, min(parts, n) if n else 1)
    step, rem = divmod(n, parts)
    out, lo = [], start
    for p in range(parts):
        hi = lo + step + (1 if p < rem else 0)
        out.append(_Range(lo, hi))
        lo = hi
    return out


class _PaymentsBatchReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", 10_000))
        self.parts = int(options.get("numPartitions", 8))

    def partitions(self) -> list[InputPartition]:
        return _split(0, self.n, self.parts)

    def read(self, partition: _Range) -> Iterator:
        yield from synth_batches(partition.start, partition.end)


class _PaymentsStreamReader(DataSourceStreamReader):
    """Micro-batch twin: offsets are row indexes, so a replayed batch
    regenerates byte-identical rows (exactly-once with an idempotent
    sink).

    Pacing needs DURABLE state: the reader object is pickled to a
    Python runner and any call can land on a fresh unpickle of the
    post-__init__ snapshot, so an in-memory cursor silently resets
    mid-run — a paced latestOffset then returns an end BELOW an end
    already in Spark's offset WAL, the WAL regresses, and the next
    batch re-emits delivered rows. With ``hwmPath`` set, commit()
    persists the max committed index there and pacing never starts
    below it (`rowsPerBatch` per trigger, monotone across instance
    churn and checkpointed restarts). Without it, pacing is DISABLED
    and latestOffset returns the full log end `n` — always safe."""

    def __init__(self, options: dict) -> None:
        self.n = int(options.get("n", 10_000))
        self.parts = int(options.get("numPartitions", 8))
        self.rows_per_batch = int(options.get("rowsPerBatch", 2_000))
        self.hwm_path = (options.get("hwmpath")
                         or options.get("hwmPath"))
        self._cur = 0

    def _floor(self) -> int:
        if not self.hwm_path:
            return 0
        try:
            with open(self.hwm_path) as f:
                return int(json.load(f)["index"])
        except (OSError, ValueError, KeyError):
            return 0

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        if not self.hwm_path:
            return {"index": self.n}
        self._cur = min(max(self._cur, self._floor())
                        + self.rows_per_batch, self.n)
        return {"index": self._cur}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        return _split(int(start["index"]), int(end["index"]), self.parts)

    def read(self, partition: _Range) -> Iterator:
        yield from synth_batches(partition.start, partition.end)

    def commit(self, end: dict) -> None:
        if not self.hwm_path:
            return
        from aws_payment_data_lake_spark.sources.queue_source import (
            locked_json_update,
        )
        idx = int(end["index"])
        # monotone max under the lock: a concurrent committer of a
        # LOWER index can no longer overwrite a higher one between our
        # read and rename (same last-writer-wins race as the queue
        # source's floor merge, ADVICE r8)
        locked_json_update(
            self.hwm_path,
            lambda cur: ({"index": idx}
                         if idx > int(cur.get("index", 0)) else None))


class PaymentsSyntheticDataSource(DataSource):
    """`format("payments_synth")`, options: n, numPartitions,
    rowsPerBatch (stream). Schema is fixed (PAY_SCHEMA_DDL)."""

    @classmethod
    def name(cls) -> str:
        return SOURCE_NAME

    def schema(self) -> str:
        return PAY_SCHEMA_DDL

    def reader(self, schema) -> DataSourceReader:
        return _PaymentsBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _PaymentsStreamReader(self.options)


def register_payments_source(spark: SparkSession) -> None:
    """Idempotent per-session registration (re-registering the same
    class is a harmless replace)."""
    spark.dataSource.register(PaymentsSyntheticDataSource)


def read_payments(spark: SparkSession, n: int,
                  num_partitions: int = 8):
    register_payments_source(spark)
    return (spark.read.format(SOURCE_NAME)
            .option("n", str(n))
            .option("numPartitions", str(num_partitions)).load())
