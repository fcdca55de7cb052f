"""``acid_cdc``: one writer and its readers on a txlog payments table.

Set-up writes payments whose ids grow with their date as parquet files,
one range of ids each, adopts them as a txlog table with
``TxnTable.convert_from_parquet`` and registers it with a
``LakehouseCatalog``. The operations run in a fixed cycle, once
untimed as warm-up and then twice measured; the seed draws the keys,
dates and versions they touch:

- commits: ``TxnTable.merge`` with a delete flag; ``MERGE INTO``
  through ``LakehouseCatalog.sql``, whose column-targeted ``UPDATE SET``
  runs the clause engine (``TxnTable.merge_clauses``); ``append``;
  ``delete``; in traced runs also a CDC batch produced with
  ``queue_source.produce_distributed``, read back from the last
  applied offsets with ``queue_source.read_queue`` and applied with the
  ``streaming.cdc.cdc_foreach_batch`` sink, the micro-batch an
  ``availableNow`` stream would run, without the streaming engine
  around it (perfbench/README.md, "Budget"); once a cycle ``compact``
  bins the small files the commits left. Change batches favour recent
  ids. Each commit is followed, inside the same operation, by a read of
  the new head that fetches the changed keys.
- analyst reads of the same table: a point lookup through
  ``TxnTable.scan``, merchant KPIs (``plans.gold.merchant_kpis``) over a
  recent date range, a ``VERSION AS OF`` aggregate through the catalog,
  and ``plans.gold.daily_totals`` over the head.
- in traced runs only, curation passes over a generated document and
  embedding corpus (``perfbench/corpus.py``): MinHash dedup with
  connected components, and an IVF index kept in ``sources.store``,
  built on a fresh sample and read back once a cycle.

A pure-Python model folds every generated change batch in order; each
result and the final table are compared against it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time
from collections import Counter, defaultdict
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from aws_payment_data_lake_spark.plans import gold as GO
from aws_payment_data_lake_spark.sources.queue_source import (
    produce_distributed,
    read_queue,
)
from aws_payment_data_lake_spark.sources.txlog import TxnTable
from aws_payment_data_lake_spark.sources.txsql import LakehouseCatalog
from aws_payment_data_lake_spark.streaming.cdc import cdc_foreach_batch
from perfbench.base import Op, Workload, tree_bytes
from perfbench.corpus import Corpus

PRELOAD_ROWS = 100_000
PRELOAD_FILES = 16
DAYS = 30
START = dt.date(2024, 1, 1)
BATCH = 1_000              # change rows per commit
DELETE_BATCH = 200
SMALL_FILE_ROWS = 5_000    # compact bins files below this many rows
MERCHANTS, USERS = 200, 50_000
STATUSES = ["SUCCESS", "PENDING", "FAILED", "REFUNDED"]
STATUS_WEIGHTS = [55, 25, 15, 5]
TOPIC = "payments_cdc"
COLUMNS = ["id", "merchant_id", "user_id", "amount", "status_curated",
           "txn_date", "seq"]
VALUE_DDL = ("id bigint, merchant_id string, user_id string, "
             "amount decimal(12,2), status_curated string, txn_date date, "
             "seq bigint")
CYCLE = ["merge", "point_lookup", "sql_merge", "kpi_range", "append",
         "time_travel", "delete", "gold_totals", "compact"]
MEASURED_CYCLES = 2
# kinds only traced runs add, after the cycle (perfbench/README.md,
# "Budget"): the CDC batch and the curation passes
TRACED = ["cdc", "dedup", "ann_build", "ann"]

# model row: (merchant_id, user_id, cents, status, txn_date, seq)
Row = tuple


def _cents(amount) -> int:
    return int(Decimal(amount) * 100)


class AcidCdc(Workload):
    """Warm-up runs the cycle once; a run then measures it
    ``MEASURED_CYCLES`` times, so every kind's median is over warm runs.
    The kinds only a traced run adds come after the measured cycles, so
    those run as in an untraced run."""

    def __init__(self, spark, tracer, seed: int) -> None:
        super().__init__(spark, tracer, seed)
        self.kinds = (CYCLE * MEASURED_CYCLES
                      + (TRACED if tracer.enabled else []))
        self.cycle = len(self.kinds)
        self.traced_only = set(TRACED)

    def setup(self, root: str) -> None:
        spark = self.spark
        self.rng = random.Random(self.seed)
        self._preload_model()
        self.table = TxnTable(spark, os.path.join(root, "payments"))
        self._write_preload(self.table.path)
        self.table.convert_from_parquet()
        self.catalog = LakehouseCatalog(spark)
        self.catalog.register("payments", self.table.path)
        self.qdir = os.path.join(root, "queue")
        self.cdc_apply = cdc_foreach_batch(self.table, ["id"], VALUE_DDL)
        self.cdc_offsets: dict[str, int] = {}   # queue partition -> next
        self.cdc_batches = 0
        self.version_agg = {0: self._agg()}
        self.commits = 0
        self.data_bytes = tree_bytes(self._data_dir())[1]
        if self.tracer.enabled:
            self.corpus = Corpus(self, root)
        self.step = 0

    def warm(self) -> None:
        for kind in CYCLE:
            self.run_untimed(getattr(self, f"_op_{kind}")())

    def operations(self):
        while True:
            yield self._next_op()

    # ------------------------------------------------------------- model
    def _preload_model(self) -> None:
        """The preloaded rows, ids growing with their date."""
        gen = np.random.default_rng(self.seed)
        n = PRELOAD_ROWS
        w = np.array(STATUS_WEIGHTS) / sum(STATUS_WEIGHTS)
        cols = zip(gen.integers(MERCHANTS, size=n).tolist(),
                   gen.integers(USERS, size=n).tolist(),
                   gen.integers(100, 200_000, size=n).tolist(),
                   gen.choice(len(STATUSES), size=n, p=w).tolist())
        days = [(START + dt.timedelta(days=d)).isoformat()
                for d in range(DAYS)]
        self.model: dict[int, Row] = {
            i: (f"m_{m + 1:04d}", f"u_{u + 1:06d}", c, STATUSES[s],
                days[i * DAYS // n], i + 1)
            for i, (m, u, c, s) in enumerate(cols)}
        self.seq = self.next_id = n

    def _write_preload(self, path: str) -> None:
        """The preloaded rows as plain parquet files, ``PRELOAD_FILES``
        ranges of ids, which set-up adopts as version 0."""
        os.makedirs(path)
        ids = sorted(self.model)
        dates = {d: dt.date.fromisoformat(d) for d in
                 {r[4] for r in self.model.values()}}
        for k in range(PRELOAD_FILES):
            part = ids[k * len(ids) // PRELOAD_FILES:
                       (k + 1) * len(ids) // PRELOAD_FILES]
            rows = [self.model[i] for i in part]
            pq.write_table(pa.table({
                "id": pa.array(part, pa.int64()),
                "merchant_id": [r[0] for r in rows],
                "user_id": [r[1] for r in rows],
                "amount": pa.array([Decimal(r[2]).scaleb(-2) for r in rows],
                                   pa.decimal128(12, 2)),
                "status_curated": [r[3] for r in rows],
                "txn_date": pa.array([dates[r[4]] for r in rows],
                                     pa.date32()),
                "seq": pa.array([r[5] for r in rows], pa.int64()),
            }), os.path.join(path, f"preload-{k:03d}.parquet"))

    def _new_row(self, day: dt.date) -> Row:
        r = self.rng
        self.seq += 1
        return (f"m_{r.randrange(MERCHANTS) + 1:04d}",
                f"u_{r.randrange(USERS) + 1:06d}",
                r.randrange(100, 200_000),
                r.choices(STATUSES, STATUS_WEIGHTS)[0],
                day.isoformat(), self.seq)

    def _frame(self, rows: dict[int, Row], ops: dict[int, str] | None = None):
        ids = sorted(rows)
        pdf = pd.DataFrame([(i, *rows[i]) for i in ids], columns=[
            "id", "merchant_id", "user_id", "cents", "status_curated",
            "txn_date", "seq"])
        if ops is not None:
            pdf["_op"] = [ops[i] for i in ids]
        df = self.spark.createDataFrame(pdf)
        df = df.withColumn("amount", (F.col("cents").cast("decimal(14,0)")
                                      / 100).cast("decimal(12,2)"))
        df = df.withColumn("txn_date", F.to_date("txn_date"))
        return df.select(*COLUMNS, *(["_op"] if ops is not None else []))

    def _recent_live(self, n: int) -> list[int]:
        """``n`` distinct live ids, favouring the most recent."""
        hi, out = self.next_id, set()
        while len(out) < n:
            i = hi - 1 - int(abs(self.rng.gauss(0, PRELOAD_ROWS / 8)))
            if i in self.model:
                out.add(i)
        return sorted(out)

    def _changes(self, n: int, inserts: float, deletes: float):
        """A change batch: updates and deletes of recent ids, inserts of
        new ones. Returns (ids, ops, new model rows)."""
        n_ins, n_del = int(n * inserts), int(n * deletes)
        old = self._recent_live(n - n_ins)
        dels = set(self.rng.sample(old, n_del))
        last = START + dt.timedelta(days=DAYS - 1)
        new: dict[int, Row | None] = {}
        for i in old:
            if i in dels:
                new[i] = None
            else:
                m, u, cents, _s, d, _q = self.model[i]
                self.seq += 1
                new[i] = (m, u, cents, self.rng.choices(
                    STATUSES, STATUS_WEIGHTS)[0], d, self.seq)
        for _ in range(n_ins):
            new[self.next_id] = self._new_row(last)
            self.next_id += 1
        ops = {i: ("d" if r is None else "u") for i, r in new.items()}
        return sorted(new), ops, new

    def _source_rows(self, new: dict) -> dict[int, Row]:
        """The rows a change batch sends: new values, and the current
        values of the ids it deletes (the op flag drops those)."""
        return {i: r or self.model[i] for i, r in new.items()}

    def _agg(self) -> tuple[int, int]:
        return len(self.model), sum(r[2] for r in self.model.values())

    def _data_dir(self) -> str:
        return os.path.join(self.table.path, "data")

    # ---------------------------------------------------------------- ops
    def _next_op(self) -> Op:
        kind = self.kinds[self.step % self.cycle]
        self.step += 1
        return getattr(self, f"_op_{kind}")()

    def _commit_op(self, kind: str, write, ids, new, rows: int) -> Op:
        """Wrap a write: time the commit and the read of the new head
        that fetches ``ids``; fold ``new`` into the model afterwards."""
        t = self.table

        def fn():
            before = t.latest_version()
            t0 = time.perf_counter()
            write()
            t1 = time.perf_counter()
            with self.span("txlog.latest_version"):
                head = t.latest_version()
            with self.span("txlog.snapshot"):
                df = t.snapshot(head).where(F.col("id").isin(ids))
            with self.span("query.collect"):
                got = df.collect()
            t2 = time.perf_counter()
            self.sample("commit", t1 - t0)
            self.sample("read_after_commit", t2 - t1)
            return got, t0, t2, head - before

        def check(res):
            got, t0, t2, commits = res
            if kind == "cdc":
                self.sample("cdc_fresh", t2 - t0)
            for i, r in new.items():
                if r is None:
                    self.model.pop(i, None)
                else:
                    self.model[i] = r
            self.commits += commits
            self._after_commit(commits)
            want = {i: self.model[i] for i in ids if i in self.model}
            have = {r["id"]: (r["merchant_id"], r["user_id"],
                              _cents(r["amount"]), r["status_curated"],
                              r["txn_date"].isoformat(), r["seq"])
                    for r in got}
            return [] if have == want else [
                f"read after commit: {len(have)} rows differ from the "
                f"model's {len(want)}"]

        return Op(kind, fn, rows=rows, check=check)

    def _after_commit(self, commits: int = 1) -> None:
        v = self.table.latest_version()
        self.version_agg[v] = self._agg()
        self.count("txlog.commits", commits)
        size = tree_bytes(self._data_dir())[1]
        self.count("txlog.data_bytes_written", size - self.data_bytes)
        self.data_bytes = size

    def _op_merge(self) -> Op:
        ids, ops, new = self._changes(BATCH, inserts=0.2, deletes=0.1)
        src = self._frame(self._source_rows(new), ops)

        def write():
            with self.span("txlog.merge"):
                self.table.merge(src, on=["id"], delete_when="_op = 'd'",
                                 helper_cols=("_op",))
        return self._commit_op("merge", write, ids, new, len(ids))

    def _op_sql_merge(self) -> Op:
        ids, ops, new = self._changes(BATCH, inserts=0.2, deletes=0.1)
        src = self._frame(self._source_rows(new), ops)
        view = f"perfbench_src_{self.step}"

        def write():
            src.createOrReplaceTempView(view)
            with self.span("txsql.sql"):
                self.catalog.sql(
                    f"MERGE INTO payments t USING {view} s ON t.id = s.id "
                    "WHEN MATCHED AND s._op = 'd' THEN DELETE "
                    "WHEN MATCHED THEN UPDATE SET "
                    "status_curated = s.status_curated, seq = s.seq "
                    "WHEN NOT MATCHED THEN INSERT *").collect()
            self.spark.catalog.dropTempView(view)
        return self._commit_op("sql_merge", write, ids, new, len(ids))

    def _op_append(self) -> Op:
        ids, _ops, new = self._changes(BATCH, inserts=1.0, deletes=0.0)
        src = self._frame(self._source_rows(new), None)

        def write():
            with self.span("txlog.append"):
                self.table.append(src)
        return self._commit_op("append", write, ids, new, len(ids))

    def _op_delete(self) -> Op:
        ids = self._recent_live(DELETE_BATCH)
        new = {i: None for i in ids}
        cond = f"id IN ({', '.join(map(str, ids))})"

        def write():
            with self.span("txlog.delete"):
                self.table.delete(cond)
        return self._commit_op("delete", write, ids, new, len(ids))

    def _op_cdc(self) -> Op:
        ids, ops, new = self._changes(BATCH, inserts=0.2, deletes=0.1)
        rows = self._source_rows(new)
        records = [{"key": str(i), "value": json.dumps({
            **dict(zip(COLUMNS, (i, *r[:2], r[2] / 100, *r[3:]))),
            "_op": ops[i]})} for i, r in sorted(rows.items())]
        src = self.spark.createDataFrame(pd.DataFrame(records))

        def write():
            with self.span("queue.produce"):
                published = produce_distributed(src, self.qdir, TOPIC)
            with self.span("cdc.drain"):
                start = json.dumps({TOPIC: self.cdc_offsets})
                for p, n in published.items():
                    self.cdc_offsets[str(p)] = self.cdc_offsets.get(
                        str(p), 0) + n
                end = json.dumps({TOPIC: self.cdc_offsets})
                self.cdc_apply(read_queue(self.spark, self.qdir, TOPIC,
                                          start, end), self.cdc_batches)
                self.cdc_batches += 1
            self.count("queue.records", len(records))
            self.count("cdc.records_applied", len(records))
        return self._commit_op("cdc", write, ids, new, len(ids))

    def _op_compact(self) -> Op:
        t = self.table

        def fn():
            t0 = time.perf_counter()
            with self.span("txlog.compact"):
                res = t.compact(max_files=1, small_file_rows=SMALL_FILE_ROWS)
            self.sample("commit", time.perf_counter() - t0)
            return res

        def check(res):
            if not res["noop"]:
                self.commits += 1
                self._after_commit()
            return []
        return Op("compact", fn, check=check)

    def _op_dedup(self) -> Op:
        return self.corpus.dedup_op()

    def _op_ann_build(self) -> Op:
        return self.corpus.ann_op(fresh=True)

    def _op_ann(self) -> Op:
        return self.corpus.ann_op(fresh=False)

    # -------------------------------------------------------------- reads
    def _query_op(self, kind: str, fn, check, examined) -> Op:
        def timed():
            t0 = time.perf_counter()
            out = fn()
            dt_ = time.perf_counter() - t0
            self.sample("query", dt_)
            self.sample(f"query.{kind}", dt_)
            return out

        def checked(out):
            self.count("queries.rows_returned", max(1, len(out)))
            self.count("queries.rows_examined", examined())
            return check(out)
        return Op(kind, timed, check=checked)

    def _op_point_lookup(self) -> Op:
        k = self._recent_live(1)[0]
        t = self.table

        def fn():
            with self.span("txlog.scan"):
                df = t.scan("id", k, k).where(F.col("id") == k)
            with self.span("query.collect"):
                return df.collect()

        def check(out):
            kept, total = t.scan_file_count("id", k, k)
            self.count("txlog.lookups")
            self.count("txlog.files_scanned", kept)
            self.count("txlog.files_total", total)
            if len(out) != 1 or out[0]["seq"] != self.model[k][5]:
                return [f"point lookup of id {k} returned {out}"]
            return []

        def examined():
            d = t.describe_detail()
            kept, total = t.scan_file_count("id", k, k)
            return d["num_rows"] * kept / max(1, total)
        return self._query_op("point_lookup", fn, check, examined)

    def _op_kpi_range(self) -> Op:
        first = DAYS - 1 - min(DAYS - 7, int(abs(self.rng.gauss(0, 6))))
        lo = START + dt.timedelta(days=first - 6)
        hi = START + dt.timedelta(days=first)
        t = self.table

        def fn():
            with self.span("txlog.snapshot"):
                df = t.snapshot().where(
                    F.col("txn_date").between(lo.isoformat(), hi.isoformat()))
            with self.span("gold"):
                q = GO.merchant_kpis(df)
            with self.span("query.collect"):
                return q.collect()

        def check(out):
            want: dict[str, list] = {}
            users = defaultdict(set)
            for m, u, cents, s, d, _q in self.model.values():
                if lo.isoformat() <= d <= hi.isoformat():
                    w = want.setdefault(m, [0, 0, 0])
                    w[0] += 1
                    w[1] += cents
                    w[2] += s == "SUCCESS"
                    users[m].add(u)
            have = {r["merchant_id"]: [r["n_txns"], _cents(r["gross_amount"]),
                                       r["n_success"]] for r in out}
            ok = have == want and all(
                r["n_users"] == len(users[r["merchant_id"]]) for r in out)
            return [] if ok else [f"merchant KPIs {lo}..{hi} differ"]
        return self._query_op("kpi_range", fn, check,
                              lambda: t.describe_detail()["num_rows"])

    def _op_time_travel(self) -> Op:
        v = self.rng.choice(sorted(self.version_agg))

        def fn():
            with self.span("txsql.sql"):
                df = self.catalog.sql(
                    "SELECT count(*) AS n, sum(amount) AS s "
                    f"FROM payments VERSION AS OF {v}")
            with self.span("query.collect"):
                return df.collect()

        def check(out):
            n, cents = self.version_agg[v]
            if (out[0]["n"], _cents(out[0]["s"])) != (n, cents):
                return [f"VERSION AS OF {v}: {out[0]} != {(n, cents)}"]
            return []
        return self._query_op("time_travel", fn, check,
                              lambda: self.version_agg[v][0])

    def _op_gold_totals(self) -> Op:
        t = self.table

        def fn():
            with self.span("txlog.snapshot"):
                df = t.snapshot()
            with self.span("gold"):
                q = GO.daily_totals(df)
            with self.span("query.collect"):
                return q.collect()

        def check(out):
            want = Counter()
            for _m, _u, cents, s, d, _q in self.model.values():
                want[(d, s, "n")] += 1
                want[(d, s, "c")] += cents
            have = Counter()
            for r in out:
                key = (r["txn_date"].isoformat(), r["status_curated"])
                have[(*key, "n")] += r["n_txns"]
                have[(*key, "c")] += _cents(r["gross_amount"])
            return [] if have == want else ["daily totals differ"]
        return self._query_op("gold_totals", fn, check,
                              lambda: t.describe_detail()["num_rows"])

    # ------------------------------------------------------------ checks
    def final_check(self) -> list[str]:
        errs = []
        pdf = self.table.snapshot().select(
            "id", "merchant_id", "user_id",
            (F.col("amount") * 100).cast("long"), "status_curated",
            F.date_format("txn_date", "yyyy-MM-dd"), "seq").toPandas()
        have = {r[0]: tuple(r[1:]) for r in pdf.itertuples(index=False)}
        if have != self.model:
            diff = set(have.items()) ^ set(self.model.items())
            errs.append(f"final table differs from the change-log fold in "
                        f"{len(diff)} rows")
        head = self.table.latest_version()
        if head != self.commits:
            errs.append(f"head version {head} != {self.commits} commits made")
        report = self.table.fsck()
        if not report["clean"]:
            errs.append(f"fsck: { {k: v for k, v in report.items() if v} }")
        return errs

    def corrupt(self) -> None:
        """A stray write behind the model's back: one row deleted."""
        self.table.delete(f"id = {min(self.model)}")
        self.commits += 1

    # ----------------------------------------------------------- metrics
    def lake_bytes_per_user_byte(self) -> float:
        live = self.table.describe_detail()["size_bytes"]
        log = tree_bytes(os.path.join(self.table.path, "_txlog"))[1]
        user = sum(len(",".join(map(str, (i, *r)))) + 1
                   for i, r in self.model.items())
        return (live + log) / user

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        c, n = self.counts, max(1, n_ops)
        detail = self.table.describe_detail()
        return {
            "txlog.commits": c["txlog.commits"] / n,
            "txlog.data_bytes_written": c["txlog.data_bytes_written"] / n,
            "txlog.live_files": detail["num_files"],
            "txlog.log_bytes": tree_bytes(
                os.path.join(self.table.path, "_txlog"))[1],
            "txlog.files_scanned_per_lookup":
                c["txlog.files_scanned"] / max(1, c["txlog.lookups"]),
            "txlog.prune_frac": 1 - c["txlog.files_scanned"]
            / max(1, c["txlog.files_total"]),
            "queue.records": c["queue.records"] / n,
            "cdc.records_applied": c["cdc.records_applied"] / n,
            "queries.rows_examined_per_row_returned":
                c["queries.rows_examined"] / max(1, c["queries.rows_returned"]),
            "dedup.candidate_pairs": c["dedup.candidates"] / n,
            "dedup.verified_frac":
                c["dedup.pairs"] / max(1, c["dedup.candidates"]),
            "similarity.recall_at_10":
                c["similarity.recall_sum"] / max(1, c["similarity.passes"]),
            "store.builds": c["store.builds"] / n,
            "store.build_s": c["store.build_s"] / n,
        }
