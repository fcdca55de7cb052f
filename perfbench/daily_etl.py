"""``daily_etl``: one raw CSV drop per day through the medallion chain.

Set-up generates a four-day raw drop with ``plans.generator``, plus
late duplicates: a share of each day's transactions is sent again,
unchanged, in the next day's drop. Those rows land in the previous
day's partition, so an upsert rewrites two partitions. Warm-up runs
day 0, which bootstraps the zones; days 1 to 3 are the measured
operations, all three in every run.

One operation is one day:

1. ``plans.bronze.run_bronze`` over the day's CSV, materialized once;
2. ``plans.upsert.upsert_bronze_partitions`` into the bronze zone;
3. ``plans.silver.run_silver`` and ``audit`` over the touched bronze
   partitions, each written with ``sources.writers.write_zone``;
4. the gold state merge: the day's silver partition folded into the
   prior ``merchant_kpi_state`` and ``daily_totals`` tables with
   ``merchant_kpi_state_merge`` and ``daily_totals_merge``;
5. ``operators.dq.DQRunner.run`` over the day's bronze batch, one
   txlog append to the DQ history.

Spark runs lazily: a plan function's span covers building its plan,
and the work shows in the span of the call that runs an action
(``bronze`` materializes its batch, then ``upsert``, ``writers``, ``dq``).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyspark.sql.functions as F
from pyspark import StorageLevel

from aws_payment_data_lake_spark.operators.dq import DQRunner, payment_rules
from aws_payment_data_lake_spark.plans import bronze as B
from aws_payment_data_lake_spark.plans import generator as G
from aws_payment_data_lake_spark.plans import gold as GO
from aws_payment_data_lake_spark.plans import silver as S
from aws_payment_data_lake_spark.plans import upsert as U
from aws_payment_data_lake_spark.plans.pipeline import read_raw
from aws_payment_data_lake_spark.sources.writers import read_zone, write_zone
from perfbench.base import Op, Workload, tree_bytes

ROWS_PER_DAY = 20_000
WARM_DAYS = 1             # day 0 bootstraps the zones, untimed
DAYS = 4                  # days 1-3 are measured
START = dt.date(2024, 1, 1)
INVALID_RATE = 0.02
RESEND_PER_MILLE = 60     # share of rows sent again in the next drop


def _day(i: int) -> str:
    return (START + dt.timedelta(days=i)).isoformat()


def _read_drop(path: str) -> tuple[int, int, set[bytes]]:
    """(data rows, bytes, txn_ids) of the header CSV files under
    ``path``. No generated field holds a comma or a quote."""
    rows = size = 0
    ids: set[bytes] = set()
    for n in os.listdir(path):
        if n.endswith(".csv"):
            with open(os.path.join(path, n), "rb") as fh:
                data = fh.read()
            lines = data.splitlines()
            col = lines[0].split(b",").index(b"txn_id")
            ids.update(ln.split(b",")[col].strip().upper()
                       for ln in lines[1:])
            rows += len(lines) - 1
            size += len(data)
    return rows, size, ids


class DailyEtl(Workload):
    # a run measures every upsert day, so each run's median is over the
    # same days at the same point of the JVM's warm-up
    cycle = DAYS - WARM_DAYS

    def setup(self, root: str) -> None:
        spark = self.spark
        self.zone = {z: os.path.join(root, z) for z in (
            "raw", "bronze", "silver", "audit", "gold", "dq")}
        base = G.generate_transactions(
            spark, days=DAYS, rows_per_day=ROWS_PER_DAY,
            invalid_rate=INVALID_RATE, seed=self.seed)
        pick = F.pmod(F.xxhash64(F.lit(self.seed), F.lit("resend"),
                                 F.col("txn_id")), F.lit(1000))
        resent = (base.where(pick < RESEND_PER_MILLE)
                  .withColumn("ingest_date", F.date_format(F.date_add(
                      F.to_date("ingest_date"), 1), "yyyy-MM-dd"))
                  .where(F.col("ingest_date") <= _day(DAYS - 1)))
        G.write_raw_csv(base.unionByName(resent), self.zone["raw"])
        self.raw_rows, self.raw_bytes, self.raw_ids = {}, {}, {}
        for i in range(DAYS):
            d = _day(i)
            self.raw_rows[d], self.raw_bytes[d], self.raw_ids[d] = (
                _read_drop(self._raw_dir(d)))
        self.runner = DQRunner(spark, self.zone["dq"])
        self.fed: list[str] = []
        self.bronze_rows = 0

    def _raw_dir(self, day: str) -> str:
        return os.path.join(self.zone["raw"], f"ingest_date={day}")

    def warm(self) -> None:
        for i in range(WARM_DAYS):
            self.run_untimed(self._op(i))
        if self.tracer.enabled:
            self.bronze_rows = read_zone(self.spark, self.zone["bronze"]).count()
        self.next_day = WARM_DAYS

    def operations(self):
        while self.next_day < DAYS:
            i = self.next_day
            self.next_day += 1
            yield self._op(i)

    # ---------------------------------------------------------------- op
    def _op(self, i: int) -> Op:
        day = _day(i)
        return Op("etl_day", lambda: self._run_day(i, day),
                  rows=self.raw_rows[day],
                  check=lambda res: self._after_day(day, res))

    def _run_day(self, i: int, day: str) -> dict:
        spark, z = self.spark, self.zone
        with self.span("bronze"):
            batch = B.run_bronze(read_raw(spark, self._raw_dir(day)))
            batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
            batch.count()
        try:
            if i == 0:
                with self.span("writers"):
                    write_zone(batch, z["bronze"])
                affected = sorted({r[0] for r in batch.select(
                    F.col("txn_date").cast("string")).distinct().collect()})
            else:
                with self.span("upsert"):
                    affected = sorted(str(d) for d in
                                      U.upsert_bronze_partitions(
                                          spark, z["bronze"], batch))
            touched = read_zone(spark, z["bronze"]).where(
                F.col("txn_date").isin(affected))
            with self.span("silver"):
                silver = S.run_silver(touched)
            with self.span("writers"):
                write_zone(silver, z["silver"])
            with self.span("audit"):
                rejected = S.audit(touched)
            with self.span("writers"):
                write_zone(rejected, z["audit"])
            self._gold(i, day)
            with self.span("dq"):
                self.runner.run(batch, payment_rules(), dataset="bronze",
                                run_ts=dt.datetime.fromisoformat(day))
        finally:
            batch.unpersist()
        self.fed.append(day)
        return {"affected": affected}

    def _gold(self, i: int, day: str) -> None:
        """Fold the day's silver partition into the gold state. Late
        duplicates never change silver rows, so the day's partition is
        exactly the new rows. Each day writes new state directories and
        drops the prior ones, which its plan reads."""
        spark = self.spark
        delta = read_zone(spark, self.zone["silver"]).where(
            F.col("txn_date") == day)
        with self.span("gold"):
            state = GO.merchant_kpi_state(delta)
            if i:
                state = GO.merchant_kpi_state_merge(
                    spark.read.parquet(self._gold_dir("state", i - 1)), state)
                totals = GO.daily_totals_merge(
                    spark.read.parquet(self._gold_dir("totals", i - 1)), delta)
            else:
                totals = GO.daily_totals(delta)
        with self.span("writers"):
            state.write.parquet(self._gold_dir("state", i))
            totals.write.parquet(self._gold_dir("totals", i))
        if i:
            for kind in ("state", "totals"):
                shutil.rmtree(self._gold_dir(kind, i - 1))

    def _gold_dir(self, kind: str, i: int) -> str:
        return os.path.join(self.zone["gold"], f"{kind}-{i:03d}")

    def _after_day(self, day: str, res: dict) -> list[str]:
        """Untimed: layer counters for the day, and a sanity check."""
        affected = res["affected"]
        if day not in affected:
            return [f"bronze batch of {day} touched {affected}"]
        raw_rows, raw_bytes = self.raw_rows[day], self.raw_bytes[day]
        self.count("bronze.rows_in", raw_rows)
        if self.tracer.enabled:
            # raw rows that added no bronze row: duplicates dropped by the
            # batch's own dedup or by the upsert's latest-wins merge
            total = read_zone(self.spark, self.zone["bronze"]).count()
            self.count("bronze.dup_dropped",
                       raw_rows - (total - self.bronze_rows))
            self.bronze_rows = total
        self.count("upsert.partitions_rewritten", len(affected))
        part = [f"txn_date={d}" for d in affected]
        rewritten = sum(tree_bytes(os.path.join(self.zone["bronze"], p))[1]
                        for p in part)
        self.count("upsert.bytes_rewritten", rewritten)
        self.count("raw_bytes", raw_bytes)
        written = [os.path.join(self.zone[z], p)
                   for z in ("silver", "audit") for p in part]
        written += [self._gold_dir(k, len(self.fed) - 1)
                    for k in ("state", "totals")]
        for path in written:
            f, b = tree_bytes(path)
            self.count("writers.files_written", f)
            self.count("writers.bytes_written", b)
        self.count("txlog.commits", 1)
        return []

    # ------------------------------------------------------------ checks
    def final_check(self) -> list[str]:
        spark, z = self.spark, self.zone
        errs = []
        want = len(set().union(*(self.raw_ids[d] for d in self.fed)))
        bronze = read_zone(spark, z["bronze"]).count()
        if bronze != want:
            errs.append(f"bronze rows {bronze} != distinct txn_ids fed {want}")
        silver = read_zone(spark, z["silver"])
        n_silver, n_audit = silver.count(), read_zone(spark, z["audit"]).count()
        if n_silver + n_audit != bronze:
            errs.append(f"silver {n_silver} + audit {n_audit} != "
                        f"bronze {bronze}")
        last = len(self.fed) - 1
        got = spark.read.parquet(self._gold_dir("totals", last))
        if sorted(got.collect()) != sorted(GO.daily_totals(silver).collect()):
            errs.append("gold daily totals != daily_totals(silver)")
        got = {r["merchant_id"]: r for r in GO.merchant_kpi_report(
            spark.read.parquet(self._gold_dir("state", last))).collect()}
        want = {r["merchant_id"]: r
                for r in GO.merchant_kpis(silver).collect()}
        exact = ("n_txns", "gross_amount", "n_success")
        if (got.keys() != want.keys() or any(
                [got[m][c] for c in exact] != [want[m][c] for c in exact]
                # the distinct-user count is an HLL estimate in the state;
                # lgK=12 has a 1.6 % standard error, allow three of them
                or abs(got[m]["n_users_approx"] - want[m]["n_users"])
                > 0.05 * want[m]["n_users"] for m in want)):
            errs.append("gold merchant report != merchant_kpis(silver)")
        versions = self.runner.table.latest_version() + 1
        if versions != len(self.fed):
            errs.append(f"DQ history has {versions} versions for "
                        f"{len(self.fed)} days")
        return errs

    def corrupt(self) -> None:
        """Lose one silver data file, as an unsafe external delete would."""
        for d, _dirs, names in sorted(os.walk(self.zone["silver"])):
            for n in sorted(names):
                if n.endswith(".parquet"):
                    os.remove(os.path.join(d, n))
                    return

    # ----------------------------------------------------------- metrics
    def lake_bytes_per_user_byte(self) -> float:
        stored = sum(tree_bytes(self.zone[z])[1] for z in self.zone
                     if z != "raw")
        fed = sum(self.raw_bytes[d] for d in self.fed)
        return stored / fed

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        c, n = self.counts, max(1, n_ops)
        out = {
            "bronze.rows_in": c["bronze.rows_in"] / n,
            "bronze.dup_dropped_frac":
                c["bronze.dup_dropped"] / max(1, c["bronze.rows_in"]),
            "upsert.partitions_rewritten": c["upsert.partitions_rewritten"] / n,
            "upsert.bytes_rewritten_per_input_byte":
                c["upsert.bytes_rewritten"] / max(1, c["raw_bytes"]),
            "writers.files_written": c["writers.files_written"] / n,
            "writers.bytes_written": c["writers.bytes_written"] / n,
            "txlog.commits": c["txlog.commits"] / n,
            "dq.history_versions": self.runner.table.latest_version() + 1,
        }
        silver = read_zone(self.spark, self.zone["silver"]).count()
        audit = read_zone(self.spark, self.zone["audit"]).count()
        out["silver.valid_frac"] = silver / max(1, silver + audit)
        log_dir = os.path.join(self.runner.table.path, "_txlog")
        out["txlog.log_bytes"] = tree_bytes(log_dir)[1]
        return out
