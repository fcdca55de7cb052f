"""Medallion operators as oracle-checked queries over the driver tables.

The payments pipeline itself (plans/) runs on generated CSVs the DuckDB
oracle can't see, so each reference operator from SURVEY.md §2 is ALSO
expressed here over the driver's `events`/`orders`/`customer` tables where
the driver's oracle can hash-check it: W1 dedup, F1-F3 validation, the
audit/DQ split, P8 case-when curation, P4 string normalization, P1-P3
casts/date derivation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.queries import register
from aws_payment_data_lake_spark.sources import load

_VALID_EVENT_TYPES = ("click", "view", "purchase", "signup")


# --------------------------------------------------------------------------
# W1 — latest-record-wins dedup. The reference sorts a row_number window
# (etl_transactions_bronze.py:61-80); at scale we aggregate with max_by
# over a total ordering (ts, then unique event_id as tiebreak): one shuffle
# with map-side partial aggregation, no per-key sort, deterministic.
# Round 7 folds in the STORAGE-LAYER expression of the same "latest
# wins" semantic: the ACID table format's MERGE upsert (sources/
# txlog.py) run for real on disk, hash-checked against a purely
# relational oracle.
# --------------------------------------------------------------------------
@register(
    "medallion_dedup_latest",
    oracle="""
    SELECT 'window' AS variant, user_id, event_type,
           event_id AS last_event_id, ts AS last_ts, value AS last_value
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    UNION ALL
    SELECT 'txn_v0', user_id, event_type, event_id, ts, value
    FROM events WHERE event_id % 30 = 1
    UNION ALL
    SELECT 'txn_merge', user_id, event_type, event_id, ts,
           CASE WHEN event_id % 50 = 0 THEN -value ELSE value END
    FROM events
    WHERE event_id % 30 IN (1, 2) OR event_id % 50 = 0
    UNION ALL
    SELECT 'txn_sql', user_id, event_type, event_id, ts, value * 2
    FROM events
    WHERE (event_id % 30 = 1 AND event_id % 2 = 0) OR event_id % 30 = 2
    UNION ALL
    SELECT 'txn_dv', user_id, event_type, event_id, ts, value * 2
    FROM events
    WHERE ((event_id % 30 = 1 AND event_id % 2 = 0) OR event_id % 30 = 2)
      AND event_id % 4 <> 0
    UNION ALL
    SELECT 'txn_sql_restore', user_id, event_type, event_id, ts, value
    FROM events WHERE event_id % 30 = 1
    UNION ALL
    SELECT 'txn_scd', user_id,
           CASE WHEN value < 5 THEN event_type ELSE 'archived' END,
           event_id, ts,
           CASE WHEN value < 5 THEN value + 1000 ELSE value END
    FROM events WHERE event_id % 30 = 1 AND event_id % 7 <> 0
    UNION ALL
    SELECT 'txn_scd', user_id, event_type, event_id, ts,
           CAST(-1 AS DOUBLE)
    FROM events
    WHERE event_id % 30 = 1 AND event_id % 7 = 0
      AND (user_id % 2 <> 0 OR user_id IS NULL)
    UNION ALL
    SELECT 'txn_scd', user_id, 'new', event_id, ts, value
    FROM events
    WHERE event_id % 30 = 3 AND event_id % 7 <> 0 AND event_id % 2 = 0
    UNION ALL
    SELECT 'txn_clone', user_id,
           CASE WHEN value < 5 THEN event_type ELSE 'archived' END,
           event_id, ts,
           CASE WHEN value < 5 THEN value + 1000 ELSE value END
    FROM events WHERE event_id % 30 = 1 AND event_id % 7 <> 0
      AND (user_id % 5 <> 0 OR user_id IS NULL)
    UNION ALL
    SELECT 'txn_clone', user_id, event_type, event_id, ts,
           CAST(-1 AS DOUBLE)
    FROM events
    WHERE event_id % 30 = 1 AND event_id % 7 = 0
      AND (user_id % 2 <> 0 OR user_id IS NULL)
      AND (user_id % 5 <> 0 OR user_id IS NULL)
    UNION ALL
    SELECT 'txn_clone', user_id, 'new', event_id, ts, value
    FROM events
    WHERE event_id % 30 = 3 AND event_id % 7 <> 0 AND event_id % 2 = 0
      AND (user_id % 5 <> 0 OR user_id IS NULL)
    UNION ALL
    SELECT 'txn_cdc', user_id,
           CASE WHEN event_id % 30 = 2 THEN event_type || '+cdc2'
                ELSE event_type END,
           event_id, ts, value
    FROM events
    WHERE event_id % 30 IN (1, 2) AND event_id % 60 <> 31
    UNION ALL
    SELECT 'txn_stream', user_id, event_type, event_id, ts, value
    FROM events WHERE event_id % 30 = 4
    """,
    tags=("dedup", "window", "acid", "sql-endpoint", "reference:W1,S5b"),
)
def medallion_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-wins, in-engine AND at the storage layer:

      variant='window'     latest event per (user_id, event_type) via
                           max_by over a total (ts, event_id) ordering.
      variant='txn_v0'     time travel: the ACID table's version-0
                           snapshot (the created base slice,
                           event_id % 30 == 1) read back AFTER two
                           appends and a merge have advanced the log.
      variant='txn_merge'  the table after a real on-disk lifecycle:
                           create(base) -> append(event_id % 30 == 2)
                           -> the SAME append replayed with the same
                           (app, batch) txn id (must be skipped, or
                           the hash sees doubled rows) -> MERGE of
                           event_id % 50 == 0 with negated value
                           (updates rows already present, inserts the
                           rest). The oracle reconstructs the final
                           content relationally, so the hash pins the
                           whole commit protocol's row-level outcome.
      variant='txn_sql'    the SAME lifecycle driven ENTIRELY through
                           the SQL endpoint (sources/txsql.py, VERDICT
                           r7 #1): CREATE TABLE..USING txlog AS,
                           three-clause MERGE INTO (WHEN MATCHED AND
                           s.kill THEN DELETE / UPDATE SET * / INSERT
                           *), read back with spark.sql text. Odd base
                           ids are deleted, surviving matches and
                           inserts carry value*2.
      variant='txn_dv'     DELETION VECTORS through the same SQL
                           endpoint: the table registers with
                           delete_mode='dv' and `DELETE FROM txq WHERE
                           event_id % 4 = 0` logs position sidecars —
                           zero data files rewritten (asserted
                           inline) — then the merge-on-read snapshot
                           is hashed against the relational complement.
      variant='txn_sql_restore'  RESTORE TABLE..TO VERSION AS OF 0
                           issued as SQL after the merge; rows must be
                           byte-identical to the created base — pins
                           restore's row-level outcome AND the
                           VERSION AS OF read path (the restored
                           content is read back via time travel over
                           the post-restore history).
      variant='txn_scd'    the FULL Delta MERGE grammar (round 9,
                           VERDICT r8 #3) on the restored table, via
                           spark.sql: two conditional WHEN MATCHED
                           clauses with column-targeted UPDATE SET
                           col = expr over both aliases (value bump vs
                           archive flag, first-true-wins), a
                           conditional WHEN NOT MATCHED INSERT with an
                           explicit column list, and WHEN NOT MATCHED
                           BY SOURCE (DELETE even user_ids, flag the
                           rest with value = -1) — the SCD-style full
                           sync shape. Dispatches to
                           txlog.merge_clauses; the oracle
                           reconstructs all three row populations
                           relationally.
      variant='txn_clone'  SHALLOW CLONE through SQL (round 10): the
                           post-SCD table forks zero-copy (CREATE
                           TABLE txdev SHALLOW CLONE txq — every v0
                           add is an absolute reference, asserted
                           inline), then a COW DELETE runs ON THE
                           EXTERNAL FILES (the uri->key broadcast
                           meta-read path) while the SOURCE's row
                           count must not move (asserted inline); the
                           clone's final content is hashed against
                           the SCD populations minus the deleted
                           slice.
      variant='txn_cdc'    the FULL STREAMING-LAKEHOUSE LOOP (round 9,
                           VERDICT r8 #9) under the driver's hash:
                           events serialize as keyed JSON CDC records
                           into the Kafka-semantics queue (upserts for
                           event_id % 30 IN (1,2), then deletes for
                           % 60 == 31), a checkpointed Structured
                           Streaming query reads them back through the
                           Python Data Source and folds them into a
                           fresh ACID table via cdc_foreach_batch
                           (per-key last-event reduction -> one MERGE
                           with WHEN-MATCHED-DELETE per micro-batch),
                           and the table's snapshot is hashed against
                           the relational complement. ts travels as
                           epoch micros (timestamp_micros round-trip
                           is lossless; JSON timestamp parsing is
                           format-fragile). Round 10: the slice GROWS
                           a `src` column mid-stream — phase 1 applies
                           the narrow contract, phase 2 redeploys the
                           sink with the wider value_ddl over the same
                           checkpoint and schema_mode='merge'
                           auto-widens the table inside the merge
                           commit (asserted inline); the evolved
                           column is folded into the hashed
                           event_type as 'type+src'.
      variant='txn_stream' the NATIVE `writeStream.format("txlog")`
                           sink (round 10, VERDICT r9 #2): the
                           % 30 == 4 slice streams in multi-batch
                           through sources/txlog_batch.py — each
                           micro-batch id riding the commit as the
                           (app, batch) txn marker — then the
                           table-committed-but-checkpoint-uncommitted
                           crash window is simulated and the replayed
                           batch's SKIP is asserted inline before the
                           snapshot is hashed.

    The result is materialized (localCheckpoint) before the scratch
    tables are deleted."""
    import os
    import shutil
    import tempfile

    from aws_payment_data_lake_spark.sources.txlog import TxnTable

    (ev,) = load(spark, sf_dir, "events")
    payload = F.struct(
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )
    ordering = F.struct(F.col("ts"), F.col("event_id"))
    win = (
        ev.groupBy("user_id", "event_type")
        .agg(F.max_by(payload, ordering).alias("_r"))
        .select(F.lit("window").alias("variant"), "user_id", "event_type",
                "_r.last_event_id", "_r.last_ts", "_r.last_value")
    )

    cols = ["event_id", "user_id", "event_type", "value", "ts"]
    mod = F.col("event_id")
    tmp = tempfile.mkdtemp(prefix="txnq-")
    # per-variant wall attribution (VERDICT r10 #6): the slot is ten
    # lifecycles reported as one bench number — BENCH_DETAIL's
    # phase_sec decomposes it. The variant COUNT is FROZEN at ten
    # (same verdict): new lakehouse surface gets its own entries.
    #
    # r13 OPTIMIZATION (guide §2.6 — overlap independent jobs): the
    # four lifecycles (python-API table, SQL-endpoint chain, CDC
    # stream loop, native stream sink) touch DISJOINT state — separate
    # table dirs, checkpoints and catalog names — and only the final
    # union consumes their frames, so they run as concurrent driver
    # threads and Spark's scheduler back-fills the cores one
    # lifecycle's protocol latency (stream startup, commit fsyncs)
    # leaves idle. Union content and ORDER are unchanged (driver hash
    # pinned). Per-variant phase_sec is measured inside each thread:
    # still each variant's own wall, but phases now overlap, so their
    # sum exceeds the slot's wall clock.
    from aws_payment_data_lake_spark.telemetry import PhaseTicker, timed_phase

    def shape(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.lit(tag).alias("variant"), "user_id", "event_type",
            F.col("event_id").alias("last_event_id"),
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"))

    def g_python():
        with timed_phase("medallion_dedup_latest", "txn_python"):
            t = TxnTable(spark, os.path.join(tmp, "t"))
            t.create(ev.where(mod % 30 == 1).select(*cols))
            b = ev.where(mod % 30 == 2).select(*cols)
            t.append(b, txn_app="driver", txn_batch=1)
            t.append(b, txn_app="driver", txn_batch=1)   # replay: no-op
            src = (ev.where(mod % 50 == 0)
                   .select("event_id", "user_id", "event_type",
                           (-F.col("value")).alias("value"), "ts"))
            t.merge(src, on=["event_id"])
        return t

    def g_sql():
        # --- the same lifecycle through the SQL endpoint -----------------
        from aws_payment_data_lake_spark.sources.txsql import (
            LakehouseCatalog,
        )

        marks = PhaseTicker("medallion_dedup_latest")
        marks.tick("txn_sql")
        cat = LakehouseCatalog(spark)
        cat.register("txq", os.path.join(tmp, "t_sql"), delete_mode="dv")
        ev.select(*cols).createOrReplaceTempView("__txq_events")
        cat.sql("CREATE TABLE txq USING txlog AS "
                "SELECT * FROM __txq_events WHERE event_id % 30 = 1")
        cat.sql("""
            MERGE INTO txq AS t
            USING (SELECT event_id, user_id, event_type,
                          value * 2 AS value, ts,
                          event_id % 30 = 1 AND event_id % 2 = 1 AS kill
                   FROM __txq_events WHERE event_id % 30 IN (1, 2)) AS s
            ON t.event_id = s.event_id
            WHEN MATCHED AND s.kill THEN DELETE
            WHEN MATCHED THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *
        """)
        # read through a catalog VIEW (round 12): the stored SELECT
        # expands at read time against the then-current snapshot, so
        # the same view serves both the post-merge and the post-DV
        # reads below — never stale, output identical to the direct
        # SELECT (the driver hash pins that equivalence)
        cat.register_view(
            "txq_latest",
            "SELECT user_id, event_type, event_id, ts, value FROM txq")
        sql_merged = shape(cat.sql("SELECT * FROM txq_latest"),
                           "txn_sql")
        marks.tick("txn_dv")
        dv_res = {r["metric"]: r["value"] for r in cat.sql(
            "DELETE FROM txq WHERE event_id % 4 = 0").collect()}
        assert dv_res.get("files_rewritten", -1) == 0, \
            "dv delete must touch no data file"
        sql_dv = shape(cat.sql("SELECT * FROM txq_latest"), "txn_dv")
        marks.tick("txn_restore")
        cat.sql("RESTORE TABLE txq TO VERSION AS OF 0")
        # read the restored content via TIME TRAVEL at the post-restore
        # head version — pins VERSION AS OF through the SQL path too
        head = cat.table("txq").latest_version()
        sql_restored = shape(cat.sql(
            f"SELECT user_id, event_type, event_id, ts, value "
            f"FROM txq VERSION AS OF {head}"), "txn_sql_restore")
        # --- full Delta MERGE grammar on the restored base (r9) ----------
        marks.tick("txn_scd")
        cat.sql("""
            MERGE INTO txq AS t
            USING (SELECT event_id, user_id, event_type, value, ts
                   FROM __txq_events
                   WHERE event_id % 30 IN (1, 3)
                     AND event_id % 7 <> 0) AS s
            ON t.event_id = s.event_id
            WHEN MATCHED AND t.value < 5
                THEN UPDATE SET value = t.value + 1000
            WHEN MATCHED THEN UPDATE SET event_type = 'archived'
            WHEN NOT MATCHED AND s.event_id % 2 = 0
                THEN INSERT (event_id, user_id, event_type, value, ts)
                     VALUES (s.event_id, s.user_id, 'new', s.value, s.ts)
            WHEN NOT MATCHED BY SOURCE AND t.user_id % 2 = 0 THEN DELETE
            WHEN NOT MATCHED BY SOURCE
                THEN UPDATE SET value = CAST(-1 AS DOUBLE)
        """)
        sql_scd = shape(cat.sql(
            "SELECT user_id, event_type, event_id, ts, value FROM txq"),
            "txn_scd")

        # --- SHALLOW CLONE of the post-SCD table (r10) --------------------
        marks.tick("txn_clone")
        cat.register("txdev", os.path.join(tmp, "t_dev"))
        cat.sql("CREATE TABLE txdev SHALLOW CLONE txq")
        assert all(os.path.isabs(p)
                   for p in cat.table("txdev")._replay().live), \
            "shallow clone must reference, not copy"
        n_src = cat.table("txq").count_rows()
        cat.sql("DELETE FROM txdev WHERE user_id % 5 = 0")
        assert cat.table("txq").count_rows() == n_src, \
            "a clone's delete must never reach the source"
        sql_clone = shape(cat.sql(
            "SELECT user_id, event_type, event_id, ts, value FROM txdev"),
            "txn_clone")
        marks.done()
        return [sql_merged, sql_dv, sql_restored, sql_scd, sql_clone]

    def g_cdc():
        # --- streaming ingest -> ACID, end to end (r9) --------------------
        # Production is PARTITION-PARALLEL (r10, VERDICT r9 #6): the
        # CDC slice serializes to keyed JSON entirely JVM-side
        # (to_json over a struct; nulls drop, parse reads them back
        # null) and produce_distributed writes each queue partition's
        # segment from an executor task through the audit-sink 2PC
        # shape — no corpus-proportional collect anywhere in the
        # variant. Everything downstream — stream read, deserialize,
        # last-event reduction, MERGE — is the engine under test.
        from aws_payment_data_lake_spark.sources.queue_source import (
            produce_distributed,
            stream_queue,
        )
        from aws_payment_data_lake_spark.streaming.cdc import (
            cdc_foreach_batch,
        )

        marks = PhaseTicker("medallion_dedup_latest")
        marks.tick("txn_cdc")

        def _cdc_frame(pred, op, src=None):
            fields = [F.col("event_id"), F.col("user_id"),
                      F.col("event_type"), F.col("value"),
                      F.unix_micros("ts").alias("ts_us"),
                      F.lit(op).alias("_op")]
            if src is not None:
                fields.append(F.lit(src).alias("src"))
            return (ev.where(pred)
                    .select(F.col("event_id").cast("string")
                            .alias("key"),
                            F.to_json(F.struct(*fields))
                            .alias("value")))

        # PHASE 1 — the narrow contract: upserts for the % 30 == 1
        # slice, applied by a checkpointed stream with the narrow ddl
        qdir = os.path.join(tmp, "queue")
        ckpt = os.path.join(tmp, "ckpt")
        produce_distributed(_cdc_frame(mod % 30 == 1, "u"),
                            qdir, "cdc_events")
        cdc_ddl = ("event_id bigint, user_id bigint, "
                   "event_type string, value double, ts_us bigint")
        t_cdc = TxnTable(spark, os.path.join(tmp, "t_cdc"))
        t_cdc.create(spark.createDataFrame([], cdc_ddl))
        q = (stream_queue(spark, qdir, "cdc_events")
             .writeStream
             .foreachBatch(cdc_foreach_batch(t_cdc, ["event_id"],
                                             cdc_ddl,
                                             schema_mode="merge"))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        assert [f.name for f in t_cdc._replay().schema.fields] \
            == ["event_id", "user_id", "event_type", "value",
                "ts_us"], "phase 1 must not widen"
        # PHASE 2 — SOURCE-SCHEMA DRIFT mid-stream (VERDICT r9 #1):
        # the producer grows a `src` column; the sink redeploys with
        # the wider ddl over the SAME checkpoint and the first merge
        # carrying the column auto-widens the table (no ADD COLUMNS).
        # Phase-1 rows read NULL for it; the % 60 == 31 deletes (their
        # records predate the column) still land through the same
        # merge.
        produce_distributed(
            _cdc_frame(mod % 30 == 2, "u", src="cdc2")
            .unionByName(_cdc_frame(mod % 60 == 31, "d")),
            qdir, "cdc_events")
        q = (stream_queue(spark, qdir, "cdc_events")
             .writeStream
             .foreachBatch(cdc_foreach_batch(
                 t_cdc, ["event_id"], cdc_ddl + ", src string",
                 schema_mode="merge"))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        assert [f.name for f in t_cdc._replay().schema.fields] \
            == ["event_id", "user_id", "event_type", "value",
                "ts_us", "src"], "phase 2 must auto-widen"
        cdc_out = t_cdc.snapshot().select(
            F.lit("txn_cdc").alias("variant"), "user_id",
            F.when(F.col("src").isNull(), F.col("event_type"))
            .otherwise(F.concat_ws("+", "event_type", "src"))
            .alias("event_type"),
            F.col("event_id").alias("last_event_id"),
            F.timestamp_micros("ts_us").alias("last_ts"),
            F.col("value").alias("last_value"))
        marks.done()
        return cdc_out

    def g_sink():
        # --- native writeStream.format("txlog") sink (r10, VERDICT
        # r9 #2): exactly-once ingest with the batch id as the log's
        # txn marker. The % 30 == 4 slice streams in through the
        # file source (multi-batch), then the crash window between
        # table-commit and stream-checkpoint-commit is simulated by
        # deleting the stream's last commit marker and restarting —
        # the replayed batch MUST be skipped by the sink (asserted:
        # row count and table version unchanged), and the final
        # snapshot rides the driver hash.
        from aws_payment_data_lake_spark.sources.txlog_batch import (
            write_stream_txlog,
        )

        marks = PhaseTicker("medallion_dedup_latest")
        marks.tick("txn_stream")
        sink_in = os.path.join(tmp, "sink_in")
        (ev.where(mod % 30 == 4)
         .select("event_id", "user_id", "event_type", "value",
                 F.unix_micros("ts").alias("ts_us"))
         .coalesce(4).write.json(sink_in))
        sink_ddl = ("event_id bigint, user_id bigint, "
                    "event_type string, value double, ts_us bigint")
        t_sink = TxnTable(spark, os.path.join(tmp, "t_sink"))
        t_sink.create(spark.createDataFrame([], sink_ddl))
        sck = os.path.join(tmp, "sink_ckpt")

        def _run_sink():
            sdf = (spark.readStream.schema(sink_ddl)
                   .option("maxFilesPerTrigger", "2").json(sink_in))
            sq = (write_stream_txlog(sdf, t_sink.path, sck,
                                     txn_app_id="medallion")
                  .trigger(availableNow=True).start())
            sq.awaitTermination(300)

        _run_sink()
        n_sunk = t_sink.count_rows()
        v_sunk = t_sink.latest_version()
        commits = os.path.join(sck, "commits")
        last_b = max(n for n in os.listdir(commits) if n.isdigit())
        os.remove(os.path.join(commits, last_b))
        try:
            os.remove(os.path.join(commits, f".{last_b}.crc"))
        except OSError:
            pass
        _run_sink()                      # replays the last batch
        assert t_sink.count_rows() == n_sunk \
            and t_sink.latest_version() == v_sunk, \
            "native sink must skip the replayed batch"
        sink_out = t_sink.snapshot().select(
            F.lit("txn_stream").alias("variant"), "user_id",
            "event_type",
            F.col("event_id").alias("last_event_id"),
            F.timestamp_micros("ts_us").alias("last_ts"),
            F.col("value").alias("last_value"))
        marks.done()
        return sink_out

    from concurrent.futures import ThreadPoolExecutor

    # Scale-adaptive concurrency (measured both ways, same box, warm):
    # at 32 cores the 4-way overlap wins (11.8 s vs 16.6 s sequential
    # — protocol latency back-fills); at 8 cores it LOSES badly
    # (30-33 s vs 15.5 s): four lifecycles' stages + two streaming
    # schedulers queue behind each other and the CDC micro-batch
    # latency explodes. The driver benches this suite at a lower core
    # count precisely to see that scaling, so the worker count derives
    # from the session's parallelism, not a constant.
    # Session-conf override (ADVICE r13: defaultParallelism can
    # overstate usable cores on oversubscribed/shared hosts — let a
    # mis-sized deployment dial the worker count without a code edit).
    cores = spark.sparkContext.defaultParallelism
    workers = int(spark.conf.get("spark.lake.medallion.workers",
                                 str(4 if cores >= 24 else 1)))

    try:
        with ThreadPoolExecutor(max_workers=workers) as ex:
            f_py = ex.submit(g_python)
            f_sql = ex.submit(g_sql)
            f_cdc = ex.submit(g_cdc)
            f_sink = ex.submit(g_sink)
            t = f_py.result()
            sql_merged, sql_dv, sql_restored, sql_scd, sql_clone = \
                f_sql.result()
            cdc_out = f_cdc.result()
            sink_out = f_sink.result()

        out = (win.unionByName(shape(t.snapshot(0), "txn_v0"))
               .unionByName(shape(t.snapshot(), "txn_merge"))
               .unionByName(sql_merged)
               .unionByName(sql_dv)
               .unionByName(sql_restored)
               .unionByName(sql_scd)
               .unionByName(sql_clone)
               .unionByName(cdc_out)
               .unionByName(sink_out))
        with timed_phase("medallion_dedup_latest", "union_materialize"):
            out = out.localCheckpoint(eager=True)
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --------------------------------------------------------------------------
# F1-F3 — conjunctive validation filter (etl_transactions_silver.py:24-86).
# Three chained wheres collapse into one Filter that pushes to the scan.
# --------------------------------------------------------------------------
@register(
    "medallion_validate_filter",
    oracle=f"""
    SELECT event_id, user_id, event_type, value, ts
    FROM events
    WHERE value IS NOT NULL AND value >= 1.0
      AND event_type IN {_VALID_EVENT_TYPES!r}
      AND user_id IS NOT NULL
    """,
    tags=("filter", "reference:F1,F2,F3"),
)
def medallion_validate_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + null + IN-list validation, one conjunctive filter."""
    (ev,) = load(spark, sf_dir, "events")
    return (
        ev.where(F.col("value").isNotNull() & (F.col("value") >= 1.0))
        .where(F.col("event_type").isin(*_VALID_EVENT_TYPES))
        .where(F.col("user_id").isNotNull())
        .select("event_id", "user_id", "event_type", "value", "ts")
    )


# --------------------------------------------------------------------------
# Audit split + DQ summary — the reference's *declared* surface
# (README.md:83-87): first-failing-reason per row, counts by reason.
# --------------------------------------------------------------------------
@register(
    "medallion_dq_summary",
    oracle="""
    SELECT coalesce(
             CASE
               WHEN value IS NULL OR value < 1.0 THEN 'low_value'
               WHEN event_type NOT IN ('click','view','purchase','signup')
                 THEN 'unknown_event_type'
               WHEN user_id IS NULL THEN 'missing_user'
             END, 'valid') AS reason,
           count(*) AS row_count
    FROM events GROUP BY 1 ORDER BY 1
    """,
    tags=("audit", "dq", "reference:§1.5.5"),
)
def medallion_dq_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts by first-failing validation reason ('valid' for clean rows)."""
    (ev,) = load(spark, sf_dir, "events")
    reason = (
        F.when(F.col("value").isNull() | (F.col("value") < 1.0), "low_value")
        .when(~F.col("event_type").isin(*_VALID_EVENT_TYPES), "unknown_event_type")
        .when(F.col("user_id").isNull(), "missing_user")
        .otherwise("valid")
    )
    return (
        ev.groupBy(reason.alias("reason"))
        .agg(F.count(F.lit(1)).alias("row_count"))
        .orderBy("reason")
    )


# --------------------------------------------------------------------------
# P8 — CASE WHEN status curation (etl_transactions_silver.py:89-112).
# --------------------------------------------------------------------------
@register(
    "medallion_curate_status",
    oracle="""
    SELECT o_orderstatus,
           CASE o_orderstatus
             WHEN 'O' THEN 'OPEN' WHEN 'F' THEN 'FULFILLED'
             WHEN 'P' THEN 'PENDING' ELSE 'UNKNOWN'
           END AS status_curated,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders GROUP BY 1, 2 ORDER BY 1
    """,
    tags=("projection", "case-when", "reference:P8"),
)
def medallion_curate_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw -> curated status mapping with per-status rollup."""
    (orders,) = load(spark, sf_dir, "orders")
    curated = (
        F.when(F.col("o_orderstatus") == "O", "OPEN")
        .when(F.col("o_orderstatus") == "F", "FULFILLED")
        .when(F.col("o_orderstatus") == "P", "PENDING")
        .otherwise("UNKNOWN")
    )
    return (
        orders.groupBy(F.col("o_orderstatus"), curated.alias("status_curated"))
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_price"))
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# P1-P4 — the reference's projection transforms, one tagged-union slot
# (round-5 fold per VERDICT r4 #8: two near-duplicate single-projection
# rows merged so the freed slot registers the Gopher repetition gate;
# every P-operator keeps a driver-hash-checked variant):
#   P4    trim/upper string normalization, applied for real (the
#         reference's version is an accidental no-op, SURVEY.md §1.5.1)
#   P1-P3 typed casts + partition-column derivation
#         (etl_transactions_bronze.py:24-38,83-94)
# --------------------------------------------------------------------------
@register(
    "medallion_cast_derive_date",
    oracle="""
    SELECT 'cast' AS variant, event_id AS rec_id,
           CAST(CAST(ts AS DATE) AS VARCHAR) AS col_a,
           CAST(year(ts) AS VARCHAR) AS col_b,
           CAST(month(ts) AS VARCHAR) || ':' || CAST(hour(ts) AS VARCHAR)
             AS col_c
    FROM events
    UNION ALL
    SELECT 'normalise' AS variant, c_custkey AS rec_id,
           upper(trim(c_name)) AS col_a,
           upper(trim(c_mktsegment)) AS col_b,
           CAST(NULL AS VARCHAR) AS col_c
    FROM customer
    ORDER BY variant, rec_id
    """,
    tags=("projection", "cast", "string", "reference:P1,P2,P3,P4"),
)
def medallion_cast_derive_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference projection transforms, both shapes in one tagged union:

      variant='cast'       timestamp -> date/year/month/hour derivations
                           (the bronze partition-column shape), rendered
                           to strings so the union schema is uniform —
                           the rendering is deterministic and identical
                           cross-engine, so the hash check still pins
                           the cast semantics.
      variant='normalise'  trim + uppercase over customer's string
                           columns (the transform the reference shipped
                           as an accidental no-op).
    """
    ev, cust = load(spark, sf_dir, "events", "customer")
    cast_rows = ev.select(
        F.lit("cast").alias("variant"),
        F.col("event_id").alias("rec_id"),
        F.to_date("ts").cast("string").alias("col_a"),
        F.year("ts").cast("string").alias("col_b"),
        F.concat(F.month("ts").cast("string"), F.lit(":"),
                 F.hour("ts").cast("string")).alias("col_c"),
    )
    norm_rows = cust.select(
        F.lit("normalise").alias("variant"),
        F.col("c_custkey").alias("rec_id"),
        F.upper(F.trim(F.col("c_name"))).alias("col_a"),
        F.upper(F.trim(F.col("c_mktsegment"))).alias("col_b"),
        F.lit(None).cast("string").alias("col_c"),
    )
    return cast_rows.unionByName(norm_rows).orderBy("variant", "rec_id")
