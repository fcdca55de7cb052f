"""SQL surface over the ACID table format (VERDICT r7 #1).

The engine's declared query surface is SQL (SURVEY.md §2.1 S9 — the
Athena stand-in, /root/reference/README.md:33,67,88-89), but the
lakehouse layer's MERGE / time travel / RESTORE shipped as Python
method calls on ``TxnTable``. This module binds them to ``spark.sql``
the way Delta Lake binds its own (Armbrust et al., VLDB 2020): reads
are PURE Catalyst — every registered table resolves to a temp view
over the snapshot's pinned file list, so predicate pushdown, pruning
and whole-stage codegen all apply untouched — while the transactional
verbs (MERGE INTO, UPDATE, DELETE, RESTORE, OPTIMIZE, VACUUM) parse a
Delta-shaped grammar subset and dispatch to the commit protocol in
``sources/txlog.py``.

Grammar subset (case-insensitive keywords):

  SELECT/WITH ... FROM t [VERSION AS OF n | TIMESTAMP AS OF 'ts'] ...
  SELECT ... FROM table_changes('t', start [, end] [, true])
                  -- CDF; start INCLUSIVE (Delta's contract), end
                  -- bounds the range, true adds _change_type + DV
                  -- delete pre-image events
  SELECT ... FROM table_files('t' [, version])   -- file manifest
  SELECT ... FROM table_history('t')             -- commit history
  CREATE [OR REPLACE] TABLE t [USING txlog] [PARTITIONED BY (c,..)]
      [TBLPROPERTIES ('k'='v',..)] AS <select>
      -- USING is optional: bare CTAS defaults to txlog (Delta's
      -- default-format semantics); a non-txlog USING is refused
      -- with a pointer. REPLACE = one commit swapping content +
      -- metadata wholesale, history preserved (time travel reads
      -- the old table); unspecified TBLPROPERTIES reset (Delta
      -- semantics)
  CREATE [OR REPLACE] TABLE t (c type [NOT NULL] [DEFAULT expr]
                  [GENERATED ALWAYS AS (expr)]
                  [GENERATED ALWAYS AS IDENTITY
                   [(START WITH n [INCREMENT BY m])]], ...) [USING txlog]
      [PARTITIONED BY (c,..)]        -- partition col may be generated
      [TBLPROPERTIES ('k'='v',..)]
  ALTER TABLE t ALTER COLUMN c SET DEFAULT expr | DROP DEFAULT
  CONVERT TO TXLOG t                -- adopt existing parquet, zero copy
  CREATE TABLE t2 LIKE t1 [TBLPROPERTIES (...)]
      -- empty table with t1's full metadata (schema/partitioning/
      -- constraints/generated/identity/defaults/properties)
  UNDROP TABLE t                    -- restore a dropped name from the
      -- catalog log's history (data was never deleted)
  CREATE TABLE t2 [SHALLOW|DEEP] CLONE t1
      [VERSION AS OF n | TIMESTAMP AS OF 'ts']
      -- SHALLOW = zero-copy fork; DEEP = independent one-commit copy
  SHOW TABLES [IN db] | DROP TABLE [IF EXISTS] t
      | ALTER TABLE t RENAME TO t2
      -- catalog verbs; durable when the catalog has a warehouse
      -- (drop/rename never touch data — Glue's external-table posture)
  CREATE [OR REPLACE] VIEW v AS <select> | DROP VIEW [IF EXISTS] v
      -- PERSISTENT views (round 12): the SELECT text lives in the
      -- catalog log and expands at read time against the
      -- then-current snapshots (views over views, time travel under
      -- views); TEMP/TEMPORARY forms stay session statements
  CREATE DATABASE [IF NOT EXISTS] db | DROP DATABASE [IF EXISTS] db
      [CASCADE] | SHOW DATABASES | USE db
      | SHOW VIEWS [IN db] | DESCRIBE DATABASE db
      -- namespaces (round 12): every table verb takes db.table;
      -- bare names are the `default` database (or the USE'd one);
      -- the reference's from_catalog(database=..., table_name=...)
      -- addressing (src/glue_jobs/etl_transactions_bronze.py:123)
  SHOW CREATE TABLE t               -- re-runnable DDL from the snapshot
      -- (catalog.crawl() is the API-side crawler: registers txlog
      -- tables that appeared under the warehouse outside the job path)
  COPY INTO t FROM '<dir>' FILEFORMAT = PARQUET|JSON|CSV
      [PATTERN = '<glob>'] [FORMAT_OPTIONS ('k' = 'v', ...)]
                                    -- idempotent landing-zone ingest
  INSERT INTO t [(c, ...)] <select> | VALUES (v, ...) [, ...]
  INSERT INTO t REPLACE WHERE <cond> <select>
      -- Delta's replaceWhere: atomically replace exactly the
      -- matching slice (incoming rows must satisfy the predicate)
  INSERT OVERWRITE t <select>
  MERGE [WITH SCHEMA EVOLUTION] INTO t [AS a]
      USING (<select>) | view [AS b] ON a.k = b.k [AND ..]
      [WHEN MATCHED [AND <cond>] THEN DELETE
                                    | UPDATE SET *
                                    | UPDATE SET c = expr [, ...]] ...
      [WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN INSERT *
                                    | INSERT (c,..) VALUES (e,..)] ...
      [WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN DELETE
                                    | UPDATE SET c = expr [, ...]] ...
  UPDATE t SET c = expr [, ...] [WHERE cond]
  DELETE FROM t [WHERE cond]
  RESTORE TABLE t TO VERSION AS OF n | TO TIMESTAMP AS OF 'ts'
  OPTIMIZE t [WHERE c BETWEEN lo AND hi] [ZORDER BY (c [, ...])]
  REORG TABLE t APPLY (PURGE [WHERE DEAD_FRAC > x])
  VACUUM t [RETAIN n VERSIONS | RETAIN n HOURS] [DRY RUN]
  DESCRIBE HISTORY t | DESCRIBE DETAIL t | SHOW TBLPROPERTIES t
  ALTER TABLE t SET TBLPROPERTIES ('k' = 'v', ...)
  ALTER TABLE t UNSET TBLPROPERTIES ('k', ...)
      -- engine keys: txlog.appendOnly (true blocks DELETE/UPDATE/
      -- MERGE/overwrite/restore), txlog.checkpointInterval
  ALTER TABLE t ADD CONSTRAINT name CHECK (expr)
  ALTER TABLE t DROP CONSTRAINT name
  ALTER TABLE t ADD COLUMNS (c type [, ...])
  ALTER TABLE t RENAME COLUMN a TO b       -- metadata-only (mapping)
  ALTER TABLE t ALTER COLUMN c TYPE bigint -- safe widening, zero files
  ALTER TABLE t DROP COLUMN c | DROP COLUMNS (a, b)

``SELECT COUNT(*) FROM t [VERSION AS OF n]`` (exactly that shape, any
alias) is answered from the LOG alone — the sum of live files' footer
row counts, zero data files opened (Delta's metadata-only count).

MERGE carries the full Delta clause set (VERDICT r8 #3): multiple
conditional WHEN MATCHED clauses (first-true-wins), column-targeted
``UPDATE SET c = expr`` referencing both aliases, conditional inserts
with explicit column lists, and ``WHEN NOT MATCHED BY SOURCE``. Every
MERGE hands its parsed clauses to ``txlog.merge_clauses``, which picks
its plan from them (a star shape that reads no target column runs the
lean replace plan). Extra source columns such as a delete flag are
dropped on write — unless ``WITH SCHEMA EVOLUTION`` (Delta's statement-scoped
autoMerge, round 10) is given, in which case new source columns widen
the target inside the merge commit, old files read NULL for them, and
a source missing a table column keeps the target's value on
update_star / inserts NULL on insert_star.
The ON clause must be an AND-conjunction of equalities on
SAME-NAMED key columns, which is what a CDC key join is. DML verbs
return a one-row metrics DataFrame (Delta returns operation metrics
the same way).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import re
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.sources import sqllex
from aws_payment_data_lake_spark.sources.catalog import (
    CatalogLog,
    DatabaseExistsError,
    DatabaseNotEmptyError,
    NoSuchDatabaseError,
    NoSuchTableError,
    TableExistsError,
    entry_path,
)
from aws_payment_data_lake_spark.sources.txlog import TxnTable

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
# a table target: optionally database-qualified (db.table) — the
# reference's from_catalog(database=..., table_name=...) addressing
_TNAME = rf"{_IDENT}(?:\.{_IDENT})?"
_DEFAULT_DB = "default"
# a parenthesized body — matched over the lexer's literal-masked
# projection (sqllex), where a ')' inside a string is \x00, so the
# closing paren that ends the group is always structural (the round-12
# fuzz-found quoted-paren case is handled by construction now)
_PBODY = r"\(([^)]*)\)"


def _view_name(key: str) -> str:
    """Temp-view name for a catalog key. Bare keys keep their own
    name (stable view, as before); qualified keys mangle under a
    reserved __lake_q__ prefix so binding ``db.t`` can never collide
    with a registered table literally named ``db__t``."""
    return (key if "." not in key
            else "__lake_q__" + key.replace(".", "__"))


def _ts_to_epoch(ts: str) -> float:
    """'2024-01-01 00:00:00[.ffffff]' (naive = UTC, matching the
    session timezone pin) -> unix seconds."""
    d = dt.datetime.fromisoformat(ts)
    if d.tzinfo is None:
        d = d.replace(tzinfo=dt.timezone.utc)
    return d.timestamp()


class LakehouseCatalog:
    """Name -> TxnTable registry + the ``sql()`` endpoint.

    Without a ``warehouse``, one catalog per application; registration
    is cheap (no I/O until a statement touches the table). WITH a
    ``warehouse`` directory, registrations are DURABLE — written
    through a crash-safe versioned catalog log
    (``<warehouse>/_catalog/``, sources/catalog.py), so a fresh OS
    process constructing ``LakehouseCatalog(spark, warehouse=...)``
    resolves every table by name with zero ``register()`` calls — the
    reference's Glue-Data-Catalog role
    (/root/reference/README.md:63,79-80). ``sql()`` re-reads the
    catalog head when it changed (one readdir), so tables created by
    ANOTHER live process appear without restarts — the crawler-keeps-
    it-current behavior. Unregistered names pass through to the
    session catalog untouched, so lakehouse tables and ordinary views
    mix freely in one statement.
    """

    def __init__(self, spark: SparkSession,
                 warehouse: str | None = None) -> None:
        self.spark = spark
        self._tables: dict[str, TxnTable] = {}
        self._delete_mode: dict[str, str] = {}
        self._nview = 0
        self._log = CatalogLog(warehouse) if warehouse else None
        self._durable: set[str] = set()
        self._databases: set[str] = set()   # beside implicit 'default'
        self._views: dict[str, str] = {}    # key -> SELECT text
        self._ext: dict[str, dict] = {}     # key -> external entry
        self._current_db = _DEFAULT_DB      # USE db changes it
        self._seen_version = -2           # forces the first refresh
        self._refresh()
        # one catalog construction makes the whole surface available:
        # spark.read/write/writeStream.format("txlog") works without a
        # separate registration call (idempotent)
        from aws_payment_data_lake_spark.sources.txlog_batch import (
            register_txlog_source,
        )
        register_txlog_source(spark)

    # ------------------------------------------------------------ registry
    @property
    def warehouse(self) -> str | None:
        return self._log.warehouse if self._log else None

    def _refresh(self) -> None:
        """Sync the in-memory view with the durable catalog head.
        Head-version short-circuit: one readdir when unchanged —
        cheap enough to run per statement."""
        if self._log is None:
            return
        head = self._log.head_version()
        if head == self._seen_version:
            return
        _, entries, dbs = self._log.load_all(
            head if head >= 0 else None)
        self._databases = set(dbs)
        for name in self._durable - set(entries):
            self._tables.pop(name, None)   # dropped by another process
            self._delete_mode.pop(name, None)
            self._views.pop(name, None)
            self._ext.pop(name, None)
        for name, e in entries.items():
            if e.get("kind") == "view":    # persistent view: SQL text
                self._views[name] = dict(e)
                self._tables.pop(name, None)
                self._delete_mode.pop(name, None)
                self._ext.pop(name, None)
                continue
            if e.get("format") in ("parquet", "csv"):
                # crawled raw-zone table: read-only external
                self._ext[name] = dict(e)
                self._tables.pop(name, None)
                self._delete_mode.pop(name, None)
                self._views.pop(name, None)
                continue
            self._views.pop(name, None)
            self._ext.pop(name, None)
            cur = self._tables.get(name)
            if cur is None or cur.path != os.path.abspath(e["path"]):
                self._tables[name] = TxnTable(self.spark, e["path"])
            self._delete_mode[name] = e.get("delete_mode", "cow")
        self._durable = set(entries)
        self._seen_version = head

    # -------------------------------------------------- namespaces
    def _qualify(self, name: str) -> str:
        """Catalog KEY for a (possibly qualified) table name under the
        current database. Bare keys ARE the default database, so
        ``default.t`` normalizes to ``t``; an unqualified name under
        ``USE db`` lives at ``db.t`` (strict Hive/Spark semantics —
        no silent fallback to default). Raises NoSuchDatabaseError
        for a database the catalog does not hold."""
        if "." in name:
            db, tbl = name.split(".", 1)
            if db == _DEFAULT_DB:
                return tbl
            self._refresh()
            if db not in self._databases:
                raise NoSuchDatabaseError(
                    f"database '{db}' does not exist; CREATE DATABASE "
                    f"{db} first (have: "
                    f"{sorted(self._databases) or ['default']})")
            return name
        if self._current_db != _DEFAULT_DB:
            # a concurrently dropped USE'd database must not silently
            # receive new registrations
            self._refresh()
            if self._current_db not in self._databases:
                raise NoSuchDatabaseError(
                    f"current database '{self._current_db}' was "
                    "dropped; USE another")
            return f"{self._current_db}.{name}"
        return name

    def _key_of(self, name: str) -> str:
        """Non-raising catalog-KEY derivation shared by the resolve
        family (one copy of the db-splitting/default rules)."""
        if "." in name:
            db, tbl = name.split(".", 1)
            return tbl if db == _DEFAULT_DB else name
        if self._current_db != _DEFAULT_DB:
            return f"{self._current_db}.{name}"
        return name

    def _resolve(self, name: str) -> str | None:
        """Registered catalog key for a table reference, or None —
        the non-raising twin of _qualify (unknown names must fall
        through to spark.sql untouched)."""
        key = self._key_of(name)
        return (key if key in self._tables or key in self._ext
                else None)

    def _resolve_view(self, name: str) -> str | None:
        """Registered view key for a reference, or None — the view
        twin of _resolve."""
        key = self._key_of(name)
        return key if key in self._views else None

    # -------------------------------------------------------- views
    def register_view(self, name: str, select: str,
                      or_replace: bool = False) -> str:
        """CREATE [OR REPLACE] VIEW: the SELECT text stored in the
        catalog log (a ``kind: view`` entry beside tables), expanded
        at read time against the THEN-current snapshots — the
        reference's Athena analytics layer
        (/root/reference/README.md:88-89) is exactly this: named SQL
        over silver that analysts resolve fresh per query. The text
        is analyzed once up front so a broken view fails its author,
        not its readers. Durable with a warehouse; session-local
        otherwise. Returns the catalog key."""
        key = self._qualify(name)
        self._refresh()
        if self._resolve(key) is not None:
            raise TableExistsError(
                f"'{key}' is a lakehouse TABLE; pick another name")
        if key in self._views and not or_replace:
            raise TableExistsError(f"view '{key}' exists "
                                   "(use CREATE OR REPLACE VIEW)")
        # fail-fast analysis: bind + plan, no execution
        self.spark.sql(self._bind_reads(select)).schema
        # the text's bare references were resolved under the
        # CREATOR's current database — record it so a reader under a
        # different USE db expands the view in its DEFINING context
        # (Hive stores pre-expanded text for the same reason)
        entry = {"kind": "view", "sql": select,
                 "ctx_db": self._current_db}
        if self._log is not None:
            def put(tables: dict) -> dict:
                cur = tables.get(key)
                if cur is not None and cur.get("kind") != "view":
                    raise TableExistsError(
                        f"'{key}' is a lakehouse TABLE")
                if cur is not None and not or_replace:
                    raise TableExistsError(f"view '{key}' exists")
                tables[key] = entry
                return tables

            self._log.commit("create_view", key, put)
            self._seen_version = -2
            self._refresh()
        else:
            self._views[key] = entry
        return key

    def drop_view(self, name: str, if_exists: bool = False) -> bool:
        key = self._resolve_view(name)
        if key is None:
            self._refresh()
            key = self._resolve_view(name)
        if key is None:
            if if_exists:
                return False
            raise NoSuchTableError(f"view '{name}' does not exist"
                                   + (" (that name is a TABLE)"
                                      if self._resolve(name) else ""))
        if key in self._durable:
            def rm(tables: dict) -> dict:
                cur = tables.get(key)
                if cur is not None and cur.get("kind") != "view":
                    # another process dropped the view and re-created
                    # the name as a TABLE — popping it here would
                    # silently unregister their table
                    raise TableExistsError(
                        f"'{key}' is now a TABLE (concurrent "
                        "re-create); not dropping it")
                tables.pop(key, None)
                return tables
            self._log.commit("drop_view", key, rm)
            self._seen_version = -2
        self._views.pop(key, None)
        self._durable.discard(key)
        self._refresh()
        self.spark.catalog.dropTempView(_view_name(key))
        return True

    def use(self, db: str) -> None:
        """USE db: unqualified names now resolve in ``db``.
        Session-local (each application picks its own working
        database, like Spark's session catalog)."""
        if db != _DEFAULT_DB:
            self._refresh()
            if db not in self._databases:
                raise NoSuchDatabaseError(
                    f"database '{db}' does not exist")
        self._current_db = db

    def databases(self) -> list[str]:
        self._refresh()
        return [_DEFAULT_DB] + sorted(self._databases)

    def create_database(self, db: str, if_not_exists: bool = False
                        ) -> bool:
        """CREATE DATABASE: a durable namespace entry. Returns True
        when created, False when it already existed (if_not_exists).
        The CAS commit makes a same-name race lose cleanly."""
        if self._log is None:
            raise ValueError("CREATE DATABASE needs a warehouse: "
                             "LakehouseCatalog(spark, warehouse=...)")
        if db == _DEFAULT_DB:
            if if_not_exists:
                return False
            raise DatabaseExistsError("'default' always exists")
        created = {"done": False}

        def put(dbs: dict) -> dict:
            if db in dbs:
                if if_not_exists:
                    created["done"] = False
                    return dbs
                raise DatabaseExistsError(f"database '{db}' exists")
            dbs[db] = {"created_ts": time.time()}
            created["done"] = True
            return dbs

        def guard(tables: dict, dbs: dict) -> None:
            if db in tables:
                raise TableExistsError(
                    f"a default-db table/view named '{db}' exists; "
                    "a database may not share its name (crawl would "
                    "descend the table's directory as a database)")

        self._log.commit("create_database", db, None, put,
                         validate=guard)
        self._seen_version = -2
        self._refresh()
        return created["done"]

    def drop_database(self, db: str, cascade: bool = False,
                      if_exists: bool = False) -> int:
        """DROP DATABASE: refuses while tables remain unless CASCADE
        (which unregisters the NAMES — data is never deleted, the
        catalog's uniform posture). Returns tables unregistered."""
        if self._log is None:
            raise ValueError("DROP DATABASE needs a warehouse")
        if db == _DEFAULT_DB:
            raise ValueError("cannot drop the default database")
        self._refresh()
        if db not in self._databases:
            if if_exists:
                return 0
            raise NoSuchDatabaseError(f"database '{db}' does not exist")
        prefix = f"{db}."
        dropped = {"n": 0}

        def rm_tables(tables: dict) -> dict:
            members = [k for k in tables if k.startswith(prefix)]
            if members and not cascade:
                raise DatabaseNotEmptyError(
                    f"database '{db}' holds {sorted(members)}; use "
                    f"CASCADE to unregister them (data is kept)")
            for k in members:
                tables.pop(k)
            dropped["n"] = len(members)
            return tables

        def rm_db(dbs: dict) -> dict:
            dbs.pop(db, None)
            return dbs

        self._log.commit("drop_database", db, rm_tables, rm_db)
        self._seen_version = -2
        if self._current_db == db:
            self._current_db = _DEFAULT_DB
        self._refresh()
        return dropped["n"]

    def register(self, name: str, path: str | None = None,
                 delete_mode: str = "cow", persist: bool | None = None,
                 **kw: Any) -> TxnTable:
        """``delete_mode`` is the table's DELETE strategy (Delta models
        this as a table property, not statement syntax): 'cow' rewrites
        matching files; 'dv' logs deletion vectors — merge-on-read, no
        data file touched.

        With a warehouse, registration is durable by default
        (``persist=False`` opts a session-local name out) and ``path``
        may be omitted — the managed location is
        ``<warehouse>/<name>``. Registration is an upsert (re-binding
        a name to a new path is how a crawler repoints a table);
        CREATE-colliding-with-existing stays the TABLE's business
        (the log refuses a second version 0)."""
        if delete_mode not in ("cow", "dv"):
            raise ValueError(f"delete_mode must be 'cow' or 'dv', "
                             f"got {delete_mode!r}")
        name = self._qualify(name)        # db must exist; default.t -> t
        if name in self._views:
            raise TableExistsError(
                f"'{name}' is a VIEW; DROP VIEW {name} first")
        durable = (self._log is not None) if persist is None else persist
        if durable and self._log is None:
            raise ValueError("persist=True needs a warehouse: "
                             "LakehouseCatalog(spark, warehouse=...)")
        if path is None:
            if self._log is None:
                raise ValueError(
                    "register() needs a path (no warehouse to derive "
                    "a managed location from)")
            path = entry_path(self._log.warehouse, name)
        if durable:
            entry = {"path": os.path.abspath(path),
                     "delete_mode": delete_mode}

            def put(tables: dict) -> dict:
                cur = tables.get(name)
                if cur is not None and cur.get("kind") == "view":
                    raise TableExistsError(
                        f"'{name}' is a VIEW (possibly created "
                        "concurrently); DROP VIEW first")
                tables[name] = entry
                return tables

            def guard(tables: dict, dbs: dict) -> None:
                if "." not in name and name in dbs:
                    raise TableExistsError(
                        f"'{name}' is a DATABASE; a default-db table "
                        "may not share its name")

            self._log.commit("register", name, put, validate=guard)
            self._seen_version = -2        # re-sync from the new head
            self._refresh()
            if kw:                         # construction kwargs are
                t = TxnTable(self.spark, path, **kw)   # session-local
                self._tables[name] = t
            return self._tables[name]
        t = TxnTable(self.spark, path, **kw)
        self._tables[name] = t
        self._delete_mode[name] = delete_mode
        return t

    def register_external(self, name: str, path: str,
                          fmt: str = "parquet",
                          schema: str | None = None,
                          options: dict[str, str] | None = None
                          ) -> str:
        """Register a RAW-ZONE directory (plain parquet, or CSV with
        an explicit DDL ``schema``) as a read-only external table —
        the Glue-crawler half the txlog-only crawl() lacked
        (/root/reference/README.md:63,79-80: crawlers populate the
        catalog from S3 data the jobs then read). Parquet layouts may
        be Hive-partitioned (``k=v`` dirs auto-discover as columns
        via Spark's reader). CSV WITHOUT a schema is REFUSED loudly —
        silent all-string inference is the crawler bug everyone has
        been bitten by. DML targets refuse with a CONVERT pointer.
        Returns the catalog key."""
        key = self._qualify(name)
        self._refresh()
        if key in self._tables or key in self._views:
            raise TableExistsError(
                f"'{key}' already resolves (table/view)")
        if fmt not in ("parquet", "csv"):
            raise ValueError(f"external format must be parquet|csv, "
                             f"got {fmt!r}")
        if fmt == "csv" and not schema:
            raise ValueError(
                f"registering CSV dir {path!r} needs an explicit DDL "
                "schema= (refusing silent all-string inference)")
        entry: dict[str, Any] = {"path": os.path.abspath(path),
                                 "format": fmt}
        if schema:
            entry["schema"] = schema
        if options:
            entry["options"] = dict(options)
        if self._log is not None:
            def put(tables: dict) -> dict:
                cur = tables.get(key)
                if cur is not None and (cur.get("kind") == "view"
                                        or "format" not in cur):
                    raise TableExistsError(
                        f"'{key}' resolves as a "
                        + ("VIEW" if cur.get("kind") == "view"
                           else "txlog TABLE")
                        + " (possibly created concurrently)")
                tables[key] = entry
                return tables

            def guard(tables: dict, dbs: dict) -> None:
                if "." not in key and key in dbs:
                    raise TableExistsError(
                        f"'{key}' is a DATABASE; a default-db table "
                        "may not share its name")

            self._log.commit("register_external", key, put,
                             validate=guard)
            self._seen_version = -2
            self._refresh()
        else:
            self._ext[key] = entry
        return key

    def _ext_frame(self, key: str) -> DataFrame:
        e = self._ext[key]
        reader = self.spark.read.options(**e.get("options", {}))
        if e.get("schema"):
            reader = reader.schema(e["schema"])
        if e["format"] == "csv":
            return reader.option("header", e.get("options", {})
                                 .get("header", "true")).csv(e["path"])
        return reader.parquet(e["path"])

    def unregister(self, name: str) -> None:
        """DROP TABLE: remove the NAME. Data and log are untouched
        (every registration is 'external' in Delta's sense — the
        catalog never deletes bytes; vacuum is the deletion story)."""
        name = self._resolve(name) or self._qualify(name)
        if name in self._views:
            raise ValueError(
                f"'{name}' is a VIEW; use drop_view()/DROP VIEW")
        if name in self._durable:
            def rm(tables: dict) -> dict:
                cur = tables.get(name)
                if cur is not None and cur.get("kind") == "view":
                    raise ValueError(
                        f"'{name}' is now a VIEW (concurrent "
                        "re-create); use DROP VIEW")
                tables.pop(name, None)
                return tables
            self._log.commit("drop", name, rm)
            self._seen_version = -2
        self._tables.pop(name, None)
        self._delete_mode.pop(name, None)
        self._ext.pop(name, None)
        self._durable.discard(name)
        self._refresh()

    def rename_table(self, old: str, new: str) -> None:
        """ALTER TABLE old RENAME TO new: pure catalog metadata — the
        data location does not move (Glue/Delta-external behavior).
        Raises NoSuchTableError/TableExistsError; the CAS loop makes
        the check-and-swap atomic under concurrent catalogs."""
        self._refresh()
        if self._resolve_view(old) is not None:
            raise ValueError(
                f"'{old}' is a VIEW; drop and recreate it")
        old = self._resolve(old) or self._qualify(old)
        new = self._qualify(new)
        if old in self._durable:
            def mv(tables: dict) -> dict:
                if old not in tables:
                    raise NoSuchTableError(old)
                if new in tables:
                    raise TableExistsError(new)
                tables[new] = tables.pop(old)
                return tables
            self._log.commit("rename", f"{old}->{new}", mv)
            self._seen_version = -2
            self._refresh()
            return
        if old not in self._tables:
            raise NoSuchTableError(old)
        if new in self._tables:
            raise TableExistsError(new)
        self._tables[new] = self._tables.pop(old)
        self._delete_mode[new] = self._delete_mode.pop(old, "cow")

    def undrop(self, name: str) -> str:
        """UNDROP TABLE: DROP removes only the NAME and the catalog
        log keeps full history, so the last registration of a dropped
        name can be restored (Databricks' UNDROP, free here by
        construction). Returns the restored path."""
        if self._log is None:
            raise ValueError("undrop needs a warehouse catalog")
        self._refresh()
        name = self._qualify(name)
        if (name in self._tables or name in self._views
                or name in self._ext):
            raise TableExistsError(
                f"'{name}' is not dropped (it resolves)")
        for v in range(self._log.head_version(), -1, -1):
            try:
                _, tables = self._log.load(v)
            except FileNotFoundError:
                continue                 # pruned by catalog vacuum
            if name in tables:
                e = tables[name]
                if e.get("format") in ("parquet", "csv"):
                    self.register_external(
                        f"{_DEFAULT_DB}.{name}" if "." not in name
                        else name,
                        e["path"], fmt=e["format"],
                        schema=e.get("schema"),
                        options=e.get("options"))
                    return e["path"]
                if e.get("kind") == "view":
                    saved_db = self._current_db
                    try:
                        self._current_db = e.get("ctx_db", _DEFAULT_DB)
                        self.register_view(
                            f"{_DEFAULT_DB}.{name}" if "." not in name
                            else name, e["sql"])
                    finally:
                        self._current_db = saved_db
                    return e["sql"]
                self.register(
                    f"{_DEFAULT_DB}.{name}" if "." not in name
                    else name,
                    e["path"],
                    delete_mode=e.get("delete_mode", "cow"))
                return e["path"]
        raise NoSuchTableError(
            f"'{name}' never existed in this catalog")

    def stream_table(self, name: str, starting_version: int = 0,
                     read_change_feed: bool = False,
                     max_files_per_trigger: int = 0) -> DataFrame:
        """``spark.readStream.table(name)`` for the lakehouse: the
        catalog-name twin of ``stream_table_feed`` (Delta's
        table-as-a-stream addressed the Glue way — by name, not
        path). Resolves qualified names through the durable catalog,
        so a fresh process streams ``payments_db.silver`` with zero
        setup."""
        from aws_payment_data_lake_spark.sources.txlog_stream import (
            register_txlog_feed,
        )
        t = self.table(name)          # guided errors for views/ext
        register_txlog_feed(self.spark)
        r = (self.spark.readStream.format("txlog_feed")
             .option("path", t.path)
             .option("startingVersion", str(starting_version))
             .option("readChangeFeed", str(read_change_feed).lower()))
        if max_files_per_trigger:
            r = r.option("maxFilesPerTrigger",
                         str(max_files_per_trigger))
        return r.load()

    def table(self, name: str) -> TxnTable:
        key = self._resolve(name)
        if key is None:
            self._refresh()                # maybe another process made it
            key = self._resolve(name)
        if key is None:
            if self._resolve_view(name) is not None:
                raise KeyError(
                    f"'{name}' is a VIEW — readable in queries, but "
                    "not a transactional-verb target")
            raise KeyError(f"'{name}' is not a registered lakehouse table; "
                           f"registered: {sorted(self._tables)}")
        if key in self._ext:
            raise KeyError(
                f"'{name}' is a read-only EXTERNAL "
                f"{self._ext[key].get('format')} table (crawled raw "
                f"zone); CONVERT TO TXLOG {name} to make it "
                "transactional")
        return self._tables[key]

    def crawl(self) -> list[str]:
        """The reference's CRAWLER role (README.md:63,79-80 — Glue
        crawlers keep the catalog current with data that appeared
        outside the job path): walk the warehouse for directories no
        catalog entry points at and register each durably under its
        directory name — txlog dirs (`_txlog/`) as transactional
        tables, plain-parquet zones (incl. Hive-partitioned) as
        READ-ONLY external tables (round 12; CONVERT TO TXLOG
        promotes them in place), and database directories' children
        as db.table. CSV dirs are skipped — register_external(...,
        fmt='csv', schema=...) is the explicit path, because silent
        all-string inference is the classic crawler bug. Returns the
        newly registered names. A path already registered under
        ANOTHER name is left alone (renames stay renames); name
        collisions keep the existing entry (the catalog is the source
        of truth, the crawler only fills gaps)."""
        if self._log is None:
            raise ValueError("crawl() needs a warehouse")
        self._refresh()
        known_paths = ({t.path for t in self._tables.values()}
                       | {os.path.abspath(e["path"])
                          for e in self._ext.values()})
        found: list[str] = []
        wh = self._log.warehouse

        def holds_parquet(dirpath: str) -> bool:
            for dp, dns, fns in os.walk(dirpath):
                dns[:] = [d for d in dns if not d.startswith((".", "_"))]
                if any(f.endswith(".parquet") and not f.startswith(".")
                       for f in fns):
                    return True
            return False

        def visit(dirpath: str, name: str) -> None:
            if (os.path.abspath(dirpath) in known_paths
                    or name in self._tables or name in self._ext
                    or name in self._views):
                return
            # explicit default./db. prefix: the crawler's placement
            # is the DIRECTORY layout, never the session's USE db
            qname = name if "." in name else f"{_DEFAULT_DB}.{name}"
            if os.path.isdir(os.path.join(dirpath, "_txlog")):
                self.register(qname, dirpath)
                found.append(name)
            elif holds_parquet(dirpath):
                # raw-zone parquet (incl. Hive-partitioned): the Glue
                # crawler's schema-inference half. CSV-only dirs are
                # SKIPPED — register_external(..., fmt='csv',
                # schema=...) is the explicit path (inference refused)
                self.register_external(qname, dirpath, fmt="parquet")
                found.append(name)

        for entry in sorted(os.listdir(wh)):
            p = os.path.join(wh, entry)
            if entry.startswith(("_", ".")) or not os.path.isdir(p):
                continue
            if entry in self._databases:
                # a database directory: its children are db.table
                for sub in sorted(os.listdir(p)):
                    sp = os.path.join(p, sub)
                    if sub.startswith(("_", ".")) or not os.path.isdir(sp):
                        continue
                    visit(sp, f"{entry}.{sub}")
                continue
            visit(p, entry)
        return found

    # ------------------------------------------------------------- endpoint
    def sql(self, text: str) -> DataFrame:
        self._refresh()                # pick up cross-process DDL
        # statement normalization + verb detection come from the
        # lexer: leading/trailing comments and semicolons are
        # stripped, the dispatch verbs are the first WORD tokens
        # (inline comments and literals cannot fool them), and every
        # arm's pattern sees comments as whitespace via the masked
        # projection
        s = sqllex.strip_statement(text)
        head = sqllex.words(s)
        verb = (head[0].text.upper() if head else "")
        two = (f"{verb} {head[1].text.upper()}" if len(head) > 1
               else verb)
        if two == "SHOW TABLES":
            return self._show_tables(s)
        if two == "SHOW DATABASES":
            return self._lit_frame(
                [f"SELECT '{self._sq(d)}' AS namespace"
                 for d in self.databases()])
        if two == "SHOW VIEWS":
            m = sqllex.match(rf"SHOW\s+VIEWS(?:\s+IN\s+({_IDENT}))?\s*$",
                         s, re.IGNORECASE)
            # unknown shapes/databases pass through to the session
            # catalog (the class contract) — ours lists LAKEHOUSE
            # views; session temp views stay spark.sql's business
            if m and (m.group(1) is None
                      or m.group(1) == _DEFAULT_DB
                      or m.group(1) in self._databases):
                return (self._show_tables(
                    f"SHOW TABLES IN {m.group(1)}" if m.group(1)
                    else "SHOW TABLES")
                    .where("deleteMode = 'view'")
                    .drop("location", "deleteMode"))
            return self.spark.sql(s)
        if two == "DESCRIBE DATABASE":
            m = sqllex.match(rf"DESCRIBE\s+DATABASE\s+({_IDENT})\s*$",
                         s, re.IGNORECASE)
            self._refresh()
            if (not m or (m.group(1) != _DEFAULT_DB
                          and m.group(1) not in self._databases)):
                # EXTENDED shapes / session-catalog databases pass
                # through untouched
                return self.spark.sql(self._bind_reads(s))
            db = m.group(1)
            prefix = f"{db}."
            nt = sum(1 for k in list(self._tables) + list(self._ext)
                     if (k.startswith(prefix) if db != _DEFAULT_DB
                         else "." not in k))
            nv = sum(1 for k in self._views
                     if (k.startswith(prefix) if db != _DEFAULT_DB
                         else "." not in k))
            loc = (os.path.join(self.warehouse, db)
                   if self.warehouse and db != _DEFAULT_DB
                   else (self.warehouse or ""))
            return self._lit_frame([
                f"SELECT '{self._sq(db)}' AS namespace, "
                f"'{self._sq(loc)}' AS location, "
                f"CAST({nt} AS BIGINT) AS tables, "
                f"CAST({nv} AS BIGINT) AS views"])
        if verb == "USE" and (m_u := sqllex.match(
                rf"USE\s+({_IDENT})\s*$", s, re.IGNORECASE)):
            self.use(m_u.group(1))
            return self._metrics("use", {"ok": 1})
        if two == "CREATE DATABASE":
            return self._create_database(s)
        if two == "DROP DATABASE":
            return self._drop_database(s)
        if two == "UNDROP TABLE":
            return self._undrop(s)
        if two == "SHOW CREATE":
            return self._show_create(s)
        if two == "DROP TABLE" and self._lake_name(
                s, rf"DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?({_TNAME})"):
            return self._drop_table(s)
        if two == "MERGE INTO" or two == "MERGE WITH":
            return self._merge(s)
        if two == "RESTORE TABLE":
            return self._restore(s)
        if two == "DESCRIBE HISTORY":
            return self._history(s)
        if two == "DESCRIBE DETAIL":
            return self._detail(s)
        if two == "SHOW TBLPROPERTIES":
            return self._show_props(s)
        if two == "ALTER TABLE":
            return self._alter(s)
        m_v = sqllex.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+({_TNAME})\s+AS\s+(.*)$",
            s, re.IGNORECASE | re.DOTALL)
        if m_v:
            # persistent views only — TEMP/TEMPORARY forms don't match
            # this pattern and stay ordinary session statements
            self.register_view(m_v.group(2), m_v.group(3).strip(),
                               or_replace=bool(m_v.group(1)))
            return self._metrics("create_view", {"created": 1})
        if two == "DROP VIEW":
            m_d = sqllex.match(
                rf"DROP\s+VIEW\s+(IF\s+EXISTS\s+)?({_TNAME})\s*$",
                s, re.IGNORECASE)
            if m_d and (self._resolve_view(m_d.group(2))
                        or self._resolve(m_d.group(2))):
                # ours (a catalog view — or a TABLE, which drop_view
                # refuses loudly); unknown names stay session temp
                # view drops through spark.sql
                ok = self.drop_view(m_d.group(2),
                                    if_exists=bool(m_d.group(1)))
                return self._metrics("drop_view", {"dropped": int(ok)})
        if verb == "CREATE" and sqllex.match(
                r"CREATE\s+(?:OR\s+REPLACE\s+)?TABLE\b", s,
                re.IGNORECASE):
            # only CREATE [OR REPLACE] TABLE is ours — other CREATE
            # forms (TEMP VIEW, FUNCTION, ...) are ordinary session
            # statements and pass through to spark.sql (ADVICE r11 #1:
            # dispatching on the first two words hijacked
            # CREATE OR REPLACE TEMP VIEW)
            return self._create(s)
        if two == "CONVERT TO":
            return self._convert(s)
        if two == "COPY INTO":
            return self._copy(s)
        if two == "INSERT INTO" and self._lake_name(
                s, rf"INSERT\s+INTO\s+({_TNAME})\b"):
            return self._insert(s)
        if two == "INSERT OVERWRITE" and self._lake_name(
                s, rf"INSERT\s+OVERWRITE\s+({_TNAME})\b"):
            return self._insert_overwrite(s)
        if two == "DELETE FROM" and self._lake_name(
                s, rf"DELETE\s+FROM\s+({_TNAME})\b"):
            return self._delete(s)
        if verb == "UPDATE" and self._is_lake_update(s):
            return self._update(s)
        if verb == "OPTIMIZE":
            return self._optimize(s)
        if two == "REORG TABLE":
            return self._reorg(s)
        if verb == "VACUUM":
            return self._vacuum(s)
        fast = self._metadata_count(s)
        if fast is not None:
            return fast
        # read path: rewrite time travel, bind snapshots, hand to Catalyst
        return self.spark.sql(self._bind_reads(s))

    def _metadata_count(self, s: str) -> DataFrame | None:
        """Delta's metadata-only COUNT(*): a bare full-table count is
        the sum of live files' footer row counts — zero data files
        opened. Anything beyond the exact shape falls through to the
        ordinary scan (correct, just not metadata-speed)."""
        m = sqllex.match(
            rf"SELECT\s+COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+({_IDENT}))?"
            rf"\s+FROM\s+({_TNAME})"
            rf"(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*$",
            s, re.IGNORECASE)
        if not m or self._resolve(m.group(2)) not in self._tables:
            return None     # (externals have no log to count from)
        alias, tname, ver = m.group(1), m.group(2), m.group(3)
        n = self.table(tname).count_rows(
            version=int(ver) if ver is not None else None)
        # Spark's default name for COUNT(*) is `count(1)` — backtick it
        return self._lit_frame(
            [f"SELECT CAST({n} AS BIGINT) AS `{alias or 'count(1)'}`"])

    # ---------------------------------------------------------- read binding
    def _fresh_view(self, df: DataFrame, base: str) -> str:
        self._nview += 1
        name = f"__lake_{base.replace('.', '__')}_{self._nview}"
        df.createOrReplaceTempView(name)
        return name

    def _spellings(self, key: str) -> list[str]:
        """The reference texts that resolve to catalog key ``key``
        under the current database — longest first, so a qualified
        reference is consumed before a bare table name that happens
        to be its suffix."""
        if "." in key:
            db, tbl = key.split(".", 1)
            return ([key, tbl] if db == self._current_db else [key])
        sp = [f"{_DEFAULT_DB}.{key}"]
        if self._current_db == _DEFAULT_DB:
            sp.append(key)
        return sp

    def _bind_reads(self, s: str, _depth: int = 0) -> str:
        """Substitute registered table references (with optional VERSION
        / TIMESTAMP AS OF suffixes) by snapshot-bound temp views. The
        rewritten text is ordinary Spark SQL: scans carry the pinned
        parquet file list, everything else is Catalyst's business.
        Qualified references (``db.t``, ``default.t``) rewrite to a
        mangled view name (dots are illegal in temp-view names);
        qualified keys bind before bare ones so a bare name that is
        the suffix of a qualified reference never misfires.

        Persistent VIEWS expand first: their stored SELECT text is
        itself bind-read (recursively — views over views, time travel
        under views) and materialized as a statement-time temp view,
        so every read of a view sees the tables' CURRENT snapshots,
        never the creation-time ones."""
        if _depth > 8:
            raise ValueError(
                "view expansion exceeded depth 8 — cyclic views?")
        # O(catalog) gate: every pattern for a key contains its bare
        # table part literally, so a key whose part is not even a
        # SUBSTRING of the statement can't bind — one `in` check
        # replaces ~5 regex compiles per key (measured: view binding
        # at 500 tables dropped ~0.9s -> analysis-bound)
        s_low = s.lower()
        for key in sorted(self._views, key=lambda k: "." not in k):
            if key.split(".")[-1].lower() not in s_low:
                continue
            for name in self._spellings(key):
                pat = rf"\b{re.escape(name)}\b"
                if not sqllex.contains(pat, s):
                    continue
                view = _view_name(key)
                ent = self._views[key]
                saved_db = self._current_db
                try:
                    # expand in the view's DEFINING database context:
                    # bare references in the stored text resolve the
                    # way they did for the author, whatever the
                    # reader's USE db is
                    self._current_db = ent.get("ctx_db", _DEFAULT_DB)
                    bound = self._bind_reads(ent["sql"], _depth + 1)
                finally:
                    self._current_db = saved_db
                self.spark.sql(bound).createOrReplaceTempView(view)
                if name != view:
                    s = sqllex.sub(pat, view, s)
        for key in sorted(self._ext, key=lambda k: "." not in k):
            # crawled raw-zone tables: a plain reader view (Hive
            # partition discovery et al. are Spark's business)
            if key.split(".")[-1].lower() not in s_low:
                continue
            for name in self._spellings(key):
                pat = rf"\b{re.escape(name)}\b"
                if not sqllex.contains(pat, s):
                    continue
                view = _view_name(key)
                self._ext_frame(key).createOrReplaceTempView(view)
                if name != view:
                    s = sqllex.sub(pat, view, s)
        for key in sorted(self._tables, key=lambda k: "." not in k):
            if key.split(".")[-1].lower() not in s_low:
                continue
            t = self._tables[key]
            for name in self._spellings(key):
                s = self._bind_one(s, name, key, t)
        return s

    _TVF_NAMES = ("table_changes", "table_files", "table_history")

    def _sub_tvfs(self, s: str, name: str, t: TxnTable) -> str:
        """Replace metadata TVF calls naming this table — consumed
        from the TOKEN stream, because the table argument is usually
        a STRING LITERAL ('t'), which the masked-regex projection
        structurally cannot (and must not) see. Argument shapes that
        don't fit a TVF's signature are left untouched (they fall to
        Catalyst, which errors on the unknown function — the old
        regexes' no-match behavior). Comment tokens are skipped so
        `table_changes/*c*/('t', 1)` still binds."""
        toks = [t for t in sqllex.lex(s)
                if t.kind != sqllex.COMMENT]
        n = len(toks)
        repls: list[tuple[int, int, str]] = []
        i = 0
        while i < n:
            tk = toks[i]
            if (tk.kind != sqllex.WORD
                    or tk.text.lower() not in self._TVF_NAMES
                    or i + 1 >= n or toks[i + 1].text != "("
                    or toks[i + 1].kind != sqllex.PUNCT):
                i += 1
                continue
            # flat argument scan to the matching ')' (TVF args are
            # names / ints / bools — nested parens end the candidate)
            args: list[str] = []
            j, ok = i + 2, False
            while j < n:
                tj = toks[j]
                if tj.kind == sqllex.PUNCT and tj.text == ")":
                    ok = True
                    break
                if tj.kind == sqllex.PUNCT and tj.text == ",":
                    j += 1
                    continue
                if tj.kind == sqllex.PUNCT and tj.text == ".":
                    # qualified name: glue db '.' table into one arg
                    if args:
                        args[-1] += "."
                        j += 1
                        continue
                    break
                if tj.kind not in (sqllex.WORD, sqllex.NUM,
                                   sqllex.STRING):
                    break
                v = tj.unquoted()
                if args and args[-1].endswith("."):
                    args[-1] += v
                else:
                    args.append(v)
                j += 1
            if not ok or not args \
                    or args[0].lower() != name.lower():
                i += 1
                continue
            df = self._tvf_frame(tk.text.lower(), args[1:], name, t)
            if df is None:                 # shape mismatch: no match
                i += 1
                continue
            repls.append((tk.start, toks[j].end, df))
            i = j + 1
        for a, b, r in reversed(repls):
            s = s[:a] + r + s[b:]
        return s

    def _tvf_frame(self, fn: str, args: list[str], name: str,
                   t: TxnTable) -> str | None:
        """Materialize one TVF call as a fresh temp view; None when
        the argument shape doesn't fit the signature."""
        low = [a.lower() for a in args]
        if fn == "table_changes":
            # (start [, end] [, true|false]) — start INCLUSIVE
            # (Delta's contract; changes() takes exclusive `since`)
            include = False
            if low and low[-1] in ("true", "false"):
                include = low[-1] == "true"
                low = low[:-1]
            if not (1 <= len(low) <= 2
                    and all(a.isdigit() for a in low)):
                return None
            return self._fresh_view(
                t.changes(int(low[0]) - 1, include_deletes=include,
                          end_version=(int(low[1]) if len(low) == 2
                                       else None)),
                f"{name}_changes")
        if fn == "table_files":
            if len(low) > 1 or (low and not low[0].isdigit()):
                return None
            return self._fresh_view(
                t.files_df(version=int(low[0]) if low else None),
                f"{name}_files")
        if low:                            # table_history takes none
            return None
        return self._fresh_view(t.history_df(), f"{name}_history")

    def _bind_one(self, s: str, name: str, key: str,
                  t: TxnTable) -> str:
        """Bind ONE spelling (``name``) of catalog key ``key`` in the
        statement text."""
        # metadata table-valued forms consume the TOKEN STREAM (a
        # quoted first argument is literal CONTENT naming the table,
        # which the masked-regex projection structurally cannot see):
        # table_changes('t', start [, end] [, true]) — Delta's CDF
        # signature (start INCLUSIVE; TxnTable.changes takes an
        # exclusive `since`, hence -1), plus Iceberg-style
        # table_files('t' [, version]) and table_history('t')
        s = self._sub_tvfs(s, name, t)
        pat_v = rf"\b{re.escape(name)}\s+VERSION\s+AS\s+OF\s+(\d+)"
        pat_t = (rf"\b{re.escape(name)}"
                 rf"\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'")
        s = sqllex.sub(
            pat_v, lambda m, t=t: self._fresh_view(
                t.snapshot(version=int(m.group(1))), name),
            s, re.IGNORECASE)
        s = sqllex.sub(
            pat_t, lambda m, t=t: self._fresh_view(
                t.snapshot(timestamp=_ts_to_epoch(m.group(1))), name),
            s, re.IGNORECASE)
        pat_b = rf"\b{re.escape(name)}\b"
        if sqllex.contains(pat_b, s) and t.exists():
            # bare reference -> latest snapshot under a stable
            # view name (repeated queries reuse it). Dots are
            # illegal in temp-view names, so a qualified spelling
            # rewrites in-text to the mangled name — outside
            # string literals only.
            view = _view_name(key)
            t.snapshot().createOrReplaceTempView(view)
            if name != view:
                s = sqllex.sub(pat_b, view, s)
        return s

    # ------------------------------------------------------------- DML verbs
    def _lit_frame(self, selects: list[str]) -> DataFrame:
        """Small literal result sets as pure-SQL UNION ALL — a
        createDataFrame from a Python list takes the Python-RDD path,
        and the FIRST such job in a session pays seconds of Python
        worker spin-up (measured 4.8 s for a 4-row metrics frame);
        literal selects stay entirely JVM-side."""
        if not selects:
            return self.spark.sql(
                "SELECT '' AS op, '' AS metric, "
                "CAST(0 AS BIGINT) AS value WHERE false")
        return self.spark.sql(" UNION ALL ".join(selects))

    def _metrics(self, op: str, m: dict[str, Any]) -> DataFrame:
        sel = [f"SELECT '{op}' AS op, '{k}' AS metric, "
               f"CAST({int(v)} AS BIGINT) AS value"
               for k, v in sorted(m.items())
               if isinstance(v, (int, float))]
        return self._lit_frame(sel)

    def _merge(self, s: str) -> DataFrame:
        head = sqllex.match(
            rf"MERGE\s+(WITH\s+SCHEMA\s+EVOLUTION\s+)?"
            rf"INTO\s+({_TNAME})(?:\s+AS\s+({_IDENT})|\s+({_IDENT}))?"
            rf"\s+USING\s+", s, re.IGNORECASE | re.DOTALL)
        if not head:
            raise ValueError(f"unsupported MERGE shape: {s[:120]}")
        evo, tname, ta1, ta2 = head.groups()
        rest = s[head.end():]
        if rest.startswith("("):
            # subquery source: a BALANCED scan, not a finite-depth
            # regex — doubly-nested function calls are ordinary SQL
            end = sqllex.scan_parens(rest, 0)
            usrc, rest = rest[:end], rest[end:]
        else:
            im = sqllex.match(rf"({_TNAME})", rest)
            if not im:
                raise ValueError(
                    f"unsupported MERGE USING source: {rest[:80]!r}")
            usrc, rest = im.group(1), rest[im.end():]
        tail = sqllex.match(
            rf"(?:\s+AS\s+({_IDENT})|\s+({_IDENT}))?"
            rf"\s+ON\s+(.*?)\s+(WHEN\s+.*)$",
            rest, re.IGNORECASE | re.DOTALL)
        if not tail:
            raise ValueError(f"unsupported MERGE shape: {s[:120]}")
        sa1, sa2, on, clauses = tail.groups()
        # Delta's `MERGE WITH SCHEMA EVOLUTION INTO` (autoMerge scoped
        # to one statement): new source columns widen the target
        schema_mode = "merge" if evo else "strict"
        # qualified target without an alias: the bare table part
        # is the usable alias (dots cannot qualify in ON exprs)
        talias = ta1 or ta2 or tname.split(".")[-1]
        salias = sa1 or sa2 or (usrc.split(".")[-1]
                                if not usrc.startswith("(") else "src")
        t = self.table(tname)

        # source: subquery or existing view/table (lakehouse names bind)
        if usrc.startswith("("):
            source = self.spark.sql(self._bind_reads(usrc[1:-1]))
        else:
            source = self.spark.sql(self._bind_reads(f"SELECT * FROM {usrc}"))

        # ON: AND-conjunction of same-named equalities
        keys: list[str] = []
        for part in re.split(r"\s+AND\s+", on.strip(), flags=re.IGNORECASE):
            em = sqllex.match(
                rf"\s*({_IDENT})\.({_IDENT})\s*=\s*({_IDENT})\.({_IDENT})\s*$",
                part)
            if not em:
                raise ValueError(f"MERGE ON must be alias.col = alias.col "
                                 f"conjunctions, got: {part!r}")
            q1, c1, q2, c2 = em.groups()
            if {q1, q2} != {talias, salias} or c1 != c2:
                raise ValueError(
                    f"MERGE ON must equate the SAME key column across "
                    f"target ({talias}) and source ({salias}); got {part!r}")
            keys.append(c1)

        matched, not_matched, nmbs = self._parse_merge_clauses(clauses)
        # every clause shape runs the one MERGE engine; the plan choice
        # (replace vs full-outer CASE) is txlog.merge_clauses' own
        res = t.merge_clauses(source, on=keys, matched=matched,
                              not_matched=not_matched,
                              not_matched_by_source=nmbs,
                              talias=talias, salias=salias,
                              schema_mode=schema_mode)
        return self._metrics("merge", res)

    def _parse_merge_clauses(self, text: str) -> tuple[
            list[dict], list[dict], list[dict]]:
        """Parse the WHEN-clause tail of a MERGE into (matched,
        not_matched, not_matched_by_source) clause dicts for
        txlog.merge_clauses. Clause conditions may not contain a
        top-level bare CASE WHEN (parenthesize it) — the splitter
        treats every depth-0 WHEN as a clause boundary and unparsable
        remainders fail loudly."""
        bodies = self._split_when(text)
        matched: list[dict] = []
        not_matched: list[dict] = []
        nmbs: list[dict] = []
        for body in bodies:
            b = body.strip().rstrip(";").strip()
            m = sqllex.match(r"NOT\s+MATCHED\s+BY\s+SOURCE"
                         r"(?:\s+AND\s+(.*?))?\s+THEN\s+(.*)$",
                         b, re.IGNORECASE | re.DOTALL)
            if m:
                nmbs.append(self._merge_action(
                    m.group(1), m.group(2), allow=("delete", "update")))
                continue
            m = sqllex.match(r"NOT\s+MATCHED(?:\s+BY\s+TARGET)?"
                         r"(?:\s+AND\s+(.*?))?\s+THEN\s+(.*)$",
                         b, re.IGNORECASE | re.DOTALL)
            if m:
                not_matched.append(self._merge_action(
                    m.group(1), m.group(2), allow=("insert",)))
                continue
            m = sqllex.match(r"MATCHED(?:\s+AND\s+(.*?))?\s+THEN\s+(.*)$",
                         b, re.IGNORECASE | re.DOTALL)
            if m:
                matched.append(self._merge_action(
                    m.group(1), m.group(2), allow=("delete", "update")))
                continue
            raise ValueError(f"unsupported MERGE clause: WHEN {b[:80]}")
        return matched, not_matched, nmbs

    @staticmethod
    def _merge_action(cond: str | None, action: str,
                      allow: tuple[str, ...]) -> dict:
        a = action.strip()
        cl: dict = {"cond": cond.strip() if cond else None,
                    "action": None, "set": None}
        if sqllex.match(r"DELETE\s*$", a, re.IGNORECASE):
            cl["action"] = "delete"
        elif sqllex.match(r"UPDATE\s+SET\s+\*\s*$", a, re.IGNORECASE):
            cl["action"] = "update_star"
        elif (m := sqllex.match(r"UPDATE\s+SET\s+(.*)$", a,
                            re.IGNORECASE | re.DOTALL)):
            cl["action"] = "update"
            cl["set"] = LakehouseCatalog._parse_assignments(m.group(1))
        elif sqllex.match(r"INSERT\s+\*\s*$", a, re.IGNORECASE):
            cl["action"] = "insert_star"
        elif (m := sqllex.match(r"INSERT\s*\(([^)]*)\)\s*VALUES\s*\((.*)\)\s*$",
                            a, re.IGNORECASE | re.DOTALL)):
            cl["action"] = "insert"
            cols = [c.strip() for c in m.group(1).split(",")]
            exprs = sqllex.split_top(m.group(2))
            if len(cols) != len(exprs):
                raise ValueError(
                    f"MERGE INSERT: {len(cols)} columns but "
                    f"{len(exprs)} VALUES")
            cl["set"] = {c: e.strip() for c, e in zip(cols, exprs)}
        else:
            raise ValueError(f"unsupported MERGE action: {a[:80]}")
        base = cl["action"].split("_")[0]
        if base not in allow:
            raise ValueError(
                f"MERGE action {cl['action']!r} not valid in this "
                f"clause (allowed: {allow})")
        return cl

    @staticmethod
    def _parse_assignments(text: str) -> dict[str, str]:
        out: dict[str, str] = {}
        for part in sqllex.split_top(text):
            am = sqllex.match(rf"\s*(?:{_IDENT}\.)?({_IDENT})\s*=\s*(.*)$",
                          part, re.DOTALL)
            if not am:
                raise ValueError(f"bad SET assignment: {part!r}")
            out[am.group(1)] = am.group(2).strip()
        return out

    @staticmethod
    def _split_when(text: str) -> list[str]:
        """Split a MERGE clause tail at depth-0, literal-safe WHEN
        keywords (the shared lexer's projection); returns the clause
        bodies (text after each WHEN)."""
        starts = sqllex.split_keyword_top(text, "WHEN")
        if not starts or text[:starts[0]].strip():
            raise ValueError(f"MERGE clauses must start with WHEN; "
                             f"got: {text[:80]}")
        bounds = starts + [len(text)]
        return [text[bounds[k] + 4:bounds[k + 1]]
                for k in range(len(starts))]

    def _parse_props(self, body: str) -> dict[str, str]:
        props: dict[str, str] = {}
        for pair in sqllex.split_top(body):
            pm = sqllex.match(r"\s*'([^']+)'\s*=\s*'([^']*)'\s*$", pair)
            if not pm:
                raise ValueError(f"bad TBLPROPERTIES entry: {pair!r}")
            props[pm.group(1)] = pm.group(2)
        return props

    def _create_target(self, name: str, clone_of: str | None = None
                       ) -> tuple[TxnTable, Any]:
        """Resolve a CREATE statement's target as (table, commit_fn).
        A registered name resolves as before (commit_fn is a no-op);
        an unregistered one gets the warehouse's managed location
        (<warehouse>/<name>) and ``commit_fn()`` registers it durably
        — CALLED ONLY AFTER the statement succeeds, so a failing
        CTAS/CLONE never leaves a dangling cross-process catalog
        entry pointing at nothing (the Glue behavior the reference's
        jobs rely on: CREATE binds the name, later applications
        resolve it with zero setup)."""
        key = self._resolve(name)
        if key is not None:
            # table() raises the guided CONVERT pointer for externals
            return self.table(key), (lambda: None)
        name = self._qualify(name)      # db must exist; default.t -> t
        if self._log is not None:
            src_key = self._resolve(clone_of) if clone_of else None
            dm = self._delete_mode.get(src_key, "cow") if src_key \
                else "cow"
            # managed location <warehouse>/<name> — unless those bytes
            # are already someone's (a renamed-away or dropped table's
            # data lives on; the catalog never deletes), in which case
            # uniquify: names are the durable identity, locations are
            # an implementation detail (Glue's external-table posture)
            loc = entry_path(self._log.warehouse, name)
            if os.path.exists(loc):
                import uuid as _uuid
                loc = f"{loc}__{_uuid.uuid4().hex[:8]}"
            t = TxnTable(self.spark, loc)
            return t, (lambda: self.register(name, loc,
                                             delete_mode=dm))
        raise KeyError(
            f"'{name}' is not a registered lakehouse table and the "
            f"catalog has no warehouse to place it in; register() it "
            f"or construct LakehouseCatalog(spark, warehouse=...)")

    @staticmethod
    def _require_txlog_format(fmt: str | None, s: str) -> None:
        """A CREATE TABLE claimed by this endpoint must be txlog.

        ``fmt`` is the captured USING word (None when omitted —
        omitted defaults to txlog, matching Delta's default-format
        semantics). Any other format is refused with a pointer
        instead of being silently created in the wrong format.
        """
        if fmt is not None and fmt.lower() != "txlog":
            raise ValueError(
                f"unsupported table format {fmt!r} in: {s[:120]} — "
                f"this endpoint creates txlog tables (omit USING or "
                f"write USING txlog); for other formats use "
                f"spark.sql(...) directly")

    def _create(self, s: str) -> DataFrame:
        # CREATE TABLE t2 [DEEP|SHALLOW] CLONE t1 [VERSION/TIMESTAMP
        # AS OF] — SHALLOW = zero-copy fork; DEEP = independent copy
        m = sqllex.match(
            rf"CREATE\s+TABLE\s+({_TNAME})\s+(DEEP\s+|SHALLOW\s+)?"
            rf"CLONE\s+"
            rf"({_TNAME})(?:\s+VERSION\s+AS\s+OF\s+(\d+)"
            rf"|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*$",
            s, re.IGNORECASE)
        if m:
            tname, depth, sname, ver, ts = m.groups()
            src = self.table(sname)
            t, reg = self._create_target(tname, clone_of=sname)
            deep = (depth or "").strip().upper() == "DEEP"
            fn = t.clone_deep if deep else t.clone_shallow
            fn(src, version=int(ver) if ver is not None else None,
               timestamp=_ts_to_epoch(ts) if ts is not None else None)
            reg()
            return self._metrics("clone", {"version": 0, "deep": deep})
        m = sqllex.match(
            rf"CREATE\s+TABLE\s+({_TNAME})\s+LIKE\s+({_TNAME})\s*"
            rf"(?:TBLPROPERTIES\s*{_PBODY}\s*)?$",
            s, re.IGNORECASE)
        if m:
            tname, sname, propstr = m.groups()
            src_t = self.table(sname)
            t, reg = self._create_target(tname, clone_of=sname)
            t.create_like(src_t,
                          properties=(self._parse_props(propstr)
                                      if propstr else None))
            reg()
            return self._metrics("create_like", {"version": 0})
        # CTAS. USING txlog is optional: like Delta's
        # spark.sql.sources.default, a bare CREATE TABLE t AS SELECT
        # defaults to the lakehouse format (VERDICT r12 "What's wrong"
        # #1 — the r11 dispatch fix stopped bare CTAS from falling
        # through, so it must be served here, not rejected). A non-
        # txlog USING is refused with a pointer rather than silently
        # hijacked.
        m = sqllex.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+({_TNAME})\s+"
            rf"(?:USING\s+(\w+)\s+)?"
            rf"(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?"
            rf"(?:TBLPROPERTIES\s*{_PBODY}\s*)?AS\s+(.*)$",
            s, re.IGNORECASE | re.DOTALL)
        if m:
            replace, tname, fmt, parts, propstr, select = m.groups()
            self._require_txlog_format(fmt, s)
            t, reg = self._create_target(tname)
            df = self.spark.sql(self._bind_reads(select))
            pby = ([c.strip() for c in parts.split(",")]
                   if parts else None)
            props = self._parse_props(propstr) if propstr else None
            if replace and t.exists():
                v = t.replace(df, partition_by=pby,
                              properties=props or {})
                # a pre-existing bare-name temp view would serve the
                # replaced content stale until the next bind
                self.spark.catalog.dropTempView(
                    _view_name(self._resolve(tname) or tname))
                reg()
                return self._metrics("replace", {"version": v})
            t.create(df, partition_by=pby, properties=props)
            reg()
            return self._metrics("create",
                                 {"version": t.latest_version()})
        # empty table with an explicit schema (Delta's plain DDL form),
        # incl. column-level NOT NULL and GENERATED ALWAYS AS (expr)
        # (round 10 — the medallion partition date can derive inside
        # the format instead of in every writer)
        # The column body is a BALANCED group (types nest parens,
        # GENERATED exprs nest deeper), and with USING now optional a
        # greedy regex capture would swallow the tail clauses into the
        # body whenever every tail clause is optional (regression from
        # the bare-USING default, caught in round 13): scan the body
        # structurally, then parse only the tail.
        m = sqllex.match(
            rf"CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+({_TNAME})\s*\(",
            s, re.IGNORECASE)
        tm = None
        if m:
            body_end = sqllex.scan_parens(s, m.end() - 1)
            tm = sqllex.match(
                rf"\s*(?:USING\s+(\w+)\s*)?"
                rf"(?:PARTITIONED\s+BY\s*\(([^)]*)\)\s*)?"
                rf"(?:TBLPROPERTIES\s*{_PBODY}\s*)?$",
                s[body_end:], re.IGNORECASE | re.DOTALL)
        if m and tm:
            replace, tname = m.groups()
            cols = s[m.end():body_end - 1]
            fmt, parts, propstr = tm.groups()
            self._require_txlog_format(fmt, s)
            t, reg = self._create_target(tname)
            not_null: list[str] = []
            generated: dict[str, str] = {}
            identity: dict[str, dict[str, int]] = {}
            defaults: dict[str, str] = {}
            col_ddls: list[str] = []
            for p in sqllex.split_top(cols):
                p = p.strip()
                im = sqllex.match(
                    r"(.*?)\s+GENERATED\s+ALWAYS\s+AS\s+IDENTITY"
                    r"(?:\s*\(\s*START\s+WITH\s+(-?\d+)"
                    r"(?:\s+INCREMENT\s+BY\s+(\d+))?\s*\))?\s*$",
                    p, re.IGNORECASE)
                if im:
                    p = im.group(1).strip()
                    identity[p.split(None, 1)[0]] = {
                        "start": int(im.group(2) or 1),
                        "step": int(im.group(3) or 1)}
                    col_ddls.append(p)
                    continue
                gm = sqllex.match(r"(.*?)\s+GENERATED\s+ALWAYS\s+AS\s*"
                              r"\((.*)\)\s*$",
                              p, re.IGNORECASE | re.DOTALL)
                gexpr = None
                if gm:
                    p, gexpr = gm.group(1).strip(), gm.group(2).strip()
                nn = sqllex.search(r"\s+NOT\s+NULL\s*$", p, re.IGNORECASE)
                if nn:
                    p = p[:nn.start()].strip()
                dm = sqllex.match(r"(.*?)\s+DEFAULT\s+(.+)$", p,
                              re.IGNORECASE | re.DOTALL)
                dexpr = None
                if dm:
                    p, dexpr = dm.group(1).strip(), dm.group(2).strip()
                name = p.split(None, 1)[0]
                if gexpr is not None:
                    generated[name] = gexpr
                if dexpr is not None:
                    defaults[name] = dexpr
                if nn:
                    not_null.append(name)
                col_ddls.append(p)
            pby = ([c.strip() for c in parts.split(",")]
                   if parts else None)
            props = self._parse_props(propstr) if propstr else None
            empty = self.spark.createDataFrame([], ", ".join(col_ddls))
            if replace and t.exists():
                v = t.replace(empty, partition_by=pby,
                              generated=generated or None,
                              not_null=not_null or None,
                              identity=identity or None,
                              defaults=defaults or None,
                              properties=props or {})
                self.spark.catalog.dropTempView(
                    _view_name(self._resolve(tname) or tname))
                reg()
                return self._metrics("replace", {"version": v})
            t.create(empty,
                     partition_by=pby,
                     generated=generated or None,
                     not_null=not_null or None,
                     identity=identity or None,
                     defaults=defaults or None,
                     properties=props)
            reg()
            return self._metrics("create", {"version": 0})
        raise ValueError(
            f"unsupported CREATE TABLE shape: {s[:120]} — supported "
            f"forms: CTAS (AS SELECT ..., USING txlog optional), "
            f"explicit column DDL, LIKE, and [DEEP|SHALLOW] CLONE")

    def _copy(self, s: str) -> DataFrame:
        m = sqllex.match(
            rf"COPY\s+INTO\s+({_TNAME})\s+FROM\s+'([^']+)'\s+"
            rf"FILEFORMAT\s*=\s*(\w+)"
            rf"(?:\s+PATTERN\s*=\s*'([^']+)')?"
            rf"(?:\s+FORMAT_OPTIONS\s*{_PBODY})?\s*$",
            s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported COPY INTO shape: {s[:120]}")
        tname, src, fmt, pat, opts = m.groups()
        options: dict[str, str] = {}
        if opts:
            for pair in sqllex.split_top(opts):
                km = sqllex.match(r"\s*'([^']+)'\s*=\s*'([^']*)'\s*$", pair)
                if not km:
                    raise ValueError(
                        f"bad FORMAT_OPTIONS entry: {pair!r}")
                options[km.group(1)] = km.group(2)
        res = self.table(tname).copy_into(
            src, fmt=fmt.lower(), pattern=pat, options=options or None)
        return self._metrics("copy_into", res)

    def _convert(self, s: str) -> DataFrame:
        """CONVERT TO TXLOG t: adopt the registered path's existing
        parquet files as version 0 — zero bytes rewritten (Delta's
        CONVERT TO DELTA)."""
        m = sqllex.match(rf"CONVERT\s+TO\s+TXLOG\s+({_TNAME})\s*$",
                     s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported CONVERT shape: {s[:120]}")
        key = self._resolve(m.group(1))
        if key is not None and key in self._ext:
            # promote a CRAWLED parquet table in place: adopt its
            # files as version 0, then flip the catalog entry to a
            # transactional registration (same path, zero copy)
            e = self._ext[key]
            if e["format"] != "parquet":
                raise ValueError(
                    f"CONVERT TO TXLOG adopts parquet only; '{key}' "
                    f"is external-{e['format']} — CTAS it instead")
            t = TxnTable(self.spark, e["path"])
            t.convert_from_parquet()
            self._ext.pop(key, None)
            self.register(key, e["path"])
        else:
            t = self.table(m.group(1))
            t.convert_from_parquet()
        d = t.describe_detail()
        return self._metrics("convert", {"version": d["version"],
                                         "num_files": d["num_files"],
                                         "num_rows": d["num_rows"]})

    def _insert_overwrite(self, s: str) -> DataFrame:
        """INSERT OVERWRITE t <select>: replace content (and schema if
        different) — txlog.overwrite's last-writer-wins contract."""
        m = sqllex.match(rf"INSERT\s+OVERWRITE\s+({_TNAME})\s+(.*)$",
                     s, re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError(f"unsupported INSERT OVERWRITE: {s[:120]}")
        tname, select = m.groups()
        t = self.table(tname)
        df = self.spark.sql(self._bind_reads(select))
        v = t.overwrite(df)
        return self._metrics("insert_overwrite", {"version": v})

    def _insert(self, s: str) -> DataFrame:
        m = sqllex.match(
            rf"INSERT\s+INTO\s+({_TNAME})\s+REPLACE\s+WHERE\s+(.+?)\s+"
            rf"((?:SELECT|WITH|VALUES)\b.*)$",
            s, re.IGNORECASE | re.DOTALL)
        if m:
            # Delta's replaceWhere: replace exactly the matching slice
            # with the select, atomically
            tname, cond, body = m.groups()
            t = self.table(tname)
            body = body.strip()
            if sqllex.match(r"VALUES\b", body, re.IGNORECASE):
                # inline rows arrive as col1..colN: align POSITIONALLY
                # to the table's writable columns (identity/generated
                # are engine-derived), cast to declared types — same
                # treatment plain INSERT VALUES gets
                snap = t._replay()
                wcols = [f for f in snap.schema.fields
                         if f.name not in snap.identity
                         and f.name not in snap.generated]
                from pyspark.sql import functions as F
                df = self.spark.sql(f"SELECT * FROM {body}")
                if len(df.columns) != len(wcols):
                    raise ValueError(
                        f"REPLACE WHERE VALUES arity "
                        f"{len(df.columns)} != writable columns "
                        f"{[f.name for f in wcols]}")
                df = df.select(*[
                    F.col(c).cast(f.dataType).alias(f.name)
                    for c, f in zip(df.columns, wcols)])
            else:
                df = self.spark.sql(self._bind_reads(body))
            res = t.replace_where(df, cond)
            return self._metrics("replace_where", res)
        m = sqllex.match(rf"INSERT\s+INTO\s+({_TNAME})\s*"
                     rf"(?:\(([^)]*)\)\s*)?(.+)$",
                     s, re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError(f"unsupported INSERT shape: {s[:120]}")
        tname, collist, body = m.groups()
        t = self.table(tname)
        body = body.strip()
        if sqllex.match(r"VALUES\b", body, re.IGNORECASE):
            # row literals: VALUES is Spark's inline-table form
            df = self.spark.sql(f"SELECT * FROM {body}")
        else:
            df = self.spark.sql(self._bind_reads(body))
        snap = t._replay()
        fields = snap.schema.fields
        types = {f.name: f.dataType for f in fields}
        tcols = [f.name for f in fields]
        gen, ident = set(snap.generated), set(snap.identity)
        if collist:
            # column-targeted: named slots fill in statement order,
            # unnamed table columns fill NULL (the ANSI rule) — except
            # GENERATED columns, which are left ABSENT so the write
            # path derives them (NULL-filling would defeat derivation),
            # and IDENTITY columns, which are never insert targets
            named = [c.strip() for c in collist.split(",")]
            bad = sorted(set(named) - set(tcols))
            if bad:
                raise ValueError(
                    f"INSERT INTO {tname}: unknown column(s) {bad}; "
                    f"table has {tcols}")
            if set(named) & ident:
                raise ValueError(
                    f"INSERT INTO {tname}: column(s) "
                    f"{sorted(set(named) & ident)} are GENERATED "
                    "ALWAYS AS IDENTITY — the log allocates them")
            if len(df.columns) != len(named):
                raise ValueError(
                    f"INSERT INTO {tname}: {len(df.columns)} values "
                    f"for {len(named)} named columns")
            df = df.toDF(*named)
            from pyspark.sql import functions as F
            dflt = set(snap.defaults)
            df = df.select(*[
                (F.col(c) if c in named else F.lit(None))
                .cast(types[c]).alias(c) for c in tcols
                if c in named or (c not in gen and c not in ident
                                  and c not in dflt)])
        else:
            # POSITIONAL: align the select list to the table's
            # INSERT-TARGET columns by position (identity columns are
            # never targets; generated columns may be supplied or left
            # off for derivation), casting each slot to the target
            # type (ANSI store assignment — a bad cast throws)
            full = [c for c in tcols if c not in ident]
            reduced = [c for c in full if c not in gen]
            if len(df.columns) == len(full):
                target = full
            elif len(df.columns) == len(reduced):
                target = reduced
            else:
                raise ValueError(
                    f"INSERT INTO {tname}: {len(df.columns)} columns "
                    f"for a table taking {len(full)}"
                    + (f" (or {len(reduced)} with generated columns "
                       "derived)" if gen else "") + " positional slots")
            from pyspark.sql import functions as F
            df = df.toDF(*target).select(*[
                F.col(c).cast(types[c]).alias(c) for c in target])
        v = t.append(df)
        return self._metrics("insert", {"version": v})

    def _is_lake_update(self, s: str) -> bool:
        m = sqllex.match(rf"UPDATE\s+({_TNAME})\b", s, re.IGNORECASE)
        return bool(m) and self._resolve(m.group(1)) is not None

    def _lake_name(self, s: str, pattern: str) -> bool:
        """True iff the statement's target is a REGISTERED lakehouse
        table — DML/DDL on unregistered names passes through to the
        session catalog untouched (the class contract; hijacking
        'INSERT INTO some_parquet_table' with a KeyError would break
        statements plain spark.sql executes fine)."""
        m = sqllex.match(pattern, s, re.IGNORECASE)
        return bool(m) and self._resolve(m.group(1)) is not None

    def _update(self, s: str) -> DataFrame:
        m = sqllex.match(
            rf"UPDATE\s+({_TNAME})\s+SET\s+(.*)$",
            s, re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError(f"unsupported UPDATE shape: {s[:120]}")
        tname, tail = m.groups()
        # the WHERE boundary must be found OUTSIDE string literals:
        # UPDATE t SET status = 'paid where due' WHERE id = 1 splits
        # at the second WHERE, not the one inside the literal
        w = sqllex.find(r"\s+WHERE\s+", tail, re.IGNORECASE)
        if w >= 0:
            sets = tail[:w]
            where = sqllex.match(r"\s+WHERE\s+(.*)$", tail[w:],
                             re.IGNORECASE | re.DOTALL).group(1)
        else:
            sets, where = tail, None
        assigns: dict[str, str] = {}
        for part in sqllex.split_top(sets):
            am = sqllex.match(rf"\s*({_IDENT})\s*=\s*(.*)$", part, re.DOTALL)
            if not am:
                raise ValueError(f"bad SET assignment: {part!r}")
            assigns[am.group(1)] = am.group(2).strip()
        # the table's delete_mode property governs UPDATE too (Delta's
        # DV property enables both): dv = old positions masked + the
        # updated rows appended, no file rewritten
        key = self._resolve(tname) or tname
        res = self.table(tname).update(
            assigns, where or "true",
            mode=self._delete_mode.get(key, "cow"))
        return self._metrics("update", res)

    def _delete(self, s: str) -> DataFrame:
        m = sqllex.match(
            rf"DELETE\s+FROM\s+({_TNAME})(?:\s+WHERE\s+(.*))?$",
            s, re.IGNORECASE | re.DOTALL)
        if not m:
            raise ValueError(f"unsupported DELETE shape: {s[:120]}")
        tname, where = m.groups()
        key = self._resolve(tname) or tname
        res = self.table(tname).delete(
            where or "true", mode=self._delete_mode.get(key, "cow"))
        return self._metrics("delete", res)

    def _restore(self, s: str) -> DataFrame:
        m = sqllex.match(
            rf"RESTORE\s+TABLE\s+({_TNAME})\s+TO\s+"
            rf"(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')"
            rf"\s*$", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported RESTORE shape: {s[:120]}")
        tname, ver, ts = m.groups()
        t = self.table(tname)
        v = (t.restore(version=int(ver)) if ver is not None
             else t.restore(timestamp=_ts_to_epoch(ts)))
        return self._metrics("restore", {"version": v})

    def _optimize(self, s: str) -> DataFrame:
        lit = r"(?:'[^']*'|[\w.\-]+)"
        m = sqllex.match(
            rf"OPTIMIZE\s+({_TNAME})"
            rf"(?:\s+WHERE\s+({_IDENT})\s+BETWEEN\s+({lit})"
            rf"\s+AND\s+({lit}))?"
            rf"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?\s*$",
            s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported OPTIMIZE shape: {s[:120]}")
        tname, wcol, wlo, whi, zcols = m.groups()
        t = self.table(tname)
        scope = ((wcol, self._sql_lit(wlo), self._sql_lit(whi))
                 if wcol else None)
        if zcols:
            res = t.optimize([c.strip() for c in zcols.split(",")],
                             scope=scope)
        else:
            res = t.compact(max_files=16, scope=scope)
        return self._metrics("optimize", res)

    @staticmethod
    def _sql_lit(text: str):
        """'abc' -> str; 12 -> int; 1.5 -> float (the OPTIMIZE WHERE
        bound grammar — stats comparisons take the JSON-safe form)."""
        if text.startswith("'"):
            return text[1:-1]
        try:
            return int(text)
        except ValueError:
            try:
                return float(text)
            except ValueError:
                return text

    def _vacuum(self, s: str) -> DataFrame:
        m = sqllex.match(
            rf"VACUUM\s+({_TNAME})"
            rf"(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+(VERSIONS|HOURS))?"
            rf"(\s+DRY\s+RUN)?\s*$",
            s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported VACUUM shape: {s[:120]}")
        tname, n, unit, dry = m.groups()
        t = self.table(tname)
        if unit and unit.upper() == "HOURS":
            res = t.vacuum(retain_hours=float(n), dry_run=bool(dry))
        else:
            res = t.vacuum(retain_versions=int(float(n)) if n else 2,
                           dry_run=bool(dry))
        return self._metrics("vacuum", res)

    def _reorg(self, s: str) -> DataFrame:
        """REORG TABLE t APPLY (PURGE [WHERE DEAD_FRAC > x]) — Delta's
        purge syntax, with the dead-fraction policy threshold as the
        one extension (Delta buries it in a table property)."""
        m = sqllex.match(
            rf"REORG\s+TABLE\s+({_TNAME})\s+APPLY\s*\(\s*PURGE"
            rf"(?:\s+WHERE\s+DEAD_FRAC\s*>\s*(\d+(?:\.\d+)?))?\s*\)\s*$",
            s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported REORG shape: {s[:120]}")
        tname, frac = m.groups()
        res = self.table(tname).materialize_dvs(
            min_dead_frac=float(frac) if frac else 0.0)
        return self._metrics("reorg", res)

    @staticmethod
    def _sq(s: str) -> str:
        """Escape a value for a Spark SQL single-quoted literal (a
        warehouse path may legally contain quotes/backslashes)."""
        return s.replace("\\", "\\\\").replace("'", "\\'")

    def _show_tables(self, s: str = "SHOW TABLES") -> DataFrame:
        # Arrow-path pandas frame, not a literal UNION ALL: at a few
        # hundred catalog entries the union's Catalyst plan
        # compilation costs SECONDS (measured 4.7s at 500 in
        # CATALOG_SLOPE_r11), while the Arrow conversion is
        # milliseconds and never takes the Python-RDD spin-up path
        import pandas as pd
        m = sqllex.match(rf"SHOW\s+TABLES(?:\s+IN\s+({_IDENT}))?\s*$",
                     s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported SHOW TABLES shape: {s[:80]}")
        in_db = m.group(1)
        if in_db and in_db != _DEFAULT_DB \
                and in_db not in self._databases:
            raise NoSuchDatabaseError(
                f"database '{in_db}' does not exist")

        def split(key: str) -> tuple[str, str]:
            return (tuple(key.split(".", 1)) if "." in key
                    else (_DEFAULT_DB, key))

        ddl = ("database string, tableName string, location string, "
               "deleteMode string, isDurable boolean")
        rows = [(split(n)[0], split(n)[1], self._tables[n].path,
                 self._delete_mode.get(n, "cow"), n in self._durable)
                for n in sorted(self._tables)
                if in_db is None or split(n)[0] == in_db]
        rows += [(split(n)[0], split(n)[1], "", "view",
                  n in self._durable)
                 for n in sorted(self._views)
                 if in_db is None or split(n)[0] == in_db]
        rows += [(split(n)[0], split(n)[1], self._ext[n]["path"],
                  f"external-{self._ext[n]['format']}",
                  n in self._durable)
                 for n in sorted(self._ext)
                 if in_db is None or split(n)[0] == in_db]
        if not rows:
            return self.spark.createDataFrame([], ddl)
        pdf = pd.DataFrame(rows, columns=["database", "tableName",
                                          "location", "deleteMode",
                                          "isDurable"])
        return self.spark.createDataFrame(pdf, schema=ddl)

    def _create_database(self, s: str) -> DataFrame:
        m = sqllex.match(rf"CREATE\s+DATABASE\s+(IF\s+NOT\s+EXISTS\s+)?"
                     rf"({_IDENT})\s*$", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported CREATE DATABASE: {s[:80]}")
        made = self.create_database(m.group(2),
                                    if_not_exists=bool(m.group(1)))
        return self._metrics("create_database", {"created": int(made)})

    def _drop_database(self, s: str) -> DataFrame:
        m = sqllex.match(rf"DROP\s+DATABASE\s+(IF\s+EXISTS\s+)?({_IDENT})"
                     rf"(\s+CASCADE)?\s*$", s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported DROP DATABASE: {s[:80]}")
        n = self.drop_database(m.group(2), cascade=bool(m.group(3)),
                               if_exists=bool(m.group(1)))
        return self._metrics("drop_database", {"tables_dropped": n})

    def _show_create(self, s: str) -> DataFrame:
        """SHOW CREATE TABLE t: reconstruct the DDL (the Athena/Spark
        answer to 'how do I make another one of these') from the
        table's CURRENT snapshot — column specs incl. NOT NULL /
        DEFAULT / GENERATED (expr + identity), hidden partitioning,
        and TBLPROPERTIES. User CHECK constraints (non-auto) are
        emitted as trailing ALTER statements since the CREATE grammar
        has no inline CHECK."""
        m = sqllex.match(rf"SHOW\s+CREATE\s+TABLE\s+({_TNAME})\s*$",
                     s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported SHOW CREATE: {s[:120]}")
        name = m.group(1)
        vkey = self._resolve_view(name)
        if vkey is not None:
            stmt = (f"CREATE VIEW {name} AS "
                    f"{self._views[vkey]['sql']}")
            return self._lit_frame(
                [f"SELECT '{self._sq(stmt)}' AS createtab_stmt"])
        t = self.table(name)
        snap = t._replay()
        if snap.schema is None:
            raise ValueError(f"{name} has no schema yet")
        nn = {c[5:] for c in snap.constraints if c.startswith("__nn_")}
        cols = []
        for f in snap.schema.fields:
            spec = f"{f.name} {f.dataType.simpleString()}"
            if f.name in nn:
                spec += " NOT NULL"
            if f.name in snap.defaults:
                spec += f" DEFAULT {snap.defaults[f.name]}"
            if f.name in snap.generated:
                spec += (" GENERATED ALWAYS AS "
                         f"({snap.generated[f.name]})")
            if f.name in snap.identity:
                i = snap.identity[f.name]
                spec += (" GENERATED ALWAYS AS IDENTITY (START WITH "
                         f"{i['start']} INCREMENT BY {i['step']})")
            cols.append(spec)
        stmt = (f"CREATE TABLE {name} (\n  "
                + ",\n  ".join(cols) + "\n) USING txlog")
        if snap.partition_by:
            stmt += ("\nPARTITIONED BY ("
                     + ", ".join(snap.partition_by) + ")")
        if snap.properties:
            kv = ", ".join(f"'{k}' = '{v}'" for k, v
                           in sorted(snap.properties.items()))
            stmt += f"\nTBLPROPERTIES ({kv})"
        for cname, expr in sorted(snap.constraints.items()):
            if not cname.startswith(("__nn_", "__gen_")):
                stmt += (f";\nALTER TABLE {name} ADD CONSTRAINT "
                         f"{cname} CHECK ({expr})")
        esc = self._sq(stmt)
        return self._lit_frame(
            [f"SELECT '{esc}' AS createtab_stmt"])

    def _undrop(self, s: str) -> DataFrame:
        m = sqllex.match(rf"UNDROP\s+TABLE\s+({_TNAME})\s*$",
                     s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported UNDROP shape: {s[:120]}")
        self.undrop(m.group(1))
        return self._metrics("undrop_table", {"restored": 1})

    def _drop_table(self, s: str) -> DataFrame:
        m = sqllex.match(rf"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?({_TNAME})\s*$",
                     s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported DROP TABLE shape: {s[:120]}")
        if_exists, name = m.groups()
        key = self._resolve(name)
        if key is None:
            if if_exists:
                return self._metrics("drop_table", {"dropped": 0})
            raise KeyError(f"'{name}' is not a registered lakehouse "
                           f"table; registered: {sorted(self._tables)}")
        self.unregister(key)
        # stale snapshot view (bare and qualified spellings mangle
        # to the same stable view name)
        self.spark.catalog.dropTempView(_view_name(key))
        return self._metrics("drop_table", {"dropped": 1})

    def _alter(self, s: str) -> DataFrame:
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+RENAME\s+TO\s+"
            rf"({_TNAME})\s*$", s, re.IGNORECASE)
        if m:
            if self._resolve_view(m.group(1)):
                raise ValueError(
                    f"'{m.group(1)}' is a VIEW — drop and recreate it "
                    "(view text is SQL, not a movable location)")
            # resolve BEFORE the rename: afterwards the old key no
            # longer resolves and the mangled stale view would survive
            old_key = self._resolve(m.group(1)) or m.group(1)
            self.rename_table(m.group(1), m.group(2))
            self.spark.catalog.dropTempView(_view_name(old_key))
            return self._metrics("rename_table", {"renamed": 1})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+ADD\s+CONSTRAINT\s+"
            rf"({_IDENT})\s+CHECK\s*\((.*)\)\s*$",
            s, re.IGNORECASE | re.DOTALL)
        if m:
            v = self.table(m.group(1)).add_check_constraint(
                m.group(2), m.group(3).strip())
            return self._metrics("add_constraint", {"version": v})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+DROP\s+CONSTRAINT\s+"
            rf"({_IDENT})\s*$", s, re.IGNORECASE)
        if m:
            v = self.table(m.group(1)).drop_check_constraint(m.group(2))
            return self._metrics("drop_constraint", {"version": v})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+ADD\s+COLUMNS?\s*\(",
            s, re.IGNORECASE)
        if m:
            # balanced scan, not a regex capture: column TYPES nest
            # parens (DECIMAL(10,2)) and DEFAULT literals may hold ')'
            end = sqllex.scan_parens(s, m.end() - 1)
            if s[end:].strip():
                raise ValueError(
                    f"unsupported ALTER TABLE shape: {s[:120]}")
            body = s[m.end():end - 1]
            cols: dict[str, str] = {}
            for part in sqllex.split_top(body):
                cm = sqllex.match(rf"\s*({_IDENT})\s+(.+?)\s*$", part,
                              re.DOTALL)
                if not cm:
                    raise ValueError(f"bad column spec: {part!r}")
                cols[cm.group(1)] = cm.group(2)
            v = self.table(m.group(1)).add_columns(cols)
            return self._metrics("add_columns", {"version": v})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+RENAME\s+COLUMN\s+"
            rf"({_IDENT})\s+TO\s+({_IDENT})\s*$", s, re.IGNORECASE)
        if m:
            v = self.table(m.group(1)).rename_column(m.group(2),
                                                     m.group(3))
            return self._metrics("rename_column", {"version": v})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+ALTER\s+COLUMN\s+"
            rf"({_IDENT})\s+TYPE\s+(.+?)\s*$", s, re.IGNORECASE)
        if m:
            v = self.table(m.group(1)).widen_column(m.group(2),
                                                    m.group(3))
            return self._metrics("widen_column", {"version": v})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+ALTER\s+COLUMN\s+"
            rf"({_IDENT})\s+SET\s+DEFAULT\s+(.+?)\s*$",
            s, re.IGNORECASE | re.DOTALL)
        if m:
            v = self.table(m.group(1)).set_column_default(
                m.group(2), m.group(3).strip())
            return self._metrics("set_default", {"version": v})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+ALTER\s+COLUMN\s+"
            rf"({_IDENT})\s+DROP\s+DEFAULT\s*$", s, re.IGNORECASE)
        if m:
            v = self.table(m.group(1)).drop_column_default(m.group(2))
            return self._metrics("drop_default", {"version": v})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+SET\s+TBLPROPERTIES\s*"
            rf"{_PBODY}\s*$", s, re.IGNORECASE | re.DOTALL)
        if m:
            props: dict[str, str] = {}
            for pair in sqllex.split_top(m.group(2)):
                pm = sqllex.match(r"\s*'([^']+)'\s*=\s*'([^']*)'\s*$", pair)
                if not pm:
                    raise ValueError(
                        f"bad TBLPROPERTIES entry: {pair!r}")
                props[pm.group(1)] = pm.group(2)
            v = self.table(m.group(1)).set_properties(props)
            return self._metrics("set_properties", {"version": v})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+UNSET\s+TBLPROPERTIES\s*"
            rf"{_PBODY}\s*$", s, re.IGNORECASE)
        if m:
            keys = [k.strip().strip("'")
                    for k in sqllex.split_top(m.group(2))]
            v = self.table(m.group(1)).unset_properties(keys)
            return self._metrics("unset_properties", {"version": v})
        m = sqllex.match(
            rf"ALTER\s+TABLE\s+({_TNAME})\s+DROP\s+COLUMNS?\s*"
            rf"(?:\(([^)]*)\)|({_IDENT}))\s*$", s, re.IGNORECASE)
        if m:
            t = self.table(m.group(1))
            names = ([c.strip() for c in m.group(2).split(",")]
                     if m.group(2) else [m.group(3)])
            v = -1
            for n in names:
                v = t.drop_column(n)
            return self._metrics("drop_column", {"version": v})
        raise ValueError(f"unsupported ALTER TABLE shape: {s[:120]}")

    def _detail(self, s: str) -> DataFrame:
        m = sqllex.match(rf"DESCRIBE\s+DETAIL\s+({_TNAME})\s*$",
                     s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported DESCRIBE DETAIL: {s[:120]}")
        d = self.table(m.group(1)).describe_detail()
        # _sq, not quote-doubling: JSON carries backslash escapes
        # that Spark's literal parser would otherwise process
        cons = self._sq(json.dumps(d["constraints"], sort_keys=True))
        cmap = self._sq(json.dumps(d["column_mapping"],
                                   sort_keys=True))
        return self._lit_frame([
            f"SELECT CAST({int(d['version'])} AS BIGINT) AS version, "
            f"CAST({int(d['num_files'])} AS BIGINT) AS num_files, "
            f"CAST({int(d['num_rows'])} AS BIGINT) AS num_rows, "
            f"CAST({int(d['size_bytes'])} AS BIGINT) AS size_bytes, "
            f"'{','.join(d['partition_by'])}' AS partition_by, "
            f"'{cons}' AS constraints, "
            f"'{cmap}' AS column_mapping, "
            f"CAST({int(d['dv_files'])} AS BIGINT) AS dv_files, "
            f"CAST({int(d['dv_dead_rows'])} AS BIGINT) AS dv_dead_rows, "
            f"CAST({int(d['min_reader_version'])} AS BIGINT) "
            f"AS min_reader_version, "
            f"CAST({int(d['min_writer_version'])} AS BIGINT) "
            f"AS min_writer_version, "
            f"'{','.join(d['table_features'])}' AS table_features"])

    def _show_props(self, s: str) -> DataFrame:
        m = sqllex.match(rf"SHOW\s+TBLPROPERTIES\s+({_TNAME})\s*$",
                     s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported SHOW TBLPROPERTIES: {s[:120]}")
        props = self.table(m.group(1)).describe_detail()["properties"]
        return self._lit_frame(
            [f"SELECT '{self._sq(k)}' AS key, "
             f"'{self._sq(v)}' AS value"
             for k, v in sorted(props.items())]
            or ["SELECT '' AS key, '' AS value WHERE false"])

    def _history(self, s: str) -> DataFrame:
        m = sqllex.match(rf"DESCRIBE\s+HISTORY\s+({_TNAME})\s*$",
                     s, re.IGNORECASE)
        if not m:
            raise ValueError(f"unsupported DESCRIBE HISTORY: {s[:120]}")
        # Arrow-path frame (history_df), not a per-commit literal
        # union: at a few hundred commits the union costs seconds of
        # Catalyst plan compilation (the SHOW TABLES lesson)
        return self.table(m.group(1)).history_df()
