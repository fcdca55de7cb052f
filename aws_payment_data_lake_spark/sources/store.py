"""Operator-state store for derived corpus tables (shingle/signature
tables, LSH pair graphs, IVF/PQ/chunk indexes, LM counts), in two tiers.

Session tier (`SessionStore`): a per-application memo. Each store
family (queries/dedup.py, lm.py, similarity.py, rag.py) keeps one
instance holding a single live key, ``(applicationId, sf_dir)``. The
first consumer of a tier builds it (persist + count barrier inside the
family's builder, timed under the tier name in ``store_build_sec``);
later consumers in the same application get the same frames back. A
new application or scale factor evicts the old entry and unpersists
its cached frames, so correctness never depends on the memo: every
entry is rebuilt from the source on first touch.

Durable tier (`load_or_build`): when a warehouse directory is set
(`warehouse()`, the ``SPARK_GRAFT_WAREHOUSE`` env var), the session
builders go through this tier and the memo caches the read-back
frames. `load_or_build` materializes a named set of DataFrames as
parquet tables plus a `_STORE_META.json` commit marker carrying the
corpus fingerprint; any later SparkSession — a different application,
a different day — whose corpus fingerprint still matches reads the
tables back with ZERO recomputation, and a corpus change (append,
edit, delete) flips the fingerprint and triggers a rebuild. A
pure-append change rolls incrementally through the one gate,
`pure_append_prior`.

Crash + concurrency safety: every build lands in its own
FINGERPRINT-SCOPED version directory (``<store>/<fingerprint>/<table>``),
staged under a writer-private ``.build-*`` name and atomically renamed
to the fingerprint name; the meta file is renamed into place LAST and
points at one complete version. Consequences, each test-asserted
(tests/test_durable_store.py):
  * a crash mid-build leaves only an orphan staging dir — no meta, no
    half-version; the next consumer rebuilds (repeated work, never a
    corrupt read);
  * two concurrent writers can never commit a MIXED set of tables: the
    version-dir rename is the mutex (rename onto a non-empty dir fails,
    the loser discards its staging and reads the winner's — same
    fingerprint means same content);
  * a rebuild after a corpus roll never touches the previous version's
    files, so a reader application holding open DataFrames on the old
    version stays correct across the swap. GC on successful commit
    keeps the current + immediately-prior version and deletes older
    ones (the bounded-retention a real table format calls VACUUM).

Scale shape: the fingerprint is one aggregation over the corpus
(count + order-independent XOR of per-row xxhash64) — a scan-bandwidth
pass with a 2-value result, no shuffle beyond the final combine. The
store itself is plain parquet: at 100 TB these are ordinary silver
tables under the lake's warehouse prefix, and the meta file is the
poor-man's snapshot pointer a real table format (the declared Delta
upgrade path) would replace with a transaction log.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import threading
import uuid
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import Any, NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from aws_payment_data_lake_spark.telemetry import timed_store_build

_META_NAME = "_STORE_META.json"
STORE_VERSION = 2  # v2: versioned layout + sum-folded fingerprint

# test/telemetry hook: one entry per actual build (store_dir, fingerprint)
BUILD_EVENTS: list[tuple[str, str]] = []


def warehouse() -> str | None:
    """The durable tier's root directory, or None when only the session
    tier is on (the driver/bench default)."""
    return os.environ.get("SPARK_GRAFT_WAREHOUSE") or None


def _release(frames: Iterable) -> None:
    """Unpersist every cached frame in ``frames``. Best effort: the
    release runs on eviction and after a store write, where the frames'
    session may already be stopped — a failed unpersist leaves at worst
    an orphan cache, which must not fail the query that triggered it."""
    for df in frames:
        if isinstance(df, DataFrame) and df.is_cached:
            try:
                df.unpersist()
            except Exception:
                pass


class _Entry:
    def __init__(self) -> None:
        self.values: dict[str, tuple] = {}
        self.locks: dict[str, threading.Lock] = {}
        self.evicted = False


class SessionStore:
    """The session tier: a memo of built tiers for ONE live key,
    ``(applicationId, sf_dir)``. `get` evicts a stale key (marks its
    entry evicted, then unpersists its cached frames), builds a missing
    tier under that tier's own lock — so a long Spark materialization
    serializes only same-tier builders — and returns the same tuple
    object on every later hit. A builder that finishes after its entry
    was evicted unpersists its own frames instead of leaking them (the
    frames stay valid, merely uncached)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()  # guards the key/entry swap only
        self._key: tuple[str, str] | None = None
        self._entry = _Entry()

    def get(self, spark: SparkSession, sf_dir: str, tier: str,
            build: Callable[[str | None], tuple]) -> tuple:
        """The ``tier`` tuple for ``sf_dir``, built on first touch by
        ``build(warehouse())`` (timed under ``tier``)."""
        key = (spark.sparkContext.applicationId, sf_dir)
        with self._lock:
            if key != self._key:
                old = self._entry
                # mark first: a builder still mid-build sees the flag
                # once it finishes and releases its own frames
                old.evicted = True
                for val in list(old.values.values()):
                    _release(val)
                self._key, self._entry = key, _Entry()
            ent = self._entry
            lock = ent.locks.setdefault(tier, threading.Lock())
        with lock:
            if tier not in ent.values:
                with timed_store_build(tier):
                    ent.values[tier] = build(warehouse())
            val = ent.values[tier]
            if ent.evicted:
                _release(val)
        return val


_SUM_MOD = 1_000_000_007  # sum fold bound: n * 1e9 < 2^63 for n < 9.2e9 rows


def corpus_fingerprint(df: DataFrame, *cols: str) -> str:
    """Order-independent content fingerprint of ``df`` over ``cols``
    (default: all columns): row count + XOR of per-row xxhash64 + an
    additive fold (sum of per-row hashes mod 1e9+7, ANSI-overflow-safe
    to ~9.2e9 rows). One scan, constant-size result. XOR and modular
    sum are both commutative, so the fingerprint is stable across
    partitioning and row order; any row added, removed or edited flips
    it, and the sum fold also catches even-multiplicity swaps that XOR
    alone cancels (ADVICE r6). Column names are backtick-quoted, so
    names needing quoting can't break the expression (still a
    non-adversarial contract — a deliberately crafted row multiset
    could collide, which a content-addressed store does not defend
    against)."""
    use = list(cols) if cols else df.columns
    quoted = ", ".join("`" + c.replace("`", "``") + "`" for c in use)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({quoted}))").alias("x"),
        F.expr(f"sum(pmod(xxhash64({quoted}), {_SUM_MOD}))").alias("s"),
    ).collect()[0]
    x = row["x"] if row["x"] is not None else 0
    s = (row["s"] if row["s"] is not None else 0) % _SUM_MOD
    return (f"v{STORE_VERSION}-{row['n']}-"
            f"{(x ^ (s << 30)) & (2**64 - 1):016x}")


def _meta_path(store_dir: str) -> str:
    return os.path.join(store_dir, _META_NAME)


# version dirs are named exactly the fingerprint ("v1-<n>-<16 hex>");
# GC matches this shape only, so it can never touch staging dirs, the
# meta file, or any pre-versioning flat table layout.
_VERSION_DIR_RE = re.compile(r"^v\d+-\d+-[0-9a-f]{16}$")


def _version_dir(store_dir: str, fingerprint: str) -> str:
    return os.path.join(store_dir, fingerprint)


def store_is_fresh(store_dir: str, fingerprint: str,
                   tables: tuple[str, ...]) -> bool:
    """True iff the commit marker exists, matches ``fingerprint``, and
    every named table directory is present in that version dir."""
    try:
        with open(_meta_path(store_dir)) as fh:
            meta = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return False
    return (meta.get("fingerprint") == fingerprint
            and meta.get("version") == STORE_VERSION
            and set(tables) <= set(meta.get("tables", []))
            and all(os.path.isdir(
                os.path.join(_version_dir(store_dir, fingerprint), t))
                for t in tables))


def read_store(spark: SparkSession, store_dir: str, fingerprint: str,
               tables: tuple[str, ...]) -> dict[str, DataFrame]:
    vdir = _version_dir(store_dir, fingerprint)
    return {t: spark.read.parquet(os.path.join(vdir, t))
            for t in tables}


def committed_version(store_dir: str
                      ) -> tuple[str, list[str], dict] | None:
    """(fingerprint, tables, extras) the meta pointer currently
    commits, or None when the store is empty/uncommitted. Lets the
    pure-append gate read the prior version's tables while a builder
    computes only the delta against a rolled corpus: the meta is the
    snapshot pointer, so whatever it names is a complete, immutable
    version — safe to read while a new version is being staged.
    ``extras`` is the small builder-declared metadata dict recorded at
    commit (e.g. the corpus max id the pure-append gate cuts at)."""
    try:
        with open(_meta_path(store_dir)) as fh:
            meta = json.load(fh)
    except (OSError, json.JSONDecodeError):
        return None
    fp, tables = meta.get("fingerprint"), meta.get("tables", [])
    if (not fp or meta.get("version") != STORE_VERSION
            or not all(os.path.isdir(
                os.path.join(_version_dir(store_dir, fp), t))
                for t in tables)):
        return None
    return fp, list(tables), dict(meta.get("extras") or {})


def _gc_old_versions(store_dir: str, current: str,
                     previous: str | None) -> None:
    """Keep the committed version plus the version the meta pointed at
    IMMEDIATELY BEFORE this commit (a reader that resolved the old
    meta may still hold open frames on it); delete every other
    version. Keyed to the meta pointer, not directory mtime: after a
    roll-BACK (repoint without a new dir) the mtime-newest prior dir
    is NOT the one readers were using, and an mtime-based keep would
    delete live files (review r7 finding). Best-effort — GC failure
    never fails a commit."""
    keep = {current, previous}
    try:
        for d in os.listdir(store_dir):
            if (_VERSION_DIR_RE.match(d) and d not in keep
                    and os.path.isdir(os.path.join(store_dir, d))):
                shutil.rmtree(os.path.join(store_dir, d),
                              ignore_errors=True)
    except OSError:
        pass


@dataclass(frozen=True)
class AppendFrom:
    """A builder's declaration that a table's new version is the PRIOR
    version's content plus ``delta`` rows: write_store materializes
    only the delta as new part files and HARDLINKS the prior version's
    data files into the new table directory (a parquet directory is
    just its part files — the link set plus the delta IS the union).
    This is the file-reference move a manifest-based table format
    makes on append: the new snapshot lists old files + new files, no
    data is rewritten, and GC of the old version directory only
    unlinks names (the shared bytes live until the last version
    referencing them goes). On object stores without hard links this
    degrades to a server-side copy (shutil.copy2 fallback here);
    the honest fix there is the declared Delta upgrade path."""

    delta: DataFrame
    prior_table_dir: str


def _link_prior_files(prior_dir: str, dest_dir: str) -> None:
    """Hardlink the prior version's parquet DATA files into dest (the
    freshly written delta dir). Spark part-file names embed a per-write
    UUID, so collisions with the delta's files cannot happen; marker
    files (_SUCCESS etc.) are skipped. Falls back to copy2 when the
    filesystem refuses links."""
    for name in os.listdir(prior_dir):
        if name.startswith("_") or name.startswith("."):
            continue
        src = os.path.join(prior_dir, name)
        dst = os.path.join(dest_dir, name)
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)


def write_store(store_dir: str, fingerprint: str,
                frames: dict[str, DataFrame | AppendFrom],
                extras: dict | None = None) -> None:
    """Materialize ``frames`` as parquet tables under a NEW version dir
    named by the fingerprint; the meta commit marker is written to a
    temp name and renamed into place LAST. The version dir itself is
    staged under a writer-private name and renamed — the rename is the
    cross-process mutex (it fails when a concurrent same-fingerprint
    writer already committed; ours is discarded, the winner's content
    is identical by construction)."""
    os.makedirs(store_dir, exist_ok=True)
    vdir = _version_dir(store_dir, fingerprint)
    if not os.path.isdir(vdir):
        staging = os.path.join(store_dir, f".build-{uuid.uuid4().hex}")
        try:
            for name, df in frames.items():
                tdir = os.path.join(staging, name)
                if isinstance(df, AppendFrom):
                    df.delta.write.mode("overwrite").parquet(tdir)
                    _link_prior_files(df.prior_table_dir, tdir)
                else:
                    df.write.mode("overwrite").parquet(tdir)
            try:
                os.rename(staging, vdir)
            except OSError:
                if not os.path.isdir(vdir):  # lost a race we can't win
                    raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)
    else:
        # The version dir exists but this build may carry tables it
        # lacks (a store family grew a table without a corpus change —
        # the fingerprint is corpus-only). Skipping the write and
        # committing a meta that lists the missing table would wedge
        # the store: every later read crashes, every later build skips
        # again (review r7 finding). Write exactly the MISSING tables —
        # same-fingerprint content is deterministic, so this addition
        # is sound. Each table is staged under a writer-private name
        # and RENAMED into the version dir: a crash mid-write leaves
        # only an orphan staging dir, never a partial table inside the
        # committed version dir (a partial table would pass the
        # dir-presence shortcut in load_or_build and wedge every
        # subsequent read — review r8/ADVICE finding).
        for name, df in frames.items():
            tdir = os.path.join(vdir, name)
            if (os.path.isdir(tdir)
                    and not os.path.exists(
                        os.path.join(tdir, "_SUCCESS"))):
                # torn table from a pre-staging crash: a complete
                # table is only ever renamed in with _SUCCESS inside,
                # so a marker-less dir is garbage — clear it so the
                # staged replacement can land
                shutil.rmtree(tdir, ignore_errors=True)
            if not os.path.isdir(tdir):
                stg = os.path.join(store_dir, f".tbl-{uuid.uuid4().hex}")
                try:
                    if isinstance(df, AppendFrom):
                        df.delta.write.mode("overwrite").parquet(stg)
                        _link_prior_files(df.prior_table_dir, stg)
                    else:
                        df.write.mode("overwrite").parquet(stg)
                    try:
                        os.rename(stg, os.path.join(vdir, name))
                    except OSError:
                        # concurrent same-fingerprint writer won the
                        # rename; identical content, ours is discarded
                        if not os.path.isdir(os.path.join(vdir, name)):
                            raise
                finally:
                    shutil.rmtree(stg, ignore_errors=True)
    _commit_meta(store_dir, fingerprint, sorted(frames), extras)


def _commit_meta(store_dir: str, fingerprint: str,
                 tables: list[str], extras: dict | None = None) -> None:
    try:  # the version readers were on until this commit — GC-protected
        with open(_meta_path(store_dir)) as fh:
            previous = json.load(fh).get("fingerprint")
    except (OSError, json.JSONDecodeError):
        previous = None
    tmp = _meta_path(store_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"fingerprint": fingerprint, "version": STORE_VERSION,
                   "tables": tables, "extras": extras or {}}, fh)
    os.replace(tmp, _meta_path(store_dir))
    _gc_old_versions(store_dir, fingerprint, previous)


_CUT = "max_id"  # meta extras key of the corpus cut pure_append_prior reads


def append_cut(df: DataFrame, id_col: str) -> Callable[[], dict]:
    """``extras`` for `load_or_build` recording the corpus max id, the
    cut `pure_append_prior` splits the next roll at."""
    return lambda: {_CUT: df.agg(F.max(id_col)).first()[0]}


class PriorVersion(NamedTuple):
    frames: dict[str, DataFrame]  # the committed version's tables
    delta: DataFrame              # corpus rows above the cut
    cut: Any                      # max id the committed version covers
    vdir: str                     # its version directory


def pure_append_prior(spark: SparkSession, df: DataFrame, store_dir: str,
                      tables: tuple[str, ...], df_id_col: str,
                      fp_cols: tuple[str, ...]) -> PriorVersion | None:
    """The incremental-ingest gate: when this store's committed version
    is a PURE-APPEND ancestor of ``df`` — every prior row still present
    byte-identical — return it as a `PriorVersion` so a builder can
    grow derived state from frozen artifacts instead of recomputing
    the corpus.

    The prior subset is cut JOIN-FREE at the corpus max id the version
    recorded at commit (`append_cut`): a log-structured corpus appends
    with increasing ids, so base = ``df_id_col <= cut`` and delta = the
    rest, two partition-prunable filters, zero shuffles. The base
    subset is then re-fingerprinted over ``fp_cols`` and matched
    against the committed version's own fingerprint (which IS its dir
    name); any edit, delete, id reuse, or below-max interleaved append
    flips it and returns None — full rebuild, conservative, never
    wrong. A version committed without a cut also returns None. (An
    id-set-membership draft of this gate cost three corpus shuffles
    and made an ANN ingest roll slower than the rebuild it replaced —
    11.2 vs 8.4 s at 200k vectors.)"""
    cv = committed_version(store_dir)
    if cv is None:
        return None
    fp_prior, meta_tables, extras = cv
    cut = extras.get(_CUT)
    if cut is None or not set(tables) <= set(meta_tables):
        return None
    if corpus_fingerprint(df.where(F.col(df_id_col) <= cut),
                          *fp_cols) != fp_prior:
        return None
    return PriorVersion(read_store(spark, store_dir, fp_prior, tables),
                        df.where(F.col(df_id_col) > cut), cut,
                        _version_dir(store_dir, fp_prior))


def load_or_build(spark: SparkSession, store_dir: str, fingerprint: str,
                  tables: tuple[str, ...],
                  build: Callable[[], dict[str, DataFrame]],
                  extras: dict | Callable[[], dict] | None = None,
                  ) -> tuple[dict[str, DataFrame], bool]:
    """The store contract: return ``tables`` read from ``store_dir`` if
    the stored fingerprint matches (zero recomputation), else run
    ``build()``, materialize, and return the READ-BACK frames (so
    downstream plans scan the stored parquet, never the build pipeline).
    Returns (frames, built). Builder-returned frames are unpersisted
    after the write — their caches must not outlive the store swap.

    A corpus roll-BACK to a still-retained version (GC keeps
    current+prior) repoints the meta without building: built=False,
    zero recomputation.

    ``extras`` (dict, or a zero-arg callable evaluated only when a
    commit actually happens — so a fresh-store hit never pays for it)
    is recorded in the meta and surfaced by `committed_version`; used
    by `append_cut` to remember the corpus max id for the next roll."""

    def _extras() -> dict | None:
        return extras() if callable(extras) else extras

    if not store_is_fresh(store_dir, fingerprint, tables):
        vdir = _version_dir(store_dir, fingerprint)
        # dir-presence shortcut requires each table to be COMPLETE
        # (Spark's _SUCCESS marker), not merely present — a torn table
        # left by a crashed writer must trigger a rebuild, not a
        # meta commit that wedges every later read
        if all(os.path.isdir(os.path.join(vdir, t))
               and os.path.exists(os.path.join(vdir, t, "_SUCCESS"))
               for t in tables):
            _commit_meta(store_dir, fingerprint, sorted(tables), _extras())
            return read_store(spark, store_dir, fingerprint, tables), False
        # "warehouse:" prefix keeps the durable build separable from a
        # session-tier wrapper that may enclose this call under the
        # same family name
        with timed_store_build(
                "warehouse:" + os.path.basename(store_dir.rstrip("/"))):
            frames = build()
            missing = set(tables) - set(frames)
            if missing:
                raise ValueError(
                    f"builder did not produce {sorted(missing)}")
            write_store(store_dir, fingerprint, frames, _extras())
        BUILD_EVENTS.append((store_dir, fingerprint))
        _release(df.delta if isinstance(df, AppendFrom) else df
                 for df in frames.values())
        return read_store(spark, store_dir, fingerprint, tables), True
    return read_store(spark, store_dir, fingerprint, tables), False
