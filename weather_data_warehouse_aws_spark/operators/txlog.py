"""Minimal transaction-log table format: atomic multi-file commits,
snapshot-isolated reads, time travel, and vacuum — the metadata layer the
rest of the lake-maintenance family (compaction, GDPR erasure) needs to be
safe under CONCURRENT readers and writers.

Why this exists: rewriting a plain parquet directory in place races any
reader that listed it a moment earlier, needs its own staging directory
and crash-recovery protocol per operation, and an erasure that removes
every row loses the table's schema with its last data file. All three
are solved the way Delta Lake / Apache Iceberg solve them — public designs
(Armbrust et al., "Delta Lake: High-Performance ACID Table Storage over
Cloud Object Stores", VLDB 2020): the set of live data files is defined by
an append-only JSON log, never by directory listing, so compaction,
clustering and erasure are ordinary (add, remove) commits with no swap
to recover from.

Layout (all under the table root):

    <table>/_txn_log/00000000000000000000.json     commit 0, 1, 2, ...
    <table>/_txn_log/00000000000000000010.checkpoint.parquet  (every Nth)
    <table>/part-<hex>.parquet                     data files, immutable

Checkpoints are PARQUET (Delta's published design): one row per live
file (rel, stats_json, dvs), table-level state in the footer key-value
metadata — so resolving a snapshot over a 10M-file table is a
compressed columnar read, not gigabytes of JSON text parse. Readers
accept the pre-round-9 `.checkpoint.json` spelling forever (mixed-era
logs replay fine); the writer only emits parquet.

Each commit is `{"version", "op", "add": [relpath], "remove": [relpath],
"meta": {...}}`. A snapshot at version v replays the log (from the newest
checkpoint ≤ v): live = adds − removes, in order. Data files are IMMUTABLE
— every operation writes new files and commits an (add, remove) pair, so:

* **Readers are snapshot-isolated for free.** A reader resolves its file
  list once; compaction/erasure running concurrently add/remove OTHER
  files and never touch the ones the reader resolved (until vacuum, whose
  retention window is the documented covenant, as in Delta).
* **Commits are atomic.** The next version's log entry is claimed through
  the `LogStore` protocol (`put_if_absent` / `list` / `read` — exactly
  the public Delta LogStore contract): exactly one writer wins a version,
  losers re-read the snapshot and retry (optimistic concurrency). The
  local-FS default publishes a fully-fsynced temp file via exclusive
  hard-link, so a claimed version is never torn; `register_log_store`
  swaps in an object-store implementation (S3 conditional PUT / DynamoDB
  mutex, HDFS rename-without-overwrite) for the COMMIT PROTOCOL, and
  `register_data_store` swaps the DATA plane (staging, publishing,
  reads, deletes, the orphan sweep) onto the store's plain
  PUT/GET/DELETE/LIST verbs — register both and the format runs on an
  object store with no operator changes (the whole txlog test suite
  passes against a no-rename, no-directory bucket emulation; see
  `DataStore`).
* **Conflicts are semantic, not physical.** Blind appends never conflict
  (retry always succeeds). Operations that REPLACE files (compact, erase,
  overwrite) validate at commit time that every file they remove is still
  live; if a concurrent writer removed one first, the work was based on a
  stale snapshot → `TxConflict` (caller re-runs). This is Delta's
  write-serializable check reduced to remove-set disjointness.
* **Schema outlives the data.** Append/overwrite commits record the
  DataFrame schema; an emptied table still reads as 0 rows × full schema.
* **Replay stays O(tail).** Every `CHECKPOINT_INTERVAL` commits the winner
  also writes a checkpoint (full live set + schema); snapshot loads the
  newest checkpoint ≤ target and replays only the tail — at 100 TB with
  millions of commits this is the difference between O(1) and O(log-len)
  per query plan.

Time travel: `tx_read(spark, path, version=v)` — any version not yet
vacuumed — or `as_of_ts=` (TIMESTAMP AS OF: epoch/datetime/ISO string,
resolved by `tx_version_at` with Delta's monotonic adjustment against
writer clock skew).

Generated columns: `tx_set_generated_column(path, col, expr)` — derive
when a payload omits the column, enforce null-safe equality when it
provides one, regenerate on UPDATE/MERGE images; declare a derived date
and `tx_set_partition_spec` onto it and raw appends lay out (and prune)
by a key the writer never computes.

Shallow clone: `tx_clone(src, dst)` branches a table in ONE metadata
commit — the clone's `ext<i>:` rels reference the source's files
through recorded `bases` roots, every reader/rewriter resolves them via
`_rel_home`, vacuum never deletes referenced bytes (`_drop_files` skips
ext refs), and `tx_compact` copies them home (incremental deep clone).
The change feed upgrades to row semantics on request:
`tx_changes(update_images=True)` emits update_preimage/update_postimage
for UPDATE commits and key-resolves MERGE commits into minimal changes. `tx_vacuum` advances a horizon (recorded as a commit, so the
refusal to read pre-horizon versions is itself transactional) and only
then deletes files whose last reference is below it; `retain_hours`
bounds the horizon to commits older than the window (Delta RETAIN n
HOURS). `tx_cleanup_log` then retires commit/checkpoint JSONs below the
newest checkpoint at-or-below the horizon, bounding the log LIST that
every snapshot resolution pays.

Schema evolution without rewrite (all metadata-only, versioned,
checkpoint-folded):

* **Column mapping** — `tx_rename_column` / `tx_drop_column` record a
  logical→physical name map; files keep physical names forever, writers
  and readers translate at single choke points, stats pruning
  translates in `_skip_file`, dropped names are poisoned against
  resurrection until `tx_overwrite` resets the map.
* **Type widening** — commits record the WIDER of the live and written
  numeric types (int/float lattices); when Spark's mergeSchema refuses
  a width conflict, reads pin the logged schema ∪ per-footer extras so
  narrow-era files upcast at scan (`_footer_union_fields`).

File skipping, two layers (both proof-based — a file is skipped only when
it provably holds no matching row):

* **Hive partitioning** (`partition_by=` on append/overwrite/merge/
  replace_where): data files land under `col=value/` prefixes and the
  log-relative path ITSELF carries the partition values — no extra
  metadata, and pruning is EXACT for any comparable type including
  strings and dates (`_pv_skip`). Scans still never list directories
  (the log stores the hive-prefixed relpaths); the layout exists so
  paths encode values, readers recover the columns via basePath, and
  every rewrite op preserves the scheme. `tx_overwrite` may change it
  (it replaces every file), and `tx_set_partition_spec` EVOLVES it for
  future writes without rewriting (Iceberg-style): layout eras coexist,
  scanned as one group per era, pruned per-file from each file's own
  path keys.
* **Footer stats** recorded at commit time for numeric AND date columns
  (dates as ISO strings — int32-backed, exact, unlike truncatable binary
  stats); pair with `tx_compact(sort_by=/zorder_by=)` to concentrate
  ranges into few files.

Reference parity: the reference has no table format at all — its silver
re-runs duplicate rows (`bronze_to_silver.py:27,87`, the M4 bug);
`tx_overwrite` is the transactional fix for that class, and its
hive-partitioned bronze/silver keyspace is what `partition_by` carries
onto the transactional format.
"""

from __future__ import annotations

import datetime
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    NumericType,
    StructField,
    StructType,
    TimestampType,
)

CHECKPOINT_INTERVAL = 10
# Checkpoints are written as parquet (Delta's published design: the full
# live set is COLUMNAR — one row per live file, table state in the footer
# key-value metadata), which keeps checkpoint load O(columns touched) and
# binary-compact: at millions of live files a JSON checkpoint is GBs of
# driver-side text parse, a parquet one is a column-pruned Arrow read.
# The pre-round-9 `.checkpoint.json` payload is still READ forever
# (mixed-era logs replay fine), never written.
_LOG_DIR = "_txn_log"
_PAD = 20
# strict log-entry names: anything else in _txn_log (editor backups,
# '.json'-suffixed temps, the store's own .tmp-* staging files) is IGNORED
# rather than int()-crashed on — a stray file must never brick the table
_COMMIT_RE = re.compile(r"^(\d{20})\.json$")
_CHECKPOINT_RE = re.compile(r"^(\d{20})\.checkpoint\.(json|parquet)$")
# checkpoint sidecar parts (multi-part checkpoints): named by BIRTH
# version; never match the discovery regexes above, so replay/listing
# logic sees only manifests
_SIDECAR_RE = re.compile(r"^sc-(\d{20})-.*\.parquet$")

# Multi-part checkpoint policy (Delta v2-checkpoint design): past
# _MULTIPART_MIN live files a checkpoint writes a ZERO-ROW manifest whose
# footer lists sidecar parts — unchanged parts are REUSED from the
# previous checkpoint and one small DELTA part (tail adds + remove
# tombstones + DV-touched rels) is added, so checkpoint write cost tracks
# the delta, not the table. Every _SIDECAR_MAX_PARTS checkpoints the
# chain is COMPACTED into full parts of _SIDECAR_ROWS rows (amortized
# full-rewrite cost = table/_SIDECAR_MAX_PARTS).
_MULTIPART_MIN = 10_000
_SIDECAR_ROWS = 100_000
_SIDECAR_MAX_PARTS = 8


class TxConflict(RuntimeError):
    """A concurrent commit invalidated this operation's snapshot (a file
    it rewrites/removes is no longer live). Re-run the operation."""


class TxCorruption(RuntimeError):
    """A log entry that is not the newest commit failed to parse — the
    log's history is damaged (torn tails are self-healing; interior
    damage is not). The message names the file; restore it from a
    replica or checkpoint before using the table."""


class TxUnsupportedFeature(RuntimeError):
    """The table's folded feature set names a capability this build does
    not implement — reading would return wrong rows and writing would
    corrupt invariants the unknown feature maintains, so both refuse.
    Delta's table-features compatibility design (protocol evolution,
    Armbrust et al. VLDB 2020 §3.1): capability gating travels IN the
    log, not in out-of-band version coordination."""


#: Table features this build understands. A commit that first USES a
#: feature stamps the folded set into its record (replacement semantics,
#: monotone — features are never dropped, Delta's rule); every snapshot
#: resolution checks the folded set against this frozenset and raises
#: TxUnsupportedFeature on anything unknown. Old logs carry no feature
#: records and read as the empty set.
_FEATURES_SUPPORTED = frozenset({
    "deletion-vectors",     # dv_add commits / restore dv_state
    "column-mapping",       # rename/drop without rewrite
    "generated-columns",
    "check-constraints",
    "clone",                # ext<i>: rels through recorded bases
    "partition-evolution",  # multi-era hive layouts
})


def _derive_features(rec: dict) -> set[str]:
    """Features a commit RECORD uses, derived from its content — no op
    has to remember to declare anything, and future write paths are
    covered automatically."""
    feats: set[str] = set()
    meta = rec.get("meta") or {}
    if rec.get("dv_add") or meta.get("dv_state"):
        feats.add("deletion-vectors")
    if meta.get("column_map") or meta.get("dropped_cols"):
        feats.add("column-mapping")
    if meta.get("generated"):
        feats.add("generated-columns")
    if meta.get("constraints"):
        feats.add("check-constraints")
    if meta.get("bases"):
        feats.add("clone")
    if rec.get("op") == "set_partition_spec":
        feats.add("partition-evolution")
    return feats


# --------------------------------------------------------------------------
# LogStore seam — the three primitives commit/replay need, exactly the
# public Delta Lake LogStore contract (Armbrust et al. VLDB 2020 §3.2):
# mutual exclusion on writes of a named entry, listing, and reads. The
# DATA files never need consensus — they are immutable and single-writer,
# so plain object PUT/GET suffices — but their IO still needs PORTABILITY,
# which is the DataStore seam below.
# --------------------------------------------------------------------------


class LogStore:
    """Minimal storage protocol for the transaction log.

    Implementations for cluster object stores plug in here:
    * S3 + DynamoDB mutex, or S3 conditional PUT (If-None-Match) —
      `put_if_absent` maps to the conditional write;
    * HDFS / ABFS / GCS — atomic rename-without-overwrite.
    The local-FS default uses exclusive hard-link of a fully-fsynced temp
    file, so a claimed version is always COMPLETE on disk (no torn
    commits — the crash-safety half of "commits are atomic")."""

    def put_if_absent(self, log_dir: str, name: str, payload: str) -> bool:
        """Durably create `log_dir/name` with `payload` iff absent.
        Returns False (never partial content) if the name already exists."""
        raise NotImplementedError

    def list(self, log_dir: str) -> list[str]:
        """Entry names under `log_dir` (empty if the dir doesn't exist)."""
        raise NotImplementedError

    def read(self, log_dir: str, name: str) -> str:
        """Full payload of an entry."""
        raise NotImplementedError

    def put_if_absent_bytes(self, log_dir: str, name: str,
                            payload: bytes) -> bool:
        """Binary twin of `put_if_absent` (parquet checkpoints). The
        default bridges through the str method via latin-1 — LOSSLESS for
        any store that keeps the payload string verbatim (in-memory
        emulations, KV stores); a store whose str methods re-encode
        (file-backed text IO) MUST override with true binary IO, as
        `LocalFSLogStore` does. The bridge does not TRUST that contract:
        after a winning write it reads the entry back and compares, so a
        str-only store that silently re-encodes fails HERE — loudly, at
        checkpoint-write time — instead of corrupting the checkpoint and
        surfacing later as an unreadable snapshot (or not at all, if the
        json fallback masks it)."""
        won = self.put_if_absent(log_dir, name, payload.decode("latin-1"))
        if won:
            try:
                echo = self.read(log_dir, name).encode("latin-1")
            except UnicodeEncodeError:
                echo = None
            if echo != payload:
                raise TxCorruption(
                    f"{type(self).__name__}: binary payload for "
                    f"{name!r} did not survive the latin-1 str bridge — "
                    "this store re-encodes text; override "
                    "put_if_absent_bytes/read_bytes with true binary IO"
                )
        return won

    def read_bytes(self, log_dir: str, name: str) -> bytes:
        """Binary twin of `read`; same bridge contract as
        `put_if_absent_bytes`."""
        return self.read(log_dir, name).encode("latin-1")

    def spark_uri(self, log_dir: str, name: str) -> str | None:
        """A URI Spark / pyarrow can open DIRECTLY for entry `name`
        (e.g. the s3:// object key, the POSIX path), or None when the
        entry is absent or the store's entries aren't externally
        addressable — callers fall back to driver-side materialization.
        This is what lets the planner scan a parquet checkpoint as a
        DataFrame (`tx_files_df`) instead of pulling it through the
        driver."""
        return None

    def delete(self, log_dir: str, name: str) -> None:
        """Remove one entry; missing entries are a no-op. Needs no
        consensus — log retention (`tx_cleanup_log`) only ever deletes
        entries strictly below the newest checkpoint at-or-below the
        vacuum horizon, which no reader can resolve anyway."""
        raise NotImplementedError


class LocalFSLogStore(LogStore):
    def put_if_absent(self, log_dir: str, name: str, payload: str) -> bool:
        return self.put_if_absent_bytes(log_dir, name, payload.encode())

    def put_if_absent_bytes(self, log_dir: str, name: str,
                            payload: bytes) -> bool:
        os.makedirs(log_dir, exist_ok=True)
        dst = os.path.join(log_dir, name)
        if os.path.exists(dst):
            return False  # fast path; the link below is the real arbiter
        tmp = os.path.join(log_dir, f".tmp-{uuid.uuid4().hex}")
        fd = os.open(tmp, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644)
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(payload)
                f.flush()
                os.fsync(f.fileno())
            try:
                # link preserves exclusive-create semantics AND publishes a
                # complete, fsynced payload in one metadata op — a crash
                # mid-write leaves only an ignored .tmp-* file, never a
                # truncated commit at a claimed version
                os.link(tmp, dst)
            except FileExistsError:
                return False
            return True
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass

    def list(self, log_dir: str) -> list[str]:
        if not os.path.isdir(log_dir):
            return []
        return sorted(os.listdir(log_dir))

    def read(self, log_dir: str, name: str) -> str:
        with open(os.path.join(log_dir, name)) as f:
            return f.read()

    def read_bytes(self, log_dir: str, name: str) -> bytes:
        with open(os.path.join(log_dir, name), "rb") as f:
            return f.read()

    def spark_uri(self, log_dir: str, name: str) -> str | None:
        p = os.path.join(log_dir, name)
        return p if os.path.exists(p) else None

    def delete(self, log_dir: str, name: str) -> None:
        try:
            os.remove(os.path.join(log_dir, name))
        except FileNotFoundError:
            pass


_DEFAULT_STORE = LocalFSLogStore()
_STORES: dict[str, LogStore] = {}  # path prefix -> store


def _longest_prefix(path: str, registry: dict) -> str | None:
    best = None
    for prefix in registry:
        if path.startswith(prefix) and (best is None or len(prefix) > len(best)):
            best = prefix
    return best


def register_log_store(prefix: str, store: LogStore) -> None:
    """Route tables under `prefix` through `store` (longest prefix wins).
    This is how a cluster deployment mounts its object-store commit
    primitive without touching any operator."""
    _STORES[prefix] = store


def get_log_store(path: str) -> LogStore:
    best = _longest_prefix(path, _STORES)
    return _STORES[best] if best is not None else _DEFAULT_STORE


# --------------------------------------------------------------------------
# DataStore seam — the data-file IO protocol, symmetrical to LogStore.
# The LOG needs mutual exclusion (consensus); the DATA files are immutable
# and referenced only through the log, so none of these primitives needs
# atomicity beyond per-object PUT — they exist for PORTABILITY: an
# object-store table (S3/GCS/ABFS) has no rename, no directories to walk,
# and no shared POSIX mount, so every byte of data-plane IO routes through
# here. A half-published file is invisible until its commit lands (orphans
# are vacuum-sweepable), exactly the Delta data-plane contract
# (Armbrust et al. VLDB 2020 §3.1: "objects are immutable; the log is the
# source of truth").
# --------------------------------------------------------------------------


class DataStore:
    """Storage protocol for the table's DATA files (and small text
    artifacts like the external-reader manifest). Implementations map to
    plain object-store verbs: PUT (publish/put_atomic), GET
    (open_input/read_uri), DELETE (delete), LIST-by-prefix
    (list_files/list_stage). Invariants every implementation must keep:

    * `read_uri(root, rel)` is Spark-readable AND pyarrow/external-
      engine-readable (manifest lines are exactly these URIs), and is
      PREFIX-COMPOSABLE: `read_uri(root, rel) == read_uri(root, "") +
      rel` (modulo one joining '/'), so callers can invert it back to
      the log-relative path with a string strip — never os.path
      arithmetic, which corrupts scheme-ful URIs;
    * a file Spark scanned from `read_uri(root, rel)` reports
      `_metadata.file_path` == URL-encoded `scan_uri_root(root) + rel`
      (how `_read_live` recovers the log-relative path for row-level
      ops), and `spark_base_path(root)` makes Spark recover hive
      partition columns from the `col=value/` segments of `rel`;
    * staged writes live OUTSIDE the live keyspace: `list_files` never
      reports them;
    * instances are PICKLABLE (the `txtable` streaming source resolves
      the store driver-side and ships it to executors with the reader).
    """

    def stage_uri(self, table_root: str) -> str:
        """A fresh Spark-writable location for ONE staged `df.write`."""
        raise NotImplementedError

    def list_stage(self, stage_uri: str) -> list[str]:
        """Relative paths of the `*.parquet` files a completed df.write
        left under `stage_uri` (hive `col=value/` subdirs preserved)."""
        raise NotImplementedError

    def publish(
        self, table_root: str, stage_uri: str, staged_rel: str, rel: str
    ) -> None:
        """Make the staged file readable at `rel` under the table's data
        keyspace (rename on a shared FS, server-side copy on an object
        store — need NOT be atomic: unreferenced garbage is orphans)."""
        raise NotImplementedError

    def discard_stage(self, table_root: str, stage_uri: str) -> None:
        """Drop one staged write's leftovers (post-publish cleanup)."""
        raise NotImplementedError

    def sweep_stages(self, table_root: str) -> None:
        """Drop ALL staging areas for the table — vacuum's stranded-stage
        sweep (same no-writes-in-flight covenant as orphan removal)."""
        raise NotImplementedError

    def delete(self, table_root: str, rel: str) -> None:
        """Remove one data file; missing files are a no-op."""
        raise NotImplementedError

    def exists(self, table_root: str, rel: str) -> bool:
        raise NotImplementedError

    def list_files(self, table_root: str) -> list[str]:
        """Every `*.parquet` rel in the table's data keyspace (the orphan
        sweep's LIST — log entries and staged writes excluded)."""
        raise NotImplementedError

    def read_uri(self, table_root: str, rel: str) -> str:
        """URI/path `spark.read` (and external engines) open `rel` at."""
        raise NotImplementedError

    def scan_uri_root(self, table_root: str) -> str:
        """The `_metadata.file_path` prefix (trailing '/') Spark reports
        for files scanned via `read_uri` — see class invariants."""
        raise NotImplementedError

    def spark_base_path(self, table_root: str) -> str:
        """`basePath` option pinning hive partition recovery."""
        raise NotImplementedError

    def open_input(self, table_root: str, rel: str):
        """Binary file-like for pyarrow (footer stats, DV reads)."""
        raise NotImplementedError

    def put_atomic(self, table_root: str, rel: str, payload: str) -> str:
        """Atomically publish a small TEXT artifact (the manifest) at
        `rel`; returns its externally-readable location."""
        raise NotImplementedError


class LocalFSDataStore(DataStore):
    """Shared-POSIX default: staging is a sibling dir + same-FS rename,
    deletes prune emptied hive partition dirs, lists are os.walk."""

    def _stage_root(self, table_root: str) -> str:
        return table_root.rstrip("/") + "__tx_stage"

    def stage_uri(self, table_root: str) -> str:
        return os.path.join(self._stage_root(table_root), uuid.uuid4().hex)

    def list_stage(self, stage_uri: str) -> list[str]:
        rels = []
        for dirpath, _dirs, names in os.walk(stage_uri):
            sub = os.path.relpath(dirpath, stage_uri)
            prefix = "" if sub == "." else sub + "/"
            rels.extend(prefix + n for n in names if n.endswith(".parquet"))
        return sorted(rels)

    def publish(
        self, table_root: str, stage_uri: str, staged_rel: str, rel: str
    ) -> None:
        dst = os.path.join(table_root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        os.rename(os.path.join(stage_uri, staged_rel), dst)

    def discard_stage(self, table_root: str, stage_uri: str) -> None:
        shutil.rmtree(stage_uri, ignore_errors=True)
        root = self._stage_root(table_root)
        if os.path.isdir(root) and not os.listdir(root):
            os.rmdir(root)

    def sweep_stages(self, table_root: str) -> None:
        root = self._stage_root(table_root)
        if os.path.isdir(root):
            shutil.rmtree(root, ignore_errors=True)

    def delete(self, table_root: str, rel: str) -> None:
        root = os.path.abspath(table_root)
        try:
            os.remove(os.path.join(table_root, rel))
        except FileNotFoundError:
            pass
        # prune now-empty hive partition dirs (never the table root)
        d = os.path.dirname(os.path.join(root, rel))
        while d != root and os.path.isdir(d) and not os.listdir(d):
            os.rmdir(d)
            d = os.path.dirname(d)

    def exists(self, table_root: str, rel: str) -> bool:
        return os.path.exists(os.path.join(table_root, rel))

    def list_files(self, table_root: str) -> list[str]:
        out: list[str] = []
        for dirpath, dirs, names in os.walk(table_root):
            dirs[:] = [d for d in dirs if d != _LOG_DIR]
            sub = os.path.relpath(dirpath, table_root)
            prefix = "" if sub == "." else sub + "/"
            out.extend(prefix + n for n in names if n.endswith(".parquet"))
        return sorted(out)

    def read_uri(self, table_root: str, rel: str) -> str:
        return os.path.join(os.path.abspath(table_root), rel)

    def scan_uri_root(self, table_root: str) -> str:
        return "file:" + os.path.abspath(table_root).rstrip("/") + "/"

    def spark_base_path(self, table_root: str) -> str:
        return os.path.abspath(table_root)

    def open_input(self, table_root: str, rel: str):
        return open(os.path.join(table_root, rel), "rb")

    def put_atomic(self, table_root: str, rel: str, payload: str) -> str:
        dst = os.path.join(table_root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        tmp = os.path.join(
            os.path.dirname(dst), f".{os.path.basename(rel)}.{uuid.uuid4().hex}.tmp"
        )
        with open(tmp, "w") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, dst)
        return dst


_DEFAULT_DATA_STORE = LocalFSDataStore()
_DATA_STORES: dict[str, DataStore] = {}  # path prefix -> store


def register_data_store(prefix: str, store: DataStore) -> None:
    """Route the DATA files of tables under `prefix` through `store`
    (longest prefix wins) — the data-plane half of `register_log_store`.
    Register both and the table format runs where 100 TB lives: log
    commits through the object store's conditional-PUT primitive, data
    files through its PUT/GET/DELETE/LIST."""
    _DATA_STORES[prefix] = store


def get_data_store(path: str) -> DataStore:
    best = _longest_prefix(path, _DATA_STORES)
    return _DATA_STORES[best] if best is not None else _DEFAULT_DATA_STORE


def _log_dir(path: str) -> str:
    return os.path.join(path, _LOG_DIR)


def _commit_name(version: int) -> str:
    return f"{version:0{_PAD}d}.json"


def _checkpoint_name(version: int, fmt: str = "json") -> str:
    return f"{version:0{_PAD}d}.checkpoint.{fmt}"


def _list_log(path: str) -> tuple[list[int], list[int]]:
    """(sorted commit versions, sorted checkpoint versions). Only names
    matching the strict log-entry patterns count; stray files are ignored.
    A version checkpointed in BOTH formats (a json-era table re-
    checkpointed after the parquet flip) counts once."""
    commits, checkpoints = [], set()
    for name in get_log_store(path).list(_log_dir(path)):
        m = _COMMIT_RE.match(name)
        if m:
            commits.append(int(m.group(1)))
            continue
        m = _CHECKPOINT_RE.match(name)
        if m:
            checkpoints.add(int(m.group(1)))
    return sorted(commits), sorted(checkpoints)


def _load_rec(path: str, version: int, *, checkpoint: bool = False) -> dict:
    name = _checkpoint_name(version) if checkpoint else _commit_name(version)
    payload = get_log_store(path).read(_log_dir(path), name)
    return json.loads(payload)


# table-level checkpoint state carried OUTSIDE the per-file rows: in the
# JSON format these are top-level keys; in parquet they live in the footer
# key-value metadata (KB-scale however large the live set grows)
_CP_STATE_KEYS = (
    "version", "schema", "horizon", "txns", "partition_by", "constraints",
    "column_map", "dropped_cols", "bases", "generated", "features",
    "schema_eras",
)


def _checkpoint_to_parquet(cp: dict, extra_state: dict | None = None) -> bytes:
    """Encode a checkpoint dict (the `_replay` shape) as parquet bytes:
    one row per live file — `rel`, `stats_json` (the per-file footer
    stats, JSON text, null when none), `dvs` (covering deletion-vector
    rels) — with every table-level field as a JSON blob in the footer
    key-value metadata. Columnar because that is what scales: resolving
    a snapshot over a 10M-file table reads a compressed column of rel
    strings, not gigabytes of JSON text (Delta's parquet-checkpoint
    rationale, Armbrust et al. VLDB 2020 §3.3). `extra_state` merges
    storage-layout keys into the footer (a multi-part MANIFEST carries
    zero rows + a "sidecars" list there)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = cp["files"]
    stats = cp.get("stats", {})
    dvs = cp.get("dvs", {})
    table = pa.table(
        {
            "rel": pa.array(files, type=pa.string()),
            "stats_json": pa.array(
                [json.dumps(stats[f]) if stats.get(f) else None
                 for f in files],
                type=pa.string(),
            ),
            "dvs": pa.array(
                [dvs.get(f) or [] for f in files],
                type=pa.list_(pa.string()),
            ),
        }
    )
    state = {k: cp.get(k) for k in _CP_STATE_KEYS}
    if extra_state:
        state.update(extra_state)
    table = table.replace_schema_metadata(
        {b"txlog_state": json.dumps(state).encode()}
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="zstd")
    return sink.getvalue().to_pybytes()


def _sidecar_to_parquet(rows: list[tuple]) -> bytes:
    """Encode sidecar rows [(rel, stats_json|None, dvs, tombstone)] —
    same columns as a checkpoint plus a tombstone marker (True = the rel
    was REMOVED since the part chain's previous state). No footer state:
    sidecars are pure row carriers; the manifest owns the state."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.table(
        {
            "rel": pa.array([r[0] for r in rows], type=pa.string()),
            "stats_json": pa.array([r[1] for r in rows], type=pa.string()),
            "dvs": pa.array(
                [r[2] or [] for r in rows], type=pa.list_(pa.string())
            ),
            "tombstone": pa.array([r[3] for r in rows], type=pa.bool_()),
        }
    )
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="zstd")
    return sink.getvalue().to_pybytes()


def _fold_sidecars(path: str, sidecars: list[str]) -> tuple[dict, dict]:
    """(live {rel: stats}, dvs {rel: [dv rels]}) from a manifest's part
    chain, folded OLDEST→NEWEST: a later part's row for a rel replaces an
    earlier one, tombstones delete. Stats parse in one batched
    json.loads per part (the decode hot path at millions of rels)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    store = get_log_store(path)
    log_dir = _log_dir(path)
    live: dict[str, dict] = {}
    dvs: dict[str, list[str]] = {}
    for name in sidecars:
        t = pq.read_table(pa.BufferReader(store.read_bytes(log_dir, name)))
        rels = t.column("rel").to_pylist()
        sj = t.column("stats_json").to_pylist()
        dvl = t.column("dvs").to_pylist()
        tomb = t.column("tombstone").to_pylist()
        with_stats = [(i, s) for i, s in enumerate(sj)
                      if s is not None and not tomb[i]]
        parsed = json.loads(
            "[" + ",".join(s for _, s in with_stats) + "]"
        ) if with_stats else []
        stats_by_i = {i: st for (i, _), st in zip(with_stats, parsed)}
        for i, rel in enumerate(rels):
            if tomb[i]:
                live.pop(rel, None)
                dvs.pop(rel, None)
            else:
                live[rel] = stats_by_i.get(i, {})
                if dvl[i]:
                    dvs[rel] = list(dvl[i])
                else:
                    dvs.pop(rel, None)
    return live, dvs


def _checkpoint_from_parquet(data: bytes) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(pa.BufferReader(data))
    state = json.loads(table.schema.metadata[b"txlog_state"])
    rels = table.column("rel").to_pylist()
    stats_json = table.column("stats_json").to_pylist()
    dv_lists = table.column("dvs").to_pylist()
    cp = dict(state)
    cp["files"] = rels
    # ONE json.loads over a joined array instead of per-row parses — at
    # 10M files this is the decode hot path
    with_stats = [(r, s) for r, s in zip(rels, stats_json) if s is not None]
    parsed = json.loads(
        "[" + ",".join(s for _, s in with_stats) + "]"
    ) if with_stats else []
    cp["stats"] = {r: st for (r, _), st in zip(with_stats, parsed)}
    cp["dvs"] = {r: list(d) for r, d in zip(rels, dv_lists) if d}
    return cp


def _load_checkpoint(path: str, version: int) -> dict:
    """Checkpoint state at `version`, whichever format it was written in
    (parquet preferred; a version carrying both reads identically). A
    multi-part manifest (zero rows, "sidecars" in the footer state) folds
    its part chain into the same `_replay`-shaped dict."""
    store = get_log_store(path)
    try:
        data = store.read_bytes(_log_dir(path), _checkpoint_name(version, "parquet"))
    except (OSError, KeyError):
        return _load_rec(path, version, checkpoint=True)
    cp = _checkpoint_from_parquet(data)
    sidecars = cp.pop("sidecars", None)
    if sidecars is not None:
        live, dvs = _fold_sidecars(path, sidecars)
        cp["files"] = sorted(live)
        cp["stats"] = live
        cp["dvs"] = dvs
    return cp


def _write_checkpoint(store: LogStore, path: str, version: int) -> None:
    """Fold the full state at `version` into one checkpoint entry.
    put_if_absent everywhere: False = another committer already wrote it.

    Past `_MULTIPART_MIN` live files the parquet layout goes MULTI-PART
    (Delta v2 checkpoints): the manifest keeps its discovery name but
    carries zero rows and a footer "sidecars" list; unchanged parts are
    reused from the previous checkpoint and one DELTA part holds the
    tail's adds, remove-tombstones, and DV-touched rels — so the bytes
    written per checkpoint track the COMMIT DELTA, not the table. The
    chain compacts into full `_SIDECAR_ROWS`-row parts whenever it would
    exceed `_SIDECAR_MAX_PARTS` (or after a DV-state restore, whose
    replacement semantics invalidate the chain). Part names embed the
    birth version AND the chain predecessor, so racing checkpoint
    writers with different views can never publish divergent content
    under one name."""
    cp = _replay(path, version)
    cp = {**cp, "version": version}
    log_dir = _log_dir(path)
    commits, checkpoints = _list_log(path)
    prev_v = max((c for c in checkpoints if c < version), default=None)
    prev_sidecars: list[str] | None = None
    if prev_v is not None:
        try:
            prev_sidecars = _checkpoint_state(path, prev_v).get("sidecars")
        except (OSError, KeyError, json.JSONDecodeError, ValueError):
            prev_sidecars = None  # json-era / damaged prev: no chain

    if len(cp["files"]) < _MULTIPART_MIN and not prev_sidecars:
        store.put_if_absent_bytes(
            log_dir,
            _checkpoint_name(version, "parquet"),
            _checkpoint_to_parquet(cp),
        )
        return

    delta_ok = (
        prev_v is not None
        and bool(prev_sidecars)
        and len(prev_sidecars) < _SIDECAR_MAX_PARTS
    )
    if delta_ok:
        dv_touched: set[str] = set()
        for v in commits:
            if v <= prev_v or v > version:
                continue
            rec = _load_rec(path, v)
            da = rec.get("dv_add")
            if da:
                dv_touched.update(da["covers"])
            if "dv_state" in rec.get("meta", {}):
                delta_ok = False  # restore replaced the whole DV map
                break
    if delta_ok:
        added, removed, _state = _tail_delta(path, commits, prev_v, version)
        live = set(cp["files"])
        changed = sorted((set(added) | dv_touched) & live)
        gone = sorted((set(removed) | (dv_touched - live)) - live)
        rows = [
            (r,
             json.dumps(cp["stats"][r]) if cp["stats"].get(r) else None,
             cp["dvs"].get(r) or [], False)
            for r in changed
        ] + [(r, None, [], True) for r in gone]
        if rows:
            name = f"sc-{version:020d}-from{prev_v:020d}-delta.parquet"
            store.put_if_absent_bytes(
                log_dir, name, _sidecar_to_parquet(rows)
            )
            sidecars = [*prev_sidecars, name]
        else:  # metadata-only tail: the chain is already current
            sidecars = list(prev_sidecars)
    else:  # compaction (or first multi-part): full chunked rewrite
        files = cp["files"]
        sidecars = []
        for i, lo in enumerate(range(0, len(files), _SIDECAR_ROWS)):
            chunk = files[lo:lo + _SIDECAR_ROWS]
            rows = [
                (r,
                 json.dumps(cp["stats"][r]) if cp["stats"].get(r) else None,
                 cp["dvs"].get(r) or [], False)
                for r in chunk
            ]
            name = f"sc-{version:020d}-full-{i:05d}.parquet"
            store.put_if_absent_bytes(
                log_dir, name, _sidecar_to_parquet(rows)
            )
            sidecars.append(name)
    manifest = _checkpoint_to_parquet(
        {**cp, "files": [], "stats": {}, "dvs": {}},
        extra_state={"sidecars": sidecars},
    )
    store.put_if_absent_bytes(
        log_dir, _checkpoint_name(version, "parquet"), manifest
    )


def _usable_log(path: str) -> tuple[list[int], list[int]]:
    """Like `_list_log`, but an unparseable NEWEST commit is treated as an
    ABORTED commit and dropped (a torn tail from a crashed pre-LogStore
    writer must not make the whole table unreadable). An unparseable
    commit that is NOT the newest raises TxCorruption — history damage
    has no safe self-healing story."""
    commits, checkpoints = _list_log(path)
    if commits:
        try:
            _load_rec(path, commits[-1])
        except (json.JSONDecodeError, ValueError):
            torn = commits[-1]
            commits = commits[:-1]
            if commits:
                try:
                    _load_rec(path, commits[-1])
                except (json.JSONDecodeError, ValueError):
                    raise TxCorruption(
                        f"{path}: commits {commits[-1]} and {torn} are both "
                        "unparseable — only a single torn tail is "
                        "recoverable; restore the log from a replica"
                    ) from None
    return commits, checkpoints


def tx_exists(path: str) -> bool:
    return bool(_list_log(path)[0])


def _newest_horizon(path: str, commits: list[int], checkpoints: list[int],
                    newest_cp_state: dict | None = None) -> int:
    """Newest vacuum horizon across the WHOLE log (a vacuum after a
    target version may have deleted files that version needs, so reading
    below the newest horizon must fail loudly). Horizons are
    nondecreasing, so the newest vacuum commit carries the max;
    checkpoints fold the horizon of everything at-or-before them, so the
    backward scan is bounded by the checkpoint interval, not the log
    length. The checkpoint fallback reads ONLY the table-level state —
    `_checkpoint_state` is a footer-KV read on URI-addressable parquet
    checkpoints, never a live-set decode — and a caller that has already
    decoded the newest checkpoint passes it as `newest_cp_state` so the
    fallback costs nothing (`_replay` does)."""
    horizon = 0
    scan_floor = checkpoints[-1] if checkpoints else -1
    for v in reversed(commits):
        if v <= scan_floor:
            break
        rec = _load_rec(path, v)
        if rec.get("op") == "vacuum":
            horizon = int(rec["meta"]["horizon"])
            break
    if horizon == 0 and checkpoints:
        st = (newest_cp_state if newest_cp_state is not None
              else _checkpoint_state(path, checkpoints[-1]))
        horizon = int(st.get("horizon") or 0)
    return horizon


def _replay(path: str, version: int | None = None) -> dict | None:
    """Snapshot state at `version` (default: latest). Returns
    {"version", "files": sorted relpaths, "stats": {relpath: stats-dict},
    "schema": json-or-None, "horizon": int, "txns": {app: max_batch},
    "partition_by", "dvs", "constraints": {name: SQL expr}}
    or None if the log is empty.

    The vacuum horizon is taken from the FULL log, not just the replayed
    prefix — a vacuum committed after version v may have deleted files v
    needs, so reading below the newest horizon must fail loudly.
    """
    commits, checkpoints = _usable_log(path)
    if not commits:
        return None
    latest = commits[-1]
    target = latest if version is None else version
    if target > latest or target < 0:
        raise ValueError(f"version {target} does not exist (latest {latest})")

    # Decode the base checkpoint ONCE: _newest_horizon's fallback reuses
    # it when the target rides the newest checkpoint (the common case),
    # instead of a second full live-set decode. A failed load is held
    # until after the horizon check so a vacuumed target still gets its
    # precise error (cleanup may legitimately have deleted checkpoints
    # below the retention floor; above it, the failure is real damage).
    usable = [c for c in checkpoints if c <= target]
    cp: dict | None = None
    cp_err: Exception | None = None
    if usable:
        try:
            cp = _load_checkpoint(path, usable[-1])
        except Exception as e:  # noqa: BLE001 — re-raised below
            cp_err = e
    horizon = _newest_horizon(
        path, commits, checkpoints,
        newest_cp_state=(
            cp if cp is not None and usable[-1] == checkpoints[-1] else None
        ),
    )
    if target < horizon:
        raise ValueError(
            f"version {target} was vacuumed (horizon {horizon}) — "
            "its data files are gone"
        )
    if cp_err is not None:
        raise cp_err

    base_v = -1
    live: dict[str, dict] = {}  # relpath -> per-file stats ({} if none)
    txns: dict[str, int] = {}  # idempotence tokens: app -> max batch seen
    dvs: dict[str, list[str]] = {}  # data relpath -> [dv relpaths]
    constraints: dict[str, str] = {}  # CHECK constraints: name -> SQL expr
    column_map: dict[str, str] = {}  # logical name -> physical name
    dropped_cols: list[str] = []  # physical names of dropped columns
    bases: list[str] = []  # clone base table roots for ext<i>: rels
    generated: dict[str, str] = {}  # generated columns: name -> SQL expr
    features: set[str] = set()  # capability gates (monotone)
    schema_json = None
    partition_by: list[str] | None = None
    # distinct meta.schema jsons whose files may still be live (reset on
    # full rewrites); None = unknown/poisoned. When this ends up exactly
    # [schema_json], every live file provably carries the logged column
    # set and `_read_live` pins the scan schema from the LOG instead of
    # paying a mergeSchema footer-union Spark job per scan — O(1) vs
    # O(live files) metadata reads per query at the 100 TB design point.
    schema_eras: list[str] | None = []
    if cp is not None:
        base_v = cp["version"]
        cp_stats = cp.get("stats", {})
        live = {f: cp_stats.get(f, {}) for f in cp["files"]}
        schema_json = cp.get("schema")
        txns = dict(cp.get("txns", {}))
        partition_by = cp.get("partition_by") or None
        dvs = {f: list(d) for f, d in cp.get("dvs", {}).items()}
        constraints = dict(cp.get("constraints", {}))
        column_map = dict(cp.get("column_map", {}))
        dropped_cols = list(cp.get("dropped_cols", []))
        bases = list(cp.get("bases", []))
        generated = dict(cp.get("generated", {}))
        features = set(cp.get("features") or [])
        # pre-schema_eras checkpoints don't record the key: poisoned
        schema_eras = cp.get("schema_eras")
    for v in commits:
        if v <= base_v or v > target:
            continue
        rec = _load_rec(path, v)
        for f in rec.get("remove", []):
            live.pop(f, None)
            dvs.pop(f, None)  # a rewrite materializes the deletes
        full_rewrite = not live  # every prior file gone before the adds
        rec_stats = rec.get("stats", {})
        adds = rec.get("add", [])
        for f in adds:
            live[f] = rec_stats.get(f, {})
        rec_meta = rec.get("meta", {})
        if schema_eras is not None or full_rewrite:
            m_schema = rec_meta.get("schema")
            if full_rewrite and (adds or m_schema is not None):
                # a full rewrite's files all carry ITS schema: reset
                # (this also un-poisons, e.g. tx_overwrite after renames)
                schema_eras = [m_schema] if m_schema is not None else None
            elif schema_eras is not None:
                if adds and m_schema is None:
                    schema_eras = None  # files of unknown schema
                elif m_schema is not None and m_schema not in schema_eras:
                    schema_eras = [*schema_eras, m_schema]
        if schema_eras is not None and (
            rec_meta.get("column_map") or rec_meta.get("dropped_cols")
            or rec_meta.get("bases") or "dv_state" in rec_meta
        ):
            # renames/drops (era jsons predate the mapping), clones
            # (referenced files' schemas are the base table's business),
            # restores (may resurrect pre-rewrite files): the single-era
            # proof no longer holds — fall back to the mergeSchema scan
            schema_eras = None
        dv_add = rec.get("dv_add")
        if dv_add:
            for f in dv_add["covers"]:
                dvs.setdefault(f, []).append(dv_add["file"])
        if "dv_state" in rec.get("meta", {}):
            # restore: the target version's DV map travels with its files
            dvs = {f: list(d) for f, d in rec["meta"]["dv_state"].items()}
        if rec.get("meta", {}).get("schema"):
            schema_json = rec["meta"]["schema"]
        if "partition_by" in rec.get("meta", {}):
            # [] = explicitly unpartitioned (an overwrite may flatten)
            partition_by = rec["meta"]["partition_by"] or None
        if "constraints" in rec.get("meta", {}):
            # replacement semantics: the commit carries the FULL map
            constraints = dict(rec["meta"]["constraints"])
        if "column_map" in rec.get("meta", {}):
            # replacement semantics, like constraints: rename/drop commits
            # carry the FULL logical->physical map
            column_map = dict(rec["meta"]["column_map"])
        if "dropped_cols" in rec.get("meta", {}):
            dropped_cols = list(rec["meta"]["dropped_cols"])
        if "bases" in rec.get("meta", {}):
            # replacement semantics; set once by a clone commit, kept
            # forever (time travel to the clone era needs them)
            bases = list(rec["meta"]["bases"])
        if "generated" in rec.get("meta", {}):
            # replacement semantics, like constraints
            generated = dict(rec["meta"]["generated"])
        if "features" in rec.get("meta", {}):
            # replacement semantics; _commit stamps the full folded set
            features = set(rec["meta"]["features"])
        txn = rec.get("txn")
        if txn:
            txns[txn["app"]] = max(txns.get(txn["app"], -1), int(txn["batch"]))
    unknown = features - _FEATURES_SUPPORTED
    if unknown:
        raise TxUnsupportedFeature(
            f"{path}: table requires feature(s) {sorted(unknown)} this "
            "build does not implement — reading would return wrong rows "
            "and writing would break the feature's invariants; upgrade "
            f"the library (supported: {sorted(_FEATURES_SUPPORTED)})"
        )
    return {
        "version": target,
        "files": sorted(live),
        "stats": live,
        "schema": schema_json,
        "horizon": horizon,
        "txns": txns,
        "partition_by": partition_by,
        "dvs": dvs,
        "constraints": constraints,
        "column_map": column_map,
        "dropped_cols": dropped_cols,
        "bases": bases,
        "generated": generated,
        "features": sorted(features),
        "schema_eras": schema_eras,
    }


def _coerce_ts(ts) -> float:
    """Accept an epoch float/int, a `datetime` (naive = UTC), or an
    ISO-8601 string (naive = UTC) and return epoch seconds."""
    if isinstance(ts, bool):  # bool is an int subclass; reject explicitly
        raise TypeError("timestamp must be epoch seconds, datetime, or ISO string")
    if isinstance(ts, (int, float)):
        return float(ts)
    if isinstance(ts, str):
        ts = datetime.datetime.fromisoformat(ts)
    if isinstance(ts, datetime.datetime):
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=datetime.timezone.utc)
        return ts.timestamp()
    raise TypeError(
        f"timestamp must be epoch seconds, datetime, or ISO string, "
        f"got {type(ts).__name__}"
    )


def tx_version_at(path: str, ts) -> int:
    """Resolve `TIMESTAMP AS OF`: the newest version whose commit
    timestamp is <= `ts` (epoch seconds, `datetime`, or ISO-8601 string;
    naive values are read as UTC).

    Commit timestamps come from WRITER clocks, so concurrent writers with
    skewed clocks can record out-of-order values; like Delta's timestamp
    resolution, the effective timestamp of each version is adjusted to be
    monotonically non-decreasing (eff[v] = max(rec_ts[v], eff[v-1])) so
    the version↔time mapping is total and deterministic. Resolution reads
    commit records oldest-first and stops at the first version past `ts`
    — O(resolved prefix) KB-scale log reads, no data IO.

    Raises ValueError if `ts` predates the oldest SURVIVING commit
    (history below the retention floor is gone — `tx_cleanup_log`) or if
    the table has no log."""
    target = _coerce_ts(ts)
    commits = _usable_log(path)[0]
    if not commits:
        raise ValueError(f"no transaction log at {path}")
    best: int | None = None
    eff = float("-inf")
    for v in commits:
        eff = max(eff, float(_load_rec(path, v).get("ts") or 0.0))
        if eff <= target:
            best = v
        else:
            break
    if best is None:
        oldest = datetime.datetime.fromtimestamp(
            float(_load_rec(path, commits[0]).get("ts") or 0.0),
            tz=datetime.timezone.utc,
        ).isoformat()
        raise ValueError(
            f"{path}: timestamp predates the oldest surviving commit "
            f"(version {commits[0]} at {oldest}) — earlier history was "
            "retired by log retention or never existed"
        )
    return best


def tx_snapshot(path: str, version: int | None = None, *,
                as_of_ts=None) -> dict:
    """Snapshot at `version`, at the commit current as of `as_of_ts`
    (`tx_version_at` resolution), or — both None — at the latest."""
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("tx_snapshot: pass version OR as_of_ts, not both")
        version = tx_version_at(path, as_of_ts)
    snap = _replay(path, version)
    if snap is None:
        raise ValueError(f"no transaction log at {path}")
    return snap


def tx_history(path: str) -> list[dict]:
    """All surviving commit records, oldest first, with file LISTS reduced
    to counts (the audit view; full lists stay in the log files). After
    `tx_cleanup_log` the history starts at the retention floor — the
    audit trail below it is intentionally gone, like Delta's."""
    out = []
    for v in _usable_log(path)[0]:
        rec = _load_rec(path, v)
        out.append(
            {
                "version": rec["version"],
                "op": rec["op"],
                "n_added": len(rec.get("add", [])),
                "n_removed": len(rec.get("remove", [])),
                "ts": rec.get("ts"),
                "meta": {
                    k: v2
                    for k, v2 in rec.get("meta", {}).items()
                    if k != "schema"
                },
            }
        )
    return out


def _commit(
    path: str,
    op: str,
    build,
    *,
    validate_remove_live: bool = True,
    max_retries: int = 50,
    stats: dict | None = None,
    txn: tuple[str, int] | None = None,
    dv_add: dict | None = None,
) -> int | None:
    """Optimistically commit: `build(snapshot_or_None)` returns
    (add, remove, meta) — or None to abandon (nothing to commit); the next
    version's log file is claimed with an exclusive create. Losing a race
    re-reads and retries — `build` runs again against the fresh snapshot.
    With `validate_remove_live`, any remove-set member no longer live
    raises TxConflict (the caller's rewrite was computed from a stale
    snapshot). `stats` is the per-added-file column-stats map recorded in
    the commit; `txn=(app, batch)` is a Delta-style idempotence token —
    if the snapshot has already folded a batch ≥ this one for `app`, the
    commit is a no-op (returns None). The token check runs INSIDE the
    retry loop, so two writers racing the same (app, batch) commit it
    exactly once.

    Liveness: a lost race means SOMEONE committed the version we tried
    (progress), so lost races retry indefinitely — a blind append can
    never starve out just because many writers are landing commits
    (Delta's behavior; 100 concurrent streaming writers on one table is
    a normal cluster load, not an error). `max_retries` bounds only
    retries WITHOUT forward progress — a store whose put_if_absent
    refuses while nothing lands is broken, and that should fail fast,
    not spin. A small jittered backoff de-herds the losers."""
    import random

    store = get_log_store(path)
    last_seen = -2  # below the empty-table sentinel (-1)
    stalls = 0
    while True:
        snap = _replay(path)
        seen_v = snap["version"] if snap else -1
        if seen_v > last_seen:
            last_seen, stalls = seen_v, 0
        else:
            stalls += 1
            if stalls > max_retries:
                raise TxConflict(
                    f"{op}: {max_retries} retries with no forward progress "
                    f"(log stuck at version {seen_v}) — the LogStore is "
                    "refusing writes without anything landing"
                )
        if txn is not None:
            seen = (snap or {}).get("txns", {}).get(txn[0], -1)
            if int(txn[1]) <= seen:
                return None  # this batch already committed — idempotent replay
        built = build(snap)
        if built is None:
            return None
        add, remove, meta = built
        if validate_remove_live and remove:
            live = set(snap["files"]) if snap else set()
            gone = sorted(set(remove) - live)
            if gone:
                raise TxConflict(
                    f"{op}: {len(gone)} file(s) in the remove set are no "
                    f"longer live (first: {gone[0]}) — a concurrent commit "
                    "replaced them; re-run against the new snapshot"
                )
        next_v = (snap["version"] + 1) if snap else 0
        rec = {
            "version": next_v,
            "op": op,
            "add": sorted(add),
            "remove": sorted(remove),
            "meta": meta,
            "ts": time.time(),
        }
        if stats:
            rec["stats"] = {f: stats[f] for f in add if f in stats}
        if txn is not None:
            rec["txn"] = {"app": txn[0], "batch": int(txn[1])}
        if dv_add is not None:
            rec["dv_add"] = dv_add
        # capability gating: the first commit to USE a feature stamps the
        # grown folded set (derived from the record itself — no op opts in)
        folded_feats = set((snap or {}).get("features") or [])
        new_feats = _derive_features(rec) - folded_feats
        if new_feats:
            rec["meta"] = {
                **meta, "features": sorted(folded_feats | new_feats),
            }
        if not store.put_if_absent(_log_dir(path), _commit_name(next_v), json.dumps(rec)):
            # lost the race. If the winner's entry is UNPARSEABLE the loser
            # would spin forever (replay treats a torn tail as aborted, so
            # next_v never advances) — surface that loudly with a recovery
            # hint instead of burning retries into a misleading TxConflict.
            try:
                _load_rec(path, next_v)
            except (json.JSONDecodeError, ValueError):
                raise TxCorruption(
                    f"{op}: version {next_v} is claimed by an unparseable "
                    f"commit file ({_commit_name(next_v)}) — a torn write "
                    "from a crashed pre-LogStore writer; delete that file "
                    "to restore writability (replay already ignores it)"
                ) from None
            except OSError:
                pass  # winner's entry not visible yet — plain lost race
            time.sleep(random.uniform(0.0, 0.01))  # de-herd the losers
            continue  # retry on the newer snapshot
        if next_v > 0 and next_v % CHECKPOINT_INTERVAL == 0:
            _write_checkpoint(store, path, next_v)
        return next_v


# --------------------------------------------------------------------------
# data-file plumbing + per-file column statistics
# --------------------------------------------------------------------------


_STR_STATS_MAX = 64  # chars kept of a string bound in commit stats


def _str_upper_bound(s: str) -> str | None:
    """A ≤`_STR_STATS_MAX`-char string that is ≥ `s` in code-point order
    (≡ UTF-8 byte order ≡ Spark's string comparison): `s` itself when it
    fits, else the truncated prefix with its last incrementable character
    bumped (Iceberg's `truncate` transform upper-bound adjustment /
    parquet-mr BinaryTruncator). Incrementing never lands in the
    surrogate block (invalid in well-formed strings and JSON). Returns
    None — no representable bound — when every prefix char is already
    U+10FFFF."""
    if len(s) <= _STR_STATS_MAX:
        return s
    prefix = s[:_STR_STATS_MAX]
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            cp += 1
            if 0xD800 <= cp <= 0xDFFF:
                cp = 0xE000
            return prefix[:i] + chr(cp)
    return None


# Files-per-commit above which stats collection runs as a Spark job
# instead of the serial driver loop: a footer read is one remote GET, and
# a 100k-file ingest commit must not pay 100k of them sequentially on the
# driver (Delta collects add-file stats in the executors during the
# write). Below it, Spark job overhead dominates — the driver loop wins.
_STATS_DISTRIBUTED_MIN = 64


def _file_stats(path: str, rels: list[str],
                spark: SparkSession | None = None) -> dict[str, dict]:
    """Per-file `{rel: {"rows": n, "bytes": n, "cols": {col: [min, max,
    null_count]}}}` read from the parquet FOOTERS (row-group statistics)
    — metadata-only, never a data scan, so recording stats costs
    O(files), not O(rows), exactly as Delta computes its add-file stats
    during the write (size included: admission control and compaction
    planning consume it). With
    `spark` and at least `_STATS_DISTRIBUTED_MIN` files, the footer reads
    fan out over the executors (`_file_stats_distributed`) — identical
    dicts by construction (same per-file decode, `_footer_stats_one`).

    Top-level NUMERIC, DATE and STRING columns are kept; bool/nested/
    timestamp are skipped (ordering/encoding hazards not worth the edge
    cases). DATE is exact — physically an int32 — and is recorded as an
    ISO string (lexicographic order ≡ date order), which is what lets the
    gold fact's `forecast_for_date` range maintenance skip files at all.

    STRING bounds are admitted with OUR bound-preserving truncation
    (`_STR_STATS_MAX` chars): the min prefix is always a valid LOWER
    bound, and the max gets the last-kept-char increment (Iceberg's
    `truncate` transform / parquet-mr's BinaryTruncator), so `[mn, mx]`
    brackets every row even when inexact — all five comparison proofs in
    `_can_skip` stay sound with (lower-bound, upper-bound) semantics.
    Python str comparison is code-point order ≡ UTF-8 byte order ≡
    Spark's binary string collation, so the proofs agree with the row
    filter. The footer values themselves come from this engine's own
    writers (Spark parquet-mr / pyarrow), which keep the parquet spec's
    bound property when they truncate; an incrementless max (all chars
    at U+10FFFF) degrades to bound-less stats. A column missing stats in
    ANY row group (or with a non-finite float bound — NaN ordering is
    writer-dependent) is dropped for that file; pruning treats absent
    stats as "cannot skip".
    """
    store = get_data_store(path)
    if spark is not None and len(rels) >= _STATS_DISTRIBUTED_MIN:
        return _file_stats_distributed(spark, store, path, rels)
    return {rel: _footer_stats_one(store, path, rel) for rel in rels}


def _file_stats_distributed(spark: SparkSession, store: "DataStore",
                            path: str, rels: list[str]) -> dict[str, dict]:
    """`_file_stats` fanned out as a Spark job: one task batch per slice
    of rels, each executor opening its files through the SAME picklable
    DataStore and running the SAME footer decode. Stats values are
    JSON-safe by construction (ints/floats/ISO strings/None + the kind
    marker), so the Arrow hop is a lossless json round-trip. The driver
    collects only the KB-scale stats dicts, never the footers."""
    import pandas as pd

    def probe(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "rel": pdf["rel"],
                "stats_json": [
                    json.dumps(_footer_stats_one(store, path, r))
                    for r in pdf["rel"]
                ],
            })

    n_slices = min(len(rels), spark.sparkContext.defaultParallelism * 2)
    rows = (
        spark.createDataFrame([(r,) for r in rels], "rel string")
        .repartition(n_slices)
        .mapInPandas(probe, "rel string, stats_json string")
        .collect()
    )
    out = {r["rel"]: json.loads(r["stats_json"]) for r in rows}
    missing = set(rels) - set(out)
    if missing:  # a lost task could only ever DROP rows; never silent
        raise TxCorruption(
            f"{path}: distributed stats collection returned "
            f"{len(out)}/{len(rels)} files (missing e.g. "
            f"{sorted(missing)[:3]})"
        )
    return out


def _footer_stats_one(store: "DataStore", path: str, rel: str) -> dict:
    """One file's commit stats from its parquet footer — the shared
    decode under both the driver loop and the distributed collector (see
    `_file_stats` for the semantics and soundness argument)."""
    import datetime as _dt
    import math

    import pyarrow.parquet as pq

    with store.open_input(path, rel) as f:
        f.seek(0, 2)
        nbytes = f.tell()  # Delta records add-file sizes: admission
        f.seek(0)          # control + compaction planning need bytes
        md = pq.ParquetFile(f).metadata
    cols: dict[str, list] = {}
    dead: set[str] = set()
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            cc = rg.column(c_i)
            name = cc.path_in_schema
            if "." in name or name in dead:
                continue  # nested leaf — min/max not row-level
            st = cc.statistics
            if st is None:
                dead.add(name)
                cols.pop(name, None)
                continue
            nulls = st.null_count if st.has_null_count else None
            mn = mx = None  # bound-less: only NULL proofs apply
            is_date = False
            if st.has_min_max:
                try:
                    mn, mx = st.min, st.max
                except NotImplementedError:
                    # pyarrow can't decode min/max for some logical
                    # types (e.g. certain decimals) — degrade to
                    # null-count-only stats, pruning stays proof-based
                    mn = mx = None
                is_date = (
                    isinstance(mn, _dt.date)
                    and isinstance(mx, _dt.date)
                    and not isinstance(mn, _dt.datetime)
                    and not isinstance(mx, _dt.datetime)
                )
                is_str = isinstance(mn, str) and isinstance(mx, str)
                if is_date:
                    # ISO: JSON-safe, and lexicographic ≡ date order
                    mn, mx = mn.isoformat(), mx.isoformat()
                elif is_str:
                    # keep commit records small AND the bound
                    # property exact: prefix min (lower bound),
                    # increment-adjusted max (upper bound, None when
                    # un-incrementable). bytes (non-utf8 binary)
                    # never reach here: pyarrow yields them as bytes,
                    # which fail this isinstance.
                    mn = mn[:_STR_STATS_MAX]
                    mx = _str_upper_bound(mx)
                # Unusable bounds DEGRADE to null-count-only stats
                # (is_null/not_null still prove; comparisons can't).
                ok_type = is_date or is_str or (
                    isinstance(mn, (int, float))
                    and isinstance(mx, (int, float))
                    and not isinstance(mn, bool)
                    and not isinstance(mx, bool)
                )
                if not ok_type or (
                    isinstance(mn, float) and not math.isfinite(mn)
                ) or (isinstance(mx, float) and not math.isfinite(mx)):
                    mn = mx = None
            prev = cols.get(name)
            if prev is None:
                # date bounds carry a kind marker: _can_skip must
                # know ISO-string bounds came from a DATE column
                # (lexicographic ≡ date order) and not a STRING one
                # (where a date literal's cast semantics differ)
                cols[name] = (
                    [mn, mx, nulls, "date"]
                    if is_date and mn is not None
                    else [mn, mx, nulls]
                )
            else:
                prev[0] = (
                    None if prev[0] is None or mn is None
                    else min(prev[0], mn)
                )
                prev[1] = (
                    None if prev[1] is None or mx is None
                    else max(prev[1], mx)
                )
                prev[2] = (
                    None if prev[2] is None or nulls is None
                    else prev[2] + nulls
                )
    return {"rows": md.num_rows, "bytes": nbytes, "cols": cols}


# predicate conjunct ops understood by the pruner AND the reader filter.
# Works on Columns (row filter) and plain Python values (partition proof);
# "in" strips NULL members (IN's 3VL: a NULL member is never TRUE),
# is_null/not_null ignore the value slot.
_OPS = {
    "=": lambda c, v: c == v,
    "<": lambda c, v: c < v,
    "<=": lambda c, v: c <= v,
    ">": lambda c, v: c > v,
    ">=": lambda c, v: c >= v,
    "in": lambda c, v: c.isin([x for x in v if x is not None]),
    "is_null": lambda c, v: c.isNull(),
    "not_null": lambda c, v: c.isNotNull(),
}


def _can_skip(stats: dict, col: str, op: str, value) -> bool:
    """True iff the file's stats PROVE no row satisfies `col op value`.
    Comparisons never match NULL (SQL), so an all-null file is always
    skippable and null_count never blocks pruning; `is_null`/`not_null`
    prove from the exact footer null_count; `in` is the conjunction of
    per-member `=` proofs. Absent/foreign-typed stats → False (must read
    the file)."""
    cs = (stats or {}).get("cols", {}).get(col)
    if op == "is_null":
        # must run BEFORE the all-null shortcut (an all-null file MATCHES)
        nulls = None if cs is None else cs[2]
        return nulls == 0 if nulls is not None else False
    if op == "in":
        vals = [x for x in value if x is not None]
        return all(_can_skip(stats, col, "=", x) for x in vals)
    if cs is None:
        rows = (stats or {}).get("rows")
        return False if rows is None else rows == 0
    mn, mx, nulls = cs[0], cs[1], cs[2]
    kind = cs[3] if len(cs) > 3 else None  # "date" on date-column bounds
    if op == "not_null":
        rows = stats.get("rows")
        return rows is not None and nulls is not None and nulls == rows
    if isinstance(value, datetime.date) and not isinstance(value, datetime.datetime):
        # A date literal only proves against bounds RECORDED BY THE DATE
        # PATH (kind marker): those are ISO strings, where lexicographic
        # order ≡ date order. Against a genuine STRING column's bounds
        # the comparison would be unsound — Spark casts the string COLUMN
        # to date for such predicates, so a file bounded
        # ['2024-1-1','2024-1-9'] still matches DATE'2024-01-05' even
        # though the ISO literal sorts outside those bounds. Refuse.
        if kind != "date":
            return False
        value = value.isoformat()
    elif kind == "date":
        # Converse hazard: Spark casts a STRING LITERAL to date when it
        # meets a date column, accepting unpadded forms ('2024-1-5') that
        # do NOT sort like the ISO bounds. Normalize via a strict parse;
        # anything unparseable → no proof (ANSI mode would error the
        # query anyway; non-ANSI yields NULL → never matches, but that is
        # a predicate-level fact, not this file's to claim).
        if isinstance(value, str):
            m = re.match(r"\s*(\d{4})-(\d{1,2})-(\d{1,2})\s*$", value)
            if not m:
                return False
            try:
                value = datetime.date(
                    int(m.group(1)), int(m.group(2)), int(m.group(3))
                ).isoformat()
            except ValueError:
                return False
        else:
            return False  # numeric/bool literal vs date column: no proof
    rows = stats.get("rows")
    if nulls is not None and rows is not None and nulls == rows:
        return True  # every value NULL — no comparison can match
    # NaN hazard on float columns: parquet writers EXCLUDE NaN from
    # min/max, but Spark SQL orders NaN ABOVE every double — a file
    # holding [1.0, 2.0, NaN] has footer max=2.0 yet its NaN row matches
    # `> 5.0`. So on float stats the footer max is NOT an upper bound for
    # Spark's ordering: refuse the proofs that rely on it (>, >=).
    # Still safe on floats: `<`/`<=` (NaN never sorts below a finite
    # value) and `=` vs a finite literal (NaN equals only NaN; a NaN
    # literal makes both Python comparisons False → no skip).
    if (isinstance(mn, float) or isinstance(mx, float)) and op in (">", ">="):
        return False
    try:
        if op == "=":
            return value < mn or value > mx
        if op == "<":
            return mn >= value
        if op == "<=":
            return mn > value
        if op == ">":
            return mx <= value
        if op == ">=":
            return mx < value
    except TypeError:
        return False  # incomparable literal type — stay safe, read it
    return False


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def _partition_values(rel: str) -> dict[str, str | None]:
    """Hive partition values encoded in a file's log-relative path
    (`date=2024-01-01/part-x.parquet` → {"date": "2024-01-01"}). Values
    stay raw strings (unescaped); the hive NULL sentinel maps to None.
    An external reference (`ext<i>:` clone rel) keeps its source table's
    hive segments — strip the marker before parsing."""
    from urllib.parse import unquote

    m = _EXT_RE.match(rel)
    if m:
        rel = m.group(2)
    out: dict[str, str | None] = {}
    for comp in rel.split("/")[:-1]:
        if "=" not in comp:
            continue
        k, _, v = comp.partition("=")
        out[k] = None if v == _HIVE_NULL else unquote(v)
    return out


def _pv_skip(raw: str | None, op: str, value) -> bool:
    """True iff the partition value PROVES no row matches `col op value` —
    EXACT (the whole file shares one value), so unlike footer min/max it
    prunes string and date columns too. `raw` is the path-encoded string;
    it is coerced to the literal's type (uncoercible → cannot skip).
    A NULL partition (None) never satisfies any comparison → always skip."""
    if op == "is_null":
        return raw is not None  # a non-NULL partition holds no NULL rows
    if op == "not_null":
        return raw is None
    if op == "in":
        vals = [x for x in value if x is not None]
        return all(_pv_skip(raw, "=", x) for x in vals)
    if raw is None:
        return True
    pv: object
    try:
        if isinstance(value, bool):
            return False  # boolean partitions: not worth the edge cases
        if isinstance(value, int):
            pv = int(raw)
        elif isinstance(value, float):
            pv = float(raw)
        elif isinstance(value, datetime.datetime):
            return False  # timestamp partition encoding is writer-specific
        elif isinstance(value, datetime.date):
            pv = datetime.date.fromisoformat(raw)
        elif isinstance(value, str):
            pv = raw
        else:
            return False
    except ValueError:
        return False
    return not _OPS[op](pv, value)


def _skip_file(snap: dict, rel: str, col: str, op: str, value) -> bool:
    """Unified skip proof for one conjunct against one live file: exact
    partition-value pruning when the FILE'S OWN PATH carries `col` as a
    hive key, footer min/max stats otherwise. The proof is per-file, not
    per-snapshot-spec, because partition specs EVOLVE
    (`tx_set_partition_spec`): an old-era file may keep `col` as a data
    column (stats apply) while new files encode it in the path, and an
    old-spec column absent from the current spec still proves from its
    own path segments. `col` arrives LOGICAL; footer stats are keyed by
    the file's PHYSICAL name (column mapping), so the snapshot's
    column_map translates before the stats probe — renamed columns keep
    their pruning proofs."""
    pv = _partition_values(rel)
    phys = (snap.get("column_map") or {}).get(col, col)
    if phys in pv:
        return _pv_skip(pv[phys], op, value)
    return _can_skip(snap["stats"].get(rel, {}), phys, op, value)


def _skip_row(rel: str, stats: dict | None, column_map: dict | None,
              predicate: list[tuple]) -> bool:
    """Per-file skip proof over a whole conjunctive predicate — the ONE
    implementation both the driver loop (`tx_prune`) and the distributed
    prober (`tx_prune(spark=...)` over `tx_files_df`) execute, so the two
    paths can never drift semantically. Any single conjunct's proof
    suffices (conjunction: one impossible term makes the row set empty)."""
    pv = _partition_values(rel)
    for col, op, value in predicate:
        phys = (column_map or {}).get(col, col)
        if phys in pv:
            if _pv_skip(pv[phys], op, value):
                return True
        elif _can_skip(stats or {}, phys, op, value):
            return True
    return False


def tx_prune(
    path: str,
    predicate: list[tuple],
    version: int | None = None,
    *,
    spark: SparkSession | None = None,
) -> tuple[list[str], list[str]]:
    """Split the snapshot's live files into (kept, skipped) under a
    conjunctive predicate `[(col, op, value), ...]` with ops
    {=, <, <=, >, >=, in, is_null, not_null}, using the per-file min/max
    and null counts recorded at commit time (plus exact hive
    partition-value proofs on partition columns). Skipping is
    PROOF-based: a file is skipped only when its stats
    guarantee zero matching rows, so reading only `kept` (then applying
    the same predicate as a row filter) is exact. At 100 TB this is the
    difference between a full-table scan and touching the handful of
    files a sorted/z-ordered layout concentrates the range into.

    Pass `spark=` to evaluate the proofs DISTRIBUTED: the live set is
    scanned as a DataFrame (`tx_files_df` — the parquet checkpoint read
    by executors, never pulled through the driver when the LogStore
    exposes a URI) and the SAME `_skip_row` proof runs in Arrow-batched
    parallel over it. Identical results by construction (shared proof
    code); worth it once the file count makes a driver-side Python loop
    the planning bottleneck (~10⁶ files), not before (Spark job
    overhead dominates small tables)."""
    for _, op, _v in predicate:
        if op not in _OPS:
            raise ValueError(f"tx_prune: unsupported op {op!r} (use {sorted(_OPS)})")
    if spark is not None:
        return _prune_distributed(spark, path, predicate, version)
    snap = tx_snapshot(path, version)
    cmap = snap.get("column_map")
    kept, skipped = [], []
    for f in snap["files"]:
        if _skip_row(f, snap["stats"].get(f), cmap, predicate):
            skipped.append(f)
        else:
            kept.append(f)
    return kept, skipped


def _tail_delta(path: str, commits: list[int], base_v: int,
                target: int) -> tuple[dict[str, dict], set[str], dict]:
    """Fold the commit tail (base_v, target] driver-side: (files added
    with their stats, files removed, state-field updates). The tail is
    at most CHECKPOINT_INTERVAL commits — KB-scale however large the
    table — which is what keeps `tx_files_df` cheap on the driver."""
    added: dict[str, dict] = {}
    removed: set[str] = set()
    state: dict = {}
    for v in commits:
        if v <= base_v or v > target:
            continue
        rec = _load_rec(path, v)
        for f in rec.get("remove", []):
            added.pop(f, None)
            removed.add(f)
        rec_stats = rec.get("stats", {})
        for f in rec.get("add", []):
            added[f] = rec_stats.get(f, {})
            removed.discard(f)
        if "column_map" in rec.get("meta", {}):
            state["column_map"] = dict(rec["meta"]["column_map"])
        if "features" in rec.get("meta", {}):
            state["features"] = list(rec["meta"]["features"])
    return added, removed, state


# In-process memo of spooled log entries: (abs table root, entry name) ->
# scratch file path. Checkpoint manifests and sidecars are immutable
# (put_if_absent names one winner per name), so the memo is sound for the
# life of the process — the same assumption Delta's JVM snapshot cache
# makes. The one hazard it shares with Delta: a table DROPPED and
# RECREATED at the same root within one process could alias names; the
# spool file name carries the content hash so at worst the memo
# re-spools, never serves stale bytes to a caller that re-reads.
_SPOOL_MEMO: dict[tuple[str, str], str] = {}


def _spool_entry_uri(path: str, name: str) -> str | None:
    """A spark/pyarrow-readable URI for a parquet log entry (checkpoint
    manifest or sidecar part) of an OPAQUE LogStore (spark_uri() is
    None): ONE streamed GET of the bytes onto a scratch path, after which
    planning scans it with executors like any native checkpoint — the
    driver never decodes the live set into Python objects and never
    ships N-million rows through createDataFrame. Returns None when the
    entry does not exist (e.g. a json-era checkpoint) — callers fall
    back to driver materialization, which is fine at json-checkpoint
    scale.

    The scratch root is `$SPARK_GRAFT_SCRATCH` (set it to a cluster-
    visible POSIX mount — NFS/EFS/Lustre — on multi-node deployments; the
    proper fix there is implementing `LogStore.spark_uri`) or the local
    tempdir (correct wherever driver and executors share a filesystem,
    i.e. local mode). Files are content-hash named, so concurrent
    spoolers converge and a re-created table can never alias an old
    spool; the write is tmp+rename atomic."""
    import hashlib
    import tempfile

    key = (os.path.abspath(path), name)
    memo = _SPOOL_MEMO.get(key)
    if memo is not None and os.path.exists(memo):
        return memo
    try:
        data = get_log_store(path).read_bytes(_log_dir(path), name)
    except (OSError, KeyError):
        return None  # entry absent — e.g. json-era checkpoint
    root = os.environ.get("SPARK_GRAFT_SCRATCH") or os.path.join(
        tempfile.gettempdir(), "tx_spool"
    )
    os.makedirs(root, exist_ok=True)
    digest = hashlib.sha1(data).hexdigest()[:20]
    dst = os.path.join(root, f"sp-{digest}.parquet")
    if not os.path.exists(dst):
        tmp = f"{dst}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, dst)
    _SPOOL_MEMO[key] = dst
    return dst


def _spool_checkpoint_uri(path: str, cp_v: int) -> str | None:
    return _spool_entry_uri(path, _checkpoint_name(cp_v, "parquet"))


def _checkpoint_state(path: str, cp_v: int) -> dict:
    """Table-level checkpoint state WITHOUT materializing the live set
    when possible: a parquet checkpoint with a spark_uri is a footer-only
    read (`pq.read_schema`); an opaque store's checkpoint reads through
    the spool (one GET, then footer-only — and the spool is already warm
    for the planner); only a json-era checkpoint falls back to a full
    load."""
    uri = get_log_store(path).spark_uri(
        _log_dir(path), _checkpoint_name(cp_v, "parquet")
    )
    if uri is None:
        uri = _spool_checkpoint_uri(path, cp_v)
    if uri is not None:
        import pyarrow.parquet as pq

        meta = pq.read_schema(uri).metadata or {}
        if b"txlog_state" in meta:
            return json.loads(meta[b"txlog_state"])
    return _load_checkpoint(path, cp_v)


_FILES_DF_SCHEMA = "rel string, stats_json string"


def tx_files_df(spark: SparkSession, path: str,
                version: int | None = None) -> DataFrame:
    """The snapshot's live-file METADATA as a DataFrame — `rel` (log-
    relative path, hive segments and `ext<i>:` clone markers included)
    and `stats_json` (the committed footer stats, null when none; rows
    via `get_json_object(stats_json, '$.rows')`).

    This is the distributed half of the metadata plane: the base is the
    parquet CHECKPOINT scanned by executors — directly when the LogStore
    exposes a `spark_uri`, via a one-GET scratch spool
    (`_spool_checkpoint_uri`) when the store is opaque; only a json-era
    checkpoint falls back to a driver-materialized base — and the commit
    tail — bounded by CHECKPOINT_INTERVAL, KB-scale — is folded in
    driver-side. At 10M live files nothing materializes 10M
    Python objects on the driver: planning, pruning (`tx_prune(spark=)`)
    and table analytics (file-count/row skew by partition) run as Spark
    jobs over this frame. Delta's design: the checkpoint IS the scan-
    able state (Armbrust et al. VLDB 2020 §3.3)."""
    commits, checkpoints = _usable_log(path)
    if not commits:
        raise ValueError(f"no transaction log at {path}")
    latest = commits[-1]
    target = latest if version is None else version
    if target > latest or target < 0:
        raise ValueError(f"version {target} does not exist (latest {latest})")
    horizon = _newest_horizon(path, commits, checkpoints)
    if target < horizon:
        raise ValueError(
            f"version {target} was vacuumed (horizon {horizon}) — "
            "its data files are gone"
        )
    usable = [c for c in checkpoints if c <= target]
    cp_v = usable[-1] if usable else None
    base_df = None
    cp_features: list[str] = []
    if cp_v is not None:
        store = get_log_store(path)
        log_dir = _log_dir(path)

        def _entry_uri(name: str) -> str | None:
            # native URI when the store is addressable; else the scratch
            # spool (one GET) so executors scan it — the distributed path
            # must engage EXACTLY where the driver-heap GET hurts most
            return store.spark_uri(log_dir, name) or _spool_entry_uri(
                path, name
            )

        uri = _entry_uri(_checkpoint_name(cp_v, "parquet"))
        if uri is not None:
            # multi-part manifest? (zero rows; sidecars in footer state)
            import pyarrow.parquet as pq

            meta = pq.read_schema(uri).metadata or {}
            st = (json.loads(meta[b"txlog_state"])
                  if b"txlog_state" in meta else {})
            cp_features = list(st.get("features") or [])
            sidecars = st.get("sidecars")
            if sidecars is None:
                base_df = spark.read.parquet(uri).select("rel", "stats_json")
            elif not sidecars:
                base_df = spark.createDataFrame([], _FILES_DF_SCHEMA)
            else:
                uris = []
                for name in sidecars:
                    su = _entry_uri(name)
                    if su is None:
                        raise TxCorruption(
                            f"{path}: checkpoint {cp_v} references a "
                            f"missing sidecar part {name!r}"
                        )
                    uris.append(su)
                if all("-full-" in n for n in sidecars):
                    # fresh compaction: full parts hold disjoint rels and
                    # no tombstones — a plain multi-file scan, NO shuffle
                    base_df = spark.read.parquet(*uris).select(
                        "rel", "stats_json"
                    )
                else:
                    # fold the chain with executors: newest part wins per
                    # rel, tombstones drop — one shuffle over the live
                    # set, which IS the distributed metadata plane's job
                    parts = None
                    for i, su in enumerate(uris):
                        p = (
                            spark.read.parquet(su)
                            .select("rel", "stats_json", "tombstone")
                            .withColumn("_pidx", F.lit(i))
                        )
                        parts = p if parts is None else parts.unionByName(p)
                    w = F.max_by(
                        F.struct(F.col("stats_json"), F.col("tombstone")),
                        F.col("_pidx"),
                    ).alias("w")
                    base_df = (
                        parts.groupBy("rel").agg(w)
                        .filter(~F.col("w.tombstone"))
                        .select("rel",
                                F.col("w.stats_json").alias("stats_json"))
                    )
        else:  # json-era checkpoint: driver materializes (small tables)
            cp = _load_checkpoint(path, cp_v)
            cp_features = list(cp.get("features") or [])
            cp_stats = cp.get("stats", {})
            base_df = spark.createDataFrame(
                [(f, json.dumps(cp_stats[f]) if cp_stats.get(f) else None)
                 for f in cp["files"]],
                _FILES_DF_SCHEMA,
            )
    added, removed, _state = _tail_delta(
        path, commits, cp_v if cp_v is not None else -1, target
    )
    # capability gate, same rule as _replay: tail stamp (full folded set)
    # replaces the checkpoint's; the distributed plane must not misread a
    # table whose features it does not implement
    feats = set(_state.get("features") or cp_features)
    unknown = feats - _FEATURES_SUPPORTED
    if unknown:
        raise TxUnsupportedFeature(
            f"{path}: table requires feature(s) {sorted(unknown)} this "
            f"build does not implement (supported: "
            f"{sorted(_FEATURES_SUPPORTED)})"
        )
    tail_df = spark.createDataFrame(
        [(f, json.dumps(s) if s else None) for f, s in sorted(added.items())],
        _FILES_DF_SCHEMA,
    )
    if base_df is None:
        return tail_df
    # drop tail-removed rels AND tail-re-added ones (their stats moved to
    # the tail row — e.g. tx_restore re-adds a checkpoint-era rel)
    drop = removed | set(added)
    if not drop:
        return base_df.unionByName(tail_df)
    if len(drop) <= 10_000:
        base_df = base_df.filter(~F.col("rel").isin(sorted(drop)))
    else:  # a huge literal IN-list would bloat the plan: anti-join it
        drop_df = spark.createDataFrame(
            [(f,) for f in sorted(drop)], "rel string"
        )
        base_df = base_df.join(F.broadcast(drop_df), "rel", "left_anti")
    return base_df.unionByName(tail_df)


def _prune_distributed(
    spark: SparkSession, path: str, predicate: list[tuple],
    version: int | None,
) -> tuple[list[str], list[str]]:
    """`tx_prune`'s proofs evaluated as a Spark job over `tx_files_df`.
    The probe closure ships `_skip_row` — the same function the driver
    loop runs — with the predicate and the snapshot's column map, so the
    two paths agree bit-for-bit on every edge (NaN footer hazard, 3VL
    membership, per-file path-vs-stats proof, renamed columns)."""
    import pandas as pd

    # Resolve the target version ONCE, before anything lists the log:
    # with version=None a commit landing between two listings would let
    # the column-map/tail state come from a newer version than the
    # DataFrame's file set (a concurrent rename could then map a logical
    # name onto a different physical column's stats and mis-prune).
    # Pinning the resolved version makes both halves see one snapshot.
    commits, checkpoints = _usable_log(path)
    latest = commits[-1] if commits else -1
    target = latest if version is None else version
    fdf = tx_files_df(spark, path, target)  # validates version + horizon
    usable = [c for c in checkpoints if c <= target]
    state = _checkpoint_state(path, usable[-1]) if usable else {}
    _add, _rm, tail_state = _tail_delta(
        path, commits, usable[-1] if usable else -1, target
    )
    cmap = dict(tail_state.get("column_map",
                               state.get("column_map") or {}))
    pred = [tuple(c) for c in predicate]

    def probe(batches):
        for pdf in batches:
            keep = [
                not _skip_row(
                    rel,
                    json.loads(sj) if isinstance(sj, str) else None,
                    cmap, pred,
                )
                for rel, sj in zip(pdf["rel"], pdf["stats_json"])
            ]
            yield pd.DataFrame({"rel": pdf["rel"], "keep": keep})

    rows = fdf.mapInPandas(probe, "rel string, keep boolean").collect()
    kept = sorted(r["rel"] for r in rows if r["keep"])
    skipped = sorted(r["rel"] for r in rows if not r["keep"])
    return kept, skipped


def _write_dv(path: str, hits: DataFrame) -> tuple[list[str], list[str], int]:
    """Write a (file, pos) deletion-vector relation as ONE part file and
    return (dv_rels, covered files sorted, row count). The covers/count
    metrics ride the write action itself (CollectMetrics/Observation)
    instead of re-reading the just-written bytes — a DV commit costs one
    Spark job, not two. `covers` is driver-side either way (the commit
    record names the covered files); the positions themselves never
    materialize on the driver."""
    from pyspark.sql import Observation

    obs = Observation()
    measured = hits.observe(
        obs,
        F.collect_set("file").alias("covers"),
        F.count(F.lit(1)).alias("n"),
    )
    dv_rels, _ = _write_new_files(
        measured, path, collect_stats=False, prefix="dv"
    )
    got = obs.get
    return dv_rels, sorted(got["covers"]), int(got["n"])


def _write_new_files(
    df: DataFrame,
    path: str,
    *,
    collect_stats: bool = True,
    partition_by: list[str] | None = None,
    prefix: str = "part",
    snap: dict | None = None,
) -> tuple[list[str], dict[str, dict]]:
    """Write `df` as new immutable part files inside the table root;
    returns (relpaths, per-file stats). Staging is a sibling dir (never
    visible to the log until committed; a crash strands ORPHANS, which
    vacuum's `include_orphans` sweeps — the log never references them).

    With `partition_by`, the write is hive-laid-out and each relpath KEEPS
    its `col=value/` prefix — the log-recorded path itself carries the
    partition values, so pruning reads them with zero extra metadata
    (`_partition_values`) and `tx_read`'s basePath scan reconstitutes the
    partition columns. All IO routes through the table's `DataStore`.

    `snap` (DATA writes only — DV/sidecar writes pass None) applies the
    table's column mapping: the caller's frame carries LOGICAL names, the
    files on disk carry PHYSICAL names, so a renamed column's new files
    agree with its old files and no rewrite is ever needed. A frame
    reintroducing a DROPPED column's physical name is refused — the old
    files still hold that column's bytes, and mergeSchema would resurrect
    them into the new column."""
    colmap = (snap or {}).get("column_map") or {}
    dropped = set((snap or {}).get("dropped_cols") or [])
    revived = sorted(
        dropped & {colmap.get(c, c) for c in df.columns}
    )
    if revived:
        raise ValueError(
            f"tx write: column(s) {revived} were dropped from this table "
            "(tx_drop_column) and their bytes remain in old files — "
            "reintroducing the name would resurrect them; rewrite the "
            "table (tx_overwrite / tx_compact) before reusing it"
        )
    if colmap:
        df = df.withColumnsRenamed(
            {l: p for l, p in colmap.items() if l in df.columns}
        )
        if partition_by:
            partition_by = [colmap.get(c, c) for c in partition_by]
    store = get_data_store(path)
    stage = store.stage_uri(path)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(stage)
    rels = []
    for staged_rel in store.list_stage(stage):
        cut = staged_rel.rfind("/") + 1
        rel = f"{staged_rel[:cut]}{prefix}-{uuid.uuid4().hex}.parquet"
        store.publish(path, stage, staged_rel, rel)
        rels.append(rel)
    rels.sort()
    store.discard_stage(path, stage)
    # stats fan out over executors past _STATS_DISTRIBUTED_MIN files —
    # a large ingest commit must not serialize its footer reads on the
    # driver (Delta collects add-file stats during the write itself)
    stats = (
        _file_stats(path, rels, spark=df.sparkSession)
        if collect_stats else {}
    )
    return rels, stats


# External file references (shallow clone): a log rel of the form
# `ext<i>:<rel>` resolves against snapshot["bases"][i] — another table's
# root — instead of this table's. The bytes belong to that table; this
# log only references them.
_EXT_RE = re.compile(r"^ext(\d+):(.*)$")


def _rel_home(path: str, rel: str,
              bases: list[str] | None) -> tuple[str, str]:
    """(owning table root, root-relative path) for a log rel: the
    table's own root for plain rels, the recorded clone base for
    `ext<i>:` references."""
    m = _EXT_RE.match(rel)
    if not m:
        return path, rel
    i = int(m.group(1))
    if not bases or i >= len(bases):
        raise TxCorruption(
            f"{path}: external reference {rel!r} has no recorded base "
            f"table (bases: {bases!r}) — the clone commit is damaged"
        )
    return bases[i], m.group(2)


# files-per-drop above which deletion runs as a Spark job instead of the
# serial driver loop: one remote DELETE per file, and a vacuum retiring a
# million files must not pay a million sequential RTTs on the driver
# (Delta's VACUUM deletes with a Spark job for the same reason). Deletes
# are idempotent (missing = no-op), so task retries are safe.
_DROP_DISTRIBUTED_MIN = 256


def _drop_files(path: str, rels: list[str],
                spark: SparkSession | None = None) -> None:
    store = get_data_store(path)
    todo = []
    for rel in rels:
        if _EXT_RE.match(rel):
            # a shallow clone's external reference: the SOURCE table owns
            # those bytes — dropping the ref (vacuum, failed-commit
            # cleanup) must never delete another table's data
            continue
        todo.append(rel)
    if spark is not None and len(todo) >= _DROP_DISTRIBUTED_MIN:
        import pandas as pd

        def sweep(batches):
            for pdf in batches:
                for r in pdf["rel"]:
                    store.delete(path, r)
                yield pd.DataFrame({"n": [len(pdf)]})

        n_slices = min(
            len(todo), spark.sparkContext.defaultParallelism * 2
        )
        (
            spark.createDataFrame([(r,) for r in todo], "rel string")
            .repartition(n_slices)
            .mapInPandas(sweep, "n long")
            .count()  # drive the job; per-delete results are irrelevant
        )
        return
    for rel in todo:
        store.delete(path, rel)


def _read_uris(path: str, rels: list[str],
               bases: list[str] | None = None) -> list[str]:
    out = []
    for r in rels:
        home, rel = _rel_home(path, r, bases)
        out.append(get_data_store(home).read_uri(home, rel))
    return out


# type-widening lattices (Delta-style reader-side type widening): a file
# written at a NARROWER type than the logged schema upcasts at scan under
# a pinned schema — no rewrite. Only these conversions are widenings;
# anything else is real incompatibility and must fail loudly.
_INT_FAMILY = {"byte", "short", "integer", "long"}
_FLOAT_FAMILY = {"float", "double"}
_WIDEN_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3,
               "float": 0, "double": 1}


def _wider_type(a, b):
    """The wider of two Spark types within the int/float widening
    families (int × float widens to double — parquet upcasts both);
    None if incomparable (string vs int, nested, decimal...)."""
    ta, tb = a.typeName(), b.typeName()
    if ta == tb:
        return a
    for fam in (_INT_FAMILY, _FLOAT_FAMILY):
        if ta in fam and tb in fam:
            return a if _WIDEN_RANK[ta] >= _WIDEN_RANK[tb] else b
    if {ta, tb} <= (_INT_FAMILY | _FLOAT_FAMILY):
        from pyspark.sql.types import DoubleType

        return DoubleType()
    return None


def _evolved_schema_json(snap: dict | None, df: DataFrame) -> str:
    """The schema an append-type commit records: the writer's columns,
    each shared column WIDENED against the live logged type. Recording
    the wider type keeps every era's files readable under one pinned
    scan schema — narrow-era files upcast at scan, nothing rewrites
    (type widening without rewrite; the read-side half is
    `_footer_union_fields`)."""
    live = (snap or {}).get("schema")
    if not live:
        return df.schema.json()
    live_types = {
        f.name: f.dataType
        for f in StructType.fromJson(json.loads(live)).fields
    }
    fields = []
    for f in df.schema.fields:
        lt = live_types.get(f.name)
        w = _wider_type(f.dataType, lt) if lt is not None else None
        fields.append(StructField(f.name, w or f.dataType, f.nullable, f.metadata))
    return StructType(fields).json()


def _footer_union_fields(path: str, rels: list[str]) -> list[StructField]:
    """Per-file parquet-footer schema union with widening reconciliation —
    the fallback scan-schema builder for tables whose files disagree on a
    column's physical width (widen-on-append evolution), where Spark's
    own mergeSchema refuses outright. Driver-side, one footer per file
    (metadata only) — O(files), paid ONLY on the widened-table slow
    path; `tx_compact` rewrites everything at the logged type and
    restores the mergeSchema fast path."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    store = get_data_store(path)
    fields: dict[str, StructField] = {}
    order: list[str] = []
    for rel in rels:
        with store.open_input(path, rel) as f:
            sch = pq.read_schema(f)
        for name, typ in zip(sch.names, sch.types):
            try:
                st = from_arrow_type(typ)
            except Exception:
                continue  # exotic physical type — let the scan decide
            if name not in fields:
                fields[name] = StructField(name, st, True)
                order.append(name)
            else:
                w = _wider_type(fields[name].dataType, st)
                if w is not None:
                    fields[name] = StructField(name, w, True)
    return [fields[n] for n in order]


def _read_live(
    spark: SparkSession,
    path: str,
    rels: list[str],
    snap: dict | None = None,
    *,
    keep_meta: bool = False,
    apply_dvs: bool = True,
) -> DataFrame:
    """Scan an explicit live-file list — the table's LOGICAL rows.

    basePath pins partition discovery to the table root, so hive-laid-out
    rels get their partition columns back (and a flat layout is
    unaffected). When the snapshot is supplied, recovered partition
    columns are CAST to the logged schema's types and the logged column
    order is restored — partition inference would otherwise guess types
    (a string partition value '0123' must not come back as the int 123)
    and append partition columns at the end.

    Deletion vectors: rows whose (file, row position) the snapshot's DV
    map marks deleted are filtered out with a broadcast anti-join on
    `_metadata.row_index` — BEFORE any projection, so every operation
    built on this helper (read, merge, replace, compact, erase, the
    rewrite survivor scans) sees the post-delete table and rewrites
    MATERIALIZE the deletes. `keep_meta=True` keeps the
    `__tx_rel`/`__tx_pos` (log-relative path, row position) columns for
    callers that address rows physically (tx_delete_where, the change
    feed); `apply_dvs=False` yields the RAW file contents.

    External references (shallow clone): rels prefixed `ext<i>:` scan
    from their OWNING table's root (snapshot `bases[i]`), each home root
    as its own group with its own basePath/uri-root, unioned by name —
    `__tx_rel` reproduces the log's full rel spelling (marker included)
    so DV anti-joins and row-addressing work identically on referenced
    files.

    Partition-spec evolution (`tx_set_partition_spec`): files written
    under DIFFERENT specs coexist, so grouping also keys on each file's
    own hive-key signature — a mixed flat/`grp=`/`d=` live set scans as
    one group per layout era (Spark refuses conflicting directory
    structures in a single scan), each era recovering exactly its own
    path-encoded columns; the union null-extends nothing, because an
    era's path columns are the other era's data columns."""
    logged = (
        StructType.fromJson(json.loads(snap["schema"]))
        if (snap or {}).get("schema")
        else None
    )
    # column mapping (rename/drop without rewrite): files carry PHYSICAL
    # names; the scan runs in physical namespace and the names flip to
    # logical immediately after — every consumer of this helper (read,
    # merge, compact, erase, the change feed) sees logical columns only
    colmap = (snap or {}).get("column_map") or {}  # logical -> physical
    phys_to_logical = {p: l for l, p in colmap.items()}
    dropped = set((snap or {}).get("dropped_cols") or [])
    bases = (snap or {}).get("bases") or []
    # recovered path columns (logical names) across every layout era —
    # cast + order-restore applies to whatever the paths encode, not
    # just the CURRENT spec (an old era's keys still need their types)
    recovered = {
        phys_to_logical.get(k, k)
        for r in rels
        for k in _partition_values(r)
    }
    types = (
        {f.name: f.dataType for f in logged.fields}
        if logged is not None and recovered
        else {}
    )
    phys_fields = (
        [
            StructField(colmap.get(f.name, f.name), f.dataType, f.nullable)
            for f in logged.fields
        ]
        if logged is not None
        else None
    )
    dv_map = (snap or {}).get("dvs") or {}
    dv_rels = sorted(
        {d for r in rels for d in dv_map.get(r, [])}
    ) if apply_dvs else []
    need_meta = keep_meta or bool(dv_rels)
    # single-era fast path: when the log PROVES every live file was
    # written under exactly the logged schema (`_replay` tracks the
    # distinct commit-schema eras), pin the scan to the log and skip the
    # mergeSchema footer-union entirely — that union is a Spark job that
    # reads EVERY live file's footer on EVERY scan, O(files) metadata
    # I/O per query at the 100 TB design point (and the dominant fixed
    # cost of metadata-plane ops on small tables). Multi-era, renamed,
    # dropped-column, cloned, and restored tables keep the union scan.
    uniform = (
        logged is not None
        and (snap or {}).get("schema_eras") == [snap.get("schema")]
        and not colmap and not dropped and not bases
    )

    def _scan_home(prefix: str, full_rels: list[str]) -> DataFrame:
        home, _ = _rel_home(path, full_rels[0], bases)
        hrels = [r[len(prefix):] for r in full_rels]
        store = get_data_store(home)
        reader = spark.read.option("basePath", store.spark_base_path(home))
        uris = [store.read_uri(home, r) for r in hrels]
        # pinning decision per LAYOUT ERA: only this group's own
        # path-encoded keys matter (another era's string partition
        # column is plain file bytes here)
        gstring = any(
            types.get(phys_to_logical.get(k, k), None) is not None
            and types[phys_to_logical.get(k, k)].typeName() == "string"
            for k in _partition_values(full_rels[0])
        )

        def _pinned_scan(extra_fields) -> DataFrame:
            # pin the read to logged types (physical names) ∪ columns
            # only older files carry: logged wins on overlap, so a file
            # written at a NARROWER width (type widening without
            # rewrite) upcasts at scan instead of failing schema merge
            phys_names = {f.name for f in phys_fields}
            pinned = StructType(
                phys_fields
                + [f for f in extra_fields if f.name not in phys_names]
            )
            return reader.schema(pinned).parquet(*uris)

        if uniform:
            # no probe and no union: the pinned schema IS the file union
            out = _pinned_scan([])
        elif gstring:
            # a STRING partition column through type inference corrupts
            # numeric-looking values ('0123' → 123 → '123'): always pin.
            # The extras probe (columns only older files carry) is a
            # metadata-only mergeSchema read — on a width-evolved table
            # it refuses, and the footer union takes over.
            try:
                extras = reader.option(
                    "mergeSchema", True
                ).parquet(*uris).schema.fields
            except Exception as e:
                if "CANNOT_MERGE_SCHEMAS" not in str(e):
                    raise
                extras = _footer_union_fields(home, hrels)
            out = _pinned_scan(extras)
        else:
            try:
                out = reader.option("mergeSchema", True).parquet(*uris)
            except Exception as e:
                if (phys_fields is None
                        or "CANNOT_MERGE_SCHEMAS" not in str(e)):
                    raise
                out = _pinned_scan(_footer_union_fields(home, hrels))
        if dropped:
            # a dropped column's bytes stay in old files; it must not
            # resurrect through the mergeSchema union
            out = out.drop(*[c for c in dropped if c in out.columns])
        if colmap:
            present = set(out.columns)
            out = out.withColumnsRenamed(
                {p: l for l, p in colmap.items() if p in present}
            )
        if need_meta:
            uri_root = store.scan_uri_root(home)
            # _metadata.file_path is a URI, so URL-encodable characters
            # in partition values or the table root arrive
            # percent-encoded ('city=New York' scans as
            # 'city=New%20York'), while log and DV records store raw OS
            # relpaths. Decode BEFORE stripping the raw root prefix —
            # otherwise row-level ops on such tables resolve to
            # nonexistent encoded relpaths and fail with a misleading
            # TxConflict. A literal '+' must survive decoding
            # (URLDecoder treats it as a space), so it is pre-escaped
            # to %2B.
            rel_expr = F.expr(
                "substring(url_decode(replace(_metadata.file_path, "
                f"'+', '%2B')), {len(uri_root) + 1})"
            )
            if prefix:
                # reproduce the LOG's rel spelling for referenced files
                rel_expr = F.concat(F.lit(prefix), rel_expr)
            out = out.withColumn("__tx_rel", rel_expr).withColumn(
                "__tx_pos", F.col("_metadata.row_index")
            )
        return out

    groups: dict[tuple, list[str]] = {}
    for r in rels:
        m = _EXT_RE.match(r)
        pfx = f"ext{m.group(1)}:" if m else ""
        sig = tuple(sorted(_partition_values(r)))  # layout-era signature
        groups.setdefault((pfx, sig), []).append(r)
    parts = [
        _scan_home(pfx, group)
        for (pfx, _sig), group in sorted(groups.items())
    ]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_, allowMissingColumns=True)

    if dv_rels:
        # deleted-position lists are KB-to-MB scale → broadcast anti-join;
        # the scan side pays two metadata columns, no shuffle
        dvf = spark.read.parquet(*_read_uris(path, dv_rels, bases)).select(
            F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
        )
        out = out.join(
            F.broadcast(dvf),
            (F.col("__tx_rel") == F.col("__dv_file"))
            & (F.col("__tx_pos") == F.col("__dv_pos")),
            "left_anti",
        )
    if not keep_meta and dv_rels:
        out = out.drop("__tx_rel", "__tx_pos")

    if types:
        for c in recovered:
            if c in types and c in out.columns:
                out = out.withColumn(c, F.col(c).cast(types[c]))
        if all(c in out.columns for c in types):
            extras = [c for c in out.columns if c not in types]
            out = out.select(*[f.name for f in logged.fields], *extras)
    return out


def _resolve_partition_by(
    snap: dict | None, partition_by: list[str] | None, op: str
) -> list[str] | None:
    """Writer-side partitioning contract: None inherits the table's
    CURRENT spec; an explicit scheme must MATCH it (append-type ops
    never re-layout — `tx_overwrite` replaces every file and may change
    it, and `tx_set_partition_spec` evolves the spec for future writes
    without rewriting)."""
    existing = (snap or {}).get("partition_by")
    if partition_by is None:
        return existing
    partition_by = list(partition_by)
    has_rows = bool((snap or {}).get("files"))
    if op != "overwrite" and has_rows and partition_by != list(existing or []):
        raise ValueError(
            f"tx_{op}: table is partitioned by {existing}, got "
            f"{partition_by} — appends must match the table layout "
            "(tx_overwrite may re-partition)"
        )
    return partition_by


def tx_set_partition_spec(path: str, partition_by: list[str]) -> int | None:
    """Iceberg-style PARTITION SPEC EVOLUTION (public design — Iceberg
    spec v2 partition evolution): change how FUTURE writes are laid out
    in ONE metadata-only commit; no existing file is rewritten. Old-era
    files keep their old hive layout forever — reads scan each layout
    era as its own group (`_read_live` keys groups on the files' own
    hive-key signatures), per-file pruning proves from each file's own
    path keys or footer stats (`_skip_file`), and `tx_compact` rewrites
    everything under the CURRENT spec, normalizing layout incrementally.

    Why it matters at 100 TB: a table partitioned hourly that should
    have been daily (or by a different key entirely) is otherwise a
    full rewrite; here it's a KB-scale commit and the next scheduled
    compaction pays the rewrite only when (and where) it is worth it.

    `[]` unpartitions future writes. Every column must exist in the
    logged schema. Returns the commit version, or None when the spec is
    already current."""
    partition_by = list(partition_by)
    if len(set(partition_by)) != len(partition_by):
        raise ValueError(
            f"tx_set_partition_spec: duplicate column in {partition_by}"
        )

    def _build(s):
        if s is None:
            raise ValueError(f"no transaction log at {path}")
        if s["schema"] is None:
            raise ValueError(f"{path}: table has no logged schema")
        names = [
            f.name
            for f in StructType.fromJson(json.loads(s["schema"])).fields
        ]
        # a declared GENERATED column counts even before any write has
        # materialized it — declare the rule, evolve the spec onto it,
        # and raw appends lay out by the derived key
        gen = set((s.get("generated") or {}))
        missing = [c for c in partition_by if c not in names and c not in gen]
        if missing:
            raise ValueError(
                f"tx_set_partition_spec: unknown column(s) {missing} "
                f"(have {sorted(set(names) | gen)})"
            )
        if partition_by == list(s.get("partition_by") or []):
            return None
        return ([], [], {"partition_by": partition_by})

    return _commit(
        path, "set_partition_spec", _build, validate_remove_live=False
    )


# --------------------------------------------------------------------------
# operations
# --------------------------------------------------------------------------


def _with_constraint_guard(df: DataFrame, snap: dict | None) -> DataFrame:
    """Enforce the table's CHECK constraints on rows about to be written:
    each constraint becomes a raise_error tripwire riding the write scan
    (a FILTER, so Catalyst can't prune it away) — no extra pass, and a
    violating row aborts the job BEFORE anything is committed (the staged
    files are orphans vacuum sweeps). SQL CHECK semantics: a NULL
    predicate result PASSES (only FALSE violates). Constraints are read
    from the writer's snapshot — a constraint added concurrently with an
    in-flight write applies from the next write on (same optimistic
    model as every other metadata change).

    GENERATED columns apply first (constraints may reference them): a
    column the payload omits is derived from its expression (cast to
    the logged type when one exists, so a literal-typed expression
    cannot width-drift the schema); a column the payload PROVIDES is
    validated against the expression with a null-safe equality tripwire
    — Delta's generated-column contract (derive when absent, enforce
    when present)."""
    logged_types = {}
    if (snap or {}).get("schema"):
        logged_types = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(snap["schema"])).fields
        }
    for col, gexpr in sorted(((snap or {}).get("generated") or {}).items()):
        derived = F.expr(gexpr)
        if col in logged_types:
            derived = derived.cast(logged_types[col])
        if col not in df.columns:
            df = df.withColumn(col, derived)
        else:
            df = df.filter(
                F.when(F.col(col).eqNullSafe(derived), F.lit(True)).otherwise(
                    F.raise_error(
                        F.lit(
                            f"generated column {col} violated: provided "
                            f"value does not equal ({gexpr})"
                        )
                    )
                )
            )
    for name, expr in sorted(((snap or {}).get("constraints") or {}).items()):
        df = df.filter(
            F.when(
                F.coalesce(F.expr(expr), F.lit(True)), F.lit(True)
            ).otherwise(
                F.raise_error(
                    F.lit(f"CHECK constraint {name} violated: ({expr})")
                )
            )
        )
    return df


def tx_set_constraint(spark: SparkSession, path: str, name: str, expr: str) -> int:
    """Add a named CHECK constraint (Delta `ALTER TABLE ADD CONSTRAINT`):
    from this commit on, every write path (append / overwrite /
    replace_where payload / update images / merge output / streaming
    sinks) verifies each row satisfies `expr` — inline on the write scan,
    aborting before commit on violation. Existing rows are validated
    FIRST (one scan, short-circuited via limit 1); a table that already
    violates refuses the constraint. NULL results pass (SQL CHECK 3VL).
    The constraint map is versioned log state: time travel sees the
    constraints of its version, and checkpoints fold them."""
    if not name or not name.replace("_", "").isalnum():
        raise ValueError(f"tx_set_constraint: bad constraint name {name!r}")
    snap = tx_snapshot(path)
    cond = F.coalesce(F.expr(expr), F.lit(True))
    if snap["files"]:
        bad = tx_read(spark, path, version=snap["version"]).filter(
            ~cond
        ).limit(1).count()
        if bad:
            raise ValueError(
                f"tx_set_constraint: existing rows violate ({expr}) — "
                "clean the table first (tx_delete_where / tx_update_where)"
            )

    def _build(s):
        # rows landing between the validation scan and this commit were
        # never checked — only the VALIDATED state may be constrained
        # (unguarded concurrent writes would otherwise smuggle violating
        # rows under the brand-new constraint)
        now = (s or {}).get("files", [])
        if set(now) - set(snap["files"]):
            raise TxConflict(
                "tx_set_constraint: the table gained files after the "
                "validation scan — re-run to validate them"
            )
        cons = dict((s or {}).get("constraints") or {})
        cons[name] = expr
        return ([], [], {"constraints": cons})

    return _commit(path, "set_constraint", _build, validate_remove_live=False)


def tx_drop_constraint(path: str, name: str) -> int:
    """Remove a CHECK constraint; raises if it does not exist (a silent
    no-op would mask a typo in an operation meant to loosen the gate)."""

    def _build(s):
        cons = dict((s or {}).get("constraints") or {})
        if name not in cons:
            raise ValueError(
                f"tx_drop_constraint: no constraint named {name!r} "
                f"(have: {sorted(cons) or 'none'})"
            )
        del cons[name]
        return ([], [], {"constraints": cons})

    return _commit(path, "drop_constraint", _build, validate_remove_live=False)


def tx_set_generated_column(
    spark: SparkSession, path: str, col: str, expr: str
) -> int:
    """Declare `col` GENERATED AS (`expr`) — Delta's generated-column
    design as versioned log state (checkpoint-folded, time-travel
    visible). From this commit on, every write path derives the column
    when the payload omits it and ENFORCES null-safe equality when the
    payload provides it (`_with_constraint_guard`). The canonical use is
    a derived partition key: declare `d = to_date(ts)`, then
    `tx_set_partition_spec(path, ["d"])` — writers append raw events and
    the layout (plus its exact path pruning) takes care of itself.

    If the column already exists, existing rows are validated FIRST (one
    short-circuited scan) — a table whose history already disagrees with
    the expression refuses. A column that does not exist yet
    materializes on the next write via normal schema evolution. The
    expression may not reference itself."""
    if _constraint_mentions({col: expr}, col):
        raise ValueError(
            f"tx_set_generated_column: expression references {col!r} itself"
        )
    snap = tx_snapshot(path)
    if col in (snap.get("generated") or {}):
        raise ValueError(
            f"tx_set_generated_column: {col!r} already generated as "
            f"({snap['generated'][col]}) — drop it first"
        )
    if snap["schema"] is not None and snap["files"]:
        names = [
            f.name
            for f in StructType.fromJson(json.loads(snap["schema"])).fields
        ]
        if col in names:
            bad = (
                tx_read(spark, path, version=snap["version"])
                .filter(~F.col(col).eqNullSafe(F.expr(expr)))
                .limit(1)
                .count()
            )
            if bad:
                raise ValueError(
                    f"tx_set_generated_column: existing rows violate "
                    f"{col} = ({expr}) — rewrite or fix the data first"
                )

    def _build(s):
        gen = dict((s or {}).get("generated") or {})
        gen[col] = expr
        return ([], [], {"generated": gen})

    return _commit(
        path, "set_generated_column", _build, validate_remove_live=False
    )


def tx_drop_generated_column(path: str, col: str) -> int:
    """Remove `col`'s generation rule (the column itself stays — only
    the derive-or-enforce write behavior stops); raises if no rule
    exists."""

    def _build(s):
        gen = dict((s or {}).get("generated") or {})
        if col not in gen:
            raise ValueError(
                f"tx_drop_generated_column: no generated column {col!r} "
                f"(have: {sorted(gen) or 'none'})"
            )
        del gen[col]
        return ([], [], {"generated": gen})

    return _commit(
        path, "drop_generated_column", _build, validate_remove_live=False
    )


def _derive_generated(df: DataFrame, snap: dict | None) -> DataFrame:
    """Derive-if-absent half of the generated-column contract: add the
    missing generated columns so a payload that predates the rule (or a
    merge source carrying only base columns) satisfies downstream
    column requirements; provided columns pass through untouched (the
    write guard validates them later)."""
    gen = (snap or {}).get("generated") or {}
    if not gen:
        return df
    logged_types = {}
    if (snap or {}).get("schema"):
        logged_types = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(snap["schema"])).fields
        }
    for col, gexpr in sorted(gen.items()):
        if col not in df.columns:
            derived = F.expr(gexpr)
            if col in logged_types:
                derived = derived.cast(logged_types[col])
            df = df.withColumn(col, derived)
    return df


def _regen_generated(df: DataFrame, snap: dict | None,
                     skip=()) -> DataFrame:
    """Recompute the generated columns PRESENT in `df` (except `skip`):
    UPDATE/MERGE images whose base columns changed would otherwise trip
    the write guard's equality tripwire with stale derived values —
    Delta regenerates on UPDATE/MERGE, and so do we. Columns in `skip`
    (merge keys — recomputing a key post-join would corrupt identity)
    keep their values and stay subject to the guard."""
    gen = (snap or {}).get("generated") or {}
    if not gen:
        return df
    logged_types = {}
    if (snap or {}).get("schema"):
        logged_types = {
            f.name: f.dataType
            for f in StructType.fromJson(json.loads(snap["schema"])).fields
        }
    for col, gexpr in sorted(gen.items()):
        if col in df.columns and col not in skip:
            derived = F.expr(gexpr)
            if col in logged_types:
                derived = derived.cast(logged_types[col])
            df = df.withColumn(col, derived)
    return df


def _constraint_mentions(constraints: dict[str, str], col: str) -> list[str]:
    """Constraint names whose expression mentions `col` as a word —
    conservative (a match inside a string literal also counts), which is
    the safe direction: renaming under a doubtful constraint is refused
    rather than silently breaking the write gate."""
    pat = re.compile(rf"(?<![A-Za-z0-9_`]){re.escape(col)}(?![A-Za-z0-9_])")
    return sorted(n for n, e in (constraints or {}).items() if pat.search(e))


def _mapping_commit(path: str, op: str, apply) -> int:
    """Shared shell for the metadata-only schema-mapping commits
    (rename/drop): `apply(snapshot)` validates against a fresh snapshot
    inside the retry loop and returns (schema_json, column_map,
    dropped_cols). No data file is touched — that is the whole point
    (Delta column mapping, Armbrust et al. VLDB 2020 §4.2: logical names
    are log metadata; files keep their physical names forever)."""

    def _build(s):
        if s is None or s.get("schema") is None:
            raise ValueError(f"{op}: no logged schema at {path}")
        schema_json, colmap, dropped = apply(s)
        return ([], [], {
            "schema": schema_json,
            "column_map": colmap,
            "dropped_cols": dropped,
        })

    return _commit(path, op, _build, validate_remove_live=False)


def tx_rename_column(path: str, old: str, new: str) -> int:
    """Rename a column WITHOUT rewriting any data file: one metadata-only
    commit updates the logged (logical) schema and records the
    logical→physical name mapping; files keep the physical name forever
    and future writes map to it, so a 100 TB table renames in one commit
    instead of one full rewrite. Reads, predicates, and footer-stats
    pruning work under the new name immediately; time travel below this
    commit shows the old name (the mapping is versioned log state,
    folded into checkpoints like constraints).

    Refused for: partition columns (their name is baked into every
    `col=value/` file path), a `new` that collides with any live logical
    or physical name (old files' bytes would bleed together), and
    columns mentioned by a CHECK constraint (drop the constraint first —
    its expression is recorded in the old name)."""
    def _apply(s):
        schema = StructType.fromJson(json.loads(s["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(
                f"tx_rename_column: no column {old!r} (have {names})"
            )
        if new in names:
            raise ValueError(f"tx_rename_column: column {new!r} exists")
        if old in (s.get("partition_by") or []):
            raise ValueError(
                "tx_rename_column: partition columns cannot be renamed "
                "without a rewrite — their name is part of every file path"
            )
        colmap = dict(s.get("column_map") or {})
        dropped = list(s.get("dropped_cols") or [])
        # the column's OWN physical name is fair game (renaming back to
        # it restores the identity mapping); any OTHER column's physical
        # name, or a dropped one, would read foreign bytes
        phys_others = {colmap.get(n, n) for n in names if n != old}
        if new in phys_others or new in dropped:
            raise ValueError(
                f"tx_rename_column: {new!r} is a PHYSICAL name still "
                "present in the table's files — reusing it would read "
                "those files' bytes as the renamed column"
            )
        hit = _constraint_mentions(s.get("constraints"), old)
        if hit:
            raise ValueError(
                f"tx_rename_column: constraint(s) {hit} reference "
                f"{old!r} — drop them first, then re-add under the new name"
            )
        gen = s.get("generated") or {}
        ghit = _constraint_mentions(gen, old)
        if old in gen or ghit:
            raise ValueError(
                f"tx_rename_column: {old!r} is generated or referenced by "
                f"generated column(s) {ghit or [old]} — drop the "
                "generation rule(s) first"
            )
        phys = colmap.pop(old, old)
        if phys != new:
            colmap[new] = phys
        fields = [
            StructField(new, f.dataType, f.nullable, f.metadata)
            if f.name == old else f
            for f in schema.fields
        ]
        return StructType(fields).json(), colmap, dropped

    return _mapping_commit(path, "rename_column", _apply)


def tx_drop_column(path: str, col: str) -> int:
    """Drop a column WITHOUT rewriting any data file: one metadata-only
    commit removes it from the logged schema and records its physical
    name as dropped, so the bytes left in old files never resurrect
    through the mergeSchema union. Time travel below this commit still
    shows the column. Reintroducing the same physical name in a later
    write is refused until a rewrite (tx_overwrite / tx_compact)
    physically retires the old files — the alternative silently grafts
    stale bytes onto the new column. Refused for partition columns and
    for the last remaining column; constraints referencing the column
    must be dropped first."""
    def _apply(s):
        schema = StructType.fromJson(json.loads(s["schema"]))
        names = [f.name for f in schema.fields]
        if col not in names:
            raise ValueError(f"tx_drop_column: no column {col!r} (have {names})")
        if len(names) == 1:
            raise ValueError("tx_drop_column: cannot drop the last column")
        if col in (s.get("partition_by") or []):
            raise ValueError(
                "tx_drop_column: partition columns cannot be dropped "
                "without a rewrite — their name is part of every file path"
            )
        hit = _constraint_mentions(s.get("constraints"), col)
        if hit:
            raise ValueError(
                f"tx_drop_column: constraint(s) {hit} reference {col!r} — "
                "drop them first"
            )
        gen = s.get("generated") or {}
        ghit = _constraint_mentions(gen, col)
        if col in gen or ghit:
            raise ValueError(
                f"tx_drop_column: {col!r} is generated or referenced by "
                f"generated column(s) {ghit or [col]} — drop the "
                "generation rule(s) first"
            )
        colmap = dict(s.get("column_map") or {})
        dropped = list(s.get("dropped_cols") or [])
        phys = colmap.pop(col, col)
        if phys not in dropped:
            dropped.append(phys)
        fields = [f for f in schema.fields if f.name != col]
        return StructType(fields).json(), colmap, sorted(dropped)

    return _mapping_commit(path, "drop_column", _apply)


def tx_append(
    df: DataFrame,
    path: str,
    *,
    txn: tuple[str, int] | None = None,
    partition_by: list[str] | None = None,
) -> int | None:
    """Blind append: write new files, commit. Never conflicts (except
    against a concurrent RE-LAYOUT: an overwrite that changed the
    partition scheme after this append staged its files raises TxConflict
    rather than committing wrongly-laid-out files).
    `txn=(app, batch)` makes the append IDEMPOTENT per (app, batch) —
    a replayed batch whose id the log has already folded is a no-op
    (returns None) and its just-written files are dropped as if never
    staged; this is what gives the streaming sink exactly-once.
    `partition_by` must match the table's scheme (None inherits it).
    CHECK constraints are enforced inline on the write scan."""
    snap0 = _replay(path)
    pby = _resolve_partition_by(snap0, partition_by, "append")
    rels, stats = _write_new_files(
        _with_constraint_guard(df, snap0), path, partition_by=pby, snap=snap0
    )

    def _build(snap):
        live_pby = (snap or {}).get("partition_by") or None
        if snap is not None and snap["files"] and live_pby != (pby or None):
            raise TxConflict(
                f"tx_append: table partitioning changed to {live_pby} while "
                f"this append staged {pby or None}-laid-out files — re-run"
            )
        # record the WIDENED schema: an append at a wider numeric type
        # upcasts the old files at scan; an append at a narrower one
        # records the live wider type so its own files upcast instead
        meta = {"schema": _evolved_schema_json(snap, df)}
        if pby:
            meta["partition_by"] = pby
        return (rels, [], meta)

    try:
        v = _commit(
            path, "append", _build,
            validate_remove_live=False, stats=stats, txn=txn,
        )
    except TxConflict:
        _drop_files(path, rels)
        raise
    if v is None:
        _drop_files(path, rels)  # duplicate delivery — files never referenced
    return v


def tx_commit_txn(path: str, app: str, batch: int) -> int | None:
    """Commit ONLY an idempotence token — no files added or removed.
    Delta allows exactly this (a streaming batch with zero rows still
    records its txn action so the watermark advances); here it is what
    lets an incremental consumer (mv_refresh) advance past a range of
    row-preserving commits without writing an empty data file. Returns
    the new version, or None when `batch` is already folded for `app`
    (the usual idempotent-replay contract)."""
    if not tx_exists(path):
        raise ValueError(f"no transaction log at {path}")
    return _commit(
        path, "txn", lambda s: ([], [], {}),
        validate_remove_live=False, txn=(app, int(batch)),
    )


def tx_overwrite(
    df: DataFrame,
    path: str,
    *,
    txn: tuple[str, int] | None = None,
    partition_by: list[str] | None = None,
) -> int | None:
    """Replace the table's contents atomically (the transactional form of
    the reference's non-idempotent re-run — M4). The remove set is
    whatever is live AT COMMIT TIME, so a lost race simply re-removes the
    racer's files on retry: last overwrite wins, no conflict.
    `txn=(app, batch)` makes the overwrite idempotent per (app, batch),
    like `tx_append` — a replayed micro-batch that already committed its
    state version is a no-op (returns None); this is what gives the
    streaming STATE sink (maintained aggregates, sketches) exactly-once.
    `partition_by` sets the table's hive layout: None inherits the
    existing scheme, an explicit list RE-LAYOUTS (overwrite replaces every
    file, so it is the one op allowed to change partitioning; pass [] to
    flatten). CHECK constraints are enforced inline on the write scan."""
    snap0 = _replay(path)
    pby = _resolve_partition_by(snap0, partition_by, "overwrite")
    # an overwrite replaces EVERY live file, so it is the one op that can
    # RESET column mapping: the new files are written under identity
    # (logical == physical) names — snap=None skips the mapping and the
    # dropped-name resurrection guard (no old file survives to resurrect
    # from) — and the commit clears column_map/dropped_cols, giving
    # renamed/dropped names a clean rewrite path back into service
    rels, stats = _write_new_files(
        _with_constraint_guard(df, snap0), path, partition_by=pby
    )

    def _build(snap):
        meta: dict = {
            "schema": df.schema.json(),
            "column_map": {},
            "dropped_cols": [],
        }
        if pby is not None or (snap or {}).get("partition_by"):
            meta["partition_by"] = pby or []
        return (rels, snap["files"] if snap else [], meta)

    v = _commit(
        path, "overwrite", _build,
        validate_remove_live=False, stats=stats, txn=txn,
    )
    if v is None:
        _drop_files(path, rels)  # duplicate delivery — files never referenced
    return v


def tx_replace_where(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    condition,
    *,
    prune: list[tuple] | None = None,
    validate: bool = True,
    partition_by: list[str] | None = None,
    isolation: str = "snapshot",
) -> dict:
    """Atomically DELETE every row matching `condition` and INSERT `df`,
    in one commit — Delta's `replaceWhere` (the transactional form of
    dynamic-partition overwrite, without needing a partitioned layout).
    This is what incremental maintenance wants: "replace the affected
    date range with its recomputed rows" as a single atomic swap that
    concurrent readers never see half-applied.

    `condition` is a SQL boolean expression string (or Column) over the
    table's columns. Only live files containing ≥1 matching row are
    rewritten (found by one logical scan, optionally
    pruned first via `prune=[(col, op, value), ...]` — exact on partition
    columns, footer-stats-proof on clustered numeric/date columns — pass
    the envelope of the replaced region and the scan itself shrinks to
    the plausible files). Non-matching
    rows in rewritten files are preserved; every other live file is
    untouched.

    Unless `validate=False`, each `df` row is checked to satisfy
    `condition` DURING the write scan (an inline CASE tripwire — no extra
    pass); a violating row aborts before anything is committed, so the
    delete region and the insert payload can never drift apart silently
    (Delta's replaceWhere constraint check).

    Returns {"version", "files_rewritten", "files_skipped",
    "rows_deleted"}. TxConflict if a concurrent commit replaced a
    candidate file first. By default concurrent blind APPENDS are NOT
    conflict-checked: matching rows appended after the candidate scan
    survive the replace (snapshot-ordering / write skew);
    `isolation="serializable"` raises TxConflict instead — see
    `tx_delete_where`'s isolation note.
    """
    _check_isolation(isolation, "replace_where")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    if validate:
        payload = df.filter(
            F.when(cond, F.lit(True)).otherwise(
                F.raise_error(
                    F.lit(
                        "tx_replace_where: an inserted row does not satisfy "
                        "the replace condition — delete region and insert "
                        "payload would drift apart"
                    )
                )
            )
        )
    else:
        payload = df

    if not tx_exists(path) or not tx_snapshot(path)["files"]:
        snap0 = _replay(path)
        pby0 = _resolve_partition_by(snap0, partition_by, "replace_where")
        rels, stats = _write_new_files(
            _with_constraint_guard(payload, snap0), path, partition_by=pby0,
            snap=snap0,
        )
        meta0: dict = {"schema": _evolved_schema_json(snap0, df)}
        if pby0:
            meta0["partition_by"] = pby0

        def _build_fresh(s):
            if isolation == "serializable":
                _assert_region_unchanged(snap0, s, prune, "replace_where")
            return (rels, [], meta0)

        v = _commit(
            path,
            "replace_where",
            _build_fresh,
            validate_remove_live=False,
            stats=stats,
        )
        return {
            "version": v, "files_rewritten": 0, "files_skipped": 0,
            "rows_deleted": 0,
        }

    snap = tx_snapshot(path)
    live_files = snap["files"]
    pby = _resolve_partition_by(snap, partition_by, "replace_where")
    plausible = live_files
    if prune:
        plausible = [
            f
            for f in live_files
            if not any(_skip_file(snap, f, c, op, v) for c, op, v in prune)
        ]
    candidates: list[str] = []
    rows_deleted = 0
    if plausible:
        # one LOGICAL scan (DVs applied) finds the candidate files and the
        # exact per-file hit counts; __tx_rel is the log-relative path
        # captured at scan time (join-safe, unlike input_file_name)
        hit_rows = (
            _read_live(spark, path, plausible, snap, keep_meta=True)
            .filter(cond)
            .groupBy("__tx_rel")
            .count()
            .collect()
        )
        candidates = sorted(r["__tx_rel"] for r in hit_rows)
        rows_deleted = int(sum(r["count"] for r in hit_rows))

    rels, stats = _write_new_files(
        _with_constraint_guard(payload, snap), path, partition_by=pby,
        snap=snap,
    )
    surv_rels: list[str] = []
    try:
        if candidates:
            survivors = (
                _read_live(spark, path, candidates, snap)
                # keep rows where the condition is NOT TRUE — a NULL
                # condition row is not in the delete region (3VL: DELETE
                # WHERE never fires on NULL), so it must survive the rewrite
                .filter(~F.coalesce(cond, F.lit(False)))
            )
            surv_rels, surv_stats = _write_new_files(
                survivors, path, partition_by=pby, snap=snap
            )
            stats = {**stats, **surv_stats}
        def _build_rw(s):
            _dv_stable(snap, s, candidates)
            if isolation == "serializable":
                _assert_region_unchanged(snap, s, prune, "replace_where")
            return (
                rels + surv_rels,
                candidates,
                {
                    "schema": _evolved_schema_json(s, df),
                    "condition": condition if isinstance(condition, str) else str(condition),
                },
            )

        v = _commit(path, "replace_where", _build_rw, stats=stats)
    except Exception:
        _drop_files(path, rels + surv_rels)  # never referenced — clean up
        raise
    return {
        "version": v,
        "files_rewritten": len(candidates),
        "files_skipped": len(live_files) - len(candidates),
        "rows_deleted": rows_deleted,
    }


def tx_replace_partitions(df: DataFrame, path: str, partition_col: str) -> dict:
    """Replace exactly the partitions this write produces, in one commit —
    Delta's dynamic partition overwrite, on the log. `df` is written
    hive-partitioned by `partition_col`; the replaced values are read back
    from the written files' own `col=value/` segments (the hive NULL
    partition is None), and the commit removes every live file whose path
    carries one of them. No scan decides the region and no tripwire checks
    the payload: the region IS the payload's partitions.

    The remove set is taken at COMMIT time, like `tx_overwrite`'s, so two
    landings of one partition racing each other leave one copy (last
    writer wins). A live file whose path does not carry the column (an
    older partition-spec era) cannot be proven outside the region by its
    path, so the commit refuses with ValueError rather than keep or drop
    its rows silently: rewrite such files under the current spec first
    (`tx_compact`), or replace by predicate with `tx_replace_where`.

    An empty `df` writes no file and commits nothing. Returns {"version",
    "rows", "partitions", "files_removed"}; `rows` is summed from the
    commit's per-file footer stats, `partitions` are the replaced raw
    values (sorted, None last)."""
    snap0 = _replay(path)
    pby = _resolve_partition_by(snap0, [partition_col], "replace_partitions")
    rels, stats = _write_new_files(
        _with_constraint_guard(df, snap0), path, partition_by=pby, snap=snap0,
    )
    if not rels:
        return {"version": None, "rows": 0, "partitions": [], "files_removed": 0}
    phys = ((snap0 or {}).get("column_map") or {}).get(partition_col, partition_col)
    values = {_partition_values(r)[phys] for r in rels}
    removed: list[str] = []

    def _build(s):
        live = (s or {}).get("files", [])
        bare = [f for f in live if phys not in _partition_values(f)]
        if bare:
            raise ValueError(
                f"tx_replace_partitions: {len(bare)} live file(s) (first: "
                f"{bare[0]}) do not carry {partition_col!r} in their path — "
                "their rows cannot be proven outside the replaced "
                "partitions; rewrite them under the current spec "
                "(tx_compact) or use tx_replace_where"
            )
        removed[:] = [f for f in live if _partition_values(f)[phys] in values]
        meta = {"schema": _evolved_schema_json(s, df), "partition_by": pby}
        return (rels, removed, meta)

    try:
        v = _commit(path, "replace_partitions", _build,
                    validate_remove_live=False, stats=stats)
    except Exception:
        _drop_files(path, rels)  # never referenced — clean up
        raise
    return {
        "version": v,
        "rows": sum(stats[r]["rows"] for r in rels),
        "partitions": sorted(values, key=lambda x: (x is None, x or "")),
        "files_removed": len(removed),
    }


def _dv_stable(base_snap: dict, now_snap: dict | None, rels: list[str]) -> None:
    """Raise TxConflict if any of `rels` gained/lost deletion vectors
    since `base_snap` — a rewrite computed from the base would otherwise
    RESURRECT rows a concurrent tx_delete_where removed (the file itself
    stays live, so the remove-set liveness check cannot catch this)."""
    b = base_snap.get("dvs", {})
    n = (now_snap or {}).get("dvs", {})
    for r in rels:
        if b.get(r, []) != n.get(r, []):
            raise TxConflict(
                f"deletion vectors on {r} changed since this rewrite's "
                "snapshot — a concurrent row-level delete landed; re-run "
                "against the new snapshot"
            )


_ISOLATION_LEVELS = ("snapshot", "serializable")


def _check_isolation(isolation: str, op: str) -> None:
    if isolation not in _ISOLATION_LEVELS:
        raise ValueError(
            f"tx_{op}: isolation must be one of {_ISOLATION_LEVELS}, "
            f"got {isolation!r}"
        )


def _assert_region_unchanged(
    base_snap: dict | None,
    now_snap: dict | None,
    prune: list[tuple] | None,
    op: str,
) -> None:
    """Serializable-isolation guard (opt-in via `isolation=
    "serializable"`): raise TxConflict when a file ADDED since
    `base_snap` might hold rows in the predicate region — the check
    Delta surfaces as ConcurrentAppendException. Disjointness is
    PROOF-based through the same machinery pruning uses (`_skip_file`
    on the new file's partition values / committed footer stats); a
    file that cannot be proven outside the region conflicts
    conservatively. With no `prune` conjuncts the region is the whole
    table, so ANY concurrent add conflicts."""
    base = set((base_snap or {}).get("files", []))
    added = [f for f in (now_snap or {}).get("files", []) if f not in base]
    for f in added:
        if prune and any(_skip_file(now_snap, f, c, o, v) for c, o, v in prune):
            continue
        raise TxConflict(
            f"tx_{op}: {f} was appended concurrently and is not provably "
            "outside the predicate region (serializable isolation) — "
            "re-run against the new snapshot"
        )


def tx_delete_where(
    spark: SparkSession,
    path: str,
    condition,
    *,
    prune: list[tuple] | None = None,
    isolation: str = "snapshot",
) -> dict:
    """Row-level DELETE without rewriting a single data file — deletion
    vectors, the Delta/Iceberg merge-on-read design. One scan finds the
    matching rows' (file, row position) pairs; they are written as a tiny
    DV relation and committed as a `dv_add` record. Every reader
    (`tx_read` and all rewrite ops, via `_read_live`) anti-joins the
    broadcast DV, so the rows are gone logically; the next rewrite of a
    covered file (compact/erase/merge/replace_where) MATERIALIZES the
    deletes and retires its DVs.

    Why it matters at 100 TB: deleting 0.01% of rows scattered across a
    petabyte of immutable parquet costs a full rewrite of every touched
    file under copy-on-write; a DV commit costs one scan + KBs of
    positions. `prune` narrows the scan exactly like `tx_replace_where`
    (exact on partition columns, stats-proof on clustered ones).

    Positions are physical row indexes (`_metadata.row_index`) —
    immutable for an immutable file, so concurrent DV commits on the
    same file COMPOSE (set union); a concurrent rewrite that removed a
    covered file raises TxConflict (the positions would address the
    wrong bytes). Deleted rows remain time-travelable until vacuum, same
    covenant as every other delete on the log.

    Isolation vs concurrent APPENDS — the DEFAULT is snapshot-ordering
    (write skew): rows appended between this delete's candidate scan and
    its commit survive even when they match `condition` (the delete acts
    on its snapshot; the two commits serialize as append-after-delete
    regardless of wall-clock order). Pass `isolation="serializable"` to
    get Delta's ConcurrentAppendException behavior instead: the commit
    raises TxConflict if any concurrently-added file is not PROVABLY
    outside the `prune` region (no prune → any concurrent add
    conflicts). The same knob exists on `tx_update_where` and
    `tx_replace_where`.

    Returns {"version", "rows_deleted", "files_touched"} (version None if
    nothing matched)."""
    _check_isolation(isolation, "delete_where")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    snap = tx_snapshot(path)
    if not snap["files"]:
        return {"version": None, "rows_deleted": 0, "files_touched": 0}
    plausible = snap["files"]
    if prune:
        plausible = [
            f
            for f in snap["files"]
            if not any(_skip_file(snap, f, c, op, v) for c, op, v in prune)
        ]
    if not plausible:
        return {"version": None, "rows_deleted": 0, "files_touched": 0}
    hits = (
        _read_live(spark, path, plausible, snap, keep_meta=True)
        .filter(cond)
        .select(F.col("__tx_rel").alias("file"), F.col("__tx_pos").alias("pos"))
        # one DV file per commit; repartition (NOT coalesce — coalesce
        # would propagate below the filter and serialize the delete scan
        # into one task) shuffles only the KB-scale positions
        .repartition(1)
    )
    dv_rels, covers, rows_deleted = _write_dv(path, hits)
    if rows_deleted == 0:
        _drop_files(path, dv_rels)
        return {"version": None, "rows_deleted": 0, "files_touched": 0}
    [dv_rel] = dv_rels  # coalesce(1) → exactly one

    def _build(s):
        gone = sorted(set(covers) - set(s["files"]))
        if gone:
            raise TxConflict(
                f"tx_delete_where: covered file {gone[0]} was rewritten by "
                "a concurrent commit — its row positions no longer address "
                "the same rows; re-run"
            )
        if isolation == "serializable":
            _assert_region_unchanged(snap, s, prune, "delete_where")
        return (
            [],
            [],
            {
                "condition": condition if isinstance(condition, str) else str(condition),
                "rows_deleted": rows_deleted,
            },
        )

    try:
        v = _commit(path, "delete", _build, validate_remove_live=False,
                    dv_add={"file": dv_rel, "covers": covers})
    except Exception:
        _drop_files(path, dv_rels)
        raise
    return {
        "version": v,
        "rows_deleted": rows_deleted,
        "files_touched": len(covers),
    }


def tx_update_where(
    spark: SparkSession,
    path: str,
    condition,
    set_exprs: dict[str, str],
    *,
    prune: list[tuple] | None = None,
    isolation: str = "snapshot",
) -> dict:
    """Row-level UPDATE without rewriting the untouched rows: the matching
    rows' positions become a deletion vector and their UPDATED images are
    appended as new files — both in ONE commit, so readers see the update
    atomically (never the deleted-but-not-yet-reinserted middle state).
    This is merge-on-read UPDATE: cost is O(matched rows), not
    O(touched files × file size) as a copy-on-write rewrite would be.

    `set_exprs` maps column name → SQL expression evaluated per matched
    row (e.g. ``{"status": "'fixed'", "n": "n + 1"}``); other columns are
    carried unchanged. `prune` narrows the scan as in `tx_delete_where`.
    Updated rows land UNCLUSTERED (appended); periodic clustered
    compaction restores locality, the usual merge-on-read rhythm.
    By default concurrent blind appends are not conflict-checked —
    matching rows appended after the candidate scan keep their old
    values (snapshot-ordering / write skew); `isolation="serializable"`
    raises TxConflict instead — see `tx_delete_where`'s isolation note.

    Returns {"version", "rows_updated", "files_touched"}."""
    _check_isolation(isolation, "update_where")
    cond = F.expr(condition) if isinstance(condition, str) else condition
    bad = {"__tx_rel", "__tx_pos"}.intersection(set_exprs)
    if bad:
        raise ValueError(f"tx_update_where: reserved column name: {sorted(bad)}")
    snap = tx_snapshot(path)
    if not snap["files"]:
        return {"version": None, "rows_updated": 0, "files_touched": 0}
    plausible = snap["files"]
    if prune:
        plausible = [
            f
            for f in snap["files"]
            if not any(_skip_file(snap, f, c, op, v) for c, op, v in prune)
        ]
    if not plausible:
        return {"version": None, "rows_updated": 0, "files_touched": 0}

    # pinned: the new images AND the DV positions must come from the SAME
    # matched set (two independent scans could drift apart under a
    # non-deterministic condition — rand(), current_timestamp())
    matched = (
        _read_live(spark, path, plausible, snap, keep_meta=True)
        .filter(cond)
        .persist()
    )
    try:
        updated = matched
        for col, expr in set_exprs.items():
            if col not in updated.columns:
                raise ValueError(f"tx_update_where: unknown column {col!r}")
            # UPDATE preserves the column's declared type (Delta
            # semantics): a bare literal like "7.5" parses as
            # DECIMAL(2,1) and would otherwise silently evolve the
            # schema of just the updated rows' files
            updated = updated.withColumn(
                col, F.expr(expr).cast(updated.schema[col].dataType)
            )
        # generated columns not explicitly set recompute from the
        # UPDATED base values (a stale derived value would trip the
        # write guard; an explicitly-set one stays and is validated)
        updated = _regen_generated(updated, snap, skip=set(set_exprs))
        updated = updated.drop("__tx_rel", "__tx_pos")
        new_rels, stats = _write_new_files(
            _with_constraint_guard(updated, snap), path,
            partition_by=snap["partition_by"], snap=snap,
        )
        hits = matched.select(
            F.col("__tx_rel").alias("file"), F.col("__tx_pos").alias("pos")
        ).repartition(1)
        dv_rels, covers, rows_updated = _write_dv(path, hits)
    finally:
        matched.unpersist()
    if rows_updated == 0:
        _drop_files(path, new_rels + dv_rels)
        return {"version": None, "rows_updated": 0, "files_touched": 0}
    [dv_rel] = dv_rels

    def _build(s):
        gone = sorted(set(covers) - set(s["files"]))
        if gone:
            raise TxConflict(
                f"tx_update_where: covered file {gone[0]} was rewritten by a "
                "concurrent commit — row positions are stale; re-run"
            )
        if isolation == "serializable":
            _assert_region_unchanged(snap, s, prune, "update_where")
        # the update's OLD images must not have been re-deleted/changed
        _dv_stable(snap, s, covers)
        return (
            new_rels,
            [],
            {
                "condition": condition if isinstance(condition, str) else str(condition),
                "rows_updated": rows_updated,
                "schema": updated.schema.json(),
            },
        )

    try:
        v = _commit(path, "update", _build, validate_remove_live=False,
                    stats=stats, dv_add={"file": dv_rel, "covers": covers})
    except Exception:
        _drop_files(path, new_rels + dv_rels)
        raise
    return {
        "version": v,
        "rows_updated": rows_updated,
        "files_touched": len(covers),
    }


def tx_restore(path: str, version: int) -> int:
    """Roll the table's LATEST state back to `version` — as a NEW commit,
    so the rollback itself is atomic, audited, and time-travelable (the
    "bad load landed, undo it" lever). No data is copied: the restore
    commit re-adds the old live set (still on disk — `tx_snapshot` raises
    if `version` is already below the vacuum horizon) and removes
    whatever is newer.

    CHECK constraints survive a restore (they are governance state, not
    data) but the restored FILES are re-published verbatim, NOT
    re-validated — a constraint added after `version` may be violated by
    the restored rows. Constraints gate writes; re-validate explicitly
    (``tx_read(...).filter(~expr)``) if restoring across a constraint
    addition matters."""
    old = tx_snapshot(path, version)
    old_stats = old["stats"]

    def _build(snap):
        cur, tgt = set(snap["files"]), set(old["files"])
        if cur == tgt and snap["dvs"] == old["dvs"]:
            return None  # already at that state — nothing to commit
        return (
            sorted(tgt - cur),
            sorted(cur - tgt),
            {
                "restored_to": version,
                "schema": old["schema"],
                # the restored files live under the OLD layout — the
                # snapshot's partition scheme AND deletion-vector map must
                # travel back with them (a file live across the restore
                # reverts to the target version's delete state)
                "partition_by": old["partition_by"] or [],
                "dv_state": old["dvs"],
            },
        )

    return _commit(
        path, "restore", _build, validate_remove_live=True, stats=old_stats
    )


def tx_clone(src: str, dst: str, *, version: int | None = None,
             as_of_ts=None) -> int:
    """Zero-copy SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`,
    public design): `dst` becomes a full transactional table whose first
    commit REFERENCES the source snapshot's data files (`ext<i>:` rels
    resolved through the recorded `bases` roots) instead of copying them.

    Why it matters at 100 TB: branching a petabyte table for an
    experiment, a backfill rehearsal, or a reproducible training-data
    freeze costs ONE KB-scale commit — O(files) rel strings plus the
    source's already-committed stats (no footer reads, no data IO) —
    and the clone is immediately a first-class table:

    * independently writable — appends/deletes/updates/merges land under
      dst's own root and never touch the source;
    * stats/partition pruning, constraints, column mapping, and the
      partition scheme carry over (all snapshot metadata);
    * `tx_compact` MATERIALIZES referenced files locally and retires the
      refs (clone → compact ≡ deep clone, incrementally);
    * vacuum on the clone never deletes source bytes (`_drop_files`
      skips `ext:` refs — the source owns them).

    The covenant, same as Delta's: the clone borrows the SOURCE's files,
    so vacuuming the source below the cloned version breaks the clone —
    deep-copy via `tx_compact` to decouple, or align retention.

    Refuses a source snapshot with live deletion vectors (DV positions
    are recorded in the writer's namespace; `tx_compact` the source
    first) — the same posture as `tx_write_manifest` — and refuses a
    `dst` that already has a log. Cloning a clone composes: the new
    bases list is [src] + src's bases and every ref re-indexes, so
    linear clone chains resolve without touching intermediate tables.

    Returns dst's version (always 0)."""
    if tx_exists(dst):
        raise ValueError(f"tx_clone: {dst} already has a transaction log")
    snap = tx_snapshot(src, version, as_of_ts=as_of_ts)
    live_dvs = {r: d for r, d in (snap.get("dvs") or {}).items()
                if d and r in set(snap["files"])}
    if live_dvs:
        raise ValueError(
            f"tx_clone: {len(live_dvs)} live source file(s) carry "
            "deletion vectors, whose positions are recorded in the "
            "source's namespace — run tx_compact on the source (or "
            "clone an earlier version) first"
        )
    bases = [src] + list(snap.get("bases") or [])

    def _remap(rel: str) -> str:
        m = _EXT_RE.match(rel)
        if m:  # source's own reference: its bases shifted up by one
            return f"ext{int(m.group(1)) + 1}:{m.group(2)}"
        return f"ext0:{rel}"

    add = [_remap(r) for r in snap["files"]]
    stats = {_remap(r): s for r, s in snap["stats"].items() if s}
    meta = {
        "schema": snap["schema"],
        "partition_by": snap["partition_by"] or [],
        "constraints": snap["constraints"],
        "column_map": snap["column_map"],
        "dropped_cols": snap["dropped_cols"],
        "generated": snap.get("generated") or {},
        "bases": bases,
        "source": src,
        "source_version": snap["version"],
    }
    v = _commit(
        dst, "clone", lambda s: (add, [], meta),
        validate_remove_live=False, stats=stats,
    )
    return v


def _dv_positions(
    spark: SparkSession, path: str, snap: dict | None, files: list[str]
) -> DataFrame | None:
    """(file, pos) relation of every DV-deleted row position `snap`
    records for `files`; None when those files carry no DVs."""
    dv_rels = sorted(
        {d for f in files for d in (snap or {}).get("dvs", {}).get(f, [])}
    )
    if not dv_rels:
        return None
    return (
        spark.read.parquet(*_read_uris(path, dv_rels))
        .filter(F.col("file").isin(files))
        .select("file", "pos")
        .distinct()
    )


def _rows_at_positions(
    spark: SparkSession,
    path: str,
    files: list[str],
    layout_snap: dict,
    pos_df: DataFrame,
) -> DataFrame:
    """The table rows at exactly the given (file, row position) pairs —
    a broadcast semi-join against the RAW file contents (positions are
    physical, so DVs must not be applied here)."""
    scan = _read_live(
        spark, path, files, layout_snap, keep_meta=True, apply_dvs=False
    )
    probe = pos_df.select(
        F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
    )
    return (
        scan.join(
            F.broadcast(probe),
            (F.col("__tx_rel") == F.col("__dv_file"))
            & (F.col("__tx_pos") == F.col("__dv_pos")),
            "left_semi",
        )
        .drop("__tx_rel", "__tx_pos")
    )


def _key_resolved_changes(pre: DataFrame, post: DataFrame,
                          keys: list[str], tag) -> list[DataFrame]:
    """Split a merge commit's file-granular (removed, added) row sets
    into minimal row-level changes using the commit's own merge keys:

    * a key present exactly once on BOTH sides whose rows are
      column-identical is a carried-over row (the rewrite copied it
      verbatim) — suppressed entirely;
    * once on both sides and any column differs → one
      `update_preimage` / `update_postimage` pair;
    * pre-only → `delete`; post-only → `insert`;
    * NULL keys and duplicate keys never update-pair (merge's equi-join
      does not match NULLs, and duplicate-key pairing is ambiguous) —
      they degrade to delete + insert, which is always net-correct.

    Cost: a handful of shuffles over the REWRITTEN REGION only (the
    candidate files a merge actually touched), never the table."""
    import functools

    # null-extend both sides to the union of columns (schema evolution
    # mid-merge: the rewritten side may carry columns the old files lack)
    for c in post.columns:
        if c not in pre.columns:
            pre = pre.withColumn(c, F.lit(None).cast(post.schema[c].dataType))
    for c in pre.columns:
        if c not in post.columns:
            post = post.withColumn(c, F.lit(None).cast(pre.schema[c].dataType))
    cols = pre.columns
    post = post.select(*cols)
    nonkeys = [c for c in cols if c not in keys]

    any_key_null = functools.reduce(
        lambda a, b: a | b, [F.col(k).isNull() for k in keys]
    )
    pre_n, pre_k = pre.filter(any_key_null), pre.filter(~any_key_null)
    post_n, post_k = post.filter(any_key_null), post.filter(~any_key_null)

    paired_keys = (
        pre_k.groupBy(*keys).count().filter(F.col("count") == 1)
        .drop("count")
        .join(
            post_k.groupBy(*keys).count().filter(F.col("count") == 1)
            .drop("count"),
            keys,
            "inner",
        )
    )
    # both sides share upstream lineage (paired_keys derives from both),
    # so frame-reference disambiguation trips Spark's ambiguous-self-join
    # check — rename the non-key columns per side instead
    p = pre_k.join(paired_keys, keys, "leftsemi").select(
        *keys, *[F.col(c).alias(f"__pre_{c}") for c in nonkeys]
    )
    q = post_k.join(paired_keys, keys, "leftsemi").select(
        *keys, *[F.col(c).alias(f"__post_{c}") for c in nonkeys]
    )
    row_differs = functools.reduce(
        lambda a, b: a | b,
        [~F.col(f"__pre_{c}").eqNullSafe(F.col(f"__post_{c}"))
         for c in nonkeys],
        F.lit(False),
    )
    pairs = p.join(q, keys).filter(row_differs)

    def _side(prefix: str) -> list:
        return [F.col(k) for k in keys] + [
            F.col(f"{prefix}{c}").alias(c) for c in nonkeys
        ]

    return [
        tag(pairs.select(*_side("__pre_")), "update_preimage"),
        tag(pairs.select(*_side("__post_")), "update_postimage"),
        tag(pre_n.unionByName(pre_k.join(paired_keys, keys, "left_anti")),
            "delete"),
        tag(post_n.unionByName(post_k.join(paired_keys, keys, "left_anti")),
            "insert"),
    ]


def tx_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    *,
    update_images: bool = False,
    skip_row_preserving: bool = False,
) -> DataFrame:
    """File-granular change feed: the table's columns plus
    `_change_type` ('insert' | 'delete') and `_commit_version`, covering
    commits in (from_version, to_version]. Applying each version's
    deletes then inserts transforms the `from_version` snapshot EXACTLY
    into `to_version` — the incremental-consumer contract (downstream
    IVM, search-index refresh, cache invalidation) without storing any
    extra CDC data: immutable files ARE the change log. Blind appends
    yield pure 'insert' batches; rewrite commits (merge/erase/compact/
    replace_where) yield the removed files as 'delete' and the rewritten
    files as 'insert' — a consumer treats them as delete-then-upsert.
    Raises if `from_version` predates the vacuum horizon (the removed
    files would be gone).

    `update_images=True` upgrades the feed to Delta-CDF-style row
    semantics where the log has enough information to prove them:

    * `update` commits (tx_update_where writes the old rows' DV and the
      new images in one commit) emit `update_preimage` /
      `update_postimage` instead of delete / insert — they are the same
      rows by construction;
    * `merge` commits carry their merge keys in the commit record, so
      the removed×added row sets are key-joined into minimal changes
      (`_key_resolved_changes`): carried-over identical rows are
      SUPPRESSED (a merge that rewrote a 128 MB candidate file to
      update 3 rows feeds 3 pairs downstream, not 2×file), changed keys
      pair as update_pre/postimage, one-sided keys stay insert/delete;
    * every other op is unchanged.

    The transform contract holds in both modes: treat update_preimage
    as delete and update_postimage as insert (suppressed pairs were
    byte-identical, so their delete+insert was a no-op).

    `skip_row_preserving=True` omits commits that provably do not change
    the table's LOGICAL rows — compactions (`tx_compact`/`tx_optimize`
    rewrite bytes and materialize already-emitted DV deletes, never rows)
    — Delta's `dataChange=false` CDF behavior. An incremental consumer
    (IVM, index refresh) should always pass True: a compaction of a
    100-file table otherwise feeds 2×table of self-cancelling
    delete+insert pairs downstream."""
    snap = tx_snapshot(path, to_version)  # validates to_version + horizon
    to_v = snap["version"]
    if from_version > to_v:
        raise ValueError(f"from_version {from_version} > to_version {to_v}")
    if from_version < snap["horizon"]:
        raise ValueError(
            f"from_version {from_version} predates the vacuum horizon "
            f"({snap['horizon']}) — removed files are gone"
        )
    schema = (
        StructType.fromJson(json.loads(snap["schema"]))
        if snap["schema"] is not None
        else None
    )
    pieces: list[DataFrame] = []
    prev: dict | None = None
    prev_for: int | None = None
    for v in _usable_log(path)[0]:
        if v <= from_version or v > to_v:
            continue
        rec = _load_rec(path, v)
        if skip_row_preserving and rec.get("op") == "compact":
            # row-preserving by construction: live rows at v == at v-1
            # (removed files contribute only their still-visible rows,
            # which are exactly the rewritten files' rows)
            continue
        if prev_for != v - 1:
            prev = _replay(path, v - 1) if v > 0 else None
        cur = _replay(path, v)

        def _tag(df: DataFrame, kind: str, ver: int = v) -> DataFrame:
            return df.withColumn("_change_type", F.lit(kind)).withColumn(
                "_commit_version", F.lit(ver)
            )

        # file-level changes, read at the LOGICAL state of each side: a
        # removed file contributes only the rows still visible at v-1
        # (its DV'd rows were already emitted as deletes), an added file
        # only the rows visible at v (a restore re-adds files WITH their
        # target-version DVs)
        removed, added = rec.get("remove", []), rec.get("add", [])
        op_ = rec.get("op")
        merge_keys = (rec.get("meta") or {}).get("keys")
        add_kind = dv_kind = None  # defaults applied below
        if update_images and op_ == "update":
            # one commit = old rows' DV + new images: the same rows
            add_kind, dv_kind = "update_postimage", "update_preimage"
        if (update_images and op_ == "merge" and merge_keys
                and removed and added):
            pieces.extend(_key_resolved_changes(
                _read_live(spark, path, removed, prev),
                _read_live(spark, path, added, cur),
                list(merge_keys), _tag,
            ))
        else:
            if removed:
                pieces.append(
                    _tag(_read_live(spark, path, removed, prev), "delete")
                )
            if added:
                pieces.append(
                    _tag(_read_live(spark, path, added, cur),
                         add_kind or "insert")
                )

        # row-level changes on files live across the commit: deletion
        # vectors added (tx_delete_where) emit exactly the newly-deleted
        # rows; a restore that reverts a DV resurrects rows as inserts
        common = sorted(
            set((prev or {}).get("files", [])) & set(cur["files"])
        )
        changed = [
            f
            for f in common
            if (prev or {}).get("dvs", {}).get(f, []) != cur["dvs"].get(f, [])
        ]
        if changed:
            p_pos = _dv_positions(spark, path, prev, changed)
            c_pos = _dv_positions(spark, path, cur, changed)
            newly = backout = None
            if c_pos is not None:  # positions deleted at v but not at v-1
                newly = c_pos if p_pos is None else c_pos.join(
                    p_pos, ["file", "pos"], "left_anti"
                )
            if p_pos is not None:  # positions un-deleted by a restore
                backout = p_pos if c_pos is None else p_pos.join(
                    c_pos, ["file", "pos"], "left_anti"
                )
            if newly is not None:
                pieces.append(
                    _tag(_rows_at_positions(spark, path, changed, cur, newly),
                         dv_kind or "delete")
                )
            if backout is not None:
                pieces.append(
                    _tag(_rows_at_positions(spark, path, changed, cur, backout),
                         "insert")
                )
        prev = cur
        prev_for = v
    if not pieces:
        if schema is None:
            raise ValueError(f"{path}: empty change range with no logged schema")
        empty = spark.createDataFrame([], schema)
        return (
            empty.withColumn("_change_type", F.lit("x"))
            .withColumn("_commit_version", F.lit(0))
            .limit(0)
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def tx_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    predicate: list[tuple] | None = None,
    *,
    as_of_ts=None,
) -> DataFrame:
    """Snapshot-isolated read (optionally of a past version, or of the
    version current as of a wall-clock instant — `as_of_ts` takes epoch
    seconds, a datetime, or an ISO-8601 string and resolves through
    `tx_version_at`, Delta's TIMESTAMP AS OF). The file
    list is resolved ONCE from the log — never a directory listing, so
    removed-but-unvacuumed files are invisible and concurrent commits
    can't change this scan. mergeSchema keeps late-added columns; an empty
    snapshot still has the logged schema.

    `predicate=[(col, op, value), ...]` (conjunctive, ops {=, <, <=, >,
    >=, in, is_null, not_null} — `in` takes a list whose NULL members
    are stripped (IN's 3VL: a NULL member is never TRUE); is_null /
    not_null ignore the value slot and prove from exact footer null
    counts) both PRUNES files via the committed min/max stats (tx_prune)
    and applies the same conditions as row filters, so the result is
    exactly the filtered table — stats only decide which files are
    opened. Note:
    a predicate that prunes EVERY file returns the last writer's logged
    schema, which on a schema-evolved table may lack columns only older
    files carry (the unpruned read's mergeSchema union would have them)."""
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("tx_read: pass version OR as_of_ts, not both")
        version = tx_version_at(path, as_of_ts)
    snap = tx_snapshot(path, version)
    files = snap["files"]
    if predicate:
        files, _ = tx_prune(path, predicate, version)
    if not files:
        if snap["schema"] is None:
            raise ValueError(f"{path}: empty table with no logged schema")
        out = spark.createDataFrame(
            [], StructType.fromJson(json.loads(snap["schema"]))
        )
    else:
        out = _read_live(spark, path, files, snap)
    for col, op, value in predicate or []:
        # raw value, not F.lit: "in" takes a list, is_null/not_null none;
        # Column comparisons lift plain Python literals themselves
        out = out.filter(_OPS[op](F.col(col), value))
    return out


def tx_optimize(
    spark: SparkSession,
    path: str,
    *,
    target_files: int | None = None,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    dv_threshold: float = 0.05,
    small_file_factor: int = 4,
    small_file_bytes: int | None = None,
    refresh_manifest: bool = True,
) -> dict:
    """One maintenance entry point — the OPTIMIZE a table operator runs
    on a schedule, acting on the same signals `doctor` reports instead of
    unconditionally rewriting:

    * compacts when the logically-deleted fraction reaches
      `dv_threshold` (materializes deletion vectors back to zero — the
      read-side anti-join debt), when the live file count exceeds
      `small_file_factor × target_files` (small-file pressure), or when
      a clustering key is given (`sort_by`/`zorder_by` — layout is the
      point, see `tx_compact`);
    * refreshes `_manifest/files.txt` if one was exported and the table
      changed (external readers keep seeing a committed generation);
    * otherwise does nothing — a no-op run costs one KB-scale log replay
      plus the DV stat read, never a data scan.

    `target_files=None` defaults to the current Spark default
    parallelism (one task-sized file per core at this deployment's
    width). Returns {"compacted": version|None, "dv_stats": ...,
    "manifest": path|None, "reason": str}."""
    if target_files is None:
        target_files = max(1, spark.sparkContext.defaultParallelism)
    stats = tx_dv_stats(path, recommend_at=dv_threshold)
    reasons = []
    if stats["recommend_compact"]:
        reasons.append(
            f"dv debt {stats['deleted_pct']:.1%} >= {dv_threshold:.0%}"
        )
    if stats["files_total"] > small_file_factor * target_files:
        reasons.append(
            f"{stats['files_total']} files > {small_file_factor}x"
            f" target {target_files}"
        )
    if small_file_bytes:
        # byte-exact small-file pressure from the commit-recorded
        # add-file sizes (Delta OPTIMIZE's minFileSize signal) — opt-in
        # because "small" is deployment-relative (128<<20 is a sane
        # production floor; local dev files are always small). Size-less
        # legacy adds don't count — the signal only ever under-fires.
        sz = tx_snapshot(path)["stats"]
        n_small = sum(
            1 for s in sz.values()
            if (s or {}).get("bytes") and s["bytes"] < small_file_bytes
        )
        if n_small > target_files:
            reasons.append(
                f"{n_small} file(s) under {small_file_bytes}B"
            )
    if sort_by or zorder_by:
        reasons.append("re-cluster requested")
    v = None
    if reasons:
        v = tx_compact(
            spark, path, target_files=target_files,
            sort_by=sort_by, zorder_by=zorder_by,
        )
    manifest = None
    if refresh_manifest and get_data_store(path).exists(
        path, "_manifest/files.txt"
    ):
        # below-threshold DVs block a manifest export (tx_write_manifest
        # refuses — external readers can't anti-join); leave the existing
        # manifest at its older-but-consistent generation rather than fail
        if v is not None or not tx_snapshot(path).get("dvs"):
            manifest = tx_write_manifest(path)
        else:
            reasons.append("manifest left at prior generation (live DVs)")
    return {
        "compacted": v,
        "dv_stats": stats,
        "manifest": manifest,
        "reason": "; ".join(reasons) or "healthy — nothing to do",
    }


def zorder_key(df, cols: list[str], *, bits: int = 8):
    """Morton (Z-order) interleave of `cols`, each first bucketed into
    2^bits equal-width bins between its global min and max.

    Returns (df_with_bounds, key_column): the per-column min/max come from
    ONE aggregate whose scalar results parameterize `width_bucket` — the
    same one-extra-pass cost `repartitionByRange`'s sampler already pays.
    Bit interleaving is a pure integer expression (JVM codegen, no UDF):
    z = Σ_j Σ_b bit_b(bucket_j) << (b·|cols| + j), so nearby values in ANY
    of the columns land in nearby z — the property that makes per-file
    min/max stats narrow in every dimension at once. Nulls bucket to 0.

    Column types: numeric columns bucket directly; date/timestamp columns
    are converted to epoch numbers (days / seconds) before bucketing; any
    other type raises a descriptive TypeError up front rather than a
    confusing float() failure mid-plan.
    """
    num_expr: dict[str, str] = {}
    for c in cols:
        dtype = df.schema[c].dataType
        if isinstance(dtype, NumericType):
            num_expr[c] = f"CAST({c} AS DOUBLE)"
        elif isinstance(dtype, TimestampType):
            num_expr[c] = f"CAST(unix_timestamp({c}) AS DOUBLE)"
        elif isinstance(dtype, DateType):
            num_expr[c] = f"CAST(datediff({c}, DATE'1970-01-01') AS DOUBLE)"
        else:
            raise TypeError(
                f"zorder_key: column {c!r} has unsupported type "
                f"{dtype.simpleString()} — z-order clustering needs a numeric "
                "or temporal axis (strings have no equal-width binning)"
            )

    # bounds are computed on the SAME numeric projection the bucketing
    # expression uses, so temporal columns never round-trip through Python
    # datetime (whose local-timezone interpretation could shift them)
    aggs = []
    for c in cols:
        e = F.expr(num_expr[c])
        aggs += [F.min(e).alias(f"__min_{c}"), F.max(e).alias(f"__max_{c}")]
    bounds = df.agg(*aggs).first()  # scalar-only driver fetch (tiny)
    n_bins = 1 << bits
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        lo, hi = bounds[f"__min_{c}"], bounds[f"__max_{c}"]
        if lo is None or hi is None or hi == lo:
            continue  # constant/all-null column contributes no bits
        bucket = (
            F.least(
                F.lit(n_bins - 1),
                F.greatest(
                    F.lit(0),
                    F.expr(
                        f"CAST(width_bucket({num_expr[c]}, {lo}D, "
                        f"{hi}D, {n_bins}) AS INT) - 1"
                    ),
                ),
            )
        )
        bucket = F.coalesce(bucket, F.lit(0))
        for b in range(bits):
            z = z + (F.shiftright(bucket, b).bitwiseAND(F.lit(1)).cast("long") * F.lit(1 << (b * len(cols) + j)).cast("long"))
    return df.withColumn("__z", z), "__z"


def tx_compact(
    spark: SparkSession,
    path: str,
    *,
    target_files: int = 1,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> int | None:
    """Rewrite the live file set down to `target_files` and swap it in ONE
    atomic commit. Readers of older snapshots keep their (still-on-disk)
    files; `TxConflict` if a concurrent commit replaced any input file
    first. Returns the new version, or None if already compact.

    `sort_by` / `zorder_by` RE-CLUSTER during the rewrite (Delta's
    OPTIMIZE ... ZORDER BY): range-partition + sort-within-file on the
    key (or its Morton interleave, `zorder_key`),
    so the per-file min/max recorded in the compaction commit become
    narrow and disjoint — this is what gives `tx_read(predicate=...)` /
    `tx_prune` / `tx_merge` / `tx_erase_keys` their file-skipping power
    on the transactional format; appends arrive unclustered and periodic
    clustered compaction restores skippability. With a clustering key the
    rewrite runs even when the file COUNT is already at target (the
    layout, not the count, is the point) — likewise when any live file
    carries DELETION VECTORS (the rewrite is what materializes them back
    to zero) or is an EXTERNAL clone reference (`ext:` rel — the rewrite
    is what copies the bytes home and decouples the clone from its
    source's vacuum), so neither is ever "already compact"."""
    snap = tx_snapshot(path)
    recluster = bool(sort_by or zorder_by)
    has_dvs = any(snap["dvs"].get(f) for f in snap["files"])
    has_ext = any(_EXT_RE.match(f) for f in snap["files"])
    if (
        len(snap["files"]) <= max(target_files, 1)
        and not recluster
        and not has_dvs
        and not has_ext
    ):
        return None
    if not snap["files"]:
        return None
    df = _read_live(spark, path, snap["files"], snap)
    n = max(target_files, 1)
    pby = snap["partition_by"]
    if zorder_by:
        zdf, zkey = zorder_key(df, zorder_by)
        df = (
            zdf.repartitionByRange(n, zkey)
            .sortWithinPartitions(*(pby or []), zkey)
            .drop(zkey)
        )
    elif sort_by:
        df = df.repartitionByRange(n, *sort_by).sortWithinPartitions(
            *(pby or []), *sort_by
        )
    elif pby:
        # one task per hash(partition values) → one output file per live
        # partition value (n caps concurrent tasks, not the file count)
        df = df.repartition(n, *pby)
    else:
        df = df.repartition(n)
    rels, stats = _write_new_files(df, path, partition_by=pby, snap=snap)

    def _build_cp(s):
        _dv_stable(snap, s, snap["files"])
        return (
            rels,
            snap["files"],
            {
                "n_before": len(snap["files"]),
                **({"clustered_by": sort_by or zorder_by} if recluster else {}),
            },
        )

    try:
        return _commit(path, "compact", _build_cp, stats=stats)
    except TxConflict:
        _drop_files(path, rels)  # never referenced — clean up, then surface
        raise


def tx_erase_keys(
    spark: SparkSession, path: str, column: str, values: list
) -> dict:
    """Transactional right-to-be-forgotten: rewrite ONLY the live files
    that contain an erase key, commit (add survivors, remove candidates)
    atomically. NULL keys are never erase targets (the list is stripped of
    None — a NULL member in `isin` makes the keep filter NULL for every
    non-matching row, a full wipe). An erasure that empties the table
    keeps its schema via the log. NOTE: erased rows remain readable via
    time travel until `tx_vacuum` passes the erasure version — for GDPR,
    erase THEN vacuum with a horizon past it.

    Returns {"version", "files_rewritten", "rows_removed"}.
    """
    had_values = bool(values)
    values = [v for v in values if v is not None]
    if not values:
        if had_values:
            raise ValueError(
                "tx_erase_keys: erase list contains only None "
                "(NULL is never an erase target)"
            )
        return {"version": None, "files_rewritten": 0, "rows_removed": 0}

    snap = tx_snapshot(path)
    if not snap["files"]:
        return {"version": None, "files_rewritten": 0, "rows_removed": 0}
    # stats pruning first: only files whose [min,max] admits SOME erase key
    # are scanned for hits — with a sorted/z-ordered layout the erasure
    # touches a handful of files instead of the table
    plausible = [
        f
        for f in snap["files"]
        if not all(_skip_file(snap, f, column, "=", v) for v in values)
    ]
    if not plausible:
        return {"version": None, "files_rewritten": 0, "rows_removed": 0}
    live = _read_live(spark, path, plausible, snap, keep_meta=True)
    # one LOGICAL scan finds the candidate files AND exact per-file hit
    # counts (__tx_rel: scan-time log-relative path, join-safe)
    hits = (
        live.filter(F.col(column).isin(values))
        .groupBy("__tx_rel")
        .count()
        .collect()
    )
    if not hits:
        return {"version": None, "files_rewritten": 0, "rows_removed": 0}
    candidates = [row["__tx_rel"] for row in hits]
    rows_removed = sum(r["count"] for r in hits)

    cand_df = _read_live(spark, path, candidates, snap)
    keep = F.col(column).isNull() | ~F.col(column).isin(values)
    survivors = cand_df.filter(keep)
    rels, stats = _write_new_files(
        survivors, path, partition_by=snap["partition_by"], snap=snap
    )
    def _build_er(s):
        _dv_stable(snap, s, candidates)
        return (rels, candidates, {"column": column, "n_values": len(values)})

    try:
        version = _commit(path, "erase", _build_er, stats=stats)
    except TxConflict:
        _drop_files(path, rels)
        raise
    return {
        "version": version,
        "files_rewritten": len(candidates),
        "rows_removed": int(rows_removed),
    }


def tx_write_manifest(path: str, version: int | None = None) -> str:
    """Export the snapshot's live file list for EXTERNAL engines — the
    transactional answer to "just glob the directory", which reads
    removed-but-unvacuumed files (time-travel history) and staged DV
    parquets as data. This is Delta's `GENERATE symlink_format_manifest`
    pattern (public design; Presto/Trino/Athena read Delta through it):
    one absolute data-file path per line at
    `<table>/_manifest/files.txt`, swapped in atomically, so DuckDB
    (`read_parquet([...])`), Trino, or any parquet reader consumes
    exactly one committed generation — hive partition values still parse
    from the paths.

    Tables with DELETION VECTORS refuse to export: a manifest reader has
    no anti-join, so it would resurrect the DV'd rows — run `tx_compact`
    (materializes deletes) first; the error says so. Regenerate after
    every commit you want externally visible (the manifest is a
    snapshot, not a live view). Returns the manifest's location (the
    lines are the DataStore's external-reader URIs)."""
    snap = tx_snapshot(path, version)
    live_dvs = {r: d for r, d in (snap.get("dvs") or {}).items()
                if d and r in set(snap["files"])}
    if live_dvs:
        raise ValueError(
            f"tx_write_manifest: {len(live_dvs)} live file(s) carry "
            "deletion vectors — an external reader would resurrect the "
            "deleted rows; run tx_compact to materialize them first"
        )
    store = get_data_store(path)
    payload = "".join(
        uri + "\n"
        for uri in _read_uris(path, snap["files"], snap.get("bases"))
    )
    return store.put_atomic(path, "_manifest/files.txt", payload)


def tx_dv_stats(path: str, *, recommend_at: float = 0.05) -> dict:
    """Deletion-vector health report — the observability half of the
    merge-on-read bargain. DVs make DELETE/UPDATE cheap (no rewrites),
    but every accumulated position is a row the read-side broadcast
    anti-join must filter on EVERY scan; this reports how much of that
    debt a table carries so an operator can see when `tx_compact` (which
    materializes DVs back to zero) is worth its rewrite cost.

    Returns `{files_total, files_with_dvs, rows_physical, rows_deleted,
    deleted_pct, dv_files, worst_files: [(rel, deleted, rows)],
    recommend_compact}` — `recommend_compact` trips when the logically-
    deleted fraction reaches `recommend_at` (default 5%). Metadata-only:
    footer row counts from the log's stats, DV positions from the
    KB-to-MB-scale DV parquets, read driver-side."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    snap = tx_snapshot(path)
    dv_map: dict[str, list[str]] = snap.get("dvs") or {}
    stats = snap.get("stats") or {}
    rows_physical = sum(
        (stats.get(f) or {}).get("rows") or 0 for f in snap["files"]
    )
    dv_rels = sorted({d for rels in dv_map.values() for d in rels})
    # one read per DV parquet (they are small by design); counts keyed by
    # covered file, restricted to each file's OWN listed DVs so a stale
    # association can never inflate the report
    store = get_data_store(path)
    per_dv: dict[str, dict[str, int]] = {}
    for d in dv_rels:
        with store.open_input(path, d) as f:
            t = pq.read_table(f, columns=["file"])
        counts: dict[str, int] = {}
        for row in pc.value_counts(t.column("file")).to_pylist():
            counts[row["values"]] = row["counts"]
        per_dv[d] = counts
    per_file = {
        rel: sum(per_dv[d].get(rel, 0) for d in rels)
        for rel, rels in dv_map.items()
        if rel in set(snap["files"])
    }
    rows_deleted = sum(per_file.values())
    deleted_pct = rows_deleted / rows_physical if rows_physical else 0.0
    worst = sorted(per_file.items(), key=lambda kv: -kv[1])[:5]
    return {
        "files_total": len(snap["files"]),
        "files_with_dvs": len(per_file),
        "rows_physical": rows_physical,
        "rows_deleted": rows_deleted,
        "deleted_pct": round(deleted_pct, 4),
        "dv_files": len(dv_rels),
        "worst_files": [
            (rel, n, (stats.get(rel) or {}).get("rows")) for rel, n in worst
        ],
        "recommend_compact": deleted_pct >= recommend_at,
    }


def _vacuum_plan(
    path: str, snap: dict, retain_versions: int, include_orphans: bool,
    retain_hours: float | None = None,
) -> tuple[int, list[str], list[str]]:
    """Derive (horizon, deletable files, orphans) for a vacuum of `snap` —
    shared by the real vacuum's commit closure and the dry run.
    `retain_hours` is a SAFETY bound on top of `retain_versions`: the
    horizon never advances past the oldest commit still inside the time
    window, so versions a consumer (time traveler, lagging CDC stream)
    may still need within the window stay readable — Delta's
    RETAIN n HOURS semantics."""
    latest = snap["version"]
    horizon = max(snap["horizon"], latest - max(retain_versions, 1) + 1)
    # file -> version removed (absent = still live at latest)
    commits, checkpoints = _usable_log(path)
    if retain_hours is not None and horizon > snap["horizon"]:
        cutoff = time.time() - retain_hours * 3600.0
        inside = [
            v for v in commits
            if (_load_rec(path, v).get("ts") or 0) >= cutoff
        ]
        if inside:
            # every version >= the oldest in-window commit stays readable
            horizon = max(snap["horizon"], min(horizon, inside[0]))
    removed_at: dict[str, int] = {}
    referenced: set[str] = set()
    dv_covers: dict[str, list[str]] = {}  # dv rel -> covered data rels
    # After log retention (`tx_cleanup_log`) the commits that ADDED
    # still-live old files may be gone — seed `referenced` (and the DV
    # cover map) from the OLDEST surviving checkpoint, which folds
    # everything the deleted prefix contributed. Without this, an
    # include_orphans vacuum after cleanup would sweep LIVE files it can
    # no longer see an `add` for.
    if checkpoints:
        cp = _load_checkpoint(path, checkpoints[0])
        referenced.update(cp["files"])
        for data_rel, dv_rels in cp.get("dvs", {}).items():
            referenced.update(dv_rels)
            for d in dv_rels:
                dv_covers.setdefault(d, []).append(data_rel)
    for v in commits:
        rec = _load_rec(path, v)
        for f in rec.get("add", []):
            referenced.add(f)
            removed_at.pop(f, None)  # re-add after remove (restore)
        for f in rec.get("remove", []):
            removed_at[f] = rec["version"]
        dv = rec.get("dv_add")
        if dv:
            referenced.add(dv["file"])
            dv_covers[dv["file"]] = dv["covers"]
    # live at some version v ≥ horizon ⇔ removed_at > horizon (or
    # never): a file removed AT commit r is last visible in r-1.
    deletable = sorted(f for f, r in removed_at.items() if r <= horizon)
    # a DV dies with its covered data files: deletable only when EVERY
    # covered file's last visible version is below the horizon (a live
    # or recently-removed cover keeps the DV readable for time travel)
    deletable += sorted(
        d
        for d, covers in dv_covers.items()
        if all(removed_at.get(c, 1 << 62) <= horizon for c in covers)
    )
    orphans: list[str] = []
    if include_orphans:
        on_disk = set(get_data_store(path).list_files(path))
        orphans = sorted(on_disk - referenced)
    return horizon, deletable, orphans


def tx_vacuum(
    path: str, *, retain_versions: int = 1, include_orphans: bool = False,
    dry_run: bool = False, retain_hours: float | None = None,
    spark: SparkSession | None = None,
) -> dict:
    """Physically delete data files no version ≥ the retention horizon can
    reference. `retain_versions=k` keeps the latest k versions readable
    (time travel below the horizon then fails LOUDLY — the horizon is
    itself a commit, so the refusal is transactional and survives
    restarts). `include_orphans` additionally sweeps on-disk part files
    the log never referenced (strandings from crashed writers — only safe
    when no write is in flight, same covenant as Delta's VACUUM retention).

    `dry_run=True` reports what WOULD happen — the would-be horizon and
    the exact file list — without committing a horizon advance or
    deleting anything (Delta's VACUUM DRY RUN): vacuum is the format's
    one irreversible operation, so operators get a look before the leap.

    `retain_hours` caps how far the horizon may advance: versions whose
    commits are younger than the window stay readable regardless of
    `retain_versions` (Delta's RETAIN n HOURS safety bound for time
    travelers and lagging change-feed consumers).

    Pass `spark=` to fan the physical deletes out over executors past
    `_DROP_DISTRIBUTED_MIN` files — at 100 TB a vacuum retires millions
    of objects, and a serial driver loop pays one remote RTT per file.

    Returns {"version", "horizon", "deleted": [...]} ("version" None and
    "deleted" the would-be list under dry_run).
    """
    if not tx_exists(path):
        raise ValueError(f"no transaction log at {path}")
    if dry_run:
        horizon, deletable, orphans = _vacuum_plan(
            path, tx_snapshot(path), retain_versions, include_orphans,
            retain_hours,
        )
        return {
            "version": None, "horizon": horizon,
            "deleted": deletable + orphans, "dry_run": True,
        }
    # horizon AND the deletable set are computed INSIDE the build closure,
    # from the retry's fresh snapshot: if a concurrent vacuum with a HIGHER
    # horizon wins the commit race, this retry re-derives
    # max(their_horizon, ours) instead of committing a stale lower horizon
    # that would re-admit versions whose files the winner already deleted
    state: dict = {}

    def _build(snap):
        horizon, deletable, orphans = _vacuum_plan(
            path, snap, retain_versions, include_orphans, retain_hours
        )
        state.update(horizon=horizon, deletable=deletable, orphans=orphans)
        return ([], [], {"horizon": horizon, "n_deleted": len(deletable)})

    version = _commit(path, "vacuum", _build, validate_remove_live=False)
    horizon, deletable, orphans = (
        state["horizon"], state["deletable"], state["orphans"]
    )
    # delete AFTER the horizon commit: a reader that resolves a pre-horizon
    # snapshot from here on fails at resolution, not mid-scan. With
    # `spark`, large delete sets fan out over executors
    # (_DROP_DISTRIBUTED_MIN) — a million-file vacuum must not pay a
    # million serial driver RTTs (Delta VACUUMs with a Spark job too).
    _drop_files(path, deletable + orphans, spark=spark)
    if include_orphans:
        # crashed writers also strand whole staging areas (df.write
        # completed but the publish loop never ran) — same
        # no-writes-in-flight covenant as the orphan sweep
        get_data_store(path).sweep_stages(path)
    return {"version": version, "horizon": horizon, "deleted": deletable + orphans}


def tx_cleanup_log(path: str, *, dry_run: bool = False) -> dict:
    """Log retention: delete commit/checkpoint JSONs that no reader can
    ever need again, bounding `_txn_log`'s LIST cost (paid on EVERY
    snapshot resolution) at millions of commits — the same mechanism as
    Delta's log retention (Armbrust et al. VLDB 2020 §3.3: metadata
    cleanup past the checkpoint + retention window).

    The floor is the newest checkpoint at-or-below the VACUUM horizon:
    * every readable version v ≥ horizon replays from a checkpoint ≤ v,
      and the floor checkpoint satisfies that for v = horizon, so only
      commits STRICTLY below the floor (and older checkpoints) go;
    * the change feed / streaming source reject from_version < horizon
      already, so no CDC range can reach a deleted entry;
    * the horizon only exists as a committed vacuum, which physically
      deleted every pre-horizon data file before returning — the deleted
      commits' file references point at bytes that are already gone.
    A table never vacuumed (horizon 0) or with no checkpoint at-or-below
    the horizon has nothing safely deletable — returns an empty plan
    rather than guessing.

    Honors the time-travel covenant: versions in [horizon, latest] read
    identically before and after cleanup. `tx_history` afterwards starts
    at the floor (the audit trail below it is intentionally gone).

    Returns {"floor", "horizon", "deleted_commits": n, "deleted_checkpoints": n}
    (counts are the would-be deletions under dry_run)."""
    snap = tx_snapshot(path)  # raises if no log
    horizon = snap["horizon"]
    commits, checkpoints = _list_log(path)
    floors = [c for c in checkpoints if c <= horizon]
    out = {
        "floor": None, "horizon": horizon,
        "deleted_commits": 0, "deleted_checkpoints": 0,
        "deleted_sidecars": 0,
        "dry_run": dry_run,
    }
    if horizon <= 0 or not floors:
        return out
    floor = floors[-1]
    dead_commits = [v for v in commits if v < floor]
    dead_checkpoints = [c for c in checkpoints if c < floor]
    store = get_log_store(path)
    log_dir = _log_dir(path)
    # sidecar parts: a part born below the floor may still be REFERENCED
    # by a surviving manifest (delta chains cross checkpoints), so the
    # keep-set is the union of surviving manifests' sidecar lists —
    # footer-only reads. Parts born at-or-above the floor are never
    # touched (they may belong to an in-flight checkpoint write).
    referenced: set[str] = set()
    for c in checkpoints:
        if c < floor:
            continue
        try:
            referenced |= set(_checkpoint_state(path, c).get("sidecars") or [])
        except (OSError, KeyError, json.JSONDecodeError, ValueError):
            pass  # json-era manifest: no sidecars to protect
    dead_sidecars = [
        n for n in store.list(log_dir)
        if (m := _SIDECAR_RE.match(n))
        and int(m.group(1)) < floor
        and n not in referenced
    ]
    out.update(
        floor=floor,
        deleted_commits=len(dead_commits),
        deleted_checkpoints=len(dead_checkpoints),
        deleted_sidecars=len(dead_sidecars),
    )
    if dry_run:
        return out
    # checkpoints first: if cleanup dies midway, surviving commits above
    # a deleted checkpoint still replay from the floor checkpoint, and a
    # deleted commit below a surviving checkpoint is never loaded — any
    # partial state remains readable and re-cleanable
    for c in dead_checkpoints:
        store.delete(log_dir, _checkpoint_name(c, "parquet"))
        store.delete(log_dir, _checkpoint_name(c))  # json-era spelling
    for v in dead_commits:
        store.delete(log_dir, _commit_name(v))
    for n in dead_sidecars:
        store.delete(log_dir, n)
    return out


def tx_merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    **merge_kwargs,
) -> dict:
    """MERGE `source` into the txlog table: same clause semantics as
    `operators.merge.merge_into` (update/delete/insert/
    not-matched-by-source), but executed the way Delta executes MERGE —
    rewrite ONLY the live files that can contain a matched key, in one
    atomic commit:

    1. stats-prune: files whose [min,max] on the (single, numeric) merge
       key excludes the source's key range are untouched without opening;
    2. one semi-join scan of the remaining files finds those with ≥1 hit
       (grouped by the scan-time relpath — the exact candidate set);
    3. merge_into runs over candidates ∪ source; unmatched source rows
       insert into the rewritten output; non-candidate files are reused
       verbatim (they provably hold no matched key);
    4. commit(add=new files, remove=candidates) — TxConflict if a
       concurrent commit replaced a candidate first.

    `when_not_matched_by_source_delete` forces every live file into the
    candidate set (the clause may delete rows anywhere). A merge into an
    absent/empty table degenerates to a guarded first write (insert-only),
    honoring `check_duplicate_source_keys` like later merges.

    Isolation: write-serializable against REPLACING writers — a concurrent
    compact/erase/merge that rewrote a candidate file raises TxConflict.
    A concurrent blind APPEND whose new rows carry matched keys is NOT
    detected (the append's files postdate this merge's snapshot), exactly
    Delta's WriteSerializable level; serialize merges against appends of
    overlapping keys at the application layer if full serializability is
    required.

    `txn=(app, batch)` makes the merge IDEMPOTENT per (app, batch) — the
    semantics Delta exposes as the `txnAppId`/`txnVersion` write options:
    a replayed merge whose batch id the log already folded is a no-op
    (version None) and its staged files are dropped. `null_safe_keys=True`
    (forwarded to `merge_into`) matches keys with `<=>`; candidate
    detection then joins null-safe too, and the min/max stats prune stands
    down when the source carries NULL keys (a NULL key matches no
    [min,max] range, but may match target rows in any file).

    Returns {"version", "files_rewritten", "files_skipped"}.
    """
    from .merge import _guard_duplicate_keys, merge_into

    reserved = {"__tx_rel", "__tx_pos"}
    bad = sorted(reserved.intersection(keys) | reserved.intersection(source.columns))
    if bad:
        # candidate detection carries the scan-time relpath/position under
        # these names; a same-named key would corrupt the semi-join
        raise ValueError(f"tx_merge: reserved column name in input: {bad}")
    check_dups = merge_kwargs.get("check_duplicate_source_keys", True)
    if not tx_exists(path) or not tx_snapshot(path)["files"]:
        wnmi = merge_kwargs.get("when_not_matched_insert", True)
        if wnmi is False:
            return {"version": None, "files_rewritten": 0, "files_skipped": 0}
        if isinstance(wnmi, Column):
            # conditional insert against an absent table: every source row
            # is NOT MATCHED, so apply the condition directly. It may only
            # reference source columns (as __src_<col>) — target columns
            # do not exist yet.
            renamed = source.select(
                *[F.col(c).alias(f"__src_{c}") for c in source.columns]
            )
            source = renamed.filter(wnmi).select(
                *[F.col(f"__src_{c}").alias(c) for c in source.columns]
            )
        first = _guard_duplicate_keys(source, keys) if check_dups else source
        snap0 = _replay(path)
        pby0 = _resolve_partition_by(snap0, partition_by, "merge")
        rels, stats = _write_new_files(
            _with_constraint_guard(first, snap0), path, partition_by=pby0,
            snap=snap0,
        )
        meta0: dict = {"schema": _evolved_schema_json(snap0, first)}
        if pby0:
            meta0["partition_by"] = pby0
        v = _commit(
            path,
            "merge",
            lambda s: (rels, [], meta0),
            validate_remove_live=False,
            stats=stats,
            txn=txn,
        )
        if v is None:
            _drop_files(path, rels)  # duplicate delivery — never referenced
        return {"version": v, "files_rewritten": 0, "files_skipped": 0}

    snap = tx_snapshot(path)
    live_files = snap["files"]
    pby = _resolve_partition_by(snap, partition_by, "merge")

    null_safe = bool(merge_kwargs.get("null_safe_keys"))
    if merge_kwargs.get("when_not_matched_by_source_delete") is not None:
        candidates = list(live_files)
    else:
        plausible = live_files
        if len(keys) == 1:
            aggs = [F.min(keys[0]).alias("mn"), F.max(keys[0]).alias("mx")]
            if null_safe:
                aggs.append(
                    F.count_if(F.col(keys[0]).isNull()).alias("nulls")
                )
            b = source.agg(*aggs).first()
            has_null_keys = null_safe and b["nulls"] > 0
            if b["mn"] is None:
                # empty source, or all keys NULL: under `=` semantics NULL
                # matches nothing; under <=> a NULL key can match rows in
                # ANY file (stats ranges never bound NULLs)
                plausible = live_files if has_null_keys else []
            elif not has_null_keys:
                plausible = [
                    f
                    for f in live_files
                    if not (
                        _skip_file(snap, f, keys[0], ">=", b["mn"])
                        or _skip_file(snap, f, keys[0], "<=", b["mx"])
                    )
                ]
        candidates = []
        if plausible:
            # __tx_rel (the _metadata-derived relpath) is captured AT
            # SCAN TIME, so it survives the join boundary
            probe = source.select(*keys).distinct()
            live = _read_live(spark, path, plausible, snap, keep_meta=True)
            if null_safe:
                probe = probe.select(
                    *[F.col(k).alias(f"__mrg_k_{k}") for k in keys]
                )
                cond = None
                for k in keys:
                    term = F.col(k).eqNullSafe(F.col(f"__mrg_k_{k}"))
                    cond = term if cond is None else cond & term
                hit = live.join(probe, cond, "leftsemi")
            else:
                hit = live.join(probe, keys, "leftsemi")
            hit_rows = hit.groupBy("__tx_rel").count().collect()
            candidates = sorted(row["__tx_rel"] for row in hit_rows)

    if candidates:
        target = _read_live(spark, path, candidates, snap)
    else:
        if snap["schema"] is None:
            raise ValueError(f"{path}: table has no logged schema")
        target = spark.createDataFrame(
            [], StructType.fromJson(json.loads(snap["schema"]))
        )
    # a merge source carrying only base columns gains its generated
    # columns up front (when_not_matched_insert requires every target
    # column; inserted rows must carry derived values like any append)
    source = _derive_generated(source, snap)
    merged = merge_into(target, source, keys, **merge_kwargs)
    merged = _regen_generated(merged, snap, skip=keys)
    rels, stats = _write_new_files(
        _with_constraint_guard(merged, snap), path, partition_by=pby,
        snap=snap,
    )

    def _build_mg(s):
        _dv_stable(snap, s, candidates)
        return (rels, candidates,
                {"keys": list(keys), "schema": _evolved_schema_json(s, merged)})

    try:
        v = _commit(path, "merge", _build_mg, stats=stats, txn=txn)
    except TxConflict:
        _drop_files(path, rels)
        raise
    if v is None:
        _drop_files(path, rels)  # duplicate delivery — never referenced
        return {"version": None, "files_rewritten": 0,
                "files_skipped": len(live_files)}
    return {
        "version": v,
        "files_rewritten": len(candidates),
        "files_skipped": len(live_files) - len(candidates),
    }


def tx_stream_sink(path: str, app: str, partition_by: list[str] | None = None):
    """Exactly-once Structured Streaming sink: use as
    ``writeStream.foreachBatch(tx_stream_sink(table, "my-query"))``.
    Each micro-batch appends under the idempotence token `(app,
    batch_id)`; a batch REPLAYED after a sink-side crash (foreachBatch is
    at-least-once) finds its id already folded into the snapshot's txn
    map and commits nothing — the Delta `txn`-action design. Tokens are
    high-watermark per app (batch ids are monotonic within a streaming
    query), survive restarts via the log, and fold into checkpoints so
    the lookup stays O(tail)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        tx_append(
            batch_df, path, txn=(app, int(batch_id)), partition_by=partition_by
        )

    return _sink
