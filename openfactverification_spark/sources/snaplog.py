"""SnapLog: a from-scratch snapshot-log table format over immutable parquet.

Why this exists: the production target (BASELINE.json north_star) is an
Iceberg `transcripts` table — `days(ts), bucket(conv_id)` partitioning,
snapshot-id lineage, `overwritePartitions` sink commits — but no Iceberg
runtime jar can enter this container (CATALOG.md logs every attempted
avenue: no bundled jar, no ivy/m2 cache, no DNS/egress, no pip). Rather
than leave the catalog semantics permanently simulated, this module
implements the log-structured core of such a format from scratch, following
the publicly documented design shared by Iceberg's spec and Delta's
transaction log: a table is an immutable pile of data files plus an
append-only log of snapshots, and a commit is ONE atomic small-file
operation.

Layout::

    table/
      data/<commit-uuid>/[_p_p=v/...]part-*.parquet   immutable; one dir per commit
      _snaplog/v{N}.json                              snapshot N (the log)

A snapshot JSON carries the FULL live-file listing (path, partition tuple,
size), the parent snapshot id, the logical schema, and an operation summary.
Readers never list data directories: they resolve the newest ``v{N}.json``
(or any pinned snapshot id — time travel) and hand Spark the explicit file
list, so

  * partition pruning happens at the MANIFEST level — a partition filter
    drops files before Spark opens a single footer (Iceberg's
    manifest-pruning benefit, which plain Hive-layout listing can't give on
    an object store where LIST is the slow call);
  * a crash between data-file write and manifest commit leaves orphan files
    and the PREVIOUS snapshot live — never a partial table (write-ahead
    ordering: data first, log last);
  * concurrent writers race on ``create(v{N+1}.json, overwrite=false)``;
    exactly one wins, the loser re-reads the new head and retries with its
    still-valid immutable data files (optimistic concurrency, the same
    protocol Iceberg runs against its catalog pointer).

Operations: ``append``, ``overwrite_partitions`` (replaces exactly the
partitions present in the incoming frame — the idempotent sink commit the
north rule's resume depends on), ``read`` (latest / by snapshot id / by
version, with manifest-level partition pruning), ``history``, ``rollback``
(a NEW snapshot pointing at an old file set — the log stays append-only),
and ``expire_snapshots`` (physically deletes files unreachable from the
retained log suffix).

Partition values live in the data files AND in the manifest, as in the
Iceberg spec (source columns in the files, the partition tuple in the
manifest): a partitioned write is ``partitionBy`` over COPIES of the
partition columns (``_p_<col>``), so the directory names give the manifest
its partition tuple once, at commit time, while every file keeps the logical
columns, typed by the file itself. This is format version 2; a partitioned
version-1 table (values only in the directory names) is refused rather than
read as nulls, and unpartitioned version-1 files are the same bytes as
version-2 files, so they still read.

Read plan size: every snapshot, partitioned or not, reads as ONE parquet
relation over its live file list, whatever its commit count. Partition
pruning is manifest-level; to Spark the partition columns are data columns,
so a predicate on them is a data filter (each file holds one value, so
row-group statistics skip the others), not a PartitionFilter.

Scale notes (10^12-turn table): the log is O(days x files-per-day) small
JSON on the driver-side control plane — the data plane stays entirely in
executors. Snapshot JSONs carry full listings, so resolving a snapshot is
one small read (no log replay as in Delta); at petabyte file counts the
next step is Iceberg's split of listing into reusable manifest files, which
changes the constant, not the protocol. All I/O goes through the Hadoop
FileSystem API, so ``file://``, ``hdfs://`` and ``s3a://`` behave alike
(on S3A, ``create(overwrite=false)`` maps to a conditional PUT under
recent Hadoop; older stacks would commit through a catalog service).

Reference tie-in: the reference pipeline persists run artifacts by
overwriting whole JSON result files (/root/reference/factcheck/__init__.py:131
``save_to_file`` / webservice ``api_*.json``); SnapLog is that persistence
recast as a table format with atomic, versioned, partition-granular commits.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import posixpath
import threading
import uuid
from typing import Callable
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import local_frame

LOG_DIR = "_snaplog"
DATA_DIR = "data"
FORMAT_VERSION = 2
# partitionBy key prefix for the copies of the partition columns (v2 layout)
_PART_PREFIX = "_p_"
_COMMIT_RETRIES = 10
_LISTING_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
_LISTING_LOCK = threading.Lock()
# Schemes with no atomic namespace rename: publish via create(overwrite=false)
# — a conditional PUT — instead of tmp+rename (see create_exclusive).
_OBJECT_STORE_SCHEMES = frozenset(
    {"s3a", "s3", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos"}
)


class CommitConflict(RuntimeError):
    """All optimistic-commit retries lost the race for the next version."""


def _publish_strategy(scheme: str) -> str:
    """How create_exclusive publishes the log entry for a filesystem scheme:
    'link' (POSIX hard-link, atomic no-overwrite), 'put' (direct
    create(overwrite=false) = conditional PUT — object stores have no atomic
    rename), or 'rename' (HDFS-style atomic namespace rename)."""
    if scheme == "file":
        return "link"
    if scheme in _OBJECT_STORE_SCHEMES:
        return "put"
    return "rename"


class _Fs:
    """Thin Hadoop FileSystem wrapper for every driver-side metadata file
    (the snapshot log): driver-local open() would break on hdfs:// / s3a://
    roots."""

    def __init__(self, spark: SparkSession, root: str):
        jvm = spark._jvm
        self._jvm = jvm
        self.path_cls = jvm.org.apache.hadoop.fs.Path
        self.root = root.rstrip("/")
        self._root_path = self.path_cls(self.root)
        self.fs = self._root_path.getFileSystem(spark._jsc.hadoopConfiguration())

    def path(self, *segments: str) -> "object":
        return self.path_cls(posixpath.join(self.root, *segments))

    def exists(self, p) -> bool:
        return self.fs.exists(p)

    def read_json(self, p) -> dict:
        stream = self.fs.open(p)
        try:
            raw = self._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return json.loads(bytes(raw).decode("utf-8"))

    def create_exclusive(self, p, payload: dict) -> bool:
        """Atomic create-no-overwrite; False when another writer won the race.

        The payload is fully written to a TEMP name first and then published
        whole, so a crash or I/O error mid-payload leaves only an ignorable
        ``.tmp`` file — never a truncated ``v{N}.json`` that every later read
        would choke on. The publish step must BOTH be atomic and
        refuse an existing destination (POSIX rename(2) silently REPLACES the
        destination — publishing via plain rename would let a race loser
        overwrite the winner's committed head):

        * ``file://`` — hard-link the tmp into place (``link(2)`` fails with
          EEXIST atomically; the one POSIX primitive with exactly these
          semantics), then unlink the tmp;
        * object stores (s3a/s3/gs/abfs/...) — write the payload DIRECTLY via
          ``create(p, overwrite=false)``: on these there is no atomic rename
          (S3A rename is a non-atomic copy) and exists()+rename is
          check-then-act, so two racing committers could both publish and one
          would silently overwrite the other's head. ``create(overwrite=false)``
          maps to a conditional PUT (the object materializes whole at close,
          so no torn state is readable on a real object store);
        * other filesystems (HDFS etc.) — rename-without-overwrite, which is
          an atomic namespace operation there, behind an exists() recheck."""
        if self.fs.exists(p):
            # non-authoritative fast path: skip serializing the full file
            # listing to a doomed tmp when the slot is visibly taken (the
            # link/rename below stays the real arbiter)
            return False
        body = bytearray(json.dumps(payload).encode("utf-8"))
        strategy = _publish_strategy(self.fs.getUri().getScheme())
        if strategy == "put":
            try:
                out = self.fs.create(p, False)  # conditional PUT
            except Exception as e:
                if "FileAlreadyExists" in str(e) or self.fs.exists(p):
                    return False
                raise
            try:
                out.write(body)
            finally:
                out.close()
            return True
        tmp = self.path_cls(
            p.getParent(), f".{p.getName()}.{uuid.uuid4().hex[:8]}.tmp"
        )
        out = self.fs.create(tmp, False)
        try:
            out.write(body)
        finally:
            out.close()
        if strategy == "link":
            jvm = self._jvm
            try:
                # java.io.File(...).toPath() because Paths.get is varargs,
                # which py4j cannot dispatch
                jvm.java.nio.file.Files.createLink(
                    jvm.java.io.File(p.toUri().getPath()).toPath(),
                    jvm.java.io.File(tmp.toUri().getPath()).toPath(),
                )
            except Exception as e:  # FileAlreadyExistsException = lost race
                self.fs.delete(tmp, False)
                if "FileAlreadyExists" in str(e) or self.fs.exists(p):
                    return False
                raise
            self.fs.delete(tmp, False)
            return True
        if self.fs.exists(p) or not self.fs.rename(tmp, p):
            self.fs.delete(tmp, False)
            return False
        return True

    def list_names(self, p) -> list[str]:
        if not self.fs.exists(p):
            return []
        return [s.getPath().getName() for s in self.fs.listStatus(p)]

    def list_files_recursive(self, p) -> list[tuple[str, int]]:
        """[(path-relative-to-table-root, bytes)] for every file under p."""
        out: list[tuple[str, int]] = []
        if not self.fs.exists(p):
            return out
        it = self.fs.listFiles(p, True)
        prefix = self.fs.makeQualified(self._root_path).toString().rstrip("/") + "/"
        while it.hasNext():
            status = it.next()
            full = status.getPath().toString()
            rel = full[len(prefix):] if full.startswith(prefix) else full
            out.append((rel, int(status.getLen())))
        return out

    def delete(self, p, recursive: bool) -> bool:
        return bool(self.fs.delete(p, recursive))


def _snapshot_id(parent: str | None, files: list[dict]) -> str:
    """Deterministic content-derived id: committing the same file set on the
    same parent from two racing retries yields the same id (and a different
    one the moment lineage differs)."""
    h = hashlib.sha256()
    h.update((parent or "root").encode())
    for f in sorted(e["path"] for e in files):
        h.update(f.encode())
        h.update(b"\x00")
    return h.hexdigest()[:16]


def _hive_value(value: object, dtype: "T.DataType | None") -> str:
    """A filter value -> the hive directory-name string Spark's partitionBy
    writer produced for it, typed by the table schema. str(True) is 'True'
    but the writer emits 'true'; without this a Python bool filter silently
    pruned every file."""
    if value is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(dtype, T.BooleanType) or isinstance(value, bool):
        if isinstance(value, str):
            return value.lower()
        return "true" if value else "false"
    return str(value)  # date/datetime/int/str: str() is the hive form


def _parse_partition(rel_path: str, partition_cols: list[str]) -> dict[str, str]:
    """Hive-style `_p_col=value` segments of a data-file path -> {col: value}."""
    vals: dict[str, str] = {}
    for seg in rel_path.split("/"):
        k, eq, v = seg.partition("=")
        col = k[len(_PART_PREFIX):]
        if eq and k.startswith(_PART_PREFIX) and col in partition_cols:
            vals[col] = unquote(v)
    return vals


def _pkey(f: dict) -> tuple:
    """A file entry's partition tuple as a hashable key."""
    return tuple(sorted(f["partition"].items()))


def _outside(touched: set) -> "Callable[[list[dict]], list[dict]]":
    """``surviving`` for a commit that replaces the ``touched`` partitions."""
    return lambda files: [f for f in files if _pkey(f) not in touched]


def _check_format(snap: dict, table: str) -> None:
    """Refuse a partitioned v1 snapshot: its files hold no partition values,
    so the v2 read would give nulls and a v2 commit would mix layouts."""
    if snap["partition_cols"] and snap.get("format_version", 1) < 2:
        raise ValueError(
            f"SnapLog table {table} is partitioned format_version "
            f"{snap.get('format_version', 1)}; this reader needs {FORMAT_VERSION}"
        )


def _versions(fs: _Fs) -> list[int]:
    out = []
    for name in fs.list_names(fs.path(LOG_DIR)):
        if name.startswith("v") and name.endswith(".json"):
            try:
                out.append(int(name[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _load_snapshot(fs: _Fs, version: int) -> dict:
    return fs.read_json(fs.path(LOG_DIR, f"v{version}.json"))


def _is_not_found(e: Exception) -> bool:
    """True when a Hadoop read failed because the file vanished between the
    directory LIST and the open() — the signature of a concurrent
    expire_snapshots sweeping an old log entry. Py4J wraps the Java
    exception, so classification is by exception class name."""
    je = getattr(e, "java_exception", None)
    text = str(je) if je is not None else str(e)
    return "FileNotFoundException" in text or "PathNotFoundException" in text


def _load_snapshot_or_debris(fs: _Fs, version: int) -> dict | None:
    """One log entry -> committed snapshot dict, or None when the entry is
    unreadable for one of exactly two TOLERABLE reasons: torn debris from a
    crashed writer (unparseable JSON — committed snapshots publish whole via
    link/create-exclusive, so a partial body cannot be a committed state) or
    vanished mid-read (a concurrent expire deleted it after we listed it).
    Any OTHER exception — transient IO error, permission failure — re-raises:
    treating those as "skip to an older snapshot" would let _commit build the
    next version against a stale parent and silently drop the true head's
    files (a lost update), so they must fail the operation instead."""
    try:
        return _load_snapshot(fs, version)
    except ValueError:  # json.JSONDecodeError subclasses ValueError
        return None
    except Exception as e:
        if _is_not_found(e):
            return None
        raise


def _snapshots(fs: _Fs, vs: list[int]):
    """Lazily yield the committed snapshots among versions ``vs``, newest
    first — the one log walk. An unparseable log file can only be a crashed
    writer's torn debris (committed snapshots publish
    whole via link/rename in create_exclusive): it is SKIPPED, never renamed
    or deleted — the next commit claims the next version number ABOVE it
    (``vs[-1] + 1`` counts the torn slot), so the debris is inert dead weight
    in the log. Skipping is the only race-free recovery: any destructive
    quarantine is check-then-act against peers re-using the slot and can
    delete a committed head; a skip cannot destroy anything. A file that
    vanishes mid-read (concurrent expire) is treated the same as torn; any
    other read error re-raises (see _load_snapshot_or_debris — falling back
    to an older snapshot on a transient IO error inside _commit would be a
    silent lost update)."""
    for v in reversed(vs):
        snap = _load_snapshot_or_debris(fs, v)
        if snap is not None:
            yield snap


def _head(fs: _Fs) -> tuple[dict | None, list[int]]:
    """(newest committed snapshot, full version list)."""
    vs = _versions(fs)
    return next(_snapshots(fs, vs), None), vs


def _find(snaps, snapshot_id: str) -> dict:
    """The snapshot with ``snapshot_id`` among ``snaps`` (a _snapshots walk)."""
    for s in snaps:
        if s["snapshot_id"] == snapshot_id:
            return s
    raise ValueError(f"unknown snapshot_id {snapshot_id}")


def current_snapshot(spark: SparkSession, table: str) -> dict | None:
    """The newest committed snapshot (None for a not-yet-created table)."""
    fs = _Fs(spark, table)
    return _head(fs)[0]


def current_snapshot_id(spark: SparkSession, table: str) -> str | None:
    snap = current_snapshot(spark, table)
    return snap["snapshot_id"] if snap else None


def history(spark: SparkSession, table: str) -> list[dict]:
    """All committed snapshots, oldest first: (version, snapshot_id,
    parent_id, operation, summary) — the audit trail resume lineage points
    into. Torn debris files (crashed writers) are skipped, matching _head."""
    fs = _Fs(spark, table)
    keys = ("version", "snapshot_id", "parent_id", "operation", "summary")
    return [{k: s[k] for k in keys} for s in reversed(list(_snapshots(fs, _versions(fs))))]


def snapshots_newest_first(spark: SparkSession, table: str):
    """Lazily yield committed snapshots newest-first, skipping torn debris —
    the O(1)-reads-in-the-common-case walk for callers that usually only need
    the head (e.g. the streaming ingest-dedup pre-epoch pin)."""
    fs = _Fs(spark, table)
    yield from _snapshots(fs, _versions(fs))


def _write_data_files(df: DataFrame, fs: _Fs, partition_cols: list[str]) -> list[dict]:
    """Write df's rows as immutable parquet under a fresh commit dir; return
    the file entries. The directories are keyed by copies of the partition
    columns, so the logical columns stay in every file; the manifest's
    partition tuples are read back from the directory names — one recursive
    LIST of the just-written commit dir, no extra Spark job."""
    commit = uuid.uuid4().hex[:12]
    copies = [_PART_PREFIX + c for c in partition_cols]
    for c, copy in zip(partition_cols, copies):
        df = df.withColumn(copy, F.col(c))
    df.write.mode("error").partitionBy(*copies).parquet(
        posixpath.join(fs.root, DATA_DIR, commit)
    )
    entries = []
    for rel, nbytes in fs.list_files_recursive(fs.path(DATA_DIR, commit)):
        name = posixpath.basename(rel)
        if not name.endswith(".parquet"):
            continue  # _SUCCESS and friends
        entries.append(
            {
                "path": rel,
                "bytes": nbytes,
                "partition": _parse_partition(rel, partition_cols),
            }
        )
    return entries


def _commit(
    fs: _Fs,
    *,
    operation: str,
    new_files: list[dict],
    schema_for: "Callable[[dict | None], str]",
    partition_cols: list[str],
    surviving: "callable",
    op_summary: dict | None = None,
    summary_extra: "dict | Callable[[], dict] | None" = None,
    require_parent: str | None = None,
) -> dict:
    """Optimistic-concurrency commit loop: read head, build the next snapshot,
    atomically create v{N+1}.json; on loss re-read and retry (the new data
    files stay valid — only the listing is rebuilt against the new head).
    ``schema_for(head)`` gives the new snapshot's schema JSON from the head
    each attempt builds on, so a retry re-evolves against a concurrent
    writer's schema instead of dropping its columns. ``op_summary`` holds
    the operation's own summary fields; the caller's ``summary_extra`` may
    be a zero-arg callable, resolved once here — after the data write, so it
    can read an ``Observation`` filled by that write.
    ``require_parent`` pins the commit to a specific head snapshot: if any
    other commit lands first, raise instead of retrying — needed by
    operations (compaction) whose surviving-file computation was derived
    from that exact head and would silently drop a concurrent writer's
    files if replayed against a newer one."""
    extra = summary_extra() if callable(summary_extra) else summary_extra
    for _ in range(_COMMIT_RETRIES):
        head, vs = _head(fs)
        if require_parent is not None and (
            head is None or head["snapshot_id"] != require_parent
        ):
            raise CommitConflict(
                f"head moved past required parent {require_parent} on {fs.root}"
            )
        if head is not None and head["partition_cols"] != partition_cols:
            raise ValueError(
                f"partition spec mismatch: table has {head['partition_cols']}, "
                f"commit supplies {partition_cols}"
            )
        if head is not None:
            _check_format(head, fs.root)
        base = surviving(head["files"] if head else [])
        files = base + new_files
        snap = {
            "format_version": FORMAT_VERSION,
            "version": (vs[-1] + 1) if vs else 1,
            "snapshot_id": _snapshot_id(head["snapshot_id"] if head else None, files),
            "parent_id": head["snapshot_id"] if head else None,
            "operation": operation,
            "partition_cols": partition_cols,
            "schema": schema_for(head),
            "files": files,
            "summary": {
                "added_files": len(new_files),
                "removed_files": len((head["files"] if head else [])) - len(base),
                "total_files": len(files),
                "total_bytes": sum(f["bytes"] for f in files),
                **(op_summary or {}),
                **(extra or {}),
            },
        }
        if fs.create_exclusive(fs.path(LOG_DIR, f"v{snap['version']}.json"), snap):
            return snap
    raise CommitConflict(f"lost {_COMMIT_RETRIES} commit races on {fs.root}")


def _logical_schema(df: DataFrame) -> str:
    return df.schema.json()


def _evolved_schema(head: dict | None, df: DataFrame) -> str:
    """Additive schema evolution at the MANIFEST level (the Iceberg-spec
    model: schema lives in table metadata, data files stay immutable).

    Rules: new columns append to the logical schema as nullable; existing
    columns keep their position and type (a type change raises — that's a
    rewrite, not an append); a frame MISSING existing columns does not drop
    them — its files simply lack the column, and the explicit-schema parquet
    read null-fills it (pinned by test). So every snapshot's schema is a
    superset of all earlier ones and old snapshots stay time-travelable with
    their own schema."""
    if head is None:
        return _logical_schema(df)
    old = T.StructType.fromJson(json.loads(head["schema"]))
    by_name = {f.name: f for f in old.fields}
    fields = list(old.fields)
    for f in df.schema.fields:
        have = by_name.get(f.name)
        if have is None:
            fields.append(T.StructField(f.name, f.dataType, True))
        elif have.dataType != f.dataType:
            raise ValueError(
                f"type change for column {f.name}: {have.dataType.simpleString()}"
                f" -> {f.dataType.simpleString()} (evolution is additive;"
                " changing a type is a table rewrite)"
            )
    return T.StructType(fields).json()


def _data_schema(df: DataFrame, partition_cols: list[str]) -> None:
    missing = [c for c in partition_cols if c not in df.columns]
    if missing:
        raise ValueError(f"partition columns absent from frame: {missing}")


def append(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    partition_cols: list[str] | None = None,
    summary_extra: "dict | Callable[[], dict] | None" = None,
) -> dict:
    """Append df as a new snapshot (parent files + new files). First append
    creates the table and fixes its partition spec. ``summary_extra`` (a
    dict, or a zero-arg callable resolved after the data write) lands in the
    snapshot summary — e.g. a streaming sink's batch id or a resumable
    epoch's entry, which makes the log itself the transaction table."""
    partition_cols = list(partition_cols or [])
    _data_schema(df, partition_cols)
    fs = _Fs(spark, table)
    head = current_snapshot(spark, table)
    if head is not None:
        _check_format(head, fs.root)
        partition_cols = head["partition_cols"]
    new_files = _write_data_files(df, fs, partition_cols)
    return _commit(
        fs,
        operation="append",
        new_files=new_files,
        schema_for=lambda h: _evolved_schema(h, df),
        partition_cols=partition_cols,
        surviving=lambda files: list(files),
        summary_extra=summary_extra,
    )


class CommitOnce:
    """Exactly-once appends keyed by an id in the snapshot summary: the log
    itself is the transaction table (the txn-id pattern transactional-sink
    connectors use). ``append(table, df, id_)`` commits ``df`` with
    ``{key: id_}`` in its summary unless ``table`` already committed ``id_``
    under ``key`` — so an at-least-once replay (foreachBatch after a crash)
    becomes a metadata no-op.

    Committed ids are loaded from the log ONCE per table per instance and
    kept in memory after each append, so a healthy stream never re-scans the
    log; a fresh instance (stream restart) reloads it, so skips survive the
    process. expire_snapshots drops old ids with their log entries, so the
    retained suffix must cover the replay horizon."""

    def __init__(self, spark: SparkSession, key: str):
        self._spark = spark
        self._key = key
        self._ids: dict[str, set] = {}

    def committed(self, table: str, id_) -> bool:
        if table not in self._ids:
            self._ids[table] = {
                h["summary"][self._key]
                for h in history(self._spark, table)
                if self._key in h["summary"]
            }
        return id_ in self._ids[table]

    def append(
        self, table: str, df: DataFrame, id_, partition_cols: list[str] | None = None
    ) -> dict | None:
        """The new snapshot, or None when ``id_`` was already committed."""
        if self.committed(table, id_):
            return None
        snap = append(
            self._spark, table, df, partition_cols, summary_extra={self._key: id_}
        )
        self._ids[table].add(id_)
        return snap


def overwrite_partitions(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    summary_extra: "dict | Callable[[], dict] | None" = None,
) -> dict:
    """Dynamic partition overwrite: replace exactly the partitions PRESENT in
    df, leave every other partition untouched — the Iceberg
    ``writeTo(t).overwritePartitions()`` semantics the north star names, as
    one atomic snapshot (readers see old-everything or new-everything, never
    a half-swapped day). Idempotent: re-running the same commit after a crash
    converges to the same live file set. ``summary_extra`` is as in
    ``append``."""
    head = current_snapshot(spark, table)
    if head is None:
        raise ValueError(f"overwrite_partitions on non-existent table {table}")
    partition_cols = head["partition_cols"]
    if not partition_cols:
        raise ValueError("table is unpartitioned; use append/overwrite")
    _data_schema(df, partition_cols)
    fs = _Fs(spark, table)
    _check_format(head, fs.root)
    new_files = _write_data_files(df, fs, partition_cols)
    touched = {_pkey(f) for f in new_files}
    return _commit(
        fs,
        operation="overwrite_partitions",
        new_files=new_files,
        schema_for=lambda h: _evolved_schema(h, df),
        partition_cols=partition_cols,
        surviving=_outside(touched),
        op_summary={"replaced_partitions": len(touched)},
        summary_extra=summary_extra,
    )


def rollback(spark: SparkSession, table: str, snapshot_id: str) -> dict:
    """Make an OLD snapshot's file set current again via a NEW snapshot (the
    log stays append-only; nothing is deleted, so the rolled-back-over state
    remains time-travelable until expire_snapshots)."""
    fs = _Fs(spark, table)
    target = _find(_snapshots(fs, _versions(fs)), snapshot_id)
    return _commit(
        fs,
        operation="rollback",
        new_files=[],
        schema_for=lambda _h: target["schema"],
        partition_cols=target["partition_cols"],
        surviving=lambda _files: list(target["files"]),
        op_summary={"rolled_back_to": snapshot_id},
    )


def _resolve(fs: _Fs, snapshot_id: str | None, version: int | None) -> dict:
    vs = _versions(fs)
    if version is not None:
        if version not in vs:
            raise ValueError(f"unknown version {version}")
        snap = next(_snapshots(fs, [version]), None)
        if snap is None:
            raise ValueError(
                f"version {version} is torn debris from a crashed writer, "
                "not a committed snapshot"
            )
        return snap
    snaps = _snapshots(fs, vs)
    head = next(snaps, None)
    if head is None:
        raise ValueError(f"no snapshots at {fs.root}")
    if snapshot_id is None or snapshot_id == head["snapshot_id"]:
        return head  # the common pin (a replay-safe read of the head)
    return _find(snaps, snapshot_id)


def read(
    spark: SparkSession,
    table: str,
    snapshot_id: str | None = None,
    version: int | None = None,
    partition_filter: dict[str, object] | None = None,
) -> DataFrame:
    """Read a snapshot (latest by default; pin ``snapshot_id``/``version`` for
    time travel) as a DataFrame with the table's full logical schema.

    ``partition_filter`` maps partition column -> value or collection of
    values and prunes at the MANIFEST: filtered-out files are never given to
    Spark (verifiable via ``df.inputFiles()``). Each value is normalized to
    the hive-encoded string the writer produced, typed by the table schema's
    partition column (bool -> ``true``/``false``, None -> the hive default
    partition, date/int/str via their canonical str form), so Python-typed
    filters behave naturally.

    Plan shape (see _frame_for_files): one parquet relation over the
    snapshot's (pruned) file list, partitioned or not."""
    fs = _Fs(spark, table)
    snap = _resolve(fs, snapshot_id, version)
    files = snap["files"]
    if partition_filter:
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        dtypes = {f.name: f.dataType for f in schema.fields}
        norm: dict[str, set[str]] = {}
        for col, wanted in partition_filter.items():
            if col not in snap["partition_cols"]:
                raise ValueError(f"{col} is not a partition column of {table}")
            if isinstance(wanted, (str, bytes)) or not hasattr(wanted, "__iter__"):
                wanted = [wanted]
            norm[col] = {_hive_value(w, dtypes.get(col)) for w in wanted}
        files = [
            f
            for f in files
            if all(f["partition"].get(c) in vs for c, vs in norm.items())
        ]

    return _frame_for_files(spark, fs, snap, files)


def _frame_for_files(spark: SparkSession, fs: _Fs, snap: dict, files: list[dict]) -> DataFrame:
    """A subset of ``snap``'s files -> ONE parquet relation with the snapshot's
    logical schema, whatever the commit count (Iceberg plans a snapshot's file
    list as one scan the same way), so a table that takes a commit per
    micro-batch or epoch costs its readers the same plan, listing and task
    set at commit 100 as at commit 1. Snapshot isolation: only the listed
    files enter the file index. The partition columns are read from the files
    themselves (Spark infers no partition columns from named files), and the
    explicit schema null-fills columns a file lacks (additive schema
    evolution)."""
    _check_format(snap, fs.root)
    schema = T.StructType.fromJson(json.loads(snap["schema"]))
    if not files:
        return local_frame(spark, [], schema)
    paths = [posixpath.join(fs.root, f["path"]) for f in files]
    with _listing_without_job(spark, len(paths)):
        return spark.read.schema(schema).parquet(*paths)


@contextlib.contextmanager
def _listing_without_job(spark: SparkSession, n_paths: int):
    """Let Spark stat ``n_paths`` explicit files in the calling process. The
    manifest is the listing, so Spark's only work on a read is one status
    call per named file; past its parallel-discovery threshold (32 paths by
    default) it runs that as a Spark job with one task per file instead (40 files, a
    4-core VM at local[4]: a 0.55 s job against a 0.1 s read). The
    relation's file index is built when ``.parquet()`` returns, so the
    setting is restored at once. The lock keeps concurrent reads from
    restoring each other's raised value."""
    conf = spark.conf
    with _LISTING_LOCK:
        old = conf.get(_LISTING_THRESHOLD)
        conf.set(_LISTING_THRESHOLD, str(max(n_paths, int(old))))
        try:
            yield
        finally:
            conf.set(_LISTING_THRESHOLD, old)


def compact(spark: SparkSession, table: str, min_files: int = 2) -> dict | None:
    """Small-file compaction as a snapshot: rewrite every partition holding
    >= min_files files into one file, committed as a single atomic
    ``rewrite`` snapshot (same rows, fewer files — streaming appends and
    per-epoch commits accrete small files; readers of the head see the old
    layout or the new one, never a mix, and the pre-compaction state stays
    time-travelable until expire_snapshots). Untouched partitions keep their
    existing immutable files. Returns the new snapshot, or None if nothing
    qualified.

    Scale shape: the rewrite reads only the affected partitions' files and
    repartitions BY the partition columns, so each output partition is
    produced by one task writing one file — compaction work is proportional
    to the small-file data, not the table. An unpartitioned table is one
    partition: once it holds >= min_files files they become one file."""
    head = current_snapshot(spark, table)
    if head is None:
        raise ValueError(f"compact on non-existent table {table}")
    pcols = head["partition_cols"]

    groups: dict[tuple, list[dict]] = {}
    for f in head["files"]:
        groups.setdefault(_pkey(f), []).append(f)
    todo = {k: v for k, v in groups.items() if len(v) >= min_files}
    if not todo:
        return None

    fs = _Fs(spark, table)
    victims = [f for fl in todo.values() for f in fl]
    df = _frame_for_files(spark, fs, head, victims)
    # one task per output partition, so one file each; an unpartitioned table
    # is one partition, read by one task without a shuffle
    if pcols:
        df = df.repartition(*[F.col(c) for c in pcols])
    else:
        df = df.coalesce(1)
    new_files = _write_data_files(df, fs, pcols)
    return _commit(
        fs,
        operation="rewrite",
        new_files=new_files,
        schema_for=lambda _h: head["schema"],
        partition_cols=pcols,
        surviving=_outside(set(todo)),
        op_summary={
            "compacted_partitions": len(todo),
            "compacted_files_in": len(victims),
        },
        require_parent=head["snapshot_id"],
    )


def expire_snapshots(spark: SparkSession, table: str, keep_last: int = 1) -> dict:
    """Physically delete data files unreachable from the newest ``keep_last``
    snapshots and drop the expired log entries — the GC half of the format
    (Iceberg ``expireSnapshots`` / Delta ``VACUUM``). Only paths named by
    expired manifests are touched, and only within this table's root."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs = _Fs(spark, table)
    # The keep window counts COMMITTED (parseable) snapshots only. Counting
    # raw version numbers would let torn debris occupy keep slots: with
    # committed v1 and a crashed writer's torn v2 at the log tail,
    # keep_last=1 would keep only the debris (which names no files), delete
    # v1's data files and log entry, and destroy the table. Debris is
    # classified exactly as every read path does (the _snapshots walk).
    vs = _versions(fs)
    committed = list(_snapshots(fs, vs))[::-1]  # oldest first
    debris = sorted(set(vs) - {snap["version"] for snap in committed})
    keep, drop = committed[-keep_last:], committed[:-keep_last]
    live: set[str] = set()
    for snap in keep:
        live.update(f["path"] for f in snap["files"])
    removed_files = 0
    for snap in drop:
        for f in snap["files"]:
            if f["path"] not in live:
                if fs.delete(fs.path(f["path"]), False):
                    removed_files += 1
                live.add(f["path"])  # only attempt each path once
        fs.delete(fs.path(LOG_DIR, f"v{snap['version']}.json"), False)
    # Debris log files are swept only when they sit strictly BELOW the oldest
    # kept committed version: a torn slot above it could be a peer writer
    # mid-publish on a filesystem where the payload materializes before the
    # exclusive-create wins (and deleting it would be check-then-act against
    # that peer); a torn slot below the kept range can never be claimed again
    # (_commit always allocates above vs[-1]) so it is safely dead.
    oldest_kept = keep[0]["version"] if keep else None
    swept_debris = 0
    for v in debris:
        if oldest_kept is not None and v < oldest_kept:
            if fs.delete(fs.path(LOG_DIR, f"v{v}.json"), False):
                swept_debris += 1
    return {
        "expired_snapshots": len(drop),
        "deleted_files": removed_files,
        "swept_debris": swept_debris,
    }


def is_snaplog_table(spark: SparkSession, target: str) -> bool:
    """True when ``target`` holds a snapshot log. An I/O error propagates: a
    False here sends callers down the plain-parquet path."""
    fs = _Fs(spark, target)
    return fs.exists(fs.path(LOG_DIR))
