"""Versioned parquet table store with atomic promotion.

The reference double-buffers its hash caches — read from
``{name}_hashes_0``, write ``{name}_hashes_1``, promote on success
(/root/reference/src/table.py:108-117, download.py:572-581) — so a
failed run never corrupts the read side. ``TableStore`` generalizes
that into the one way any table changes (``_new_version``): every
mutation fills a fresh ``v{N}`` directory and a tiny ``_CURRENT``
pointer file is swapped only after the fill completes. Readers always
resolve ``_CURRENT`` first, so a crashed writer leaves the previous
version intact, and a DataFrame read before a mutation keeps
collecting the rows it saw: no version is modified after promotion.

One version kind serves every table shape:

- ``write`` — the whole table, optionally ``partition_by`` columns;
- ``append`` — the new rows plus hard links to every data file of the
  parent version (changelogs, tombstone logs);
- ``overwrite_partitions`` — the rewritten partitions plus hard links
  to the parent's other partitions;
- ``link`` — hard links to another table's current version;
- ``write_empty`` — a schema and zero rows, no Spark job.

Unchanged files enter a version as hard links: a second name for the
same bytes, which outlives the garbage collection of the version it
came from. The cost is one ``os.link`` per file a version carries over
(O(files); 2,000 links take ~32 ms on a 4-core VM). So that an
append does not pay for every file of a long history, it rewrites the
history's smaller files into a few once they outnumber its own writes
many times (``append``). A version stays a plain directory of parquet
files (not a manifest naming files elsewhere), so any parquet reader —
pyarrow included — reads it as the table's rows. GC keeps the current
version and the one before it (the double-buffer window that
``read(version=N)`` can time-travel to); ``drop`` removes them all.

Versions are self-describing: each holds a ``_SCHEMA`` file (the Spark
schema as JSON: data columns, then partition columns, each at its
written type) written before the pointer moves, so ``read`` hands
Spark the schema instead of letting it infer one — inference runs a
Spark job per read, and over an appended history it would need
``mergeSchema``. Spark and pyarrow both skip ``_``-prefixed files.
Versions without it (written before it existed) are read by
inference; the older layouts that mutated a partitioned or appended
directory in place have no reader.

In production this store is exactly what Delta/Iceberg provide
(atomic commit log + snapshots); the engine's operators are pure
DataFrame functions, so swapping this class for ``spark.table`` /
``MERGE INTO`` changes no query logic.

Concurrency contract — SINGLE WRITER PER TABLE, enforced: the
promote-on-success scheme is crash-safe for one writer, but two
concurrent writers could interleave version-pick → write → promote
and publish a pointer to a half-written directory. Every mutating
operation (every new version, drops, bucketed rotations) therefore
takes a per-table lock file (``_LOCK``, created O_EXCL with
pid + timestamp + host); a second writer fails LOUDLY with
``ConcurrentWriteError`` instead of corrupting ``_CURRENT``. The lock
is re-entrant WITHIN a ``TableStore`` instance, and multi-step
maintenance sequences (e.g. an IVF index's read → stats → rewrite)
hold it across all their steps via the public ``locked()`` context
manager.

Stale locks left by crashed writers are broken only when the holder
is provably or plausibly gone:

- same host, pid dead → broken immediately;
- same host, pid ALIVE → never broken, regardless of age (a
  legitimate multi-hour Spark write keeps its lock);
- different host (or liveness otherwise unverifiable) → broken when
  the lock file's mtime is older than ``lock_stale_after``. The
  mtime, not the creation timestamp, is the expiry clock so a
  long-running cross-host holder can keep its lock alive by
  periodically touching the file (``heartbeat()``).

Breaking is race-safe — the breaker renames the examined lock aside
and proceeds only if it moved that very inode, restoring a fresh one
without replacing (``_try_break_stale``) — and a release removes the
lock only if it still holds the token its holder wrote (``locked``).

Readers never lock: they resolve the pointer, which only ever moves
atomically between complete versions. Multi-writer coordination
beyond this (queues, retries, cross-table transactions) is exactly
where to escalate to Delta/Iceberg — their commit protocol is this
lock generalized (optimistic CAS on a log), see SURVEY §7.2.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import socket
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SCHEMA_FILE = "_SCHEMA"
# ``append`` folds the smaller half of its parent's files into the new
# version, rather than linking them, once the parent holds more than
# FOLD_RATIO times the files the append wrote and more than
# FOLD_MIN_FILES. Carrying a data file into a version (link, later
# unlink, its .crc twin) costs ~40-60 µs; folding it costs ~8-12 ms
# (measured on a 4-core VM), so a file is folded only after about as
# many appends as linking it takes to cost what folding it does.
FOLD_MIN_FILES = 1024
FOLD_RATIO = 128


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted a pointer-swapping operation on a
    table while another LIVE writer holds its lock. The loser fails
    loudly; ``_CURRENT`` is never corrupted."""


class TableStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        lock_stale_after: float = 3600.0,
    ):
        self.spark = spark
        self.root = root
        self.lock_stale_after = lock_stale_after
        # re-entrancy counts for locks held by THIS instance: one
        # logical writer (one TableStore) may nest locked() sections
        # (index maintenance calls overwrite_partitions which locks
        # again); a DIFFERENT instance is a different writer and gets
        # ConcurrentWriteError — which is also how the tests simulate
        # a racing writer in-process.
        self._held: dict[str, int] = {}
        os.makedirs(root, exist_ok=True)

    # -- paths ----------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._dir(name), "_CURRENT")

    # -- single-writer lock ----------------------------------------------
    def _lock_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_LOCK")

    def _try_break_stale(self, path: str) -> bool:
        """Break a lock whose holder is provably (or, cross-host,
        plausibly) gone. Returns True if THIS contender broke it.

        Staleness rules (module docstring): same-host dead pid →
        stale; same-host LIVE pid → never stale, age is irrelevant (a
        legitimate long write must not lose its lock mid-flight);
        cross-host / liveness-unverifiable → stale only when the lock
        file's mtime exceeds ``lock_stale_after`` (mtime so the holder
        can ``heartbeat()``). Unreadable/garbage locks are never
        broken — fail loudly, don't guess.

        Break mechanics close the examine-then-unlink TOCTOU (ADVICE
        r4): the examined file's inode is captured from the open fd,
        the lock is atomically RENAMED to a unique name, and the
        breaker proceeds only if the renamed file IS the examined
        inode. A lock replaced between examine and rename (another
        contender broke it; a new writer acquired) either fails the
        pre-rename inode check, fails the rename (ENOENT), or is
        detected after the rename and restored — a live writer's fresh
        lock is never destroyed."""
        try:
            fd = os.open(path, os.O_RDONLY)
        except FileNotFoundError:
            return True  # holder released it between our check and now
        except OSError:
            return False
        try:
            examined = os.fstat(fd)
            content = os.read(fd, 256).decode(errors="replace").strip()
        finally:
            os.close(fd)
        try:
            parts = content.split(":")
            pid = int(parts[0])
            float(parts[1])  # ts present and numeric, or garbage lock
            # legacy two-field locks (pid:ts, pre-host upgrade) carry
            # NO host: the writer could have been anywhere, so a local
            # pid coincidence must not classify it same-host-alive
            # (ADVICE r5) — None falls through to the age path below
            host = parts[2] if len(parts) > 2 else None
        except (ValueError, IndexError):
            return False  # garbage lock: refuse to break, fail loudly
        stale = False
        if host == socket.gethostname():
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                stale = True  # same host, holder dead
            except PermissionError:
                pass  # alive under another uid: not stale
        else:
            # cross-host or host-unknown: liveness unverifiable, so
            # mtime age decides (heartbeat-able)
            stale = time.time() - examined.st_mtime > self.lock_stale_after
        if not stale:
            return False
        uniq = f"{path}.breaking.{os.getpid()}.{time.monotonic_ns()}"
        try:
            if os.stat(path).st_ino != examined.st_ino:
                return False  # already replaced by a fresh lock
            os.rename(path, uniq)
        except FileNotFoundError:
            return False  # another contender won the break
        except OSError:
            return False
        if os.stat(uniq).st_ino != examined.st_ino:
            # raced: we moved a FRESH lock created after our stat —
            # put it back exactly as the new holder wrote it. The
            # restore must be NO-REPLACE (ADVICE r5): while the path
            # was vacant a third writer may have O_EXCL-acquired it,
            # and a plain rename would silently overwrite that live
            # lock, admitting two writers. link() fails with EEXIST
            # if the path is occupied; in that case two live locks
            # exist because of OUR rename — nothing safe remains, so
            # fail loudly and leave both files as evidence.
            try:
                os.link(uniq, path)
            except FileExistsError:
                raise ConcurrentWriteError(
                    f"lock-break race on {path!r}: a fresh lock was "
                    f"renamed aside to {uniq!r} and another writer "
                    "acquired the vacant path before restore; TWO live "
                    "writers may hold this table — resolve manually "
                    "(both lock files carry pid:ts:host)"
                ) from None
            os.unlink(uniq)
            return False
        os.unlink(uniq)
        return True

    def heartbeat(self, name: str) -> None:
        """Refresh the held lock's mtime — the cross-host expiry
        clock. A holder whose single write may exceed
        ``lock_stale_after`` calls this periodically (same-host
        holders never need it: a live pid is never age-broken)."""
        with contextlib.suppress(FileNotFoundError):
            os.utime(self._lock_path(name))

    @contextlib.contextmanager
    def locked(self, name: str):
        """Per-table writer mutex (O_EXCL create of ``_LOCK`` holding
        ``pid:timestamp:host``). Serializes version-pick → write →
        promote; the loser of a race raises ``ConcurrentWriteError``
        instead of publishing over (or under) the winner.

        Re-entrant within this instance: a multi-step maintenance
        sequence (read → stats → overwrite_partitions, e.g.
        ``IvfPqIndex.upsert``) wraps itself in
        ``with store.locked(table):`` and the nested per-op locks
        become no-ops — the sequence is atomic w.r.t. other writers,
        not just each step."""
        if self._held.get(name, 0) > 0:
            self._held[name] += 1
            try:
                yield
            finally:
                self._held[name] -= 1
            return
        os.makedirs(self._dir(name), exist_ok=True)
        path = self._lock_path(name)
        fd = None
        for attempt in (0, 1):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if attempt == 0 and self._try_break_stale(path):
                    continue
                raise ConcurrentWriteError(
                    f"table {name!r} is locked by another live writer "
                    f"({path}); TableStore is single-writer per table — "
                    "serialize the writers, or use Delta/Iceberg for "
                    "true multi-writer commits"
                ) from None
        try:
            token = f"{os.getpid()}:{time.time()}:{socket.gethostname()}"
            os.write(fd, token.encode())
            os.close(fd)
            self._held[name] = 1
            yield
        finally:
            self._held[name] = 0
            # unlink only OUR lock (ADVICE r5): if this hold was
            # age-broken mid-flight (cross-host rule, no heartbeat)
            # and a new writer acquired, blind cleanup would delete
            # the NEW holder's live lock and admit a third writer —
            # verify the content is still the exact token we wrote
            # (content, not inode: freed inode numbers are reused
            # immediately on many filesystems).
            try:
                with open(path) as lf:
                    mine = lf.read(256).strip() == token
                if mine:
                    os.unlink(path)
            except FileNotFoundError:
                pass

    def _pointed(self, name: str) -> str | None:
        try:
            with open(self._pointer(name)) as f:
                return f.read().strip()
        except FileNotFoundError:
            return None

    def current_path(self, name: str) -> str | None:
        version = self._pointed(name)
        if version is None:
            return None
        path = os.path.join(self._dir(name), version)
        return path if os.path.exists(path) else None

    # cdcbench's checks count a changelog's rows here with pyarrow
    def _appendable_dir(self, name: str) -> str:
        return self.current_path(name) or self._dir(name)

    def exists(self, name: str) -> bool:
        return self.current_path(name) is not None

    # -- IO -------------------------------------------------------------
    @staticmethod
    def _schema(path: str) -> StructType | None:
        try:
            with open(os.path.join(path, SCHEMA_FILE)) as f:
                return StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return None  # written before versions carried _SCHEMA

    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read the current version, or time-travel to an older kept
        version (``version=N`` reads ``v{N}``; the store keeps the last
        2 — the double-buffer window). A version with a ``_SCHEMA``
        file is read with that schema: no Spark job."""
        if version is not None:
            path = os.path.join(self._dir(name), f"v{version}")
            if not os.path.exists(path):
                raise FileNotFoundError(f"table {name!r} has no version v{version}")
        else:
            path = self.current_path(name)
            if path is None:
                raise FileNotFoundError(f"table {name!r} has no current version")
        schema = self._schema(path)
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    def versions(self, name: str) -> list[int]:
        d = self._dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(v[1:]) for v in os.listdir(d) if v.startswith("v") and v[1:].isdigit()
        )

    @contextlib.contextmanager
    def _new_version(self, name: str):
        """The one way a table changes: under the table's writer lock,
        pick ``v{N}``, let the caller fill the yielded directory (the
        parent version, ``current_path``, is still current while it
        does), then atomically promote the pointer and garbage-collect
        (the reference's hash-cache rotation, download.py:572-581). A
        fill that raises leaves the pointer on the parent. ``N`` is
        never reused, not even after ``drop``: Spark caches file
        listings by path."""
        with self.locked(name):
            last = self._pointed(name)
            taken = self.versions(name) + ([int(last[1:])] if last else [])
            next_v = f"v{max(taken, default=-1) + 1}"
            yield os.path.join(self._dir(name), next_v)
            tmp = self._pointer(name) + ".tmp"
            with open(tmp, "w") as f:
                f.write(next_v)
            os.replace(tmp, self._pointer(name))  # atomic on POSIX
            self._gc(name, keep=2)

    @staticmethod
    def _write_schema(path: str, schema: StructType) -> None:
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, SCHEMA_FILE), "w") as f:
            f.write(schema.json())

    @staticmethod
    def _written_schema(df: DataFrame, partition_by: list[str] | None) -> StructType:
        """``df``'s schema as a read of its files returns it: data
        columns, then partition columns."""
        parts = partition_by or []
        return StructType(
            [f for f in df.schema.fields if f.name not in parts]
            + [df.schema[p] for p in parts]
        )

    def _fill(
        self,
        path: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        num_files: int | None = None,
        schema: StructType | None = None,
        mode: str = "overwrite",
    ) -> None:
        writer = (df.coalesce(num_files) if num_files else df).write.mode(mode)
        writer.partitionBy(*(partition_by or [])).parquet(path)
        self._write_schema(path, schema or self._written_schema(df, partition_by))

    @staticmethod
    def _link_files(src: str, dst: str, skip: set[str] = frozenset()) -> None:
        """Hard-link ``src``'s files into ``dst`` at the same relative
        paths, leaving out the files and top-level directories
        (partitions) whose relative path is in ``skip``. A file ``dst``
        already holds (the new version's own ``_SUCCESS`` and
        ``_SCHEMA``) is kept."""
        for root, dirs, files in os.walk(src):
            rel = os.path.relpath(root, src)
            if root == src:
                dirs[:] = [d for d in dirs if d not in skip]
            out = os.path.join(dst, rel)
            os.makedirs(out, exist_ok=True)
            for f in files:
                if os.path.normpath(os.path.join(rel, f)) not in skip and not (
                    os.path.exists(os.path.join(out, f))
                ):
                    os.link(os.path.join(root, f), os.path.join(out, f))

    @staticmethod
    def _data_files(path: str) -> list[str]:
        """Relative paths of the parquet files a reader of ``path``
        sees (Spark and pyarrow skip ``_``/``.``-prefixed names)."""
        return [
            os.path.relpath(os.path.join(root, f), path)
            for root, _, files in os.walk(path)
            for f in files
            if f[0] not in "_."
        ]

    def write(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        num_files: int | None = None,
    ) -> str:
        """Write ``df`` as a new version with its ``_SCHEMA``, then
        atomically promote the pointer.

        ``num_files`` controls output file count for small sink tables
        (avoid thousands of tiny files at local scale; at cluster
        scale leave None and let AQE coalesce). ``df`` may read this
        table's current version: the write goes to a new directory.
        """
        with self._new_version(name) as path:
            self._fill(path, df, partition_by, num_files)
        return path

    def write_empty(self, name: str, schema: StructType) -> str:
        """Write a zero-row version of ``schema`` without a Spark job:
        one row-group-free parquet file (so pyarrow readers see the
        columns too) plus its ``_SCHEMA``."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        with self._new_version(name) as path:
            self._write_schema(path, schema)
            pq.write_table(
                to_arrow_schema(schema).empty_table(),
                os.path.join(path, "part-00000.parquet"),
            )
        return path

    def link(self, name: str, source: str) -> str:
        """Write a version of ``name`` whose files are hard links to
        ``source``'s current version — the same rows at the cost of a
        directory listing, no Spark job and no bytes copied. A hard
        link keeps the bytes alive after ``source``'s garbage
        collection removes the version they came from. ``source``'s
        lock is held so that version cannot be collected mid-link."""
        with self.locked(source):
            src = self.current_path(source)
            if src is None:
                raise FileNotFoundError(f"table {source!r} has no current version")
            with self._new_version(name) as path:
                self._link_files(src, path)
        return path

    def append(
        self, name: str, df: DataFrame, partition_by: list[str] | None = None
    ) -> str:
        """Append-only history (the ``{t}__changelog`` sink,
        download.py:585-595, tombstone logs, append-log index cells): a
        new version holding ``df``'s files plus hard links to the data
        files of the parent version.

        Linking costs one ``os.link`` per parent file (and gc one
        unlink), so over a long history it would outgrow the append
        itself. An append whose parent holds more than ``FOLD_RATIO``
        times the files it wrote itself, and more than
        ``FOLD_MIN_FILES``, therefore rewrites the smaller half of the
        parent's files into the new version instead of linking them
        (``_fold``): the same rows in a few files, one extra job.
        Links per append stay under that multiple of its own writes
        (or ``FOLD_MIN_FILES``).
        The price is rewritten rows: in a simulation of this rule a row
        is rewritten 0.9 times on average over 10,000 one-file appends,
        and 1.0 times over 2,000 appends to 200 partitions.

        The version's ``_SCHEMA`` is the parent's merged with ``df``'s
        by name: new columns are appended (older files read them as
        NULL), and where a column's type changed the newer type wins.
        Spark reads the older files under it when it can widen them
        (int → bigint or double, …); a change it cannot (string ↔ int)
        leaves the history unreadable past that epoch, and a fold over
        it fails the append."""
        with self._new_version(name) as path:
            parent = self.current_path(name)
            schema = self._written_schema(df, partition_by)
            if parent is not None:
                old = self._schema(parent)
                new = {f.name: f for f in schema.fields}
                schema = StructType(
                    [new.get(f.name, f) for f in old.fields]
                    + [f for f in schema.fields if f.name not in old.fieldNames()]
                )
            self._fill(path, df, partition_by, schema=schema)
            if parent is not None:
                folded = self._fold(parent, path, schema, partition_by)
                self._link_files(parent, path, folded)
        return path

    def _fold(
        self,
        parent: str,
        path: str,
        schema: StructType,
        partition_by: list[str] | None,
    ) -> set[str]:
        """When ``parent`` holds too many files to link (``append``),
        write the rows of its smaller half into ``path`` (one file per
        partition; unpartitioned, as Spark packs them) and return those
        files, with their ``.crc`` checksums, for the caller not to link."""
        files = self._data_files(parent)
        own = len(self._data_files(path))
        if len(files) <= max(FOLD_MIN_FILES, FOLD_RATIO * own):
            return set()
        files.sort(key=lambda f: (os.path.getsize(os.path.join(parent, f)), f))
        small = files[: len(files) // 2]
        rows = self.spark.read.schema(schema).option("basePath", parent)
        rows = rows.parquet(*[os.path.join(parent, f) for f in small])
        rows = rows.repartition(*partition_by) if partition_by else rows
        self._fill(path, rows, partition_by, schema=schema, mode="append")
        return set(small) | {
            os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")
            for f in small
        }

    def overwrite_partitions(
        self, name: str, df: DataFrame, partition_col: str, touched
    ) -> str:
        """A new version holding ``df`` partitioned by
        ``partition_col``, plus hard links to the parent's files for
        every partition that is neither in ``touched`` nor written by
        ``df``. A touched partition ``df`` leaves empty is simply
        absent. THE incremental-write lever at 100 TB — a CDC run
        touching 0.1% of keys rewrites ~0.1% of storage and links the
        rest (O(files) link calls, no bytes copied). ``df`` may read
        the parent: it is never modified, so a DataFrame read before
        this call still collects the rows it saw."""
        with self._new_version(name) as path:
            parent = self.current_path(name)
            self._fill(path, df, [partition_col])
            if parent is not None:
                skip = {f"{partition_col}={v}" for v in touched}
                self._link_files(parent, path, skip | set(os.listdir(path)))
        return path

    def drop(self, name: str) -> None:
        """Remove every version of ``name``; ``exists`` turns False and
        a reader's exists-guard treats it as empty (e.g. a tombstone
        log after compaction folded it in)."""
        with self.locked(name):
            for v in self.versions(name):
                shutil.rmtree(os.path.join(self._dir(name), f"v{v}"), ignore_errors=True)

    def write_clustered(
        self,
        name: str,
        df: DataFrame,
        cluster_cols: list[str],
        num_files: int | None = None,
    ) -> str:
        """Versioned write with range clustering: rows are
        range-partitioned on ``cluster_cols`` then sorted within each
        file, so every parquet file (and row group) covers a narrow,
        nearly-disjoint min/max range of the cluster key. Parquet
        readers prune row groups whose stats exclude a pushed
        predicate, so a selective range/point filter on the cluster
        key reads a handful of files instead of all of them — the
        data-skipping lever (Delta/Iceberg OPTIMIZE ZORDER's 1-D
        case) that turns a 100 TB scan into gigabytes when queries
        filter on time or tenant. Costs one range-exchange at write
        time; evidence in tests/test_layout.py (footer stats +
        matched-file concentration)."""
        out = (
            df.repartitionByRange(num_files, *cluster_cols)
            if num_files
            else df.repartitionByRange(*cluster_cols)
        ).sortWithinPartitions(*cluster_cols)
        return self.write(name, out)

    def write_zordered(
        self,
        name: str,
        df: DataFrame,
        cluster_cols: list[str],
        bits: int = 16,
        num_files: int | None = None,
    ) -> str:
        """Versioned write with MULTI-column clustering: rows are
        range-partitioned + sorted on the Morton interleave of
        ``cluster_cols`` (operators/zorder.py), so every file covers
        a bounded hyper-rectangle of the clustered space and footer
        stats prune scans filtered on ANY of the columns — the
        Delta/Iceberg OPTIMIZE ZORDER idea. ``write_clustered`` is
        the 1-D special case (prefer it for single-key workloads: its
        per-file ranges are fully disjoint, z-order's are merely
        bounded). The ``_z`` key is dropped before writing — layout
        is an implementation detail, never schema."""
        from updater_spark.operators.zorder import Z_COL, add_zvalue

        zdf = add_zvalue(df, cluster_cols, bits)
        out = (
            zdf.repartitionByRange(num_files, Z_COL)
            if num_files
            else zdf.repartitionByRange(Z_COL)
        ).sortWithinPartitions(Z_COL)
        return self.write(name, out.drop(Z_COL))

    # -- sidecar metadata ----------------------------------------------
    def write_sidecar(self, name: str, key: str, value: str) -> None:
        """Atomically write a small per-table metadata value (e.g. the
        quantizer identity an IVF-PQ cells table was encoded with).
        Sidecars live next to the data so a backup/restore that moves
        the table directory moves its metadata with it."""
        path = os.path.join(self._dir(name), f"_META_{key}")
        os.makedirs(self._dir(name), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(value)
        os.replace(tmp, path)

    def read_sidecar(self, name: str, key: str) -> str | None:
        try:
            with open(os.path.join(self._dir(name), f"_META_{key}")) as f:
                return f.read()
        except FileNotFoundError:
            return None

    # -- double-buffered bucketed tables (hash-cache rotation) ----------
    def _bucketed_pointer(self, name: str) -> str:
        return os.path.join(self._dir(name), "_CURRENT_BUCKETED")

    def _catalog_name(self, name: str, buf: int) -> str:
        safe = "".join(c if c.isalnum() else "_" for c in name)
        return f"{safe}__buf{buf}"

    def current_bucketed(self, name: str) -> str | None:
        ptr = self._bucketed_pointer(name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return f.read().strip()

    def write_bucketed_versioned(
        self,
        name: str,
        df: DataFrame,
        bucket_col: str,
        num_buckets: int = 16,
    ) -> DataFrame:
        """The reference's double-buffer rotation, bucketed: read buffer
        ``__buf0``, write ``__buf1``, promote on success (table.py:
        108-117, download.py:572-581). The promoted catalog table is
        bucketed+sorted by ``bucket_col``, so the NEXT run's diff join
        merge-joins it with no Exchange and no Sort on this side — the
        stable 100M-row replica side never reshuffles. A crashed writer
        leaves the read buffer untouched.
        """
        with self.locked(name):
            current = self.current_bucketed(name)
            target_buf = 1 if current == self._catalog_name(name, 0) else 0
            target = self._catalog_name(name, target_buf)
            # a previous PROCESS may have left the managed-table
            # directory behind while this session's metastore has no
            # such table — saveAsTable then fails with
            # LOCATION_ALREADY_EXISTS. Drop any registered table
            # first, then clear an orphaned location.
            self.spark.sql(f"DROP TABLE IF EXISTS {target}")
            warehouse = self.spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            orphan = os.path.join(warehouse, target.lower())
            if os.path.exists(orphan):
                shutil.rmtree(orphan, ignore_errors=True)
            (
                df.write.mode("overwrite")
                .format("parquet")
                .bucketBy(num_buckets, bucket_col)
                .sortBy(bucket_col)
                .saveAsTable(target)
            )
            tmp = self._bucketed_pointer(name) + ".tmp"
            with open(tmp, "w") as f:
                f.write(target)
            os.replace(tmp, self._bucketed_pointer(name))
            return self.spark.table(target)

    def read_bucketed_versioned(self, name: str) -> DataFrame:
        current = self.current_bucketed(name)
        if current is None:
            raise FileNotFoundError(f"table {name!r} has no bucketed version")
        return self.spark.table(current)

    def exists_bucketed(self, name: str) -> bool:
        return self.current_bucketed(name) is not None

    def write_bucketed(
        self,
        table_name: str,
        df: DataFrame,
        bucket_col: str,
        num_buckets: int = 16,
    ) -> DataFrame:
        """Write a catalog table bucketed (and sorted) by ``bucket_col``.

        Bucketing is THE 100 TB lever for the CDC diff: when the
        replica's fingerprint table and the incoming snapshot's
        fingerprints are both bucketed by pk with the same bucket
        count, the full-outer diff join needs NO shuffle and NO sort —
        each task merge-joins one bucket pair (verified by
        tests/test_bucketing.py asserting an Exchange-free plan).
        Requires the session catalog (``saveAsTable``); plain
        directory parquet cannot carry bucket metadata.
        """
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, bucket_col)
            .sortBy(bucket_col)
            .saveAsTable(table_name)
        )
        return self.spark.table(table_name)

    def _gc(self, name: str, keep: int) -> None:
        current = self.current_path(name)
        for v in self.versions(name)[:-keep]:
            path = os.path.join(self._dir(name), f"v{v}")
            if path != current:
                shutil.rmtree(path, ignore_errors=True)
