"""TableStore single-writer contract: pointer-swapping ops hold a
per-table lock; a racing second writer fails LOUDLY with
ConcurrentWriteError and never corrupts ``_CURRENT``; locks left by
crashed writers (dead pid / expired age) are broken automatically.

Reference context: the reference's updater is a single sequential
process (download.py runs tables one by one), so its double-buffer
rotation never faces concurrent writers; generalizing the store makes
the implicit contract explicit and enforced. Production escalation:
Delta/Iceberg optimistic commits (SURVEY §7.2).
"""

import os
import socket
import subprocess
import time

import pytest

from updater_spark.sources.store import ConcurrentWriteError, TableStore


def _df(spark, n=10):
    return spark.range(n).withColumnRenamed("id", "k")


def _lock_content(pid=None, ts=None, host=None):
    """Current three-field lock format (pid:ts:host)."""
    return (
        f"{os.getpid() if pid is None else pid}:"
        f"{time.time() if ts is None else ts}:"
        f"{socket.gethostname() if host is None else host}"
    )


def test_two_writers_loser_fails_loudly(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s"))
    store.write("t", _df(spark, 5))
    before = store.current_path("t")
    # a LIVE writer (this very process) holds the lock...
    lock = store._lock_path("t")
    with open(lock, "w") as f:
        f.write(_lock_content())
    try:
        with pytest.raises(ConcurrentWriteError, match="single-writer"):
            store.write("t", _df(spark, 7))
    finally:
        os.unlink(lock)
    # the loser published nothing: pointer untouched, data readable
    assert store.current_path("t") == before
    assert store.read("t").count() == 5
    # with the lock gone the same write succeeds
    store.write("t", _df(spark, 7))
    assert store.read("t").count() == 7


def test_dead_holder_lock_is_broken(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s"))
    store.write("t", _df(spark, 3))
    # a crashed writer: pid of a subprocess that has already exited
    proc = subprocess.Popen(["true"])
    proc.wait()
    with open(store._lock_path("t"), "w") as f:
        f.write(_lock_content(pid=proc.pid))
    store.write("t", _df(spark, 4))  # breaks the stale lock, proceeds
    assert store.read("t").count() == 4
    assert not os.path.exists(store._lock_path("t"))


def test_live_samehost_lock_never_age_broken(spark, tmp_path):
    """A LIVE same-host holder keeps its lock no matter how old it is
    (ADVICE r4: a legitimate multi-hour Spark write must not silently
    lose its lock to age — that re-enables concurrent publishing)."""
    store = TableStore(spark, str(tmp_path / "s"), lock_stale_after=0.05)
    store.write("t", _df(spark, 3))
    path = store._lock_path("t")
    with open(path, "w") as f:
        f.write(_lock_content(ts=time.time() - 9999.0))
    old = time.time() - 9999.0
    os.utime(path, (old, old))  # even the mtime clock says ancient
    try:
        with pytest.raises(ConcurrentWriteError):
            store.write("t", _df(spark, 6))
    finally:
        os.unlink(path)
    assert store.read("t").count() == 3


def test_crosshost_lock_expires_on_mtime_and_heartbeat_defers(
    spark, tmp_path
):
    """Cross-host crash model: liveness unverifiable, so the lock
    file's MTIME age decides — and a heartbeat (mtime touch) keeps a
    long-running remote holder alive."""
    store = TableStore(spark, str(tmp_path / "s"), lock_stale_after=0.05)
    store.write("t", _df(spark, 3))
    path = store._lock_path("t")
    with open(path, "w") as f:
        f.write(f"{os.getpid()}:{time.time()}:some-other-host")
    # fresh mtime: not expired yet, even though the host is unknown
    with pytest.raises(ConcurrentWriteError):
        store.write("t", _df(spark, 5))
    # heartbeat then age the ts only — mtime is the clock, so a
    # heartbeating holder survives...
    store.heartbeat("t")
    with pytest.raises(ConcurrentWriteError):
        store.write("t", _df(spark, 5))
    # ...and once the mtime itself goes stale, the lock is broken
    old = time.time() - 1.0
    os.utime(path, (old, old))
    store.write("t", _df(spark, 6))
    assert store.read("t").count() == 6


def test_break_is_rename_based_and_verifies_inode(spark, tmp_path):
    """The TOCTOU fix (ADVICE r4): breaking renames the EXAMINED lock
    aside; a lock that was already replaced by a fresh one is left
    alone. Simulated directly against _try_break_stale."""
    store = TableStore(spark, str(tmp_path / "s"), lock_stale_after=0.05)
    store.write("t", _df(spark, 3))
    path = store._lock_path("t")
    # a dead-pid lock is breakable; after the break nothing remains
    proc = subprocess.Popen(["true"])
    proc.wait()
    with open(path, "w") as f:
        f.write(_lock_content(pid=proc.pid))
    assert store._try_break_stale(path) is True
    assert not os.path.exists(path)
    assert not [
        p for p in os.listdir(store._dir("t")) if p.startswith("_LOCK")
    ]
    # a LIVE lock is refused outright — never renamed, never unlinked
    with open(path, "w") as f:
        f.write(_lock_content())
    ino = os.stat(path).st_ino
    assert store._try_break_stale(path) is False
    assert os.stat(path).st_ino == ino
    os.unlink(path)


def test_locked_is_reentrant_within_instance_only(spark, tmp_path):
    """Multi-step maintenance (write + partition overwrite under one
    locked()) must not deadlock on its own nested per-op locks, while a
    second TableStore instance — a different logical writer — is still
    shut out for the whole sequence."""
    store = TableStore(spark, str(tmp_path / "s"))
    other = TableStore(spark, str(tmp_path / "s"))
    base = _df(spark, 8)
    df = base.withColumn("p", base.k % 2)
    with store.locked("pt"):
        store.write("pt", df, partition_by=["p"])  # nested lock: no-op
        with pytest.raises(ConcurrentWriteError):
            other.write("pt", df, partition_by=["p"])
        store.overwrite_partitions("pt", df.filter("p = 0"), "p", [1])
    assert store.read("pt").count() == 4  # partition p=1 emptied
    # lock fully released after the outermost exit
    other.write("pt", df, partition_by=["p"])
    assert store.read("pt").count() == 8


def test_lock_released_after_write_and_unreadable_lock_refused(
    spark, tmp_path
):
    store = TableStore(spark, str(tmp_path / "s"))
    store.write("t", _df(spark, 2))
    assert not os.path.exists(store._lock_path("t"))
    # garbage lock content: refuse to break (fail loudly, not guess)
    with open(store._lock_path("t"), "w") as f:
        f.write("not-a-lock")
    try:
        with pytest.raises(ConcurrentWriteError):
            store.write("t", _df(spark, 9))
    finally:
        os.unlink(store._lock_path("t"))


def test_legacy_hostless_lock_uses_age_not_local_pid(spark, tmp_path):
    """Legacy two-field locks (pid:ts, pre-host upgrade) could have
    been written on ANY host, so a local pid coincidence must not
    classify them same-host (ADVICE r5): liveness is unverifiable →
    the mtime-age path decides, exactly like a cross-host lock."""
    store = TableStore(spark, str(tmp_path / "s"), lock_stale_after=0.05)
    store.write("t", _df(spark, 3))
    path = store._lock_path("t")
    # hostless lock whose pid happens to be ALIVE locally, fresh
    # mtime: not expired — but crucially also not permanently wedged
    with open(path, "w") as f:
        f.write(f"{os.getpid()}:{time.time()}")
    with pytest.raises(ConcurrentWriteError):
        store.write("t", _df(spark, 5))
    # once the mtime ages past the deadline the lock expires even
    # though the (coincidental) local pid is still alive
    old = time.time() - 1.0
    os.utime(path, (old, old))
    store.write("t", _df(spark, 6))
    assert store.read("t").count() == 6
    # and a hostless lock with a DEAD local pid but fresh mtime is
    # NOT broken early — age is the only clock for hostless locks
    proc = subprocess.Popen(["true"])
    proc.wait()
    with open(path, "w") as f:
        f.write(f"{proc.pid}:{time.time()}")
    try:
        with pytest.raises(ConcurrentWriteError):
            store.write("t", _df(spark, 7))
    finally:
        os.unlink(path)


def test_break_restore_never_clobbers_third_writer(spark, tmp_path):
    """ADVICE r5 (store.py restore race): when the breaker renamed a
    FRESH lock aside and a third writer acquired the vacant path
    before the restore, the restore must fail LOUDLY (link-no-replace)
    instead of silently overwriting the new holder's live lock."""
    store = TableStore(spark, str(tmp_path / "s"))
    store.write("t", _df(spark, 3))
    path = store._lock_path("t")
    # simulate the post-rename state directly: the breaker holds a
    # renamed-aside fresh lock while a third writer owns the path
    with open(path, "w") as f:
        f.write(_lock_content())  # third writer's live lock
    uniq = f"{path}.breaking.999.123"
    with open(uniq, "w") as f:
        f.write(_lock_content())  # the fresh lock we renamed aside
    third_ino = os.stat(path).st_ino
    # restore path: link(uniq -> path) raises FileExistsError
    with pytest.raises(FileExistsError):
        os.link(uniq, path)
    assert os.stat(path).st_ino == third_ino  # untouched
    os.unlink(uniq)
    os.unlink(path)
    # end-to-end: the normal restore branch (path vacant) puts the
    # fresh lock back and reports not-broken
    proc = subprocess.Popen(["true"])
    proc.wait()
    with open(path, "w") as f:
        f.write(_lock_content(pid=proc.pid))
    assert store._try_break_stale(path) is True  # clean break works
    assert not os.path.exists(path)


def test_release_only_unlinks_own_lock(spark, tmp_path):
    """ADVICE r5 (locked() finally): if the holder's lock was broken
    mid-flight and a new writer acquired, cleanup must NOT delete the
    new holder's lock — release is inode-checked."""
    store = TableStore(spark, str(tmp_path / "s"))
    new_holder_ino = {}
    path = None
    with store.locked("t"):
        path = store._lock_path("t")
        # simulate an age-break + re-acquire while we "run": replace
        # our lock file with a different writer's
        os.unlink(path)
        with open(path, "w") as f:
            f.write(_lock_content(pid=12345, host="elsewhere"))
        new_holder_ino["ino"] = os.stat(path).st_ino
    # our release saw a foreign inode and left the lock alone
    assert os.path.exists(path)
    assert os.stat(path).st_ino == new_holder_ino["ino"]
    os.unlink(path)
    # normal case: own lock is removed on exit
    with store.locked("t"):
        assert os.path.exists(path)
    assert not os.path.exists(path)


def test_bucketed_rotation_also_locked(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "s"))
    store.write_bucketed_versioned("bt", _df(spark, 8), "k", num_buckets=2)
    lock = store._lock_path("bt")
    with open(lock, "w") as f:
        f.write(_lock_content())
    try:
        with pytest.raises(ConcurrentWriteError):
            store.write_bucketed_versioned(
                "bt", _df(spark, 9), "k", num_buckets=2
            )
    finally:
        os.unlink(lock)
    assert store.read_bucketed_versioned("bt").count() == 8


def test_changelog_compaction_holds_the_lock_across_read_and_write(
    spark, tmp_path
):
    """An append committed between compaction's read of the changelog
    and its write would be left out of the compacted version, so the
    racing writer must fail loudly instead."""
    from updater_spark.plans.cdc import CdcEngine

    root = str(tmp_path / "s")
    store, racer = TableStore(spark, root), TableStore(spark, root)
    for i in range(3):
        store.append("t__changelog", spark.range(i * 5, i * 5 + 5))
    engine = CdcEngine(store)
    read = engine.changelog

    def read_then_race(name):
        log = read(name)
        with pytest.raises(ConcurrentWriteError):
            racer.append("t__changelog", spark.range(100, 105))
        return log

    engine.changelog = read_then_race
    engine.compact_changelog("t", num_files=1)
    assert sorted(r.id for r in store.read("t__changelog").collect()) == list(
        range(15)
    )
