"""Partition-pruned incremental writes: only buckets containing
changed keys are rewritten on disk; the new version hard-links every
other bucket's files (the 100 TB write-amplification fix)."""

import glob
import os

from pyspark.sql import Row

from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import TableSpec


def _inodes(store, table: str) -> dict[str, set[int]]:
    """Inodes of each bucket's files in the current version: a bucket
    linked from the parent version keeps its inodes."""
    root = store.current_path(table)
    return {
        os.path.basename(d): {
            os.stat(f).st_ino for f in glob.glob(os.path.join(d, "*.parquet"))
        }
        for d in glob.glob(os.path.join(root, "_bucket=*"))
    }


def test_partitioned_update_links_untouched_buckets(spark, tmp_path):
    from updater_spark.sources.store import TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    engine = CdcEngine(store, partition_buckets=8)
    spec = TableSpec("items", "id")

    s0 = [Row(id=i, v=i) for i in range(1, 501)]
    st = engine.update(spec, spark.createDataFrame(s0))
    assert st.bootstrap and st.total_rows == 500
    before = _inodes(store, "items")
    assert len(before) == 8  # all buckets materialized

    # mutate exactly one key + delete one key → ≤2 buckets affected
    s1 = [Row(id=i, v=(i + 100 if i == 7 else i)) for i in range(1, 501) if i != 13]
    st1 = engine.update(spec, spark.createDataFrame(s1))
    assert st1.upserts == 1 and st1.deletes == 1 and st1.deletes_applied
    assert st1.total_rows == 499

    after = _inodes(store, "items")
    changed_buckets = {b for b in after if after[b] != before.get(b)}
    assert 1 <= len(changed_buckets) <= 2  # only touched buckets rewritten
    untouched = set(before) - changed_buckets
    assert untouched and all(after[b] == before[b] for b in untouched)

    # data correctness identical to the full-rewrite path
    replica = {r["id"]: r["v"] for r in store.read("items").collect()}
    assert replica[7] == 107 and 13 not in replica and len(replica) == 499

    # delete guard in partitioned mode: huge delete set → skipped
    g_engine = CdcEngine(store, partition_buckets=8, delete_guard=10)
    st2 = g_engine.update(spec, spark.createDataFrame(s1[:100]))
    assert not st2.deletes_applied
    assert g_engine._read_main("items").count() == 499


def test_partitioned_delete_empties_bucket(spark, tmp_path):
    """Deleting the only row of a bucket must drop the bucket: dynamic
    overwrite never replaces a partition absent from the new data."""
    from updater_spark.sources.store import TableStore

    engine = CdcEngine(
        TableStore(spark, str(tmp_path / "store")), partition_buckets=64
    )
    spec = TableSpec("items", "id")
    s0 = [Row(id=i, v=i) for i in range(1, 11)]
    engine.update(spec, spark.createDataFrame(s0))
    st = engine.update(spec, spark.createDataFrame(s0[:-1]))
    assert st.deletes == 1 and st.deletes_applied and st.total_rows == 9
    assert sorted(r["id"] for r in engine._read_main("items").collect()) == list(
        range(1, 10)
    )


def test_partitioned_change_feed_keeps_its_columns(spark, tmp_path):
    """The bootstrap ``__delta`` is a link to the bucketed main table,
    so it carries ``_bucket``; every later epoch's feed carries the
    same columns, with the row's bucket in the main table."""
    from updater_spark.sources.store import TableStore

    store = TableStore(spark, str(tmp_path / "store"))
    engine = CdcEngine(store, partition_buckets=8)
    spec = TableSpec("items", "id")
    s0 = [Row(id=i, v=i) for i in range(1, 21)]
    engine.update(spec, spark.createDataFrame(s0))
    boot = store.read("items__delta").dtypes
    assert boot == [("id", "bigint"), ("v", "bigint"), ("_bucket", "bigint")]
    s1 = [Row(id=i, v=(i + 100 if i == 7 else i)) for i in range(1, 21)]
    engine.update(spec, spark.createDataFrame(s1))
    feed = store.read("items__delta")
    assert feed.dtypes == boot
    main = store.read("items").filter("id = 7").collect()
    assert [tuple(r) for r in feed.collect()] == [(7, 107, main[0]["_bucket"])]


def test_partitioned_matches_full_rewrite(spark, tmp_path):
    """Same scenario through both storage modes ⇒ identical replicas."""
    from updater_spark.sources.store import TableStore

    spec = TableSpec("t", "id")
    s0 = [Row(id=i, v=i * 3) for i in range(1, 301)]
    s1 = [Row(id=i, v=(0 if i % 7 == 0 else i * 3)) for i in range(1, 321) if i % 11 != 0]

    results = []
    for buckets in (None, 4):
        store = TableStore(spark, str(tmp_path / f"store_{buckets}"))
        eng = CdcEngine(store, partition_buckets=buckets)
        eng.update(spec, spark.createDataFrame(s0))
        eng.update(spec, spark.createDataFrame(s1))
        rows = {(r["id"], r["v"]) for r in eng._read_main("t").collect()}
        results.append(rows)
    assert results[0] == results[1]


def test_partitioned_and_bucketed_fingerprints_compose(spark, tmp_path):
    """The two 100 TB levers stack: partition-pruned main-table writes
    (partition_buckets) + shuffle-free diff via bucketed fingerprint
    rotation (fingerprint_buckets). Results must equal the plain
    engine's."""
    from pyspark.sql import functions as F

    from updater_spark.sources.store import TableStore

    spec = TableSpec("items", "id")
    s0 = spark.createDataFrame([Row(id=i, v=i) for i in range(1, 501)])
    s1 = spark.createDataFrame(
        [Row(id=i, v=(i + 100 if i % 50 == 0 else i)) for i in range(1, 501) if i != 13]
        + [Row(id=999, v=0)]
    )

    results = {}
    for kind, kwargs in {
        "plain": {},
        "combined": {"partition_buckets": 8, "fingerprint_buckets": 8},
    }.items():
        store = TableStore(spark, str(tmp_path / kind))
        engine = CdcEngine(store, **kwargs)
        engine.update(spec, s0)
        stats = engine.update(spec, s1)
        replica = (
            engine._read_main("items") if kwargs else store.read("items")
        )
        results[kind] = (
            stats.upserts,
            stats.updates,
            stats.deletes,
            sorted((r["id"], r["v"]) for r in replica.collect()),
        )
    assert results["plain"] == results["combined"]
    for buf in (0, 1):
        spark.sql(f"DROP TABLE IF EXISTS items__fingerprints__buf{buf}")
