"""Streaming continuous aggregate: incremental state equals batch
aggregation of everything that has arrived, per-trigger writes only
touch the day-partitions the batch hits, and the update/delete repair
path recomputes exactly the invalidated days."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from updater_spark.operators.rollup import bucket_rollup
from updater_spark.sources.store import TableStore
from updater_spark.streaming.rollup_stream import (
    affected_days,
    apply_rollup_delta,
    rollup_repair_days,
    run_rollup_stream,
)


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    from updater_spark import demo

    return demo.load_events(spark, sf_dir).cache()


def _state(store, table):
    return sorted(
        tuple(r)
        for r in store.read(table).drop("_pday").collect()
    )


def _expected(events):
    return sorted(
        tuple(r)
        for r in bucket_rollup(events, "ts", "value", ["event_type"]).collect()
    )


def test_stream_drains_drops_to_exact_state(spark, events, tmp_path):
    """Three drops (disjoint event_id residues) through the real
    file-source stream: final state ≡ one batch rollup over all rows."""
    drops = str(tmp_path / "drops")
    for i in range(3):
        events.filter(F.col("event_id") % 3 == i).write.mode("append").parquet(
            drops
        )
    store = TableStore(spark, str(tmp_path / "store"))
    q = run_rollup_stream(
        spark,
        store,
        "ev_rollup",
        drops,
        events.schema,
        str(tmp_path / "ckpt"),
        keys=["event_type"],
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    assert _state(store, "ev_rollup") == _expected(events)


def test_incremental_merge_applies_per_batch(spark, events, tmp_path):
    """Driving apply_rollup_delta directly: after each batch the state
    equals the batch aggregation of everything arrived so far."""
    store = TableStore(spark, str(tmp_path / "store"))
    seen = None
    for i in range(3):
        batch = events.filter(F.col("event_id") % 3 == i)
        apply_rollup_delta(
            store, "ev_rollup", batch, "ts", "value", ["event_type"]
        )
        seen = batch if seen is None else seen.unionByName(batch)
        assert _state(store, "ev_rollup") == _expected(seen)


def test_write_is_partition_pruned(spark, events, tmp_path):
    """A batch touching one day rewrites only that day's partition."""
    store = TableStore(spark, str(tmp_path / "store"))
    apply_rollup_delta(
        store, "ev_rollup", events, "ts", "value", ["event_type"]
    )
    before = _day_mtimes(store)
    days = sorted(before)
    assert len(days) >= 2  # events span multiple days

    one_day = events.orderBy("ts").limit(50)
    apply_rollup_delta(
        store, "ev_rollup", one_day, "ts", "value", ["event_type"]
    )
    after = _day_mtimes(store)
    touched = {d for d in days if after[d] != before[d]}
    n_days = one_day.select(F.to_date("ts")).distinct().count()
    assert len(touched) <= n_days  # only the hit partitions rewritten
    assert len(touched) < len(days)
    # and the merged state is still exact
    assert _state(store, "ev_rollup") == _expected(
        events.unionByName(one_day)
    )


def _day_mtimes(store):
    """Newest file mtime per day partition of the current version; a
    day carried over from the parent is hard-linked, so its files keep
    their mtime."""
    root = store.current_path("ev_rollup")
    return {
        os.path.basename(d): max(
            os.path.getmtime(f) for f in glob.glob(os.path.join(d, "*.parquet"))
        )
        for d in glob.glob(os.path.join(root, "_pday=*"))
    }


def test_repair_after_update_delete(spark, events, tmp_path):
    """Mutating historical rows (value updates + row deletes) then
    repairing recomputes only the invalidated days — final state
    equals a from-scratch rollup of the mutated table, and day
    partitions holding no changed rows keep their files."""
    store = TableStore(spark, str(tmp_path / "store"))
    apply_rollup_delta(
        store, "ev_rollup", events, "ts", "value", ["event_type"]
    )
    before = _day_mtimes(store)

    # mutations confined to the first 3 days: the repair must leave
    # every later day's files alone.
    cut = [
        r[0]
        for r in events.select(F.to_date("ts").alias("d"))
        .distinct()
        .orderBy("d")
        .limit(3)
        .collect()
    ]
    in_cut = F.to_date("ts").isin(cut)
    deleted = events.filter(in_cut & (F.col("event_id") % 97 == 0))
    updated = events.filter(
        in_cut & (F.col("user_id") % 11 == 0) & (F.col("event_id") % 97 != 0)
    ).withColumn("value", F.col("value") + 1)
    untouched_rows = events.join(
        deleted.select("event_id").unionByName(updated.select("event_id")),
        "event_id",
        "anti",
    )
    replica = untouched_rows.unionByName(updated)
    days = affected_days(
        updated, deleted.unionByName(updated.withColumn("value", F.col("value"))), "ts"
    )
    assert {str(d) for d in days} <= {str(d) for d in cut}
    rollup_repair_days(
        store, "ev_rollup", replica, days, "ts", "value", ["event_type"]
    )
    assert _state(store, "ev_rollup") == _expected(replica)
    after = _day_mtimes(store)
    days_s = {str(x) for x in days}
    untouched = {d for d in before if d[6:] not in days_s}
    assert untouched and all(after[d] == before[d] for d in untouched)


def test_repair_drops_fully_deleted_day(spark, events, tmp_path):
    """Deleting every row of one day must remove that day's partition
    from the new version."""
    store = TableStore(spark, str(tmp_path / "store"))
    apply_rollup_delta(
        store, "ev_rollup", events, "ts", "value", ["event_type"]
    )
    target = events.select(F.to_date("ts").alias("d")).distinct().orderBy("d").first()[0]
    deleted = events.filter(F.to_date("ts") == target)
    replica = events.filter(F.to_date("ts") != target)
    days = affected_days(None, deleted, "ts")
    assert days == [target]
    rollup_repair_days(
        store, "ev_rollup", replica, days, "ts", "value", ["event_type"]
    )
    root = store.current_path("ev_rollup")
    assert not os.path.exists(os.path.join(root, f"_pday={target}"))
    assert _state(store, "ev_rollup") == _expected(replica)
