"""Join-view IVM: repair == full rejoin under inserts, value-moving
updates, and deletes on both sides; only touched buckets rewritten;
emptied buckets dropped; pre-images are load-bearing (negative test)."""

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from updater_spark.operators.joinview import (
    affected_join_values,
    join_view_bootstrap,
    join_view_repair,
)
from updater_spark.sources.store import TableStore

B = 8


def _a(spark, rows):
    return spark.createDataFrame(
        [Row(pk=p, j=j, av=v) for p, j, v in rows]
    )


def _b(spark, rows):
    return spark.createDataFrame(
        [Row(bk=p, j=j, bv=v) for p, j, v in rows]
    )


A0 = [(1, 10, "a1"), (2, 10, "a2"), (3, 20, "a3"), (4, 30, "a4"), (5, 40, "a5"),
      (7, 60, "a7"), (8, 61, "a8")]
B0 = [(100, 10, "b1"), (101, 20, "b2"), (102, 20, "b3"), (103, 30, "b4"),
      (104, 50, "b5"), (105, 60, "b6"), (106, 61, "b7")]


def _state(store, name):
    return {
        tuple(r)
        for r in store.read(name)
        .select("j", "pk", "av", "bk", "bv")
        .collect()
    }


def _full(a, b):
    return {
        tuple(r) for r in a.join(b, "j").select("j", "pk", "av", "bk", "bv").collect()
    }


def _bucket_mtimes(store):
    """Newest file mtime per bucket of the current version; a bucket
    carried over from the parent is hard-linked, so its files keep
    their mtime."""
    root = store.current_path("v")
    return {
        os.path.basename(d): max(
            os.path.getmtime(f)
            for f in glob.glob(os.path.join(d, "*.parquet"))
        )
        for d in glob.glob(os.path.join(root, "_jbucket=*"))
    }


def test_repair_equals_full_rejoin(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "store"))
    a0, b0 = _a(spark, A0), _b(spark, B0)
    join_view_bootstrap(store, "v", a0, b0, "j", buckets=B)
    assert _state(store, "v") == _full(a0, b0)

    # epoch: A inserts pk=6 (j=20); pk=3 MOVES j 20→10; pk=4 deleted.
    #        B: bk=101 value update (j stays 20); bk=100 deleted.
    a1 = _a(
        spark,
        [(1, 10, "a1"), (2, 10, "a2"), (3, 10, "a3m"), (5, 40, "a5"),
         (6, 20, "a6"), (7, 60, "a7"), (8, 61, "a8")],
    )
    b1 = _b(
        spark,
        [(101, 20, "b2u"), (102, 20, "b3"), (103, 30, "b4"),
         (104, 50, "b5"), (105, 60, "b6"), (106, 61, "b7")],
    )
    aff_a = affected_join_values(
        post_images=a1.filter(F.col("pk").isin(3, 6)),  # epoch's upserts
        pre_images=a0.filter(F.col("pk").isin(3, 4)),  # moved + deleted
        on="j",
    )
    aff_b = affected_join_values(
        post_images=b1.filter(F.col("bk") == 101),
        pre_images=b0.filter(F.col("bk").isin(100, 101)),
        on="j",
    )
    before = _bucket_mtimes(store)
    n = join_view_repair(
        store, "v", a1, b1, "j", aff_a.unionByName(aff_b), buckets=B
    )
    assert n > 0
    assert _state(store, "v") == _full(a1, b1)
    # untouched buckets' files were not rewritten (j=40/50 never match)
    after = _bucket_mtimes(store)
    untouched = [
        d for d in before if d in after and after[d] == before[d]
    ]
    assert untouched, "every bucket was rewritten — no pruning"


def test_emptied_bucket_dropped_and_noop_epoch(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "store"))
    a0 = _a(spark, [(1, 10, "a1")])
    b0 = _b(spark, [(100, 10, "b1")])
    join_view_bootstrap(store, "v", a0, b0, "j", buckets=B)
    # delete the only A row → its bucket must disappear
    a1 = a0.filter("pk <> 1")
    n = join_view_repair(
        store,
        "v",
        a1,
        b0,
        "j",
        affected_join_values(None, a0, "j"),
        buckets=B,
    )
    assert n == 1
    # every bucket dropped: the version has no partition directory
    # and reads as zero rows through its _SCHEMA
    root = store.current_path("v")
    assert not glob.glob(os.path.join(root, "_jbucket=*"))
    assert store.read("v").count() == 0
    # no-op epoch: empty affected set rewrites nothing
    assert (
        join_view_repair(
            store, "v", a1, b0, "j", a1.select("j").limit(0), buckets=B
        )
        == 0
    )


def test_prebucketed_base_path(spark, tmp_path):
    """A base table already carrying the view's bucket column (the
    partitioned-CDC replica layout) takes the directory-pruned path
    and must produce the identical view."""
    from updater_spark.operators.joinview import PART_COL, _bucket

    store = TableStore(spark, str(tmp_path / "store"))
    a0, b0 = _a(spark, A0), _b(spark, B0)
    join_view_bootstrap(store, "v", a0, b0, "j", buckets=B)
    a1 = _a(spark, [r for r in A0 if r[0] != 1] + [(9, 20, "a9")])
    store.write(
        "a_rep",
        a1.withColumn(PART_COL, _bucket(F.col("j"), B)),
        partition_by=[PART_COL],
    )
    aff = affected_join_values(
        a1.filter("pk = 9"), a0.filter("pk = 1"), "j"
    )
    join_view_repair(
        store, "v", store.read("a_rep"), b0, "j", aff, buckets=B
    )
    assert _state(store, "v") == _full(a1, b0)


def test_preimages_are_load_bearing(spark, tmp_path):
    """Feeding only post-images misses the OLD slice of a moved join
    value — the view keeps a stale row. This pins WHY the API demands
    pre-images rather than silently accepting their absence."""
    store = TableStore(spark, str(tmp_path / "store"))
    a0 = _a(spark, [(1, 10, "a1"), (2, 20, "a2")])
    b0 = _b(spark, [(100, 10, "b1"), (101, 20, "b2")])
    join_view_bootstrap(store, "v", a0, b0, "j", buckets=B)
    a1 = _a(spark, [(1, 20, "a1m"), (2, 20, "a2")])  # pk=1 moves 10→20
    join_view_repair(
        store,
        "v",
        a1,
        b0,
        "j",
        affected_join_values(a1.filter("pk = 1"), None, "j"),
        buckets=B,
    )
    state = _state(store, "v")
    assert (10, 1, "a1", 100, "b1") in state  # the stale ghost row
    assert state != _full(a1, b0)
    # with the pre-image the same epoch is exact
    join_view_repair(
        store,
        "v",
        a1,
        b0,
        "j",
        affected_join_values(a1.filter("pk = 1"), a0.filter("pk = 1"), "j"),
        buckets=B,
    )
    assert _state(store, "v") == _full(a1, b0)
    with pytest.raises(ValueError):
        affected_join_values(None, None, "j")
