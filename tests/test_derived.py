"""Delta-driven derived-table maintenance: repaired state equals a
full rebuild, writes touch only affected hash buckets, emptied tribes
drop out."""

import glob
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from updater_spark.operators.derived import (
    affected_group_ids,
    group_stats,
    stats_bootstrap,
    stats_repair,
)
from updater_spark.sources.store import TableStore

STATS = ["stat_a", "stat_b"]


@pytest.fixture()
def frames(spark):
    # 12 tribes x 20 members
    tribe = spark.createDataFrame([Row(id=t) for t in range(12)])
    member = spark.createDataFrame(
        [
            Row(id_member=t * 100 + i, id_tribe=t)
            for t in range(12)
            for i in range(20)
        ]
    )
    player = spark.createDataFrame(
        [
            Row(id=t * 100 + i, stat_a=t + i, stat_b=(t * i) % 7)
            for t in range(12)
            for i in range(20)
        ]
    )
    return tribe, member, player


def _state(store, table):
    return sorted(
        (r["id"], r["members"], round(r["stat_a"], 9), round(r["stat_b"], 9))
        for r in store.read(table).collect()
    )


def _full(tribe, member, player):
    return sorted(
        (r["id"], r["members"], round(r["stat_a"], 9), round(r["stat_b"], 9))
        for r in group_stats(tribe, member, player, STATS).collect()
    )


def _bucket_mtimes(store):
    """Newest file mtime per bucket of the current version; a bucket
    carried over from the parent is hard-linked, so its files keep
    their mtime."""
    root = store.current_path("tstats")
    return {
        os.path.basename(d): max(
            os.path.getmtime(f) for f in glob.glob(os.path.join(d, "*.parquet"))
        )
        for d in glob.glob(os.path.join(root, "_bucket=*"))
    }


def test_repair_equals_full_rebuild_and_prunes_buckets(spark, frames, tmp_path):
    tribe, member, player = frames
    store = TableStore(spark, str(tmp_path / "store"))
    stats_bootstrap(store, "tstats", tribe, member, player, STATS, buckets=8)
    assert _state(store, "tstats") == _full(tribe, member, player)
    before = _bucket_mtimes(store)
    assert len(before) >= 4  # tribes spread over several buckets

    # mutate players of tribes 0 and 1 only
    changed = player.filter(F.col("id") < 200).select("id")
    player2 = player.withColumn(
        "stat_a",
        F.when(F.col("id") < 200, F.col("stat_a") + 10).otherwise(
            F.col("stat_a")
        ),
    )
    stats_repair(
        store, "tstats", tribe, member, player2, STATS, changed, buckets=8
    )
    assert _state(store, "tstats") == _full(tribe, member, player2)

    after = _bucket_mtimes(store)
    aff_buckets = {
        f"_bucket={r[0]}"
        for r in affected_group_ids(member, changed)
        .select(F.pmod(F.xxhash64("id_tribe"), F.lit(8)).cast("long"))
        .distinct()
        .collect()
    }
    untouched = {d for d in before if d not in aff_buckets}
    assert untouched and all(after[d] == before[d] for d in untouched)


def test_repair_drops_emptied_tribe(spark, frames, tmp_path):
    """Deleting every player of a tribe removes its stats row."""
    tribe, member, player = frames
    store = TableStore(spark, str(tmp_path / "store"))
    stats_bootstrap(store, "tstats", tribe, member, player, STATS, buckets=8)

    gone = player.filter(F.col("id").between(300, 399)).select("id")  # tribe 3
    player2 = player.filter(~F.col("id").between(300, 399))
    member2 = member.filter(~F.col("id_member").between(300, 399))
    stats_repair(
        store,
        "tstats",
        tribe,
        member2,
        player2,
        STATS,
        gone,
        buckets=8,
        member_before=member,
    )
    ids = {r["id"] for r in store.read("tstats").collect()}
    assert 3 not in ids
    assert _state(store, "tstats") == _full(tribe, member2, player2)


def test_repair_with_inserts(spark, frames, tmp_path):
    """A brand-new tribe arriving in the delta lands in the state."""
    tribe, member, player = frames
    store = TableStore(spark, str(tmp_path / "store"))
    stats_bootstrap(store, "tstats", tribe, member, player, STATS, buckets=8)

    tribe2 = tribe.unionByName(spark.createDataFrame([Row(id=99)]))
    new_members = spark.createDataFrame(
        [Row(id_member=9900 + i, id_tribe=99) for i in range(5)]
    )
    new_players = spark.createDataFrame(
        [Row(id=9900 + i, stat_a=i, stat_b=i * 2) for i in range(5)]
    )
    member2 = member.unionByName(new_members)
    player2 = player.unionByName(new_players)
    stats_repair(
        store,
        "tstats",
        tribe2,
        member2,
        player2,
        STATS,
        new_players.select("id"),
        buckets=8,
    )
    assert _state(store, "tstats") == _full(tribe2, member2, player2)
