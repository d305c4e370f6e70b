"""Delta-driven derived-table maintenance: recompute only the groups
a CDC delta touched.

The reference rebuilds its per-tribe aggregates from scratch every
cycle (post_update.py:19-91: TRUNCATE tribe_active, re-aggregate all
tribes). At 100 TB the rebuild is O(all members) per cycle even when
one player changed. The incremental form inverts it:

1. ``affected_group_ids`` — the groups containing any changed row
   (broadcast semi-join against the changed-key set; output is
   O(|delta|), tiny).
2. ``group_stats`` restricted to the affected groups — the member and
   player scans are semi-join-pruned, so the recompute joins touch
   only the affected groups' rows.
3. A hash-bucket partition-pruned write: the stored table is
   partitioned by ``pmod(xxhash64(id), B)``; only buckets holding
   affected groups are rewritten (the same write-amplification lever
   as the partitioned CDC replica, plans/cdc.py, and the rollup
   repair, streaming/rollup_stream.py).

Cost per cycle: O(members of affected groups) compute +
O(buckets touched / B) of the stored table rewritten — both scale
with the delta, not the corpus. A group whose rows all disappeared
drops out of the recompute and is anti-joined away; a bucket emptied
entirely is absent from the new version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from updater_spark.sources.store import TableStore

__all__ = [
    "affected_group_ids",
    "group_stats",
    "stats_bootstrap",
    "stats_repair",
]

PART_COL = "_bucket"


def _bucket(col, buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("long")


def group_stats(
    tribe: DataFrame,
    member: DataFrame,
    player: DataFrame,
    stat_columns: list[str],
) -> DataFrame:
    """Per-tribe member count + SUM(stat)/sqrt(members) for each stat
    column — the reference's steady-state formula (post_update.py:
    57-66) without the run-scoped ``active`` count (that belongs to
    tribe_active, not to maintained state). Partial-aggregates
    map-side; the shuffle carries one row per (partition, tribe)."""
    t = tribe.select(F.col("id"))
    m = member.select(
        F.col("id_member").alias("_m_id"), F.col("id_tribe").alias("_m_tribe")
    )
    p = player.select(F.col("id").alias("_p_id"), *stat_columns)
    joined = t.join(m, t["id"] == m["_m_tribe"], "inner").join(
        p, p["_p_id"] == m["_m_id"], "inner"
    )
    div = F.sqrt(F.count("_m_id"))
    return joined.groupBy("id").agg(
        F.count("_m_id").alias("members"),
        *[(F.sum(c) / div).alias(c) for c in stat_columns],
    )


def affected_group_ids(
    member: DataFrame, changed_players: DataFrame
) -> DataFrame:
    """Distinct tribe ids containing any changed player (updated,
    inserted, or deleted — pass the union of their keys). The changed
    set is a CDC delta: small, so it broadcasts."""
    ch = changed_players.select(F.col("id").alias("id_member")).distinct()
    return (
        member.join(F.broadcast(ch), "id_member", "semi")
        .select("id_tribe")
        .distinct()
    )


def stats_bootstrap(
    store: TableStore,
    table: str,
    tribe: DataFrame,
    member: DataFrame,
    player: DataFrame,
    stat_columns: list[str],
    buckets: int = 16,
) -> None:
    """Full compute + hash-bucket-partitioned write (first run)."""
    full = group_stats(tribe, member, player, stat_columns)
    store.write(
        table,
        full.withColumn(PART_COL, _bucket(F.col("id"), buckets)),
        partition_by=[PART_COL],
    )


def stats_repair(
    store: TableStore,
    table: str,
    tribe: DataFrame,
    member: DataFrame,
    player: DataFrame,
    stat_columns: list[str],
    changed_players: DataFrame,
    buckets: int = 16,
    member_before: DataFrame | None = None,
) -> None:
    """Fold a delta into the stored per-tribe stats: recompute ONLY
    tribes containing changed players, rewrite ONLY their hash
    buckets. ``member`` and ``player`` are the POST-update state;
    ``changed_players`` is the delta's key set (include deleted keys
    so emptied tribes are re-evaluated and dropped).

    Deletes and tribe moves: the post-update membership can no longer
    map a removed/moved player to its OLD tribe, so that tribe would
    keep stale stats. Pass ``member_before`` (pre-update membership —
    the changelog pre-image, plans/cdc.py) whenever the delta contains
    deletes or membership changes; affected tribes are then taken over
    the union of both versions."""
    lookup = member
    if member_before is not None:
        lookup = member.select("id_member", "id_tribe").unionByName(
            member_before.select("id_member", "id_tribe")
        )
    aff = affected_group_ids(lookup, changed_players).persist()
    try:
        touched = [
            r[0]
            for r in aff.select(
                _bucket(F.col("id_tribe"), buckets).alias("b")
            )
            .distinct()
            .collect()
        ]
        if not touched:
            return
        # gate the affected-tribe broadcasts on the measured count
        # (aff is persisted, so the count is free): normal churn keeps
        # this tiny, but a bulk re-ingest touching most tribes must
        # degrade to a shuffle join, not a multi-GB broadcast
        from updater_spark.operators.merge import (
            BROADCAST_KEY_LIMIT,
            _maybe_broadcast,
        )

        hint = aff.count() < BROADCAST_KEY_LIMIT
        aff_t = _maybe_broadcast(
            aff.select(F.col("id_tribe").alias("id")), hint
        )
        # semi-join-pruned recompute: only affected tribes' members flow
        m_aff = member.join(_maybe_broadcast(aff, hint), "id_tribe", "semi")
        new_stats = group_stats(
            tribe.join(aff_t, "id", "semi"), m_aff, player, stat_columns
        ).withColumn(PART_COL, _bucket(F.col("id"), buckets))

        kept = (
            store.read(table)
            .filter(F.col(PART_COL).isin(touched))
            .join(aff_t, "id", "anti")
        )
        merged = kept.unionByName(new_stats.select(*kept.columns))
        store.overwrite_partitions(table, merged, PART_COL, touched)
    finally:
        aff.unpersist()
