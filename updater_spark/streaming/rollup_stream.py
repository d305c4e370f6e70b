"""Streaming continuous aggregate: the rollup pyramid maintained by
Structured Streaming micro-batches with partition-pruned state writes.

The reference rebuilds its derived tables from scratch every cycle
(post_update.py:19-91: tribe_active/tribe_stats are TRUNCATE +
re-aggregate). The streaming twin keeps a time-bucketed rollup
(operators/rollup.py state: count / integerized sum / min / max)
incrementally: each micro-batch aggregates only its arriving rows
(``bucket_rollup``), then folds that delta into the stored state
(``rollup_merge``) — exact by the merge property tested in
tests/test_rollup.py, no matter how the stream slices the data.

Scale design — the state write is partition-pruned, not full-rewrite:
the stored rollup is hash-partitioned by day (``_pday =
to_date(bucket_ts)``), and a micro-batch only reads + rewrites the
day-partitions its delta touches (TableStore.overwrite_partitions:
the other days' files are hard-linked into the new version). Event
streams are time-ordered in practice, so a trigger touches the last
day or two: per-trigger I/O is
O(touched days' state), not O(all history) — the same
write-amplification lever as the partitioned CDC replica
(plans/cdc.py). Aggregation state lives in storage, not Spark
operator state, so there is no watermark requirement and no state
store growth; late data lands in whatever old bucket it belongs to
and simply rewrites that day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from updater_spark.operators.rollup import bucket_rollup, rollup_merge
from updater_spark.sources.store import TableStore

__all__ = [
    "apply_rollup_delta",
    "affected_days",
    "rollup_repair_days",
    "run_rollup_stream",
]

PART_COL = "_pday"


def apply_rollup_delta(
    store: TableStore,
    table: str,
    batch: DataFrame,
    ts_col: str,
    value_col: str,
    keys: list[str],
    bucket: str = "hour",
) -> None:
    """Fold one batch of raw events into the stored rollup. Reads and
    rewrites ONLY the day-partitions the batch touches."""
    delta = bucket_rollup(batch, ts_col, value_col, keys, bucket).withColumn(
        PART_COL, F.to_date("bucket_ts")
    )
    if not store.exists(table):
        # align tasks with day-partitions before the write: without it
        # every aggregation task holds a mix of days and emits a file
        # into EVERY day directory (tasks x days tiny files; measured
        # 4x the files per micro-batch at sf0.1). Rollup state per day
        # is bounded (buckets x keys), so a one-task day is the right
        # shape even at 100 TB of raw events. An all-empty first batch
        # writes an empty version, which reads by its _SCHEMA.
        store.write(table, delta.repartition(PART_COL), partition_by=[PART_COL])
        return
    # TWO jobs per micro-batch, no more: (1) aggregate the delta,
    # persist it, collect its touched-day list (tiny — a trigger spans
    # hours, not years; this one action doubles as the emptiness
    # probe, so callers don't need a separate isEmpty job); (2) merge
    # with the day-pruned state read and overwrite those days. At
    # micro-batch cadence, per-action job overhead is the cost model.
    delta = delta.persist()
    try:
        days = [r[0] for r in delta.select(PART_COL).distinct().collect()]
        if not days:
            return  # empty batch: nothing to fold
        current = store.read(table).filter(F.col(PART_COL).isin(days))
        merged = rollup_merge(
            current.drop(PART_COL), delta.drop(PART_COL), keys
        ).withColumn(PART_COL, F.to_date("bucket_ts"))
        store.overwrite_partitions(
            table, merged.repartition(PART_COL), PART_COL, days
        )
    finally:
        delta.unpersist()


def affected_days(
    upserts: DataFrame | None,
    preimages: DataFrame | None,
    ts_col: str,
) -> list:
    """The day-partitions a mutation batch can touch: days holding the
    NEW version of changed rows (``upserts``) plus days holding the OLD
    version of updated/deleted rows (``preimages`` — the changelog's
    pre-images, plans/cdc.py). Collecting is fine: a mutation batch
    spans few distinct days."""
    parts = [
        df.select(F.to_date(ts_col).alias("d"))
        for df in (upserts, preimages)
        if df is not None
    ]
    if not parts:
        return []
    days = parts[0]
    for p in parts[1:]:
        days = days.unionByName(p)
    return [r[0] for r in days.distinct().collect()]


def rollup_repair_days(
    store: TableStore,
    table: str,
    replica: DataFrame,
    days: list,
    ts_col: str,
    value_col: str,
    keys: list[str],
    bucket: str = "hour",
) -> None:
    """Repair the stored rollup after updates/deletes of historical
    rows: recompute ONLY ``days`` (from ``affected_days``) by
    re-aggregating the post-update replica restricted to those days,
    then overwrite them. Everything outside ``days`` is linked into
    the new version unchanged — cost is O(replica rows in touched
    days), and the day filter pushes down to the replica's parquet
    scan.

    min/max cannot retract, so a true delta-merge is impossible under
    deletes; bounded re-aggregation of invalidated partitions is the
    standard repair (the reference's TRUNCATE+rebuild,
    post_update.py:19-91, shrunk to the touched range). A day whose
    rows were ALL deleted produces no replacement rows and is absent
    from the new version."""
    if not days:
        return
    src = replica.filter(F.to_date(ts_col).isin(days))
    delta = bucket_rollup(src, ts_col, value_col, keys, bucket).withColumn(
        PART_COL, F.to_date("bucket_ts")
    )
    # task/day alignment (see apply_rollup_delta): the repair runs at
    # batch shuffle parallelism, which otherwise fans tasks x days
    # files into the overwritten directories
    store.overwrite_partitions(
        table, delta.repartition(PART_COL), PART_COL, days
    )


def run_rollup_stream(
    spark: SparkSession,
    store: TableStore,
    table: str,
    source_dir: str,
    source_schema,
    checkpoint_dir: str,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: list[str] | None = None,
    bucket: str = "hour",
    available_now: bool = True,
    processing_time: str = "60 seconds",
    max_files_per_trigger: int = 10000,
):
    """Watch ``source_dir`` for event parquet drops; maintain the
    bucketed rollup incrementally, one merge per micro-batch. Returns
    the StreamingQuery. Read the current aggregate any time with
    ``store.read(table)`` (drop ``_pday``); coarsen it
    with ``rollup_coarsen`` — never re-reading raw events."""
    keys = keys or []
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # no isEmpty probe and no raw-batch persist: the batch is read
        # exactly ONCE (by the delta aggregation), and the delta's own
        # touched-day collect doubles as the emptiness check — one
        # fewer job per micro-batch, which is the dominant cost at
        # trigger cadence
        apply_rollup_delta(
            store, table, batch_df, ts_col, value_col, keys, bucket
        )

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
