"""Structured Streaming wrapper for the CDC loop.

The reference is a periodically-run batch job (one ``docker run`` per
cycle, /root/reference/Dockerfile:15, start.py:73-83); its "streaming"
is intra-job asyncio pipelining. The idiomatic Spark re-expression
(SURVEY.md §2.6, BASELINE.json north star) is Structured Streaming
with ``foreachBatch``: each arriving file drop triggers one
micro-batch that runs the diff → fetch → changelog → merge →
fingerprint-rotation epoch via ``CdcEngine.apply_delta`` — the same
sequence as ``CdcEngine.update``, over a delta feed (arriving rows
upsert; nothing is deleted). State
between triggers lives in the TableStore (storage, not operator
state) — exactly how Spark wants externally-checkpointed incremental
jobs structured.

``Trigger.AvailableNow`` replaces cron (drain whatever snapshots
arrived, then stop); a processing-time trigger gives the continuous
mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import TableSpec


def run_cdc_stream(
    spark: SparkSession,
    engine: CdcEngine,
    spec: TableSpec,
    source_dir: str,
    source_schema,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "60 seconds",
    max_files_per_trigger: int = 10000,
):
    """Watch ``source_dir`` for parquet drops of arriving rows; run one
    ``apply_delta`` epoch per micro-batch. Returns the StreamingQuery.

    The file-source micro-batch delivers the new rows, and
    ``foreachBatch`` runs the batch CDC epoch against them as a delta
    feed — per-trigger transactionality comes from the TableStore's
    atomic version promotion.

    ``max_files_per_trigger`` is the backpressure knob — the
    Structured-Streaming twin of the reference's bounded-queue
    ``PIPE_SIZE``/``BATCH_SIZE`` env settings (start.py:45-46): it caps
    how much source data one trigger admits, bounding per-batch memory
    and state-churn regardless of how far behind the stream is.
    """
    stream = (
        spark.readStream.schema(source_schema)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # pin the micro-batch FIRST: apply_delta runs several actions
        # (fingerprint join, changelog, merge, counts) and each would
        # otherwise re-list and re-scan the trigger's source files —
        # measured 3-10 redundant scans per batch without the persist.
        # The emptiness probe then doubles as the cache warm-up
        # instead of being its own scan.
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            # micro-batches carry only arriving rows → delta-apply
            # (upsert, never delete); full-snapshot diffs belong to
            # batch update()
            engine.apply_delta(spec, batch_df)
        finally:
            batch_df.unpersist()

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window rollup with late-data handling —
    works identically on a batch DataFrame and a streaming one
    (the streaming variant drops data later than ``watermark``)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return src.groupBy(
        F.window("ts", window).alias("w"), F.col("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    ).select(
        F.col("w.start").cast("string").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )
