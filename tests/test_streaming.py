"""Structured Streaming CDC loop: two snapshot drops → two incremental
micro-batches through foreachBatch; windowed event rollup parity."""

from pyspark.sql import Row, functions as F

from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import TableSpec
from updater_spark.sources.store import TableStore
from updater_spark.streaming.cdc_stream import run_cdc_stream, windowed_event_counts


def test_cdc_stream_two_snapshots(spark, tmp_path):
    spec = TableSpec("items", "id")
    store = TableStore(spark, str(tmp_path / "store"))
    engine = CdcEngine(store)
    src_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")

    s0 = spark.createDataFrame([Row(id=i, v=i * 10) for i in range(1, 101)])
    s0.coalesce(1).write.mode("append").parquet(src_dir)

    q = run_cdc_stream(
        spark, engine, spec, src_dir, s0.schema, ckpt, available_now=True
    )
    q.awaitTermination(120)
    assert store.read("items").count() == 100

    # second snapshot: 5 changed rows arrive as a new file drop.
    # (file source appends rows; the CDC update treats the micro-batch
    # as the delta source — changed rows upsert by pk)
    s1 = spark.createDataFrame([Row(id=i, v=i * 10 + 1) for i in range(1, 6)])
    s1.coalesce(1).write.mode("append").parquet(src_dir)
    q = run_cdc_stream(
        spark, engine, spec, src_dir, s0.schema, ckpt, available_now=True
    )
    q.awaitTermination(120)

    items = store.read("items")
    assert items.count() == 100
    changed = {r["id"]: r["v"] for r in items.filter(F.col("id") <= 5).collect()}
    assert changed == {i: i * 10 + 1 for i in range(1, 6)}


def test_apply_delta_feed_and_stats(spark, tmp_path):
    """A delta-feed epoch deletes nothing, so its ``__deleted`` feed is
    empty (not the previous epoch's keys, which downstream consumers
    would re-apply), and its stats count updates like update()'s."""
    spec = TableSpec("items", "id")
    store = TableStore(spark, str(tmp_path / "store"))
    engine = CdcEngine(store)
    schema = "id long, v long"
    s0 = [(i, 10 * i) for i in range(1, 11)]
    engine.update(spec, spark.createDataFrame(s0, schema))
    engine.update(spec, spark.createDataFrame(s0[:-1], schema))
    assert [r["id"] for r in store.read("items__deleted").collect()] == [10]

    stats = engine.apply_delta(
        spec, spark.createDataFrame([(1, 11), (2, 20), (20, 200)], schema)
    )
    assert store.read("items__deleted").count() == 0
    assert (stats.upserts, stats.updates, stats.deletes) == (2, 1, 0)
    assert stats.deletes_applied and stats.total_rows == 10
    assert sorted(tuple(r) for r in store.read("items__delta").collect()) == [
        (1, 11),
        (20, 200),
    ]


def test_windowed_event_counts_batch_parity(spark):
    import datetime as dt

    rows = [
        Row(ts=dt.datetime(2026, 1, 1, h, m), event_type=t, value=1.5)
        for h in (0, 1)
        for m in (5, 55)
        for t in ("click", "view")
    ]
    df = spark.createDataFrame(rows)
    out = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(df, window="1 hour").collect()
    }
    assert out[("2026-01-01 00:00:00", "click")] == (2, 3.0)
    assert len(out) == 4


def test_sessionize_stream(spark, tmp_path):
    """session_window streaming sessions match the batch gaps-and-
    islands sessionizer on the same data."""
    import datetime as dt

    from updater_spark.operators.sessionize import sessionize, sessionize_stream

    rows = [
        Row(ts=dt.datetime(2026, 1, 1, 0, m), user_id=u, value=1.0, event_id=i)
        for i, (u, m) in enumerate(
            [(1, 0), (1, 10), (1, 55), (2, 5)]  # user 1: gap 45min → 2 sessions
        )
    ]
    src = str(tmp_path / "sess_ev")
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "ts timestamp, user_id long, value double, event_id long"
    ).parquet(src)
    agg = sessionize_stream(stream, gap_minutes=30)
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    assert got == {
        (1, "2026-01-01 00:00:00"): 2,
        (1, "2026-01-01 00:55:00"): 1,
        (2, "2026-01-01 00:05:00"): 1,
    }
    # batch twin sees the same session boundaries
    batch = sessionize(spark.createDataFrame(rows), gap_minutes=30)
    assert batch.count() == 3


def test_windowed_event_counts_streaming(spark, tmp_path):
    """Same rollup as a real stream with watermark, via file source."""
    import datetime as dt

    rows = [
        Row(ts=dt.datetime(2026, 1, 1, h, m), event_type="click", value=2.0)
        for h in (0, 1)
        for m in (10, 50)
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, event_type string, value double").parquet(src)
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.format("memory")
        .queryName("ev_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["window_start"]: r["n_events"]
        for r in spark.sql("SELECT * FROM ev_counts").collect()
    }
    assert got == {"2026-01-01 00:00:00": 2, "2026-01-01 01:00:00": 2}


def test_cdc_stream_continuous_rate_limited(spark, tmp_path):
    """Continuous (processing-time) trigger with max_files_per_trigger=1:
    pre-dropped snapshots are admitted ONE file per trigger (the
    PIPE_SIZE/BATCH_SIZE backpressure twin, start.py:45-46), each
    micro-batch running its own delta-apply; the replica converges to
    the union of drops."""
    import time

    spec = TableSpec("citems", "id")
    store = TableStore(spark, str(tmp_path / "store"))
    engine = CdcEngine(store)
    src_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")

    schema = None
    for lo, hi in ((1, 101), (101, 151), (151, 181)):
        snap = spark.createDataFrame(
            [Row(id=i, v=i * 10) for i in range(lo, hi)]
        )
        schema = snap.schema
        snap.coalesce(1).write.mode("append").parquet(src_dir)

    q = run_cdc_stream(
        spark,
        engine,
        spec,
        src_dir,
        schema,
        ckpt,
        available_now=False,
        processing_time="500 milliseconds",
        max_files_per_trigger=1,
    )
    try:
        # Poll for BOTH convergence and progress visibility: the
        # foreachBatch sink commits (making count()==180 observable)
        # before the ProgressReporter appends that batch's entry, so
        # reading recentProgress immediately after convergence can
        # miss the final batch.
        deadline = time.time() + 120
        batches = []
        while time.time() < deadline:
            batches = [
                p for p in (q.recentProgress or []) if p["numInputRows"] > 0
            ]
            if (
                store.exists("citems")
                and store.read("citems").count() == 180
                and len(batches) >= 3
            ):
                break
            time.sleep(1)
        assert store.read("citems").count() == 180
        # rate limit respected: exactly 3 non-empty micro-batches (one
        # per file — maxFilesPerTrigger=1 split admission into three
        # triggers; one batch would have taken all files at once).
        # NB numInputRows over-counts re-scans, so only batch COUNT is
        # asserted.
        assert len(batches) == 3, [p["numInputRows"] for p in batches]
    finally:
        q.stop()


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode watermark semantics across a checkpointed restart:
    run 1 advances the watermark past the 00:00 window and emits it;
    run 2 (same checkpoint) sees a late event for that closed window
    and must DROP it — nothing about the closed window is ever
    re-emitted. This is the state-bounding behavior that lets the
    rollup run forever at 100 TB."""
    import datetime as dt

    from updater_spark.streaming.cdc_stream import windowed_event_counts

    src = str(tmp_path / "late_ev")
    ckpt = str(tmp_path / "late_ckpt")
    schema = "ts timestamp, event_type string, value double"

    def run(table):
        # foreachBatch, not the memory sink: memory can't recover from
        # a checkpoint, and checkpoint recovery is the point here
        emitted = []

        def sink(batch_df, _bid):
            emitted.extend(batch_df.collect())

        stream = spark.readStream.schema(schema).parquet(src)
        agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        q = (
            agg.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r["window_start"], r["n_events"], r["sum_value"]) for r in emitted
        }

    # run 1: events at 00:10 and 10:30 -> watermark lands at 08:30,
    # the 00:00 window closes and is emitted with n=1
    spark.createDataFrame(
        [
            Row(ts=dt.datetime(2026, 1, 1, 0, 10), event_type="click", value=1.0),
            Row(ts=dt.datetime(2026, 1, 1, 10, 30), event_type="click", value=1.0),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    first = run("late_counts_r1")
    assert ("2026-01-01 00:00:00", 1, 1.0) in first

    # run 2, same checkpoint: a LATE event for the closed 00:00 window
    # plus a fresh one. The late row must vanish -- no re-emission, no
    # correction row, and the fresh window (11:00) stays unemitted
    # because the watermark (09:40) hasn't passed it yet
    spark.createDataFrame(
        [
            Row(ts=dt.datetime(2026, 1, 1, 0, 20), event_type="click", value=100.0),
            Row(ts=dt.datetime(2026, 1, 1, 11, 40), event_type="click", value=1.0),
        ]
    ).coalesce(1).write.mode("append").parquet(src)
    second = run("late_counts_r2")
    assert not [r for r in second if r[0] == "2026-01-01 00:00:00"], second
    assert not [r for r in second if r[2] >= 100], second
