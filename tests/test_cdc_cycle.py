"""End-to-end CDC scenario tests (SURVEY.md §5.2-5.3, FIXTURES.md):
bootstrap → mutate source → incremental update → replica ≡ source,
changelog = pre-images, fingerprints consistent, delete guard.
"""

import random

import pytest
from pyspark.sql import Row, functions as F

from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import MEMBER, PLAYER, TRIBE

N_PLAYERS = 10_000  # FIXTURES.md: e2e scenario at >=10k players
STAT_COLS = [
    "cheese_gathered",
    "first",
    "round_played",
    "shaman_cheese",
    "saved_mice",
    "saved_mice_hard",
    "saved_mice_divine",
    "survivor_survivor_count",
    "survivor_mouse_killed",
    "survivor_shaman_count",
    "survivor_round_played",
    "racing_first",
    "racing_podium",
    "racing_round_played",
    "racing_finished_map",
    "defilante_points",
    "defilante_round_played",
    "defilante_finished_map",
]


def make_players(rng, n, start_id=1):
    rows = []
    for i in range(start_id, start_id + n):
        stats = {c: rng.randint(0, 1000) if rng.random() > 0.1 else 0 for c in STAT_COLS}
        name = f"player{i}" if rng.random() < 0.1 else f"player{i}#{i % 10000:04d}"
        rows.append(Row(id=i, name=name, **stats))
    return rows


def snapshot(spark, rows):
    return spark.createDataFrame(rows)


@pytest.fixture()
def rng():
    return random.Random(42)


def data_cols(df):
    return [c for c in df.columns if not c.startswith("score_")]


def test_bootstrap_then_incremental(spark, tmp_store, rng):
    engine = CdcEngine(tmp_store)
    s0 = make_players(rng, N_PLAYERS)
    stats0 = engine.update(PLAYER, snapshot(spark, s0))
    assert stats0.bootstrap and stats0.total_rows == N_PLAYERS

    replica = tmp_store.read("player")
    # scores attached, names normalized
    assert "score_overall" in replica.columns
    assert replica.filter(~F.col("name").contains("#")).count() == 0

    # S1: mutate ~5% update, 2% insert, 1% delete
    by_id = {r.id: r for r in s0}
    updated_ids = rng.sample(sorted(by_id), k=500)  # ~5%
    for i in updated_ids:
        d = by_id[i].asDict()
        d["cheese_gathered"] += 1
        by_id[i] = Row(**d)
    deleted_ids = rng.sample([i for i in by_id if i not in updated_ids], k=100)  # ~1%
    for i in deleted_ids:
        del by_id[i]
    inserts = make_players(rng, 200, start_id=N_PLAYERS + 1)  # ~2%
    s1 = list(by_id.values()) + inserts

    stats1 = engine.update(PLAYER, snapshot(spark, s1))
    assert not stats1.bootstrap
    assert stats1.upserts == 500 + 200
    assert stats1.updates == 500
    assert stats1.deletes == 100 and stats1.deletes_applied
    assert stats1.total_rows == N_PLAYERS - 100 + 200

    # replica data columns ≡ S1 (modulo the name normalization the
    # engine applies on write, download.py:546-555)
    from updater_spark.functions.scores import normalize_names

    replica = tmp_store.read("player")
    src = normalize_names(snapshot(spark, s1))
    dcols = data_cols(replica)
    assert replica.select(*dcols).exceptAll(src.select(*dcols)).count() == 0
    assert src.select(*dcols).exceptAll(replica.select(*dcols)).count() == 0

    # changelog = S0 pre-images of updated rows only
    changelog = tmp_store.read("player__changelog")
    assert changelog.count() == 500
    assert {r["id"] for r in changelog.select("id").collect()} == set(updated_ids)
    # pre-image values are the OLD ones
    old_cheese = {r.id: r.cheese_gathered for r in s0}
    for r in changelog.select("id", "cheese_gathered").collect():
        assert r["cheese_gathered"] == old_cheese[r["id"]]

    # fingerprints rotated to S1
    fps = tmp_store.read("player__fingerprints")
    assert fps.count() == stats1.total_rows
    # idempotency: a third run with the same source sees zero changes
    stats2 = engine.update(PLAYER, snapshot(spark, s1))
    assert stats2.upserts == 0 and stats2.deletes == 0


def test_delete_guard(spark, tmp_store, rng):
    engine = CdcEngine(tmp_store, delete_guard=50)
    s0 = make_players(rng, 200)
    engine.update(PLAYER, snapshot(spark, s0))
    # 60 rows vanish (> guard 50) → deletes skipped, upserts applied
    s1 = s0[:140]
    stats = engine.update(PLAYER, snapshot(spark, s1))
    assert stats.deletes == 60 and not stats.deletes_applied
    assert tmp_store.read("player").count() == 200  # nothing deleted


def test_run_cycle_matches_reference_main(spark, tmp_store, rng):
    """run_cycle = the reference's start.py main: three extracts +
    post_update, bootstrap then incremental."""
    engine = CdcEngine(tmp_store)
    players = make_players(rng, 60)
    tribes = [Row(id=t, name=f"tribe{t}") for t in range(1, 4)]
    members = [Row(id_member=p.id, id_tribe=(p.id % 3) + 1) for p in players]

    stats = engine.run_cycle(
        snapshot(spark, players), snapshot(spark, tribes), snapshot(spark, members)
    )
    assert all(s.bootstrap for s in stats.values())
    assert tmp_store.read("tribe_stats").count() == 3

    # incremental: bump one player in tribe 2 (ids with id%3==1)
    by_id = {p.id: p for p in players}
    d = by_id[1].asDict()
    d["cheese_gathered"] += 9
    by_id[1] = Row(**d)
    stats2 = engine.run_cycle(
        snapshot(spark, list(by_id.values())),
        snapshot(spark, tribes),
        snapshot(spark, members),
    )
    assert not stats2["player"].bootstrap and stats2["player"].upserts == 1
    active = tmp_store.read("tribe_active")
    rows = {r["id"]: r for r in active.collect()}
    assert set(rows) == {(1 % 3) + 1}  # only the updated player's tribe


def test_post_update_aggregates(spark, tmp_store, rng):
    engine = CdcEngine(tmp_store)
    players = make_players(rng, 100)
    tribes = [Row(id=t, name=f"tribe{t}") for t in range(1, 11)]
    members = [
        Row(id_member=p.id, id_tribe=(p.id % 10) + 1) for p in players[:80]
    ]
    engine.update(PLAYER, snapshot(spark, players))
    engine.update(TRIBE, snapshot(spark, tribes))
    engine.update(MEMBER, snapshot(spark, members))
    engine.post_update(TRIBE, was_bootstrap=True)
    stats = tmp_store.read("tribe_stats")
    assert stats.count() == 10  # every tribe has members
    row = stats.filter(F.col("id") == 1).collect()[0]
    member_ids = {m.id_member for m in members if m.id_tribe == 1}
    assert row["members"] == len(member_ids)
    # bootstrap: every member was in player__delta → active == members
    assert row["active"] == row["members"]
    import math

    expected = sum(p.cheese_gathered for p in players if p.id in member_ids) / math.sqrt(
        len(member_ids)
    )
    assert abs(row["cheese_gathered"] - expected) < 1e-9

    # incremental branch: update a few players, rerun post_update
    by_id = {p.id: p for p in players}
    for i in [11, 21]:  # members of tribe 2
        d = by_id[i].asDict()
        d["cheese_gathered"] += 5
        by_id[i] = Row(**d)
    engine.update(PLAYER, snapshot(spark, list(by_id.values())))
    engine.post_update(TRIBE, was_bootstrap=False)
    active = tmp_store.read("tribe_active")
    # only tribe 2 has updated members; quirk: members counts only
    # *updated* members (post_update.py:36-37 inner join player_new)
    rows = {r["id"]: r for r in active.collect()}
    assert set(rows) == {2}
    assert rows[2]["members"] == 2 and rows[2]["active"] == 2


def test_changelog_epochs_and_compaction(spark, tmp_store, rng):
    """Each update run stamps its pre-images with a monotonic _epoch;
    compaction collapses the per-run small files and per-epoch
    retention drops old history (SURVEY.md §9.3)."""
    import os

    from updater_spark.schema import TableSpec

    spec = TableSpec(name="t", primary_key="id")
    engine = CdcEngine(tmp_store)

    def snap(bump):
        return spark.createDataFrame(
            [Row(id=i, v=i + (bump if i % 10 == 0 else 0)) for i in range(100)]
        )

    engine.update(spec, snap(0))  # bootstrap: no changelog entries
    for run in (1, 2, 3):
        engine.update(spec, snap(run))

    chg = engine.changelog("t")
    assert engine.current_epoch("t") == 3
    epochs = {r["_epoch"] for r in chg.select("_epoch").distinct().collect()}
    assert epochs == {1, 2, 3}
    # every epoch archived the 10 updated keys' pre-images
    per_epoch = {
        r["_epoch"]: r["n"]
        for r in chg.groupBy("_epoch").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_epoch == {1: 10, 2: 10, 3: 10}

    data_dir = tmp_store._appendable_dir("t__changelog")
    files_before = len([f for f in os.listdir(data_dir) if f.endswith(".parquet")])
    assert files_before >= 3  # one+ per run: the small-file problem

    engine.compact_changelog("t", num_files=1)
    compacted_dir = tmp_store._appendable_dir("t__changelog")
    assert compacted_dir != data_dir
    files_after = len(
        [f for f in os.listdir(compacted_dir) if f.endswith(".parquet")]
    )
    assert files_after == 1
    assert engine.changelog("t").count() == 30  # lossless

    # retention: keep the last 2 epochs only
    engine.compact_changelog("t", keep_epochs=2)
    kept = {r["_epoch"] for r in engine.changelog("t").select("_epoch").collect()}
    assert kept == {2, 3}

    # appends continue against the compacted directory
    engine.update(spec, snap(9))
    assert engine.current_epoch("t") == 4
    assert engine.changelog("t").filter(F.col("_epoch") == 4).count() == 10


def test_changelog_auto_compaction_policy(spark, tmp_store):
    """compact_every=2 keeps the changelog at one file per 2 runs."""
    import os

    from updater_spark.schema import TableSpec

    spec = TableSpec(name="t2", primary_key="id")
    engine = CdcEngine(tmp_store, compact_every=2)

    def snap(bump):
        return spark.createDataFrame(
            [Row(id=i, v=i + (bump if i % 10 == 0 else 0)) for i in range(100)]
        )

    engine.update(spec, snap(0))  # bootstrap
    for run in (1, 2, 3, 4):
        engine.update(spec, snap(run))

    d = tmp_store._appendable_dir("t2__changelog")
    files = [f for f in os.listdir(d) if f.endswith(".parquet")]
    assert len(files) == 1  # epoch-4 compaction just collapsed everything
    assert engine.changelog("t2").count() == 40  # lossless (no retention set)


def test_fingerprints_rotate_from_the_diff_not_a_rescan(
    spark, tmp_store, tmp_path, monkeypatch
):
    """A source that changes between two of its scans (a JDBC query
    re-runs on each) must not lose the change. The fingerprint cache
    records the hashes the diff compared, so a row that changed after
    the diff is still seen as changed by the next epoch; a cache built
    from a second scan would hold the new hash while the replica holds
    the old row, and that row would never be fetched."""
    from updater_spark.schema import TableSpec

    flag = tmp_path / "flag"
    flag.write_text("0")
    path = str(flag)

    @F.udf("long")
    def live_v(i):
        if i != 1:
            return 0
        with open(path) as f:
            return int(f.read())

    live_v = live_v.asNondeterministic()
    spec = TableSpec("t", "id", has_scores=False)
    engine = CdcEngine(tmp_store)
    zero = F.lit(0).cast("long")
    engine.update(spec, spark.range(20).select("id", zero.alias("v"), zero.alias("w")))
    # id 1's v follows the flag; id 2 changes, so the epoch writes the replica
    live = spark.range(20).select(
        "id",
        live_v("id").alias("v"),
        F.when(F.col("id") == 2, 1).otherwise(0).cast("long").alias("w"),
    )
    real = CdcEngine._write_main

    def flip_then_write(self, *args, **kwargs):
        flag.write_text("1")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(CdcEngine, "_write_main", flip_then_write)
    stats = engine.update(spec, live)
    assert (stats.upserts, stats.updates) == (1, 1)  # id 2: the diff saw v=0 for id 1
    monkeypatch.setattr(CdcEngine, "_write_main", real)

    stats = engine.update(spec, live)
    assert (stats.upserts, stats.updates) == (1, 1)
    assert sorted(tuple(r) for r in tmp_store.read("t").collect()) == sorted(
        tuple(r) for r in live.collect()
    )
