"""Self-describing, empty and linked table versions (sources/store.py).

A version's ``_SCHEMA`` must give exactly the schema Spark would infer
from its files; a version without one must still read; an empty
version must read as zero rows through Spark and pyarrow; a linked
version must keep its rows after the source version is collected.
Every mutation makes a new version, so a DataFrame read before it
still collects the rows it saw, and the previous version stays
readable by number.
"""

import datetime
import decimal
import os
import random

import pyarrow.parquet as pq
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import PLAYER
from updater_spark.sources import store as store_mod
from updater_spark.sources.store import SCHEMA_FILE

from test_cdc_cycle import make_players


def _inferred(spark, store, name):
    return spark.read.parquet(store.current_path(name)).schema


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_schema_file_matches_inference_for_every_cycle_table(spark, tmp_store):
    rng = random.Random(3)
    players = make_players(rng, 60)
    tribes = [Row(id=t, name=f"tribe{t}") for t in range(1, 4)]
    members = [Row(id_member=p.id, id_tribe=p.id % 3 + 1) for p in players]
    engine = CdcEngine(tmp_store)
    df = spark.createDataFrame
    engine.run_cycle(df(players), df(tribes), df(members))
    bumped = [
        Row(**{**p.asDict(), "first": p.first + 1}) if p.id % 7 == 0 else p
        for p in players
        if p.id != 5
    ]
    engine.run_cycle(df(bumped), df(tribes), df(members))

    names = sorted(
        n for n in os.listdir(tmp_store.root) if tmp_store.exists(n)
    )
    assert {"player", "player__delta", "player__deleted", "tribe_active"} <= set(names)
    for name in names:
        assert os.path.exists(os.path.join(tmp_store.current_path(name), SCHEMA_FILE))
        assert tmp_store.read(name).schema == _inferred(spark, tmp_store, name), name


def test_schema_file_round_trips_nested_and_temporal_types(spark, tmp_store):
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("amount", DecimalType(18, 4)),
            StructField("big", DecimalType(38, 10)),
            StructField("ts", TimestampType()),
            StructField("ts_ntz", TimestampNTZType()),
            StructField("tags", ArrayType(StringType())),
            StructField(
                "point",
                StructType([StructField("x", IntegerType()), StructField("y", IntegerType())]),
            ),
            StructField("attrs", MapType(StringType(), LongType())),
        ]
    )
    rows = [
        (
            1,
            decimal.Decimal("12.3400"),
            decimal.Decimal("1.5"),
            datetime.datetime(2024, 1, 2, 3, 4, 5),
            datetime.datetime(2024, 1, 2, 3, 4, 5),
            ["a", "b"],
            (1, 2),
            {"k": 7},
        ),
        (2, None, None, None, None, None, None, None),
    ]
    src = spark.createDataFrame(rows, schema)
    tmp_store.write("typed", src)
    back = tmp_store.read("typed")
    assert back.schema == _inferred(spark, tmp_store, "typed")
    assert _rows(back.select("id", "amount", "big", "ts", "ts_ntz", "tags", "point")) == _rows(
        src.select("id", "amount", "big", "ts", "ts_ntz", "tags", "point")
    )
    assert {r.id: r.attrs for r in back.collect()} == {1: {"k": 7}, 2: None}


def test_version_without_schema_file_reads_by_inference(spark, tmp_store):
    tmp_store.write("legacy", spark.range(4))
    os.remove(os.path.join(tmp_store.current_path("legacy"), SCHEMA_FILE))
    assert sorted(r.id for r in tmp_store.read("legacy").collect()) == [0, 1, 2, 3]
    assert sorted(r.id for r in tmp_store.read("legacy", version=0).collect()) == [0, 1, 2, 3]


def test_empty_version_replaces_non_empty_one(spark, tmp_store):
    tmp_store.write("t__deleted", spark.range(3))
    assert tmp_store.read("t__deleted").count() == 3
    tmp_store.write_empty("t__deleted", StructType([StructField("id", LongType())]))
    df = tmp_store.read("t__deleted")
    assert df.count() == 0 and df.columns == ["id"]
    arrow = pq.read_table(tmp_store.current_path("t__deleted"))
    assert arrow.num_rows == 0 and arrow.column_names == ["id"]
    # the previous version is still there to time-travel to
    assert tmp_store.read("t__deleted", version=0).count() == 3


def test_linked_bootstrap_delta_outlives_its_source_version(spark, tmp_store):
    engine = CdcEngine(tmp_store)
    players = make_players(random.Random(5), 50)
    engine.update(PLAYER, spark.createDataFrame(players))
    delta = tmp_store.current_path("player__delta")
    source_version = tmp_store.current_path("player")
    for f in os.listdir(source_version):
        assert os.path.samefile(os.path.join(delta, f), os.path.join(source_version, f))
    boot_rows = _rows(tmp_store.read("player"))

    # two more main-table writes: the bootstrap version is collected
    tmp_store.write("player", tmp_store.read("player").limit(10))
    tmp_store.write("player", tmp_store.read("player").limit(5))
    assert not os.path.exists(source_version)
    assert _rows(tmp_store.read("player__delta")) == boot_rows
    assert len(boot_rows) == 50


def _assert_snapshot_survives(store, name, mutate):
    """A DataFrame read before ``mutate`` collects the same rows after
    it, and so does a read of the parent version by number; returns
    the current rows."""
    before = store.read(name)
    rows = _rows(before)
    mutate(before)
    assert _rows(before) == rows
    assert _rows(store.read(name, version=store.versions(name)[-2])) == rows
    return _rows(store.read(name))


def _partitioned(spark, store):
    df = spark.range(12).withColumn("p", (F.col("id") % 3).cast("int"))
    store.write("pt", df, partition_by=["p"])


def test_snapshot_survives_partition_overwrite_that_empties_one(spark, tmp_store):
    _partitioned(spark, tmp_store)
    # rewrite partitions 1 and 2 from the parent: 1 ends up empty
    now = _assert_snapshot_survives(
        tmp_store,
        "pt",
        lambda old: tmp_store.overwrite_partitions(
            "pt", old.filter("p = 2 AND id > 5"), "p", [1, 2]
        ),
    )
    assert now == [(0, 0), (3, 0), (6, 0), (8, 2), (9, 0), (11, 2)]
    assert not os.path.exists(os.path.join(tmp_store.current_path("pt"), "p=1"))


def test_snapshot_survives_partitioned_append(spark, tmp_store):
    _partitioned(spark, tmp_store)
    new = spark.createDataFrame([(100, 1), (101, 7)], "id long, p int")
    now = _assert_snapshot_survives(
        tmp_store, "pt", lambda _: tmp_store.append("pt", new, partition_by=["p"])
    )
    assert len(now) == 14 and (101, 7) in now
    assert tmp_store.read("pt").columns == ["id", "p"]


def test_snapshot_survives_changelog_append(spark, tmp_store):
    tmp_store.append("t__changelog", spark.createDataFrame([(1, "a")], "id long, v string"))
    wider = spark.createDataFrame([(2, "b", 1.5)], "id long, v string, w double")
    now = _assert_snapshot_survives(
        tmp_store, "t__changelog", lambda _: tmp_store.append("t__changelog", wider)
    )
    assert now == [(1, "a", None), (2, "b", 1.5)]


def test_snapshot_survives_compaction(spark, tmp_store):
    for i in range(3):
        tmp_store.append("t__changelog", spark.range(i * 5, i * 5 + 5))
    now = _assert_snapshot_survives(
        tmp_store,
        "t__changelog",
        lambda _: CdcEngine(tmp_store).compact_changelog("t", num_files=1),
    )
    assert now == [(i,) for i in range(15)]
    files = os.listdir(tmp_store.current_path("t__changelog"))
    assert len([f for f in files if f.endswith(".parquet")]) == 1


def test_drop_never_reuses_a_version_number(spark, tmp_store):
    tmp_store.write("t", spark.range(3))
    tmp_store.drop("t")
    assert not tmp_store.exists("t") and tmp_store.versions("t") == []
    tmp_store.write("t", spark.range(2))
    assert tmp_store.versions("t") == [1]
    assert tmp_store.read("t").count() == 2


def _fold_at(monkeypatch, min_files, ratio):
    monkeypatch.setattr(store_mod, "FOLD_MIN_FILES", min_files)
    monkeypatch.setattr(store_mod, "FOLD_RATIO", ratio)


def _files(store, name):
    return store._data_files(store.current_path(name))


def test_append_folds_a_long_history(spark, tmp_store, monkeypatch):
    """An append links every file of its parent until the parent holds
    more than FOLD_RATIO times the files the append wrote and more than
    FOLD_MIN_FILES; then it rewrites the smaller half instead. The file
    count, and with it the links per append, stays bounded, no row is
    lost, and a DataFrame read before a folding append still collects."""
    _fold_at(monkeypatch, 8, 4)

    def inodes(path):
        return {os.stat(os.path.join(path, f)).st_ino for f in tmp_store._data_files(path)}

    counts, folds = [], 0
    for i in range(40):
        parent = tmp_store.current_path("log")
        new = spark.range(i * 10, i * 10 + 10, numPartitions=1)
        n = len(tmp_store._data_files(parent)) if parent else 0
        if n <= 8:
            tmp_store.append("log", new)
        else:  # more than max(8, 4 x 1 file): the smaller half is rewritten
            _assert_snapshot_survives(
                tmp_store, "log", lambda _: tmp_store.append("log", new)
            )
            kept = inodes(parent) & inodes(tmp_store.current_path("log"))
            assert len(kept) == n - n // 2
            folds += 1
        counts.append(len(_files(tmp_store, "log")))
    assert folds >= 3
    assert max(counts) <= 9 + spark.sparkContext.defaultParallelism
    assert _rows(tmp_store.read("log")) == [(i,) for i in range(400)]


def test_partitioned_append_folds_within_partitions(spark, tmp_store, monkeypatch):
    _fold_at(monkeypatch, 8, 2)
    for i in range(12):
        df = spark.range(i * 6, i * 6 + 6, numPartitions=1)
        tmp_store.append(
            "pt", df.withColumn("p", (F.col("id") % 3).cast("int")), partition_by=["p"]
        )
    rows = _rows(tmp_store.read("pt"))
    assert rows == [(i, i % 3) for i in range(72)]
    assert len(_files(tmp_store, "pt")) < 36  # 12 appends x 3 partitions
    assert tmp_store.read("pt").columns == ["id", "p"]


def test_fold_reads_older_files_at_the_widened_type(spark, tmp_store, monkeypatch):
    """A fold reads the parent's int files under the double ``_SCHEMA``
    and rewrites their rows as double."""
    _fold_at(monkeypatch, 4, 1)
    for i in range(4):
        tmp_store.append("log", spark.createDataFrame([(i, i)], "id long, v int"))
    tmp_store.append("log", spark.createDataFrame([(9, 1.5)], "id long, v double"))
    tmp_store.append("log", spark.createDataFrame([(10, 2.5)], "id long, v double"))
    log = tmp_store.read("log")
    assert log.schema["v"].dataType == DoubleType()
    assert _rows(log) == [(0, 0.0), (1, 1.0), (2, 2.0), (3, 3.0), (9, 1.5), (10, 2.5)]
    cur = tmp_store.current_path("log")
    files = [pq.read_table(os.path.join(cur, f)) for f in _files(tmp_store, "log")]
    assert any(
        str(t.schema.field("v").type) == "double" and min(t["id"].to_pylist()) < 4
        for t in files
    )
