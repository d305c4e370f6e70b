"""Self-describing, empty and linked table versions (sources/store.py).

A version's ``_SCHEMA`` must give exactly the schema Spark would infer
from its files; a version without one must still read; an empty
version must read as zero rows through Spark and pyarrow; a linked
version must keep its rows after the source version is collected.
"""

import datetime
import decimal
import os
import random

import pyarrow.parquet as pq
from pyspark.sql import Row
from pyspark.sql.types import (
    ArrayType,
    DecimalType,
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
