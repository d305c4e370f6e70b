"""Spark job budget of the CDC entry points.

Each count is the number of jobs submitted under one job group, read
back with ``statusTracker().getJobIdsForGroup``. The budgets pin what
the engine submits today: a store read of a self-describing version,
an empty version and a linked version cost no job, and the post-write
row count comes from the write itself. A change that adds a job to one
of these paths fails here first; lower a budget when a change removes
one.
"""

import itertools

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import MEMBER, PLAYER, TRIBE
from updater_spark.sources.store import TableStore

from test_cdc_cycle import make_players

_groups = itertools.count()


def jobs(spark, fn):
    """(result of ``fn()``, jobs it submitted from this thread)."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def tables(spark):
    import random

    players = make_players(random.Random(7), 200)
    tribes = [Row(id=t, name=f"tribe{t}") for t in range(1, 6)]
    members = [Row(id_member=p.id, id_tribe=p.id % 5 + 1) for p in players]
    return {
        "player": spark.createDataFrame(players),
        "tribe": spark.createDataFrame(tribes),
        "member": spark.createDataFrame(members),
    }


def test_cdc_job_budget(spark, tmp_path, tables):
    engine = CdcEngine(TableStore(spark, str(tmp_path / "store")))
    specs = (PLAYER, TRIBE, MEMBER)

    def bootstrap():
        return [engine.update(s, tables[s.name]) for s in specs]

    stats, n = jobs(spark, bootstrap)
    assert all(s.bootstrap for s in stats)
    assert [s.total_rows for s in stats] == [200, 5, 200]
    # per table: the main write (its row count observed) and the
    # fingerprint write; __delta is linked and __deleted is empty
    assert n == 6

    player = tables["player"]
    changed = player.withColumn(
        "cheese_gathered",
        F.when(F.col("id") % 20 == 0, F.col("cheese_gathered") + 1).otherwise(
            F.col("cheese_gathered")
        ),
    ).filter(F.col("id") != 3)
    stats, n = jobs(spark, lambda: engine.update(PLAYER, changed))
    assert (stats.updates, stats.deletes, stats.total_rows) == (10, 1, 199)
    # the diff count (its adaptive stages are jobs of their own), the
    # changelog append and the __delta, __deleted, main and fingerprint
    # writes; no read infers a schema and no count() follows the write
    assert n == 15

    batch = changed.filter(F.col("id") <= 10).withColumn(
        "first", F.col("first") + 1
    )
    stats, n = jobs(spark, lambda: engine.apply_delta(PLAYER, batch))
    assert (stats.updates, stats.total_rows) == (9, 199)  # id 3 is gone
    assert n == 14


def test_store_versions_cost_no_job(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "store"))
    store.write("t", spark.range(5))

    df, n = jobs(spark, lambda: store.read("t"))
    assert n == 0 and df.columns == ["id"]

    schema = StructType([StructField("id", LongType())])
    _, n = jobs(spark, lambda: store.write_empty("e", schema))
    assert n == 0

    _, n = jobs(spark, lambda: store.link("l", "t"))
    assert n == 0
    assert store.read("e").count() == 0
    assert sorted(r.id for r in store.read("l").collect()) == list(range(5))
