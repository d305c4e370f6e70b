"""changelog_replay: point-in-time reconstruction semantics."""

import pytest
from pyspark.sql import functions as F

from updater_spark.operators.merge import changelog_replay


@pytest.fixture(scope="module")
def state(spark):
    # current replica: keys 1..4 and 6 (5 was deleted at epoch 3)
    replica = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 31), (4, "d", 42), (6, "f", 60)],
        "id long, name string, v long",
    )
    # history: v starts at k*10; key 3 updated at epoch 2 (30->31),
    # key 4 updated at epoch 1 (40->41) and again at epoch 3 (41->42),
    # key 5 deleted at epoch 3 (pre-image 50), key 6 inserted at epoch 2
    changelog = spark.createDataFrame(
        [
            (3, "c", 30, 2, "update"),
            (4, "d", 40, 1, "update"),
            (4, "d", 41, 3, "update"),
            (5, "e", 50, 3, "delete"),
            (6, None, None, 2, "insert"),
        ],
        "id long, name string, v long, _epoch long, _change_type string",
    )
    return replica, changelog


def _as_of(replica, changelog, epoch):
    return {
        r["id"]: (r["name"], r["v"])
        for r in changelog_replay(replica, changelog, "id", epoch).collect()
    }


def test_replay_epoch_boundaries(state):
    replica, changelog = state
    # end of epoch 0: everything at original values, 6 not yet inserted
    assert _as_of(replica, changelog, 0) == {
        1: ("a", 10), 2: ("b", 20), 3: ("c", 30), 4: ("d", 40), 5: ("e", 50),
    }
    # end of epoch 1: key 4 already updated once; 6 still absent
    assert _as_of(replica, changelog, 1) == {
        1: ("a", 10), 2: ("b", 20), 3: ("c", 30), 4: ("d", 41), 5: ("e", 50),
    }
    # end of epoch 2: key 3 current; key 6 now exists (no entries past
    # epoch 2 -> its current replica row applies)
    assert _as_of(replica, changelog, 2) == {
        1: ("a", 10), 2: ("b", 20), 3: ("c", 31), 4: ("d", 41), 5: ("e", 50),
        6: ("f", 60),
    }
    # end of epoch 3 == current replica
    assert _as_of(replica, changelog, 3) == {
        1: ("a", 10), 2: ("b", 20), 3: ("c", 31), 4: ("d", 42), 6: ("f", 60),
    }


def test_replay_plan_is_single_keyed_join(state):
    replica, changelog = state
    plan = changelog_replay(replica, changelog, "id", 1)._jdf.queryExecution(
    ).executedPlan().toString()
    # one aggregate on the changelog side (min_by), one join — no
    # window, no extra shuffles beyond the keyed exchange
    assert "Window" not in plan


def test_engine_replay_full_fidelity(spark, tmp_path):
    """bootstrap → two mutating update runs → replay() reproduces every
    intermediate state exactly (changelog_mode='full')."""
    from updater_spark.plans.cdc import CdcEngine
    from updater_spark.schema import TableSpec
    from updater_spark.sources.store import TableStore

    spark.conf.set("spark.sql.ansi.enabled", "false")
    store = TableStore(spark, str(tmp_path / "store"))
    eng = CdcEngine(store, changelog_mode="full")
    spec = TableSpec(name="t", primary_key="id")

    s0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (5, "e", 50)],
        "id long, name string, v long",
    )
    # run 1: update 1, delete 5, insert 4
    s1 = spark.createDataFrame(
        [(1, "a", 11), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "id long, name string, v long",
    )
    # run 2: update 2, delete 3, insert 6
    s2 = spark.createDataFrame(
        [(1, "a", 11), (2, "b", 22), (4, "d", 40), (6, "f", 60)],
        "id long, name string, v long",
    )
    eng.bootstrap(spec, s0)
    eng.update(spec, s1)
    eng.update(spec, s2)

    def snap(df):
        return sorted(tuple(r) for r in df.select("id", "name", "v").collect())

    assert snap(eng.replay(spec, 0)) == snap(s0)
    assert snap(eng.replay(spec, 1)) == snap(s1)
    assert snap(eng.replay(spec, 2)) == snap(s2)
    # epoch 2 == current replica
    assert snap(eng.replay(spec, 2)) == snap(store.read("t"))


def test_engine_replay_full_across_apply_delta(spark, tmp_path):
    """A delta-feed epoch writes the same full-fidelity changelog as a
    snapshot epoch: update pre-images tagged ``_change_type`` and
    insert markers, so replay() rewinds through it exactly."""
    from updater_spark.plans.cdc import CdcEngine
    from updater_spark.schema import TableSpec
    from updater_spark.sources.store import TableStore

    eng = CdcEngine(
        TableStore(spark, str(tmp_path / "store")), changelog_mode="full"
    )
    spec = TableSpec(name="t", primary_key="id")
    schema = "id long, v long"
    s0 = [(i, 10 * i) for i in range(1, 11)]
    s1 = [r for r in s0 if r[0] != 10]  # epoch 1: delete 10
    # epoch 2 (delta feed): update 1, re-deliver 2 unchanged, insert 20
    batch = [(1, 11), (2, 20), (20, 200)]
    s2 = sorted([r for r in s1 if r[0] != 1] + [(1, 11), (20, 200)])

    eng.bootstrap(spec, spark.createDataFrame(s0, schema))
    eng.update(spec, spark.createDataFrame(s1, schema))
    eng.apply_delta(spec, spark.createDataFrame(batch, schema))

    def snap(epoch):
        return sorted(tuple(r) for r in eng.replay(spec, epoch).collect())

    assert snap(0) == s0
    assert snap(1) == s1
    assert snap(2) == s2
