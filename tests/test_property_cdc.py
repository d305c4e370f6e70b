"""Property-based CDC invariants (SURVEY.md §5.3): for ANY pair of
snapshots, after an incremental update the replica equals the new
snapshot, the changelog holds exactly the pre-images of updated keys,
and fingerprints equal the new snapshot's fingerprints."""

import zlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import TableSpec
from updater_spark.sources.store import TableStore

# a snapshot: dict id -> (name, counter)
snapshot_st = st.dictionaries(
    keys=st.integers(min_value=1, max_value=60),
    values=st.tuples(
        st.text(alphabet="ab#", min_size=0, max_size=4),
        st.integers(min_value=0, max_value=5),
    ),
    max_size=40,
)


def to_rows(snap):
    return [Row(id=i, name=n, counter=c) for i, (n, c) in sorted(snap.items())]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(s0=snapshot_st, s1=snapshot_st)
def test_cdc_invariants(spark, tmp_path_factory, s0, s1):
    if not s0:
        s0 = {1: ("a", 1)}
    store = TableStore(spark, str(tmp_path_factory.mktemp("prop_store")))
    engine = CdcEngine(store)
    spec = TableSpec("t", "id")

    engine.update(spec, spark.createDataFrame(to_rows(s0)))
    if not s1:
        return
    stats = engine.update(spec, spark.createDataFrame(to_rows(s1)))

    # replica ≡ s1
    replica = {
        r["id"]: (r["name"], r["counter"]) for r in store.read("t").collect()
    }
    assert replica == s1

    # classification counts
    updated = {i for i in s0 if i in s1 and s0[i] != s1[i]}
    inserted = set(s1) - set(s0)
    deleted = set(s0) - set(s1)
    assert stats.updates == len(updated)
    assert stats.upserts == len(updated) + len(inserted)
    assert stats.deletes == len(deleted)

    # changelog = pre-images of updated keys (old values)
    if updated:
        chg = {
            r["id"]: (r["name"], r["counter"])
            for r in store.read("t__changelog").collect()
        }
        assert chg == {i: s0[i] for i in updated}

    # fingerprints ≡ CRC32(CONCAT_WS('', id, name, counter)) of s1
    fps = {r["id"]: r["hashed"] for r in store.read("t__fingerprints").collect()}
    expected = {
        i: zlib.crc32(f"{i}{n}{c}".encode()) for i, (n, c) in s1.items()
    }
    assert fps == expected


# --- schema-evolution property: random epoch sequences -----------------

COL_POOL = ["name", "counter", "extra"]

epoch_st = st.tuples(
    # random non-empty column subset in random order
    st.permutations(COL_POOL).flatmap(
        lambda p: st.integers(min_value=1, max_value=3).map(
            lambda k: list(p)[:k]
        )
    ),
    # snapshot: id -> value used for every chosen column (small ints
    # keep the fingerprint algebra trivial; types are irrelevant to
    # the invariants under test)
    st.dictionaries(
        keys=st.integers(min_value=1, max_value=30),
        values=st.integers(min_value=0, max_value=4),
        min_size=1,
        max_size=20,
    ),
)


def _evo_rows(cols, snap):
    return [
        Row(**{"id": i, **{c: v + j for j, c in enumerate(cols)}})
        for i, v in sorted(snap.items())
    ]


def _evo_values(cols, snap):
    return {
        i: {c: v + j for j, c in enumerate(cols)} for i, v in snap.items()
    }


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    epochs=st.lists(epoch_st, min_size=2, max_size=4),
    policy=st.sampled_from(["rebase", "full_churn"]),
)
def test_schema_evolution_invariants(
    spark, tmp_path_factory, epochs, policy
):
    """For ANY sequence of epochs whose column sets add/drop/reorder
    arbitrarily: the replica always equals the latest source (values
    AND column order), and the churn accounting matches the policy —
    rebase counts only rows whose COMMON-column values changed,
    full_churn reclassifies every surviving row on any basis change."""
    store = TableStore(
        spark, str(tmp_path_factory.mktemp("prop_evo_store"))
    )
    engine = CdcEngine(store, schema_change_policy=policy)
    spec = TableSpec("t", "id")

    prev_cols, prev_vals = None, None
    for cols, snap in epochs:
        stats = engine.update(
            spec, spark.createDataFrame(_evo_rows(cols, snap))
        )
        vals = _evo_values(cols, snap)

        rep = store.read("t")
        assert rep.columns == ["id"] + cols  # shape follows the source
        got = {
            r["id"]: {c: r[c] for c in cols} for r in rep.collect()
        }
        assert got == vals  # replica ≡ source, every epoch

        if prev_vals is not None:
            full_prev = ["id"] + prev_cols
            full_cur = ["id"] + cols
            evolved = full_prev != full_cur
            assert bool(stats.extra) == evolved
            both = set(prev_vals) & set(vals)
            inserted = set(vals) - set(prev_vals)
            assert stats.deletes == len(set(prev_vals) - set(vals))
            if not evolved:
                updated = {
                    i
                    for i in both
                    if prev_vals[i] != vals[i]
                }
                assert stats.updates == len(updated)
                assert stats.upserts == len(updated) + len(inserted)
            elif policy == "rebase":
                common = [c for c in prev_cols if c in cols]
                updated = {
                    i
                    for i in both
                    if any(prev_vals[i][c] != vals[i][c] for c in common)
                }
                assert stats.updates == len(updated)
                assert stats.upserts == len(updated) + len(inserted)
            else:
                # full_churn is literal: cross-basis hash equality is
                # never trusted (a coincident rendering like [name]->3
                # vs [counter]->3 once slipped a common-column change
                # past the diff — found by THIS test in r8), so every
                # surviving row reclassifies as update
                assert stats.updates == len(both)
                assert stats.upserts == len(both) + len(inserted)
        prev_cols, prev_vals = cols, vals
