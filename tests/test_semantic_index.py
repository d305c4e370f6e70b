"""SemanticIndex: persistent incrementally-maintained SemDeDup state.

The invariant under test: after any sequence of bootstrap / update
(inserts AND re-ingested updates) / remove, the union of per-epoch
pairs — re-verified against current state — equals the one-shot
``semantic_dedup`` pair set of the current corpus, and connected
components over it reproduce the one-shot groups exactly.
"""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from updater_spark.operators.clusters import connected_components
from updater_spark.operators.semantic_index import SemanticIndex
from updater_spark.operators.similarity import semantic_dedup


@pytest.fixture(scope="module")
def corpus(spark):
    """Two well-separated clusters with planted near-dup twins: base
    vectors 0..59 around two centers, twins (+1000) of every 4th at
    scale 1.001 (cos ~1.0); within-cluster non-twin cosine ~0.8."""
    rng = np.random.RandomState(3)
    centers = np.array([[1.0, 0, 0, 0, 0, 0], [0, 0, 0, 0, 0, 1.0]])
    rows = []
    for i in range(60):
        c = centers[i % 2]
        v = 0.9 * c + 0.15 * rng.randn(6)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    twins = [
        Row(
            vec_id=r.vec_id + 1000,
            embedding=[float(x) * 1.001 for x in r.embedding],
        )
        for r in rows
        if r.vec_id % 4 == 0
    ]
    return spark.createDataFrame(rows + twins), [
        [float(x) for x in c] for c in centers
    ]


def test_epochs_match_one_shot(spark, corpus, tmp_store):
    df, cents = corpus
    k = F.col("vec_id")

    # epoch 0: bootstrap on the base slice (no twins yet)
    e0 = df.filter(k < 1000)
    idx = SemanticIndex(tmp_store, "semx", threshold=0.98)
    all_pairs = [idx.bootstrap(e0, cents)]
    all_pairs[-1].persist().count()

    # epoch 1: insert the twins AND re-ingest every 10th base vector
    # with a DIRECTION change (x*0.3 + 0.25 — cosine-relevant, unlike
    # a pure rescale): an updated vector's earlier twin pairs are now
    # STALE and verify_pairs must drop them
    upd = df.filter((k % 10 == 0) & (k < 1000)).select(
        "vec_id",
        F.transform("embedding", lambda x: x * 0.3 + 0.25).alias(
            "embedding"
        ),
    )
    e1 = df.filter(k >= 1000).unionByName(upd)
    all_pairs.append(idx.update(e1))
    all_pairs[-1].persist().count()

    # epoch 2: delete every 12th base vector
    dels = df.filter((k % 12 == 0) & (k < 1000)).select("vec_id")
    idx.remove(dels)

    # final corpus = base - deleted, with updates applied, + twins
    final = (
        df.filter(k < 1000)
        .join(upd.select("vec_id"), "vec_id", "anti")
        .unionByName(upd)
        .join(dels, "vec_id", "anti")
        .unionByName(df.filter(k >= 1000))
    )

    import functools

    from pyspark.sql import DataFrame

    cand = functools.reduce(DataFrame.unionByName, all_pairs)
    verified = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in idx.verify_pairs(cand).collect()
    )

    # one-shot pair set of the final corpus, via a FRESH index
    # bootstrap (its bootstrap() IS the one-shot scan)
    fresh = SemanticIndex(tmp_store, "semx_fresh", threshold=0.98)
    oneshot = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in fresh.bootstrap(final, cents).collect()
    )
    assert verified == oneshot and len(oneshot) > 0

    # ...and the GROUPS equal one-shot semantic_dedup of the corpus
    cc = connected_components(idx.verify_pairs(cand))
    assigned = idx.assignments()
    got = {
        r["id"]: (r["cell"], r["group"], r["keep"])
        for r in assigned.join(cc, "id", "left")
        .select(
            "id",
            "cell",
            F.coalesce("component", "id").alias("group"),
            (F.coalesce("component", "id") == F.col("id")).alias("keep"),
        )
        .collect()
    }
    want = {
        r["id"]: (r["cell"], r["group"], r["keep"])
        for r in semantic_dedup(
            final, cents, threshold=0.98, id_col="vec_id"
        ).collect()
    }
    assert got == want

    for p in all_pairs:
        p.unpersist()


def test_update_reingested_id_never_pairs_through_stale_cell(
    spark, corpus, tmp_store
):
    """A vector re-ingested into a DIFFERENT cell must leave its old
    cell's partition (the migration contract shared with IvfIndex)."""
    df, cents = corpus
    idx = SemanticIndex(tmp_store, "semmig", threshold=0.98)
    idx.bootstrap(df.filter(F.col("vec_id") < 1000), cents)
    before = {
        r["id"]: r["cell"] for r in idx.assignments().collect()
    }
    # flip vector 0 into the other cluster's direction
    moved = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    idx.update(moved)
    after = {r["id"]: r["cell"] for r in idx.assignments().collect()}
    assert before[0] != after[0]
    assert sorted(before) == sorted(after)  # no dup rows, no losses


def test_identity_sidecar_guards_crashed_bootstrap(spark, corpus, tmp_store):
    df, cents = corpus
    idx = SemanticIndex(tmp_store, "semcrash", threshold=0.98)
    idx.bootstrap(df.filter(F.col("vec_id") < 1000), cents)
    tmp_store.write_sidecar("semcrash__cells", "identity", "gen2-partial")
    fresh = SemanticIndex(tmp_store, "semcrash", threshold=0.98)
    with pytest.raises(RuntimeError, match="codebook"):
        fresh.update(df.filter(F.col("vec_id") >= 1000))
    with pytest.raises(RuntimeError, match="codebook"):
        fresh.remove(df.limit(1).select("vec_id"))


def test_max_cell_cut_matches_one_shot(spark, corpus, tmp_store):
    """With max_cell engaged, epoch pairs ∪ verify equals the capped
    one-shot — over-cap cells contribute nothing on either path."""
    df, cents = corpus
    base = df.filter(F.col("vec_id") < 1000)
    # cap below cluster size: both ~30-member cells are cut entirely
    idx = SemanticIndex(tmp_store, "semcap", threshold=0.98, max_cell=10)
    p0 = idx.bootstrap(base, cents)
    assert p0.count() == 0
    assert idx.verify_pairs(p0).count() == 0
    want = semantic_dedup(
        base, cents, threshold=0.98, id_col="vec_id", max_cell=10
    )
    assert want.filter(~F.col("keep")).count() == 0  # all singletons


def test_apply_cdc_epoch_mirrors_replica(spark, corpus, tmp_store):
    """The CDC composition (semantic_index.apply_cdc_epoch): CdcEngine
    owns the replica, the semantic index consumes its persisted change
    feed (__delta/__deleted) each epoch — verified pairs over the
    accumulated feed equal a fresh bootstrap of the final replica."""
    from updater_spark.operators.semantic_index import apply_cdc_epoch
    from updater_spark.plans.cdc import CdcEngine
    from updater_spark.schema import TableSpec

    df, cents = corpus
    k = F.col("vec_id")
    eng = CdcEngine(tmp_store)
    spec = TableSpec("vecs", "vec_id")

    snap0 = df.filter(k < 1000)
    eng.update(spec, snap0)
    idx = SemanticIndex(tmp_store, "semcdc", threshold=0.98)
    pairs = [
        idx.bootstrap(
            tmp_store.read("vecs").select("vec_id", "embedding"), cents
        )
    ]
    pairs[-1].persist().count()

    # epoch 2: twins inserted, every 10th vector direction-changed,
    # every 12th deleted — one snapshot, engine computes the feed
    upd = snap0.filter(k % 10 == 0).select(
        "vec_id",
        F.transform("embedding", lambda x: x * 0.3 + 0.25).alias(
            "embedding"
        ),
    )
    snap1 = (
        snap0.join(upd.select("vec_id"), "vec_id", "anti")
        .unionByName(upd)
        .filter(k % 12 != 0)
        .unionByName(df.filter(k >= 1000))
    )
    eng.update(spec, snap1)
    pairs.append(apply_cdc_epoch(idx, tmp_store, "vecs", "vec_id", "embedding"))
    pairs[-1].persist().count()

    import functools

    from pyspark.sql import DataFrame

    cand = functools.reduce(DataFrame.unionByName, pairs)
    got = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in idx.verify_pairs(cand).collect()
    )
    fresh = SemanticIndex(tmp_store, "semcdc_fresh", threshold=0.98)
    want = sorted(
        (r["id_a"], r["id_b"], r["sim"])
        for r in fresh.bootstrap(
            tmp_store.read("vecs").select("vec_id", "embedding"), cents
        ).collect()
    )
    assert got == want and len(want) > 0
    # the index state mirrors the replica's live id set exactly
    assert sorted(
        r["id"] for r in idx.assignments().collect()
    ) == sorted(r["vec_id"] for r in tmp_store.read("vecs").collect())
    for p in pairs:
        p.unpersist()


def test_arrow_mode_equals_catalyst_lifecycle(spark, corpus, tmp_store):
    """SemanticIndex(arrow=True) — GEMM assignment + per-cell GEMM
    bootstrap pairs — must reproduce the Catalyst index exactly
    through a full bootstrap/update/remove/verify lifecycle."""
    df, cents = corpus
    k = F.col("vec_id")

    def lifecycle(name, arrow):
        idx = SemanticIndex(
            tmp_store, name, threshold=0.98, arrow=arrow
        )
        pairs = [idx.bootstrap(df.filter(k < 1000), cents)]
        pairs[0].persist().count()
        upd = df.filter((k % 10 == 0) & (k < 1000)).select(
            "vec_id",
            F.transform("embedding", lambda x: x * 0.3 + 0.25).alias(
                "embedding"
            ),
        )
        pairs.append(idx.update(df.filter(k >= 1000).unionByName(upd)))
        pairs[1].persist().count()
        idx.remove(df.filter((k % 12 == 0) & (k < 1000)).select("vec_id"))
        import functools

        from pyspark.sql import DataFrame

        cand = functools.reduce(DataFrame.unionByName, pairs)
        out = (
            sorted(tuple(r) for r in idx.verify_pairs(cand).collect()),
            sorted(tuple(r) for r in idx.assignments().collect()),
        )
        for p in pairs:
            p.unpersist()
        return out

    cat_pairs, cat_cells = lifecycle("semlc_cat", arrow=False)
    arw_pairs, arw_cells = lifecycle("semlc_arw", arrow=True)
    assert arw_cells == cat_cells
    assert arw_pairs == cat_pairs and len(cat_pairs) > 0


def test_cap_crossing_emits_owed_pairs(spark, corpus, tmp_store):
    """ADVICE r5: a cell over ``max_cell`` emits no pairs — if later
    deletes (or migrations) shrink it under the cap, the epoch must
    emit the cell's full intra-cell pair set, or the cross-epoch
    contract silently loses those pairs vs the capped one-shot."""
    import functools

    from pyspark.sql import DataFrame

    df, cents = corpus
    k = F.col("vec_id")
    base = df.filter(k < 1000)  # two ~30-member cells

    # cap 20: both cells start OVER cap -> bootstrap emits nothing
    idx = SemanticIndex(tmp_store, "semxc", threshold=0.98, max_cell=20)
    # localCheckpoint, not persist: a persisted EMPTY result never
    # materializes cache blocks (AQE empty-relation propagation), so
    # later evaluation would recompute over rewritten store files —
    # eager checkpoint truncates the lineage instead
    pairs = [idx.bootstrap(base, cents).localCheckpoint(eager=True)]
    assert pairs[0].count() == 0

    # delete every other even id: cells shrink to ~15 members each —
    # both cross under the cap and owe their full pair sets
    dels = base.filter(k % 4 == 0).select("vec_id")
    owed = idx.remove(dels).localCheckpoint(eager=True)
    pairs.append(owed)
    assert owed.count() > 0  # the crossing actually paid out

    cand = functools.reduce(DataFrame.unionByName, pairs)
    verified = sorted(
        tuple(r) for r in idx.verify_pairs(cand).collect()
    )

    final = base.join(dels, "vec_id", "anti")
    fresh = SemanticIndex(
        tmp_store, "semxc_fresh", threshold=0.98, max_cell=20
    )
    oneshot = sorted(tuple(r) for r in fresh.bootstrap(final, cents).collect())
    assert verified == oneshot and len(oneshot) > 0


def test_cap_crossing_via_update_migration(spark, corpus, tmp_store):
    """The update() side of the crossing: re-ingesting vectors INTO a
    different cell shrinks their old cell under the cap — update()
    must include the old cell's owed pairs."""
    import functools

    from pyspark.sql import DataFrame

    df, cents = corpus
    k = F.col("vec_id")
    base = df.filter(k < 1000)
    idx = SemanticIndex(tmp_store, "semxm", threshold=0.98, max_cell=20)
    pairs = [idx.bootstrap(base, cents).localCheckpoint(eager=True)]

    # migrate every other even CELL-0 id into cell 1's direction
    movers = base.filter(k % 4 == 0).select(
        "vec_id",
        F.expr(
            "transform(embedding, (x, i) -> "
            "CASE WHEN i = 5 THEN 1.0 ELSE 0.0 END)"
        ).alias("embedding"),
    )
    pairs.append(idx.update(movers).localCheckpoint(eager=True))

    cand = functools.reduce(DataFrame.unionByName, pairs)
    verified = sorted(tuple(r) for r in idx.verify_pairs(cand).collect())

    final = base.join(movers.select("vec_id"), "vec_id", "anti").unionByName(
        movers
    )
    fresh = SemanticIndex(
        tmp_store, "semxm_fresh", threshold=0.98, max_cell=20
    )
    oneshot = sorted(tuple(r) for r in fresh.bootstrap(final, cents).collect())
    assert verified == oneshot


def test_update_scan_equals_join_path(spark, corpus, tmp_store):
    """The map-only broadcast-GEMM epoch-pair scan (arrow mode within
    the DELTA_BROADCAST_BYTES budget) must emit exactly the pair set
    of the shuffle-backed Catalyst join path — including under
    max_cell, where over-cap cells contribute nothing."""
    df, cents = corpus
    k = F.col("vec_id")

    def one_epoch(name, arrow, budget, max_cell=None):
        idx = SemanticIndex(
            tmp_store, name, threshold=0.98, arrow=arrow, max_cell=max_cell
        )
        if budget is not None:
            idx.DELTA_BROADCAST_BYTES = budget
        idx.bootstrap(df.filter(k < 1000), cents)
        upd = df.filter(k >= 1000).unionByName(
            df.filter((k % 10 == 0) & (k < 1000)).select(
                "vec_id",
                F.transform("embedding", lambda x: x * 0.3 + 0.25).alias(
                    "embedding"
                ),
            )
        )
        return sorted(tuple(r) for r in idx.update(upd).collect())

    for cap in (None, 20):
        scan = one_epoch(f"semsc_{cap}", arrow=True, budget=None, max_cell=cap)
        join_arrow = one_epoch(
            f"semjn_{cap}", arrow=True, budget=0, max_cell=cap
        )  # budget 0: arrow mode, but the gate forces the join path
        join_cat = one_epoch(
            f"semct_{cap}", arrow=False, budget=None, max_cell=cap
        )
        assert scan == join_arrow == join_cat
        if cap is None:
            assert len(scan) > 0
        else:
            # cap=20 puts BOTH cells (~38 rows each) over the cap:
            # the correct pair set is EMPTY, and the scan must honor
            # that exactly like the join paths do
            assert scan == []


def _lifecycle(tmp_store, df, cents, name, **kw):
    """bootstrap → update (inserts + re-ingests) → remove → verify;
    returns (verified pair tuples, assignment tuples)."""
    import functools

    from pyspark.sql import DataFrame

    k = F.col("vec_id")
    idx = SemanticIndex(tmp_store, name, threshold=0.98, **kw)
    # localCheckpoint, NOT persist: with max_cell the bootstrap pair
    # set is EMPTY, and an empty persist materializes no cache blocks
    # — the lazy plan would re-read files later epochs rewrite
    pairs = [idx.bootstrap(df.filter(k < 1000), cents).localCheckpoint(
        eager=True
    )]
    upd = df.filter((k % 10 == 0) & (k < 1000)).select(
        "vec_id",
        F.transform("embedding", lambda x: x * 0.3 + 0.25).alias(
            "embedding"
        ),
    )
    pairs.append(
        idx.update(df.filter(k >= 1000).unionByName(upd))
        .localCheckpoint(eager=True)
    )
    owed = idx.remove(
        df.filter((k % 12 == 0) & (k < 1000)).select("vec_id")
    ).localCheckpoint(eager=True)
    cand = functools.reduce(DataFrame.unionByName, pairs + [owed])
    return idx, (
        sorted(tuple(r) for r in idx.verify_pairs(cand).collect()),
        sorted(tuple(r) for r in idx.assignments().collect()),
    )


def test_append_log_equals_overwrite_lifecycle(spark, corpus, tmp_store):
    """append_log mode (append + tombstone + seq reconcile) must land
    on exactly the overwrite mode's state through a full
    bootstrap/update (inserts AND re-ingests)/remove/verify lifecycle
    — in both pair engines, and under max_cell."""
    df, cents = corpus
    for arrow in (False, True):
        for cap in (None, 20):
            _, ow = _lifecycle(
                tmp_store, df, cents, f"ow_{arrow}_{cap}",
                arrow=arrow, max_cell=cap,
            )
            idx, ap = _lifecycle(
                tmp_store, df, cents, f"ap_{arrow}_{cap}",
                arrow=arrow, max_cell=cap, append_log=True,
            )
            assert ap == ow
            # the epochs really did go through the log
            stats = idx.log_stats()
            assert stats["dead_rows"] > 0 and stats["tomb_rows"] > 0


def test_append_log_compaction_preserves_state(spark, corpus, tmp_store):
    df, cents = corpus
    idx, before = _lifecycle(
        tmp_store, df, cents, "cp", arrow=True, append_log=True
    )
    stats = idx.maybe_compact(max_dead_fraction=0.0)
    assert stats["compacted"] is True and stats["dead_rows"] > 0
    after_stats = idx.log_stats()
    assert after_stats["dead_rows"] == 0 and after_stats["tomb_rows"] == 0
    assert (
        sorted(tuple(r) for r in idx.assignments().collect()) == before[1]
    )
    # the index keeps working after compaction: another epoch's pairs
    # land and seq stays monotonic past the rewrite
    k = F.col("vec_id")
    extra = df.filter(k % 4 == 1).select(
        (k + 5000).alias("vec_id"), "embedding"
    )
    p = idx.update(extra).localCheckpoint(eager=True)
    assert p.count() > 0
    assert idx.log_stats()["live_rows"] == len(before[1]) + extra.count()


def test_compact_crash_window_keeps_updated_rows_live(
    spark, corpus, tmp_store, monkeypatch
):
    """A crash between compact()'s rewrite and its tombstone-log drop
    must not lose rows: the rewrite restamps live rows at the CURRENT
    epoch seq, so the stale tombstones (all at seq <= current) no
    longer outrank them under the ``seq >= tseq`` liveness rule. (A
    seq-0 restamp would let every previously-updated id read as dead
    — silent data loss in the crash window.) Retry then completes."""
    df, cents = corpus
    idx, _ = _lifecycle(
        tmp_store, df, cents, "ccw", arrow=True, append_log=True
    )
    live_before = sorted(tuple(r) for r in idx.assignments().collect())
    assert idx.log_stats()["tomb_rows"] > 0  # updates + removes logged

    real_drop = tmp_store.drop

    def boom(name):
        raise RuntimeError("crash before log drop")

    monkeypatch.setattr(tmp_store, "drop", boom)
    with pytest.raises(RuntimeError, match="crash before log drop"):
        idx.compact()
    monkeypatch.setattr(tmp_store, "drop", real_drop)

    # the crash window: rewrite landed, tombstones still present —
    # every live row must still read as live
    assert idx.log_stats()["tomb_rows"] > 0
    assert (
        sorted(tuple(r) for r in idx.assignments().collect()) == live_before
    )
    # retrying the compaction completes and preserves state
    idx.compact()
    assert idx.log_stats()["tomb_rows"] == 0
    assert (
        sorted(tuple(r) for r in idx.assignments().collect()) == live_before
    )


def test_append_log_crash_retry_is_safe(spark, corpus, tmp_store):
    """A crashed epoch (seq claimed, partial cell rows appended, no
    tombstones yet) must be fully repaired by replaying the epoch:
    the retry's higher seq tombstones the orphaned partial rows."""
    df, cents = corpus
    k = F.col("vec_id")
    idx = SemanticIndex(
        tmp_store, "crash", threshold=0.98, append_log=True
    )
    idx.bootstrap(df.filter(k < 1000), cents)
    delta = df.filter(k >= 1000)

    # simulate the crash: claim the seq and append PART of the delta's
    # rows, then die before the tombstone append
    seq = idx._seq() + 1
    tmp_store.write_sidecar(idx._cells, "seq", str(seq))
    partial = idx._assign(delta.filter(k % 8 == 0), idx.centroids())
    tmp_store.append(
        idx._cells,
        partial.withColumn("seq", F.lit(seq)).repartition("cell"),
        partition_by=["cell"],
    )

    # replay the whole epoch, then compare against a clean twin
    idx.update(delta).localCheckpoint(eager=True).count()
    clean = SemanticIndex(
        tmp_store, "crash_clean", threshold=0.98, append_log=True
    )
    clean.bootstrap(df.filter(k < 1000), cents)
    clean.update(delta).localCheckpoint(eager=True).count()
    assert sorted(tuple(r) for r in idx.assignments().collect()) == sorted(
        tuple(r) for r in clean.assignments().collect()
    )
    assert idx.log_stats()["live_rows"] == clean.log_stats()["live_rows"]
