"""CDC schema evolution: an epoch whose source column set differs
from the cached fingerprint basis (the reference adapts implicitly by
re-reading information_schema every run, /root/reference/src/
table.py:66-75 — its column lists and CRC32 basis silently follow the
DBA). Both policies must land the replica exactly on the new source;
they differ in WHAT the epoch costs:

- full_churn: everything reclassifies (upserts == |source|).
- rebase:     churn stays proportional to real value changes; added
              columns attach to all rows via a narrow backfill join.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import TableSpec

SPEC = TableSpec("acct", "id")


def base_rows(n=40):
    return [
        Row(id=i, name=f"u{i}", bal=i * 10)
        for i in range(1, n + 1)
    ]


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def _expect(spark, rows, cols):
    return _sorted(spark.createDataFrame(rows).select(*cols))


def _evolve_add(spark, mutate_ids, delete_ids, n=40):
    """Epoch-2 source: adds `tier` (string) after `name`, mutates
    `bal` for mutate_ids, drops delete_ids, inserts one new id."""
    rows = [
        Row(
            id=r.id,
            name=r.name,
            tier="gold" if r.id % 3 == 0 else "basic",
            bal=r.bal + (1000 if r.id in mutate_ids else 0),
        )
        for r in base_rows(n)
        if r.id not in delete_ids
    ]
    rows.append(Row(id=n + 1, name=f"u{n + 1}", tier="new", bal=7))
    return spark.createDataFrame(rows)


@pytest.mark.parametrize("policy", ["full_churn", "rebase"])
def test_added_column_epoch_lands_on_source(spark, tmp_store, policy):
    eng = CdcEngine(tmp_store, schema_change_policy=policy)
    eng.update(SPEC, spark.createDataFrame(base_rows()))

    src2 = _evolve_add(spark, mutate_ids={5, 9}, delete_ids={3})
    stats = eng.update(SPEC, src2)

    assert stats.extra["schema_change"]["added"] == ["tier"]
    assert stats.extra["schema_change"]["dropped"] == []
    assert _sorted(tmp_store.read("acct")) == _sorted(src2)
    assert tmp_store.read("acct").columns == src2.columns
    assert stats.deletes == 1 and stats.deletes_applied

    if policy == "full_churn":
        # every surviving row reclassified: 39 survivors + 1 insert
        assert stats.upserts == 40
    else:
        # rebase: only the 2 real mutations + 1 insert travel
        assert stats.upserts == 3 and stats.updates == 2

    # the NEXT epoch is normal incremental again (basis rotated)
    src3 = src2.withColumn(
        "bal", F.when(F.col("id") == 7, F.lit(999)).otherwise(F.col("bal"))
    )
    stats3 = eng.update(SPEC, src3)
    assert stats3.extra == {} and stats3.upserts == 1 and stats3.updates == 1
    assert _sorted(tmp_store.read("acct")) == _sorted(src3)


@pytest.mark.parametrize("policy", ["full_churn", "rebase"])
def test_dropped_column_epoch_lands_on_source(spark, tmp_store, policy):
    eng = CdcEngine(tmp_store, schema_change_policy=policy)
    eng.update(SPEC, spark.createDataFrame(base_rows()))

    # drop `name`, mutate 3 rows' bal
    src2 = spark.createDataFrame(
        [
            Row(id=r.id, bal=r.bal + (50 if r.id % 13 == 0 else 0))
            for r in base_rows()
        ]
    )
    stats = eng.update(SPEC, src2)
    assert stats.extra["schema_change"]["dropped"] == ["name"]
    assert tmp_store.read("acct").columns == ["id", "bal"]
    assert _sorted(tmp_store.read("acct")) == _sorted(src2)
    if policy == "rebase":
        # replica-side hashes were rebased over the common columns:
        # only the 3 genuinely-changed rows churned (ids 13, 26, 39)
        assert stats.upserts == 3 and stats.updates == 3
    else:
        assert stats.upserts == 40


def test_reorder_only_rebase_is_zero_churn(spark, tmp_store):
    eng = CdcEngine(tmp_store, schema_change_policy="rebase")
    eng.update(SPEC, spark.createDataFrame(base_rows()))
    # same values, columns reordered — the concat fingerprint basis
    # changes, but rebase diffs over the stored-order common columns
    src2 = spark.createDataFrame(base_rows()).select("id", "bal", "name")
    stats = eng.update(SPEC, src2)
    assert stats.extra["schema_change"]["reordered"] is True
    assert stats.upserts == 0 and stats.updates == 0 and stats.deletes == 0
    assert tmp_store.read("acct").columns == ["id", "bal", "name"]
    # and the next epoch (new order, one mutation) is plain incremental
    src3 = src2.withColumn(
        "bal", F.when(F.col("id") == 2, F.lit(-1)).otherwise(F.col("bal"))
    )
    stats3 = eng.update(SPEC, src3)
    assert stats3.extra == {} and stats3.updates == 1


def test_rebase_backfill_only_ships_narrow_columns(spark, tmp_store):
    """The added-column backfill join must carry ONLY (pk, added...)
    from the source onto the kept rows — assert the changelog stayed
    proportional to real churn (no full-table pre-images)."""
    eng = CdcEngine(tmp_store, schema_change_policy="rebase")
    eng.update(SPEC, spark.createDataFrame(base_rows()))
    src2 = _evolve_add(spark, mutate_ids={5}, delete_ids=set())
    eng.update(SPEC, src2)
    log = eng.changelog("acct")
    assert log.count() == 1  # one pre-image: id 5 (OLD schema)
    assert log.filter(F.col("id") == 5).count() == 1
    assert "tier" not in [
        c for c in log.columns if c != "_epoch"
    ]  # pre-images stay in the epoch's old shape


def test_partitioned_mode_schema_epoch_full_rewrite_then_prunes(
    spark, tmp_store
):
    eng = CdcEngine(
        tmp_store, schema_change_policy="rebase", partition_buckets=8
    )
    eng.update(SPEC, spark.createDataFrame(base_rows()))
    src2 = _evolve_add(spark, mutate_ids={5, 9}, delete_ids={3})
    eng.update(SPEC, src2)
    got = tmp_store.read("acct").drop(CdcEngine.BUCKET_COL)
    assert sorted(tuple(r) for r in got.select(*src2.columns).collect()) == _sorted(src2)
    # the table is still bucket-partitioned and the next epoch still
    # does incremental pruned writes
    src3 = src2.withColumn(
        "bal", F.when(F.col("id") == 11, F.lit(0)).otherwise(F.col("bal"))
    )
    stats3 = eng.update(SPEC, src3)
    assert stats3.extra == {} and stats3.updates == 1
    got3 = tmp_store.read("acct").drop(CdcEngine.BUCKET_COL)
    assert (
        sorted(tuple(r) for r in got3.select(*src3.columns).collect())
        == _sorted(src3)
    )


def test_full_churn_guard_skipped_deletes_null_backfill(spark, tmp_store):
    """With the delete guard tripped, surviving replica-only rows ride
    through the boundary NULL-backfilled for the added column."""
    eng = CdcEngine(tmp_store, delete_guard=1)  # any delete trips it
    eng.update(SPEC, spark.createDataFrame(base_rows()))
    src2 = _evolve_add(spark, mutate_ids=set(), delete_ids={3, 4})
    stats = eng.update(SPEC, src2)
    assert not stats.deletes_applied and stats.deletes == 2
    rep = tmp_store.read("acct")
    kept = rep.filter(F.col("id").isin(3, 4)).collect()
    assert len(kept) == 2 and all(r["tier"] is None for r in kept)


def test_replay_across_schema_boundary(spark, tmp_store):
    """changelog_mode='full' replay to an epoch whose schema was
    NARROWER: values are that epoch's, later-added columns read NULL."""
    eng = CdcEngine(
        tmp_store, changelog_mode="full", schema_change_policy="rebase"
    )
    eng.update(SPEC, spark.createDataFrame(base_rows()))  # epoch 0
    # epoch 1: plain update (old schema), mutate id 5
    src1 = spark.createDataFrame(
        [
            Row(id=r.id, name=r.name, bal=-5 if r.id == 5 else r.bal)
            for r in base_rows()
        ]
    )
    eng.update(SPEC, src1)
    # epoch 2: schema-add boundary, mutate id 9, delete id 3
    src2 = _evolve_add(spark, mutate_ids={9}, delete_ids={3})
    eng.update(SPEC, src2)
    # epoch 3: plain update in the NEW schema, mutate id 11
    src3 = src2.withColumn(
        "bal", F.when(F.col("id") == 11, F.lit(1)).otherwise(F.col("bal"))
    )
    eng.update(SPEC, src3)

    # replay to epoch 1: epoch-1 values, `tier` NULL everywhere
    back = eng.replay(SPEC, as_of_epoch=1)
    want = {
        r.id: (r.name, -5 if r.id == 5 else r.bal) for r in base_rows()
    }
    got = {r["id"]: (r["name"], r["bal"]) for r in back.collect()}
    assert got == want
    assert all(r["tier"] is None for r in back.collect())

    # replay to epoch 2: post-boundary state (id 3 gone, tier filled)
    back2 = eng.replay(SPEC, as_of_epoch=2)
    assert sorted(
        tuple(r) for r in back2.select(*src2.columns).collect()
    ) == sorted(tuple(r) for r in src2.collect())


def test_apply_delta_rejects_schema_change(spark, tmp_store):
    eng = CdcEngine(tmp_store)
    eng.update(SPEC, spark.createDataFrame(base_rows()))
    batch = spark.createDataFrame([Row(id=1, name="u1", tier="x", bal=0)])
    with pytest.raises(ValueError, match="schema change in delta feed"):
        eng.apply_delta(SPEC, batch)
    # same names, bal retyped bigint -> double
    retyped = spark.createDataFrame([Row(id=1, name="u1", bal=10.0)])
    with pytest.raises(ValueError, match="schema change in delta feed"):
        eng.apply_delta(SPEC, retyped)


def test_bad_policy_rejected(spark, tmp_store):
    with pytest.raises(ValueError, match="schema_change_policy"):
        CdcEngine(tmp_store, schema_change_policy="yolo")


def test_has_scores_table_evolution_recomputes_and_keeps_scores(
    spark, tmp_store, sf_dir
):
    """A score-bearing table crossing the boundary: computed score_
    columns are NOT part of the fingerprint basis (classify_df), the
    delta re-derives them, and surviving rows keep theirs through the
    alignment — replica data ≡ source, score columns present and
    finite for mutated AND kept rows."""
    from updater_spark import demo
    from updater_spark.functions.scores import apply_score_overall, apply_scores
    from updater_spark.schema import TableSpec

    players = demo.player_shaped(
        spark.read.parquet(f"{sf_dir}/orders.parquet")
    ).limit(200)
    spec = TableSpec("player_evo", "id", has_scores=True)
    eng = CdcEngine(tmp_store, schema_change_policy="rebase")
    eng.update(spec, players)
    base_cols = players.columns

    # boundary: add a non-score data column + mutate a stat that feeds
    # score_stats for ids % 11 == 0
    src2 = players.select(
        *base_cols,
        (F.col("id") % 3).cast("long").alias("region_tag"),
    ).withColumn(
        "cheese_gathered",
        F.when(
            F.col("id") % 11 == 0, F.col("cheese_gathered") + 500
        ).otherwise(F.col("cheese_gathered")),
    )
    stats = eng.update(spec, src2)
    assert stats.extra["schema_change"]["added"] == ["region_tag"]
    assert 0 < stats.upserts < 200  # churn stayed proportional

    rep = tmp_store.read("player_evo")
    assert "region_tag" in rep.columns and "score_stats" in rep.columns
    # replica data columns == source (modulo computed columns)
    want = sorted(tuple(r) for r in src2.select(*src2.columns).collect())
    got = sorted(tuple(r) for r in rep.select(*src2.columns).collect())
    assert got == want
    # scores: mutated rows carry RE-DERIVED scores, kept rows carry
    # their originals — both equal a fresh computation on src2
    fresh = apply_score_overall(apply_scores(src2))
    want_scores = sorted(
        tuple(r)
        for r in fresh.select("id", "score_stats", "score_overall").collect()
    )
    got_scores = sorted(
        tuple(r)
        for r in rep.select("id", "score_stats", "score_overall").collect()
    )
    assert got_scores == want_scores


def test_dedup_index_consistent_across_boundary_epoch(
    spark, tmp_store, sf_dir
):
    """Composition: a downstream incremental dedup index fed by
    apply_cdc_epoch stays replica-consistent across a schema-change
    epoch. Under rebase with an untouched text column, the boundary
    delta carries ONLY real churn — the index does not re-sign the
    corpus just because a metadata column appeared."""
    from updater_spark.operators.dedup_index import (
        DedupIndex,
        apply_cdc_epoch,
    )
    from updater_spark.schema import TableSpec

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text", "lang")
        .limit(120)
    )
    spec = TableSpec("docs_evo", "doc_id")
    eng = CdcEngine(tmp_store, schema_change_policy="rebase")
    eng.update(spec, docs)
    idx = DedupIndex(tmp_store, "devo")
    apply_cdc_epoch(idx, tmp_store, "docs_evo", "doc_id", "text").count()
    sigs_before = idx.signatures().count()

    # boundary epoch: add a quality column, touch NO text, delete 3
    src2 = docs.filter(F.col("doc_id") % 40 != 0).withColumn(
        "quality", (F.col("doc_id") % 5).cast("long")
    )
    stats = eng.update(spec, src2)
    assert stats.extra["schema_change"]["added"] == ["quality"]
    n_del = stats.deletes
    assert stats.upserts == 0 and n_del > 0  # no text churned
    apply_cdc_epoch(idx, tmp_store, "docs_evo", "doc_id", "text").count()
    # the index mirrors the replica exactly: only the deletes left
    assert idx.signatures().count() == sigs_before - n_del
    assert idx.signatures().count() == tmp_store.read("docs_evo").count()


def test_simultaneous_add_and_drop_rebase(spark, tmp_store):
    """Both directions in one epoch: drop `name`, add `tier` — the
    diff runs over the surviving common columns (id, bal), the
    replica-side hashes rebase (cached ones cover the dropped col),
    and the backfill attaches `tier` to every surviving row."""
    eng = CdcEngine(tmp_store, schema_change_policy="rebase")
    eng.update(SPEC, spark.createDataFrame(base_rows()))
    src2 = spark.createDataFrame(
        [
            Row(
                id=r.id,
                bal=r.bal + (50 if r.id % 13 == 0 else 0),
                tier="g" if r.id % 2 == 0 else "b",
            )
            for r in base_rows()
        ]
    )
    stats = eng.update(SPEC, src2)
    ev = stats.extra["schema_change"]
    assert ev["added"] == ["tier"] and ev["dropped"] == ["name"]
    assert stats.upserts == 3  # ids 13, 26, 39 — bal churn only
    assert tmp_store.read("acct").columns == ["id", "bal", "tier"]
    assert _sorted(tmp_store.read("acct")) == _sorted(src2)
    # next epoch plain incremental under the new basis
    src3 = src2.withColumn(
        "tier", F.when(F.col("id") == 6, F.lit("x")).otherwise(F.col("tier"))
    )
    stats3 = eng.update(SPEC, src3)
    assert stats3.extra == {} and stats3.updates == 1
    assert _sorted(tmp_store.read("acct")) == _sorted(src3)


def test_evolution_with_bucketed_fingerprint_cache(spark, tmp_store):
    """The double-buffered bucketed hash cache composes with the
    boundary epoch: basis sidecars live next to the logical fp table
    name, rotation lands in the other buffer, next epoch diffs
    shuffle-free again."""
    eng = CdcEngine(
        tmp_store, schema_change_policy="rebase", fingerprint_buckets=4
    )
    eng.update(SPEC, spark.createDataFrame(base_rows()))
    src2 = _evolve_add(spark, mutate_ids={5}, delete_ids=set())
    stats = eng.update(SPEC, src2)
    assert stats.extra["schema_change"]["added"] == ["tier"]
    assert stats.upserts == 2 and stats.updates == 1
    assert _sorted(tmp_store.read("acct")) == _sorted(src2)
    src3 = src2.withColumn(
        "bal", F.when(F.col("id") == 8, F.lit(1)).otherwise(F.col("bal"))
    )
    stats3 = eng.update(SPEC, src3)
    assert stats3.extra == {} and stats3.updates == 1
    assert _sorted(tmp_store.read("acct")) == _sorted(src3)
    for buf in (0, 1):
        spark.sql(f"DROP TABLE IF EXISTS acct__fingerprints__buf{buf}")


def test_full_churn_never_trusts_cross_basis_hash_coincidence(
    spark, tmp_store
):
    """A row whose rendered fingerprint concat COINCIDES across the
    two bases (drop `name`, add `tier` with the same value: 'id'||'x'
    both ways) must NOT be skipped: cross-basis hash equality is a
    meaningless coincidence, and a hypothesis run proved trusting it
    loses a common-column change (r8). full_churn now means literally
    every surviving row reclassifies as update."""
    eng = CdcEngine(tmp_store)  # full_churn default
    eng.update(
        SPEC,
        spark.createDataFrame(
            [Row(id=1, name="x"), Row(id=2, name="y")]
        ),
    )
    src2 = spark.createDataFrame(
        [Row(id=1, tier="x"), Row(id=2, tier="z")]
    )
    stats = eng.update(SPEC, src2)
    ev = stats.extra["schema_change"]
    assert ev["added"] == ["tier"] and ev["dropped"] == ["name"]
    # id 1's rendering coincides ('1x' under both bases) but still
    # travels through the delta — honest full churn
    assert stats.updates == 2 and stats.upserts == 2
    assert _sorted(tmp_store.read("acct")) == _sorted(src2)


def test_full_churn_coincident_common_column_change_lands(
    spark, tmp_store
):
    """The exact falsifying example hypothesis found: [name] -> value
    0, then [name, counter] epoch, then [extra, name] with name=1 —
    id 1's renderings coincide ('101' both ways) while the COMMON
    column `name` changed 0→1. The replica must land on the source."""
    eng = CdcEngine(tmp_store)  # full_churn default
    eng.update(SPEC, spark.createDataFrame([Row(id=1, name=0)]))
    eng.update(
        SPEC, spark.createDataFrame([Row(id=1, name=0, counter=1)])
    )
    src3 = spark.createDataFrame([Row(id=1, extra=0, name=1)])
    eng.update(SPEC, src3)
    assert _sorted(tmp_store.read("acct")) == _sorted(src3)


def test_drop_rebase_with_normalize_col_falls_back_to_full_churn(
    spark, tmp_store
):
    """normalize_name_col rewrites a data column at WRITE time, so a
    drop-rebase's replica-side re-hash would mismatch every
    un-suffixed source row — churn-proportionality silently becoming
    a bootstrap-sized delta. The engine must detect the combination,
    fall back to honest full churn, and say so in the stats."""
    spec = TableSpec("named", "id", normalize_name_col="name")
    eng = CdcEngine(tmp_store, schema_change_policy="rebase")
    # names WITHOUT '#': the replica stores name || '#0000'
    rows = [Row(id=i, name=f"u{i}", bal=i) for i in range(1, 21)]
    eng.update(spec, spark.createDataFrame(rows))
    rep_names = {
        r["name"] for r in tmp_store.read("named").collect()
    }
    assert all(n.endswith("#0000") for n in rep_names)

    # boundary epoch: DROP bal (the normalize col survives)
    src2 = spark.createDataFrame([Row(id=r.id, name=r.name) for r in rows])
    stats = eng.update(spec, src2)
    ev = stats.extra["schema_change"]
    assert ev["dropped"] == ["bal"]
    assert "normalize_name_col" in ev.get("policy_fallback", "")
    # the recorded policy is the EFFECTIVE one, not the configured one
    assert ev["policy"] == "full_churn"
    assert stats.upserts == 20  # honest full churn, not silent
    # the replica still lands exactly on the (normalized) source
    got = {
        r["id"]: r["name"] for r in tmp_store.read("named").collect()
    }
    assert got == {r.id: f"u{r.id}#0000" for r in rows}
    # add-only rebase on the SAME spec needs no fallback: the cached
    # hashes (raw source values) are reused untouched
    src3 = spark.createDataFrame(
        [Row(id=r.id, name=f"{r.name}#0000", tier=1) for r in rows]
    )
    stats3 = eng.update(spec, src3)
    ev3 = stats3.extra["schema_change"]
    assert ev3["added"] == ["tier"] and "policy_fallback" not in ev3


def test_replay_mask_survives_pre_sidecar_tables(spark, tmp_store):
    """Tables bootstrapped before the basis sidecar existed: the
    history must be seeded from the replica-inferred basis at the
    next update, or replay() to a pre-boundary epoch leaks the
    added column's CURRENT values for rows untouched since."""
    import os

    eng = CdcEngine(
        tmp_store, changelog_mode="full", schema_change_policy="rebase"
    )
    eng.update(SPEC, spark.createDataFrame(base_rows()))
    # simulate a pre-upgrade table: drop both sidecars
    d = tmp_store._dir("acct__fingerprints")
    for k in ("basis", "basis_history"):
        os.remove(os.path.join(d, f"_META_{k}"))

    # epoch 1: plain update (seeds the history from the replica)
    src1 = spark.createDataFrame(
        [
            Row(id=r.id, name=r.name, bal=-1 if r.id == 5 else r.bal)
            for r in base_rows()
        ]
    )
    eng.update(SPEC, src1)
    # epoch 2: the boundary (adds tier)
    eng.update(SPEC, _evolve_add(spark, mutate_ids={9}, delete_ids=set()))

    back = eng.replay(SPEC, as_of_epoch=1)
    assert all(r["tier"] is None for r in back.collect())
    got = {r["id"]: r["bal"] for r in back.collect()}
    assert got[5] == -1 and got[9] == 90  # epoch-1 values


def test_partitioned_full_changelog_replay_across_boundary(
    spark, tmp_store
):
    """Composition: bucket-partitioned replica + changelog_mode='full'
    + a rebase boundary epoch — replay to the pre-boundary epoch must
    restore deleted rows, rewind mutations, and mask the added column,
    reading through the partitioned layout."""
    eng = CdcEngine(
        tmp_store,
        changelog_mode="full",
        schema_change_policy="rebase",
        partition_buckets=8,
    )
    eng.update(SPEC, spark.createDataFrame(base_rows()))  # epoch 0
    src1 = spark.createDataFrame(
        [
            Row(id=r.id, name=r.name, bal=-9 if r.id == 4 else r.bal)
            for r in base_rows()
        ]
    )
    eng.update(SPEC, src1)  # epoch 1 (narrow schema)
    eng.update(SPEC, _evolve_add(spark, mutate_ids={9}, delete_ids={3}))

    back = eng.replay(SPEC, as_of_epoch=1)
    got = {r["id"]: (r["name"], r["bal"], r["tier"]) for r in back.collect()}
    assert set(got) == {r.id for r in base_rows()}  # id 3 restored
    assert got[4] == ("u4", -9, None)
    assert got[9] == ("u9", 90, None)
    assert all(v[2] is None for v in got.values())


@pytest.mark.parametrize("policy", ["full_churn", "rebase"])
def test_type_change_epoch_lands_on_source(spark, tmp_store, policy):
    """A column TYPE change with unchanged names (int bal -> double
    bal) used to bypass the name-based basis diff entirely: the
    fingerprint rendering shifted silently (full churn with no stats
    flag) and the merge hit unionByName coercion with none of the loud
    boundary handling adds/drops get (ADVICE r7). Now it is a recorded
    schema boundary; rebase cannot reuse retyped hashes, so the
    effective policy is full_churn either way — and the stats say so."""
    eng = CdcEngine(tmp_store, schema_change_policy=policy)
    eng.update(SPEC, spark.createDataFrame(base_rows()))

    src2 = spark.createDataFrame(
        [
            Row(
                id=r.id,
                name=r.name,
                bal=float(r.bal) + (0.5 if r.id % 11 == 0 else 0.0),
            )
            for r in base_rows()
        ]
    )
    stats = eng.update(SPEC, src2)
    ev = stats.extra["schema_change"]
    assert ev["added"] == [] and ev["dropped"] == []
    assert [c for c, _, _ in ev["type_changed"]] == ["bal"]
    _, old_t, new_t = ev["type_changed"][0]
    assert old_t == "bigint" and new_t == "double"
    assert ev["policy"] == "full_churn"
    if policy == "rebase":
        assert "type change" in ev["policy_fallback"]
    # replica lands exactly on the retyped source
    rep = tmp_store.read("acct")
    assert dict(rep.dtypes)["bal"] == "double"
    assert _sorted(rep) == _sorted(src2)
    # the NEXT epoch is normal incremental again (basis + types rotated)
    src3 = src2.withColumn(
        "bal", F.when(F.col("id") == 2, F.lit(123.25)).otherwise(F.col("bal"))
    )
    stats3 = eng.update(SPEC, src3)
    assert stats3.extra == {} and stats3.upserts == 1
    assert _sorted(tmp_store.read("acct")) == _sorted(src3)


def test_type_change_on_legacy_sidecar_is_skipped(spark, tmp_store):
    """Sidecars written before type recording hold a bare column list;
    type drift cannot be detected for them (no stored types), but the
    first post-upgrade epoch must rewrite the sidecar WITH types so
    detection arms from then on."""
    import json

    eng = CdcEngine(tmp_store, schema_change_policy="rebase")
    eng.update(SPEC, spark.createDataFrame(base_rows()))
    # rewrite the sidecar in the legacy bare-list format
    legacy = json.dumps(["id", "name", "bal"])
    tmp_store.write_sidecar("acct__fingerprints", "basis", legacy)
    assert eng._read_basis("acct") == (["id", "name", "bal"], None)

    # a same-schema epoch runs clean (no evolution) and re-arms types
    src2 = spark.createDataFrame(
        [
            Row(id=r.id, name=r.name, bal=r.bal + (1 if r.id == 6 else 0))
            for r in base_rows()
        ]
    )
    stats = eng.update(SPEC, src2)
    assert stats.extra == {} and stats.upserts == 1
    assert eng._read_basis("acct")[1] == {
        "id": "bigint",
        "name": "string",
        "bal": "bigint",
    }
    # ...so a retype NOW is detected
    src3 = spark.createDataFrame(
        [Row(id=r.id, name=r.name, bal=float(r.bal)) for r in base_rows()]
    )
    stats3 = eng.update(SPEC, src3)
    assert "type_changed" in stats3.extra["schema_change"]


def test_changelog_reads_across_a_type_change(spark, tmp_store):
    """An int -> double epoch leaves int pre-images in the changelog
    before it and double ones after it. The changelog's _SCHEMA carries
    double, Spark reads the older int files under it, and both the
    changelog and a replay to the boundary epoch read — no footer merge
    of incompatible types."""
    spec = TableSpec("tc", "id")
    eng = CdcEngine(tmp_store, changelog_mode="full")
    ints = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 11)], "id long, v int"
    )
    eng.update(spec, ints)
    doubles = spark.createDataFrame(
        [(i, i * 10 + (0.5 if i == 3 else 0.0)) for i in range(1, 11)],
        "id long, v double",
    )
    stats = eng.update(spec, doubles)  # epoch 1: the type boundary
    assert [c for c, _, _ in stats.extra["schema_change"]["type_changed"]] == ["v"]
    eng.update(spec, doubles.withColumn(  # epoch 2: a normal epoch
        "v", F.when(F.col("id") == 4, F.lit(99.5)).otherwise(F.col("v"))
    ))

    log = eng.changelog("tc")
    assert dict(log.dtypes)["v"] == "double"
    pre = {(r["_epoch"], r["id"]): r["v"] for r in log.collect()}
    assert len(pre) == 11  # every row at the boundary, id 4 after it
    assert pre[(1, 3)] == 30.0 and pre[(2, 4)] == 40.0

    back = {r["id"]: r["v"] for r in eng.replay(spec, 1).collect()}
    assert back == {i: i * 10 + (0.5 if i == 3 else 0.0) for i in range(1, 11)}
