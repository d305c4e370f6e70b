"""End-to-end composition pinning joinview.py's docstring claim: the
affected-value feed a CDC epoch needs is EXACTLY what CdcEngine
already materializes — ``{t}__delta`` post-images + the changelog's
pre-images for that epoch (updates AND deletes)."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from updater_spark.operators.joinview import (
    affected_join_values,
    join_view_bootstrap,
    join_view_repair,
)
from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import TableSpec
from updater_spark.sources.store import TableStore


def test_cdc_feed_drives_join_view(spark, tmp_path):
    store = TableStore(spark, str(tmp_path / "store"))
    # mode="full": delete pre-images carry _change_type markers — the
    # view needs deleted rows' OLD join values, which the default
    # updates-only changelog does not archive
    eng = CdcEngine(store, changelog_mode="full")
    spec = TableSpec("fact", "pk")
    base = spark.createDataFrame(
        [Row(pk=i, j=i % 7, v=f"v{i}") for i in range(1, 40)]
    )
    dim = spark.createDataFrame(
        [Row(j=j, dname=f"d{j}") for j in range(7)]
    )
    eng.bootstrap(spec, base)
    join_view_bootstrap(
        store, "view", store.read("fact"), dim, "j", buckets=8
    )

    # epoch: pk%5==0 moves join value (+1 mod 7), pk%11==0 deleted,
    # one insert
    mutated = (
        base.filter(F.col("pk") % 11 != 0)
        .withColumn(
            "j",
            F.when(F.col("pk") % 5 == 0, (F.col("j") + 1) % 7).otherwise(
                F.col("j")
            ),
        )
        .unionByName(
            spark.createDataFrame([Row(pk=100, j=3, v="new")])
        )
    )
    eng.update(spec, mutated)

    # the engine's own feeds: post-images from __delta, pre-images
    # from the changelog rows this epoch stamped
    delta = store.read("fact__delta")
    epoch = eng.current_epoch("fact")
    pre = store.read("fact__changelog").filter(
        (F.col(CdcEngine.EPOCH_COL) == epoch)
        & F.col(CdcEngine.CT_COL).isin("update", "delete")
    )
    aff = affected_join_values(delta, pre, "j")
    join_view_repair(
        store, "view", store.read("fact"), dim, "j", aff, buckets=8
    )

    got = {
        tuple(r)
        for r in store.read("view")
        .select("pk", "j", "v", "dname")
        .collect()
    }
    want = {
        tuple(r)
        for r in store.read("fact")
        .join(dim, "j")
        .select("pk", "j", "v", "dname")
        .collect()
    }
    assert got == want
    # sanity: the epoch really exercised all three change kinds
    kinds = {
        r[0]
        for r in pre.select("_change_type").distinct().collect()
    }
    assert "delete" in kinds and "update" in kinds
