"""Forced broadcasts are gated on MEASURED key-set size (VERDICT r5
#4): every ``F.broadcast`` of a CDC key set in the engine goes through
``_maybe_broadcast`` with a hint derived from the epoch's exact diff
counts vs ``BROADCAST_KEY_LIMIT``. With the default limit the normal
tiny key sets still broadcast (the source side never shuffles); when
a raised delete guard or high-churn epoch pushes a key set past the
limit, the plan degrades to an AQE shuffle join instead of a multi-GB
driver broadcast. Tests lower the limit to 1 and assert the hint is
genuinely absent from the plan AND that results are unchanged.
"""

import pytest
from pyspark.sql import functions as F

import updater_spark.operators.merge as merge_mod
import updater_spark.plans.cdc as cdc_mod
from updater_spark.operators.merge import apply_deletes
from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import TableSpec
from updater_spark.sources.store import TableStore


def _hinted(df) -> bool:
    return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()


def test_apply_deletes_broadcast_gated_on_count(spark, monkeypatch):
    target = spark.range(100).withColumnRenamed("id", "k")
    dels = spark.range(5).withColumnRenamed("id", "k")
    # normal regime: small delete set -> broadcast hint present
    assert _hinted(apply_deletes(target, dels, "k").result)
    # raised-guard regime: the measured count exceeds the (lowered)
    # limit -> no hard broadcast, AQE picks the join strategy
    monkeypatch.setattr(merge_mod, "BROADCAST_KEY_LIMIT", 1)
    res = apply_deletes(target, dels, "k")
    assert res.applied and res.delete_count == 5
    assert not _hinted(res.result)
    assert res.result.count() == 95


def test_cdc_update_runs_unhinted_above_limit(spark, tmp_path, monkeypatch):
    """End-to-end: with the limit forced to 0 every key-set broadcast
    in the update cycle (semi-join fetch, pre-images, merge anti-join,
    delete anti-join) and in an apply_delta epoch falls back to
    shuffle joins — and the results are byte-identical to the
    broadcast plan's."""
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 13).alias("v")
    )
    mutated = base.withColumn(
        "v", F.when(F.col("k") % 10 == 0, F.col("v") + 1).otherwise(F.col("v"))
    ).filter(F.col("k") % 17 != 0)
    batch = spark.range(190, 210).select(
        F.col("id").alias("k"), F.lit(5).cast("long").alias("v")
    )
    broadcasts = []
    real_broadcast = F.broadcast
    monkeypatch.setattr(
        F, "broadcast", lambda df: broadcasts.append(df) or real_broadcast(df)
    )

    def run(root):
        broadcasts.clear()
        eng = CdcEngine(TableStore(spark, str(root)))
        spec = TableSpec("t", "k", has_scores=False)
        eng.update(spec, base)
        stats = eng.update(spec, mutated)
        eng.apply_delta(spec, batch)
        rows = sorted(
            (r["k"], r["v"]) for r in eng.store.read("t").collect()
        )
        return stats, rows

    s_hint, rows_hint = run(tmp_path / "hinted")
    assert broadcasts
    monkeypatch.setattr(cdc_mod, "BROADCAST_KEY_LIMIT", 0)
    s_nohint, rows_nohint = run(tmp_path / "unhinted")
    assert not broadcasts
    assert rows_hint == rows_nohint
    assert (s_hint.upserts, s_hint.deletes, s_hint.deletes_applied) == (
        s_nohint.upserts,
        s_nohint.deletes,
        s_nohint.deletes_applied,
    )
    assert s_nohint.deletes > 0 and s_nohint.deletes_applied


def test_partitioned_cdc_unhinted_above_limit(spark, tmp_path, monkeypatch):
    """The bucket-rewrite anti-join (touched keys) is gated too."""
    base = spark.range(300).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    mutated = base.withColumn(
        "v", F.when(F.col("k") % 9 == 0, F.col("v") + 10).otherwise(F.col("v"))
    ).filter(F.col("k") % 23 != 0)

    def run(root):
        eng = CdcEngine(TableStore(spark, str(root)), partition_buckets=4)
        spec = TableSpec("t", "k", has_scores=False)
        eng.update(spec, base)
        eng.update(spec, mutated)
        return sorted((r["k"], r["v"]) for r in eng._read_main("t").collect())

    rows_hint = run(tmp_path / "hinted")
    monkeypatch.setattr(cdc_mod, "BROADCAST_KEY_LIMIT", 0)
    rows_nohint = run(tmp_path / "unhinted")
    assert rows_hint == rows_nohint
    assert rows_nohint == sorted(
        (r["k"], r["v"]) for r in mutated.collect()
    )
