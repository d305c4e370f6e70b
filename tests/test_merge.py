"""Merge operators over key sets with duplicated keys.

The key sets feed semi and anti joins only, which emit each left row
at most once whatever the right side holds, so duplicated keys must
give exactly the rows that de-duplicated keys give.
"""

from pyspark.sql import functions as F

from updater_spark.operators.merge import (
    apply_deletes,
    changelog_preimages,
    merge_upsert,
    semi_join_fetch,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_duplicated_keys_give_identical_rows(spark):
    table = spark.range(30).select(F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    keys = spark.range(0, 30, 4).select(F.col("id").alias("k"))
    dup = keys.unionByName(keys).unionByName(keys)
    assert dup.count() == 3 * keys.count()

    for hint in (True, False):
        assert _rows(semi_join_fetch(table, dup, "k", hint)) == _rows(
            semi_join_fetch(table, keys, "k", hint)
        )
        assert _rows(changelog_preimages(table, dup, "k", hint)) == _rows(
            changelog_preimages(table, keys, "k", hint)
        )
    assert len(_rows(semi_join_fetch(table, dup, "k"))) == keys.count()

    # a delta with repeated keys: every old row of those keys goes
    # once, and the delta's rows are unioned in as given
    delta = keys.select("k", F.lit(-1).cast("long").alias("v"))
    assert _rows(merge_upsert(table, delta.unionByName(delta), "k")) == sorted(
        [(k, 3 * k) for k in range(30) if k % 4] + 2 * [(k, -1) for k in range(0, 30, 4)]
    )
    dup_result = apply_deletes(table, dup, "k")
    assert dup_result.applied and dup_result.delete_count == dup.count()
    assert _rows(dup_result.result) == _rows(apply_deletes(table, keys, "k").result)
    assert _rows(dup_result.result) == [(k, 3 * k) for k in range(30) if k % 4]
