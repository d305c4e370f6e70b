"""Merge / upsert / delete / changelog operators (SURVEY.md §2.1
S4-S10, §2.3 J2/J5).

The reference's sinks are MySQL ``REPLACE INTO`` (delete+insert by
primary key — last-writer-wins upsert), batched ``DELETE ... WHERE pk
IN (...)``, and an ``INSERT ... SELECT`` changelog of pre-images. On
Spark these become keyed anti-join + union (or a real ``MERGE INTO``
on Delta/Iceberg in production — the operators here are
format-agnostic DataFrame functions, so swapping the sink for a
transactional table format changes only the writer, not the plan).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# "did tig's db update?" — skip deletes wholesale above this count
# (download.py:326-330): a huge delete set means the upstream schema
# or dump broke, not that 100k players vanished.
DELETE_GUARD_DEFAULT = 100_000

# Key sets at or above this row count are never hard-broadcast
# (VERDICT r5 #4): every forced F.broadcast of a CDC key set must be
# gated on a MEASURED count against this limit, so one config change
# (a raised delete guard, higher churn) degrades to an AQE shuffle
# join instead of a multi-GB driver broadcast. ~10M long keys ≈ 80 MB
# serialized — the conventional ceiling for a comfortable broadcast.
BROADCAST_KEY_LIMIT = 10_000_000


def _maybe_broadcast(keys: DataFrame, hint: bool) -> DataFrame:
    """CDC key sets are normally tiny → broadcast hint ON by default
    (the source side then never shuffles). Callers that KNOW the key
    set is huge (the engine has exact diff counts) pass ``hint=False``
    and let AQE pick a shuffle join — a hard broadcast of 10^8 keys
    would eat driver/executor memory for no win.

    Key sets are never de-duplicated first: they only feed semi and
    anti joins, which emit each left row at most once whatever the
    right side holds, so a ``distinct()`` would only add a shuffle."""
    return F.broadcast(keys) if hint else keys


def semi_join_fetch(
    source: DataFrame, keys: DataFrame, key: str, hint_broadcast: bool = True
) -> DataFrame:
    """Fetch full rows for a key set (download.py:435-476 S4/J2).

    The reference issues batched ``WHERE pk IN (100 ids)`` point
    lookups; distributed, this is a left-semi join. The changed-id
    side of a CDC delta is normally tiny relative to the source, so
    it broadcasts — the source scan then never shuffles.
    """
    return source.join(
        _maybe_broadcast(keys.select(key), hint_broadcast),
        on=key,
        how="semi",
    )


def merge_upsert(
    target: DataFrame, delta: DataFrame, key: str, hint_broadcast: bool = True
) -> DataFrame:
    """``REPLACE INTO`` semantics (download.py:489-506, 599-604):
    delete+insert by primary key, delta wins.

    Anti-join keeps target rows whose key is NOT in the delta, then the
    delta is unioned in. With a transactional format this is
    ``MERGE INTO t USING d ON t.pk = d.pk WHEN MATCHED THEN UPDATE *
    WHEN NOT MATCHED THEN INSERT *``.
    """
    keys = _maybe_broadcast(delta.select(key), hint_broadcast)
    kept = target.join(keys, on=key, how="anti")
    return kept.unionByName(delta)


@dataclass
class DeleteResult:
    result: DataFrame
    applied: bool
    delete_count: int


def apply_deletes(
    target: DataFrame,
    delete_keys: DataFrame,
    key: str,
    guard: int = DELETE_GUARD_DEFAULT,
) -> DeleteResult:
    """Bulk delete by key list with the safety valve
    (download.py:326-366 S7): if the delete set is implausibly large
    (>= ``guard``), skip deletes entirely rather than wreck the
    replica. The count is one cheap job over the (small) key set."""
    n = delete_keys.count()
    if n >= guard:
        return DeleteResult(result=target, applied=False, delete_count=n)
    # gate the broadcast on the measured count: with the default guard
    # every applied delete set is tiny, but a caller that RAISES the
    # guard past BROADCAST_KEY_LIMIT must not turn the safety valve
    # into a driver-OOM broadcast (VERDICT r5 #4)
    kept = target.join(
        _maybe_broadcast(delete_keys.select(key), n < BROADCAST_KEY_LIMIT),
        key,
        "anti",
    )
    return DeleteResult(result=kept, applied=True, delete_count=n)


def changelog_replay(
    replica: DataFrame,
    changelog: DataFrame,
    key: str,
    as_of_epoch: int,
    epoch_col: str = "_epoch",
    change_type_col: str = "_change_type",
) -> DataFrame:
    """Point-in-time reconstruction from the pre-image changelog: the
    table's state as of the END of ``as_of_epoch``.

    The reference only ever reads its changelog manually
    (download.py:585-595 writes it, nothing consumes it) — this
    operator closes that loop: with pre-images stamped by run epoch
    (plans/cdc.py), any historical state is derivable from (current
    replica + changelog) without storing full snapshots.

    Semantics, per key, over entries with ``epoch > as_of_epoch``:
    - no entry        → the current replica row was already current.
    - earliest entry is an ``update``/``delete`` pre-image → that
      pre-image IS the row's value at ``as_of_epoch`` (a delete's
      pre-image proves the row still existed back then).
    - earliest entry is an ``insert`` marker → the key did not exist
      yet; drop it.

    Scale shape: the changelog side reduces via ``min_by`` groupBy
    (partial-aggregated map-side, one shuffle of changelog rows — tiny
    vs the replica), then a single keyed full-outer join against the
    replica; with a bucketed replica the join side needs no Exchange.

    Schema evolution: the replica and the changelog may disagree on
    columns when replaying across a schema-change epoch. The output
    carries the UNION of both column sets: a column the changelog
    never logged (added after every logged epoch) reads NULL from a
    pre-image (it did not exist back then); a column the replica
    dropped reads NULL for rows whose value comes from the current
    replica (it no longer exists) and the logged value from
    pre-images. Rewinding to an epoch whose schema was narrower thus
    yields that epoch's values with later-added columns NULL — the
    closest relational rendering of "the column wasn't there".
    """
    data_cols = [c for c in changelog.columns if c not in (epoch_col, change_type_col)]
    first = (
        changelog.filter(F.col(epoch_col) > as_of_epoch)
        .groupBy(key)
        .agg(
            F.min_by(
                F.struct(
                    F.col(change_type_col).alias("ct"),
                    *[F.col(c) for c in data_cols if c != key],
                ),
                # a well-formed changelog has one entry per (key, epoch);
                # the change-type tiebreak keeps even malformed input
                # deterministic (delete < insert < update lexically)
                F.struct(F.col(epoch_col), F.col(change_type_col)),
            ).alias("_pre")
        )
    )
    joined = replica.join(first, key, "full_outer")
    rep_types = {f.name: f.dataType for f in replica.schema.fields}
    log_types = {
        f.name: f.dataType for f in changelog.schema.fields
    }
    all_cols = list(replica.columns) + [
        c for c in data_cols if c not in replica.columns
    ]
    out_cols = [F.col(key)]
    for c in all_cols:
        if c == key:
            continue
        pre_val = (
            F.col(f"_pre.{c}")
            if c in data_cols
            else F.lit(None).cast(rep_types[c])
        )
        cur_val = (
            F.col(c)
            if c in rep_types
            else F.lit(None).cast(log_types[c])
        )
        out_cols.append(
            F.when(F.col("_pre").isNotNull(), pre_val)
            .otherwise(cur_val)
            .alias(c)
        )
    return joined.filter(
        F.col("_pre").isNull() | (F.col("_pre.ct") != F.lit("insert"))
    ).select(*out_cols)


def changelog_preimages(
    old_table: DataFrame, updated_keys: DataFrame, key: str,
    hint_broadcast: bool = True,
) -> DataFrame:
    """Pre-images of updated rows (download.py:585-595 J5): the OLD
    version of every row that changed this run, appended to
    ``{table}_changelog``. Inserts have no pre-image — the reference's
    INNER JOIN against the old table drops them; the semi join here
    does the same."""
    return old_table.join(
        _maybe_broadcast(updated_keys.select(key), hint_broadcast),
        on=key,
        how="semi",
    )
