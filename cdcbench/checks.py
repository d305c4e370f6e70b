"""Output checks, run between timed regions.

They read the store's parquet files with pyarrow, so they submit no
Spark job and leave the traced run's job records untouched.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq


def _rows(path: str | None) -> int:
    if path is None or not os.path.exists(path):
        return 0
    return sum(f.count_rows() for f in ds.dataset(path, format="parquet").get_fragments())


def table_rows(store, name: str) -> int:
    return _rows(store.current_path(name))


def changelog_rows(store, name: str) -> int:
    return _rows(store._appendable_dir(f"{name}__changelog"))


def changelog_rows_by_epoch(store, name: str) -> dict[int, int]:
    path = store._appendable_dir(f"{name}__changelog")
    if not os.path.exists(path):
        return {}
    epochs = ds.dataset(path, format="parquet").to_table(columns=["_epoch"])["_epoch"]
    values, counts = np.unique(epochs.to_numpy(), return_counts=True)
    return dict(zip(values.tolist(), counts.tolist()))


def read_columns(path: str) -> dict[str, np.ndarray]:
    table = pq.read_table(path)
    return {c: table[c].to_numpy(zero_copy_only=False) for c in table.column_names}


def table_mismatch(path: str | None, expected: dict[str, np.ndarray], pk: str) -> str | None:
    """None when the table at ``path`` holds exactly the expected rows
    on the expected columns (any row order), else what differs."""
    if path is None:
        return "no current version"
    got = pq.read_table(path, columns=list(expected))
    got = got.sort_by(pk)
    if got.num_rows != len(expected[pk]):
        return f"{got.num_rows} rows, expected {len(expected[pk])}"
    for col, want in expected.items():
        have = got[col].to_numpy(zero_copy_only=False)
        if not np.array_equal(have, want):
            bad = int(np.flatnonzero(have != want)[0])
            return f"column {col!r} differs at {pk}={expected[pk][bad]}: {have[bad]!r} != {want[bad]!r}"
    return None


def replica_mismatch(store, name: str, expected: dict[str, np.ndarray], pk: str) -> str | None:
    return table_mismatch(store.current_path(name), expected, pk)
