"""The benchmark's own tests; no Spark session needed.

Run from the repository root::

    python -m pytest cdcbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import os
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cdcbench import checks, gen  # noqa: E402
from cdcbench.trace import (  # noqa: E402
    GROUP_PREFIX,
    TABLE,
    Job,
    Tracer,
    attach_jobs,
    derive_stages,
    span_totals,
)


def _stage_all(seed: int, out: str) -> dict[str, str]:
    state = gen.CdcState(seed, 2_000, with_tribes=True)
    for t in state.tables:
        state.write_snapshot(t, os.path.join(out, t, "e0.parquet"))
    state.snapshot_epoch(0.01, 0.001, 0.001)
    for t in state.tables:
        state.write_snapshot(t, os.path.join(out, t, "e1.parquet"))
        state.write_expected(t, os.path.join(out, "expected", t, "e1.parquet"))
    rows, _ = state.delta_batch(0.02)
    gen.write_parquet(os.path.join(out, "delta.parquet"), rows, gen.PLAYER_COLS)
    digests = {}
    for dirpath, _, files in os.walk(out):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                digests[os.path.relpath(path, out)] = hashlib.sha256(fh.read()).hexdigest()
    return digests


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = _stage_all(7, str(tmp_path / "a"))
    b = _stage_all(7, str(tmp_path / "b"))
    c = _stage_all(8, str(tmp_path / "c"))
    assert len(a) == 10
    assert a == b
    assert a.keys() == c.keys()
    assert a["player/e0.parquet"] != c["player/e0.parquet"]


def test_epoch_churn_is_exact():
    state = gen.CdcState(3, 10_000, with_tribes=True)
    before = {t: {c: v.copy() for c, v in state.tables[t].items()} for t in state.tables}
    counts = state.snapshot_epoch(0.01, 0.001, 0.001)
    assert counts["player"] == (10, 100, 10)
    for t, (ins, upd, dele) in counts.items():
        pk, cols = gen.PKS[t], gen.COLS[t]
        old = {k: i for i, k in enumerate(before[t][pk].tolist())}
        new = {k: i for i, k in enumerate(state.tables[t][pk].tolist())}
        assert len(set(new) - set(old)) == ins
        assert len(set(old) - set(new)) == dele
        changed = sum(
            gen.fingerprint(before[t], cols, old[k]) != gen.fingerprint(state.tables[t], cols, new[k])
            for k in set(old) & set(new)
        )
        assert changed == upd


def _replica(tmp_path, cols: dict) -> str:
    d = tmp_path / "replica"
    d.mkdir()
    half = len(cols["id"]) // 2
    # two part files in reverse key order, like a shuffled Spark write
    for i, sl in enumerate((slice(half, None), slice(0, half))):
        pq.write_table(pa.table({c: v[sl] for c, v in cols.items()}), str(d / f"part-{i}.parquet"))
    (d / "_SUCCESS").write_text("")
    return str(d)


@pytest.mark.parametrize("corruption", ["none", "value", "missing_row", "extra_row", "name"])
def test_replica_check_catches_a_corrupted_copy(tmp_path, corruption):
    state = gen.CdcState(5, 500, with_tribes=False)
    expected = state.expected("player")
    got = {c: v.copy() for c, v in expected.items()}
    if corruption == "value":
        got["saved_mice"][123] += 1
    elif corruption == "missing_row":
        got = {c: np.delete(v, 7) for c, v in got.items()}
    elif corruption == "extra_row":
        got = {c: np.append(v, v[:1]) for c, v in got.items()}
        got["id"][-1] = 10_000
    elif corruption == "name":
        # a replica that skipped name normalization
        got["name"] = state.tables["player"]["name"].copy()
    miss = checks.table_mismatch(_replica(tmp_path, got), expected, "id")
    assert (miss is None) == (corruption == "none"), miss


class _FakeContext:
    """Stands in for SparkContext's thread-local properties."""

    def __init__(self):
        self._local = threading.local()

    def getLocalProperty(self, key):
        return getattr(self._local, "props", {}).get(key)

    def setLocalProperty(self, key, value):
        if not hasattr(self._local, "props"):
            self._local.props = {}
        self._local.props[key] = value


def _traced_epoch(tracer: Tracer) -> None:
    """An epoch with three concurrent table updates, as run_cycle does."""

    def table(name):
        with tracer.span(TABLE, table=name):
            time.sleep(0.01)
            with tracer.span("sources.store.changelog_append"):
                time.sleep(0.01)
            with tracer.span("sources.store.main_write"):
                time.sleep(0.01)
            time.sleep(0.01)

    with tracer.span("plans.cdc.epoch"):
        threads = [threading.Thread(target=table, args=(n,)) for n in ("player", "tribe", "member")]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
        assert not any(t.is_alive() for t in threads)
        with tracer.span("plans.cdc.post_update"):
            time.sleep(0.01)


def test_spans_nest_and_self_times_are_non_negative():
    tracer = Tracer(_FakeContext())
    _traced_epoch(tracer)
    derive_stages(tracer)
    by_id = {sp.id: sp for sp in tracer.spans}
    epoch = next(sp for sp in tracer.spans if sp.name == "plans.cdc.epoch")
    tables = [sp for sp in tracer.spans if sp.name == TABLE]
    assert len(tables) == 3 and all(sp.parent == epoch.id for sp in tables)
    for sp in tracer.spans:
        if sp.parent is not None:
            parent = by_id[sp.parent]
            assert parent.start <= sp.start <= sp.end <= parent.end, (sp, parent)
    totals = span_totals(tracer, {})
    assert all(t["self_s"] >= -1e-9 for t in totals.values())
    # the children account for the epoch apart from a small self time
    assert totals[epoch.id]["self_s"] < 0.2 * totals[epoch.id]["wall_s"]
    names = [sp.name for sp in tracer.spans]
    assert names.count("plans.cdc.diff") == 3 and names.count("plans.cdc.final_count") == 3


def test_jobs_go_to_the_span_that_submitted_them():
    tracer = Tracer(_FakeContext())
    _traced_epoch(tracer)
    derive_stages(tracer)
    table = next(sp for sp in tracer.spans if sp.name == TABLE)
    write = next(sp for sp in tracer.spans if sp.parent == table.id and sp.name == "sources.store.main_write")
    diff = next(sp for sp in tracer.spans if sp.name == "plans.cdc.diff" and sp.parent == table.id)
    stage = {"busy_s": 1.0, "tasks": 2, "shuffle_write_bytes": 3, "spill_bytes": 0, "output_bytes": 5, "output_rows": 6}
    jobs = [
        Job(1, f"{GROUP_PREFIX}{table.id}", diff.start + 0.001, [10]),
        Job(2, f"{GROUP_PREFIX}{write.id}", write.start + 0.001, [11, 10]),
    ]
    per_span = attach_jobs(tracer, jobs, {10: stage, 11: stage})
    totals = span_totals(tracer, per_span)
    assert totals[diff.id]["jobs"] == 1 and totals[diff.id]["busy_s"] == 1.0
    # stage 10 ran in job 1; job 2 lists it again as skipped
    assert totals[write.id]["jobs"] == 1 and totals[write.id]["busy_s"] == 1.0
    assert totals[table.id]["busy_s"] == 2.0 and totals[table.id]["tasks"] == 4
