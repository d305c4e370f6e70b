"""Spans around the benchmark's calls into the engine, joined with
Spark's own job and stage records.

Nothing inside ``updater_spark`` is instrumented. ``TracingStore`` and
``TracedEngine`` subclass the public ``TableStore`` and ``CdcEngine``
and open a span around each store write and engine entry point. Every
span sets the ``spark.jobGroup.id`` local property of its calling
thread to its own id, so the jobs Spark records carry the span that
submitted them, even for the concurrent per-table updates of
``run_cycle``. After the run, ``harvest`` reads jobs and stages from
the status store (which records them with ``spark.ui.enabled=false``)
and ``layer_metrics`` folds them into per-span totals.

Spans stay in memory; nothing is written until the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from dataclasses import dataclass, field

from updater_spark.plans.cdc import CdcEngine
from updater_spark.sources.store import TableStore

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "cdcbench-span-"

# the table-level span every store span and derived stage hangs off
TABLE = "plans.cdc.table"
SUFFIXES = (
    "wall_s",
    "self_s",
    "busy_s",
    "jobs",
    "tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "output_rows",
)
CDC_SPANS = (
    "plans.cdc.bootstrap",
    "plans.cdc.epoch",
    "plans.cdc.diff",
    "sources.store.changelog_append",
    "sources.store.delta_write",
    "sources.store.main_write",
    "sources.store.fp_write",
    "sources.store.other_write",
    "plans.cdc.final_count",
    "plans.cdc.post_update",
    "streaming.cdc_stream.batch",
)
OPERATOR_SUFFIXES = ("wall_s", "build_s", "busy_s", "jobs", "shuffle_write_bytes")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # time.time(), the clock Spark stamps jobs with
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # the outermost span open in the thread that drives the run;
        # spans opened by engine worker threads (update_many's pool,
        # the streaming callback) hang off it
        self._ambient: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else self._ambient

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self.current()
        stack = self._stack()
        with self._lock:
            sp = Span(next(self._ids), name, parent.id if parent else None, 0.0, attrs=attrs)
        prev_group = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"{GROUP_PREFIX}{sp.id}")
        outermost = not stack and self._ambient is None
        if outermost:
            self._ambient = sp
        stack.append(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()
            if outermost:
                self._ambient = None
            # restore, not clear: a streaming thread carries the
            # query's own job group, which stop() cancels by
            self.sc.setLocalProperty(GROUP_KEY, prev_group)
            with self._lock:
                self.spans.append(sp)

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> Span:
        """Record a span measured elsewhere (a streaming trigger)."""
        with self._lock:
            sp = Span(next(self._ids), name, parent, start, end, attrs)
            self.spans.append(sp)
        return sp


def _store_span_name(table: str) -> str:
    if table.endswith("__changelog"):
        return "sources.store.changelog_append"
    if table.endswith("__delta"):
        return "sources.store.delta_write"
    if table.endswith("__fingerprints"):
        return "sources.store.fp_write"
    if table.endswith("__deleted"):
        return "sources.store.other_write"
    return "sources.store.main_write"


class TracingStore(TableStore):
    """``TableStore`` with a span around each write made by a per-table
    update. Writes made elsewhere (post_update) stay inside their
    caller's span."""

    def __init__(self, spark, root: str, tracer: Tracer):
        super().__init__(spark, root)
        self.tracer = tracer

    def _span(self, name: str, kind: str | None = None):
        cur = self.tracer.current()
        if cur is None or cur.name != TABLE:
            return contextlib.nullcontext()
        return self.tracer.span(kind or _store_span_name(name), table=name)

    def write(self, name, df, partition_by=None, num_files=None):
        with self._span(name):
            return super().write(name, df, partition_by, num_files)

    def append(self, name, df):
        with self._span(name):
            return super().append(name, df)

    def write_sidecar(self, name, key, value):
        with self._span(name, "sources.store.other_write"):
            return super().write_sidecar(name, key, value)


class TracedEngine(CdcEngine):
    """``CdcEngine`` with a span around each per-table update or
    streamed batch and ``post_update``; the bootstrap, epoch and drain
    spans are opened by the caller."""

    def __init__(self, store: TracingStore, **kwargs):
        super().__init__(store, **kwargs)
        self.tracer = store.tracer

    def update(self, spec, source):
        with self.tracer.span(TABLE, table=spec.name):
            return super().update(spec, source)

    def apply_delta(self, spec, batch):
        with self.tracer.span(TABLE, table=spec.name):
            return super().apply_delta(spec, batch)

    def post_update(self, tribe_spec, was_bootstrap, stat_cols=None):
        with self.tracer.span("plans.cdc.post_update"):
            return super().post_update(tribe_spec, was_bootstrap, stat_cols)


# -- Spark's job and stage records ---------------------------------------
@dataclass
class Job:
    id: int
    group: str | None
    submitted: float
    stages: list[int]


def harvest(sc) -> tuple[list[Job], dict[int, dict]]:
    """Every job and completed stage the status store holds."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    seq = store.jobsList(jvm.java.util.ArrayList())
    for i in range(seq.size()):
        j = seq.apply(i)
        group = j.jobGroup()
        sub = j.submissionTime()
        sids = j.stageIds()
        jobs.append(
            Job(
                j.jobId(),
                group.get() if group.isDefined() else None,
                sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                [sids.apply(k) for k in range(sids.size())],
            )
        )
    stages = {}
    seq = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    for i in range(seq.size()):
        s = seq.apply(i)
        if s.status().toString() != "COMPLETE":
            continue
        stages[s.stageId()] = {
            "busy_s": s.executorRunTime() / 1000.0,
            "tasks": s.numCompleteTasks(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.diskBytesSpilled(),
            "output_bytes": s.outputBytes(),
            "output_rows": s.outputRecords(),
        }
    return jobs, stages


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def derive_stages(tracer: Tracer) -> None:
    """Split each table span into the stages around its store writes:
    ``plans.cdc.diff`` is everything before the first write (the
    fingerprint scan, the diff join and its counts), and
    ``plans.cdc.final_count`` everything after the last one."""
    children: dict[int, list[Span]] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    for sp in list(tracer.spans):
        if sp.name != TABLE:
            continue
        writes = sorted(
            (c for c in children.get(sp.id, []) if c.name.startswith("sources.store.")),
            key=lambda c: c.start,
        )
        if not writes:
            continue
        tracer.add("plans.cdc.diff", sp.start, writes[0].start, sp.id, owner=sp.id)
        tracer.add("plans.cdc.final_count", writes[-1].end, sp.end, sp.id, owner=sp.id)


def attach_jobs(tracer: Tracer, jobs: list[Job], stages: dict[int, dict]) -> dict[int, list[dict]]:
    """Stage records per span id. A job belongs to the span whose group
    it carries; jobs of a table span's own group go to the derived
    diff / final_count span whose interval holds their submission.
    Jobs carrying a foreign group (a streaming query's) go to the
    trigger span whose interval holds them. A stage counts once, in
    the first job that lists it (later jobs reuse it as skipped)."""
    by_id = {sp.id: sp for sp in tracer.spans}
    derived: dict[int, list[Span]] = {}
    for sp in tracer.spans:
        if "owner" in sp.attrs:
            derived.setdefault(sp.attrs["owner"], []).append(sp)
    triggers = [sp for sp in tracer.spans if sp.name == "streaming.cdc_stream.batch"]
    seen: set[int] = set()
    out: dict[int, list[dict]] = {}
    for job in sorted(jobs, key=lambda j: j.id):
        target = None
        if job.group and job.group.startswith(GROUP_PREFIX):
            target = by_id.get(int(job.group[len(GROUP_PREFIX):]))
            for d in derived.get(target.id if target else -1, []):
                if d.start <= job.submitted <= d.end:
                    target = d
                    break
        else:
            for t in triggers:
                if t.start <= job.submitted <= t.end:
                    target = t
                    break
        recs = [stages[s] for s in job.stages if s in stages and s not in seen]
        seen.update(job.stages)
        if target is None:
            continue
        out.setdefault(target.id, []).append({"jobs": 1, "tasks": 0})
        out[target.id].extend(recs)
    return out


def span_totals(tracer: Tracer, per_span: dict[int, list[dict]]) -> dict[int, dict]:
    """Inclusive totals per span: wall, self (wall minus the union of
    its children's intervals), and job/stage sums over its subtree."""
    children: dict[int, list[Span]] = {}
    for sp in tracer.spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    memo: dict[int, dict] = {}

    def total(sp: Span) -> dict:
        if sp.id in memo:
            return memo[sp.id]
        kids = children.get(sp.id, [])
        clipped = [(max(k.start, sp.start), min(k.end, sp.end)) for k in kids]
        clipped = [(s, e) for s, e in clipped if e > s]
        t = {
            "wall_s": sp.end - sp.start,
            "self_s": (sp.end - sp.start) - _union_length(clipped),
        }
        for key in SUFFIXES[2:]:
            t[key] = 0
        # derived stage spans own their jobs; the table span's own
        # list holds only jobs outside them
        for rec in per_span.get(sp.id, []):
            for k, v in rec.items():
                t[k] += v
        for k in kids:
            kt = total(k)
            for key in SUFFIXES[2:]:
                t[key] += kt[key]
        memo[sp.id] = t
        return t

    for sp in tracer.spans:
        total(sp)
    return memo


def _root(sp: Span, by_id: dict[int, Span]) -> Span:
    while sp.parent is not None and sp.parent in by_id:
        sp = by_id[sp.parent]
    return sp


def layer_metrics(tracer: Tracer, jobs: list[Job], stages: dict[int, dict], cores: int, queries: dict) -> dict[str, float]:
    """Per-layer metrics of one traced run, every name present on every
    workload (0 where the workload does not reach the layer).

    Epoch-scoped spans (cycle and drain) are summed over the timed
    epochs and divided by their count, so they read per epoch; the
    bootstrap span reads per bootstrap; operator spans read per timed
    pass."""
    derive_stages(tracer)
    totals = span_totals(tracer, attach_jobs(tracer, jobs, stages))
    by_id = {sp.id: sp for sp in tracer.spans}
    out: dict[str, float] = {}
    for name in CDC_SPANS:
        for suffix in SUFFIXES:
            out[f"{name}.{suffix}"] = 0
    for name, (module, _) in queries.items():
        for suffix in OPERATOR_SUFFIXES:
            out[f"operators.{module}.{name}.{suffix}"] = 0

    epochs = [sp for sp in tracer.spans if sp.name == "plans.cdc.epoch"]
    bootstraps = [sp for sp in tracer.spans if sp.name == "plans.cdc.bootstrap"]
    for sp in tracer.spans:
        root = _root(sp, by_id).name
        if sp.name == "plans.cdc.bootstrap":
            scale = 1 / len(bootstraps)
        elif sp.name in CDC_SPANS and root in ("plans.cdc.epoch", "streaming.cdc_stream.drain"):
            scale = 1 / len(epochs)
        else:
            continue
        for suffix in SUFFIXES:
            out[f"{sp.name}.{suffix}"] += totals[sp.id][suffix] * scale
    warm = [sp for sp in tracer.spans if sp.attrs.get("pass_") == "warm"]
    for sp in warm:
        n = sum(1 for w in warm if w.name == sp.name)
        t = totals[sp.id]
        out[f"{sp.name}.wall_s"] += sp.attrs["exec_s"] / n
        out[f"{sp.name}.build_s"] += sp.attrs["build_s"] / n
        for suffix in ("busy_s", "jobs", "shuffle_write_bytes"):
            out[f"{sp.name}.{suffix}"] += t[suffix] / n

    wall = out["plans.cdc.epoch.wall_s"]
    out["plans.cdc.epoch.core_util"] = out["plans.cdc.epoch.busy_s"] / (wall * cores) if wall else 0
    batches = [sp for sp in tracer.spans if sp.name == "streaming.cdc_stream.batch"]
    for key, field_ in (("add_batch_s", "addBatch"), ("latest_offset_s", "latestOffset"), ("wal_commit_s", "walCommit")):
        vals = [sp.attrs["durations"].get(field_, 0) / 1000.0 for sp in batches]
        out[f"streaming.cdc_stream.{key}"] = sum(vals) / len(vals) if vals else 0
    return out
