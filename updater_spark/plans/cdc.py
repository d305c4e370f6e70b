"""CDC orchestration: bootstrap / incremental update / post_update.

Re-expresses the reference's three entry points (SURVEY.md §3):

- ``bootstrap``  — empty-replica full sync: one scan computing data
  cols + scores + fingerprint, written straight to the main table and
  the fingerprint cache (/root/reference/src/download.py:29-42,
  376-433, 3-stage pipeline).
- ``update``     — the main path: fingerprint source, diff against the
  cached replica fingerprints (full-outer join), fetch full rows for
  changed/new keys (broadcast semi join), archive pre-images, upsert,
  apply guarded deletes, rotate fingerprints
  (download.py:50-63 + post_download 532-604). ``apply_delta`` runs
  the same epoch sequence over a delta feed (arriving rows only).
- ``post_update`` — derived aggregates ``tribe_active``/``tribe_stats``
  (post_update.py:18-91).

Where the reference wires 5 asyncio coroutines through bounded queues,
here each step is a DataFrame in ONE lazily-built DAG; Spark pipelines
operators inside stages and the shuffle boundaries replace the queues.
State between runs (the fingerprint tables) lives in the TableStore
with atomic promotion (the double-buffer rotation, download.py:572-581).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from updater_spark.functions.fingerprints import fingerprint_table, row_fingerprint
from updater_spark.functions.scores import (
    apply_score_overall,
    apply_scores,
    normalize_names,
)
from updater_spark.operators.diff import (
    DELETE,
    INSERT,
    UPDATE,
    snapshot_diff,
    split_diff,
)
from updater_spark.operators.merge import (
    BROADCAST_KEY_LIMIT,
    DELETE_GUARD_DEFAULT,
    _maybe_broadcast,
    changelog_preimages,
    changelog_replay,
    merge_upsert,
    semi_join_fetch,
)
from updater_spark.operators.aggregates import tribe_active, tribe_stats
from updater_spark.schema import (
    TableSpec,
    align_to_schema,
    classify_df,
    stat_columns,
)
from updater_spark.sources.store import TableStore


@dataclass
class UpdateStats:
    table: str
    bootstrap: bool
    upserts: int = 0
    updates: int = 0
    deletes: int = 0
    deletes_applied: bool = True
    total_rows: int = 0
    extra: dict = field(default_factory=dict)


class CdcEngine:
    """Per-run orchestrator over a TableStore.

    Naming in the store: ``{name}`` main table, ``{name}__fingerprints``
    hash cache (the ``_hashes_0/1`` pair collapses into versioned
    writes), ``{name}__changelog`` pre-image history,
    ``{name}__delta`` this run's changed rows (the ``{name}_new``
    staging table, download.py:486-506), ``{name}__deleted`` this
    run's APPLIED delete keys (empty when the guard tripped, on
    bootstrap and for a delta-feed ``apply_delta`` epoch) — together
    ``__delta`` + ``__deleted`` are the full per-epoch change feed a
    downstream consumer (e.g. the incremental dedup index,
    operators/dedup_index.py::apply_cdc_epoch) needs to mirror the
    table. A bootstrap's ``__delta`` is the whole table: unpartitioned,
    its files are hard links to the main table's (``TableStore.link``),
    so the two share bytes rather than holding two copies.
    """

    BUCKET_COL = "_bucket"

    def __init__(
        self,
        store: TableStore,
        fingerprint_algo: str = "crc32",
        delete_guard: int = DELETE_GUARD_DEFAULT,
        partition_buckets: int | None = None,
        fingerprint_buckets: int | None = None,
        compact_every: int | None = None,
        changelog_keep_epochs: int | None = None,
        changelog_mode: str = "updates",
        schema_change_policy: str = "full_churn",
    ):
        """``partition_buckets=N`` switches the main table to hash-
        partitioned storage (``pmod(xxhash64(pk), N)``): incremental
        runs rewrite ONLY the buckets containing changed keys (dynamic
        partition overwrite) instead of the whole replica — the write-
        amplification fix that matters at 100 TB, where a 0.1% delta
        must not cost a 100% rewrite. Size N so one bucket ≈ a few GB
        (e.g. N=8192 for 20 TB).

        ``fingerprint_buckets=N`` stores the fingerprint cache as a
        bucketed+sorted catalog table with double-buffer rotation
        (table.py:108-117): the replica side of the next run's diff
        join is then pre-partitioned and pre-sorted on ``id``, so the
        full-outer SMJ needs NO Exchange and NO Sort on the stable
        ~100M-row side — only the fresh source fingerprints shuffle.
        Verified plan-level in tests/test_bucketing.py.

        ``compact_every=K`` compacts each table's changelog after every
        K-th update run (optionally retaining only the last
        ``changelog_keep_epochs`` epochs) — bounds the small-file count
        at one file per K runs instead of one per run.

        ``changelog_mode``: ``"updates"`` (default) archives only the
        pre-images of updated rows — exact reference parity
        (download.py:585-595 J5). ``"full"`` additionally archives
        delete pre-images and insert markers, each entry tagged with a
        ``_change_type`` column — the extra fidelity that makes any
        historical state reconstructible via ``replay()``. Pick the
        mode when the table is created and keep it. (The changelog IS
        allowed to widen across a schema-change epoch — files before
        the boundary carry the old column set and ``read_appendable``
        merges schemas, reading the missing columns as NULL.)

        ``schema_change_policy`` governs an epoch whose source column
        set differs from the fingerprint basis of the previous run
        (the reference adapts implicitly by re-reading
        ``information_schema`` every run, table.py:66-75 — its column
        lists and CRC32 basis silently follow the DBA):

        - ``"full_churn"`` (default, reference parity): fingerprint
          over the NEW basis. Every surviving row's hash differs from
          the cache, so the whole table reclassifies as updated — the
          delta is the full source, pre-images of every old row land
          in the changelog (OLD schema), and the replica is rewritten
          in the new shape. Honest and simple; costs a bootstrap-sized
          epoch. Exactly what the reference does: its cached hashes
          were computed over the old column list, the new scan hashes
          over the new one, every row "changed".
        - ``"rebase"``: diff over the COMMON columns only (stored
          basis order), so churn stays proportional to rows whose
          surviving values actually changed. Added columns attach to
          ALL rows from a narrow (pk, added...) source projection;
          dropped columns are projected away; the fingerprint cache
          rotates to the full new basis so the next epoch runs
          normally. An add-only change reuses the existing cache
          (common == old basis — no replica scan); a drop rebases the
          replica-side hashes with one row-local replica scan, no
          shuffle. The 100-TB path: a monthly DBA column-add costs one
          narrow join + the unavoidable full-width rewrite, NOT a
          full-churn changelog + delta.

        Either way the epoch's ``UpdateStats.extra["schema_change"]``
        records added/dropped/reordered so operators can see the
        boundary, and in partitioned mode a schema-change epoch
        rewrites ALL buckets (every surviving row changes shape — no
        pruning is possible)."""
        if changelog_mode not in ("updates", "full"):
            raise ValueError(
                f"changelog_mode must be 'updates' or 'full', got "
                f"{changelog_mode!r}"
            )
        if schema_change_policy not in ("full_churn", "rebase"):
            raise ValueError(
                f"schema_change_policy must be 'full_churn' or 'rebase',"
                f" got {schema_change_policy!r}"
            )
        self.schema_change_policy = schema_change_policy
        self.changelog_mode = changelog_mode
        self.store = store
        self.algo = fingerprint_algo
        self.delete_guard = delete_guard
        self.partition_buckets = partition_buckets
        self.fingerprint_buckets = fingerprint_buckets
        self.compact_every = compact_every
        self.changelog_keep_epochs = changelog_keep_epochs

    # -- fingerprint-cache IO (double-buffered when bucketed) ----------
    def _fp_name(self, name: str) -> str:
        return f"{name}__fingerprints"

    def _write_fp(self, name: str, fp: DataFrame) -> None:
        if self.fingerprint_buckets:
            self.store.write_bucketed_versioned(
                self._fp_name(name), fp, "id", self.fingerprint_buckets
            )
        else:
            self.store.write(self._fp_name(name), fp)

    def _read_fp(self, name: str) -> DataFrame:
        if self.fingerprint_buckets:
            return self.store.read_bucketed_versioned(self._fp_name(name))
        return self.store.read(self._fp_name(name))

    def _fp_exists(self, name: str) -> bool:
        if self.fingerprint_buckets:
            return self.store.exists_bucketed(self._fp_name(name))
        return self.store.exists(self._fp_name(name))

    # -- fingerprint basis (schema-evolution detection) ----------------
    def _write_basis(
        self,
        name: str,
        data_cols: list[str],
        types: dict[str, str] | None = None,
    ) -> None:
        """Record the ordered column list the cached fingerprints were
        computed over, plus each column's Spark type string. The
        reference never needs this — it re-reads ``information_schema``
        and implicitly re-bases every run; here the basis sidecar is
        what lets ``update`` DETECT that the source's columns moved and
        pick a defined policy instead of crashing in ``unionByName`` or
        silently full-churning. Types matter too: an in-place column
        TYPE change (same names) also shifts the fingerprint rendering
        ('1' vs '1.0'), so it must be detected like an add/drop rather
        than silently reclassifying every row (ADVICE r7)."""
        import json

        self.store.write_sidecar(
            self._fp_name(name),
            "basis",
            json.dumps({"columns": data_cols, "types": types or {}}),
        )

    def _read_basis(
        self, name: str
    ) -> tuple[list[str] | None, dict[str, str] | None]:
        """``(columns, types)`` from the basis sidecar; ``(None, None)``
        when there is none. Legacy (pre-r8) sidecars stored a bare
        column list and read ``types=None``: type drift is undetectable
        for them until the first post-upgrade epoch rewrites the
        sidecar with types."""
        import json

        raw = self.store.read_sidecar(self._fp_name(name), "basis")
        if not raw:
            return None, None
        parsed = json.loads(raw)
        if isinstance(parsed, list):
            return parsed, None
        return parsed["columns"], parsed.get("types") or None

    @staticmethod
    def _basis_types(df: DataFrame, cols: list[str]) -> dict[str, str]:
        """Spark type strings for ``cols`` from ``df``'s schema —
        schema-only, no job."""
        by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        return {c: by_name[c] for c in cols if c in by_name}

    def _append_basis_history(
        self, name: str, epoch: int, data_cols: list[str]
    ) -> None:
        """Epoch → column-set history (one tiny JSON sidecar). replay()
        needs it to answer "did this column exist at epoch e?" — a row
        untouched since the boundary has no pre-image, so without the
        history its later-added columns would leak current values into
        a pre-boundary reconstruction."""
        import json

        hist = self._read_basis_history(name) or []
        hist = [h for h in hist if h["epoch"] != epoch]
        hist.append({"epoch": epoch, "columns": data_cols})
        hist.sort(key=lambda h: h["epoch"])
        self.store.write_sidecar(
            self._fp_name(name), "basis_history", json.dumps(hist)
        )

    def _read_basis_history(self, name: str) -> list[dict] | None:
        import json

        raw = self.store.read_sidecar(self._fp_name(name), "basis_history")
        return json.loads(raw) if raw else None

    # -- changelog epochs + compaction ---------------------------------
    EPOCH_COL = "_epoch"
    CT_COL = "_change_type"

    def _epoch_file(self, name: str) -> str:
        d = os.path.join(self.store.root, f"{name}__changelog")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, "_EPOCH")

    def current_epoch(self, name: str) -> int:
        path = self._epoch_file(name)
        if not os.path.exists(path):
            return 0
        with open(path) as f:
            return int(f.read().strip())

    def _next_epoch(self, name: str) -> int:
        epoch = self.current_epoch(name) + 1
        tmp = self._epoch_file(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(epoch))
        os.replace(tmp, self._epoch_file(name))
        return epoch

    def _append_changelog(self, name: str, preimages: DataFrame) -> int:
        """Stamp pre-images with a monotonic run epoch (the changelog
        equivalent of the reference's per-run log date,
        download.py:585-595) so history is attributable to runs and
        retention can be expressed per-epoch."""
        epoch = self._next_epoch(name)
        self.store.append(
            f"{name}__changelog",
            preimages.withColumn(self.EPOCH_COL, F.lit(epoch)),
        )
        if self.compact_every and epoch % self.compact_every == 0:
            self.compact_changelog(
                name, keep_epochs=self.changelog_keep_epochs
            )
        return epoch

    def changelog(self, name: str) -> DataFrame:
        return self.store.read_appendable(f"{name}__changelog")

    def replay(self, spec: TableSpec, as_of_epoch: int) -> DataFrame:
        """The table's state as of the END of ``as_of_epoch`` (epoch 0
        = the bootstrap state), reconstructed from the current replica
        plus the pre-image changelog — no historical snapshots stored.

        Exact for every change class when ``changelog_mode="full"``;
        in ``"updates"`` mode (reference-parity changelog) rows
        inserted or deleted after ``as_of_epoch`` cannot be rewound —
        entries are treated as update pre-images. Retention bounds the
        horizon: with ``changelog_keep_epochs=K`` only the last K
        epochs are replayable.

        Across a schema boundary: columns added after ``as_of_epoch``
        read NULL in the replayed state — both for rows whose value
        comes from a pre-boundary pre-image (the log never had the
        column) and for rows untouched since the boundary (the basis
        history proves the column did not exist then, so the current
        replica's value is masked). A DROPPED column's values are
        replayable only for rows with a logged pre-image; rows never
        updated after the drop read NULL — the bytes are physically
        gone from the replica, exactly the retention trade stated
        above."""
        replica = self._read_main(spec.name)
        if self.current_epoch(spec.name) == 0:
            return replica  # no update has run; nothing to rewind
        log = self.changelog(spec.name)
        if self.CT_COL not in log.columns:
            log = log.withColumn(self.CT_COL, F.lit("update"))
        out = changelog_replay(
            replica,
            log,
            spec.primary_key,
            as_of_epoch,
            epoch_col=self.EPOCH_COL,
            change_type_col=self.CT_COL,
        )
        hist = self._read_basis_history(spec.name)
        if hist:
            eff = None
            for h in hist:
                if h["epoch"] <= as_of_epoch:
                    eff = h
            if eff is not None:
                from updater_spark.schema import SCORE_PREFIX

                eff_cols = set(eff["columns"])
                types = {f.name: f.dataType for f in out.schema.fields}
                out = out.select(
                    *[
                        F.lit(None).cast(types[c]).alias(c)
                        if (
                            c != spec.primary_key
                            and c not in eff_cols
                            and not (
                                spec.has_scores
                                and c.startswith(SCORE_PREFIX)
                            )
                        )
                        else F.col(c)
                        for c in out.columns
                    ]
                )
        return out

    def compact_changelog(
        self,
        name: str,
        keep_epochs: int | None = None,
        num_files: int = 1,
    ) -> None:
        """Compact the per-run small files (one parquet file per update
        at minimum) into ``num_files``, optionally dropping epochs
        older than the last ``keep_epochs`` — the retention policy the
        append-only reference never needed (its MySQL changelog table
        was one table, not one file per run)."""
        predicate = None
        if keep_epochs is not None:
            cutoff = self.current_epoch(name) - keep_epochs + 1
            predicate = F.col(self.EPOCH_COL) >= cutoff
        self.store.compact_appendable(
            f"{name}__changelog", predicate=predicate, num_files=num_files
        )

    def _bucket_expr(self, pk: str):
        return F.pmod(F.xxhash64(F.col(pk)), F.lit(self.partition_buckets))

    def _read_main(self, name: str) -> DataFrame:
        if self.partition_buckets:
            return self.store.read_partitioned(name).drop(self.BUCKET_COL)
        return self.store.read(name)

    # -- per-table transforms ------------------------------------------
    def _computed(self, spec: TableSpec, df: DataFrame) -> DataFrame:
        """Attach computed projections (scores P2/P3, name P4) — the
        fetch-time + post-load column passes fused into one stage."""
        out = df
        if spec.has_scores:
            out = apply_score_overall(apply_scores(out))
        if spec.normalize_name_col and spec.normalize_name_col in out.columns:
            out = normalize_names(out, spec.normalize_name_col)
        return out

    # -- entry point B: bootstrap (download.py:376-433) ----------------
    def bootstrap(self, spec: TableSpec, source: DataFrame) -> UpdateStats:
        cols = classify_df(spec, source) if spec.has_scores else None
        data_cols = cols.data_columns if cols else list(source.columns)
        # One scan: data columns + fingerprint + computed columns
        # (S3: SELECT CRC32(...), cols, scores FROM t).
        with_fp = source.select(
            *data_cols, row_fingerprint(data_cols, self.algo).alias("_fp")
        )
        full = self._computed(spec, with_fp)
        if self.partition_buckets:
            self.store.write_partitioned(
                spec.name,
                full.drop("_fp").withColumn(
                    self.BUCKET_COL, self._bucket_expr(spec.primary_key)
                ),
                self.BUCKET_COL,
            )
        else:
            total = self._write_counted(spec.name, full.drop("_fp"))
        self._write_fp(
            spec.name,
            full.select(
                F.col(spec.primary_key).alias("id"), F.col("_fp").alias("hashed")
            ),
        )
        self._write_basis(
            spec.name, data_cols, self._basis_types(source, data_cols)
        )
        self._append_basis_history(spec.name, 0, data_cols)
        # Bootstrap writes straight to the main table; the delta equals
        # the full table (download.py:494 "" if table.is_empty).
        if self.partition_buckets:
            total = self._read_main(spec.name).count()
            self.store.write(f"{spec.name}__delta", self._read_main(spec.name))
        else:
            self.store.link(f"{spec.name}__delta", spec.name)
        self.store.write_empty(
            f"{spec.name}__deleted", source.select(spec.primary_key).schema
        )
        return UpdateStats(
            table=spec.name, bootstrap=True, upserts=total, total_rows=total
        )

    # -- entry point A: incremental update (download.py:50-63) ---------
    def update(self, spec: TableSpec, source: DataFrame) -> UpdateStats:
        """One epoch from a full source snapshot: keys missing from
        the snapshot are deletes (subject to ``delete_guard``)."""
        return self._epoch(spec, source, delta_feed=False)

    # -- streaming delta-apply (micro-batch mode) ----------------------
    def apply_delta(self, spec: TableSpec, batch: DataFrame) -> UpdateStats:
        """One epoch from a micro-batch holding only *arriving* rows (a
        delta feed, e.g. a Structured Streaming file source).

        Every arriving key whose fingerprint differs from the cache is
        upserted (unchanged re-deliveries are dropped — the same skip
        the reference's hash compare gives, download.py:189-205), with
        the same changelog, ``__delta`` and merge as ``update``. It
        never deletes: deletes in a delta feed must be explicit (tomb-
        stone rows), which the reference has no notion of."""
        return self._epoch(spec, batch, delta_feed=True)

    def _schema_change(
        self,
        spec: TableSpec,
        stored_basis: list[str],
        stored_types: dict[str, str] | None,
        data_cols: list[str],
        src_types: dict[str, str],
    ) -> dict | None:
        """The epoch's schema boundary against the stored fingerprint
        basis, or None. ``policy`` records the EFFECTIVE policy, not
        the configured one — consumers reading only it must see what
        actually ran (ADVICE r7); ``policy_fallback`` keeps the why."""
        # TYPE drift with unchanged names shifts the fingerprint
        # rendering just the same ('1' vs '1.0') — and the cached
        # hashes for a retyped column are unusable, so rebase cannot
        # reuse them either (ADVICE r7). Legacy sidecars have no types
        # → skip (their first post-upgrade epoch records them).
        type_changed = [
            (c, stored_types[c], src_types[c])
            for c in data_cols
            if stored_types
            and c in stored_types
            and src_types.get(c) != stored_types[c]
        ]
        if stored_basis == data_cols and not type_changed:
            return None
        added = [c for c in data_cols if c not in stored_basis]
        dropped = [c for c in stored_basis if c not in data_cols]
        evolution = {
            "added": added,
            "dropped": dropped,
            "reordered": stored_basis != data_cols and not added and not dropped,
            "policy": self.schema_change_policy,
        }
        fallback = None
        if type_changed:
            evolution["type_changed"] = type_changed
            fallback = (
                f"column type change {type_changed} re-renders every "
                "cached fingerprint — there is no common-column hash to "
                "rebase onto"
            )
        elif dropped and spec.normalize_name_col is not None:
            # A drop-rebase recomputes replica-side hashes from the
            # STORED rows — valid only when the replica holds the raw
            # values the cache hashed. normalize_name_col rewrites a
            # data column at write time (name || '#0000'), so those
            # hashes would mismatch every un-suffixed source row and
            # the "churn-proportional" promise would silently become a
            # bootstrap-sized delta.
            fallback = (
                "dropped-column rebase needs raw replica values, but "
                f"normalize_name_col={spec.normalize_name_col!r} "
                "rewrites them at write time"
            )
        if fallback and self.schema_change_policy == "rebase":
            evolution["policy"] = "full_churn"
            evolution["policy_fallback"] = f"full_churn: {fallback}"
        return evolution

    def _epoch(
        self, spec: TableSpec, source: DataFrame, delta_feed: bool
    ) -> UpdateStats:
        """The one CDC epoch sequence behind ``update`` (a full
        snapshot) and ``apply_delta`` (``delta_feed=True``): diff,
        fetch, changelog, merge, rotate fingerprints. A delta feed
        differs in exactly three places:

        - replica-only keys did not arrive rather than vanish: they are
          dropped before the diff is persisted (the cache then holds
          O(batch) rows), so ``deletes`` is 0 and ``__deleted`` empty;
        - the fingerprint cache rotates by upserting the changed keys'
          hashes instead of being replaced by the source's;
        - any schema boundary raises ``ValueError``: there is no full
          snapshot to backfill added columns or re-base dropped ones
          from, so the boundary epoch must come through ``update``.
        """
        if not self._fp_exists(spec.name):
            return self.bootstrap(spec, source)

        pk = spec.primary_key
        cols = classify_df(spec, source) if spec.has_scores else None
        data_cols = cols.data_columns if cols else list(source.columns)
        src_types = self._basis_types(source, data_cols)

        # Schema-evolution detection: the source's ordered (name, type)
        # data columns vs the basis the cached fingerprints cover.
        stored_basis, stored_types = self._read_basis(spec.name)
        if stored_basis is None:
            # tables bootstrapped before the basis sidecar existed:
            # the replica's data columns follow the last source's
            # order, so they ARE the basis (schema-only read, no job)
            stored_basis = classify_df(
                spec, self._read_main(spec.name)
            ).data_columns
            # seed the history too, or replay()'s added-column mask
            # has no pre-boundary entry to anchor on and would leak
            # current values into pre-upgrade reconstructions
            if self._read_basis_history(spec.name) is None:
                self._append_basis_history(spec.name, 0, stored_basis)
        evolution = self._schema_change(
            spec, stored_basis, stored_types, data_cols, src_types
        )
        if evolution and delta_feed:
            raise ValueError(
                f"schema change in delta feed for {spec.name!r} "
                f"(basis {stored_basis} -> {data_cols}, type changes "
                f"{evolution.get('type_changed', [])}); run a "
                "full-snapshot update() for the boundary epoch"
            )
        rebase = evolution is not None and evolution["policy"] == "rebase"

        # S2: external scan → (id, hash); S1: cached replica hashes.
        basis = data_cols
        rep_fp = self._read_fp(spec.name)
        if rebase:
            # diff over the COMMON columns (stored order): churn stays
            # proportional to rows whose surviving values changed
            basis = [c for c in stored_basis if c in data_cols]
            if evolution["dropped"]:
                # cached hashes cover the dropped columns — rebase the
                # replica side with one row-local scan (projection
                # only, no shuffle; the replica holds the same values
                # the cache hashed — guaranteed by the normalize
                # fallback in _schema_change). An add-only change
                # keeps the cache: common == stored basis.
                rep_fp = fingerprint_table(
                    self._read_main(spec.name), pk, basis, self.algo
                )
        src_fp = fingerprint_table(source, pk, basis, self.algo)

        # J1: the diff join. Materialized once (every key's class and
        # source hash) so the consumers and the fingerprint rotation
        # don't re-run the join or re-scan the source.
        # At a full-churn schema boundary the cached hashes were
        # rendered over a DIFFERENT basis than src_fp — cross-basis
        # hash equality is a meaningless coincidence ('1x' from [name]
        # vs [tier]), and trusting it silently skips rows whose common
        # columns changed. assume_changed makes "everything
        # reclassifies" literal: every surviving key is an update.
        diff = snapshot_diff(
            src_fp,
            rep_fp,
            assume_changed=(evolution is not None and not rebase),
        )
        if delta_feed:
            diff = diff.filter(F.col("change_type") != DELETE)
        diff = diff.persist()
        delta = None
        try:
            parts = split_diff(diff)

            # ONE job materializes the diff and yields every count the
            # epoch needs: upsert/update stats AND the delete guard —
            # no separate count() jobs later.
            counts = {
                r["change_type"]: r["n"]
                for r in diff.groupBy("change_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            n_deletes = counts.get(DELETE, 0)
            n_upserts = counts.get(INSERT, 0) + counts.get(UPDATE, 0)
            # key sets beyond BROADCAST_KEY_LIMIT rows are never
            # hard-broadcast — EVERY forced broadcast below gates on
            # one of these measured counts (VERDICT r5 #4), so a
            # raised delete guard or high-churn epoch degrades to an
            # AQE shuffle join instead of a multi-GB broadcast
            hint = n_upserts < BROADCAST_KEY_LIMIT
            del_hint = n_deletes < BROADCAST_KEY_LIMIT

            # J2/S4: fetch full rows for changed/new keys, compute
            # scores + normalization on the delta only. Persisted: the
            # changelog, merge, delta-write and stats all reuse it
            # without re-running the semi join.
            delta = self._computed(
                spec,
                semi_join_fetch(
                    source.select(*data_cols),
                    parts.upserts.withColumnRenamed("id", pk),
                    pk,
                    hint_broadcast=hint,
                ),
            ).persist()

            old = self._read_main(spec.name)
            delete_keys = parts.deletes.withColumnRenamed("id", pk)
            apply_del = n_deletes < self.delete_guard
            # the epoch's applied delete keys, None when there are none
            applied = delete_keys if apply_del and n_deletes else None

            # J5: changelog pre-images (old versions of updated rows);
            # "full" mode adds delete pre-images + insert markers so
            # replay() can reconstruct any epoch.
            preimages = changelog_preimages(
                old,
                parts.updates.withColumnRenamed("id", pk),
                pk,
                hint_broadcast=hint,
            )
            if self.changelog_mode == "full":
                preimages = preimages.withColumn(self.CT_COL, F.lit("update"))
                if applied is not None:
                    del_pre = old.join(
                        _maybe_broadcast(applied, del_hint),
                        pk,
                        "semi",
                    ).withColumn(self.CT_COL, F.lit("delete"))
                    preimages = preimages.unionByName(del_pre)
                ins_marker = (
                    diff.filter(F.col("change_type") == INSERT)
                    .select(F.col("id").alias(pk))
                    .select(
                        pk,
                        *[
                            F.lit(None).cast(f.dataType).alias(f.name)
                            for f in old.schema.fields
                            if f.name != pk
                        ],
                    )
                    .withColumn(self.CT_COL, F.lit("insert"))
                )
                preimages = preimages.unionByName(ins_marker)
            epoch = self._append_changelog(spec.name, preimages)
            if evolution:
                self._append_basis_history(spec.name, epoch, data_cols)

            self.store.write(f"{spec.name}__delta", delta)
            # the epoch's applied delete keys — empty when the guard
            # tripped or nothing was deleted, so consumers never act
            # on skipped deletes
            if applied is not None:
                self.store.write(f"{spec.name}__deleted", applied)
            else:
                self.store.write_empty(
                    f"{spec.name}__deleted", delete_keys.schema
                )
            total = None
            if evolution or n_upserts or applied is not None:
                added = (
                    [c for c in evolution["added"] if c not in old.columns]
                    if evolution
                    else []
                )
                total = self._write_main(
                    spec,
                    delta,
                    applied,
                    source.select(pk, *added) if added else None,
                    evolution is not None,
                    hint,
                    del_hint,
                )

            # S9/S8: fingerprint rotation (write-then-promote is
            # atomic). A snapshot replaces the cache with the source
            # hashes the diff saw — taken from the persisted diff, not
            # a second source scan: a source that changes between two
            # scans (a JDBC query) would otherwise cache a hash whose
            # row was never fetched, and that row would never be
            # fetched later either. A delta feed upserts the changed
            # keys' hashes. After a rebase epoch the diff hashes
            # covered only the common columns; the cache must rotate to
            # the FULL new basis so the next epoch diffs normally.
            if delta_feed:
                new_fp = merge_upsert(
                    rep_fp,
                    parts.upserts.withColumnRenamed("new_hash", "hashed"),
                    "id",
                    hint_broadcast=hint,
                )
            elif rebase:
                new_fp = fingerprint_table(source, pk, data_cols, self.algo)
            else:
                new_fp = diff.filter(F.col("change_type") != DELETE).select(
                    "id", F.col("new_hash").alias("hashed")
                )
            self._write_fp(spec.name, new_fp)
            self._write_basis(spec.name, data_cols, src_types)

            return UpdateStats(
                table=spec.name,
                bootstrap=False,
                upserts=n_upserts,
                updates=counts.get(UPDATE, 0),
                deletes=n_deletes,
                deletes_applied=apply_del,
                # observed by the main write; counted only when there
                # was none or it was partitioned
                total_rows=(
                    total
                    if total is not None
                    else self._read_main(spec.name).count()
                ),
                extra={"schema_change": evolution} if evolution else {},
            )
        finally:
            diff.unpersist()
            if delta is not None:
                delta.unpersist()

    def _write_main(
        self,
        spec: TableSpec,
        delta: DataFrame,
        deletes: DataFrame | None,
        backfill: DataFrame | None,
        boundary: bool,
        hint: bool,
        del_hint: bool,
    ) -> int | None:
        """Merge the epoch into the replica and write it; returns the
        replica's row count when the write observed it (unpartitioned),
        else None.

        The merge is REPLACE-semantics upsert (S5/S10) plus the applied
        deletes (S7): old rows minus upserted and deleted keys, joined
        with ``backfill`` (pk + added columns) if any, projected onto
        the delta's schema — at a boundary dropped columns go away and
        added ones NULL-backfill, so the replica's shape follows the
        source exactly as the reference's does (its write set is
        re-read from ``information_schema`` every run,
        table.py:66-91) — then unioned with the delta.

        Unpartitioned, the whole table is rewritten. Partitioned, only
        the affected buckets are: all of them at a schema boundary
        (every surviving row changes shape — no pruning is possible),
        else the buckets of the touched keys; all other buckets' files
        stay untouched on disk (tests/test_partitioned_cdc.py checks
        mtimes). Dynamic overwrite never replaces a bucket that ends up
        empty, so those are dropped explicitly."""
        pk = spec.primary_key

        def merge(old: DataFrame) -> DataFrame:
            kept = old.join(_maybe_broadcast(delta.select(pk), hint), pk, "anti")
            if deletes is not None:
                kept = kept.join(_maybe_broadcast(deletes, del_hint), pk, "anti")
            if backfill is not None:
                # every kept row must gain the added columns' values,
                # but only pk+added travel through the join — at 100 TB
                # a narrow-column shuffle, not a full-width re-fetch.
                # Load-bearing under "rebase" (unchanged rows stay on
                # the kept path by design); under "full_churn" every
                # surviving source row re-arrives through the delta, so
                # kept holds only guard-skipped replica-only rows, which
                # correctly read NULL from the left join.
                kept = kept.join(backfill, pk, "left")
            return align_to_schema(kept, delta.schema).unionByName(delta)

        if not self.partition_buckets:
            return self._write_counted(spec.name, merge(self._read_main(spec.name)))

        old = self.store.read_partitioned(spec.name)
        affected = range(self.partition_buckets)
        if not boundary:
            touched = delta.select(pk)
            if deletes is not None:
                touched = touched.unionByName(deletes.select(pk))
            affected = [
                r[0]
                for r in touched.select(self._bucket_expr(pk))
                .distinct()
                .collect()
            ]
            old = old.filter(F.col(self.BUCKET_COL).isin(affected))
        merged = merge(old.drop(self.BUCKET_COL)).withColumn(
            self.BUCKET_COL, self._bucket_expr(pk)
        )
        # Only a delete can empty a bucket. The census runs BEFORE the
        # write: the plan re-executes for it and the old files must
        # still exist. Dynamic overwrite (NOT a static one, which
        # deletes the root before the merged plan scans it) stages the
        # new files and swaps partitions only at commit.
        present = affected
        if deletes is not None:
            present = {
                r[0] for r in merged.select(self.BUCKET_COL).distinct().collect()
            }
        self.store.overwrite_partitions(spec.name, merged, self.BUCKET_COL)
        emptied = [b for b in affected if b not in present]
        if emptied:
            self.store.drop_partitions(spec.name, self.BUCKET_COL, emptied)
        return None

    def _write_counted(self, name: str, df: DataFrame) -> int:
        """Write ``df`` as the table's new version and return its row
        count, observed by the write job itself instead of a count()
        job over the written files."""
        obs = Observation()
        self.store.write(name, df.observe(obs, F.count(F.lit(1)).alias("n")))
        return obs.get["n"]

    # -- concurrent per-table updates (start.py:55-59) -----------------
    def update_many(
        self, jobs: list[tuple[TableSpec, DataFrame]], max_workers: int = 3
    ) -> dict[str, UpdateStats]:
        """Run several table updates concurrently, as the reference
        runs its three extracts as concurrent asyncio tasks
        (start.py:55-59). Spark job submission is thread-safe; each
        thread drives its own DAG and the scheduler interleaves stages
        across the cluster (fair-scheduler pools would add isolation).
        """
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            futures = {
                spec.name: pool.submit(self.update, spec, src)
                for spec, src in jobs
            }
            return {name: f.result() for name, f in futures.items()}

    # -- full cycle: the reference's main (start.py:50-60) -------------
    def run_cycle(
        self,
        player_src: DataFrame,
        tribe_src: DataFrame,
        member_src: DataFrame,
        stat_cols: list[str] | None = None,
    ) -> dict[str, UpdateStats]:
        """One complete update run, exactly the reference's entry
        point: three concurrent per-table extracts (start.py:55-59)
        followed by the derived-aggregate rebuild (start.py:60). The
        post_update branch mirrors the reference's ``tribe.is_empty``
        check — bootstrap vs incremental aggregate paths
        (post_update.py:19, 44)."""
        from updater_spark.schema import MEMBER, PLAYER, TRIBE

        stats = self.update_many(
            [(PLAYER, player_src), (TRIBE, tribe_src), (MEMBER, member_src)]
        )
        self.post_update(
            TRIBE, was_bootstrap=stats["tribe"].bootstrap, stat_cols=stat_cols
        )
        return stats

    # -- entry point C: derived aggregates (post_update.py) ------------
    def post_update(
        self,
        tribe_spec: TableSpec,
        was_bootstrap: bool,
        stat_cols: list[str] | None = None,
    ) -> None:
        tribe = self.store.read("tribe")
        member = self.store.read("member")
        player = self.store.read("player")
        player_new = self.store.read("player__delta")
        if stat_cols is None:
            # Discover from the existing sink schema if present
            # (post_update.py:9-11), else a default set.
            if self.store.exists("tribe_stats"):
                stat_cols = stat_columns(self.store.read("tribe_stats").columns)
            else:
                stat_cols = [
                    "cheese_gathered",
                    "first",
                    "round_played",
                    "shaman_cheese",
                    "saved_mice",
                ]

        if not was_bootstrap:
            self.store.write("tribe_active", tribe_active(tribe, member, player_new))
            # read back what was just written (no job: the version is
            # self-describing) rather than re-join tribe, member and
            # player__delta inside tribe_stats
            active = self.store.read("tribe_active")
            stats = tribe_stats(active, member, player, stat_cols, bootstrap=False)
        else:
            stats = tribe_stats(
                tribe, member, player, stat_cols, bootstrap=True, player_new=player_new
            )
        self.store.write("tribe_stats", stats)
