"""Persistent, incrementally-maintained SEMANTIC dedup index —
SemDeDup (Abbas et al. 2023) as CDC engine state.

``semantic_dedup`` (similarity.py) is the one-shot form: assign every
vector to its nearest centroid cell, pair within cells, chain into
groups. At 100 TB the corpus doesn't arrive once — it mutates in CDC
epochs — and re-running the one-shot over the full corpus every epoch
re-pays the full assignment + pair scan for a 0.1% delta. This class
is the embedding twin of the MinHash ``DedupIndex``
(dedup_index.py) and the ANN ``IvfIndex`` (ann_index.py): state that
persists between runs so each epoch signs/assigns ONLY the delta and
pairs it only against the stored members of its own cells.

Storage (via TableStore):

- ``{name}__codebook``: (cid, centroid array<double>, codebook_id) —
  the quantizer, stored WITH the index (self-describing; searches and
  maintenance never take centroids from the caller). Centroids are
  unit-normalized at bootstrap so stored dots ARE cosines.
- ``{name}__cells``: (id, u array<double>, cell) — unit-normalized
  vectors, hash-partitioned by cell: epoch pair-joins read only the
  delta's cells (partition pruning), maintenance rewrites only
  affected cell directories. The cells table carries its codebook
  identity in a sidecar (the ADVICE r4 crash-skew guard, same as
  IvfPqIndex).

``update(delta)`` re-assigns only the delta, rewrites only affected
cell partitions (``cell_maintenance_stats`` — one job, shared with
the ANN indexes), then returns the epoch's NEW near-dup pairs: delta
x stored-others in the same cell ∪ delta x delta. A
re-ingested id's old vector leaves its cell first, so a changed
embedding never pairs through its stale position.

When churn per epoch is comparable to the cell count, EVERY partition
holds a delta row and the partition rewrite degenerates into a full
rewrite per epoch (measured: PROBES_r6 cdcindex, 10M × 4000 cells ×
1.5% churn) — ``append_log=True`` switches maintenance to an
append + tombstone + deferred-compaction layout (LSM) whose epochs
write O(|delta|) bytes; see ``__init__``.

Cross-epoch contract (the ``DedupIndex`` contract, embedding-space):
the union of every epoch's pairs, filtered to ids alive in the final
corpus, equals the one-shot ``semantic_dedup`` pair set of that final
corpus — so connected components over the accumulated pairs
reproduce the one-shot groups exactly
(tests/test_semantic_index.py::test_epochs_match_one_shot).

Reference context: the reference engine has no embedding operators at
all (it is a MySQL-replica updater, /root/reference/src/download.py);
this index composes its CDC change-feed pattern
(``{t}__delta``/``{t}__deleted``, plans/cdc.py) with the SemDeDup
construction, the same way dedup_index.py does for MinHash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from updater_spark.operators.ann_index import cell_maintenance_stats
from updater_spark.operators.similarity import (
    arrow_cell_assign,
    arrow_cell_pairs,
    as_double,
    codebook_id,
    dot,
    unit,
)
from updater_spark.sources.store import TableStore


class SemanticIndex:
    def __init__(
        self,
        store: TableStore,
        name: str,
        threshold: float = 0.9,
        round_digits: int = 4,
        max_cell: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        arrow: bool = False,
        append_log: bool = False,
    ):
        """``append_log=True`` is the HIGH-CHURN deploy mode: epochs
        APPEND delta rows (stamped with an epoch ``seq``) to the cells
        table and APPEND tombstones to a ``{name}__tomb`` log
        (``TableStore.append``: new files plus hard links to the
        existing ones) instead of rewriting every touched partition —
        the PROBES_r6 cdcindex run measured the overwrite path
        write-bound at 10M rows × 4000 cells × 1.5% churn (every
        partition holds a delta row, so each epoch rewrites the whole
        table and loses to a rebuild). With the log, an epoch writes
        O(|delta|) bytes (and one link per existing file); readers
        reconcile (row live iff its seq ≥ the id's newest tombstone seq),
        and ``compact()`` folds the log down when ``log_stats()``
        says the dead fraction is worth it — the LSM trade. Epoch
        crash-retry is safe: the epoch seq is claimed FIRST, so a
        replayed epoch tombstones the crashed attempt's partial rows
        at a higher seq.

        ``arrow=True`` is the LARGE-CODEBOOK deploy mode, exactly
        ``semantic_dedup``'s: cell assignment runs as one GEMM argmax
        per Arrow batch (``arrow_cell_assign``) instead of k Catalyst
        dot-aggregates (plan construction alone is minutes past ~1k
        cells — and SemDeDup at scale wants k ≈ the corpus's natural
        cluster count, 50k in the paper), and BOOTSTRAP pairs run the
        block-chunked per-cell GEMM scorer (``arrow_cell_pairs``).
        Incremental ``update`` pairs stay the cell-keyed Catalyst
        join in both modes: their width is bounded by |delta| x
        |cell|, the delta is small by CDC construction, and the join
        form needs no grouping shuffle of the stored side. Same
        semantics either way (rounded-then-thresholded sims, argmax
        ties to the lowest cell); differs only by float-sum
        association inside the dots, absorbed by ``round_digits``."""
        self.store = store
        self.name = name
        self.threshold = threshold
        self.round_digits = round_digits
        self.max_cell = max_cell
        self.id_col = id_col
        self.vec_col = vec_col
        self.arrow = arrow
        self.append_log = append_log
        self._cb_cache: tuple[list[list[float]], str] | None = None

    @property
    def _cells(self) -> str:
        return f"{self.name}__cells"

    @property
    def _codebook(self) -> str:
        return f"{self.name}__codebook"

    @property
    def _tomb(self) -> str:
        return f"{self.name}__tomb"

    # -- live view (append-log reconciliation) -------------------------
    def _seq(self) -> int:
        return int(self.store.read_sidecar(self._cells, "seq") or 0)

    def _stored(self) -> DataFrame:
        """The index's LIVE (id, u, cell) rows. Overwrite mode: the
        partitioned read as-is. Append-log mode: reconcile against
        the tombstone log — a physical row is live iff its epoch
        ``seq`` is ≥ its id's newest tombstone seq (each epoch
        tombstones ALL its delta ids at the epoch seq and appends the
        fresh rows at that same seq, so re-ingests kill their older
        copies and deletes kill everything). The tombstone side is a
        per-id max over the log — churn-sized, not corpus-sized —
        joined once per read; ``compact()`` folds it away."""
        rows = self.store.read(self._cells)
        if not self.append_log:
            return rows
        if not self.store.exists(self._tomb):
            return rows.select("id", "u", "cell")
        newest = (
            self.store.read(self._tomb)
            .groupBy("id")
            .agg(F.max("seq").alias("_tseq"))
        )
        return (
            rows.join(newest, "id", "left")
            .filter(
                F.col("_tseq").isNull() | (F.col("seq") >= F.col("_tseq"))
            )
            .select("id", "u", "cell")
        )

    def exists(self) -> bool:
        return self.store.exists(self._cells)

    # -- codebook ------------------------------------------------------
    def _codebook_state(self) -> tuple[list[list[float]], str]:
        if self._cb_cache is None:
            rows = self.store.read(self._codebook).orderBy("cid").collect()
            self._cb_cache = (
                [list(r["centroid"]) for r in rows],
                rows[0]["codebook_id"],
            )
        return self._cb_cache

    def centroids(self) -> list[list[float]]:
        return self._codebook_state()[0]

    def _check_identity(self) -> None:
        """Cells-side identity sidecar must match the promoted
        codebook (ADVICE r4: the codebook's own identity matches its
        contents by construction and cannot see __cells skew)."""
        side = self.store.read_sidecar(self._cells, "identity")
        if side != self._codebook_state()[1]:
            raise RuntimeError(
                f"semantic index {self.name!r}: cells were assigned with "
                f"codebook {side!r} but the promoted codebook is "
                f"{self._codebook_state()[1]!r} — a bootstrap crashed "
                "between the cells write and the codebook promote, or the "
                "two tables were restored from different snapshots; "
                "re-run bootstrap()"
            )

    # -- assignment ----------------------------------------------------
    def _assign(self, vecs: DataFrame, cents: list[list[float]]) -> DataFrame:
        """(id, u, cell): unit-normalize, argmax-dot cell (ties to the
        lowest cell — semantic_dedup/ivf_assign order). Catalyst dots
        by default; ``arrow_cell_assign`` GEMM in arrow mode (the
        codebook-size ceiling lives here). The stored codebook stays
        the driver's only per-row state either way."""
        u = vecs.select(
            F.col(self.id_col).alias("id"),
            unit(as_double(F.col(self.vec_col))).alias("u"),
        )
        if self.arrow:
            return arrow_cell_assign(u, cents)
        dots = [
            dot(F.col("u"), F.array(*[F.lit(x) for x in c])) for c in cents
        ]
        arr = F.array(*dots)
        best = (F.array_position(arr, F.array_max(arr)) - 1).cast("long")
        return u.withColumn("cell", best)

    def _empty_pairs(self) -> DataFrame:
        return self.store.spark.createDataFrame(
            [], "id_a long, id_b long, sim double"
        )

    def _pre_sizes(self, idx: DataFrame, affected: list) -> dict:
        """Materialize affected-cell occupancies BEFORE a rewrite
        (collect forces the read; ``idx`` is lazy over store files, so
        reading after the overwrite would see post-write state)."""
        if self.max_cell is None or not affected:
            return {}
        return {
            r["cell"]: r["n"]
            for r in idx.filter(F.col("cell").isin(affected))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def _cap_crossing_pairs(
        self, stored: DataFrame, affected: list, pre: dict
    ) -> DataFrame:
        """Pairs owed when a cell crosses from over-cap to under-cap
        (ADVICE r5): with ``max_cell`` set, an over-cap cell emits NO
        pairs in any epoch — if deletes/migrations later shrink it
        under the cap, the one-shot of the final corpus INCLUDES its
        intra-cell pairs, but no epoch ever emitted them as
        candidates and ``verify_pairs`` can only re-score what was
        emitted. Detect the crossing (pre > cap >= post) and emit the
        cell's full intra-cell pair set for this epoch — bounded by
        ``max_cell``² per crossed cell, and crossings are rare (a
        cell shrinks through the cap at most once per epoch)."""
        if self.max_cell is None or not affected:
            return self._empty_pairs()
        post = {
            r["cell"]: r["n"]
            for r in stored.filter(F.col("cell").isin(affected))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        crossed = [
            c
            for c in affected
            if pre.get(c, 0) > self.max_cell
            and 2 <= post.get(c, 0) <= self.max_cell
        ]
        if not crossed:
            return self._empty_pairs()
        sub = stored.filter(F.col("cell").isin(crossed))
        return self._pair(sub, sub).filter(F.col("id_a") < F.col("id_b"))

    def _pair(self, left: DataFrame, right: DataFrame) -> DataFrame:
        """Cell-keyed near-dup pairs between two (id, u, cell) sets:
        hash equi-join on cell (never all-pairs), rounded cosine
        thresholded, canonical (id_a < id_b) order. With ``max_cell``
        set, cells over the cap contribute no pairs (the one-shot
        semantics: their members surface as singletons)."""
        if self.max_cell is not None:
            sizes = (
                self._stored()
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") <= self.max_cell)
                .select("cell")
            )
            left = left.join(F.broadcast(sizes), "cell")
            right = right.join(F.broadcast(sizes), "cell")
        a = left.select(
            F.col("id").alias("id_a"), F.col("u").alias("ua"), "cell"
        )
        b = right.select(
            F.col("id").alias("id_b"), F.col("u").alias("ub"), "cell"
        )
        sim = F.round(dot(F.col("ua"), F.col("ub")), self.round_digits)
        return (
            a.join(b, "cell")
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                sim.alias("sim"),
            )
            .filter(F.col("sim") >= self.threshold)
            .distinct()
        )

    # -- lifecycle -----------------------------------------------------
    def bootstrap(
        self, corpus: DataFrame, centroids: list[list[float]]
    ) -> DataFrame:
        """Build the index from the initial corpus; returns the
        near-dup pairs within it (the one-shot scan's pair set).
        Centroids are unit-normalized here (stored dots are cosines).
        Write order: sidecar → cells → codebook-promote, so a crash
        at any point identity-fails loudly on the next use."""
        import math

        spark = self.store.spark
        cents = []
        for c in centroids:
            nrm = math.sqrt(sum(float(x) * float(x) for x in c)) or 1.0
            cents.append([float(x) / nrm for x in c])
        cb = codebook_id(cents)
        with self.store.locked(self._cells):
            self.store.write_sidecar(self._cells, "identity", cb)
            assigned = self._assign(corpus, cents)
            if self.append_log:
                # fresh generation: rows carry seq 0, and any old
                # tombstone log must go BEFORE the codebook promote —
                # stale tombs at higher seqs would silently kill the
                # new rows, and every pre-promote crash window still
                # fails loudly on the identity check
                assigned = assigned.withColumn("seq", F.lit(0))
            self.store.write(
                self._cells, assigned.repartition("cell"), partition_by=["cell"]
            )
            if self.append_log:
                self.store.drop(self._tomb)
                self.store.write_sidecar(self._cells, "seq", "0")
            self.store.write(
                self._codebook,
                spark.createDataFrame(
                    [(i, c, cb) for i, c in enumerate(cents)],
                    "cid long, centroid array<double>, codebook_id string",
                ),
            )
            self._cb_cache = (cents, cb)
        stored = self._stored()
        if self.arrow:
            # the one-shot-shaped scan: block-chunked per-cell GEMMs
            return arrow_cell_pairs(
                stored, self.threshold, self.round_digits, self.max_cell
            )
        return self._pair(stored, stored).filter(
            F.col("id_a") < F.col("id_b")
        )

    # broadcast budget for the epoch-pair GEMM scan: the delta's
    # (id, u, cell) rows ride to every executor, so the arrow fast
    # path only engages while they fit comfortably in task memory;
    # past it update() degrades to the shuffle-backed Catalyst join
    DELTA_BROADCAST_BYTES = 256 << 20

    def _delta_pairs_scan(self, stored: DataFrame, probe_rows) -> DataFrame:
        """Epoch pairs (delta×stored-same-cell, delta×delta included
        since stored ⊇ delta post-write) as ONE map-only GEMM scan:
        the collected delta rows are broadcast as per-cell numpy
        matrices and every stored batch scores its rows against its
        cells' delta blocks — no join, and crucially NO SHUFFLE OF
        THE STORED SIDE. The Catalyst ``_pair`` twin hash-joins
        delta×stored on cell, which repartitions the ENTIRE corpus
        (vectors and all) every epoch — measured at 10M rows × 4000
        cells × 1.5% churn, that join put the incremental path at 3×
        the cost of a full rebuild (PROBES_r6 cdcindex,
        sem_crossover 0.28). Here the stored side is read in place,
        pruned to the delta's cells at the parquet-partition level,
        so the epoch's pair cost is O(|touched cells| scan + GEMM)
        — the shape the incremental contract promises.

        Same semantics as ``_pair``: rounded-then-thresholded sims,
        canonical (id_a < id_b), self-pairs dropped, and with
        ``max_cell`` set, over-cap cells contribute nothing. The
        score slab is row-blocked so peak memory is O(block ×
        |cell delta|), ``arrow_cell_pairs``'s bound."""
        import numpy as np
        import pandas as pd

        by_cell: dict = {}
        for r in probe_rows:
            by_cell.setdefault(r["cell"], ([], []))
            by_cell[r["cell"]][0].append(r["id"])
            by_cell[r["cell"]][1].append(r["u"])
        if self.max_cell is not None and by_cell:
            over = {
                r["cell"]
                for r in stored.filter(
                    F.col("cell").isin(list(by_cell))
                )
                .groupBy("cell")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") > self.max_cell)
                .collect()
            }
            by_cell = {c: v for c, v in by_cell.items() if c not in over}
        if not by_cell:
            return self._empty_pairs()
        bc = self.store.spark.sparkContext.broadcast(
            {
                c: (
                    np.asarray(ids, dtype=np.int64),
                    np.asarray(us, dtype=np.float64),
                )
                for c, (ids, us) in by_cell.items()
            }
        )
        thr, digits = self.threshold, self.round_digits

        def scan(batches):
            data = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                out = []
                for cell, grp in pdf.groupby("cell"):
                    sub = data.get(cell)
                    if sub is None:
                        continue
                    dids, dm = sub
                    sids = grp["id"].to_numpy()
                    sm = np.asarray(grp["u"].tolist(), dtype=np.float64)
                    block = max(1, (8 << 20) // max(1, len(dids)))
                    for lo in range(0, len(sids), block):
                        sims = np.round(
                            sm[lo : lo + block] @ dm.T, digits
                        )
                        ii, jj = np.nonzero(sims >= thr)
                        if not len(ii):
                            continue
                        a, b = sids[lo + ii], dids[jj]
                        keep = a != b
                        if not keep.any():
                            continue
                        a, b, s = a[keep], b[keep], sims[ii, jj][keep]
                        out.append(
                            pd.DataFrame(
                                {
                                    "id_a": np.minimum(a, b),
                                    "id_b": np.maximum(a, b),
                                    "sim": s,
                                }
                            )
                        )
                if out:
                    yield pd.concat(out, ignore_index=True)

        return (
            stored.filter(F.col("cell").isin(list(by_cell)))
            .select("id", "u", "cell")
            .mapInPandas(scan, "id_a long, id_b long, sim double")
        )

    def update(self, delta: DataFrame) -> DataFrame:
        """Ingest new/changed vectors; returns the epoch's NEW pairs
        (delta×old ∪ delta×delta). A re-ingested id replaces its old
        vector FIRST, so pairs always reflect current embeddings and
        a moved vector never pairs through its stale cell. The pair
        DataFrame is computed over post-write state — consume it (write
        it out, or ``localCheckpoint(eager=True)``) before the next
        epoch's write GCs versions, the ``apply_cdc_epoch`` contract.
        Note ``persist()`` does NOT protect a result that happens to
        be EMPTY: no cache blocks materialize and later evaluation
        recomputes over the rewritten store files.

        Pair engine: in arrow mode, while the delta fits the
        ``DELTA_BROADCAST_BYTES`` budget, pairs run as the map-only
        broadcast-GEMM scan (``_delta_pairs_scan`` — no corpus
        shuffle); otherwise the cell-keyed Catalyst join. Identical
        pair sets either way.

        Write engine: ``append_log`` mode appends the stamped delta
        rows + tombstones for the delta's ids (O(|delta|) bytes — a
        re-ingest's older copies die by seq) instead of rewriting
        every touched cell partition; see the class
        docstring for the crash-retry and compaction story."""
        cents, _ = self._codebook_state()
        with self.store.locked(self._cells):
            self._check_identity()
            assigned = self._assign(delta, cents)
            delta_ids = delta.select(
                F.col(self.id_col).alias("id")
            ).distinct()
            if self.append_log:
                affected, pre = [], {}
                if self.max_cell is not None:
                    # cap bookkeeping only: affected = cells receiving
                    # delta rows ∪ cells whose live copy of a
                    # re-ingested id goes stale, with their pre-epoch
                    # sizes — collected BEFORE the appends (the plans
                    # read the pre-epoch file set)
                    live = self._stored()
                    affected = [
                        r["cell"]
                        for r in assigned.select("cell")
                        .unionByName(
                            live.join(delta_ids, "id", "semi").select(
                                "cell"
                            )
                        )
                        .distinct()
                        .collect()
                    ]
                    pre = self._pre_sizes(live, affected)
                # claim the epoch seq FIRST: a crash after any append
                # leaves partial rows that the retried epoch's HIGHER
                # seq tombstones away
                seq = self._seq() + 1
                self.store.write_sidecar(self._cells, "seq", str(seq))
                self.store.append(
                    self._tomb, delta_ids.withColumn("seq", F.lit(seq))
                )
                self.store.append(
                    self._cells,
                    assigned.withColumn("seq", F.lit(seq)).repartition(
                        "cell"
                    ),
                    partition_by=["cell"],
                )
            else:
                idx = self.store.read(self._cells)
                affected = cell_maintenance_stats(
                    idx, delta_ids, assigned, "id", "cell"
                )
                pre = self._pre_sizes(idx, affected)
                if affected:
                    rebuilt = (
                        idx.filter(F.col("cell").isin(affected))
                        .join(delta_ids, "id", "anti")
                        .unionByName(assigned.select(*idx.columns))
                    )
                    self.store.overwrite_partitions(
                        self._cells, rebuilt.repartition("cell"), "cell", affected
                    )
        stored = self._stored()
        dim = len(cents[0])
        use_scan = False
        if self.arrow:
            n_delta = delta_ids.count()
            use_scan = n_delta * (dim * 8 + 24) <= self.DELTA_BROADCAST_BYTES
        if use_scan:
            probe_rows = (
                stored.join(delta_ids, "id", "semi")
                .select("id", "u", "cell")
                .collect()
            )
            fresh = self._delta_pairs_scan(stored, probe_rows)
        else:
            probe = stored.join(delta_ids, "id", "semi")
            rest = stored.join(delta_ids, "id", "anti")
            new_old = self._pair(probe, rest)
            new_new = self._pair(probe, probe).filter(
                F.col("id_a") < F.col("id_b")
            )
            fresh = new_old.unionByName(new_new)
        # a migrating re-ingest can shrink its OLD cell through the
        # cap: that cell owes its full pair set this epoch
        crossing = self._cap_crossing_pairs(stored, affected, pre)
        return fresh.unionByName(crossing).distinct()

    def remove(self, ids: DataFrame) -> DataFrame:
        """Drop vectors (CDC deletes) from the index state; rewrites
        (or drops) only their cells — or, in ``append_log`` mode,
        appends tombstones ONLY (O(|deletes|) bytes, no data files
        touched). Returns the pairs OWED by cells the deletion shrank
        through ``max_cell`` (empty without a cap or crossing — see
        ``_cap_crossing_pairs``); accumulate them like ``update``'s
        pairs."""
        with self.store.locked(self._cells):
            self._check_identity()
            key = ids.select(F.col(self.id_col).alias("id")).distinct()
            if self.append_log:
                affected, pre = [], {}
                if self.max_cell is not None:
                    live = self._stored()
                    affected = [
                        r["cell"]
                        for r in live.join(key, "id", "semi")
                        .select("cell")
                        .distinct()
                        .collect()
                    ]
                    pre = self._pre_sizes(live, affected)
                seq = self._seq() + 1
                self.store.write_sidecar(self._cells, "seq", str(seq))
                self.store.append(
                    self._tomb, key.withColumn("seq", F.lit(seq))
                )
            else:
                idx = self.store.read(self._cells)
                affected = cell_maintenance_stats(idx, key, None, "id", "cell")
                if not affected:
                    return self._empty_pairs()
                pre = self._pre_sizes(idx, affected)
                rebuilt = idx.filter(F.col("cell").isin(affected)).join(
                    key, "id", "anti"
                )
                self.store.overwrite_partitions(
                    self._cells, rebuilt.repartition("cell"), "cell", affected
                )
        return self._cap_crossing_pairs(self._stored(), affected, pre)

    # -- append-log compaction -----------------------------------------
    def log_stats(self) -> dict:
        """Append-log health: how much of the physical table is dead
        (tombstoned older copies / deletes) and how big the tombstone
        log has grown. Dead rows cost every reader a wasted scan +
        reconcile; ``maybe_compact`` trades one rewrite against that
        recurring cost — the LSM compaction decision, surfaced as
        telemetry exactly like ``occupancy``/``needs_retrain``."""
        physical = self.store.read(self._cells).count()
        live = self._stored().count()
        tomb = (
            self.store.read(self._tomb).count()
            if self.store.exists(self._tomb)
            else 0
        )
        return {
            "physical_rows": physical,
            "live_rows": live,
            "dead_rows": physical - live,
            "dead_fraction": round((physical - live) / physical, 4)
            if physical
            else 0.0,
            "tomb_rows": tomb,
        }

    def compact(self) -> None:
        """Fold the append log down: rewrite the cells table from the
        LIVE view (one full write — the cost every overwrite-mode epoch
        pays) and drop the tombstone log. Live rows are re-stamped at
        the CURRENT epoch seq, not 0: a crash between the rewrite and
        ``drop`` leaves the old tombstones (all at seq ≤ current) in
        place, and rows at the current seq survive them under the
        ``seq >= tombstone_seq`` liveness rule — restamping to 0 would
        let those stale tombstones silently kill every
        previously-updated row. Future epochs tombstone at seq+1 and
        still outrank. The live view reads the parent version, which
        the rewrite leaves in place."""
        if not self.append_log:
            return
        with self.store.locked(self._cells):
            live = self._stored().withColumn("seq", F.lit(self._seq()))
            self.store.write(
                self._cells, live.repartition("cell"), partition_by=["cell"]
            )
            self.store.drop(self._tomb)

    def maybe_compact(self, max_dead_fraction: float = 0.3) -> dict:
        """Measure → act: compact when the dead fraction crosses the
        threshold. Call it after each epoch; at steady churn c per
        epoch it fires every ~``max_dead_fraction``/c epochs, so the
        amortized write cost per epoch is ~c/``max_dead_fraction``
        full rewrites — vs exactly 1.0 for overwrite mode whenever
        churn touches every partition."""
        stats = self.log_stats()
        if stats["dead_fraction"] <= max_dead_fraction:
            return {"compacted": False, **stats}
        self.compact()
        return {"compacted": True, **stats}

    def retrain(
        self,
        corpus: DataFrame | None = None,
        k: int | None = None,
        iterations: int = 3,
        init: str = "lowest_id",
    ) -> DataFrame:
        """The ``needs_retrain`` actuator: re-train the cell codebook
        on the current corpus (``ivf_train``) and rebuild
        (``bootstrap``). Returns the FULL one-shot pair set of the
        corpus under the NEW codebook — which REPLACES the consumer's
        accumulated pair feed, it is not unioned into it: cell
        boundaries moved, so pairs accumulated under the old codebook
        are neither a subset nor a superset of what the new one-shot
        emits, and ``verify_pairs`` over the old feed no longer
        reproduces ``semantic_dedup`` of the corpus. (Same consume-
        before-next-write contract as ``update``'s pairs.)

        ``corpus`` defaults to the index's own stored unit vectors,
        eagerly materialized (``localCheckpoint``) before bootstrap
        rewrites the cell files; at deploy scale prefer passing the
        upstream corpus. ``k`` defaults to the current codebook
        size."""
        from updater_spark.operators.similarity import ivf_train

        if k is None:
            k = len(self.centroids())
        if corpus is None:
            corpus = (
                self._stored()
                .select(
                    F.col("id").alias(self.id_col),
                    F.col("u").alias(self.vec_col),
                )
                .localCheckpoint(eager=True)
            )
        cents = ivf_train(
            corpus,
            self.id_col,
            self.vec_col,
            k=k,
            iterations=iterations,
            init=init,
        )
        return self.bootstrap(corpus, cents)

    def maybe_retrain(
        self,
        max_imbalance: float = 8.0,
        corpus: DataFrame | None = None,
        k: int | None = None,
        iterations: int = 3,
        init: str = "lowest_id",
    ) -> dict:
        """Measure → advise → act: if ``needs_retrain`` trips on
        ``occupancy()``, run ``retrain`` and return its replacement
        pair feed under ``"pairs"`` (None when no action — the
        accumulated feed stays authoritative)."""
        from updater_spark.operators.ann_index import needs_retrain

        stats = self.occupancy()
        if not needs_retrain(stats, max_imbalance):
            return {"retrained": False, "occupancy": stats, "pairs": None}
        pairs = self.retrain(
            corpus=corpus, k=k, iterations=iterations, init=init
        )
        return {
            "retrained": True,
            "occupancy_before": stats,
            "occupancy": self.occupancy(),
            "pairs": pairs,
        }

    def occupancy(self) -> dict:
        """Cell-skew telemetry (shared ``cell_occupancy_stats``): the
        codebook is fixed between bootstraps, so corpus drift
        concentrates cells — the failure mode ``max_cell`` guards at
        pair time, this surfaces at maintenance time, and
        ``retrain``/``maybe_retrain`` repairs."""
        from updater_spark.operators.ann_index import cell_occupancy_stats

        return cell_occupancy_stats(self._stored(), "cell")

    def assignments(self) -> DataFrame:
        """(id, cell) of the current state — the final-output join
        side for building (id, cell, group, keep) rows. ``cell`` is
        re-cast to long: it is written long, but Spark re-infers
        partition-directory values as int on read."""
        return self._stored().select(
            "id", F.col("cell").cast("long").alias("cell")
        )

    def verify_pairs(self, pairs: DataFrame) -> DataFrame:
        """Re-score accumulated candidate pairs against CURRENT state —
        the semantic twin of ``verify_pairs_exact`` (dedup.py), and the
        step that makes the cross-epoch contract exact: a pair emitted
        in epoch k can go stale when either endpoint's embedding is
        re-ingested later (its sim was true THEN, not now), and pairs
        referencing since-deleted ids must leave. Joining the pair list
        back to the live cells table (two hash joins, O(|pairs|)) and
        recomputing the rounded cosine under the same cell/threshold/
        cap rules yields exactly the one-shot ``semantic_dedup`` pair
        set of the current corpus. Completeness needs no re-scan: when
        the LATER of a final pair's two embeddings was ingested, the
        other already held its final value, so ``update``'s new×old
        emitted the candidate — and with ``max_cell`` set, a cell
        whose over-cap epochs emitted nothing pays its full pair set
        the moment it shrinks under the cap
        (``_cap_crossing_pairs``, ADVICE r5), so the cap punches no
        hole in the contract."""
        cur = self._stored()
        if self.max_cell is not None:
            ok = (
                cur.groupBy("cell")
                .agg(F.count(F.lit(1)).alias("_n"))
                .filter(F.col("_n") <= self.max_cell)
                .select("cell")
            )
            cur = cur.join(F.broadcast(ok), "cell")
        a = cur.select(
            F.col("id").alias("id_a"),
            F.col("u").alias("_ua"),
            F.col("cell").alias("_ca"),
        )
        b = cur.select(
            F.col("id").alias("id_b"),
            F.col("u").alias("_ub"),
            F.col("cell").alias("_cb"),
        )
        sim = F.round(dot(F.col("_ua"), F.col("_ub")), self.round_digits)
        return (
            pairs.select("id_a", "id_b")
            .distinct()
            .join(a, "id_a")
            .join(b, "id_b")
            .filter(F.col("_ca") == F.col("_cb"))
            .select("id_a", "id_b", sim.alias("sim"))
            .filter(F.col("sim") >= self.threshold)
        )


def apply_cdc_epoch(
    index: SemanticIndex,
    store: TableStore,
    table: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Maintain a semantic index from one ``CdcEngine`` epoch: after
    ``engine.update(spec, source)`` the store holds the epoch's change
    feed (``{table}__delta`` changed+new rows, ``{table}__deleted``
    applied delete keys); deletes leave the cell state first, then the
    delta is re-assigned and paired. Returns the epoch's new pairs —
    the exact composition ``dedup_index.apply_cdc_epoch`` uses for
    MinHash, so the two indexes can mirror the same replica
    side-by-side."""
    deleted = store.read(f"{table}__deleted").select(
        F.col(id_col).alias(index.id_col)
    )
    # remove() returns pairs owed by cells the deletes shrank through
    # max_cell (ADVICE r5) — part of the epoch's candidate feed.
    # Materialize them EAGERLY before update() rewrites cell files:
    # the lazy plan captures the pre-update file listing (overwrite
    # mode deletes those files → FileNotFound) and its size filter
    # would re-evaluate against post-delta cell sizes (a cell pushed
    # back over max_cell silently drops its owed pairs).
    owed = index.remove(deleted).localCheckpoint(eager=True)
    delta = store.read(f"{table}__delta").select(
        F.col(id_col).alias(index.id_col),
        F.col(vec_col).alias(index.vec_col),
    )
    return index.update(delta).unionByName(owed).distinct()
