"""Persistent, incrementally-maintained IVF index.

``ivf_assign`` + a one-shot partitioned write (similarity.py) covers
the batch case; this class is the CDC-cycle twin — the ANN analogue of
the incremental dedup index (dedup_index.py): state that persists
between runs so each update touches O(|delta|) vectors, not the
corpus.

Storage (via TableStore):

- ``{name}__codebook``: (cid, centroid array<double>, codebook_id) —
  the quantizer, stored WITH the index so the index is
  self-describing: ``search()`` never takes centroids from the caller,
  making the stale-codebook mismatch (ADVICE r1) structurally
  impossible here.
- ``{name}__cells``: the corpus + ``bucket`` column, hash-partitioned
  by bucket — searches prune to probed cells at the parquet level
  (tests/test_similarity.py asserts the PartitionFilters).

``upsert(delta)`` re-assigns only the delta, then rewrites ONLY the
affected cell partitions (``TableStore.overwrite_partitions``): the
new vectors' cells plus any cell holding a stale copy of a re-ingested
id (an updated vector can migrate buckets — the stale copy must leave
its OLD cell).
The old-cell lookup is an id-join against the index's (id, bucket)
columns — a column-pruned scan; corpora where that scan dominates
should add an id→bucket sidecar, the same trade as a secondary index.

Scale shape: writes touch |affected cells| directories; searches read
|probed cells|; nothing ever rewrites or scans the whole index except
``bootstrap``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from updater_spark.operators.similarity import (
    codebook_id,
    ivf_assign,
    ivf_topk,
    ivfpq_assign,
    ivfpq_index_id,
    ivfpq_topk,
)
from updater_spark.sources.store import TableStore


def _resolve_allowed(allowed: DataFrame, id_col: str) -> DataFrame:
    """Normalize a filtered-search ``allowed`` frame to a single
    ``id_col`` column. A multi-column metadata DataFrame silently
    semi-joined on its first column would produce wrong (or empty)
    results with no error, so: when a column named ``id_col`` exists,
    select it by NAME; otherwise the frame must be exactly one column
    (taken as the id set whatever it is called) — anything else is a
    caller bug and raises (ADVICE r7)."""
    if id_col in allowed.columns:
        return allowed.select(id_col).distinct()
    if len(allowed.columns) != 1:
        raise ValueError(
            "allowed= must be a single-column id frame or contain a "
            f"column named {id_col!r}; got columns {allowed.columns} — "
            "a positional guess over a metadata frame would semi-join "
            "on the wrong column and silently return wrong results"
        )
    return allowed.select(
        F.col(allowed.columns[0]).alias(id_col)
    ).distinct()


def cell_maintenance_stats(
    idx: DataFrame,
    touched_ids: DataFrame,
    inserts: DataFrame | None,
    id_col: str,
    part_col: str,
) -> list:
    """ONE job listing the cells incremental index maintenance must
    rewrite: those holding a stale copy of a touched id, or receiving
    an insert. At most k rows (k = codebook size, a driver-safe bound
    independent of corpus size). A rewritten cell left empty is simply
    absent from the new version (``TableStore.overwrite_partitions``).

    Shared by ``IvfIndex`` (part_col='bucket'), ``IvfPqIndex``
    (part_col='cell') and ``SemanticIndex``."""
    cells = idx.join(touched_ids, id_col, "semi").select(part_col)
    if inserts is not None:
        cells = cells.unionByName(inserts.select(part_col))
    return [r[0] for r in cells.distinct().collect()]


def cell_occupancy_stats(idx: DataFrame, part_col: str) -> dict:
    """Cell-skew telemetry (VERDICT r5 #7) — one aggregation job over
    the cells table, reduced to k = codebook-size rows (driver-safe
    regardless of corpus size):

    ``{n_cells, total_rows, mean, p50, p99, max, imbalance}``

    ``imbalance = max / mean`` is THE drift signal for any
    fixed-codebook index at 100 TB: the quantizer is immutable
    between bootstraps, so as the corpus distribution drifts, mass
    concentrates in a few cells — probe cost grows with the hot
    cell's size (nprobe pulls whole cells), maintenance rewrites of
    the hot partition get slower, and a hot cell eventually outgrows
    a task. Occupancy is cheap to watch after each maintenance op;
    when it trips (see ``needs_retrain``), schedule a re-train — a
    new ``bootstrap()`` with refreshed centroids, which rewrites
    everything by definition."""
    counts = sorted(
        r["n"]
        for r in idx.groupBy(part_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    n_cells = len(counts)
    total = sum(counts)
    if not n_cells:
        return {
            "n_cells": 0,
            "total_rows": 0,
            "mean": 0.0,
            "p50": 0,
            "p99": 0,
            "max": 0,
            "imbalance": 0.0,
        }
    mean = total / n_cells

    def pct(q: float) -> int:
        return counts[min(n_cells - 1, max(0, int(q * n_cells) - 1))]

    return {
        "n_cells": n_cells,
        "total_rows": total,
        "mean": round(mean, 2),
        "p50": pct(0.50),
        "p99": pct(0.99),
        "max": counts[-1],
        "imbalance": round(counts[-1] / mean, 3) if mean else 0.0,
    }


def needs_retrain(stats: dict, max_imbalance: float = 8.0) -> bool:
    """Re-train advisory over ``cell_occupancy_stats`` output: True
    when the hottest cell holds more than ``max_imbalance``× the mean
    occupancy. 8× default: at perfect balance every probe reads
    total/k rows; past ~8× a single-cell probe does an order of
    magnitude more work than the plan budgeted, and the skew only
    compounds as drift continues. The trigger is advisory — callers
    schedule ``bootstrap()`` with refreshed centroids; nothing here
    mutates the index."""
    return bool(stats["n_cells"]) and stats["imbalance"] > max_imbalance


class IvfIndex:
    def __init__(
        self,
        store: TableStore,
        name: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.store = store
        self.name = name
        self.id_col = id_col
        self.vec_col = vec_col
        # the codebook is immutable between bootstraps (upsert/remove
        # never retrain), so one read serves the object's lifetime —
        # maintenance and search ops skip a per-call codebook job
        self._cb_cache: tuple[list[list[float]], str] | None = None

    @property
    def _cells(self) -> str:
        return f"{self.name}__cells"

    @property
    def _codebook(self) -> str:
        return f"{self.name}__codebook"

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

    def codebook(self) -> str:
        return self._codebook_state()[1]

    # -- lifecycle -----------------------------------------------------
    def bootstrap(self, corpus: DataFrame, centroids: list[list[float]]) -> None:
        """(Re)build the whole index. Write order is sidecar → cells
        → codebook-promote so every crash point fails LOUDLY on the
        next search instead of silently mixing quantizer generations
        (ADVICE r4): the cells table carries its encoding identity in
        a sidecar, the codebook table is promoted LAST (atomic pointer
        swap), and ``search`` cross-checks the two — a crash between
        the cells write and the codebook promote leaves new codes
        beside the old codebook, which the identity check rejects."""
        spark = self.store.spark
        cb = codebook_id(centroids)
        with self.store.locked(self._cells):
            self.store.write_sidecar(self._cells, "identity", cb)
            assigned = ivf_assign(
                corpus, centroids, self.id_col, self.vec_col
            )
            # align tasks with cells before the partitioned write:
            # without it every input task emits a file into every
            # bucket directory (tasks × cells tiny files); with it
            # each cell gets its task's worth of files and reads stay
            # listing-cheap
            self.store.write(
                self._cells, assigned.repartition("bucket"), partition_by=["bucket"]
            )
            self.store.write(
                self._codebook,
                spark.createDataFrame(
                    [(i, c, cb) for i, c in enumerate(centroids)],
                    "cid long, centroid array<double>, codebook_id string",
                ),
            )
            self._cb_cache = ([list(c) for c in centroids], cb)

    def _check_identity(self) -> None:
        """Cells-side identity sidecar must match the promoted
        codebook — catches a crashed bootstrap or a partial restore
        before it degrades recall silently."""
        side = self.store.read_sidecar(self._cells, "identity")
        if side != self._codebook_state()[1]:
            raise RuntimeError(
                f"index {self.name!r}: cells were encoded with quantizer "
                f"{side!r} but the promoted codebook is "
                f"{self._codebook_state()[1]!r} — a bootstrap crashed "
                "between the cells write and the codebook promote, or "
                "the two tables were restored from different snapshots; "
                "re-run bootstrap()"
            )

    def upsert(self, delta: DataFrame) -> None:
        """Insert or replace the delta's vectors; only affected cell
        partitions are rewritten (the new vectors' cells plus any cell
        holding a stale copy — an updated vector can migrate buckets).

        Two Spark jobs total: the ``cell_maintenance_stats``
        bookkeeping pass and the write of the affected cells."""
        cents = self.centroids()
        with self.store.locked(self._cells):
            self._check_identity()
            assigned = ivf_assign(delta, cents, self.id_col, self.vec_col)
            idx = self.store.read(self._cells)
            delta_ids = delta.select(self.id_col).distinct()
            affected = cell_maintenance_stats(
                idx, delta_ids, assigned, self.id_col, "bucket"
            )
            if not affected:
                return
            rebuilt = (
                idx.filter(F.col("bucket").isin(affected))
                .join(delta_ids, self.id_col, "anti")
                .unionByName(assigned.select(*idx.columns))
            )
            self.store.overwrite_partitions(
                self._cells, rebuilt.repartition("bucket"), "bucket", affected
            )

    def remove(self, ids: DataFrame) -> None:
        """Drop vectors by id; rewrites (or drops) only their cells.
        Same two-job shape as ``upsert``."""
        with self.store.locked(self._cells):
            self._check_identity()
            idx = self.store.read(self._cells)
            key = ids.select(self.id_col).distinct()
            affected = cell_maintenance_stats(
                idx, key, None, self.id_col, "bucket"
            )
            if not affected:
                return
            rebuilt = idx.filter(F.col("bucket").isin(affected)).join(
                key, self.id_col, "anti"
            )
            self.store.overwrite_partitions(
                self._cells, rebuilt.repartition("bucket"), "bucket", affected
            )

    def retrain(
        self,
        corpus: DataFrame | None = None,
        k: int | None = None,
        iterations: int = 3,
        init: str = "lowest_id",
    ) -> dict:
        """The ``needs_retrain`` ACTUATOR: re-train the quantizer on
        the current corpus (``ivf_train``) and rebuild the index
        (``bootstrap`` — atomic sidecar → cells → codebook-promote) —
        the only way a fixed-codebook index recovers from
        drift-induced cell skew; upsert/remove never move centroids.

        ``corpus`` defaults to the index's OWN stored vectors, read
        from the version current before the rebuild (which writes a
        new one and leaves that one readable). ``k`` defaults to the
        current codebook size.

        Returns ``{"codebook": new_id, "occupancy": post-stats}``.
        Single-writer contract: same as every maintenance op — the
        corpus snapshot is taken outside ``bootstrap``'s lock."""
        from updater_spark.operators.similarity import ivf_train

        if k is None:
            k = len(self.centroids())
        if corpus is None:
            corpus = self.store.read(self._cells).select(
                self.id_col, self.vec_col
            )
        cents = ivf_train(
            corpus,
            self.id_col,
            self.vec_col,
            k=k,
            iterations=iterations,
            init=init,
        )
        self.bootstrap(corpus, cents)
        return {"codebook": self.codebook(), "occupancy": self.occupancy()}

    def maybe_retrain(
        self,
        max_imbalance: float = 8.0,
        corpus: DataFrame | None = None,
        k: int | None = None,
        iterations: int = 3,
        init: str = "lowest_id",
    ) -> dict:
        """Measure → advise → act in one call: runs ``occupancy()``,
        and if ``needs_retrain`` trips, ``retrain()``. The maintenance
        loop a CDC cycle calls after its epoch's upserts. Returns
        ``{"retrained": bool, "occupancy": ...}`` (plus the pre-
        retrain stats under ``"occupancy_before"`` when it acted)."""
        stats = self.occupancy()
        if not needs_retrain(stats, max_imbalance):
            return {"retrained": False, "occupancy": stats}
        out = self.retrain(
            corpus=corpus, k=k, iterations=iterations, init=init
        )
        return {"retrained": True, "occupancy_before": stats, **out}

    # -- telemetry -----------------------------------------------------
    def occupancy(self) -> dict:
        """Cell-skew telemetry; see ``cell_occupancy_stats``. Watch
        ``imbalance`` after maintenance; ``needs_retrain`` advises
        when drift warrants a re-bootstrap (``retrain``/
        ``maybe_retrain`` is the actuator)."""
        return cell_occupancy_stats(
            self.store.read(self._cells), "bucket"
        )

    # -- search --------------------------------------------------------
    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 4,
        where=None,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """Top-k over the stored index. Centroids come FROM the index
        (self-describing) — caller cannot desynchronize them. The
        partitioned cell read carries no column metadata, so the
        codebook table's stored identity is passed explicitly; it must
        hash-match the centroids read from the same table, and the
        cells table's identity SIDECAR must match the promoted
        codebook (``_check_identity``) — the pair of checks catches
        both a caller-side stale codebook and a codebook/cells restore
        or crashed-bootstrap skew.

        FILTERED search (the metadata-constraint every vector store
        offers): ``where`` is a Column predicate over the index's own
        columns, ``allowed`` a DataFrame of permitted ids (the shape
        for predicates living on an external metadata table — the
        caller evaluates them there and passes the id set). Both
        restrict the CANDIDATE rows before ranking — pre-filtering,
        so the result is the exact top-k among matching rows *within
        the probed cells*: the probe set still comes from the
        unfiltered centroid geometry, so a highly selective filter
        can leave fewer than k matches in ``nprobe`` cells — raise
        ``nprobe`` for selective filters (the standard IVF
        filtered-search recall trade). Cost shape is unchanged: the
        predicate/semi-join applies inside the probe-pruned
        partition scan, never a corpus shuffle."""
        self._check_identity()
        stored = self.store.read(self._cells)
        if where is not None:
            stored = stored.filter(where)
        if allowed is not None:
            stored = stored.join(
                _resolve_allowed(allowed, self.id_col), self.id_col, "semi"
            )
        return ivf_topk(
            stored,
            queries,
            self.centroids(),
            self.id_col,
            self.vec_col,
            k=k,
            nprobe=nprobe,
            bucket_col="bucket",
            codebook=self.codebook(),
        )


class IvfPqIndex:
    """Persistent, incrementally-maintained IVF-PQ index — the
    compressed twin of ``IvfIndex`` and the round-3 VERDICT's missing
    lifecycle: the write-once ``write_ivfpq_index`` layout gains the
    same delta upsert/remove the plain IVF index has, so a changing
    corpus never forces hand re-quantization of whole cells.

    Storage (via TableStore):

    - ``{name}__quantizer``: the coarse centroids AND the residual PQ
      codebooks in one table ``(kind, i, j, vec, identity)`` —
      kind='centroid' rows carry (cid → vec), kind='codeword' rows
      carry (subspace m, codeword j → vec). Stored WITH the index:
      ``search()`` never takes a quantizer from the caller, making
      stale-quantizer mixing structurally impossible here (the
      ``ivfpq_topk`` identity guard still verifies the pair as a
      belt-and-braces hash check).
    - ``{name}__cells``: ``(id, cell, codes)`` — CODES ONLY, M bytes
      per vector, hash-partitioned by cell so searches prune to
      probed cells at the parquet level and maintenance rewrites
      touch |affected cells| directories.

    ``upsert(delta)`` re-encodes ONLY the delta (cell assignment +
    residual codes via ``ivfpq_assign``), then rewrites only the
    affected cell partitions — the new vectors' cells plus
    any cell holding a stale copy of a re-ingested id (an updated
    vector can migrate cells; its stale codes must leave the OLD
    cell). Two Spark jobs per op: ``cell_maintenance_stats`` + the
    partition rewrite, exactly IvfIndex's shape.

    The quantizer is immutable between bootstraps (upsert never
    retrains — residual codebooks drift slowly; retraining is a new
    ``bootstrap``, which rewrites everything by definition)."""

    def __init__(
        self,
        store: TableStore,
        name: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ):
        self.store = store
        self.name = name
        self.id_col = id_col
        self.vec_col = vec_col
        self._q_cache: (
            tuple[list[list[float]], list[list[list[float]]], str] | None
        ) = None

    @property
    def _cells(self) -> str:
        return f"{self.name}__cells"

    @property
    def _quantizer(self) -> str:
        return f"{self.name}__quantizer"

    def exists(self) -> bool:
        return self.store.exists(self._cells)

    # -- quantizer ------------------------------------------------------
    def _quantizer_state(
        self,
    ) -> tuple[list[list[float]], list[list[list[float]]], str]:
        if self._q_cache is None:
            rows = self.store.read(self._quantizer).collect()
            cents = sorted(
                (r for r in rows if r["kind"] == "centroid"),
                key=lambda r: r["i"],
            )
            cws = [r for r in rows if r["kind"] == "codeword"]
            m_sub = 1 + max(r["i"] for r in cws)
            n_cw = 1 + max(r["j"] for r in cws)
            books: list[list[list[float]]] = [
                [None] * n_cw for _ in range(m_sub)
            ]
            for r in cws:
                books[r["i"]][r["j"]] = list(r["vec"])
            self._q_cache = (
                [list(r["vec"]) for r in cents],
                books,
                rows[0]["identity"],
            )
        return self._q_cache

    def centroids(self) -> list[list[float]]:
        return self._quantizer_state()[0]

    def codebooks(self) -> list[list[list[float]]]:
        return self._quantizer_state()[1]

    def identity(self) -> str:
        return self._quantizer_state()[2]

    # -- lifecycle -----------------------------------------------------
    def bootstrap(
        self,
        corpus: DataFrame,
        centroids: list[list[float]],
        codebooks: list[list[list[float]]],
    ) -> None:
        """(Re)build the whole index. Write order is sidecar → cells
        → quantizer-promote (ADVICE r4): the quantizer's atomic
        pointer swap happens LAST, and the cells table carries its
        encoding identity in a sidecar that ``search``/maintenance
        cross-check against the promoted quantizer — a crash at ANY
        intermediate point (sidecar written but cells half-done; cells
        done but quantizer still the old generation) hash-fails
        loudly instead of silently searching old codes with a new
        quantizer (or vice versa)."""
        spark = self.store.spark
        ident = ivfpq_index_id(centroids, codebooks)
        quant = [
            ("centroid", i, 0, [float(x) for x in c], ident)
            for i, c in enumerate(centroids)
        ] + [
            ("codeword", m, j, [float(x) for x in cw], ident)
            for m, book in enumerate(codebooks)
            for j, cw in enumerate(book)
        ]
        with self.store.locked(self._cells):
            self.store.write_sidecar(self._cells, "identity", ident)
            assigned = ivfpq_assign(
                corpus, centroids, codebooks, self.id_col, self.vec_col
            )
            # task/cell alignment before the partitioned write — same
            # small-files argument as IvfIndex.bootstrap
            self.store.write(
                self._cells, assigned.repartition("cell"), partition_by=["cell"]
            )
            self.store.write(
                self._quantizer,
                spark.createDataFrame(
                    quant,
                    "kind string, i long, j long, vec array<double>, "
                    "identity string",
                ),
            )
            self._q_cache = (
                [list(c) for c in centroids],
                [[list(cw) for cw in book] for book in codebooks],
                ident,
            )

    def _check_identity(self) -> None:
        """Cells-side identity sidecar must match the promoted
        quantizer. The quantizer table alone can't detect __cells
        skew — its identity matches its own contents by construction
        (ADVICE r4) — so the check needs the independent cells-side
        record of which quantizer generation encoded the codes."""
        side = self.store.read_sidecar(self._cells, "identity")
        if side != self._quantizer_state()[2]:
            raise RuntimeError(
                f"index {self.name!r}: cells were encoded with quantizer "
                f"{side!r} but the promoted quantizer is "
                f"{self._quantizer_state()[2]!r} — a bootstrap crashed "
                "between the cells write and the quantizer promote, or "
                "the two tables were restored from different snapshots; "
                "re-run bootstrap()"
            )

    def upsert(self, delta: DataFrame) -> None:
        """Insert or replace the delta's vectors: re-encode ONLY the
        delta against the stored quantizer, rewrite only affected
        cell partitions."""
        cents, books, _ = self._quantizer_state()
        with self.store.locked(self._cells):
            self._check_identity()
            assigned = ivfpq_assign(
                delta, cents, books, self.id_col, self.vec_col
            )
            idx = self.store.read(self._cells)
            delta_ids = delta.select(self.id_col).distinct()
            affected = cell_maintenance_stats(
                idx, delta_ids, assigned, self.id_col, "cell"
            )
            if not affected:
                return
            rebuilt = (
                idx.filter(F.col("cell").isin(affected))
                .join(delta_ids, self.id_col, "anti")
                .unionByName(assigned.select(*idx.columns))
            )
            self.store.overwrite_partitions(
                self._cells, rebuilt.repartition("cell"), "cell", affected
            )

    def remove(self, ids: DataFrame) -> None:
        """Drop vectors by id; rewrites (or drops) only their cells."""
        with self.store.locked(self._cells):
            self._check_identity()
            idx = self.store.read(self._cells)
            key = ids.select(self.id_col).distinct()
            affected = cell_maintenance_stats(
                idx, key, None, self.id_col, "cell"
            )
            if not affected:
                return
            rebuilt = idx.filter(F.col("cell").isin(affected)).join(
                key, self.id_col, "anti"
            )
            self.store.overwrite_partitions(
                self._cells, rebuilt.repartition("cell"), "cell", affected
            )

    def retrain(
        self,
        corpus: DataFrame,
        k: int | None = None,
        m_sub: int | None = None,
        k_codewords: int | None = None,
        iterations: int = 3,
        pq_iterations: int = 3,
        init: str = "lowest_id",
    ) -> dict:
        """The ``needs_retrain`` actuator for the compressed index:
        re-train the coarse quantizer (``ivf_train``) AND the residual
        codebooks (``pq_train``) on ``corpus``, then rebuild
        (``bootstrap`` — atomic sidecar → cells → quantizer-promote).

        ``corpus`` is REQUIRED here, unlike ``IvfIndex.retrain``: the
        cells table stores CODES ONLY (M bytes per vector) — the
        original vectors are not reconstructible from the index, so a
        re-train must come from the upstream source. ``k``/``m_sub``/
        ``k_codewords`` default to the current quantizer's geometry.

        Returns ``{"identity": new_id, "occupancy": post-stats}``."""
        from updater_spark.operators.similarity import ivf_train, pq_train

        if corpus is None:
            raise ValueError(
                f"IvfPqIndex {self.name!r} stores PQ codes only — the "
                "original vectors cannot be reconstructed from the "
                "index; pass the upstream corpus to retrain()"
            )
        cents_now, books_now, _ = self._quantizer_state()
        if k is None:
            k = len(cents_now)
        if m_sub is None:
            m_sub = len(books_now)
        if k_codewords is None:
            k_codewords = len(books_now[0])
        cents = ivf_train(
            corpus,
            self.id_col,
            self.vec_col,
            k=k,
            iterations=iterations,
            init=init,
        )
        books = pq_train(
            corpus,
            cents,
            self.id_col,
            self.vec_col,
            m_sub=m_sub,
            k_codewords=k_codewords,
            iterations=pq_iterations,
        )
        self.bootstrap(corpus, cents, books)
        return {"identity": self.identity(), "occupancy": self.occupancy()}

    def maybe_retrain(
        self,
        corpus: DataFrame,
        max_imbalance: float = 8.0,
        **kwargs,
    ) -> dict:
        """Measure → advise → act: ``occupancy()`` + ``needs_retrain``
        gate a full ``retrain(corpus, ...)``. See ``IvfIndex``'s
        twin for the return shape."""
        stats = self.occupancy()
        if not needs_retrain(stats, max_imbalance):
            return {"retrained": False, "occupancy": stats}
        out = self.retrain(corpus, **kwargs)
        return {"retrained": True, "occupancy_before": stats, **out}

    # -- telemetry -----------------------------------------------------
    def occupancy(self) -> dict:
        """Cell-skew telemetry; see ``cell_occupancy_stats``. The
        IVF-PQ quantizer never retrains in place between bootstraps;
        this is the signal that schedules ``retrain(corpus)``."""
        return cell_occupancy_stats(
            self.store.read(self._cells), "cell"
        )

    # -- search --------------------------------------------------------
    def search(
        self,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 8,
        where=None,
        allowed: DataFrame | None = None,
    ) -> DataFrame:
        """ADC top-k over the stored codes. Quantizer comes FROM the
        index; its stored identity re-arms ``ivfpq_topk``'s staleness
        guard across the partitioned read (which drops column
        metadata), and ``_check_identity`` compares the cells table's
        OWN sidecar record against the promoted quantizer — the
        independent check that actually detects __cells/__quantizer
        skew (e.g. a bootstrap crash between the two writes), which
        the quantizer-internal hash cannot see (ADVICE r4).

        ``where``/``allowed``: metadata-filtered search, the same
        pre-filter contract as ``IvfIndex.search`` — candidates
        restrict inside the probe-pruned scan, the probe set stays
        unfiltered, selective filters may under-fill k within
        ``nprobe`` cells (raise nprobe)."""
        self._check_identity()
        cents, books, ident = self._quantizer_state()
        stored = self.store.read(self._cells)
        if where is not None:
            stored = stored.filter(where)
        if allowed is not None:
            stored = stored.join(
                _resolve_allowed(allowed, self.id_col), self.id_col, "semi"
            )
        return ivfpq_topk(
            stored,
            cents,
            books,
            queries,
            k=k,
            nprobe=nprobe,
            id_col=self.id_col,
            vec_col=self.vec_col,
            identity=ident,
        )
