"""IvfIndex / IvfPqIndex: persistent incrementally-maintained ANN
indexes. The invariant under test everywhere: after any sequence of
bootstrap/upsert/remove, search results EQUAL a fresh one-shot search
(ivf_topk / ivfpq_topk over a fresh ivfpq_assign) of the current
corpus with the same quantizer."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from updater_spark.operators.ann_index import IvfIndex, IvfPqIndex
from updater_spark.operators.similarity import (
    ivf_topk,
    ivfpq_assign,
    ivfpq_topk,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(11)
    vecs = rng.randn(120, 16).astype(np.float64)
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in vecs[i]])
        for i in range(120)
    ]
    return spark.createDataFrame(rows), vecs


def _cents(vecs, idxs):
    return [[float(x) for x in vecs[i]] for i in idxs]


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_bootstrap_search_matches_oneshot(spark, corpus, tmp_store):
    df, vecs = corpus
    cents = _cents(vecs, range(0, 40, 5))
    idx = IvfIndex(tmp_store, "emb")
    idx.bootstrap(df, cents)
    q = df.filter("vec_id % 20 = 0")
    assert _sorted(idx.search(q, k=3, nprobe=3)) == _sorted(
        ivf_topk(df, q, cents, k=3, nprobe=3)
    )
    assert idx.codebook() == __import__(
        "updater_spark.operators.similarity", fromlist=["codebook_id"]
    ).codebook_id(cents)


def test_upsert_migrating_vector_leaves_old_cell(spark, corpus, tmp_store):
    """An updated vector that lands in a DIFFERENT cell must vanish
    from its old cell — otherwise searches probing the old cell return
    a stale copy."""
    df, vecs = corpus
    cents = _cents(vecs, range(0, 40, 5))
    idx = IvfIndex(tmp_store, "emb_mig")
    idx.bootstrap(df, cents)

    # replace vec 7 with (a perturbation of) vec 33's vector — it
    # almost surely moves cells; also add a brand-new vec 500
    moved = [float(x) + 0.01 for x in vecs[33]]
    delta = spark.createDataFrame(
        [Row(vec_id=7, embedding=moved), Row(vec_id=500, embedding=moved)]
    )
    idx.upsert(delta)

    current = df.filter("vec_id <> 7").unionByName(delta)
    stored = tmp_store.read("emb_mig__cells")
    # no duplicate ids anywhere (stale copy gone), corpus size right
    assert stored.groupBy("vec_id").count().filter("count > 1").count() == 0
    assert stored.count() == current.count()

    q = df.filter("vec_id % 20 = 0")
    assert _sorted(idx.search(q, k=3, nprobe=3)) == _sorted(
        ivf_topk(current, q, cents, k=3, nprobe=3)
    )


def test_remove_and_emptied_cell_dropped(spark, corpus, tmp_store):
    df, vecs = corpus
    cents = _cents(vecs, range(0, 40, 5))
    idx = IvfIndex(tmp_store, "emb_rm")
    # tiny corpus: one cell likely holds exactly one vector
    small = df.filter("vec_id < 10")
    idx.bootstrap(small, cents)
    stored = tmp_store.read("emb_rm__cells")
    one_cell = (
        stored.groupBy("bucket").count().filter("count = 1").head()
    )
    # materialize: a lazy plan over the pre-remove index would re-scan
    # files the remove deletes
    victim_ids = [
        r["vec_id"]
        for r in stored.filter(F.col("bucket") == one_cell["bucket"])
        .select("vec_id")
        .collect()
    ]
    victims = spark.createDataFrame(
        [Row(vec_id=v) for v in victim_ids]
    )
    idx.remove(victims)
    after = tmp_store.read("emb_rm__cells")
    assert after.filter(F.col("bucket") == one_cell["bucket"]).count() == 0
    assert after.count() == 10 - 1
    # search parity vs one-shot over the shrunken corpus
    current = small.join(victims, "vec_id", "anti")
    q = small.limit(3)
    assert _sorted(idx.search(q, k=2, nprobe=4)) == _sorted(
        ivf_topk(current, q, cents, k=2, nprobe=4)
    )


def _books(vecs, cent_idxs, cw_idxs, m_sub=4):
    """Residual PQ codebooks from pinned corpus rows (the
    _ivfpq_fixture recipe at test scale: residual = vec - its
    nearest centroid, split into m_sub subspaces)."""
    cm = np.array([vecs[i] for i in cent_idxs])
    sub = vecs.shape[1] // m_sub
    resids = []
    for i in cw_idxs:
        v = vecs[i]
        resids.append(v - cm[int((v @ cm.T).argmax())])
    return [
        [[float(x) for x in rv[m * sub : (m + 1) * sub]] for rv in resids]
        for m in range(m_sub)
    ]


def test_ivfpq_index_maintained_equals_fresh(spark, corpus, tmp_store):
    """The full IVF-PQ lifecycle: bootstrap on a partial corpus,
    upsert inserts + an UPDATED vector that migrates cells, remove a
    slice — after all of it, search must equal ivfpq_topk over a
    fresh ivfpq_assign of the final corpus, and the codes store must
    hold no stale copies."""
    df, vecs = corpus
    cent_idxs = list(range(0, 40, 5))
    cents = _cents(vecs, cent_idxs)
    books = _books(vecs, cent_idxs, range(1, 65, 4))

    idx = IvfPqIndex(tmp_store, "pq")
    base = df.filter("vec_id < 100")
    idx.bootstrap(base, cents, books)

    # inserts (perturbed copies) + an update that moves vec 7 onto
    # vec 33's neighborhood (near-certain cell migration)
    moved = [float(x) + 0.01 for x in vecs[33]]
    delta = spark.createDataFrame(
        [Row(vec_id=7, embedding=moved)]
        + [
            Row(vec_id=1000 + i, embedding=[float(x) + 0.02 for x in vecs[i]])
            for i in range(100, 110)
        ]
    )
    idx.upsert(delta)
    victims = spark.createDataFrame([Row(vec_id=v) for v in (0, 5, 1003)])
    idx.remove(victims)

    current = (
        base.filter("vec_id <> 7")
        .unionByName(delta)
        .join(victims, "vec_id", "anti")
    )
    stored = tmp_store.read("pq__cells")
    assert stored.groupBy("vec_id").count().filter("count > 1").count() == 0
    assert stored.count() == current.count()
    assert set(stored.columns) == {"vec_id", "cell", "codes"}  # codes only

    q = df.filter("vec_id % 20 = 0")
    fresh = ivfpq_topk(
        ivfpq_assign(current, cents, books),
        cents,
        books,
        q,
        k=3,
        nprobe=3,
    )
    assert _sorted(idx.search(q, k=3, nprobe=3)) == _sorted(fresh)


def test_ivfpq_index_self_describing_quantizer(spark, corpus, tmp_store):
    """search() takes NO quantizer from the caller; the stored
    identity round-trips and matches ivfpq_index_id of the stored
    centroids+codebooks. A second index object over the same store
    (fresh cache) searches identically."""
    from updater_spark.operators.similarity import ivfpq_index_id

    df, vecs = corpus
    cent_idxs = list(range(0, 24, 3))
    cents = _cents(vecs, cent_idxs)
    books = _books(vecs, cent_idxs, range(2, 34, 2))
    idx = IvfPqIndex(tmp_store, "pq_sd")
    idx.bootstrap(df.filter("vec_id < 60"), cents, books)
    assert idx.identity() == ivfpq_index_id(idx.centroids(), idx.codebooks())
    again = IvfPqIndex(tmp_store, "pq_sd")
    q = df.filter("vec_id % 30 = 0")
    assert _sorted(again.search(q, k=2, nprobe=2)) == _sorted(
        idx.search(q, k=2, nprobe=2)
    )


def test_identity_sidecar_detects_crashed_bootstrap(spark, corpus, tmp_store):
    """ADVICE r4: the quantizer-internal identity hash matches its own
    contents by construction, so __cells/__quantizer skew (a bootstrap
    crash between the two writes, a partial restore) needs the
    independent cells-side sidecar. Simulate both crash windows and
    assert search/maintenance hash-fail LOUDLY instead of silently
    degrading recall."""
    df, vecs = corpus
    cents = _cents(vecs, range(0, 24, 3))
    books = _books(vecs, range(0, 24, 3), range(2, 34, 2))
    idx = IvfPqIndex(tmp_store, "pq_crash")
    idx.bootstrap(df.filter("vec_id < 60"), cents, books)
    q = df.filter("vec_id % 30 = 0")
    idx.search(q, k=2, nprobe=2).collect()  # healthy: passes the check

    # crash window A: sidecar+cells written for generation 2, but the
    # quantizer promote never happened (old quantizer still current)
    tmp_store.write_sidecar("pq_crash__cells", "identity", "gen2-partial")
    fresh = IvfPqIndex(tmp_store, "pq_crash")
    with pytest.raises(RuntimeError, match="quantizer"):
        fresh.search(q, k=2, nprobe=2)
    with pytest.raises(RuntimeError, match="quantizer"):
        fresh.upsert(df.filter("vec_id >= 60 and vec_id < 70"))
    with pytest.raises(RuntimeError, match="quantizer"):
        fresh.remove(df.filter("vec_id = 1").select("vec_id"))

    # re-bootstrap repairs the skew end-to-end
    fresh.bootstrap(df.filter("vec_id < 60"), cents, books)
    assert _sorted(fresh.search(q, k=2, nprobe=2)) == _sorted(
        idx.search(q, k=2, nprobe=2)
    )

    # the plain IVF index has the same guard
    ividx = IvfIndex(tmp_store, "ivf_crash")
    ividx.bootstrap(df.filter("vec_id < 60"), cents)
    tmp_store.write_sidecar("ivf_crash__cells", "identity", "gen2-partial")
    with pytest.raises(RuntimeError, match="codebook"):
        IvfIndex(tmp_store, "ivf_crash").search(q, k=2, nprobe=2)


def test_occupancy_telemetry_and_retrain_trigger(spark, corpus, tmp_store):
    """Cell-skew telemetry (VERDICT r5 #7): occupancy() summarizes
    per-cell load in one agg job; needs_retrain flips when drift
    concentrates mass in one cell — the fixed-codebook failure mode
    at scale (the quantizer never retrains in place)."""
    from updater_spark.operators.ann_index import needs_retrain

    df, vecs = corpus
    cent_idxs = list(range(0, 40, 5))
    cents = _cents(vecs, cent_idxs)
    books = _books(vecs, cent_idxs, range(1, 65, 4))

    idx = IvfPqIndex(tmp_store, "pq_occ")
    idx.bootstrap(df, cents, books)
    s0 = idx.occupancy()
    assert s0["n_cells"] > 1 and s0["total_rows"] == 120
    assert s0["max"] >= s0["p99"] >= s0["p50"] >= 1
    assert abs(s0["mean"] - 120 / s0["n_cells"]) < 0.01
    assert not needs_retrain(s0, max_imbalance=50.0)

    # drift: 300 new vectors all landing on centroid 0's cell
    hot = spark.createDataFrame(
        [
            Row(
                vec_id=10_000 + i,
                embedding=[float(x) + 0.001 * i for x in vecs[0]],
            )
            for i in range(300)
        ]
    )
    idx.upsert(hot)
    s1 = idx.occupancy()
    assert s1["total_rows"] == 420
    assert s1["max"] >= 300
    assert s1["imbalance"] > s0["imbalance"]
    # 300-in-one-cell on a 420-row corpus -> max/mean ~= 6.1
    assert needs_retrain(s1, max_imbalance=5.0)

    # the plain IVF index and the semantic index share the telemetry
    ividx = IvfIndex(tmp_store, "ivf_occ")
    ividx.bootstrap(df, cents)
    sv = ividx.occupancy()
    assert sv["total_rows"] == 120 and sv["n_cells"] == s0["n_cells"]


def test_filtered_search_equals_index_over_filtered_corpus(
    spark, corpus, tmp_store
):
    """Pre-filtered search must equal searching an index built over
    the PRE-FILTERED corpus: cell assignment is per-row (same
    centroids → same cell for every surviving row), so the filter
    commutes with indexing — `where` and `allowed` are just cheaper
    ways to get there, applied inside the probe-pruned scan."""
    df, vecs = corpus
    cents = _cents(vecs, range(0, 40, 5))
    pred = F.col("vec_id") % 3 == 1

    idx = IvfIndex(tmp_store, "flt")
    idx.bootstrap(df, cents)
    ref = IvfIndex(tmp_store, "flt_ref")
    ref.bootstrap(df.filter(pred), cents)

    qs = df.filter(F.col("vec_id") % 20 == 0)
    want = _sorted(ref.search(qs, k=4, nprobe=3))
    assert len(want) > 0
    got_where = _sorted(idx.search(qs, k=4, nprobe=3, where=pred))
    assert got_where == want
    allowed = df.filter(pred).select("vec_id")
    got_allowed = _sorted(idx.search(qs, k=4, nprobe=3, allowed=allowed))
    assert got_allowed == want
    # every neighbor satisfies the predicate
    assert all(nb % 3 == 1 for _, nb, _s, _r in got_where)
    # unfiltered search differs (the filter is load-bearing)
    assert _sorted(idx.search(qs, k=4, nprobe=3)) != want


def test_ivfpq_filtered_search_equals_index_over_filtered_corpus(
    spark, corpus, tmp_store
):
    """Same commutation property for the compressed index: cell
    assignment and PQ codes are per-row, so filtering commutes with
    indexing — `where`/`allowed` equal an IvfPqIndex built over the
    pre-filtered corpus."""
    df, vecs = corpus
    cent_idxs = list(range(0, 40, 5))
    cents = _cents(vecs, cent_idxs)
    books = _books(vecs, cent_idxs, range(1, 65, 4))
    pred = F.col("vec_id") % 3 == 1

    idx = IvfPqIndex(tmp_store, "pqflt")
    idx.bootstrap(df, cents, books)
    ref = IvfPqIndex(tmp_store, "pqflt_ref")
    ref.bootstrap(df.filter(pred), cents, books)

    qs = df.filter(F.col("vec_id") % 20 == 0)
    want = _sorted(ref.search(qs, k=4, nprobe=3))
    assert len(want) > 0
    assert _sorted(idx.search(qs, k=4, nprobe=3, where=pred)) == want
    allowed = df.filter(pred).select("vec_id")
    assert _sorted(idx.search(qs, k=4, nprobe=3, allowed=allowed)) == want


def test_filtered_search_still_prunes_partitions(spark, corpus, tmp_store):
    """The metadata filter must COMPOSE with probe pruning, not defeat
    it: the plan keeps a non-empty PartitionFilters on the bucket
    column while the predicate rides as a data filter."""
    import re

    df, vecs = corpus
    cents = _cents(vecs, range(0, 40, 5))
    idx = IvfIndex(tmp_store, "fltprune")
    idx.bootstrap(df, cents)
    out = idx.search(
        df.filter("vec_id % 20 = 0"),
        k=3,
        nprobe=2,
        where=F.col("vec_id") % 3 == 1,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "bucket" in m.group(1)
    assert out.count() > 0


def test_filtered_search_allowed_column_resolution(
    spark, corpus, tmp_store
):
    """`allowed=` used to take columns[0] positionally: a multi-column
    metadata frame would semi-join on the wrong column and silently
    return wrong/empty results (ADVICE r7). Now: a column named id_col
    is selected by NAME wherever it sits; anything else multi-column
    raises."""
    import pytest

    from updater_spark.operators.ann_index import IvfPqIndex

    df, vecs = corpus
    cents = _cents(vecs, range(0, 40, 5))
    pred = F.col("vec_id") % 3 == 1

    idx = IvfIndex(tmp_store, "flt_res")
    idx.bootstrap(df, cents)
    qs = df.filter(F.col("vec_id") % 20 == 0)
    want = _sorted(idx.search(qs, k=4, nprobe=3, where=pred))
    assert len(want) > 0

    # metadata frame with id_col NOT first: resolved by name
    meta = df.filter(pred).select(
        F.lit("m").alias("tag"), F.col("vec_id"), F.lit(1).alias("x")
    )
    assert _sorted(idx.search(qs, k=4, nprobe=3, allowed=meta)) == want

    # multi-column frame without id_col: loud, not silently wrong
    bad = df.filter(pred).select(
        F.col("vec_id").alias("other_id"), F.lit(1).alias("x")
    )
    with pytest.raises(ValueError, match="single-column"):
        idx.search(qs, k=4, nprobe=3, allowed=bad)

    # single unnamed column still works (taken as the id set)
    one = df.filter(pred).select(F.col("vec_id").alias("anything"))
    assert _sorted(idx.search(qs, k=4, nprobe=3, allowed=one)) == want

    # same contract on the compressed index
    books = _books(vecs, list(range(0, 40, 5)), range(1, 65, 4))
    pidx = IvfPqIndex(tmp_store, "pqflt_res")
    pidx.bootstrap(df, cents, books)
    pwant = _sorted(pidx.search(qs, k=4, nprobe=3, where=pred))
    assert _sorted(pidx.search(qs, k=4, nprobe=3, allowed=meta)) == pwant
    with pytest.raises(ValueError, match="single-column"):
        pidx.search(qs, k=4, nprobe=3, allowed=bad)
