"""Scale probe beyond the driver's sf0.1: synthesize N-row snapshots
with ``spark.range`` (no testdata writes) and measure the engine's
core loops — fingerprint scan, diff join, delta fetch — at 10M+ rows.

Usage: ``python bench_scale.py [n_rows]`` (default 10_000_000).
Prints one JSON line. Not run by the driver; evidence for the
100×-scale-up question (README 'Measured throughput').
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from updater_spark import get_spark
from updater_spark.functions.fingerprints import fingerprint_table
from updater_spark.operators.diff import snapshot_diff


def main(n: int) -> None:
    spark = get_spark("bench_scale")
    spark.sparkContext.setLogLevel("ERROR")

    base = (
        spark.range(1, n + 1, numPartitions=64)
        .withColumnRenamed("id", "pk")
        .withColumn("name", F.concat(F.lit("player"), F.col("pk")))
        .withColumn("cheese", F.pmod(F.xxhash64("pk"), F.lit(100000)))
        .withColumn("rounds", F.pmod(F.xxhash64("name"), F.lit(5000)))
    )
    cols = ["pk", "name", "cheese", "rounds"]
    # previous snapshot: 1% modified, 0.5% missing (inserts), plus
    # replica-only rows (deletes)
    old = (
        base.filter(F.col("pk") % 200 != 0)
        .withColumn(
            "cheese",
            F.when(F.col("pk") % 100 == 0, F.col("cheese") + 1).otherwise(
                F.col("cheese")
            ),
        )
        .unionByName(
            base.filter(F.col("pk") % 333 == 0).withColumn(
                "pk", F.col("pk") + 2 * n
            )
        )
    )

    timings = {}

    def run(name, df):
        # one discarded warm pass (file-listing caches, codegen, JIT —
        # cold-vs-warm measured 16.1s vs 3.1s at 10M rows), then
        # best-of-3: the standard noise-free estimator on a shared VM
        df.write.format("noop").mode("overwrite").save()
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    src_fp = fingerprint_table(base, "pk", cols, algo="xxhash64")
    rep_fp = fingerprint_table(old, "pk", cols, algo="xxhash64")
    run("fingerprint_scan", src_fp)
    diff = snapshot_diff(src_fp, rep_fp)
    run("diff_join", diff.groupBy("change_type").count())
    run(
        "crc32_fingerprint_scan",
        fingerprint_table(base, "pk", cols, algo="crc32"),
    )

    diff_rows = 2 * n
    print(
        json.dumps(
            {
                "n_rows": n,
                "timings_sec": timings,
                "fingerprint_rows_per_sec": round(n / timings["fingerprint_scan"]),
                "diff_rows_per_sec": round(diff_rows / timings["diff_join"]),
                "reference_rows_per_sec": 150_000,
            }
        )
    )


def bucketed_probe(n: int) -> None:
    """Quantify the bucketing crossover for the diff join: at sf0.1 the
    catalog/bucketed path loses to plain parquet (fixed metastore +
    per-bucket task overhead dominates 150k rows); this probe shows
    where it wins. Three variants of the same full-outer diff over
    (pk, hashed) fingerprints:

    - plain ⨝ plain:     Exchange + Sort on BOTH sides every run
    - bucketed ⨝ fresh:  replica side pre-bucketed (the engine's
                         steady-state: the 100M-row stable side never
                         reshuffles; only the fresh scan sorts)
    - bucketed ⨝ bucketed: both sides from the double-buffered caches
                         — no Exchange, no Sort anywhere

    Usage: ``python bench_scale.py [n_rows] bucketed``.
    """
    import shutil
    import tempfile

    spark = get_spark("bench_scale_bucketed")
    spark.sparkContext.setLogLevel("ERROR")

    base = (
        spark.range(1, n + 1, numPartitions=64)
        .withColumnRenamed("id", "pk")
        .withColumn("name", F.concat(F.lit("player"), F.col("pk")))
        .withColumn("cheese", F.pmod(F.xxhash64("pk"), F.lit(100000)))
    )
    cols = ["pk", "name", "cheese"]
    changed = base.withColumn(
        "cheese",
        F.when(F.col("pk") % 100 == 0, F.col("cheese") + 1).otherwise(
            F.col("cheese")
        ),
    )
    src_fp = fingerprint_table(changed, "pk", cols, algo="xxhash64")
    rep_fp = fingerprint_table(base, "pk", cols, algo="xxhash64")

    root = tempfile.mkdtemp(prefix="bucket_probe_")
    from updater_spark.sources.store import TableStore

    store = TableStore(spark, root)
    timings: dict[str, float] = {}
    try:
        rep_fp.write.mode("overwrite").parquet(f"{root}/rep_plain")
        src_fp.write.mode("overwrite").parquet(f"{root}/src_plain")
        rep_b = store.write_bucketed("probe_rep_b", rep_fp, "id", 32)
        src_b = store.write_bucketed("probe_src_b", src_fp, "id", 32)
        rep_p = spark.read.parquet(f"{root}/rep_plain")
        src_p = spark.read.parquet(f"{root}/src_plain")

        def run(name, l, r):
            d = snapshot_diff(l, r).groupBy("change_type").count()
            d.write.format("noop").mode("overwrite").save()
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                d.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            plan = d._jdf.queryExecution().executedPlan().toString()
            timings[name] = round(best, 3)
            timings[name + "_exchanges"] = plan.count("Exchange")

        run("plain_plain", src_p, rep_p)
        run("bucketed_fresh", src_fp, rep_b)
        run("bucketed_bucketed", src_b, rep_b)
        print(json.dumps({"n_rows": n, "bucketed_probe": timings}))
    finally:
        for t in ("probe_rep_b", "probe_src_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(root, ignore_errors=True)


def pipeline_probe(n: int) -> None:
    """Scale probe for the training-data-pipeline operators:
    deterministic_shuffle (global order assignment) over n rows and
    changelog_replay over an n-row replica + n/10-row changelog.

    Usage: ``python bench_scale.py [n_rows] pipeline``.
    """
    import time as _t

    from updater_spark.operators.merge import changelog_replay
    from updater_spark.operators.sampling import deterministic_shuffle

    spark = get_spark("bench_scale_pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    base = (
        spark.range(1, n + 1, numPartitions=64)
        .withColumnRenamed("id", "pk")
        .withColumn("payload", F.concat(F.lit("doc"), F.col("pk")))
    )

    t0 = _t.perf_counter()
    shuffled = deterministic_shuffle(base, id_col="pk")
    shuffled.write.format("noop").mode("overwrite").save()
    timings["deterministic_shuffle"] = round(_t.perf_counter() - t0, 3)

    replica = base.withColumn("v", F.pmod(F.xxhash64("pk"), F.lit(1000)))
    changelog = (
        replica.filter(F.col("pk") % 10 == 0)
        .withColumn("v", F.col("v") + 1)
        .withColumn("_epoch", (F.pmod(F.col("pk"), F.lit(5)) + 1).cast("long"))
        .withColumn("_change_type", F.lit("update"))
    )
    replay = changelog_replay(replica, changelog, "pk", as_of_epoch=2)
    replay.write.format("noop").mode("overwrite").save()  # warm
    t0 = _t.perf_counter()
    replay.write.format("noop").mode("overwrite").save()
    timings["changelog_replay"] = round(_t.perf_counter() - t0, 3)

    print(
        json.dumps(
            {
                "n_rows": n,
                "pipeline_probe": timings,
                "shuffle_rows_per_sec": round(
                    n / timings["deterministic_shuffle"]
                ),
                "replay_rows_per_sec": round(n / timings["changelog_replay"]),
            }
        )
    )


def dedup_probe(n: int) -> None:
    """Scale probe for the near-dup pipeline: MinHash signatures →
    banded LSH candidates → exact-Jaccard verify over n synthetic
    ~20-token docs (every 100th doc is a near-copy of its neighbor
    with two tokens swapped, so true pairs ≈ n/100).

    Usage: ``python bench_scale.py [n_docs] dedup`` (default probe
    size: pass 1_000_000).
    """
    from updater_spark.operators.dedup import lsh_verified_pairs

    spark = get_spark("bench_scale_dedup")
    spark.sparkContext.setLogLevel("ERROR")

    # ~20 tokens from hash arithmetic; near-copies perturb 2 positions
    tok = lambda i: F.concat(  # noqa: E731
        F.lit("w"),
        F.pmod(F.xxhash64(F.col("doc_id"), F.lit(i)), F.lit(50_000)),
    )
    base = spark.range(0, n, numPartitions=64).withColumnRenamed(
        "id", "doc_id"
    )
    near = F.col("doc_id") % 100 == 99  # copies of doc_id-1
    src = F.when(near, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    toks = [
        F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(src, F.lit(i)), F.lit(50_000)),
        )
        if i >= 2
        else tok(i)  # first two tokens stay the doc's own → J = 18/22
        for i in range(20)
    ]
    docs = base.select("doc_id", F.concat_ws(" ", *toks).alias("text"))

    pairs = lsh_verified_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    agg = pairs.groupBy().agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("jaccard").alias("min_j"),
    )
    # JIT/codegen warm-up on a 1% slice — a full-size warm run would
    # double the probe's wall clock at 10M docs for no extra signal
    warm = lsh_verified_pairs(
        docs.filter(F.col("doc_id") < max(n // 100, 1000)),
        "doc_id", "text", n=3, threshold=0.5,
    )
    warm.groupBy().count().write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    row = agg.first()  # one evaluation, timed
    wall = time.perf_counter() - t0

    # LSH bucket-size distribution: the evidence that max_bucket keeps
    # the pair expansion bounded — P99/max must stay flat as n grows
    # (a quadratic hot bucket would show up here long before it OOMs)
    from updater_spark.operators.dedup import band_hashes, minhash_signatures

    sizes = (
        band_hashes(minhash_signatures(docs, "doc_id", "text"), 16)
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.max("sz").alias("max"),
            F.expr("percentile_approx(sz, 0.99)").alias("p99"),
            F.expr("percentile_approx(sz, 0.5)").alias("p50"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .first()
    )
    bucket_stats = {
        "max": int(sizes["max"]),
        "p99": int(sizes["p99"]),
        "p50": int(sizes["p50"]),
        "n_buckets": int(sizes["n_buckets"]),
    }
    print(
        json.dumps(
            {
                "n_docs": n,
                "dedup_probe": {
                    "wall_sec": round(wall, 3),
                    "docs_per_sec": round(n / wall),
                    "pairs_found": row["n_pairs"],
                    "pairs_expected": n // 100,
                    # min() over zero verified pairs is NULL — emit
                    # null instead of crashing round(None)
                    "min_jaccard": (
                        round(row["min_j"], 4)
                        if row["min_j"] is not None
                        else None
                    ),
                    "bucket_sizes": bucket_stats,
                },
            }
        )
    )


def cdc_probe(n: int) -> None:
    """Full CdcEngine cycle at synthetic scale: bootstrap n rows, then
    an incremental update mutating 1% / deleting ~0.5% — the
    reference's headline workload (BASELINE.md: bootstrap 5-6h,
    incremental ~1h at 100M rows on one core).

    Usage: ``python bench_scale.py [n_rows] cdc``.
    """
    import shutil
    import tempfile

    from updater_spark.plans.cdc import CdcEngine
    from updater_spark.schema import TableSpec
    from updater_spark.sources.store import TableStore

    spark = get_spark("bench_scale_cdc")
    spark.sparkContext.setLogLevel("ERROR")

    base = (
        spark.range(1, n + 1, numPartitions=64)
        .withColumnRenamed("id", "pk")
        .withColumn("name", F.concat(F.lit("player"), F.col("pk")))
        .withColumn("cheese", F.pmod(F.xxhash64("pk"), F.lit(100000)))
        .withColumn("rounds", F.pmod(F.xxhash64("name"), F.lit(5000)))
    )
    mutated = base.withColumn(
        "cheese",
        F.when(F.col("pk") % 100 == 0, F.col("cheese") + 1).otherwise(
            F.col("cheese")
        ),
    ).filter(F.col("pk") % 200 != 0)

    root = tempfile.mkdtemp(prefix="cdc_probe_")
    try:
        # guard sized to the workload: ~0.5% deletes exceeds the
        # production default (100k) past 20M rows, and a probe that
        # silently skips its deletes measures the wrong cycle
        engine = CdcEngine(TableStore(spark, root), delete_guard=n)
        spec = TableSpec("player", "pk", has_scores=False)
        t0 = time.perf_counter()
        engine.update(spec, base)
        t_boot = time.perf_counter() - t0
        t0 = time.perf_counter()
        stats = engine.update(spec, mutated)
        t_incr = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "n_rows": n,
                    "cdc_probe": {
                        "bootstrap_sec": round(t_boot, 3),
                        "incremental_sec": round(t_incr, 3),
                        "bootstrap_rows_per_sec": round(n / t_boot),
                        "incremental_rows_per_sec": round(n / t_incr),
                        "upserts": stats.upserts,
                        "deletes": stats.deletes,
                        "reference_100M_bootstrap_sec": 5.5 * 3600,
                        "reference_100M_incremental_sec": 3600,
                    },
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def ann_probe(n: int) -> None:
    """Scale probe for similarity search: exact Arrow GEMM vs
    hyperplane-LSH vs IVF over n synthetic 64-dim vectors, with
    recall@10 of each ANN variant against the exact baseline.

    Usage: ``python bench_scale.py [n_vectors] ann`` (try 1_000_000).
    """
    from updater_spark.operators.similarity import (
        cosine_topk_arrow,
        ivf_topk,
        lsh_topk,
    )

    spark = get_spark("bench_scale_ann")
    spark.sparkContext.setLogLevel("ERROR")

    dim, k, n_clusters = 64, 10, 256

    # clustered vectors (the shape real embeddings have — ANN recall on
    # UNIFORM noise is meaningless since top-k of noise is itself noise):
    # v = 0.8·center(id % 256) + 0.2·noise(id), both hash-derived
    def comp(i: int):
        cl = F.col("vec_id") % n_clusters
        center = (
            F.pmod(F.xxhash64(cl, F.lit(i)), F.lit(2_000_001)) / 1_000_000.0
            - 1.0
        )
        noise = (
            F.pmod(F.xxhash64("vec_id", F.lit(i + 777)), F.lit(2_000_001))
            / 1_000_000.0
            - 1.0
        )
        return (center * 0.8 + noise * 0.2).cast("double")

    emb = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "vec_id")
        .select(
            "vec_id",
            F.array(*[comp(i) for i in range(dim)]).alias("embedding"),
        )
        .persist()
    )
    emb.count()  # materialize once so probes time search, not generation
    # 1% of the corpus as queries: the bucketed-ANN win is query-count
    # proportional (exact scans corpus × queries; ANN scans only each
    # bucket's probers) — a handful of queries can't show it
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    # max(..., 1) keeps the sampling stride positive for n < 64 (tiny
    # smoke runs would otherwise divide by zero); limit(64) caps the
    # codebook regardless of corpus size
    cent_rows = emb.filter(F.col("vec_id") % max(n // 64, 1) == 1).orderBy(
        "vec_id"
    ).limit(64).collect()
    centroids = [list(r["embedding"]) for r in cent_rows]

    def timed(build):
        # fresh plan each save: persist() would turn the second save
        # into a cache scan and time nothing
        build().write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    results = {
        "exact_arrow_sec": timed(lambda: cosine_topk_arrow(emb, queries, k=k))
    }
    exact = cosine_topk_arrow(emb, queries, k=k).persist()
    n_exact = exact.count()
    for name, build in (
        ("lsh", lambda: lsh_topk(emb, queries, k=k, bits=8, dim=dim)),
        (
            "lsh_multiprobe1",
            lambda: lsh_topk(
                emb, queries, k=k, bits=8, dim=dim, multiprobe=1
            ),
        ),
        ("ivf", lambda: ivf_topk(emb, queries, centroids, k=k, nprobe=8)),
    ):
        results[f"{name}_sec"] = timed(build)
        hits = build().join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        ).count()
        results[f"{name}_recall_at_{k}"] = round(hits / n_exact, 4)

    # --- product quantization: compress then ADC-search the codes ---
    # Unit-normalize first so ADC's L2 ranking is cosine's ranking
    # (L2^2 = 2 - 2cos on unit vectors) — recall then measures only
    # quantization loss, not a metric mismatch.
    from updater_spark.operators.similarity import (
        as_double,
        pq_assign_arrow,
        pq_topk_arrow,
        unit,
    )

    m_sub, n_cw, sub = 4, 64, dim // 4
    norm = emb.select(
        "vec_id", unit(as_double(F.col("embedding"))).alias("embedding")
    ).persist()
    norm.count()
    cb_rows = (
        norm.filter(F.col("vec_id") % max(n // n_cw, 1) == 3)
        .orderBy("vec_id")
        .limit(n_cw)
        .collect()
    )
    codebooks = [
        [
            [float(x) for x in r["embedding"]][m * sub : (m + 1) * sub]
            for r in cb_rows
        ]
        for m in range(m_sub)
    ]
    t0 = time.perf_counter()
    codes = (
        pq_assign_arrow(norm, codebooks).select("vec_id", "codes").persist()
    )
    codes.count()
    results["pq_assign_sec"] = round(time.perf_counter() - t0, 3)
    results["pq_bytes_per_vec"] = m_sub  # vs dim * 4 raw fp32
    qnorm = norm.filter(F.col("vec_id") % 100 == 0)
    results["pq_adc_sec"] = timed(
        lambda: pq_topk_arrow(codes, codebooks, qnorm, k=k)
    )
    hits = (
        pq_topk_arrow(codes, codebooks, qnorm, k=k)
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .count()
    )
    results[f"pq_adc_recall_at_{k}"] = round(hits / n_exact, 4)
    codes.unpersist()

    # --- IVF-PQ: residual quantization, the form that actually holds
    # recall on clustered data (raw-vector PQ above collapses every
    # cluster member onto the same codes — its recall number stays in
    # the output as the measured cautionary tale) ---
    import numpy as np

    from updater_spark.operators.similarity import ivfpq_assign, ivfpq_topk

    # config matched to the data's structure: 256 coarse cells (the
    # generator's natural cluster count, so residuals are pure
    # within-cluster signal) and 16 subspaces x 256 codewords (128
    # bits/vector — 16x smaller than raw fp32, fine enough to rank
    # iid-noise residuals)
    pq_cells, pq_m, pq_k = min(1024, max(n // 64, 1)), 32, 256
    pq_sub = dim // pq_m
    cellrows = (
        norm.filter(F.col("vec_id") % max(n // pq_cells, 1) == 5)
        .orderBy("vec_id")
        .limit(pq_cells)
        .collect()
    )
    cmat = np.array([list(r["embedding"]) for r in cellrows])
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    cents_n = [list(row) for row in cmat]
    cwrows = (
        norm.filter(F.col("vec_id") % max(n // pq_k, 1) == 7)
        .orderBy("vec_id")
        .limit(pq_k)
        .collect()
    )
    res_cw = []
    for r in cwrows:
        vv = np.array(list(r["embedding"]))
        res_cw.append(vv - cmat[int((vv @ cmat.T).argmax())])
    res_books = [
        [list(rv[m * pq_sub : (m + 1) * pq_sub]) for rv in res_cw]
        for m in range(pq_m)
    ]
    t0 = time.perf_counter()
    ivfpq_index = (
        ivfpq_assign(norm, cents_n, res_books)
        .persist()
    )
    ivfpq_index.count()
    results["ivfpq_assign_sec"] = round(time.perf_counter() - t0, 3)
    results["ivfpq_sec"] = timed(
        lambda: ivfpq_topk(
            ivfpq_index, cents_n, res_books, qnorm, k=k, nprobe=8
        )
    )
    hits = (
        ivfpq_topk(ivfpq_index, cents_n, res_books, qnorm, k=k, nprobe=8)
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .count()
    )
    results[f"ivfpq_recall_at_{k}"] = round(hits / n_exact, 4)

    # --- IVF-PQ + exact refine: a 1000-deep ADC shortlist (~3% of
    # the probed candidates at 1M) re-scored exactly (the FAISS
    # refine pattern — final recall == shortlist CAPTURE, cost ==
    # Q*1000 rows, still ~30x less vector math than the exact scan)
    from updater_spark.operators.similarity import refine_topk

    def refined():
        short = ivfpq_topk(
            ivfpq_index, cents_n, res_books, qnorm, k=1000, nprobe=8
        )
        return refine_topk(short, norm, qnorm, k=k)

    results["ivfpq_refine_sec"] = timed(refined)
    hits = refined().join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).count()
    results[f"ivfpq_refine_recall_at_{k}"] = round(hits / n_exact, 4)
    ivfpq_index.unpersist()
    norm.unpersist()

    exact.unpersist()
    emb.unpersist()
    print(json.dumps({"n_vectors": n, "ann_probe": results}))


def spans_probe(n: int) -> None:
    """Scale probe for substring-level dedup: dup_span_stats over n
    synthetic ~40-token docs where every 5th doc carries a shared
    10-token boilerplate block (the "pasted footer" shape
    document-level dedup misses). Checks that all planted blocks are
    found (each covered doc reports >= 10 dup tokens) and that the
    window explode -> df-count -> island merge chain holds wall-time
    at corpus-token scale (~n * 40 window rows).

    Usage: ``python bench_scale.py [n_docs] spans``.
    """
    from updater_spark.operators.dedup import dup_span_stats

    spark = get_spark("bench_scale_spans")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.range(0, n, numPartitions=64).withColumnRenamed(
        "id", "doc_id"
    )
    plant = F.col("doc_id") % 5 == 0
    toks = []
    for i in range(40):
        own = F.concat(
            F.lit("w"),
            F.pmod(F.xxhash64(F.col("doc_id"), F.lit(i)), F.lit(200_000)),
        )
        if 15 <= i < 25:
            # positions 15..24: the shared boilerplate block on every
            # 5th doc, unique-ish tokens elsewhere
            toks.append(F.when(plant, F.lit(f"boiler{i}")).otherwise(own))
        else:
            toks.append(own)
    docs = base.select("doc_id", F.concat_ws(" ", *toks).alias("text"))

    # warm-up on a 1% slice (JIT/codegen), then one timed full pass
    dup_span_stats(
        docs.filter(F.col("doc_id") < max(n // 100, 1000)), n=8, min_df=2
    ).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    out = dup_span_stats(docs, n=8, min_df=2).persist()
    agg = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("dup_tokens") >= 10, 1).otherwise(0)).alias(
            "docs_with_block"
        ),
        F.max("dup_tokens").alias("max_dup"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 3)
    planted = (n + 4) // 5
    out.unpersist()
    print(
        json.dumps(
            {
                "n_docs": n,
                "spans_probe": {
                    "wall_sec": wall,
                    "rows": agg["rows"],
                    "planted_docs": planted,
                    "docs_with_block_found": agg["docs_with_block"],
                    "block_recall": round(
                        agg["docs_with_block"] / planted, 4
                    ),
                    "max_dup_tokens": agg["max_dup"],
                },
            }
        )
    )


def semantic_probe(n: int) -> None:
    """The anti-O(n^2) proof for SemDeDup (cited by clusters.py and
    similarity.py): n clustered embeddings, a codebook sized so cells
    stay ~1000 deep, planted near-dup twins on every 20th vector.
    Reports the ``stats_out`` telemetry — cells, max/p99 cell size,
    pair_candidates (the GEMM work the cell partition leaves), pairs
    above threshold, CC convergence — plus wall time for the
    ``arrow=True`` deploy path at full n, and an arrow-vs-Catalyst
    equality + timing comparison at a small-k subsample (the Catalyst
    path's k dot-aggregate expressions cap its usable codebook size;
    that asymmetry is exactly why the arrow path exists).

    Usage: ``python bench_scale.py [n_vectors] semantic`` (try
    1_000_000).
    """
    from updater_spark.operators.similarity import semantic_dedup

    spark = get_spark("bench_scale_semantic")
    spark.sparkContext.setLogLevel("ERROR")

    dim = 32
    k_cells = max(min(n // 1000, 4096), 64)

    # clustered vectors, hash-derived (ann_probe's generator shape):
    # v = 0.6*center(id % k_cells) + 0.4*noise(id) -> within-cluster
    # cosine ~0.7, far below threshold; planted twins (scale 1.001)
    # sit at ~1.0
    def comp(i: int):
        cl = F.col("vec_id") % k_cells
        center = (
            F.pmod(F.xxhash64(cl, F.lit(i)), F.lit(2_000_001)) / 1_000_000.0
            - 1.0
        )
        noise = (
            F.pmod(F.xxhash64("vec_id", F.lit(i + 555)), F.lit(2_000_001))
            / 1_000_000.0
            - 1.0
        )
        return (center * 0.6 + noise * 0.4).cast("double")

    base = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "vec_id")
        .select(
            "vec_id",
            F.array(*[comp(i) for i in range(dim)]).alias("embedding"),
        )
    )
    twins = base.filter(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + n).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.001).alias("embedding"),
    )
    corpus = base.unionByName(twins).persist()
    corpus.count()  # materialize: time dedup, not generation
    planted = (n + 19) // 20

    # codebook: one representative per cluster (vec_id 0..k-1 covers
    # each id%k class once) — k x dim x 8B driver-side, ~1 MB at 4096
    cents = [
        list(r["embedding"])
        for r in corpus.filter(F.col("vec_id") < k_cells)
        .orderBy("vec_id")
        .collect()
    ]

    stats: dict = {}
    t0 = time.perf_counter()
    out = semantic_dedup(
        corpus,
        cents,
        threshold=0.98,
        id_col="vec_id",
        vec_col="embedding",
        stats_out=stats,
        arrow=True,
    ).persist()
    agg = out.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("dropped"),
    ).collect()[0]
    wall = round(time.perf_counter() - t0, 3)
    out.unpersist()

    # arrow vs Catalyst: equality and timing at a Catalyst-feasible
    # codebook (64 cells / 40k vectors — the Catalyst path builds one
    # dot-aggregate expression PER centroid, so its plan construction
    # alone is minutes past ~1k cells; measured here, not asserted)
    n_small = min(n, 40_000)
    small = corpus.filter(
        (F.col("vec_id") % k_cells < 64)
        & (
            (F.col("vec_id") < n_small)
            | ((F.col("vec_id") >= n) & (F.col("vec_id") < n + n_small))
        )
    ).persist()
    small.count()
    cmp_res = {"n_small": small.count()}
    for label, kw in (("catalyst", {}), ("arrow", {"arrow": True})):
        t0 = time.perf_counter()
        r = semantic_dedup(
            small, cents[:64], threshold=0.98,
            id_col="vec_id", vec_col="embedding", **kw,
        ).persist()
        r.count()
        cmp_res[f"{label}_sec"] = round(time.perf_counter() - t0, 3)
        cmp_res[f"{label}_rows"] = r.count()
        cmp_res[label] = r
    mismatch = (
        cmp_res.pop("catalyst").exceptAll(cmp_res.pop("arrow")).count()
    )
    cmp_res["rows_only_in_catalyst"] = mismatch
    small.unpersist()
    corpus.unpersist()

    print(
        json.dumps(
            {
                "n_vectors": n,
                "semantic_probe": {
                    "wall_sec_arrow": wall,
                    "rows": agg["rows"],
                    "planted_twins": planted,
                    "near_dups_dropped": agg["dropped"],
                    "twin_recall": round(agg["dropped"] / planted, 4),
                    "k_cells": k_cells,
                    "cells": stats.get("cells"),
                    "max_cell_size": stats.get("max_cell_size"),
                    "p99_cell_size": float(stats.get("p99_cell_size", 0)),
                    "pair_candidates": int(stats.get("pair_candidates", 0)),
                    "allpairs_candidates": agg["rows"] * (agg["rows"] - 1) // 2,
                    "pairs_above_threshold": stats.get(
                        "pairs_above_threshold"
                    ),
                    "cc_rounds": stats.get("rounds"),
                    "cc_edges": stats.get("edges"),
                    "small_compare": cmp_res,
                },
            }
        )
    )


def cdcindex_probe(n: int) -> None:
    """Steady-state maintenance cost — the 100 TB question the
    incremental indexes exist to answer (VERDICT r3 ask #5 / r4 ask
    #3): drive three full CDC epochs (1% updates, ~0.3% deletes,
    ~0.5% inserts per epoch) and maintain all THREE downstream
    indexes incrementally each epoch — the MinHash dedup index, the
    IVF ANN index, and (r5 ask #4) the SemanticIndex in arrow mode
    with a WIDE codebook: incremental pair cost is |delta| x |cell|,
    so SemDeDup at scale wants many small cells (the paper's
    50k-cell shape); n//2500 cells keeps ~2.5k members/cell here.
    After the epochs, time the full-rebuild alternative for each
    index on the final state. ``crossover_epochs`` = rebuild
    seconds / mean epoch seconds: how many epochs an incremental
    index must survive before it has beaten rebuild-every-epoch
    (values > 1 mean incremental wins every single epoch).

    Usage: ``python bench_scale.py [n_rows] cdcindex`` (try
    10_000_000; the dedup track signs text, the ANN track assigns
    32-dim vectors).
    """
    import shutil
    import tempfile

    from updater_spark.operators.ann_index import IvfIndex
    from updater_spark.operators.dedup_index import (
        DedupIndex,
        apply_cdc_epoch,
    )
    from updater_spark.operators.semantic_index import SemanticIndex
    from updater_spark.operators.semantic_index import (
        apply_cdc_epoch as sem_apply_cdc_epoch,
    )
    from updater_spark.plans.cdc import CdcEngine
    from updater_spark.schema import TableSpec
    from updater_spark.sources.store import TableStore

    spark = get_spark("bench_scale_cdcindex")
    spark.sparkContext.setLogLevel("ERROR")

    dim, n_cells = 32, 256

    def text_cols(ver):
        # ~24 hash-derived tokens; ver shifts the mutated docs' text
        toks = [
            F.concat(
                F.lit("w"),
                F.pmod(
                    F.xxhash64(F.col("pk"), F.lit(i), ver), F.lit(50_000)
                ),
            )
            for i in range(24)
        ]
        return F.concat_ws(" ", *toks)

    def vec(ver):
        return F.array(
            *[
                (
                    (
                        F.pmod(
                            F.xxhash64(F.col("pk") % n_cells, F.lit(i)),
                            F.lit(2_000_001),
                        )
                        / 1_000_000.0
                        - 1.0
                    )
                    * 0.7
                    + (
                        F.pmod(
                            F.xxhash64("pk", F.lit(i + 99), ver),
                            F.lit(2_000_001),
                        )
                        / 1_000_000.0
                        - 1.0
                    )
                    * 0.3
                ).cast("double")
                for i in range(dim)
            ]
        )

    def snapshot(epoch: int):
        """Full source snapshot at a given epoch: updates are pk%100
        in 1..epoch (each re-mutated at its epoch), deletes pk%331 in
        1..epoch, inserts appear at n + e*n//200."""
        ids = spark.range(1, n + 1, numPartitions=64).withColumnRenamed(
            "id", "pk"
        )
        for e in range(1, epoch + 1):
            ids = ids.filter(F.col("pk") % 331 != e)
            ins = spark.range(
                n + e * (n // 200), n + e * (n // 200) + n // 200
            ).withColumnRenamed("id", "pk")
            ids = ids.unionByName(ins)
        ver = F.lit(0)
        for e in range(1, epoch + 1):
            ver = F.when(F.col("pk") % 100 == e, F.lit(e)).otherwise(ver)
        return ids.select(
            "pk", text_cols(ver).alias("text"), vec(ver).alias("embedding")
        )

    root = tempfile.mkdtemp(prefix="cdcindex_probe_")
    res: dict = {"epochs": []}
    try:
        store = TableStore(spark, root)
        engine = CdcEngine(store, delete_guard=n)
        spec = TableSpec("docs", "pk", has_scores=False)

        t0 = time.perf_counter()
        engine.update(spec, snapshot(0))
        res["cdc_bootstrap_sec"] = round(time.perf_counter() - t0, 3)

        dedup = DedupIndex(store, "ddx")
        t0 = time.perf_counter()
        dedup.bootstrap(
            store.read("docs").select("pk", "text"), "pk", "text"
        ).count()
        res["dedup_bootstrap_sec"] = round(time.perf_counter() - t0, 3)

        cents = [
            list(r["embedding"])
            for r in snapshot(0)
            .filter(F.col("pk") <= n_cells)
            .orderBy("pk")
            .collect()
        ]
        ann = IvfIndex(store, "annx", id_col="pk", vec_col="embedding")
        t0 = time.perf_counter()
        ann.bootstrap(snapshot(0).select("pk", "embedding"), cents)
        res["ann_bootstrap_sec"] = round(time.perf_counter() - t0, 3)

        # semantic track: wide codebook (many small cells — the
        # incremental pair join is |delta| x |cell|), arrow mode (the
        # deploy path; the Catalyst literal codebook caps at ~1k)
        sem_k = max(64, min(n // 2500, 8000))
        sem_cents = [
            list(r["embedding"])
            for r in snapshot(0)
            .filter(F.col("pk") <= sem_k)
            .orderBy("pk")
            .collect()
        ]
        sem = SemanticIndex(
            store,
            "semx",
            threshold=0.95,
            arrow=True,
            id_col="pk",
            vec_col="embedding",
        )
        t0 = time.perf_counter()
        res["sem_bootstrap_pairs"] = sem.bootstrap(
            snapshot(0).select("pk", "embedding"), sem_cents
        ).count()
        res["sem_bootstrap_sec"] = round(time.perf_counter() - t0, 3)
        res["sem_cells"] = sem_k

        for e in (1, 2, 3):
            snap = snapshot(e)
            row: dict = {"epoch": e}
            t0 = time.perf_counter()
            stats = engine.update(spec, snap)
            row["cdc_sec"] = round(time.perf_counter() - t0, 3)
            row["upserts"] = stats.upserts
            row["deletes"] = stats.deletes

            # dedup index: consume the epoch change feed written by
            # the engine (__delta / __deleted)
            t0 = time.perf_counter()
            pairs = apply_cdc_epoch(dedup, store, "docs", "pk", "text")
            row["dedup_pairs"] = pairs.count()
            row["dedup_index_sec"] = round(time.perf_counter() - t0, 3)

            # ANN index: same delta, re-encode only the delta
            delta_vec = snap.join(
                store.read("docs__delta").select("pk"), "pk", "semi"
            ).select("pk", "embedding")
            deleted = store.read("docs__deleted").select("pk")
            t0 = time.perf_counter()
            ann.upsert(delta_vec)
            ann.remove(deleted)
            row["ann_index_sec"] = round(time.perf_counter() - t0, 3)

            # semantic index: same change feed, delta-only re-assign
            # + own-cell pairing (remove first, then update)
            t0 = time.perf_counter()
            sem_pairs = sem_apply_cdc_epoch(
                sem, store, "docs", "pk", "embedding"
            )
            row["sem_pairs"] = sem_pairs.count()
            row["sem_index_sec"] = round(time.perf_counter() - t0, 3)
            res["epochs"].append(row)

        # full-rebuild baselines over the FINAL corpus state
        final_docs = store.read("docs").select("pk", "text")
        store2 = TableStore(spark, tempfile.mkdtemp(prefix="cdcidx_rb_"))
        t0 = time.perf_counter()
        DedupIndex(store2, "ddx_rb").bootstrap(
            final_docs, "pk", "text"
        ).count()
        res["dedup_rebuild_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        IvfIndex(store2, "annx_rb", id_col="pk", vec_col="embedding").bootstrap(
            snapshot(3).select("pk", "embedding"), cents
        )
        res["ann_rebuild_sec"] = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        SemanticIndex(
            store2,
            "semx_rb",
            threshold=0.95,
            arrow=True,
            id_col="pk",
            vec_col="embedding",
        ).bootstrap(snapshot(3).select("pk", "embedding"), sem_cents).count()
        res["sem_rebuild_sec"] = round(time.perf_counter() - t0, 3)
        shutil.rmtree(store2.root, ignore_errors=True)

        mean_dedup = sum(r["dedup_index_sec"] for r in res["epochs"]) / 3
        mean_ann = sum(r["ann_index_sec"] for r in res["epochs"]) / 3
        mean_sem = sum(r["sem_index_sec"] for r in res["epochs"]) / 3
        res["dedup_crossover_epochs"] = round(
            res["dedup_rebuild_sec"] / mean_dedup, 2
        )
        res["ann_crossover_epochs"] = round(
            res["ann_rebuild_sec"] / mean_ann, 2
        )
        res["sem_crossover_epochs"] = round(
            res["sem_rebuild_sec"] / mean_sem, 2
        )
        # skew telemetry on the maintained semantic index (r5 ask #7)
        res["sem_occupancy"] = sem.occupancy()
        print(json.dumps({"n_rows": n, "cdcindex_probe": res}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


def annrss_probe(n: int) -> None:
    """r4 ask #4: the ANN query side is driver-collected by design
    (the broadcast-join assumption); the r4 work chunked every
    per-query driver allocation and documented an O(block x cells)
    memory model — this probe MEASURES it: 200k queries x n vectors
    through ivfpq_topk (coarse probe-assign GEMM in 8192-query
    blocks) and pq_topk_arrow, with the Python driver's peak RSS
    (VmHWM) logged at each phase. Expected: the ~100 MB query matrix
    (200k x 64 dims float64) is the only per-Q allocation; an
    unchunked probe-assign would instead materialize Q x C score
    matrices (200k x 1024 x 8B = 1.6 GB per codebook pass) and show
    up here.

    Usage: ``python bench_scale.py [n_vectors] annrss`` (try
    1_000_000; query count is fixed at n/5 capped to 200k).
    """
    import numpy as np

    def vm_hwm_mb() -> float:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM"):
                    return round(int(line.split()[1]) / 1024, 1)
        return -1.0

    from updater_spark.operators.similarity import (
        as_double,
        ivfpq_assign,
        ivfpq_topk,
        pq_assign_arrow,
        pq_topk_arrow,
        unit,
    )

    spark = get_spark("bench_scale_annrss")
    spark.sparkContext.setLogLevel("ERROR")

    dim, n_clusters = 64, 256

    def comp(i: int):
        cl = F.col("vec_id") % n_clusters
        center = (
            F.pmod(F.xxhash64(cl, F.lit(i)), F.lit(2_000_001)) / 1_000_000.0
            - 1.0
        )
        noise = (
            F.pmod(F.xxhash64("vec_id", F.lit(i + 777)), F.lit(2_000_001))
            / 1_000_000.0
            - 1.0
        )
        return (center * 0.8 + noise * 0.2).cast("double")

    emb = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "vec_id")
        .select(
            "vec_id",
            F.array(*[comp(i) for i in range(dim)]).alias("embedding"),
        )
    )
    norm = emb.select(
        "vec_id", unit(as_double(F.col("embedding"))).alias("embedding")
    ).persist()
    norm.count()
    stride = max(n // 200_000, 1)
    queries = norm.filter(F.col("vec_id") % stride == 0).limit(200_000)
    n_queries = queries.count()

    # quantizer: 256 coarse cells (one representative per generator
    # cluster), 32 subspaces x 256 residual codewords — ann_probe's
    # recall-validated construction
    cellrows = (
        norm.filter(F.col("vec_id") < n_clusters).orderBy("vec_id").collect()
    )
    cmat = np.array([list(r["embedding"]) for r in cellrows])
    cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)
    cents = [list(row) for row in cmat]
    pq_m, pq_k = 32, 256
    pq_sub = dim // pq_m
    cwrows = (
        norm.filter(F.col("vec_id") % max(n // pq_k, 1) == 7)
        .orderBy("vec_id")
        .limit(pq_k)
        .collect()
    )
    res_cw = []
    for r in cwrows:
        vv = np.array(list(r["embedding"]))
        res_cw.append(vv - cmat[int((vv @ cmat.T).argmax())])
    books = [
        [list(rv[m * pq_sub : (m + 1) * pq_sub]) for rv in res_cw]
        for m in range(pq_m)
    ]

    res = {"n_queries": n_queries, "rss_baseline_mb": vm_hwm_mb()}
    codes = ivfpq_assign(norm, cents, books).persist()
    codes.count()
    res["rss_after_assign_mb"] = vm_hwm_mb()

    t0 = time.perf_counter()
    ivfpq_topk(
        codes, cents, books, queries, k=10, nprobe=4
    ).write.format("noop").mode("overwrite").save()
    res["ivfpq_topk_sec"] = round(time.perf_counter() - t0, 3)
    res["rss_after_ivfpq_mb"] = vm_hwm_mb()

    # pq_topk_arrow is the FULL-SCAN ADC (every query scores every
    # vector): at 200k x 1M that is 6.4T code gathers — not a deploy
    # shape (the IVF-PQ path above is the large-Q path; full-scan ADC
    # is for moderate query counts). Probe it at a 20k-query slice:
    # enough to exercise the per-block table build + gather pipeline
    # and the driver memory model, without benchmarking a shape the
    # API exists to avoid.
    pq_q = queries.limit(20_000)
    n_pq_q = pq_q.count()
    flat_codes = codes.select("vec_id", "codes")
    t0 = time.perf_counter()
    pq_topk_arrow(flat_codes, books, pq_q, k=10).write.format(
        "noop"
    ).mode("overwrite").save()
    res["pq_arrow_sec"] = round(time.perf_counter() - t0, 3)
    res["pq_arrow_n_queries"] = n_pq_q
    res["rss_after_pq_arrow_mb"] = vm_hwm_mb()

    res["query_matrix_mb"] = round(n_queries * dim * 8 / 2**20, 1)
    res["unchunked_qxc_matrix_mb"] = round(
        n_queries * len(cents) * 8 / 2**20, 1
    )
    res["driver_growth_mb"] = round(
        res["rss_after_pq_arrow_mb"] - res["rss_baseline_mb"], 1
    )
    codes.unpersist()
    norm.unpersist()
    print(json.dumps({"n_vectors": n, "annrss_probe": res}))


def retrain_probe(n: int) -> None:
    """The drift→advise→retrain loop (IvfIndex.maybe_retrain)
    measured at scale: bootstrap on an OLD distribution (clusters
    0..127, codebook ivf_train'd on it), then upsert n/2 vectors
    from a NEW distribution (clusters 128..255) — the new mass crams
    into ill-fitting cells, occupancy skews, probe cost balloons —
    and retrain. Reported: trainer wall (ivf_train at n, pq_train at
    1.5n — the distributed-trainer throughput numbers), search wall
    + recall@10 vs exact before drift / after drift / after retrain,
    occupancy imbalance at each step, retrain wall (self-read +
    train + rebuild). Usage: ``python bench_scale.py 1000000
    retrain``."""
    import shutil
    import tempfile

    from updater_spark.operators.ann_index import IvfIndex, needs_retrain
    from updater_spark.operators.similarity import (
        cosine_topk_arrow,
        ivf_train,
        pq_train,
    )
    from updater_spark.sources.store import TableStore

    spark = get_spark("bench_scale_retrain")
    spark.sparkContext.setLogLevel("ERROR")
    dim, k, nprobe, cells = 64, 10, 8, 64

    def vec(cluster):
        def comp(i):
            center = (
                F.pmod(F.xxhash64(cluster, F.lit(i)), F.lit(2_000_001))
                / 1_000_000.0
                - 1.0
            )
            noise = (
                F.pmod(F.xxhash64("vec_id", F.lit(i + 777)), F.lit(2_000_001))
                / 1_000_000.0
                - 1.0
            )
            return (center * 0.8 + noise * 0.2).cast("double")

        return F.array(*[comp(i) for i in range(dim)])

    old = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "vec_id")
        .select("vec_id", vec(F.col("vec_id") % 128).alias("embedding"))
        .persist()
    )
    old.count()
    drift = (
        spark.range(n, n + n // 2, numPartitions=32)
        .withColumnRenamed("id", "vec_id")
        .select(
            # concentrated drift: n/2 new rows in only EIGHT new
            # clusters — the hot-ingest shape (a few new topics
            # dominating the feed) that actually skews a fixed
            # codebook; 128 spread-out clusters would land roughly
            # uniformly over the old cells and never trip
            "vec_id", vec(128 + F.col("vec_id") % 8).alias("embedding")
        )
        .persist()
    )
    drift.count()
    res: dict = {}

    t0 = time.perf_counter()
    cents = ivf_train(old, k=cells, iterations=2)
    res["ivf_train_sec"] = round(time.perf_counter() - t0, 3)

    root = tempfile.mkdtemp(prefix="retrain_probe_")
    try:
        idx = IvfIndex(TableStore(spark, root), "emb")
        idx.bootstrap(old, cents)

        def measure(queries, corpus, label):
            exact = cosine_topk_arrow(corpus, queries, k=k).persist()
            n_exact = exact.count()
            t0 = time.perf_counter()
            got = idx.search(queries, k=k, nprobe=nprobe)
            got.write.format("noop").mode("overwrite").save()
            sec = round(time.perf_counter() - t0, 3)
            hits = (
                idx.search(queries, k=k, nprobe=nprobe)
                .join(
                    exact.select("query_id", "neighbor_id"),
                    ["query_id", "neighbor_id"],
                )
                .count()
            )
            exact.unpersist()
            occ = idx.occupancy()
            res[label] = {
                "search_sec": sec,
                "recall": round(hits / n_exact, 4),
                "imbalance": occ["imbalance"],
                "max_cell": occ["max"],
            }

        q_old = old.filter(F.col("vec_id") % 1000 == 0)
        measure(q_old, old, "before_drift")

        idx.upsert(drift)
        full = old.unionByName(drift)
        q_all = full.filter(F.col("vec_id") % 1000 == 0)
        measure(q_all, full, "after_drift")
        # alert threshold RELATIVE to the post-bootstrap baseline
        # (clustered data has irreducible imbalance even with a fresh
        # codebook): trip at 1.3x the trained-state skew
        thr = res["before_drift"]["imbalance"] * 1.3
        res["trip_threshold"] = round(thr, 3)
        assert needs_retrain(idx.occupancy(), thr)

        t0 = time.perf_counter()
        out = idx.maybe_retrain(max_imbalance=thr, k=cells, iterations=2)
        res["retrain_sec"] = round(time.perf_counter() - t0, 3)
        res["retrained"] = out["retrained"]
        measure(q_all, full, "after_retrain")

        t0 = time.perf_counter()
        pq_train(full, idx.centroids(), m_sub=8, k_codewords=16, iterations=2)
        res["pq_train_sec"] = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"n_rows": n, "retrain_probe": res}))


def semlsm_probe(n: int) -> None:
    """Overwrite vs append-log SemanticIndex maintenance head-to-head
    (the r6 finding: at 10M rows × 4000 cells × 1.5% churn, EVERY
    cell partition holds a delta row, so overwrite-mode epochs
    rewrite the whole table and lose to a rebuild — sem_crossover
    0.28 in the first PROBES_r6 cdcindex run). Same data generators
    as the cdcindex probe's semantic track, semantic-only so the
    comparison fits one focused run:

    - ``overwrite``: dynamic partition overwrite per epoch (the
      original maintenance), with the broadcast-GEMM pair scan;
    - ``append``: ``append_log=True`` — O(|delta|) appended bytes +
      tombstones per epoch, ``maybe_compact(0.3)`` after each epoch
      (timed separately — it is the amortized rewrite).

    Reported per mode: bootstrap, per-epoch remove+update+pairs
    wall, compact wall (append), rebuild baseline, crossover.
    Usage: ``python bench_scale.py 10000000 semlsm``."""
    import shutil
    import tempfile

    from updater_spark.operators.semantic_index import SemanticIndex
    from updater_spark.sources.store import TableStore

    spark = get_spark("bench_scale_semlsm")
    spark.sparkContext.setLogLevel("ERROR")
    dim, n_cells = 32, 256

    def vec(ver):
        return F.array(
            *[
                (
                    (
                        F.pmod(
                            F.xxhash64(F.col("pk") % n_cells, F.lit(i)),
                            F.lit(2_000_001),
                        )
                        / 1_000_000.0
                        - 1.0
                    )
                    * 0.7
                    + (
                        F.pmod(
                            F.xxhash64("pk", F.lit(i + 99), ver),
                            F.lit(2_000_001),
                        )
                        / 1_000_000.0
                        - 1.0
                    )
                    * 0.3
                ).cast("double")
                for i in range(dim)
            ]
        )

    def ver_chain(e):
        ver = F.lit(0)
        for i in range(1, e + 1):
            ver = F.when(F.col("pk") % 100 == i, F.lit(i)).otherwise(ver)
        return ver

    def live_ids(e):
        ids = spark.range(1, n + 1, numPartitions=64).withColumnRenamed(
            "id", "pk"
        )
        for i in range(1, e + 1):
            ids = ids.filter(F.col("pk") % 331 != i)
            ins = spark.range(
                n + i * (n // 200), n + i * (n // 200) + n // 200
            ).withColumnRenamed("id", "pk")
            ids = ids.unionByName(ins)
        return ids

    def snapshot(e):
        return live_ids(e).select("pk", vec(ver_chain(e)).alias("embedding"))

    sem_k = max(64, min(n // 2500, 8000))
    sem_cents = [
        list(r["embedding"])
        for r in snapshot(0)
        .filter(F.col("pk") <= sem_k)
        .orderBy("pk")
        .collect()
    ]
    res: dict = {"n_cells": sem_k}
    for mode in ("overwrite", "append"):
        root = tempfile.mkdtemp(prefix=f"semlsm_{mode}_")
        store = TableStore(spark, root)
        sem = SemanticIndex(
            store,
            f"sem_{mode}",
            threshold=0.95,
            arrow=True,
            append_log=(mode == "append"),
            id_col="pk",
            vec_col="embedding",
        )
        m: dict = {"epochs": []}
        t0 = time.perf_counter()
        m["bootstrap_pairs"] = sem.bootstrap(snapshot(0), sem_cents).count()
        m["bootstrap_sec"] = round(time.perf_counter() - t0, 3)
        for e in (1, 2, 3):
            deleted = (
                live_ids(e - 1).filter(F.col("pk") % 331 == e).select("pk")
            )
            lo = n + e * (n // 200)
            delta = (
                live_ids(e)
                .filter(
                    (F.col("pk") % 100 == e)
                    | ((F.col("pk") >= lo) & (F.col("pk") < lo + n // 200))
                )
                .select("pk", vec(ver_chain(e)).alias("embedding"))
            )
            row: dict = {"epoch": e}
            t0 = time.perf_counter()
            owed = sem.remove(deleted)
            pairs = sem.update(delta).unionByName(owed)
            row["pairs"] = pairs.count()
            row["epoch_sec"] = round(time.perf_counter() - t0, 3)
            if mode == "append":
                t0 = time.perf_counter()
                c = sem.maybe_compact(0.3)
                row["compacted"] = c["compacted"]
                row["dead_fraction"] = c["dead_fraction"]
                row["compact_sec"] = round(time.perf_counter() - t0, 3)
            m["epochs"].append(row)
        if mode == "append":
            m["log_stats"] = sem.log_stats()
        res[mode] = m
        shutil.rmtree(root, ignore_errors=True)

    root = tempfile.mkdtemp(prefix="semlsm_rb_")
    t0 = time.perf_counter()
    SemanticIndex(
        TableStore(spark, root),
        "sem_rb",
        threshold=0.95,
        arrow=True,
        id_col="pk",
        vec_col="embedding",
    ).bootstrap(snapshot(3), sem_cents).count()
    res["rebuild_sec"] = round(time.perf_counter() - t0, 3)
    shutil.rmtree(root, ignore_errors=True)
    for mode in ("overwrite", "append"):
        mean = sum(r["epoch_sec"] for r in res[mode]["epochs"]) / 3
        res[mode]["mean_epoch_sec"] = round(mean, 3)
        res[mode]["crossover_epochs"] = round(res["rebuild_sec"] / mean, 2)
    print(json.dumps({"n_rows": n, "semlsm_probe": res}))


def semstream_probe(n: int) -> None:
    """Hot-cell state growth in ``semantic_first_seen`` (VERDICT r5
    #1, measured): feed one cell ``n`` mostly-unique vectors in 10
    ordered drops and compare three state contracts —

    - unbounded (the exact-oracle default): per-batch work grows with
      state (GEMM against everything seen + the O(|state|) state
      serialize round-trip), so batch durations RISE across the run;
    - ``max_cell`` refuse-above-cap: state freezes at the cap, late
      batches flatten;
    - ``admitted_only`` on a high-dup stream (64 base directions):
      state grows with UNIQUE content only, flat from the start.

    Reported: total wall, first/last micro-batch duration (from
    StreamingQuery progress), retained-state size. Usage:
    ``python bench_scale.py 100000 semstream``."""
    import os
    import shutil
    import tempfile

    from updater_spark.streaming.semantic_stream import run_semantic_stream

    spark = get_spark("bench_scale_semstream")
    spark.sparkContext.setLogLevel("ERROR")
    dim, drops = 64, 10
    batch = n // drops

    def vecs(unique: bool):
        # hash-derived vectors biased onto centroid 0; `unique` draws
        # per-id noise (state grows), otherwise 64 base directions
        # repeat (high-dup admission-control stream)
        seed = F.col("vec_id") if unique else F.col("vec_id") % 64
        return F.array(
            *[
                (
                    F.when(F.lit(i) == 0, F.lit(4.0)).otherwise(F.lit(0.0))
                    + (
                        F.pmod(
                            F.xxhash64(seed, F.lit(i)), F.lit(2_000_001)
                        )
                        / 1_000_000.0
                        - 1.0
                    )
                ).cast("double")
                for i in range(dim)
            ]
        )

    cents = [[4.0] + [0.0] * (dim - 1), [-4.0] + [0.0] * (dim - 1)]
    res: dict = {}
    for label, unique, kw in (
        ("unbounded", True, {}),
        ("max_cell", True, {"max_cell": max(1000, n // 20)}),
        ("admitted_only", False, {"admitted_only": True}),
    ):
        root = tempfile.mkdtemp(prefix=f"semstream_{label}_")
        src = os.path.join(root, "drops")
        for d in range(drops):
            (
                spark.range(d * batch, (d + 1) * batch)
                .withColumnRenamed("id", "vec_id")
                .select("vec_id", vecs(unique).alias("embedding"))
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
        t0 = time.perf_counter()
        q = run_semantic_stream(
            spark,
            src,
            "vec_id long, embedding array<double>",
            cents,
            os.path.join(root, "out"),
            os.path.join(root, "ckpt"),
            threshold=0.9,
            **kw,
        )
        q.awaitTermination(3600)
        wall = time.perf_counter() - t0
        prog = [
            p
            for p in (q.recentProgress or [])
            if p and p.get("numInputRows", 0) > 0
        ]
        batch_ms = [p["durationMs"]["triggerExecution"] for p in prog]
        out = spark.read.parquet(os.path.join(root, "out"))
        res[label] = {
            "total_sec": round(wall, 2),
            "rows_per_sec": round(n / wall),
            "n_batches": len(batch_ms),
            "batch_ms_first": batch_ms[0] if batch_ms else None,
            "batch_ms_last": batch_ms[-1] if batch_ms else None,
            "n_out": out.count(),
            "n_retained": out.filter("retained").count(),
            **({"cap": kw["max_cell"]} if "max_cell" in kw else {}),
        }
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"n_vectors": n, "semstream_probe": res}))


def nbtrain_probe(n: int) -> None:
    """Naive Bayes classifier at scale: train + score ``n`` synthetic
    docs (~20 tokens each, 5 classes with class-shifted vocabularies)
    and compare the exact-vocab model (one groupBy + a vocab-count
    pass, min_df cut) against the hashed model (2^18 buckets, NO
    vocab pass, bounded broadcast). The question at 100 TB: does
    training stay one shuffle and does the hashed path remove the
    vocabulary-size dependence? Usage:
    ``python bench_scale.py 2000000 nbtrain``."""
    from updater_spark.operators.classifier import nb_score, nb_train

    spark = get_spark("bench_scale_nbtrain")
    spark.sparkContext.setLogLevel("ERROR")
    labels = [f"c{i}" for i in range(5)]
    # ~20 tokens/doc; token ids drawn from a 500k-window that shifts
    # 100k per class — ~900k distinct tokens, classes separable
    docs = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .withColumn("lbl", F.concat(F.lit("c"), (F.col("doc_id") % 5)))
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)),
                    lambda i: F.concat(
                        F.lit("w"),
                        F.pmod(
                            F.xxhash64(F.col("doc_id"), i), F.lit(500_000)
                        )
                        + (F.col("doc_id") % 5) * 100_000,
                    ),
                ),
                " ",
            ),
        )
    ).persist()
    docs.count()
    res: dict = {}
    for label, kw in (
        ("exact_mindf5", {"min_df": 5}),
        ("hashed_b18", {"hash_bits": 18}),
    ):
        t0 = time.time()
        model, meta = nb_train(docs, "lbl", "text", labels, **kw)
        model = model.persist()
        n_model = model.count()
        train_s = round(time.time() - t0, 3)
        t0 = time.time()
        scored = nb_score(
            docs, model, meta, "doc_id", "text", keep_cols=("lbl",)
        )
        acc = scored.agg(
            F.avg((F.col("pred") == F.col("lbl")).cast("double"))
        ).collect()[0][0]
        score_s = round(time.time() - t0, 3)
        res[label] = {
            "train_sec": train_s,
            "score_sec": score_s,
            "model_rows": n_model,
            "vocab_v": meta.vocab_size,
            "accuracy": round(acc, 4),
            "train_docs_per_sec": int(n / train_s),
            "score_docs_per_sec": int(n / score_s),
        }
        model.unpersist()
    print(json.dumps({"n_docs": n, "nbtrain_probe": res}))


def streamjoin_probe(n: int) -> None:
    """Stream-stream join state contract, measured: ``n`` requests +
    ``n`` responses over a simulated time axis drain in 10 ordered
    drops per side. With a 2-window watermark delay, join state must
    stay FLAT across batches (eviction working: O(rate × horizon));
    with an effectively-infinite delay it grows linearly with the
    stream (the documented failure mode this operator exists to
    avoid). Reported per contract: total wall, first/last state rows,
    first/last batch duration. Usage:
    ``python bench_scale.py 2000000 streamjoin``."""
    import os
    import shutil
    import tempfile

    from updater_spark.streaming.join_stream import (
        drain,
        run_stream_interval_join,
    )

    spark = get_spark("bench_scale_streamjoin")
    spark.sparkContext.setLogLevel("ERROR")
    drops, users = 10, 10_000
    batch = n // drops
    window_s = 1800

    def side(offset: int):
        # one event per id, ts marches forward 1s per id; responses
        # lag requests by a hash-jittered 0..window offset
        return (
            spark.range(0, n, numPartitions=32)
            .withColumnRenamed("id", "event_id")
            .withColumn("user_id", F.pmod(F.xxhash64("event_id"), F.lit(users)))
            .withColumn(
                "ts",
                F.timestamp_seconds(
                    F.lit(1_700_000_000)
                    + F.col("event_id")
                    + F.lit(offset)
                    * F.pmod(F.xxhash64("event_id", F.lit(7)), F.lit(window_s))
                ),
            )
        )

    res: dict = {}
    for label, delay in (("evicting_1h", "1 hour"), ("unbounded", "3650 days")):
        root = tempfile.mkdtemp(prefix=f"streamjoin_{label}_")
        ldir, rdir = os.path.join(root, "l"), os.path.join(root, "r")
        # sequential time-ordered slice writes: the file source orders
        # by mtime, and the eviction contract only preserves pairs
        # when drops arrive in (approximate) event-time order — a
        # range-partitioned single write lands files in RANDOM task
        # order and silently sheds ~85% of pairs under a short delay
        # (measured at 100k; that loss is the semantics, not a bug)
        for d, src in ((ldir, side(0)), (rdir, side(1))):
            for k in range(drops):
                src.filter(
                    (F.col("event_id") >= k * batch)
                    & (F.col("event_id") < (k + 1) * batch)
                ).coalesce(1).write.mode("append").parquet(d)
        t0 = time.time()
        q = run_stream_interval_join(
            spark,
            ldir,
            rdir,
            spark.read.parquet(ldir).schema,
            lambda df: df.select(
                "user_id",
                F.col("event_id").alias("req_id"),
                F.col("ts").alias("req_ts"),
            ),
            lambda df: df.select(
                "user_id",
                F.col("event_id").alias("rsp_id"),
                F.col("ts").alias("rsp_ts"),
            ),
            "user_id",
            "req_ts",
            "rsp_ts",
            window_s,
            os.path.join(root, "out"),
            os.path.join(root, "ck"),
            watermark_delay=delay,
        )
        drain(q)
        wall = round(time.time() - t0, 3)
        prog = [json.loads(p.json) for p in q.recentProgress]
        states = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in prog
            if p.get("stateOperators")
        ]
        durs = [p["batchDuration"] for p in prog]
        n_pairs = spark.read.parquet(os.path.join(root, "out")).count()
        res[label] = {
            "wall_sec": wall,
            "n_pairs": n_pairs,
            "state_rows_first": states[0] if states else None,
            "state_rows_last": states[-1] if states else None,
            "batch_ms_first": durs[0] if durs else None,
            "batch_ms_last": durs[-1] if durs else None,
            "rows_per_sec": int(2 * n / wall),
        }
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"n_per_side": n, "streamjoin_probe": res}))


def joinview_probe(n: int) -> None:
    """Join-view IVM crossover: an ``n``-row fact table joined to an
    ``n/100``-row dim on a shared value, maintained through 3 CDC
    epochs of ~1% fact churn + 0.5% dim churn, bucket-pruned repair
    vs full rejoin+rewrite. The crossover number the other maintained
    indexes (dedup/IVF/semantic) already have. Usage:
    ``python bench_scale.py 20000000 joinview``."""
    import shutil
    import tempfile

    from updater_spark.operators.joinview import (
        affected_join_values,
        join_view_bootstrap,
        join_view_repair,
    )
    from updater_spark.sources.store import TableStore

    spark = get_spark("bench_scale_joinview")
    spark.sparkContext.setLogLevel("ERROR")
    n_dim = max(n // 100, 1000)
    buckets = 256
    # churn's join-value footprint is ABSOLUTE (a set of hot
    # entities), not proportional: a footprint that grows with n
    # eventually hashes into every bucket and IVM rightly degrades
    # to a rewrite (measured 254/256 buckets with hot = n_dim/200
    # at 20M)
    hot = 24

    def fact(epoch: int):
        # churn concentrates in the HOT join-value slice (j < hot):
        # those rows reshuffle among hot values each epoch and ~2.5%
        # of them are deleted — uniform churn would touch every value
        # and every bucket, where IVM (correctly) degrades to a full
        # rewrite (measured crossover 0.37 on the uniform fixture)
        f = (
            spark.range(0, n, numPartitions=64)
            .withColumnRenamed("id", "pk")
            .withColumn("j0", F.pmod(F.xxhash64("pk"), F.lit(n_dim)))
            .withColumn(
                "j",
                F.when(
                    F.col("j0") < hot,
                    F.pmod(F.xxhash64("pk", F.lit(epoch)), F.lit(hot)),
                ).otherwise(F.col("j0")),
            )
            .withColumn("av", F.pmod(F.xxhash64("pk", F.lit(3)), F.lit(1000)))
        )
        return f.filter(
            (F.col("j0") >= hot) | (F.col("pk") % 40 != epoch % 40)
        ).drop("j0")

    def dim(epoch: int):
        return (
            spark.range(0, n_dim, numPartitions=8)
            .withColumnRenamed("id", "j")
            .withColumn(
                "bv",
                F.when(
                    (F.col("j") == hot + epoch) & (F.lit(epoch) > 0),
                    F.lit(epoch),
                ).otherwise(F.lit(0)),
            )
        )

    root = tempfile.mkdtemp(prefix="joinview_probe_")
    store = TableStore(spark, root)
    res: dict = {}
    t0 = time.time()
    join_view_bootstrap(store, "v", fact(0), dim(0), "j", buckets=buckets)
    res["bootstrap_sec"] = round(time.time() - t0, 3)
    from updater_spark.operators.joinview import PART_COL, _bucket

    epochs = []
    for e in (1, 2, 3):
        # bases stored bucket-partitioned by the view's join bucket
        # (the partitioned-CDC replica layout) so repair's scans are
        # directory-pruned; the write cost is the CDC epoch's own
        # business, reported separately
        t0 = time.time()
        store.write(
            f"fact_{e}",
            fact(e).withColumn(PART_COL, _bucket(F.col("j"), buckets)),
            partition_by=[PART_COL],
        )
        mat_sec = round(time.time() - t0, 3)
        a_new, b_new = store.read(f"fact_{e}"), dim(e)
        # the churn domain IS the hot slice (+ the dim rows this
        # epoch renamed) — pre- and post-image values both live there
        aff = spark.range(0, hot).select(F.col("id").alias("j")).unionByName(
            affected_join_values(
                post_images=b_new.filter(F.col("j") == hot + e),
                pre_images=None,
                on="j",
            )
        )
        t0 = time.time()
        nb = join_view_repair(store, "v", a_new, b_new, "j", aff, buckets=buckets)
        epochs.append(
            {
                "repair_sec": round(time.time() - t0, 3),
                "buckets_touched": nb,
                "base_materialize_sec": mat_sec,
            }
        )
    res["epochs"] = epochs
    t0 = time.time()
    join_view_bootstrap(
        store,
        "v_rebuild",
        store.read("fact_3").drop(PART_COL),
        dim(3),
        "j",
        buckets=buckets,
    )
    res["full_rejoin_sec"] = round(time.time() - t0, 3)
    res["view_rows"] = store.read("v").count()
    res["rebuild_rows"] = store.read("v_rebuild").count()
    res["rows_match"] = res["view_rows"] == res["rebuild_rows"]
    mean_repair = sum(e["repair_sec"] for e in epochs) / len(epochs)
    res["crossover"] = round(res["full_rejoin_sec"] / mean_repair, 2)
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"n_rows": n, "joinview_probe": res}))


def fuzzyjoin_probe(n: int, q: int = 4) -> None:
    """Fuzzy join at healthy entropy: ``n`` random-ish 18-char
    strings per side, 1% of right rows are 1-edit mutations of a
    left row (char dropped), k=1 blocking at gram size ``q``. The
    driver fixture (64-name corpus) measures the adversarial case;
    this one answers the deploy question — candidate density follows
    |alphabet|^q (hex strings: q=4 → 65k gram values and quadratic
    bucket growth, q=5 → 1M values; measured 2.8× end-to-end at 1M,
    identical verified pairs). Usage:
    ``python bench_scale.py 2000000 fuzzyjoin [q]``."""
    from updater_spark.operators.fuzzyjoin import fuzzy_join

    spark = get_spark("bench_scale_fuzzyjoin")
    spark.sparkContext.setLogLevel("ERROR")

    def rand_str(seed_col, nchars=18):
        # 18 hex-ish chars from two md5 windows — high entropy,
        # deterministic
        return F.substring(F.md5(seed_col.cast("string").cast("binary")), 1, nchars)

    left = (
        spark.range(0, n, numPartitions=64)
        .select(
            F.col("id").alias("lid"), rand_str(F.col("id")).alias("a")
        )
        .persist()
    )
    right = (
        spark.range(0, n, numPartitions=64)
        .select(
            (F.col("id") + 10_000_000).alias("rid"),
            F.when(
                F.col("id") % 100 == 0,
                # planted near-dup: drop left string's first char
                F.substring(F.md5(F.col("id").cast("string").cast("binary")), 2, 17),
            )
            .otherwise(
                rand_str(F.col("id") + 7_777_777)
            )
            .alias("b"),
        )
        .persist()
    )
    n_planted = left.filter(F.col("lid") % 100 == 0).count()
    right.count()
    t0 = time.time()
    out = fuzzy_join(left, right, "lid", "a", "rid", "b", max_dist=1, q=q)
    pairs = out.persist()
    n_pairs = pairs.count()
    wall = round(time.time() - t0, 3)
    found = pairs.filter(
        (F.col("rid") - 10_000_000 == F.col("lid"))
        & (F.col("lid") % 100 == 0)
    ).count()
    print(
        json.dumps(
            {
                "n_per_side": n,
                "q": q,
                "fuzzyjoin_probe": {
                    "wall_sec": wall,
                    "pairs": n_pairs,
                    "planted": n_planted,
                    "planted_found": found,
                    "recall": round(found / n_planted, 4),
                    "rows_per_sec": int(2 * n / wall),
                },
            }
        )
    )


def wordpiece_probe(n: int, vocab_size: int = 0) -> None:
    """Tokenizer throughput: ``n`` synthetic docs (~12 words of 4-12
    chars), greedy longest-match — docs/s and pieces/s for BOTH the
    bucketed pure-Catalyst fold and the arrow twin, at the demo
    55-piece vocabulary or a synthetic production-sized one. Usage:
    ``python bench_scale.py 2000000 wordpiece [vocab_size]`` (e.g.
    8192 — the r6 verdict's declared Catalyst ceiling)."""
    import string as _string

    from updater_spark.operators.tokenizer import (
        synthetic_vocab,
        wordpiece_tokenize,
        wordpiece_tokenize_arrow,
    )

    spark = get_spark("bench_scale_wordpiece")
    spark.sparkContext.setLogLevel("ERROR")
    if vocab_size:
        vocab = synthetic_vocab(vocab_size)
    else:
        vocab = [
            "stream", "scan", "sca", "merge", "mer", "table", "tab",
            "spark", "park", "row", "data", "filter", "fil", "ter",
            "custom", "er", "win", "dow", "val", "ue", "qu", "ery",
            "batch", "bat", "join", "group", "hash", "order", "ord",
        ] + list(_string.ascii_lowercase)
    docs = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(12)),
                    lambda i: F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("_"),
                            i.cast("string"),
                        ).cast("binary")
                    ).substr(
                        F.lit(1),
                        (
                            F.lit(4)
                            + F.pmod(
                                F.xxhash64(F.col("doc_id"), i, F.lit(3)),
                                F.lit(9),
                            )
                        ).cast("int"),
                    ),
                ),
                " ",
            ),
        )
        .persist()
    )
    docs.count()
    report = {"n_docs": n, "vocab_size": len(vocab)}
    for label, fn in (
        ("catalyst", wordpiece_tokenize),
        ("arrow", wordpiece_tokenize_arrow),
    ):
        _measure_tok(report, docs, n, label, fn, vocab)
    print(json.dumps(report))


def _measure_tok(report, docs, n, label, fn, table) -> None:
    t0 = time.time()
    out = fn(docs, "text", table)
    agg = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_pieces").alias("pieces"),
    ).collect()[0]
    wall = round(time.time() - t0, 3)
    report[label] = {
        "wall_sec": wall,
        "total_pieces": int(agg["pieces"]),
        "docs_per_sec": int(n / wall),
        "pieces_per_sec": int(agg["pieces"] / wall),
    }


def bpe_probe(n: int, n_merges: int = 0) -> None:
    """Merge-ordered BPE throughput on the same synthetic corpus as
    the wordpiece probe: both engines against the 25-merge demo table
    or a synthetic ``n_merges``-sized one (ranked 2-gram..4-gram
    chains — the well-formed-table shape). The Catalyst fold's pair
    search probes a literal rank map linearly (|merges| per probe),
    so the arrow twin is the deploy path at production merge tables —
    this probe measures where that crossover sits. Usage:
    ``python bench_scale.py 500000 bpe [n_merges]``."""
    from updater_spark.operators.tokenizer import (
        bpe_tokenize,
        bpe_tokenize_arrow,
    )

    spark = get_spark("bench_scale_bpe")
    spark.sparkContext.setLogLevel("ERROR")
    if n_merges:
        # hex corpus: after [a-z ] normalization words are a-f only —
        # generate level-by-level chains over that alphabet (all
        # letter pairs, then (pair, letter), then (triple, letter)…)
        # so every composite's creating merge precedes its uses
        # (well-formed table) and merges actually FIRE on the corpus
        import itertools

        letters = list("abcdef")
        merges, level = [], ["".join(p) for p in itertools.product(letters, repeat=1)]
        while len(merges) < n_merges:
            nxt = []
            for a in level:
                for b in letters:
                    merges.append((a, b))
                    nxt.append(a + b)
                    if len(merges) >= n_merges:
                        break
                if len(merges) >= n_merges:
                    break
            level = nxt
    else:
        merges = [
            ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
            ("s", "c"), ("sc", "a"), ("sca", "n"), ("v", "a"),
            ("va", "l"), ("val", "u"), ("valu", "e"), ("s", "t"),
            ("st", "r"), ("e", "r"), ("o", "r"), ("or", "d"),
            ("ord", "er"), ("r", "o"), ("ro", "w"), ("d", "a"),
            ("da", "ta"), ("t", "h"), ("th", "e"), ("f", "a"),
            ("fa", "st"),
        ]
    docs = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(12)),
                    lambda i: F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("_"),
                            i.cast("string"),
                        ).cast("binary")
                    ).substr(
                        F.lit(1),
                        (
                            F.lit(4)
                            + F.pmod(
                                F.xxhash64(F.col("doc_id"), i, F.lit(3)),
                                F.lit(9),
                            )
                        ).cast("int"),
                    ),
                ),
                " ",
            ),
        )
        .persist()
    )
    docs.count()
    report = {"n_docs": n, "n_merges": len(merges)}
    for label, fn in (
        ("bpe_catalyst", bpe_tokenize),
        ("bpe_arrow", bpe_tokenize_arrow),
    ):
        _measure_tok(report, docs, n, label, fn, merges)
    print(json.dumps(report))


def semdecon_probe(n: int, n_bench: int = 10_000) -> None:
    """Embedding-level decontamination throughput: ``n`` synthetic
    32-dim corpus vectors probed against a ``n_bench`` benchmark with
    1% planted rescaled copies. The claim under test: one mapInPandas
    GEMM per Arrow batch, zero exchanges — wall should scale linearly
    in n × n_bench flops at BLAS speed, recall of planted copies 1.0.
    Usage: ``python bench_scale.py 2000000 semdecon [n_bench]``."""
    from updater_spark.operators.decontam import semantic_contamination

    spark = get_spark("bench_scale_semdecon")
    spark.sparkContext.setLogLevel("ERROR")
    dim = 32

    def vec(seed_col):
        return F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda j: (
                F.pmod(F.xxhash64(seed_col, j), F.lit(2001)) - 1000.0
            )
            / 1000.0,
        )

    bench = (
        spark.range(0, n_bench)
        .select(F.col("id").alias("vec_id"), vec(F.col("id") + 5_000_000_000).alias("v"))
        .persist()
    )
    corpus = (
        spark.range(0, n, numPartitions=64)
        .select(
            F.col("id").alias("vec_id"),
            F.when(
                F.col("id") % 100 == 0,
                # planted: rescaled copy of a benchmark vector
                F.transform(
                    vec(F.pmod(F.col("id"), F.lit(n_bench)) + 5_000_000_000),
                    lambda x: x * 1.7,
                ),
            )
            .otherwise(vec(F.col("id")))
            .alias("v"),
        )
        .persist()
    )
    n_planted = corpus.filter(F.col("vec_id") % 100 == 0).count()
    bench.count()
    t0 = time.time()
    out = semantic_contamination(
        corpus, bench, "vec_id", "v", threshold=0.999
    ).persist()
    flagged = out.filter("contaminated").count()
    wall = round(time.time() - t0, 3)
    planted_hit = out.filter(
        (F.col("vec_id") % 100 == 0) & F.col("contaminated")
    ).count()
    print(
        json.dumps(
            {
                "n_corpus": n,
                "n_bench": n_bench,
                "semdecon_probe": {
                    "wall_sec": wall,
                    "flagged": flagged,
                    "planted": n_planted,
                    "planted_recall": round(planted_hit / n_planted, 4),
                    "docs_per_sec": int(n / wall),
                    "gflops": round(
                        2 * n * n_bench * dim / wall / 1e9, 1
                    ),
                },
            }
        )
    )


def schemaevo_probe(n: int) -> None:
    """Schema-evolution epoch cost at scale: an ``n``-row table
    bootstrapped, then ONE boundary epoch (source adds a column,
    0.5% of rows genuinely mutate, 0.1% delete) under both policies.
    The 100 TB claim under test: ``rebase`` keeps the CHURN-SCALED
    costs (diff delta, changelog pre-images, fetch) proportional to
    real mutations while paying only the unavoidable full-width
    rewrite; ``full_churn`` (reference parity) reclassifies every
    row — bootstrap-sized delta, changelog, and fetch. Usage:
    ``python bench_scale.py 20000000 schemaevo``."""
    import shutil
    import tempfile

    from updater_spark.plans.cdc import CdcEngine
    from updater_spark.schema import TableSpec
    from updater_spark.sources.store import TableStore

    spark = get_spark("bench_scale_schemaevo")
    spark.sparkContext.setLogLevel("ERROR")

    base = (
        spark.range(0, n, numPartitions=64)
        .select(
            F.col("id"),
            F.md5(F.col("id").cast("string").cast("binary")).alias("name"),
            (F.col("id") % 9973).cast("long").alias("bal"),
        )
        .persist()
    )
    base.count()
    src2 = (
        base.filter(F.col("id") % 1000 != 7)  # 0.1% deletes
        .select(
            "id",
            "name",
            F.when(F.col("id") % 200 == 0, F.col("bal") + 1)
            .otherwise(F.col("bal"))
            .alias("bal"),  # 0.5% mutations
            (F.col("id") % 5).cast("long").alias("tier"),  # added column
        )
        .persist()
    )
    src2.count()

    report = {"n_rows": n}
    for policy in ("rebase", "full_churn"):
        root = tempfile.mkdtemp(prefix=f"schemaevo_{policy}_")
        try:
            eng = CdcEngine(
                TableStore(spark, root),
                schema_change_policy=policy,
                delete_guard=n,
            )
            spec = TableSpec("t", "id")
            t0 = time.time()
            eng.update(spec, base)
            boot = round(time.time() - t0, 3)
            t0 = time.time()
            stats = eng.update(spec, src2)
            wall = round(time.time() - t0, 3)
            log_rows = eng.changelog("t").count()
            report[policy] = {
                "bootstrap_sec": boot,
                "boundary_epoch_sec": wall,
                "upserts": stats.upserts,
                "deletes": stats.deletes,
                "changelog_rows": log_rows,
            }
        finally:
            shutil.rmtree(root, ignore_errors=True)
    r, fc = report["rebase"], report["full_churn"]
    report["delta_ratio"] = round(fc["upserts"] / max(r["upserts"], 1), 1)
    report["wall_ratio"] = round(
        fc["boundary_epoch_sec"] / r["boundary_epoch_sec"], 2
    )

    # partitioned layout: a normal epoch prunes its writes; the
    # boundary epoch CANNOT (every surviving row changes shape) and
    # rewrites all buckets; the epoch after is pruned again — the
    # claim quantified in the production layout, not just pytest-level
    root = tempfile.mkdtemp(prefix="schemaevo_part_")
    try:
        eng = CdcEngine(
            TableStore(spark, root),
            schema_change_policy="rebase",
            partition_buckets=64,
            delete_guard=n,
        )
        spec = TableSpec("t", "id")
        eng.update(spec, base)
        normal1 = base.withColumn(
            "bal",
            F.when(F.col("id") % 400 == 1, F.col("bal") + 1).otherwise(
                F.col("bal")
            ),
        )
        t0 = time.time()
        eng.update(spec, normal1)
        t_normal = round(time.time() - t0, 3)
        src2b = normal1.filter(F.col("id") % 1000 != 7).select(
            "id",
            "name",
            F.when(F.col("id") % 200 == 0, F.col("bal") + 1)
            .otherwise(F.col("bal"))
            .alias("bal"),
            (F.col("id") % 5).cast("long").alias("tier"),
        )
        t0 = time.time()
        stats_b = eng.update(spec, src2b)
        t_boundary = round(time.time() - t0, 3)
        src3b = src2b.withColumn(
            "bal",
            F.when(F.col("id") % 400 == 3, F.col("bal") + 1).otherwise(
                F.col("bal")
            ),
        )
        t0 = time.time()
        eng.update(spec, src3b)
        t_after = round(time.time() - t0, 3)
        report["partitioned_rebase"] = {
            "buckets": 64,
            "normal_epoch_sec": t_normal,
            "boundary_epoch_sec": t_boundary,
            "post_boundary_epoch_sec": t_after,
            "boundary_upserts": stats_b.upserts,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(report))


def zorder_probe(n: int) -> None:
    """Layout pruning at scale: ``n`` events written plain / 1-D
    range-clustered on event_id / z-ordered on (user_id, event_id)
    into 64 files each, then a ~1%-selectivity 2-D predicate scanned
    off each copy. Reported: write cost, files touched, scan wall —
    the claim is z-order pays ≈ the 1-D write cost but prunes BOTH
    dimensions. Usage: ``python bench_scale.py 20000000 zorder``."""
    import shutil
    import tempfile

    from updater_spark.sources.store import TableStore

    spark = get_spark("bench_scale_zorder")
    spark.sparkContext.setLogLevel("ERROR")
    users = 100_000
    ev = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "event_id")
        .withColumn("user_id", F.pmod(F.xxhash64("event_id"), F.lit(users)))
        .withColumn("value", (F.pmod(F.xxhash64("event_id", F.lit(3)), F.lit(1000)) / 10.0))
    ).persist()
    ev.count()
    root = tempfile.mkdtemp(prefix="zorder_probe_")
    store = TableStore(spark, root)
    writes: dict = {}
    t0 = time.time()
    store.write("ev_plain", ev.repartition(64), num_files=64)
    writes["plain"] = round(time.time() - t0, 3)
    t0 = time.time()
    store.write_clustered("ev_1d", ev, ["event_id"], num_files=64)
    writes["clustered_1d"] = round(time.time() - t0, 3)
    t0 = time.time()
    store.write_zordered(
        "ev_z", ev, ["user_id", "event_id"], bits=16, num_files=64
    )
    writes["zorder"] = round(time.time() - t0, 3)

    u_hi = users // 100  # ~1% of users
    e_lo, e_hi = n // 2, n // 2 + n // 100
    pred_u = F.col("user_id") <= u_hi
    pred_e = F.col("event_id").between(e_lo, e_hi)
    scans: dict = {}
    for table in ("ev_plain", "ev_1d", "ev_z"):
        for pname, pred in (("user", pred_u), ("event", pred_e), ("both", pred_u & pred_e)):
            df = store.read(table).filter(pred)
            df.agg(F.sum("value")).collect()  # warm listing
            t0 = time.time()
            s = df.agg(F.sum("value"), F.count(F.lit(1))).collect()[0]
            wall = round(time.time() - t0, 3)
            files = (
                store.read(table)
                .filter(pred)
                .select(F.input_file_name())
                .distinct()
                .count()
            )
            scans[f"{table}.{pname}"] = {
                "files_touched": files,
                "scan_sec": wall,
                "rows": s[1],
            }
    shutil.rmtree(root, ignore_errors=True)
    print(
        json.dumps(
            {"n_rows": n, "zorder_probe": {"write_sec": writes, "scans": scans}}
        )
    )


def pagerank_probe(n: int) -> None:
    """PageRank at scale: ``n`` synthetic edges over |V| = n/10 nodes
    with a deliberate super-hub (1% of all edges point at node 0 —
    the in-degree skew every real link graph has). Measures the
    broadcast-rank path (|V| under the gate) against the shuffle
    fallback (gate forced to 0) at the SAME size — the question at
    100 TB is how much the map-side contrib join buys per iteration,
    and whether the hub's single-reduce-key contribution sum becomes
    the straggler. Usage: ``python bench_scale.py 20000000 pagerank``."""
    from updater_spark.operators.graph import pagerank

    spark = get_spark("bench_scale_pagerank")
    spark.sparkContext.setLogLevel("ERROR")
    v = max(n // 10, 100)
    edges = (
        spark.range(0, n, numPartitions=64)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(v)).alias("src"),
            F.when(F.col("id") % 100 == 0, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(v)))
            .alias("dst"),
        )
        .persist()
    )
    n_edges = edges.count()
    # one throwaway run first: the cold JVM pays ~2x on whichever
    # variant goes first (measured — a cold-first comparison inverted
    # the verdict), so both measured runs below are warm
    pagerank(edges, iterations=2, broadcast_node_limit=0).count()
    res: dict = {}
    for label, limit in (("broadcast", 2_000_000_000), ("shuffle", 0)):
        t0 = time.time()
        pr = pagerank(
            edges, iterations=5, round_digits=9,
            broadcast_node_limit=limit,
        )
        mass, hub = pr.agg(
            F.sum("pr"), F.max(F.when(F.col("node") == 0, F.col("pr")))
        ).collect()[0]
        wall = round(time.time() - t0, 2)
        res[label] = {
            "wall_sec": wall,
            "edges_per_sec_per_iter": int(n_edges * 5 / wall),
            "mass": round(float(mass), 6),
            "hub_pr": round(float(hub), 6),
        }
    edges.unpersist()
    res["broadcast_speedup"] = round(
        res["shuffle"]["wall_sec"] / res["broadcast"]["wall_sec"], 2
    )
    print(json.dumps({"n_edges": n_edges, "pagerank_probe": res}))


def triangles_probe(n: int) -> None:
    """Triangle counting at scale: ``n`` synthetic edges over
    |V| = n/10 nodes with the SAME 1%-super-hub skew as the pagerank
    probe — the adversarial case for triangle counting, because a
    naive neighbor-pairing scheme generates C(hub_deg, 2) wedges at
    the hub (~2e10 at 20M edges: unrunnable). The probe reports the
    quantity that proves the degree orientation neutralizes the hub:
    max RAW degree vs max ORIENTED out-degree (bounded ~O(sqrt(m)))
    and the total wedge count actually generated. Usage:
    ``python bench_scale.py 20000000 triangles``."""
    from updater_spark.operators.graph import triangle_count

    spark = get_spark("bench_scale_triangles")
    spark.sparkContext.setLogLevel("ERROR")
    v = max(n // 10, 100)
    edges = (
        spark.range(0, n, numPartitions=64)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(v)).alias("src"),
            F.when(F.col("id") % 100 == 0, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id", F.lit(7)), F.lit(v)))
            .alias("dst"),
        )
        .persist()
    )
    n_edges = edges.count()
    t0 = time.time()
    tri = triangle_count(edges)
    total3, nodes_out = tri.agg(
        F.sum("triangles"), F.count(F.lit(1))
    ).collect()[0]
    wall = round(time.time() - t0, 2)

    # the orientation evidence, recomputed the same way the operator
    # orients (degree, id): raw hub degree vs oriented out-degree
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
        .persist()
    )
    m = und.count()
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wd = (
        und.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("da")),
            "a",
        ).join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("db")),
            "b",
        )
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    odeg = (
        wd.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src")
        )
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("odeg"))
    )
    max_raw, = deg.agg(F.max("deg")).collect()[0]
    max_o, wedges = odeg.agg(
        F.max("odeg"), F.sum(F.col("odeg") * (F.col("odeg") - 1) / 2)
    ).collect()[0]
    und.unpersist()
    edges.unpersist()
    print(
        json.dumps(
            {
                "n_edges_raw": n_edges,
                "triangles_probe": {
                    "n_edges_distinct": m,
                    "wall_sec": wall,
                    "edges_per_sec": int(m / wall),
                    "triangles": int(total3 // 3),
                    "nodes": int(nodes_out),
                    "max_raw_degree": int(max_raw),
                    "max_oriented_outdeg": int(max_o),
                    "sqrt_m": int(m ** 0.5),
                    "wedges_generated": int(wedges),
                    "hub_wedges_if_naive": int(
                        max_raw * (max_raw - 1) // 2
                    ),
                },
            }
        )
    )


def pca_probe(n: int, dim: int = 64) -> None:
    """PCA moment pass at scale: ``n`` synthetic ``dim``-d vectors
    with planted anisotropy (components 0/1 carry 6x/3x the variance).
    The 100 TB question is the cost of the ONE corpus pass — the
    Arrow (n, Σx, Σxxᵀ) partial aggregate — and that the driver-side
    state stays d²+d+1 doubles regardless of n. Checks the recovered
    top-2 axes against the planted ones. Usage:
    ``python bench_scale.py 10000000 pca``."""
    import numpy as np

    from updater_spark.operators.projection import pca_fit

    spark = get_spark("bench_scale_pca")
    spark.sparkContext.setLogLevel("ERROR")
    # synthetic anisotropic cloud in pure Catalyst: iid unit noise per
    # component, then components 0 and 1 scaled up
    comps = []
    for j in range(dim):
        u = (
            F.pmod(F.xxhash64("id", F.lit(j)), F.lit(1_000_000))
            / F.lit(1_000_000.0)
        )
        # sum of two shifted uniforms ~ triangular: cheap, symmetric
        u2 = (
            F.pmod(F.xxhash64("id", F.lit(j + dim)), F.lit(1_000_000))
            / F.lit(1_000_000.0)
        )
        g = u + u2 - F.lit(1.0)
        scale = 6.0 if j == 0 else (3.0 if j == 1 else 1.0)
        comps.append(g * F.lit(scale))
    # NOT persisted: 10M x 64 doubles as deserialized rows blow the
    # heap, and the honest cost of the one-pass design includes
    # producing the vectors once — generation is scan-speed Catalyst
    vecs = spark.range(0, n, numPartitions=64).select(
        F.array(*comps).alias("v")
    )
    n_rows = n
    t0 = time.time()
    model = pca_fit(vecs, "v", k=2, dim=dim, power_iterations=12)
    wall = round(time.time() - t0, 2)
    c1 = np.array(model["components"][0])
    c2 = np.array(model["components"][1])
    print(
        json.dumps(
            {
                "n_vectors": n_rows,
                "pca_probe": {
                    "dim": dim,
                    "wall_sec": wall,
                    "vectors_per_sec": int(n_rows / wall),
                    "driver_state_doubles": dim * dim + dim + 1,
                    "axis0_recovered": round(float(abs(c1[0])), 4),
                    "axis1_recovered": round(float(abs(c2[1])), 4),
                    "eigenvalues": [
                        round(e, 3) for e in model["eigenvalues"]
                    ],
                },
            }
        )
    )


def quality_probe(n: int) -> None:
    """Constraint-suite scan economics at scale: the claim is that
    ALL row-level checks fuse into ONE scan, so a 12-check suite
    should cost ~the same wall as a 1-check suite (plus group-metric
    shuffles, measured separately). ``n`` synthetic wide rows.
    Usage: ``python bench_scale.py 20000000 quality``."""
    from updater_spark.operators.quality import Check, check_constraints

    spark = get_spark("bench_scale_quality")
    spark.sparkContext.setLogLevel("ERROR")
    df = (
        spark.range(0, n, numPartitions=64)
        .select(
            F.col("id"),
            (F.pmod(F.xxhash64("id"), F.lit(1000)) / 10.0).alias("v1"),
            (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(500))).alias("v2"),
            F.when(
                F.col("id") % 97 == 0, F.lit(None).cast("double")
            ).otherwise(F.rand(7)).alias("v3"),
            F.concat(
                F.lit("s"), F.pmod(F.xxhash64("id", F.lit(2)), F.lit(50))
            ).alias("cat"),
        )
        .persist()
    )
    df.count()

    one = [Check("n", "row_count", op=">=", threshold=1.0)]
    twelve = [
        Check("n", "row_count", op=">=", threshold=1.0),
        Check("c1", "completeness", column="v1"),
        Check("c3", "completeness", column="v3", op=">=", threshold=0.9),
        Check("m1", "min", column="v1", op=">=", threshold=0.0),
        Check("m2", "max", column="v1", op="<=", threshold=100.0),
        Check("m3", "mean", column="v1"),
        Check("m4", "sum", column="v2"),
        Check("m5", "min", column="v2"),
        Check("m6", "max", column="v2"),
        Check("m7", "mean", column="v3"),
        Check("r1", "match_ratio", predicate="v2 < 400"),
        Check("r2", "match_ratio", predicate="cat LIKE 's1%'"),
    ]
    res: dict = {}
    # warm both paths once (cold-JVM order effects, pagerank lesson)
    check_constraints(df, one).collect()
    for label, checks in (("one_check", one), ("twelve_checks", twelve)):
        t0 = time.time()
        rows = check_constraints(df, checks).collect()
        res[label] = {
            "wall_sec": round(time.time() - t0, 2),
            "n_checks": len(rows),
        }
    # the fusion claim, measured honestly: the SAME 12 checks as 12
    # separate one-check suites = 12 scans (what a naive runner does)
    t0 = time.time()
    for c in twelve:
        check_constraints(df, [c]).collect()
    res["twelve_checks_unfused"] = {
        "wall_sec": round(time.time() - t0, 2),
        "n_checks": 12,
    }
    # group metrics: one extra two-level aggregate per column
    t0 = time.time()
    g = check_constraints(
        df,
        twelve
        + [
            Check("u", "uniqueness", column="id"),
            Check("d", "distinctness", column="cat"),
        ],
    ).collect()
    res["plus_two_group_metrics"] = {
        "wall_sec": round(time.time() - t0, 2),
        "n_checks": len(g),
    }
    df.unpersist()
    res["fusion_speedup"] = round(
        res["twelve_checks_unfused"]["wall_sec"]
        / res["twelve_checks"]["wall_sec"],
        2,
    )
    print(json.dumps({"n_rows": n, "quality_probe": res}))


def sketches_probe(n: int) -> None:
    """Sketch builds at corpus scale: HLL (b=12) and Count-Min
    (4x2048) over ``n`` rows with ~n/20 distinct keys, md5 (portable
    oracle path) vs xxhash64 (JVM-native deploy path) — the hasher
    twin's speedup measured, plus estimate accuracy vs truth.
    Usage: ``python bench_scale.py 50000000 sketches``."""
    from updater_spark.operators.sketches import (
        cm_sketch,
        hll_error_bound,
        hll_estimate,
        hll_sketch,
    )

    spark = get_spark("bench_scale_sketches")
    spark.sparkContext.setLogLevel("ERROR")
    n_distinct = max(n // 20, 100)
    df = (
        spark.range(0, n, numPartitions=64)
        .select(
            F.concat(
                F.lit("k"), F.pmod(F.xxhash64("id"), F.lit(n_distinct))
            ).alias("k")
        )
        .persist()
    )
    n_rows = df.count()
    res: dict = {}
    # warm once (cold-first inverts hasher comparisons, the pagerank
    # lesson)
    hll_sketch(df, "k", b=12, hasher="md5").count()
    for hasher in ("md5", "xxhash64"):
        t0 = time.time()
        est = hll_estimate(
            hll_sketch(df, "k", b=12, hasher=hasher), b=12
        ).collect()[0]["estimate"]
        t_hll = round(time.time() - t0, 2)
        t0 = time.time()
        cm_sketch(df, "k", depth=4, width=2048, hasher=hasher).count()
        t_cm = round(time.time() - t0, 2)
        res[hasher] = {
            "hll_sec": t_hll,
            "hll_rows_per_sec": int(n_rows / t_hll),
            "hll_estimate": int(est),
            "hll_rel_err": round(abs(est - n_distinct) / n_distinct, 4),
            "cm_sec": t_cm,
            "cm_rows_per_sec": int(n_rows / t_cm),
        }
    df.unpersist()
    res["xxhash_speedup_hll"] = round(
        res["md5"]["hll_sec"] / res["xxhash64"]["hll_sec"], 2
    )
    res["xxhash_speedup_cm"] = round(
        res["md5"]["cm_sec"] / res["xxhash64"]["cm_sec"], 2
    )
    res["hll_3sigma_bound"] = round(3 * hll_error_bound(12), 4)
    print(
        json.dumps(
            {
                "n_rows": n_rows,
                "n_distinct_true": n_distinct,
                "sketches_probe": res,
            }
        )
    )


def anomaly_probe(n: int) -> None:
    """Rolling z-score + CUSUM at scale: ``n`` events over n/2000
    keys (≈2000-point series each). Both detectors are one key
    Exchange + window codegen — the probe reports rows/s and that
    the two share the partitioning (running both costs ~one).
    Usage: ``python bench_scale.py 20000000 anomaly``."""
    from updater_spark.operators.anomaly import cusum, rolling_zscore

    spark = get_spark("bench_scale_anomaly")
    spark.sparkContext.setLogLevel("ERROR")
    keys = max(n // 2000, 10)
    ev = (
        spark.range(0, n, numPartitions=64)
        .select(
            F.col("id").alias("event_id"),
            F.pmod(F.xxhash64("id"), F.lit(keys)).alias("k"),
            (F.col("id") / F.lit(keys)).cast("long").alias("t"),
            (
                F.pmod(F.xxhash64("id", F.lit(3)), F.lit(1000)) / 100.0
                + F.when(F.col("id") % 1001 == 0, F.lit(50.0)).otherwise(
                    F.lit(0.0)
                )
            ).alias("v"),
        )
        .persist()
    )
    n_rows = ev.count()
    res: dict = {}
    t0 = time.time()
    z = rolling_zscore(
        ev, "k", "t", "v", order_cols=["event_id"], window=50,
        min_periods=10,
    )
    n_anom = z.filter(F.col("is_anomaly")).count()
    res["zscore"] = {
        "wall_sec": round(time.time() - t0, 2),
        "rows_per_sec": int(n_rows / (time.time() - t0)),
        "anomalies": n_anom,
    }
    t0 = time.time()
    c = cusum(ev, "k", "t", "v", order_cols=["event_id"], h=5.0)
    n_alarm = c.filter(F.col("cusum_alarm")).count()
    res["cusum"] = {
        "wall_sec": round(time.time() - t0, 2),
        "rows_per_sec": int(n_rows / (time.time() - t0)),
        "alarms": n_alarm,
    }
    ev.unpersist()
    print(json.dumps({"n_rows": n_rows, "anomaly_probe": res}))


def bpetrain_probe(
    n: int, n_merges: int = 30, byte_level: bool = False
) -> None:
    """BPE training at scale: ``n`` synthetic docs (~20 words each
    from a ~40k-form Zipf-ish word distribution). The industrial
    question: after the ONE corpus-sized word count, every round runs
    on the |distinct words| frequency table — report that compression
    ratio and the per-round cost. ``byte_level`` re-pins the probe on
    the hex-pair byte alphabet (VERDICT r9 #7): symbols per word
    double vs char level (3-6 letters → 6-12 hex pairs) and the
    256-symbol alphabet densifies the pair table — the question is
    whether the per-round cost stays frequency-table-bounded. Usage:
    ``python bench_scale.py 2000000 bpetrain [n_merges] [bytes]``."""
    from updater_spark.operators.tokenizer import bpe_train

    spark = get_spark("bench_scale_bpetrain")
    spark.sparkContext.setLogLevel("ERROR")

    # word id per slot: square of a uniform draw concentrates mass on
    # low ids (Zipf-ish); the word itself is 3-6 letters derived from
    # the id, so equal ids collide into the same form
    def _word(i):
        # u^2 over [0,1) scaled to 40k ids: quadratic head-heavy skew
        # with the full id range reachable
        wid = (
            F.pow(
                F.pmod(F.xxhash64("doc_id", i), F.lit(100_000))
                / F.lit(100_000.0),
                F.lit(2),
            )
            * F.lit(40_000)
        ).cast("long")
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(2) + F.pmod(wid, F.lit(4))),
                lambda k: F.char(
                    F.lit(97) + F.pmod(F.xxhash64(wid, k), F.lit(26))
                ),
            ),
            "",
        )

    docs = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)), lambda i: _word(i)
                ),
                " ",
            ),
        )
        .persist()
    )
    n_docs = docs.count()
    t0 = time.time()
    merges = bpe_train(docs, "text", n_merges=n_merges, byte_level=byte_level)
    got = merges.collect()
    wall = round(time.time() - t0, 2)
    n_words = (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), " +")).alias("w")
        )
        .agg(F.countDistinct("w"))
        .collect()[0][0]
    )
    docs.unpersist()
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "byte_level": byte_level,
                "bpetrain_probe": {
                    "n_merges_learned": len(got),
                    "wall_sec": wall,
                    "sec_per_round": round(wall / max(len(got), 1), 2),
                    "distinct_words": n_words,
                    "corpus_to_state_ratio": round(
                        n_docs * 20 / max(n_words, 1), 1
                    ),
                    "docs_per_sec": int(n_docs / wall),
                },
            }
        )
    )


def dsir_probe(n: int) -> None:
    """DSIR data selection at scale: ``n`` raw docs (~20 words,
    Zipf-ish) scored against an n/10-doc target with a shifted word
    distribution. The scale claim to verify: cost is three token-
    stream scans + one B-row broadcast, independent of vocabulary.
    Usage: ``python bench_scale.py 2000000 dsir``."""
    from updater_spark.operators.dsir import dsir_select

    spark = get_spark("bench_scale_dsir")
    spark.sparkContext.setLogLevel("ERROR")

    def _word(i, exponent, salt):
        wid = (
            F.pow(
                F.pmod(F.xxhash64("doc_id", F.lit(i + salt)), F.lit(100_000))
                / F.lit(100_000.0),
                F.lit(exponent),
            )
            * F.lit(40_000)
        ).cast("long")
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(2) + F.pmod(wid, F.lit(4))),
                lambda k: F.char(
                    F.lit(97) + F.pmod(F.xxhash64(wid, k), F.lit(26))
                ),
            ),
            "",
        )

    def corpus(rows, exponent, salt):
        return (
            spark.range(0, rows, numPartitions=64)
            .withColumnRenamed("id", "doc_id")
            .select(
                "doc_id",
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(20)),
                        lambda i: _word(i, exponent, salt),
                    ),
                    " ",
                ).alias("text"),
            )
        )

    raw = corpus(n, 2, 0)
    target = corpus(max(n // 10, 1000), 3, 99)  # head-heavier slice
    res = {}
    for hasher in ("md5", "xxhash64"):
        t0 = time.perf_counter()
        out = dsir_select(raw, target, k=10_000, hash_bits=14, hasher=hasher)
        n_sel = out.count()
        wall = time.perf_counter() - t0
        res[hasher] = {
            "selected": n_sel,
            "wall_sec": round(wall, 2),
            "docs_per_sec": int(n / wall),
        }
    print(
        json.dumps(
            {
                "n_docs": n,
                "hash_bits": 14,
                "model_rows": 1 << 14,
                "dsir_probe": res,
            }
        )
    )


def quota_probe(n: int) -> None:
    """Domain-quota scale probe on a skewed domain distribution
    (~30% of rows in 2 mega-domains, the rest across ~100k small
    ones). Compares the naive everything-through-one-window form
    against the two-phase operator and its bucket-pruned variant —
    the claim: only over-cap rows pay the exchange, and the prune
    bounds the mega-domain's single-partition rank.
    Usage: ``python bench_scale.py 20000000 quota``."""
    from updater_spark.operators.sampling import domain_quota
    from pyspark.sql import Window

    spark = get_spark("bench_scale_quota")
    spark.sparkContext.setLogLevel("ERROR")

    cap = 1000
    # rows carry a ~400-byte payload: the operator's win is SHUFFLE
    # VOLUME (under-cap rows never enter the window exchange), which a
    # narrow synthetic row would hide — scans are nearly free on
    # generated data, shuffles are not
    df = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .select(
            "doc_id",
            F.when(
                F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 3,
                F.concat(F.lit("mega"), F.pmod(F.col("doc_id"), F.lit(2))),
            )
            .otherwise(
                F.concat(
                    F.lit("dom"),
                    F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(100_000)),
                )
            )
            .alias("domain"),
            (F.pmod(F.xxhash64("doc_id", F.lit(3)), F.lit(1000)) / 10.0).alias(
                "score"
            ),
            F.repeat(F.lit("payload-"), 50).alias("payload"),
        )
        .persist()
    )
    df.count()

    res = {}

    def timed(label, frame):
        frame.write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        frame.write.format("noop").mode("overwrite").save()
        res[label] = round(time.perf_counter() - t0, 2)

    for label, kwargs in [
        ("window", {}),
        ("window_pruned32", {"prune_buckets": 32}),
        ("two_phase", {"strategy": "two_phase"}),
        ("two_phase_pruned32", {"strategy": "two_phase", "prune_buckets": 32}),
    ]:
        timed(
            label,
            domain_quota(
                df, cap=cap, domain_col="domain", order_col="score", **kwargs
            ),
        )
    kept = domain_quota(
        df, cap=cap, domain_col="domain", order_col="score"
    ).count()
    df.unpersist()
    print(
        json.dumps(
            {
                "n_rows": n,
                "cap": cap,
                "quota_probe": res,
                "rows_kept": kept,
            }
        )
    )


def logreg_probe(n: int) -> None:
    """Logistic-regression training throughput: 4 full-batch GD
    iterations over ``n`` rows x 3 features. The claim: each
    iteration is one map-side-combined scan of a narrow projection —
    report rows/s/iteration with and without persisting the feature
    frame. Usage: ``python bench_scale.py 50000000 logreg``."""
    from updater_spark.operators.classifier import logreg_train

    spark = get_spark("bench_scale_logreg")
    spark.sparkContext.setLogLevel("ERROR")

    feats = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .select(
            "doc_id",
            (F.pmod(F.xxhash64("doc_id"), F.lit(2))).cast("double").alias("y"),
            (F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(1000)) / 500.0).alias("x1"),
            (F.pmod(F.xxhash64("doc_id", F.lit(2)), F.lit(1000)) / 500.0).alias("x2"),
            (F.pmod(F.xxhash64("doc_id", F.lit(3)), F.lit(1000)) / 500.0).alias("x3"),
        )
    )
    iters = 4
    t0 = time.perf_counter()
    logreg_train(feats, "y", ["x1", "x2", "x3"], iters=iters)
    rescan = time.perf_counter() - t0
    cached = feats.persist()
    cached.count()
    t0 = time.perf_counter()
    logreg_train(cached, "y", ["x1", "x2", "x3"], iters=iters)
    persisted = time.perf_counter() - t0
    cached.unpersist()
    print(
        json.dumps(
            {
                "n_rows": n,
                "logreg_probe": {
                    "iters": iters,
                    "rescan_wall_sec": round(rescan, 2),
                    "persisted_wall_sec": round(persisted, 2),
                    "rows_per_sec_per_iter_rescan": int(n * iters / rescan),
                    "rows_per_sec_per_iter_persisted": int(
                        n * iters / persisted
                    ),
                },
            }
        )
    )


def hardneg_probe(n: int) -> None:
    """Hard-negative mining throughput: 2k queries against ``n``
    clustered labeled vectors (64-dim), k=10. Same GEMM scan as the
    exact ANN baseline plus the label mask — the probe verifies the
    mask costs ~nothing next to the matmul.
    Usage: ``python bench_scale.py 1000000 hardneg``."""
    from updater_spark.operators.similarity import (
        cosine_topk_arrow,
        hard_negatives_arrow,
    )

    spark = get_spark("bench_scale_hardneg")
    spark.sparkContext.setLogLevel("ERROR")

    dim, n_clusters = 64, 256

    def comp(i: int):
        cl = F.col("vec_id") % n_clusters
        center = (
            F.pmod(F.xxhash64(cl, F.lit(i)), F.lit(2_000_001)) / 1_000_000.0
            - 1.0
        )
        noise = (
            F.pmod(F.xxhash64("vec_id", F.lit(i + 777)), F.lit(2_000_001))
            / 1_000_000.0
            - 1.0
        )
        return (center * 0.8 + noise * 0.2).cast("double")

    emb = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "vec_id")
        .select(
            "vec_id",
            F.array(*[comp(i) for i in range(dim)]).alias("embedding"),
            F.pmod(F.col("vec_id"), F.lit(16)).cast("int").alias("label"),
        )
        .persist()
    )
    emb.count()
    queries = emb.filter(F.col("vec_id") % max(n // 2000, 1) == 0)

    # one discarded warm pass each (Arrow/JIT warm-up dominated the
    # first measurement: plain-first-cold read 33.6s vs 17.6s masked)
    cosine_topk_arrow(emb, queries, k=10).count()
    hard_negatives_arrow(emb, queries, k=10).count()
    t0 = time.perf_counter()
    plain = cosine_topk_arrow(emb, queries, k=10).count()
    base = time.perf_counter() - t0
    t0 = time.perf_counter()
    mined = hard_negatives_arrow(emb, queries, k=10).count()
    masked = time.perf_counter() - t0
    emb.unpersist()
    print(
        json.dumps(
            {
                "n_vectors": n,
                "hardneg_probe": {
                    "n_queries": 2000,
                    "plain_topk_sec": round(base, 2),
                    "hard_neg_sec": round(masked, 2),
                    "mask_overhead_pct": round((masked / base - 1) * 100, 1),
                    "rows_plain": plain,
                    "rows_mined": mined,
                },
            }
        )
    )


def kmeans_probe(n: int) -> None:
    """Standalone k-means throughput: k=32 over ``n`` 64-dim
    clustered vectors, 3 Lloyd iterations. Each iteration is one
    Catalyst assignment scan (k rounded quadratic forms per row) and
    one grouped average collapsing to k*dim rows — report
    rows/s/iteration. Usage: ``python bench_scale.py 1000000 kmeans``."""
    from updater_spark.operators.similarity import kmeans_lloyd

    spark = get_spark("bench_scale_kmeans")
    spark.sparkContext.setLogLevel("ERROR")

    dim, n_clusters = 64, 256

    def comp(i: int):
        cl = F.col("vec_id") % n_clusters
        center = (
            F.pmod(F.xxhash64(cl, F.lit(i)), F.lit(2_000_001)) / 1_000_000.0
            - 1.0
        )
        noise = (
            F.pmod(F.xxhash64("vec_id", F.lit(i + 777)), F.lit(2_000_001))
            / 1_000_000.0
            - 1.0
        )
        return (center * 0.8 + noise * 0.2).cast("double")

    emb = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "vec_id")
        .select(
            "vec_id",
            F.array(*[comp(i) for i in range(dim)]).alias("embedding"),
        )
        .persist()
    )
    emb.count()
    iters = 3
    res = {}
    for engine in ("catalyst", "arrow"):
        t0 = time.perf_counter()
        cents, asg = kmeans_lloyd(emb, k=32, iters=iters, engine=engine)
        n_out = asg.count()
        wall = time.perf_counter() - t0
        res[engine] = {
            "wall_sec": round(wall, 2),
            "rows_per_sec_per_iter": int(n * iters / wall),
            "assigned": n_out,
        }
    emb.unpersist()
    print(
        json.dumps(
            {
                "n_vectors": n,
                "k": 32,
                "dim": dim,
                "iters": iters,
                "kmeans_probe": res,
            }
        )
    )


def dsirindex_probe(n: int) -> None:
    """DsirIndex incremental-vs-rebuild crossover at ``n`` docs with
    1% churn: an epoch update should cost O(|delta|) token work + a
    B-row merge, vs a full two-corpus re-count for the one-shot
    operator. Usage: ``python bench_scale.py 10000000 dsirindex``."""
    import shutil
    import tempfile

    from updater_spark.operators.dsir_index import DsirIndex
    from updater_spark.sources.store import TableStore

    spark = get_spark("bench_scale_dsirindex")
    spark.sparkContext.setLogLevel("ERROR")

    def _word(i, exponent, salt):
        wid = (
            F.pow(
                F.pmod(F.xxhash64("doc_id", F.lit(i + salt)), F.lit(100_000))
                / F.lit(100_000.0),
                F.lit(exponent),
            )
            * F.lit(40_000)
        ).cast("long")
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(2) + F.pmod(wid, F.lit(4))),
                lambda k: F.char(
                    F.lit(97) + F.pmod(F.xxhash64(wid, k), F.lit(26))
                ),
            ),
            "",
        )

    def corpus(rows, exponent, salt):
        return (
            spark.range(0, rows, numPartitions=64)
            .withColumnRenamed("id", "doc_id")
            .select(
                "doc_id",
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(20)),
                        lambda i: _word(i, exponent, salt),
                    ),
                    " ",
                ).alias("text"),
            )
        )

    raw = corpus(n, 2, 0)
    target = corpus(max(n // 10, 1000), 3, 99)
    root = tempfile.mkdtemp(prefix="dsir_probe_")
    try:
        idx = DsirIndex(
            TableStore(spark, root), "m", hash_bits=14, hasher="xxhash64"
        )
        t0 = time.perf_counter()
        idx.bootstrap(raw, target)
        boot = time.perf_counter() - t0

        churn = F.col("doc_id") % 100 == 7  # 1%
        old = raw.filter(churn)
        new = old.withColumn("text", F.concat("text", F.lit(" extratok")))
        t0 = time.perf_counter()
        idx.update(raw_added=new, raw_removed=old)
        upd = time.perf_counter() - t0

        final = raw.withColumn(
            "text",
            F.when(churn, F.concat("text", F.lit(" extratok"))).otherwise(
                F.col("text")
            ),
        )
        idx2 = DsirIndex(
            TableStore(spark, root + "2"), "m", hash_bits=14, hasher="xxhash64"
        )
        t0 = time.perf_counter()
        idx2.bootstrap(final, target)
        rebuild = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "n_docs": n,
                    "dsirindex_probe": {
                        "churn_pct": 1.0,
                        "bootstrap_sec": round(boot, 2),
                        "update_sec": round(upd, 2),
                        "rebuild_sec": round(rebuild, 2),
                        "crossover": round(rebuild / upd, 2),
                    },
                }
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + "2", ignore_errors=True)


def html_probe(n: int) -> None:
    """html_extract at synthetic web scale: n HTML documents built
    from hash-derived content (comments, style/script containers,
    entities, block structure), extracted end-to-end through a noop
    sink. The claim under test is the 100 TB shape — map-only, zero
    exchanges, so wall time scales with rows and nothing shuffles.

    Usage: ``python bench_scale.py [n_rows] html``."""
    from updater_spark.operators.text import html_extract

    spark = get_spark("bench_scale_html")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.range(n, numPartitions=64).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(
                '<html><head><title>t</title><style>a{b:0}</style>'
                "</head><body><!-- hidden --><h1>Title "
            ),
            F.col("id").cast("string"),
            F.lit("</h1><p>word"),
            F.pmod(F.col("id"), F.lit(97)).cast("string"),
            F.lit(
                ' &amp;amp; body &lt;x&gt; text</p>'
                '<script>var q="<p>not text</p>";</script><div>tail&nbsp;'
            ),
            F.pmod(F.col("id"), F.lit(13)).cast("string"),
            F.lit("</div></body></html>"),
        ).alias("html"),
    )
    out = html_extract(base)
    plan = out._jdf.queryExecution().executedPlan().toString()
    out.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    out.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "n_rows": n,
                "html_probe": {
                    "wall_sec": round(wall, 3),
                    "rows_per_sec": round(n / wall),
                    "n_exchanges": plan.count("Exchange"),
                },
            }
        )
    )


def url_probe(n: int) -> None:
    """url_normalize + canonical-key dedup at crawl scale: n noisy
    URLs (case/port/tracking/query-order variants over n/8 canonical
    pages), normalized and grouped. The normalize stage must stay a
    pure projection; the only exchange is the dedup groupBy on
    canonical keys.

    Usage: ``python bench_scale.py [n_rows] url``."""
    from updater_spark.operators.text import url_normalize

    spark = get_spark("bench_scale_url")
    spark.sparkContext.setLogLevel("ERROR")
    base = spark.range(n, numPartitions=64).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.when(F.col("id") % 2 == 0, F.lit("HTTP://WWW.")).otherwise(
                F.lit("http://")
            ),
            F.lit("host"),
            F.pmod(F.col("id"), F.lit(n // 8)).cast("string"),
            F.lit(".example.com"),
            F.when(F.col("id") % 2 == 0, F.lit(":80")).otherwise(F.lit("")),
            F.lit("/p"),
            F.when(
                F.col("id") % 3 == 0, F.lit("?b=1&a=2&utm_q=z#f")
            ).otherwise(F.lit("?a=2&b=1")),
        ).alias("url"),
    )
    normed = url_normalize(base)
    plan = normed._jdf.queryExecution().executedPlan().toString()
    deduped = normed.groupBy("url_norm").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n"),
    )
    deduped.write.format("noop").mode("overwrite").save()  # warm
    t0 = time.perf_counter()
    deduped.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "n_rows": n,
                "url_probe": {
                    "wall_sec": round(wall, 3),
                    "rows_per_sec": round(n / wall),
                    "normalize_exchanges": plan.count("Exchange"),
                },
            }
        )
    )


def budget_probe(n: int) -> None:
    """budget_select on a [0, 1)-range quality score at scale — the
    exact shape where plain floor() bucketing degenerates to ONE
    bucket and the intra-bucket window becomes the single global sort
    the operator exists to avoid (VERDICT r8 "what's wrong" #1).
    Measures the fixed path (bucket_granularity=1000) against the
    degenerate one (granularity such that all rows share a bucket)
    on identical data.

    Usage: ``python bench_scale.py [n_rows] budget``."""
    from updater_spark.operators.sampling import budget_select

    spark = get_spark("bench_scale_budget")
    spark.sparkContext.setLogLevel("ERROR")
    base = (
        spark.range(n, numPartitions=64)
        .select(
            F.col("id").alias("doc_id"),
            (
                F.pmod(F.col("id") * 2654435761, F.lit(1000003))
                / F.lit(1000003.0)
            ).alias("q"),
            (F.pmod(F.col("id"), F.lit(7)) + 1).cast("int").alias("cost"),
        )
        .persist()
    )
    base.count()
    budget = float(n)  # mean cost 4 -> keeps ~25% of rows
    res = {"n_rows": n, "budget_probe": {}}
    for label, gran in (("granular_1000", 1000.0), ("degenerate_1", 1.0)):
        out = budget_select(
            base, budget=budget, cost_col="cost", order_col="q",
            bucket_granularity=gran,
        )
        t0 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        res["budget_probe"][label] = {
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(n / wall),
        }
    res["budget_probe"]["n_buckets_granular"] = base.selectExpr(
        "floor(q * 1000.0) AS b"
    ).distinct().count()
    print(json.dumps(res))


def hybrid_probe(
    n: int, n_queries: int = 10_000, champion_n: int | None = None
) -> None:
    """Hybrid retrieval end-to-end at scale (VERDICT r9 #8): ``n``
    synthetic docs carrying BOTH a text column (Zipf-ish words, the
    bpetrain generator) and a deterministic 16-dim embedding;
    ``n_queries`` queries probe the lexical leg (bm25_topk), the
    dense leg (ivf_topk over a 64-cell codebook), and rrf_fuse. The
    claim to verify: the corpus never enters the fusion — only the
    two legs' k-per-query rows do (reported as rows_into_fusion), so
    fusion cost is O(queries·k) regardless of corpus size. Pass
    ``champion_n`` to run the lexical leg with the champion-list cut
    (VERDICT r10 #3 follow-through: the r10 hybrid_1m end-to-end was
    185s with the exact leg at 159s of it — this measures the fixed
    pipeline with the cut in place rather than deriving it). Usage:
    ``python bench_scale.py 1000000 hybrid [n_queries] [champion_n]``."""
    from updater_spark.operators.similarity import ivf_topk
    from updater_spark.operators.text import bm25_topk, rrf_fuse

    spark = get_spark("bench_scale_hybrid")
    spark.sparkContext.setLogLevel("ERROR")

    def _word(i):
        wid = (
            F.pow(
                F.pmod(F.xxhash64("doc_id", i), F.lit(100_000))
                / F.lit(100_000.0),
                F.lit(2),
            )
            * F.lit(40_000)
        ).cast("long")
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(2) + F.pmod(wid, F.lit(4))),
                lambda k: F.char(
                    F.lit(97) + F.pmod(F.xxhash64(wid, k), F.lit(26))
                ),
            ),
            "",
        )

    dim = 16
    vec = F.array(
        *[
            (
                F.pmod(F.xxhash64("doc_id", F.lit(d)), F.lit(2000))
                / F.lit(1000.0)
                - F.lit(1.0)
            )
            for d in range(dim)
        ]
    )
    docs = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)), lambda i: _word(i)
                ),
                " ",
            ),
        )
        .withColumn("embedding", vec)
        .persist()
    )
    n_docs = docs.count()
    stride = max(1, n // n_queries)
    queries = docs.filter(F.col("doc_id") % stride == 0).select(
        F.col("doc_id").alias("qid"),
        F.substring("text", 1, 60).alias("qtext"),
    )
    qvecs = docs.filter(F.col("doc_id") % stride == 0).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    nq = queries.count()
    centroids = [
        list(r["embedding"])
        for r in docs.filter(F.col("doc_id") % 9973 == 5)
        .orderBy("doc_id")
        .limit(64)
        .collect()
    ]

    timings = {}
    t0 = time.time()
    lex = bm25_topk(docs, queries, k=10, champion_n=champion_n).persist()
    n_lex = lex.count()
    timings["bm25_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    dense = (
        ivf_topk(
            docs.select(F.col("doc_id").alias("vec_id"), "embedding"),
            qvecs,
            centroids,
            k=10,
            nprobe=4,
        )
        .select(
            F.col("query_id").alias("qid"),
            F.col("neighbor_id").alias("doc_id"),
            "rank",
        )
        .persist()
    )
    n_dense = dense.count()
    timings["ann_sec"] = round(time.time() - t0, 2)
    t0 = time.time()
    fused = rrf_fuse([lex.select("qid", "doc_id", "rank"), dense], k=10)
    n_fused = fused.count()
    timings["fuse_sec"] = round(time.time() - t0, 2)
    lex.unpersist()
    dense.unpersist()
    docs.unpersist()
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "n_queries": nq,
                "hybrid_probe": {
                    **timings,
                    "champion_n": champion_n,
                    "total_sec": round(
                        sum(timings.values()), 2
                    ),
                    "rows_into_fusion": n_lex + n_dense,
                    "fused_rows": n_fused,
                    "docs_x_queries": n_docs * nq,
                },
            }
        )
    )



def hybridchamp_probe(
    n: int, n_queries: int = 10_000, champion_n: int = 64
) -> None:
    """Champion-list BM25 vs exact at scale (VERDICT r10 #3): same
    corpus/queries as ``hybrid_probe``, run the bm25 leg BOTH ways,
    report wall per leg and recall@10 of the pruned leg against the
    exact leg's top-10 sets. The claim to verify: the cut takes the
    bm25 leg well under its exact cost (159s of the 185s hybrid_1m
    probe was the Zipf-head posting join) at ~equal recall@10 —
    head-term postings decide little under idf weighting, and the
    rare-term lists that do decide are shorter than ``champion_n``
    and therefore untouched. Usage:
    ``python bench_scale.py 1000000 hybridchamp [n_queries]``."""
    from updater_spark.operators.text import bm25_topk

    spark = get_spark("bench_scale_hybridchamp")
    spark.sparkContext.setLogLevel("ERROR")

    def _word(i):
        wid = (
            F.pow(
                F.pmod(F.xxhash64("doc_id", i), F.lit(100_000))
                / F.lit(100_000.0),
                F.lit(2),
            )
            * F.lit(40_000)
        ).cast("long")
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(2) + F.pmod(wid, F.lit(4))),
                lambda k: F.char(
                    F.lit(97) + F.pmod(F.xxhash64(wid, k), F.lit(26))
                ),
            ),
            "",
        )

    docs = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)), lambda i: _word(i)
                ),
                " ",
            ),
        )
        .persist()
    )
    n_docs = docs.count()
    stride = max(1, n // n_queries)
    queries = docs.filter(F.col("doc_id") % stride == 0).select(
        F.col("doc_id").alias("qid"),
        F.substring("text", 1, 60).alias("qtext"),
    )
    nq = queries.count()

    t0 = time.time()
    exact = bm25_topk(docs, queries, k=10).persist()
    n_exact = exact.count()
    exact_sec = round(time.time() - t0, 2)

    t0 = time.time()
    champ = bm25_topk(
        docs, queries, k=10, champion_n=champion_n
    ).persist()
    n_champ = champ.count()
    champ_sec = round(time.time() - t0, 2)

    hits = exact.select("qid", "doc_id").intersect(
        champ.select("qid", "doc_id")
    ).count()
    champ_rows = set(map(tuple, champ.collect()))

    # r12 (VERDICT r11 #7): the champion leg once more with
    # persist_posting=True — the r11 probe found the full-posting
    # cache 1.7× SLOWER for the exact leg but flat for the champion
    # leg; the keep/drop rule is ≥1.1× here, else default stays OFF.
    # CACHE ISOLATION: the persist-off leg's RESULT is cached above
    # and its canonicalized plan equals this leg's, so Spark's
    # CacheManager would silently substitute it (measured: 33.6 s →
    # 3.95 s of pure cache read); clear every cache and re-pin the
    # corpus before timing.
    spark.catalog.clearCache()
    docs.persist()
    docs.count()
    t0 = time.time()
    champ_p = bm25_topk(
        docs, queries, k=10, champion_n=champion_n,
        persist_posting=True,
    ).persist()
    n_champ_p = champ_p.count()
    champ_persist_sec = round(time.time() - t0, 2)
    champ_p_rows = set(map(tuple, champ_p.collect()))
    rows_equal = champ_rows == champ_p_rows
    spark.catalog.clearCache()
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "n_queries": nq,
                "hybridchamp_probe": {
                    "champion_n": champion_n,
                    "bm25_exact_sec": exact_sec,
                    "bm25_champion_sec": champ_sec,
                    "bm25_champion_persist_sec": champ_persist_sec,
                    "persist_rows_equal": rows_equal,
                    "speedup": round(exact_sec / champ_sec, 2)
                    if champ_sec
                    else None,
                    "exact_rows": n_exact,
                    "champion_rows": n_champ,
                    "champion_persist_rows": n_champ_p,
                    "recall_at_10": round(hits / n_exact, 4)
                    if n_exact
                    else None,
                },
            }
        )
    )


def dedupchar_probe(n: int) -> None:
    """Char-unit near-dup at scale (the r10 CJK-honesty work's scale
    question): ``n`` SPACELESS ~100-char docs — one giant "word"
    each, invisible to the word unit — with every 100th doc a
    near-copy of its neighbor (first 4 chars flipped, J ≈ 0.85 over
    5-gram char shingles). Shingle volume is ~96 per doc vs ~18 for
    word-unit 20-token docs (~5×, the documented price of honesty);
    the question is whether the banding stays bounded. Usage:
    ``python bench_scale.py 1000000 dedupchar``."""
    from updater_spark.operators.dedup import (
        band_hashes,
        lsh_verified_pairs,
        minhash_signatures,
    )

    spark = get_spark("bench_scale_dedupchar")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.range(0, n, numPartitions=64).withColumnRenamed(
        "id", "doc_id"
    )
    near = F.col("doc_id") % 100 == 99  # copies of doc_id-1
    src_id = F.when(near, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    chars = [
        F.char(
            F.lit(97)
            + F.pmod(
                F.xxhash64(
                    F.col("doc_id") if i < 4 else src_id, F.lit(i)
                ),
                F.lit(26),
            )
        )
        for i in range(100)
    ]
    docs = base.select("doc_id", F.concat(*chars).alias("text"))

    pairs = lsh_verified_pairs(
        docs, "doc_id", "text", n=5, threshold=0.5, shingle_unit="char"
    )
    agg = pairs.groupBy().agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("jaccard").alias("min_j"),
    )
    warm = lsh_verified_pairs(
        docs.filter(F.col("doc_id") < max(n // 100, 1000)),
        "doc_id", "text", n=5, threshold=0.5, shingle_unit="char",
    )
    warm.groupBy().count().write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    row = agg.first()
    wall = time.perf_counter() - t0

    sizes = (
        band_hashes(
            minhash_signatures(
                docs, "doc_id", "text", shingle_n=5, shingle_unit="char"
            ),
            16,
        )
        .groupBy("band", "band_hash")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(
            F.max("sz").alias("max"),
            F.expr("percentile_approx(sz, 0.99)").alias("p99"),
            F.count(F.lit(1)).alias("n_buckets"),
        )
        .first()
    )
    print(
        json.dumps(
            {
                "n_docs": n,
                "dedupchar_probe": {
                    "wall_sec": round(wall, 3),
                    "docs_per_sec": round(n / wall),
                    "pairs_found": row["n_pairs"],
                    "pairs_expected": n // 100,
                    # min() over zero verified pairs is NULL — emit
                    # null instead of crashing round(None)
                    "min_jaccard": (
                        round(row["min_j"], 4)
                        if row["min_j"] is not None
                        else None
                    ),
                    "bucket_sizes": {
                        "max": int(sizes["max"]),
                        "p99": int(sizes["p99"]),
                        "n_buckets": int(sizes["n_buckets"]),
                    },
                },
            }
        )
    )


def unigramtrain_probe(n: int, n_iters: int = 2) -> None:
    """Unigram-LM EM training at scale: same Zipf-ish corpus as
    bpetrain_probe. The scale claim: after the ONE corpus word count,
    every EM iteration runs on the distinct-word frequency table
    (a Viterbi fold + one vocab-sized groupBy) — report the
    corpus-to-state ratio and sec/iteration. Usage:
    ``python bench_scale.py 2000000 unigramtrain [n_iters]``."""
    from updater_spark.operators.tokenizer import unigram_train

    spark = get_spark("bench_scale_unigramtrain")
    spark.sparkContext.setLogLevel("ERROR")

    def _word(i):
        wid = (
            F.pow(
                F.pmod(F.xxhash64("doc_id", i), F.lit(100_000))
                / F.lit(100_000.0),
                F.lit(2),
            )
            * F.lit(40_000)
        ).cast("long")
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(2) + F.pmod(wid, F.lit(4))),
                lambda k: F.char(
                    F.lit(97) + F.pmod(F.xxhash64(wid, k), F.lit(26))
                ),
            ),
            "",
        )

    docs = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)), lambda i: _word(i)
                ),
                " ",
            ),
        )
        .persist()
    )
    n_docs = docs.count()
    t0 = time.time()
    vocab = unigram_train(
        docs, "text", vocab_size=200, n_iters=n_iters, max_piece_len=3
    ).collect()
    wall = round(time.time() - t0, 2)
    n_words = (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), " +")).alias("w")
        )
        .agg(F.countDistinct("w"))
        .collect()[0][0]
    )
    docs.unpersist()
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "unigramtrain_probe": {
                    "n_iters": n_iters,
                    "vocab_size_final": len(vocab),
                    "wall_sec": wall,
                    "sec_per_iter": round(wall / n_iters, 2),
                    "distinct_words": n_words,
                    "corpus_to_state_ratio": round(
                        n_docs * 20 / max(n_words, 1), 1
                    ),
                    "docs_per_sec": int(n_docs / wall),
                },
            }
        )
    )


def unigram8k_probe(n: int, vocab_size: int = 8000, n_iters: int = 1) -> None:
    """Unigram-LM at PRODUCTION vocab (VERDICT r10 what's-missing #4:
    the r10 probe ran |V|=177; wordpiece has its 8k precedent). Same
    Zipf corpus as unigramtrain_probe; reports s/EM-iteration for
    ``unigram_train`` at 8k pieces (the E-step Viterbi folds the
    distinct-word table against an 8k literal map — vocab-size-linear
    map probes, the measured reason the APPLY path belongs on arrow)
    and pieces/s for ``unigram_tokenize_arrow`` over the full corpus
    (O(1) dict probes — the deploy twin, byte-identical to Catalyst,
    pinned at 8k in tests/test_tokenizer_unigram8k.py). Usage:
    ``python bench_scale.py 500000 unigram8k [vocab] [iters]``."""
    from updater_spark.operators.tokenizer import (
        unigram_tokenize_arrow,
        unigram_train,
    )

    spark = get_spark("bench_scale_unigram8k")
    spark.sparkContext.setLogLevel("ERROR")

    def _word(i):
        wid = (
            F.pow(
                F.pmod(F.xxhash64("doc_id", i), F.lit(100_000))
                / F.lit(100_000.0),
                F.lit(2),
            )
            * F.lit(40_000)
        ).cast("long")
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(2) + F.pmod(wid, F.lit(4))),
                lambda k: F.char(
                    F.lit(97) + F.pmod(F.xxhash64(wid, k), F.lit(26))
                ),
            ),
            "",
        )

    docs = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)), lambda i: _word(i)
                ),
                " ",
            ),
        )
        .persist()
    )
    n_docs = docs.count()
    t0 = time.time()
    vocab_rows = unigram_train(
        docs, "text", vocab_size=vocab_size, n_iters=n_iters,
        max_piece_len=5,
    ).collect()
    train_wall = round(time.time() - t0, 2)
    vocab = [(r["piece"], r["logprob_scaled"]) for r in vocab_rows]

    t0 = time.time()
    n_pieces = (
        unigram_tokenize_arrow(docs, "text", vocab)
        .agg(F.sum("n_pieces"))
        .collect()[0][0]
    )
    apply_wall = round(time.time() - t0, 2)
    docs.unpersist()
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "unigram8k_probe": {
                    "vocab_size_final": len(vocab),
                    "n_iters": n_iters,
                    "train_wall_sec": train_wall,
                    "sec_per_iter": round(train_wall / n_iters, 2),
                    "apply_arrow_wall_sec": apply_wall,
                    "total_pieces": int(n_pieces),
                    "pieces_per_sec": int(n_pieces / apply_wall),
                    "docs_per_sec_apply": int(n_docs / apply_wall),
                },
            }
        )
    )


def imagehash_probe(n: int) -> None:
    """Perceptual image hash + banded near-dup at scale: ``n``
    synthetic ~200-byte blobs, every 100th a same-length near-copy of
    its neighbor (4 leading bytes flipped → ≤ 4 aHash bits). One
    Arrow scan hashes payloads; the banding join carries 8-byte
    hashes only. Usage: ``python bench_scale.py 10000000 image``."""
    from updater_spark.operators.multimodal import (
        image_ahash,
        image_neardup_pairs,
    )

    spark = get_spark("bench_scale_imagehash")
    spark.sparkContext.setLogLevel("ERROR")

    base = spark.range(0, n, numPartitions=64).withColumnRenamed(
        "id", "doc_id"
    )
    near = F.col("doc_id") % 100 == 99
    src_id = F.when(near, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    chars = [
        F.char(
            F.lit(33)
            + F.pmod(
                F.xxhash64(
                    F.col("doc_id") if i < 4 else src_id, F.lit(i)
                ),
                F.lit(90),
            )
        )
        for i in range(200)
    ]
    blobs = base.select(
        "doc_id", F.encode(F.concat(*chars), "UTF-8").alias("payload")
    ).persist()
    n_blobs = blobs.count()

    hashes = image_ahash(blobs)
    pairs = image_neardup_pairs(hashes, max_hamming=6, chunks=8)
    agg = pairs.groupBy().agg(F.count(F.lit(1)).alias("n_pairs"))
    # warm on a slice (codegen + Arrow worker startup)
    image_ahash(blobs.filter(F.col("doc_id") < max(n // 100, 1000))).agg(
        F.count(F.lit(1))
    ).write.format("noop").mode("overwrite").save()
    t0 = time.perf_counter()
    n_pairs = agg.first()["n_pairs"]
    wall = time.perf_counter() - t0
    # planted recall: how many (i-1, i) pairs with i%100==99 came out
    planted = (
        pairs.filter(
            (F.col("id_b") == F.col("id_a") + 1)
            & (F.col("id_b") % 100 == 99)
        ).count()
    )
    blobs.unpersist()
    print(
        json.dumps(
            {
                "n_blobs": n_blobs,
                "imagehash_probe": {
                    "wall_sec": round(wall, 3),
                    "blobs_per_sec": round(n_blobs / wall),
                    "pairs_found": int(n_pairs),
                    "planted_found": int(planted),
                    "planted_expected": n // 100,
                },
            }
        )
    )



def backofflm_probe(n: int, train_pct: int = 10) -> None:
    """Stupid Backoff LM scoring at scale: ``n`` synthetic ~20-word
    docs from the bpetrain Zipf-ish ~40k-form vocabulary; the train
    slice is every ``100/train_pct``-th doc (the CCNet trusted-subset
    shape). The scale claim under test: the three count-table
    shuffles carry the TRAIN slice's gram vocabulary (bounded by
    gram-form diversity), never the corpus token stream, and the
    score pass is gram-keyed joins + one per-doc agg. Report wall,
    docs/s, and the state-table sizes vs corpus tokens. Usage:
    ``python bench_scale.py 2000000 backofflm [train_pct]``."""
    from updater_spark.operators.text import backoff_logprob

    spark = get_spark("bench_scale_backofflm")
    spark.sparkContext.setLogLevel("ERROR")

    def _word(i):
        wid = (
            F.pow(
                F.pmod(F.xxhash64("doc_id", i), F.lit(100_000))
                / F.lit(100_000.0),
                F.lit(2),
            )
            * F.lit(40_000)
        ).cast("long")
        return F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(2) + F.pmod(wid, F.lit(4))),
                lambda k: F.char(
                    F.lit(97) + F.pmod(F.xxhash64(wid, k), F.lit(26))
                ),
            ),
            "",
        )

    docs = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(20)), lambda i: _word(i)
                ),
                " ",
            ),
        )
        .persist()
    )
    n_docs = docs.count()
    mod = max(100 // train_pct, 1)
    train_pred = F.col("doc_id") % mod == 0

    t0 = time.time()
    scored = backoff_logprob(docs, train_filter=train_pred)
    scored.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0

    # state-table sizes: the gram vocabularies the shuffles carry
    toks = docs.filter(train_pred).select(
        F.split(F.trim("text"), " +").alias("t")
    )
    grams = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at("t", i),
                    F.element_at("t", i + F.lit(1)),
                    F.element_at("t", i + F.lit(2)),
                ),
            )
        ).alias("g")
    )
    n_tri = grams.agg(F.countDistinct("g")).first()[0]
    n_uni = (
        toks.select(F.explode("t").alias("w"))
        .agg(F.countDistinct("w"))
        .first()[0]
    )
    docs.unpersist()
    corpus_tokens = n_docs * 20
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "backofflm_probe": {
                    "wall_sec": round(wall, 2),
                    "docs_per_sec": round(n_docs / wall),
                    "train_pct": train_pct,
                    "corpus_tokens": corpus_tokens,
                    "train_distinct_unigrams": n_uni,
                    "train_distinct_trigrams": n_tri,
                    "corpus_to_state_ratio": round(
                        corpus_tokens / max(n_tri, 1), 1
                    ),
                },
            }
        )
    )


def sq8_probe(
    n: int, dim: int = 64, n_queries: int = 100, topk_n: int | None = None
) -> None:
    """SQ8 at scale: synthetic ``n``×``dim`` corpus (hash-derived
    doubles in [-1, 1]). Three legs: (a) train — ONE agg with 2·dim
    partial-combining min/max expressions over the full corpus, no
    shuffle of vectors; (b) assign — the map-only d-expression
    quantize projection, noop-written (the leg that scans 100 TB);
    (c) search — the ARROW deploy twins end-to-end on a ``topk_n``
    sub-corpus: sq_topk_arrow (codes scanned, per-batch dequant +
    GEMM) timed against cosine_topk_arrow (full-float GEMM), plus
    recall@10 of the quantized path vs exact. Usage:
    ``python bench_scale.py 2000000 sq8 [dim]``."""
    from updater_spark.operators.similarity import (
        cosine_topk_arrow,
        sq_assign,
        sq_topk_arrow,
        sq_train,
    )

    spark = get_spark("bench_scale_sq8")
    spark.sparkContext.setLogLevel("ERROR")
    if topk_n is None:
        topk_n = n  # arrow GEMM handles the full corpus

    vec = F.array(
        *[
            (
                F.pmod(F.xxhash64("vec_id", F.lit(i)), F.lit(2001))
                - F.lit(1000)
            )
            / F.lit(1000.0)
            for i in range(dim)
        ]
    )
    corpus = (
        spark.range(0, n, numPartitions=64)
        .withColumnRenamed("id", "vec_id")
        .withColumn("embedding", vec)
        .persist()
    )
    corpus.count()

    t0 = time.time()
    model = sq_train(corpus, dim=dim)
    train_wall = time.time() - t0

    t0 = time.time()
    sq_assign(corpus, model).write.format("noop").mode("overwrite").save()
    assign_wall = time.time() - t0

    sub = corpus.filter(F.col("vec_id") < topk_n).persist()
    sub.count()
    sub_codes = sq_assign(sub, model).persist()
    sub_codes.count()
    queries = sub.filter(
        F.col("vec_id") % max(topk_n // n_queries, 1) == 0
    )
    t0 = time.time()
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in sq_topk_arrow(queries, sub_codes, model, k=10).collect()
    }
    topk_wall = time.time() - t0
    t0 = time.time()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk_arrow(sub, queries, k=10).collect()
    }
    exact_wall = time.time() - t0
    recall = len(approx & exact) / max(len(exact), 1)
    corpus.unpersist()
    sub.unpersist()
    sub_codes.unpersist()
    print(
        json.dumps(
            {
                "n_vectors": n,
                "sq8_probe": {
                    "dim": dim,
                    "train_sec": round(train_wall, 2),
                    "assign_sec": round(assign_wall, 2),
                    "assign_vecs_per_sec": round(n / assign_wall),
                    "topk_corpus": topk_n,
                    "topk_queries": n_queries,
                    "sq_arrow_topk_sec": round(topk_wall, 2),
                    "exact_arrow_topk_sec": round(exact_wall, 2),
                    "recall_at_10_vs_exact": round(recall, 4),
                },
            }
        )
    )


if __name__ == "__main__":
    _n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    if len(sys.argv) > 2 and sys.argv[2] == "bucketed":
        bucketed_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "pipeline":
        pipeline_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "dedup":
        dedup_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "ann":
        ann_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "cdc":
        cdc_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "spans":
        spans_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "semantic":
        semantic_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "cdcindex":
        cdcindex_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "annrss":
        annrss_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "semstream":
        semstream_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "semlsm":
        semlsm_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "retrain":
        retrain_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "nbtrain":
        nbtrain_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "streamjoin":
        streamjoin_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "zorder":
        zorder_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "joinview":
        joinview_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "schemaevo":
        schemaevo_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "semdecon":
        semdecon_probe(
            _n, int(sys.argv[3]) if len(sys.argv) > 3 else 10_000
        )
    elif len(sys.argv) > 2 and sys.argv[2] == "fuzzyjoin":
        fuzzyjoin_probe(_n, int(sys.argv[3]) if len(sys.argv) > 3 else 4)
    elif len(sys.argv) > 2 and sys.argv[2] == "bpe":
        bpe_probe(_n, int(sys.argv[3]) if len(sys.argv) > 3 else 0)
    elif len(sys.argv) > 2 and sys.argv[2] == "wordpiece":
        wordpiece_probe(
            _n, int(sys.argv[3]) if len(sys.argv) > 3 else 0
        )
    elif len(sys.argv) > 2 and sys.argv[2] == "pagerank":
        pagerank_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "triangles":
        triangles_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "pca":
        pca_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "quality":
        quality_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "anomaly":
        anomaly_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "sketches":
        sketches_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "dsir":
        dsir_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "dsirindex":
        dsirindex_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "kmeans":
        kmeans_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "quota":
        quota_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "logreg":
        logreg_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "hardneg":
        hardneg_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "html":
        html_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "budget":
        budget_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "url":
        url_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "bpetrain":
        bpetrain_probe(
            _n,
            int(sys.argv[3]) if len(sys.argv) > 3 else 30,
            byte_level=len(sys.argv) > 4 and sys.argv[4] == "bytes",
        )
    elif len(sys.argv) > 2 and sys.argv[2] == "dedupchar":
        dedupchar_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "unigram8k":
        unigram8k_probe(
            _n,
            int(sys.argv[3]) if len(sys.argv) > 3 else 8000,
            int(sys.argv[4]) if len(sys.argv) > 4 else 1,
        )
    elif len(sys.argv) > 2 and sys.argv[2] == "unigramtrain":
        unigramtrain_probe(
            _n, int(sys.argv[3]) if len(sys.argv) > 3 else 2
        )
    elif len(sys.argv) > 2 and sys.argv[2] == "image":
        imagehash_probe(_n)
    elif len(sys.argv) > 2 and sys.argv[2] == "hybrid":
        hybrid_probe(
            _n,
            int(sys.argv[3]) if len(sys.argv) > 3 else 10_000,
            int(sys.argv[4]) if len(sys.argv) > 4 else None,
        )
    elif len(sys.argv) > 2 and sys.argv[2] == "hybridchamp":
        hybridchamp_probe(
            _n,
            int(sys.argv[3]) if len(sys.argv) > 3 else 10_000,
            int(sys.argv[4]) if len(sys.argv) > 4 else 64,
        )
    elif len(sys.argv) > 2 and sys.argv[2] == "backofflm":
        backofflm_probe(
            _n, int(sys.argv[3]) if len(sys.argv) > 3 else 10
        )
    elif len(sys.argv) > 2 and sys.argv[2] == "sq8":
        sq8_probe(_n, int(sys.argv[3]) if len(sys.argv) > 3 else 64)
    else:
        main(_n)
