"""Benchmark the engine's headline queries.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": secs, "unit": "sec", "queries": {...},
"sf": ...}``.

Each query is forced end-to-end with the ``noop`` sink (full column
materialization, no driver collect). The flagship number to compare
against BASELINE.md is the hash-diff (J1) throughput: the reference
does 150k rows/s/core.

MEASUREMENT PROTOCOL (pinned, VERDICT r8 #1 — the flagship scalar
swung 2.45M -> 1.43M rows/s round-over-round on ZERO code change,
pure shared-VM machine state):

- ``hash_diff_in_run_rows_per_sec``: j1_diff_large's best-of-3 taken
  at its registry position inside the full loop — carries whatever
  code-cache/GC history the preceding queries built up.
- ``hash_diff_isolated_rows_per_sec``: the SAME best-of-3 in a FRESH
  subprocess JVM with only that query — no loop history. Three warm
  passes instead of one: a fresh JVM gets none of the JIT history the
  in-run leg inherits, and a single warm pass measurably
  under-reports steady state (864k vs 1.28M rows/s same machine).
  This is the number to track round-over-round; the in-run number
  bounds the position/interference effect.
- The CDC headline cycle (bootstrap / incremental / bucketed) runs
  BEFORE the query loop, so its numbers never inherit loop history.
- Historical machine band for reference against BASELINE.md's 150k
  rows/s: 1.1-2.5M rows/s across r6-r8 captures of identical code.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HASH_DIFF_QUERY = "j1_diff_large"


def _sf_of(sf_dir: str) -> float:
    sf = 0.1
    for tok in os.path.basename(os.path.normpath(sf_dir)).split("sf"):
        try:
            sf = float(tok)
        except ValueError:
            pass
    return sf


def _time_queries(spark, sf_dir, qs, warm_runs: int = 1):
    """Warm + best-of-3 noop-sink wall time per query (the single
    measurement primitive every mode shares, so in-run and isolated
    numbers differ only by process state, never by protocol).
    ``warm_runs`` raises the discarded warm-up count — the isolated
    hash-diff leg uses 3 because a fresh JVM gets none of the JIT
    history the in-run leg inherits from the loop, and one warm pass
    measurably under-reports its steady state."""
    timings: dict[str, float] = {}
    build_secs: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, fn in qs.items():
        # per-query isolation: one broken query must never zero out the
        # whole round's numbers (r1 lesson — BENCH_r01 was null)
        try:
            # from a clean cache, as cdcbench runs queries: no table an
            # earlier query cached may serve this one's warm or timed
            # passes
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            # materializing queries (streaming drains, stored-index
            # builds) do their real work in fn() and return a local
            # result — report that work instead of hiding it behind a
            # near-zero LocalTableScan write
            if t_build >= 0.05:
                build_secs[name] = round(t_build, 4)
            for _ in range(warm_runs):  # warm (file listings, codegen, JIT)
                df.write.format("noop").mode("overwrite").save()
            # best-of-3: single-shot wall times on a shared VM show ±50%
            # scheduler noise; min is the standard noise-free estimator
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 4)
        except Exception as e:
            errors[name] = f"{type(e).__name__}: {e}"[:500]
            # a query that failed its noop write must not leave a
            # build-time entry implying it ran
            build_secs.pop(name, None)
    return timings, build_secs, errors


def _isolated_hash_diff() -> tuple[int | None, str | None]:
    """Fresh-process j1_diff_large throughput: same warm + best-of-3,
    no loop history (VERDICT r8 #1). Returns (rows/s, error) — a
    failed subprocess reports WHY (returncode + stderr tail) instead
    of a silent None that the legacy key would paper over with the
    in-run number (ADVICE r9)."""
    try:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--hash-diff-only"],
            capture_output=True,
            text=True,
            timeout=600,
        )
    except Exception as e:
        return None, f"{type(e).__name__}: {e}"[:500]
    for line in reversed(proc.stdout.strip().splitlines()):
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if "hash_diff_isolated_rows_per_sec" in d:
            val = d["hash_diff_isolated_rows_per_sec"]
            sub_err = d.get("errors")
            return val, (json.dumps(sub_err)[:500] if sub_err else None)
    tail = (proc.stderr or proc.stdout or "").strip()[-400:]
    return None, f"rc={proc.returncode}; no result line; tail: {tail}"


def run_hash_diff_only() -> None:
    """Subprocess entry: measure ONLY the flagship hash-diff query in
    this fresh JVM and print its throughput as one JSON line."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from updater_spark import get_spark

    spark = get_spark("updater_spark_bench_hashdiff")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    timings, _, errors = _time_queries(
        spark, sf_dir, {HASH_DIFF_QUERY: qs[HASH_DIFF_QUERY]}, warm_runs=3
    )
    n_src = entrymod.demo.load(spark, sf_dir, "lineitem").count()
    t = timings.get(HASH_DIFF_QUERY)
    print(
        json.dumps(
            {
                "hash_diff_isolated_rows_per_sec": (
                    round(2 * n_src / t) if t else None
                ),
                "errors": errors or None,
            },
            allow_nan=False,
        )
    )


def run(only: list[str] | None = None) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from updater_spark import get_spark

    spark = get_spark("updater_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")
    sf = _sf_of(sf_dir)

    qs = entrymod.queries()
    if only:
        # single-query isolation (VERDICT r6 #4): measure one query in
        # a fresh JVM with no 100+-query code-cache/GC history, to
        # separate real regressions from bench-harness state
        unknown = [q for q in only if q not in qs]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        qs = {name: qs[name] for name in only}
        timings, build_secs, errors = _time_queries(spark, sf_dir, qs)
        # --only mode reports just the isolated timings, skipping the
        # fixed-cost CDC cycle + hash-diff accounting
        out = {
            "metric": "isolated_queries_wall",
            "value": round(sum(timings.values()), 4),
            "unit": "sec",
            "queries": timings,
            "build_secs": build_secs,
            "sf": sf,
            "n_errors": len(errors),
        }
        if errors:
            out["errors"] = errors
        print(json.dumps(out, allow_nan=False))
        return

    # End-to-end CDC cycle on a player-shaped table (the reference's
    # headline workload: bootstrap ~5-6h, incremental ~1h at 100M
    # rows). Runs BEFORE the query loop (pinned protocol) so the
    # headline block never inherits 171 queries of JVM history.
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from updater_spark.plans.cdc import CdcEngine
    from updater_spark.schema import TableSpec
    from updater_spark.sources.store import TableStore

    errors: dict[str, str] = {}
    t_boot = t_incr = t_incr_bucketed = None
    n_players = 0
    cdc_root = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        players = entrymod.demo.player_shaped(
            entrymod.demo.load(spark, sf_dir, "orders")
        )
        n_players = players.count()
        spec = TableSpec("player", "id", has_scores=False)
        # warm the CDC code paths on a 1k-row slice first: the block
        # runs before the query loop (pinned protocol) so a cold JVM
        # would otherwise charge classloading + codegen JIT to the
        # headline numbers — we measure the engine, not startup
        warm_root = os.path.join(cdc_root, "warm")
        warm_engine = CdcEngine(TableStore(spark, warm_root))
        warm_slice = players.limit(1000)
        warm_engine.update(spec, warm_slice)
        warm_engine.update(spec, warm_slice)
        mutated = players.withColumn(
            "cheese_gathered",
            F.when(
                F.col("id") % 20 == 0, F.col("cheese_gathered") + 1
            ).otherwise(F.col("cheese_gathered")),
        ).filter(F.col("id") % 97 != 0)
        # best-of-3, same primitive as the query loop (VERDICT r9 #1:
        # single-shot headline legs read 5.01s builder-side vs 8.69s
        # driver-side on the SAME tree — pure shared-VM noise). The
        # cycle is stateful (a second update of `mutated` would be a
        # ~no-change epoch, a different workload), so each trial gets
        # a fresh store root and runs the full bootstrap+incremental
        # cycle; min is taken per leg independently.
        t_boot = t_incr = t_incr_bucketed = float("inf")
        for trial in range(3):
            engine = CdcEngine(
                TableStore(spark, os.path.join(cdc_root, f"t{trial}"))
            )
            t0 = time.perf_counter()
            engine.update(spec, players)
            t_boot = min(t_boot, time.perf_counter() - t0)
            t0 = time.perf_counter()
            engine.update(spec, mutated)
            t_incr = min(t_incr, time.perf_counter() - t0)

            # same incremental cycle with the bucketed fingerprint
            # cache (shuffle-free replica side of the diff join): the
            # structural 100 TB lever, measured honestly at this sf.
            engine_b = CdcEngine(
                TableStore(spark, os.path.join(cdc_root, f"bucketed{trial}")),
                fingerprint_buckets=32,
            )
            engine_b.update(spec, players)
            t0 = time.perf_counter()
            engine_b.update(spec, mutated)
            t_incr_bucketed = min(
                t_incr_bucketed, time.perf_counter() - t0
            )
            for buf in (0, 1):
                spark.sql(
                    f"DROP TABLE IF EXISTS player__fingerprints__buf{buf}"
                )
    except Exception as e:  # isolated: the query timings still print
        errors["cdc_cycle"] = f"{type(e).__name__}: {e}"[:500]
    finally:
        shutil.rmtree(cdc_root, ignore_errors=True)
        # a trial-loop failure can leave a leg at its inf sentinel
        t_boot = None if t_boot in (None, float("inf")) else t_boot
        t_incr = None if t_incr in (None, float("inf")) else t_incr
        t_incr_bucketed = (
            None
            if t_incr_bucketed in (None, float("inf"))
            else t_incr_bucketed
        )

    timings, build_secs, q_errors = _time_queries(spark, sf_dir, qs)
    errors.update(q_errors)
    total = round(sum(timings.values()), 4)

    # Hash-diff throughput, both protocol legs: rows fingerprinted +
    # joined across both sides of the lineitem-scale J1 per second
    # (BASELINE.md: reference does 150k rows/s on one core).
    n_src = entrymod.demo.load(spark, sf_dir, "lineitem").count()
    diff_rows = 2 * n_src
    t_diff = timings.get(HASH_DIFF_QUERY)
    in_run = round(diff_rows / t_diff) if t_diff else None
    # the main JVM (local[32], full heap, cached state) is done — stop
    # it BEFORE spawning the isolated subprocess so the fresh JVM
    # isn't measured while competing with a 100-GB-heap sibling
    try:
        spark.stop()
    except Exception:
        pass
    isolated, iso_err = _isolated_hash_diff()
    if iso_err:
        errors["hash_diff_isolated"] = iso_err

    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # legacy key = the isolated leg (the stable round-over-round
        # comparator); both legs also reported explicitly
        "hash_diff_rows_per_sec": isolated or in_run,
        "hash_diff_in_run_rows_per_sec": in_run,
        "hash_diff_isolated_rows_per_sec": isolated,
        "cdc_bootstrap_sec": round(t_boot, 4) if t_boot else None,
        "cdc_incremental_sec": round(t_incr, 4) if t_incr else None,
        "cdc_incremental_bucketed_sec": (
            round(t_incr_bucketed, 4) if t_incr_bucketed else None
        ),
        "cdc_incremental_rows_per_sec": (
            round(n_players / t_incr) if t_incr else None
        ),
        "n_queries": len(timings),
        "n_errors": len(errors),
        # per-query plan/materialization cost where non-trivial (the
        # streaming and stored-index queries do their real work here)
        "build_secs": build_secs,
        "build_total_sec": round(sum(build_secs.values()), 4),
    }
    if errors:
        out["errors"] = errors
    # allow_nan=False: a NaN would make the line unparseable downstream
    print(json.dumps(out, allow_nan=False))
    # SECOND, SHORT summary line AFTER the full dict (VERDICT r5 #5):
    # the driver's tail capture truncates long output from the FRONT,
    # which lost exec_total + ~29 queries in BENCH_r04/r05 (parsed=
    # null both rounds). Printed last so it survives the tail window.
    #
    # r12 (VERDICT r11 #1b): the summary line now ALSO carries a
    # per-query "queries" dict so the driver can compute a real
    # round-over-round per-query table (PERF_r11.per_query was empty
    # because only this line survives the tail capture). The capture
    # window is 2000 chars (BENCH_r04..r11 artifacts all record
    # len(tail)==2000) while the FULL 194-query dict serializes to
    # ~4.6 KB — it cannot fit, so the summary's "queries" holds as
    # many entries as fit under a hard line budget, slowest first
    # (the rows that carry round-over-round signal; sub-0.3 s rows
    # are inside the sf0.1 noise band anyway, VERDICT r11 §noise).
    # The complete dict stays in the FIRST line (the original
    # contract line), unchanged — additions only, nothing removed:
    # slowest10 and every r11 summary key keep their exact meaning.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    summary = {
        "bench_summary": 1,
        "exec_total_sec": total,
        "build_total_sec": out["build_total_sec"],
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sf": sf,
        "hash_diff_in_run": in_run,
        "hash_diff_isolated": isolated,
        "cdc_bootstrap_sec": out["cdc_bootstrap_sec"],
        "cdc_incremental_sec": out["cdc_incremental_sec"],
        "slowest10": slowest,
        "queries": {},
    }
    # fill "queries" slowest-first until the serialized line would
    # exceed the budget; compact separators buy ~15% more entries.
    # 1900 leaves margin for the trailing newline inside the 2000-char
    # window — a summary line that outgrows the window is UNPARSEABLE
    # (front-truncated), which is strictly worse than a partial dict.
    line_budget = 1900
    ranked = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    for name, secs in ranked:
        summary["queries"][name] = round(secs, 2)
        if len(json.dumps(summary, separators=(",", ":"))) > line_budget:
            del summary["queries"][name]
            break
    print(json.dumps(summary, separators=(",", ":"), allow_nan=False))


if __name__ == "__main__":
    argv = sys.argv[1:]
    if argv and argv[0] == "--hash-diff-only":
        run_hash_diff_only()
    elif argv and argv[0] == "--only":
        if not argv[1:]:
            # an empty list would fall through to the FULL run — the
            # opposite of the requested isolation
            raise SystemExit("--only requires at least one query name")
        run(only=argv[1:])
    else:
        run()
