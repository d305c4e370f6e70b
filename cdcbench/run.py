"""Run one benchmark workload and print its result as one JSON line.

Usage, from the repository root::

    python3 cdcbench/run.py --workload cdc_cycle_stream --seed 1 \
        --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with spans on and prints the per-layer metrics instead.
Everything the run writes (inputs, store, checkpoints, Spark scratch)
lives in a run directory under ``.cdcbench_runs/`` that is removed at
exit, so the tree is unchanged afterwards. Metric definitions and the
layer-to-end-to-end map are in ``cdcbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(run_dir: str, trace: bool):
    """The package's own session factory, with the run's scratch
    directories and the console progress bar off."""
    from updater_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage record of the run for the trace
        conf["spark.ui.retainedJobs"] = conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark("cdcbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM the session launched and wait for
    it, so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def jvm_heap_live_mb(spark) -> float:
    """The driver heap in use after a full collection at run end: what
    the run still holds."""
    bean = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Python's collector first: it releases the JVM objects its
    # dropped handles still pin. A collection lets Spark's cleaner
    # drop the blocks of unreachable broadcasts and shuffles, which
    # the next collection frees. The cleaner runs in its own thread
    # and lags on a busy host, so collect until three readings in a
    # row agree.
    gc.collect()
    readings: list[float] = []
    for _ in range(20):
        spark._jvm.java.lang.System.gc()
        time.sleep(0.3)
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 0.5:
            break
    return min(readings)


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def run_workload(name: str, seed: int, seconds: float, trace: bool, run_dir: str) -> dict:
    from cdcbench import workloads
    from cdcbench.trace import Tracer, harvest, layer_metrics

    stage, warm, measure = workloads.WORKLOADS[name]
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(_cores())

    # set-up: JVM launch and session start with the package's own
    # settings (driver heap included), input staging, and the untimed
    # warm-up on a scratch store
    run = workloads.Run(run_dir, seed, seconds)
    t0 = time.perf_counter()
    spark = start_session(run_dir, trace)
    try:
        staged = stage(run)
        warm(spark, run, staged)
        setup_s = time.perf_counter() - t0
        if trace:
            run.tracer = Tracer(spark.sparkContext)
        measure(spark, run, staged)
        if trace:
            jobs, stages = harvest(spark.sparkContext)
            metrics = layer_metrics(run.tracer, jobs, stages, _cores(), workloads.QUERIES)
            store_root = run.store_root
            live = sum(
                workloads.checks.table_rows(workloads.TableStore(spark, store_root), t)
                for t in ("player", "tribe", "member")
            ) if os.path.isdir(store_root) else 0
            metrics["sources.store.bytes_per_row"] = _dir_bytes(store_root) / live if live else 0
            metrics["peak_rss_mb"] = jvm_peak_rss_mb(spark)
            metrics["trace.epoch_p50_s"] = workloads.end_to_end(run, setup_s, 0)["epoch_s_p50"]
            metrics["trace.bootstrap_s"] = run.bootstrap_s
        else:
            metrics = workloads.end_to_end(run, setup_s, jvm_heap_live_mb(spark))
    finally:
        stop_session(spark)
    print(
        f"{name}: set-up {setup_s:.1f} s, bootstraps {[round(u, 2) for u in run.bootstraps]}, "
        f"{len(run.units)} timed units {[round(u, 2) for u in run.units]}, {run.timed_s:.1f} s timed, "
        f"{run.attempted} checked, {run.failed} failed",
        file=sys.stderr,
    )
    for p in run.problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    from cdcbench import workloads  # fails when the engine is absent

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    runs = os.path.join(ROOT, ".cdcbench_runs")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in result["metrics"].items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
