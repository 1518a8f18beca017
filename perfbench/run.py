"""Benchmark runner: one workload, one process, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload sql_window --seed 1 --seconds 24 --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``sql_window``: short analyst queries from the certified window;
- ``lake_ingest``: file arrival -> harvest -> stream -> partitioned lake.

The amount of work in a run is fixed from ``--seconds`` and each
workload's nominal unit time on a 4-core host (a query pass or an ingest
tick), so every run of a workload does the same work whatever the seed
or the speed of the program. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` turns on Spark's event log and job-group tagging
and reports the per-layer metrics instead. The last stdout line is the
JSON result; the lines before it print every metric with its unit and
sample count.

Exits non-zero without a result line when the program cannot be
imported or set up.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("sql_window", "lake_ingest")
# nominal seconds of one unit of work on a 4-core host (one pass over
# the query list, one ingest tick): --seconds / UNIT_S units per run
UNIT_S = {"sql_window": 12.0, "lake_ingest": 8.0}
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.live_memory_mb": "MB",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_job_s": "s",
    "exec.s": "s",
    "exec.catalyst_s": "s",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "exec.aqe_replans": "count",
    "exec.retained_block_mb": "MB",
    "harvest.s": "s",
    "stream.add_batch_s": "s",
    "stream.overhead_s": "s",
    "stream.input_rows": "count",
    "downloader.fresh_ratio": "ratio",
    "downloader.quarantined": "count",
    "downloader.jobs": "count",
    "sources.read_catalog_s": "s",
    "sources.fetch_ok": "count",
    "sources.fetch_failed": "count",
    "io.lake_read_s": "s",
    "io.lake_files": "count",
    "io.bytes_written": "bytes",
}


def seconds_since_process_start() -> float:
    """Wall time since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def live_heap_mb(sc) -> float:
    """JVM heap in use after a full collection: the objects the driver
    still holds."""
    jvm = sc._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def p90(samples: list[float]) -> float:
    if len(samples) < 2:
        return samples[0]
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


def prepare_env(work: str, cpus: int) -> None:
    """Environment the package reads at import time, set before importing it."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # executors' Python workers (mapInPandas fetch stages) import the
    # package too: they inherit PYTHONPATH, not this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits on EOF on its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cpus",
        type=int,
        default=len(os.sched_getaffinity(0)),
        help="Spark local[N] threads (default: usable cores; 1 = baseline)",
    )
    args = ap.parse_args()
    traced = args.trace == 1
    units = max(1, round(args.seconds / UNIT_S[args.workload]))

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        prepare_env(work, args.cpus)
        return run(args, traced, units, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)  # only if no other run is using it


def run(args, traced: bool, units: int, work: str) -> int:
    import eventlog
    import gen_tables
    import lake_ingest
    import sql_window
    from etl_marketdata_downloader_archived_spark.session import get_spark

    # inputs: generated per run, excluded from setup_s
    t_gen = time.perf_counter()
    if args.workload == "lake_ingest":
        wl = lake_ingest.LakeIngest(os.path.join(work, "ingest"), args.seed, units)
    else:
        sf_dir = os.path.join(work, "tables")
        gen_tables.write_tables(sf_dir)
        wl = sql_window.SqlWindow(sf_dir, args.seed, units)
    input_gen_s = time.perf_counter() - t_gen

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    log_dir = os.path.join(work, "eventlog")
    if traced:
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", master=f"local[{args.cpus}]", extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    try:
        if traced:
            sc.setJobGroup("warmup", "warmup")
        checked = wl.warm_up(spark)
        setup_s = seconds_since_process_start() - input_gen_s
        window_start_ms = int(time.time() * 1000)
        checked += wl.measure(spark, traced)
        window_end_ms = int(time.time() * 1000)
        if traced:
            jvm_peak_rss_mb = vm_hwm_mb(jvm_pid)
            live_memory_mb = live_heap_mb(sc) + resource.getrusage(
                resource.RUSAGE_SELF
            ).ru_maxrss / 1024
    finally:
        stop_spark(spark)

    errors = [e for e in checked if e]
    for e in errors:
        print(f"FAILED {e}", file=sys.stderr)
    latencies, done = wl.samples()
    samples = len(latencies)
    if traced:
        layers = {k: 0.0 for k in PER_LAYER}
        layers.update(wl.layers)
        layers.update(eventlog.summarize(log_dir, (window_start_ms, window_end_ms)))
        layers["session.get_spark_s"] = get_spark_s
        layers["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb
        layers["session.live_memory_mb"] = live_memory_mb
        listed = layers.pop("downloader.listed", 0.0)
        landed = layers.pop("downloader.landed", 0.0)
        layers["downloader.fresh_ratio"] = landed / listed if listed else 0.0
        report = {k: (layers[k], PER_LAYER[k]) for k in PER_LAYER}
    else:
        values = {
            "setup_s": setup_s,
            "throughput_per_s": done / sum(latencies),
            "latency_p50_s": statistics.median(latencies),
            "latency_p90_s": p90(latencies),
        }
        report = {k: (values[k], END_TO_END[k]) for k in END_TO_END}
    print(
        f"workload={args.workload} seed={args.seed} units={units} cpus={args.cpus} "
        f"trace={args.trace} samples={samples} timed_s={sum(latencies):.3f} "
        f"input_gen_s={input_gen_s:.3f} get_spark_s={get_spark_s:.3f} "
        f"wall_s={seconds_since_process_start():.3f}"
    )
    for k, (v, unit) in report.items():
        n = 1 if k == "setup_s" or k.startswith("session.") else samples
        print(f"  {k:<28} {v:>16.6f} {unit:<6} samples={n}")
    print(
        json.dumps(
            {
                "correct": not errors,
                "attempted": len(checked),
                "failed": len(errors),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
