"""Benchmark entry point.

    python3 perfbench/run.py --workload bigram_corpus --seed 1 --seconds 10 --trace 0

One driver process on ``local[$SPARK_GRAFT_CPUS]`` (default: every core it
may run on), one client in a closed loop: the next job starts only after
the previous one returned. The session is built by ``get_spark()`` with no
tuning variables set. The run prepares its inputs, sets up Spark, runs one
checked warm-up pass, then timed passes for ``--seconds``, checks their
outputs and stops every process it started.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
lines before it print every metric with its unit and the host and session
configuration. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CACHE = WORK / "inputs"

sys.path.insert(0, str(HERE))
if str(ROOT) not in sys.path:
    sys.path.insert(1, str(ROOT))

import workloads  # noqa: E402
from spans import Tracer  # noqa: E402

END_TO_END = (
    ("setup_s", "s"),
    ("pass_s_p50", "s"),
    ("input_mb_per_s", "MB/s"),
    ("heap_retained_mb", "MB"),
)
# A median needs more than one pass; iterative_graph passes take 8-12 s.
MIN_PASSES = 2
# Variables that re-tune the session; the benchmark measures the defaults.
TUNING_ENV = (
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "SPARK_GRAFT_OPEN_COST_BYTES",
    "SPARK_GRAFT_BROADCAST_THRESHOLD",
    "SPARK_GRAFT_DRIVER_MEM",
    "PYSPARK_SUBMIT_ARGS",
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="self-check size: 1 MB corpus, sf0.001 tables")
    args = ap.parse_args(argv)

    if importlib.util.find_spec("hadoop_map_reduce_spark") is None:
        print("perfbench: the hadoop_map_reduce_spark package is not in this checkout",
              file=sys.stderr)
        return 2

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _isolate(run_dir: Path) -> None:
    """Keep every file Spark and the package write inside the run dir."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    for name in TUNING_ENV:
        os.environ.pop(name, None)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_WAREHOUSE_DIR"] = str(run_dir / "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_dir / 'tmp'}"


def _run(args, run_dir: Path) -> int:
    wl = workloads.WORKLOADS[args.workload]
    tally = workloads.Tally()

    info = wl.prepare(CACHE, args.seed, args.tiny)  # outside set-up and timing

    t0 = time.perf_counter()
    from hadoop_map_reduce_spark import get_spark

    # The traced run turns off Spark's GC-driven RDD cleanup so that the
    # persistent-RDD deltas count exactly what a query leaves registered.
    extra = {"spark.cleaner.referenceTracking": "false"} if args.trace else None
    spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
    t1 = time.perf_counter()
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid
    try:
        sc.setLogLevel("ERROR")
        sc.parallelize(range(8), 4).map(lambda x: x * x).sum()
        t2 = time.perf_counter()

        ctx = workloads.Context(spark, Tracer(spark, bool(args.trace)), run_dir)
        wl.warm(ctx, tally)

        rdds_before = workloads.persistent_rdds(sc)
        walls: list[float] = []
        start = time.perf_counter()
        while len(walls) < MIN_PASSES or time.perf_counter() - start < args.seconds:
            walls.append(wl.run_pass(ctx, tally, len(walls)))
            ctx.tracer.resolve()
        leaked = (workloads.persistent_rdds(sc) - rdds_before) / len(walls)
        wl.check(ctx, tally)
        peak_rss = _hwm_mb(jvm_pid) + _hwm_mb(os.getpid())
        heap_retained = _retained_heap_mb(sc)
        config = _config(spark, args, info, len(walls))
        layers = wl.layer_metrics(ctx)
        ctx.tracer.dump(WORK / f"trace-{args.workload}-s{args.seed}.json",
                        {"config": config})
    finally:
        _stop(spark)

    e2e = {
        "setup_s": t2 - t0,
        "pass_s_p50": statistics.median(walls),
        "input_mb_per_s": wl.input_bytes * len(walls) / sum(walls) / 1e6,
        "heap_retained_mb": heap_retained,
    }
    # Printed on every run, emitted only by the traced run: the three
    # normally-zero figures have no spread to gate on, and peak RSS
    # follows the JVM's heap-growth decisions too closely to gate on.
    side = {
        "session.peak_rss_mb": peak_rss,
        "failed_share": tally.failed / tally.attempted,
        "wrong_outputs": tally.wrong,
        "leaked_rdds_per_pass": leaked,
    }
    units = dict(END_TO_END) | dict(workloads.per_layer_names())
    print("config " + json.dumps(config, sort_keys=True))
    for err in tally.errors:
        print(f"error {err}")
    print(" ".join(
        f"{k}={v:.6g}{units[k]}" for k, v in (e2e | side).items()
    ) + f" pass_walls_s={[round(w, 3) for w in walls]}")

    if args.trace:
        layers |= side | {
            "session.get_spark_s": t1 - t0,
            "session.first_action_s": t2 - t1,
        }
        metrics = {
            name: {"value": layers.get(name, 0), "unit": unit}
            for name, unit in workloads.per_layer_names()
        }
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    print(json.dumps({
        "correct": tally.wrong == 0 and tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


def _config(spark, args, info: dict, passes: int) -> dict:
    conf = spark.conf
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "passes": passes,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "shuffle_partitions": conf.get("spark.sql.shuffle.partitions"),
        "max_partition_bytes": conf.get("spark.sql.files.maxPartitionBytes"),
        "broadcast_threshold": conf.get("spark.sql.autoBroadcastJoinThreshold"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        **info,
    }


def _hwm_mb(pid: int) -> float:
    """High-water resident set of ``pid`` in MiB (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _retained_heap_mb(sc) -> float:
    """JVM heap still in use after the passes, once garbage is collected.

    Python's collection first releases the JVM objects that unreachable
    DataFrames still pin through the gateway. The second JVM collection
    runs after Spark's cleaner has had a moment to drop the blocks of RDDs
    that the first one found unreachable.
    """
    gc.collect()
    mx = sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    time.sleep(1.0)
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(entry))
    return kids


def _stop(spark) -> None:
    """Stop Spark, end the JVM and its Python workers, and wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    procs = []
    stack = [proc.pid]
    while stack:
        kids = _children(stack.pop())
        procs += kids
        stack += kids
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    if fh.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
