"""Benchmark entry point.

    python3 perfbench/run.py --workload nfl_pressure --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. Starts one local Spark session on all
cores and prepares the workload's inputs from ``--seed`` (several
times, to time it): that is the set-up. Then it runs units of work
until ``--seconds`` have passed, checks every output, and prints one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` instead
runs a warm-up unit, an untraced unit and a traced unit and reports the
per-layer metrics; see README.md. Everything the run writes stays under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# at most this many full collections while the JVM's live heap shrinks
GC_ROUNDS = 8

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "op_p50_s": "s",
    "driver_mem_mb": "MB",
}

SPANS = [
    "op", "session.pin",
    "pipelines.nfl.main_df", "pipelines.nfl.qb_set_point",
    "pipelines.nfl.rusher_frames", "pipelines.nfl.pressure_metric",
    "pipelines.nfl.finalize", "pipelines.nfl.outputs",
    "ml.fit", "ml.rankings",
    "pipelines.curation.after_quality",
    "pipelines.curation.after_line_dedup",
    "pipelines.curation.after_exact_dedup",
    "pipelines.curation.after_near_dedup",
    "pipelines.curation.after_decontamination",
    "pipelines.curation.chunks", "pipelines.curation.pack",
    "pipelines.curation.sink",
    "streaming.curation.batch", "streaming.curation.curate",
    "sources.lease",
]
SPAN_FIELDS = {"calls": "count", "self_s": "s", "jobs": "count",
               "executor_cpu_s": "s"}
TOTALS = {
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.gc_s": "s",
    "spark.unattributed_jobs": "count", "driver.self_s": "s",
    "sources.write_mb": "MB", "sources.tmp_bytes_left": "bytes",
    "session.persistent_rdds": "count", "session.broadcasts_live": "count",
    "trace.overhead_ratio": "ratio", "trace.reconcile_error": "ratio",
}
# traced self times must add up to the traced unit's wall time
RECONCILE_TOLERANCE = 0.02


def per_layer_units() -> dict[str, str]:
    out = {f"{s}.{f}": u for s in SPANS for f, u in SPAN_FIELDS.items()}
    out.update(TOTALS)
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_dirs(work: str) -> dict[str, str]:
    """Point every temp/scratch location at ``work`` before the JVM
    starts, so a run writes nothing outside the checkout."""
    dirs = {k: os.path.join(work, k)
            for k in ("tmp", "spark-local", "warehouse", "ckpt", "inputs")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={dirs['tmp']}")
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    import tempfile
    tempfile.tempdir = dirs["tmp"]
    return dirs


def start_spark(dirs: dict[str, str]):
    from big_data_bowl___2023_spark.session import get_spark
    # local[nproc], with the engine's own partition sizing for that
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the engine's own session config; only locations and the status
    # store's retention are changed
    spark = get_spark(extra_conf={
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(dirs["ckpt"])
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------- memory

def _hwm_kb() -> int:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def settle_jvm(spark) -> int:
    """Runs full collections until the driver JVM's live heap stops
    shrinking; returns what the JVM then holds: heap in use after the
    last collection plus non-heap in use, in bytes.

    `driver_mem_mb` uses this rather than the JVM's peak: with the
    engine's 12 GB heap the peak follows when G1 collects and how large
    it lets eden grow, which spread 18-31 % across seeds."""
    # py4j proxies the Python side dropped keep their JVM objects alive
    # until Python collects them and py4j's finalizer thread, which
    # polls its queue once a second, has told the JVM
    gc.collect()
    pending = getattr(spark.sparkContext._gateway._gateway_client,
                      "finalizer_deque", ())
    deadline = time.monotonic() + 10
    while pending and time.monotonic() < deadline:
        time.sleep(0.05)
    jvm = spark._jvm
    pools = list(jvm.java.lang.management.ManagementFactory
                 .getMemoryPoolMXBeans())
    readings = []
    for _ in range(GC_ROUNDS):
        jvm.java.lang.System.gc()
        readings.append(sum(p.getCollectionUsage().getUsed()
                            if p.getType().toString() == "HEAP"
                            else p.getUsage().getUsed() for p in pools))
        if len(readings) >= 3 and \
                max(readings[-3:]) - min(readings[-3:]) < 2**20:
            break
        # Spark's ContextCleaner frees the blocks of broadcasts and RDDs
        # that a collection found unreachable only afterwards, so the
        # next collection can find less, sometimes only the one after
        time.sleep(0.3)
    return readings[-1]


def _reset_hwm() -> None:
    with contextlib.suppress(OSError), \
            open("/proc/self/clear_refs", "w") as f:
        f.write("5")


# ------------------------------------------------------------- leaks

def leak_counters(spark, tmp_dir: str) -> dict[str, float]:
    from workloads import tree_bytes
    sc = spark.sparkContext
    bm = sc._jsc.sc().env().blockManager()
    broadcasts = 0
    it = bm.blockInfoManager().entries()
    while it.hasNext():
        block_id = it.next()._1()
        if block_id.isBroadcast() and "_piece" not in block_id.name():
            broadcasts += 1
    return {"session.persistent_rdds": len(sc._jsc.getPersistentRDDs()),
            "session.broadcasts_live": broadcasts,
            "sources.tmp_bytes_left": tree_bytes(tmp_dir)}


# -------------------------------------------------------------- modes

def measure(wl, seconds: float):
    """Untraced units until ``seconds`` have passed (at least one)."""
    units = []
    t0 = time.perf_counter()
    while not units or time.perf_counter() - t0 < seconds:
        units.append(wl.unit())
    return units


def end_to_end(wl, args, setup_s: float, spark):
    _reset_hwm()
    units = measure(wl, args.seconds)
    # the Python side's peak, the JVM's live set after the units
    mem_mb = (_hwm_kb() * 1024 + settle_jvm(spark)) / 2**20
    lat = [op.latency_s for u in units for op in u.ops]
    problems = [p for u in units for p in wl.check(u)]
    metrics = {
        "setup_s": setup_s,
        "run_s": statistics.median(u.wall_s for u in units),
        "op_p50_s": statistics.median(lat),
        "driver_mem_mb": mem_mb,
    }
    return metrics, problems, []


def traced(wl, spark, dirs):
    """One warm-up unit, one untraced unit, one traced unit (so the
    overhead ratio compares warm with warm). Besides the per-operation
    problems, returns the trace's own consistency errors."""
    import tracing as tr
    sc = spark.sparkContext
    problems = wl.check(wl.unit())
    plain = wl.unit()
    problems += wl.check(plain)
    tracer = tr.Tracer(tr.spark_group_setter(sc))
    after = tr.last_ids(sc)
    with tr.Instrumentation(tracer, "big_data_bowl___2023_spark") as inst:
        wl.instrument(inst)
        wl.tracer = tracer
        try:
            t0 = time.time()
            with tracer.span("op"):
                unit = wl.unit()
            t1 = time.time()
        finally:
            wl.tracer = None
    problems += wl.check(unit)
    jobs = tr.read_jobs(sc, after)
    summary = tr.summarise(tracer.spans, jobs, (t0, t1))
    metrics = {}
    for name in SPANS:
        ls = summary.layers.get(name, tr.LayerStats())
        for f in SPAN_FIELDS:
            metrics[f"{name}.{f}"] = getattr(ls, f)
    metrics.update(summary.totals)
    reconcile = abs(summary.totals["trace.self_sum_s"] - (t1 - t0)) \
        / (t1 - t0)
    metrics.pop("trace.self_sum_s")
    metrics["sources.write_mb"] = unit.write_mb / len(unit.ops)
    metrics["trace.overhead_ratio"] = (t1 - t0) / plain.wall_s
    metrics["trace.reconcile_error"] = reconcile
    settle_jvm(spark)
    metrics.update(leak_counters(spark, dirs["tmp"]))
    errors = []
    unknown = sorted(set(summary.layers) - set(SPANS))
    if unknown:
        errors.append(f"spans outside the metric list: {unknown}")
    if reconcile > RECONCILE_TOLERANCE:
        errors.append(f"span self times miss the unit wall time by "
                      f"{reconcile:.1%}")
    stray = tr.jobs_outside_their_span(tracer.spans, jobs)
    if stray:
        errors.append(f"{len(stray)} jobs started outside the span "
                      f"their job group names: {stray[:5]}")
    return metrics, problems, errors


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import big_data_bowl___2023_spark  # noqa: F401
    except ImportError as e:
        print(f"the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    clock = time.perf_counter()

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        print(f"phase {name}: {now - clock:.2f} s", file=sys.stderr)
        clock = now

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    dirs = prepare_dirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(dirs)
        session_s = time.perf_counter() - t0
        phase("session")
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        preps = []
        for i in range(SETUP_REPEATS):
            d = os.path.join(dirs["inputs"], str(i))
            t0 = time.perf_counter()
            wl.setup(d)
            preps.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(preps)
        phase("inputs")
        if args.trace:
            metrics, problems, errors = traced(wl, spark, dirs)
            units = per_layer_units()
        else:
            metrics, problems, errors = end_to_end(wl, args, setup_s,
                                                   spark)
            units = END_TO_END
        phase("measure+check")
        failed = sum(1 for p in problems if p)
        for msg in [m for p in problems for m in p] + errors:
            print(f"check failed: {msg}", file=sys.stderr)
        print(f"{args.workload} seed={args.seed} inputs="
              f"{json.dumps(wl.properties())} failed_ratio="
              f"{failed / len(problems):.4f}", file=sys.stderr)
        result = {
            "correct": failed == 0 and not errors,
            "attempted": len(problems),
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
        phase("stop")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
