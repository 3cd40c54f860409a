"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest-backlog --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Builds the workload's inputs from
the seed, sets up a Spark session the way the ``cli`` does (``local[N]``
with N the usable CPUs), warms up, measures for ``--seconds``, checks every
output against the generator's values and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.

All files the run makes go under ``.bench_work/`` in the checkout and are
removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

STARTED = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "substreams_sink_parquet_spark"


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 2 GiB."""
    with open("/proc/meminfo") as fh:
        kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(2, kb // (4 * 1024 * 1024)))}g"


def set_environment(work: str) -> None:
    """Session settings, made here and nowhere else: CPUs, driver memory,
    the Python workers' import path and every scratch directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(usable_cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp


def start_spark(work: str, event_log_dir: str | None):
    from substreams_sink_parquet_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Dderby.system.home={work}",
    }
    if event_log_dir:
        os.makedirs(event_log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_memory(spark):
    """A function giving the memory the JVM holds, in bytes: its heap as
    the latest garbage collection left it, plus the non-heap memory it has
    in use."""
    factory = spark._jvm.java.lang.management.ManagementFactory
    bean = factory.getMemoryMXBean()
    collectors = list(factory.getGarbageCollectorMXBeans())
    # a collection reports every pool, the non-heap ones too
    heap_pools = {p.getName() for p in factory.getMemoryPoolMXBeans()
                  if p.getType().name() == "HEAP"}

    def held() -> int:
        infos = [i for i in (c.getLastGcInfo() for c in collectors) if i is not None]
        if infos:
            last = max(infos, key=lambda i: i.getEndTime())
            heap = sum(u.getUsed() for name, u in last.getMemoryUsageAfterGc().items()
                       if name in heap_pools)
        else:
            heap = bean.getHeapMemoryUsage().getUsed()
        return heap + bean.getNonHeapMemoryUsage().getUsed()

    return held


def descendants() -> set[int]:
    from spans import children_map

    kids, out, todo = children_map(), set(), [os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for every process this run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    procs = descendants()
    gateway = SparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm_proc is not None:
        if jvm_proc.stdin:
            jvm_proc.stdin.close()
        try:
            jvm_proc.wait(timeout=30)
        except Exception:
            jvm_proc.kill()
            jvm_proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads as W
    from spans import MemorySampler, cpu_times, read_event_log

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    set_environment(work)
    event_log_dir = os.path.join(work, "events") if args.trace else None
    steal0, total0 = cpu_times()
    mem = MemorySampler().start()
    try:
        spark = start_spark(work, event_log_dir)
        mem.watch_jvm(jvm_memory(spark))
        ctx = W.Ctx(spark, args.seed, args.seconds, bool(args.trace), work, STARTED)
        try:
            out = W.WORKLOADS[args.workload](ctx)
        finally:
            ctx.tracer.enabled = False
            mem.stop()
            stop_spark(spark)
        if out.finish is not None:
            out.finish(read_event_log(event_log_dir))
    finally:
        mem.stop()
        shutil.rmtree(work, ignore_errors=True)

    steal1, total1 = cpu_times()
    out.info["cpu_steal_share"] = round((steal1 - steal0) / max(1, total1 - total0), 4)
    if out.attempted:
        out.e2e["ok_ops_ratio"] = (out.attempted - out.failed) / out.attempted
    out.e2e["peak_mem_mb"] = mem.peak / 2**20
    if args.trace:
        wanted, got = W.PER_LAYER_UNITS, out.layer
        # layers this workload does not exercise read 0
        values = {k: got.get(k, 0.0) for k in wanted}
    else:
        wanted, values = W.END_TO_END_UNITS, out.e2e
        missing = sorted(set(wanted) - set(values))
        if missing:
            out.problems.append(f"metrics not measured: {missing}")
    for p in out.problems[:20]:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    print("perfbench: " + json.dumps(out.info, sort_keys=True), file=sys.stderr)
    print(json.dumps({
        "correct": not out.problems,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u}
                    for k, u in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
