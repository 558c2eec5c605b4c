"""Shared plumbing for the benchmark workloads: the Spark session they run
on, set-up timing, held memory, latency summaries and the environment
stamp.  Nothing here changes what the program does; it only starts it with
its own settings and reads what it reports."""

from __future__ import annotations

import gc
import hashlib
import os
import platform
import resource
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data")


def jvm_local_flags() -> str:
    """Keep the JVM's temp files in the run's own temp dir and write no
    ``hsperfdata`` file to the system temp dir.  No heap or GC flags: the
    JVM runs with the memory settings of the program's ``get_spark``."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def start_spark(app: str):
    """A SparkSession through the program's own factory, on local[cores]."""
    from memory_opensource_spark.session import get_spark

    spark = get_spark(app, master=f"local[{cores()}]", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": jvm_local_flags(),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setups(spark, app: str, prepare, times: int = 3):
    """Set up ``times`` times inside the already-launched JVM: stop the
    session, build a new one through the program's factory and run the
    workload's preparation on it.  The first set-up is the first in this
    process, with cold imports and JIT; the median is over all of them.
    Returns (spark, median set-up seconds, median session-start
    milliseconds)."""
    totals, starts = [], []
    for _ in range(times):
        spark.stop()
        t0 = time.perf_counter()
        spark = start_spark(app)
        t1 = time.perf_counter()
        prepare(spark)
        totals.append(time.perf_counter() - t0)
        starts.append((t1 - t0) * 1000.0)
    return spark, statistics.median(totals), statistics.median(starts)


def held_memory(spark, tries: int = 20) -> dict:
    """Memory the program holds, in MB: JVM heap still live after full
    collections, JVM non-heap in use (metaspace, code cache) and the driver
    Python process's peak resident set.  The live heap counts what the
    program keeps (checkpointed blocks, caches, plans), not what the
    collector has yet to reclaim: under the program's own 8 GB heap the JVM
    pool peaks track when G1 happens to collect, and varied by 0.29 between
    seeds.  Spark's cleaner drops the blocks and shuffle files of
    unreferenced checkpoints only after a collection finds them, and takes
    its time doing so; this collects (Python first, so py4j releases the
    JVM twins of dead DataFrames) until three readings of the live heap in
    a row agree, and keeps the lowest."""
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(tries):
        gc.collect()
        jvm.java.lang.System.gc()
        readings.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        if len(readings) >= 3 and max(readings[-3:]) - min(readings[-3:]) < 2.0:
            break
        time.sleep(0.5)
    heap = min(readings)
    nonheap = mx.getNonHeapMemoryUsage().getUsed() / 2**20
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return {"held_mb": heap + nonheap + py_mb, "jvm_heap_live_mb": heap,
            "jvm_nonheap_mb": nonheap, "py_peak_mb": py_mb,
            "heap_readings_mb": readings}


def settle(spark) -> dict:
    """Untimed, just before a timed region: a full collection, so every run
    starts timing from the same heap state instead of from whatever the
    warm-up left for G1's concurrent cycle to clean up.  Returns the
    collectors' counters for ``gc_since``."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()
    return gc_counters(spark)


def gc_counters(spark) -> dict:
    """Collections and collection milliseconds so far, per JVM collector."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return {str(b.getName()): (b.getCollectionCount(), b.getCollectionTime()) for b in beans}


def gc_since(spark, before: dict) -> dict:
    """Collections and their milliseconds since ``before``, per collector."""
    now = gc_counters(spark)
    return {k: (n - before[k][0], ms - before[k][1]) for k, (n, ms) in now.items()}


def iqm(values: list[float]) -> float:
    """Interquartile mean: the mean of the middle half of the values (the
    lowest and highest ``n // 4`` dropped).  Like the median it ignores the
    extremes, but it averages several samples instead of resting on one."""
    xs = sorted(values)
    k = len(xs) // 4
    return statistics.mean(xs[k:len(xs) - k])


def tail_mean(values: list[float]) -> float:
    """Mean of the slowest quarter of the values (at least one): the tail a
    run can report when no percentile above the median has ten samples
    beyond it."""
    xs = sorted(values)
    k = max(1, -(-len(xs) // 4))
    return statistics.mean(xs[-k:])


def source_digest() -> str:
    """SHA-256 over the program's Python sources: identifies the code under
    test where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "memory_opensource_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def env_stamp(spark) -> dict:
    """What a reader needs to compare two runs' numbers."""
    java = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                          capture_output=True, text=True)
    java_lines = [ln for ln in (java.stderr + java.stdout).splitlines() if "version" in ln]
    sha = "unknown"  # the benchmark's checkout need not be a git repository
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or "unknown"
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "nproc": cores(),
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "java": java_lines[0] if java_lines else "",
        "git_sha": sha,
        "source_sha256": source_digest(),
        "argv": sys.argv[1:],
    }
