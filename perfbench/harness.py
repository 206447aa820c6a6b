"""Process-level plumbing shared by the workloads: environment, Spark
session lifetime, statistics, memory and storage accounting."""

from __future__ import annotations

import math
import os
import resource
import statistics
import subprocess
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

# one fixed Spark job timed at the start and the end of every run: a
# host-drift canary, reported as a diagnostic only
CANARY_ROWS = 4_000_000

# Speed probe: fixed work timed in CPU seconds before every measured
# operation. CPU seconds per operation still rise when the host's cores
# run slower (other tenants on the same cores, caches and memory
# bandwidth, clock speed): whole runs shifted by 5-10% that way, and
# once by a factor of two. The operations run Python on the driver and
# Spark jobs in the JVM, so the probe has a part of each: an interpreter
# loop with numpy sums over 8 MB, and a four-task Spark job. The CPU
# metrics are scaled by how much faster than its reference time each
# part ran (see run.scale_to_reference and STEADINESS.md). The reference
# times are the parts' typical CPU times on the 4-core VM the bounds
# were set on.
PROBE_LOOP = 300_000
PROBE_ARRAY = np.arange(1_000_000, dtype=np.int64)
PROBE_ROWS = 1_000_000
PROBE_REF_PY_S = 0.012
PROBE_REF_JOB_S = 0.15


def configure_env() -> None:
    """Point every path Spark, the JVM and Python workers write to
    inside the checkout, and make the package importable on executors
    (Python workers resolve it from PYTHONPATH, not sys.path)."""
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"  # with -Xms1g: a fixed heap
    # no hsperfdata files in /tmp, from the launcher JVM or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(cores: int = 4):
    from no_jvm_wap_with_iceberg_spark import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # C1 only: the driver JVM reaches its steady speed within the
            # warm-up stretch; under the default tiered compiler latency
            # kept falling for ~50 operations, longer than a run. C1-only
            # shrinks the code cache to 48 MB, which Spark's generated
            # classes fill within a minute; the flusher then evicts
            # compiled code and seconds of recompilation land in whichever
            # operations run next, so the cache is made large enough to
            # never flush.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
                "-Xms1g -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python worker daemons it forked) to exit."""
    from py4j.protocol import Py4JError

    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Py4JError:  # the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # last resort: do not leave it running
            proc.kill()
            proc.wait(timeout=30)


def canary_s(spark) -> float:
    t0 = time.perf_counter()
    spark.range(CANARY_ROWS, numPartitions=4).selectExpr(
        "sum(id % 7)", "max(id * 3)"
    ).collect()
    return time.perf_counter() - t0


class CpuClock:
    """CPU seconds used by the driver: this Python process plus the JVM
    (every JVM thread, Spark's local executors included). Read through
    Linux per-process CPU clocks, so time a vCPU is stolen by the host
    is not counted."""

    def __init__(self, spark):
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self._jvm = ((~int(jvm_pid)) << 3) | 2  # CPUCLOCK_SCHED of that pid

    def __call__(self) -> float:
        return time.process_time() + time.clock_gettime(self._jvm)


def speed_probe(spark, cpu) -> tuple[float, float]:
    """CPU seconds of one run of the speed probe: its Python part (this
    process) and its Spark job (this process plus the JVM)."""
    c0 = time.process_time()
    x = 0
    for i in range(PROBE_LOOP):
        x += i
    for _ in range(10):
        PROBE_ARRAY.sum()
    py = time.process_time() - c0
    c0 = cpu()
    spark.range(PROBE_ROWS, numPartitions=4).selectExpr("sum(id % 7)", "max(id * 3)").collect()
    return py, cpu() - c0


def peak_rss_mb(spark) -> float:
    """High-water RSS of the driver: this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, ValueError):
        pass
    return (py_kb + jvm_kb) / 1024.0


def tree_bytes(root: str, suffixes: tuple[str, ...]) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(suffixes) and ".tmp." not in n:
                total += os.path.getsize(os.path.join(dirpath, n))
    return total


def tail_percent(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 11:
        return None
    return int(math.floor(100.0 * (n - 10) / n))


def percentile(values: list[float], pct: float) -> float:
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = (len(s) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def summarize(lat: dict[str, list[float]]) -> dict[str, dict]:
    """Per operation kind: sample count, median and tail (when there
    are enough samples for one)."""
    out = {}
    for kind, vals in sorted(lat.items()):
        if not vals:
            continue
        row = {"n": len(vals), "p50_s": median(vals)}
        tp = tail_percent(len(vals))
        if tp is not None:
            row[f"p{tp}_s"] = percentile(vals, tp)
        out[kind] = row
    return out
