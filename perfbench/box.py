"""The benchmark's own Spark session, sized to the machine it runs on,
plus the box fingerprint and the peak-memory probe.

Every run records the fingerprint; numbers whose fingerprints differ
(core count, RAM, calibration loop, pyspark version) are not comparable.
"""

from __future__ import annotations

import math
import os
import platform
import resource
import tempfile
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    # a quarter of physical RAM, between 1 and 4 GiB: the rest stays with
    # the Python workers and the OS, and the largest input is tens of MB
    return max(1024, min(4096, ram_mb() // 4))


def _calibration_ms() -> float:
    """A fixed single-thread pure-Python loop (min of 3): a box-speed
    constant that does not depend on Spark."""

    def once() -> float:
        t0 = time.perf_counter()
        acc = 0.0
        for i in range(1_000_000):
            acc += math.sqrt(i & 1023)
        return (time.perf_counter() - t0) * 1000.0

    return round(min(once() for _ in range(3)), 1)


def fingerprint() -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "ram_mb": ram_mb(),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "calib_ms": _calibration_ms(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
    }


def build_session(work_dir: str):
    """local[nproc], JVM heap from physical RAM, UI and console
    progress off; every temporary byte Spark or its workers write lands
    under `work_dir`. The SQL settings mirror the package's reference
    session (vectordb_from_scratch_spark.session)."""
    from pyspark.sql import SparkSession

    n = nproc()
    mem = heap_mb()
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # inherited by the JVM and the Python workers it forks; no JVM writes
    # its perf-data file to /tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem}m")
        # a fixed heap and young generation: with G1's adaptive sizing the
        # JVM's resident size, and so peak_rss_mb, swung 1.1-1.5 GB
        # between identical runs
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{mem}m -Xmn512m -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store backs the UI-free metrics reader; keep every
        # job and stage of a run so a traced run can be attributed in full
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=120)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory (MB) of this Python process (getrusage)
    and of the JVM (VmHWM from /proc)."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
    return {"python": py_kb / 1024.0, "jvm": jvm_kb / 1024.0}
