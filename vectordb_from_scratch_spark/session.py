"""Session factory: the one Spark configuration the engine runs under.

The CLI, bench.py, the tools and the test suite all build their session
here, so every gate exercises the configuration the product ships. It is
sized from the machine: ``SPARK_GRAFT_CPUS`` cores (default: the cores
this process may run on, as ``nproc`` prints) with as many shuffle
partitions, and a ``SPARK_GRAFT_DRIVER_MEM`` heap (default: half of
physical RAM). Nothing here is required for correctness — every operator
works on a vanilla session.
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

__all__ = ["build_session", "resolved_cpus"]


def resolved_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{ram // 2 // 2**20}m"


def build_session(
    app_name: str = "vectordb_from_scratch_spark",
    extra_conf: Mapping[str, str] | None = None,
) -> SparkSession:
    """Build (or return the running) local session. ``extra_conf`` adds
    caller-specific settings on top, e.g. a throwaway warehouse dir or
    the UI status endpoint tools/execmetrics.py reads."""
    cpus = resolved_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", _driver_memory())
        # local mode: shuffle partitions ≈ cores (not the 200 default — empty
        # partitions cost scheduling). On a real cluster: ≈ 2-3× total cores,
        # or leave to AQE coalescing with a high initial value.
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        # AQE: runtime coalescing, skew-join splitting, join-strategy
        # switching — the safety net for every plan in this package.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas-API boundary (mapInPandas stages).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata `events.ts` has shipped as TIMESTAMP(NANOS) in some
        # generations; set the read flag at build time so sources/tables.py
        # never has to mutate a live session (it falls back to a footer-
        # probed set only on foreign sessions hitting that layout).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ~128 MB scan splits: the parquet-side parallelism knob. At 100 TB
        # this yields ~800k input splits — fine; never raise it to "reduce
        # task count", that starves executors.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config(map=dict(extra_conf or {}))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
