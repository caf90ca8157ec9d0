"""Dump `.explain("formatted")` for the named registry queries into a
directory — the before/after plan evidence the optimization rounds
commit under plans/r{N}/.

Usage: python tools/explain_dump.py OUTDIR SUFFIX [--sf DIR] q1 q2 ...
Writes OUTDIR/<query>_<SUFFIX>.txt per query. Runs at local[$SPARK_GRAFT_CPUS]
with as many shuffle partitions (default 8), the bench's parallelism.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("outdir")
    ap.add_argument("suffix")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("explain_dump")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "12g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from vectordb_from_scratch_spark.operators import cache, dedup
    from vectordb_from_scratch_spark.plans.registry import QUERIES

    os.makedirs(args.outdir, exist_ok=True)
    for name in args.queries:
        try:
            df = QUERIES[name].spark(spark, args.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — keep dumping the rest
            txt = f"ERROR building plan: {exc!r}\n"
        finally:
            dedup.release_caches()
            cache.sweep_persistent_rdds(spark, all_rdds=True)
        path = os.path.join(args.outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        n_ex = txt.count("Exchange")
        print(f"{name}: {len(txt)} chars, {n_ex} Exchange mentions -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
