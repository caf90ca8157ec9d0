"""One session factory: every entry point (CLI, bench, tools, this test
suite) builds its Spark session through session.build_session, so the
gates exercise the configuration the product ships. perfbench/ is the
exception — it drives the package from outside with its own session."""

from __future__ import annotations

import os

from vectordb_from_scratch_spark.session import resolved_cpus

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FACTORY = os.path.join("vectordb_from_scratch_spark", "session.py")


def test_only_the_factory_builds_sessions():
    needle = "SparkSession" + ".builder"  # split so this file never matches
    hits = []
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = [
            d for d in dirnames
            if not d.startswith(".") and not (dirpath == ROOT and d == "perfbench")
        ]
        for name in filenames:
            path = os.path.join(dirpath, name)
            rel = os.path.relpath(path, ROOT)
            if not name.endswith(".py") or rel == FACTORY:
                continue
            with open(path, encoding="utf-8", errors="replace") as fh:
                if needle in fh.read():
                    hits.append(rel)
    assert hits == [], f"build the session with session.build_session: {hits}"


def test_suite_runs_the_shipped_configuration(spark):
    cpus = resolved_cpus()
    assert spark.sparkContext.master == f"local[{cpus}]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(cpus)
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    assert spark.sparkContext.uiWebUrl is None
