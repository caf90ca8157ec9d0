from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from vectordb_from_scratch_spark.session import build_session

    return build_session(
        "vectordb_from_scratch_spark_tests",
        {"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_")},
    )


@pytest.fixture(scope="session")
def spark_global(spark):
    """Alias usable inside hypothesis @given tests (plain arg, no funcarg
    re-entry per example)."""
    return spark


@pytest.fixture(scope="session")
def embeddings(spark):
    from vectordb_from_scratch_spark.sources import load_table

    return load_table(spark, SF_SMOKE, "embeddings")


@pytest.fixture(scope="session")
def documents(spark):
    from vectordb_from_scratch_spark.sources import load_table

    return load_table(spark, SF_SMOKE, "documents")
