from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hadoop_20_spark import get_spark, load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tables(spark):
    names = ("region", "nation", "customer", "supplier", "orders", "lineitem",
             "events", "documents", "embeddings")
    return {n: load_table(spark, n, SF_DIR).cache() for n in names}


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)``: run ``fn`` under a fresh job group and return
    ``(fn's result, number of Spark jobs it started)``."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        # job-start events reach the status store asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return count
