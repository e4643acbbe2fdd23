from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from airflow_etl_spark import get_spark  # noqa: E402

#: Scale-factor dir used by parity tests (driver uses sf0.01; default to the
#: smallest for speed — override with SPARK_GRAFT_TEST_SF_DIR).
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # cpus override for suite-runtime experiments (r13): default stays 8 —
    # shuffle partitions stay 8 either way so plan shapes (task counts,
    # AQE coalescing) match what every plan-gate test was written against.
    cpus = int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8"))
    s = get_spark("airflow_etl_spark_tests", cpus=cpus, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@pytest.fixture()
def jobs_of(spark):
    """`jobs_of(build)` → (result of `build()`, Spark jobs it launched),
    counted under a fresh job group."""

    def run(build):
        sc = spark.sparkContext
        group = f"jobs-of-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "job count")
        try:
            out = build()
        finally:
            sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
