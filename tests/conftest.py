from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from csvtool_spark.session import get_spark

    s = get_spark("pytest")
    yield s


@pytest.fixture(scope="session")
def duck():
    from csvtool_spark.oracle import duck_connect

    return duck_connect(SF_SMALL)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → ``(fn(), number of Spark jobs fn submitted)``,
    counted under a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-{uuid.uuid4().hex[:12]}"
        sc.setJobGroup(group, "count jobs")
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
