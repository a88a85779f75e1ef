from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from core_etl_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="core_etl_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", SF_SMALL)


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn) -> (jobs, fn())``: the Spark jobs ``fn`` ran,
    diffed from the status tracker's job ids outside any job group (so
    streaming queries left running by other tests never count). The
    listener bus is drained first: the tracker learns of a job from it
    asynchronously."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(tracker.getJobIdsForGroup(None))

    def run(fn):
        before = ids()
        out = fn()
        return len(ids() - before), out

    return run
