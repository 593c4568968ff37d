import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hhek2sqlite_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hhek2sqlite_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def lifetime_state(spark):
    """``lifetime_state()`` -> (persistent RDD ids, CacheManager entry
    count): what a released result must leave as it found it.
    ``cachedData`` is private, so it is read by reflection."""
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    field = cache_mgr.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)

    def state():
        rdds = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
        return rdds, field.get(cache_mgr).size()

    return state


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> (fn's result, number of Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
