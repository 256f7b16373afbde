from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def cache_entry(spark, df):
    """Identity of the cached relation Spark's cache serves ``df``'s plan
    from, or None when the plan is not cached: equal values mean two
    DataFrames read the same cached blocks."""
    found = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(df._jdf)
    if not found.isDefined():
        return None
    return spark._jvm.System.identityHashCode(found.get().cachedRepresentation())


@pytest.fixture(scope="session")
def spark():
    from findb_spark.session import get_spark

    spark = get_spark(app_name="findb_spark_tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn) -> (fn(), number of Spark jobs fn ran)``, counted
    through a job group and the status tracker once the listener bus has
    delivered every job-start event."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count jobs")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
