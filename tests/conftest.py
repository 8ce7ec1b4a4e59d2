from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_repartition_watermark_example_spark import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # Small shuffle fan-out for tiny test data; production default is
    # set in session.py from SPARK_GRAFT_CPUS.
    s = get_spark(app_name="engine-tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def session_builder(spark, monkeypatch):
    """Stands in for SparkSession.builder and records the conf
    get_spark hands it; the last value per key wins, as in
    SparkSession.Builder.  getOrCreate returns the test session."""
    from flink_repartition_watermark_example_spark import session

    class Builder:
        def __init__(self):
            self.conf = {}

        def __getattr__(self, name):  # appName, master
            return lambda *a: self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return spark

    builder = Builder()
    monkeypatch.setattr(session.SparkSession, "builder", builder)
    return builder


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → (fn(), the number of Spark jobs fn launched),
    counted under a job group of its own.  The listener bus is drained
    before the status tracker is read, so no finished job is missed."""
    import uuid

    sc = spark.sparkContext

    def run(fn):
        group = "count_jobs_" + uuid.uuid4().hex[:8]
        sc.setJobGroup(group, "job count of one call")
        try:
            out = fn()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return out, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    return run
