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
