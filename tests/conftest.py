from __future__ import annotations

import contextlib
import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from argodb_mapreduce_spark.session import get_spark

    spark = get_spark("argodb_mapreduce_spark-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture
def py4j_calls(spark):
    """Count the py4j ``send_command`` round trips made inside a block:
    ``with py4j_calls() as n: ...`` then ``n()`` is the count."""
    client = spark.sparkContext._gateway._gateway_client

    @contextlib.contextmanager
    def counting():
        count = 0
        send = client.send_command

        def counted(*args, **kwargs):
            nonlocal count
            count += 1
            return send(*args, **kwargs)

        client.send_command = counted
        try:
            yield lambda: count
        finally:
            del client.send_command

    return counting


def pyds_units(bins) -> list:
    """The per-file units (SegmentFilePartition / CDFPartition) across
    a pyds reader's planned partitions, in bin order."""
    return [u for b in bins for u in b.units]
