from __future__ import annotations

import os
import uuid

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def jobs_submitted(spark, fn):
    """(fn(), number of Spark jobs fn submitted), counted under a fresh
    job group."""
    sc, group = spark.sparkContext, uuid.uuid4().hex
    sc.setJobGroup(group, "job count probe")
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from etl_cli_spark.session import get_spark

    s = get_spark(app_name="etl_cli_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def engine(spark):
    from etl_cli_spark.engine import Engine

    return Engine(spark, SF_DIR)


@pytest.fixture()
def tmp_engine(spark, tmp_path):
    """Engine rooted in a temp dir (for write-op tests)."""
    from etl_cli_spark.engine import Engine

    return Engine(spark, str(tmp_path))
