from __future__ import annotations

import sys
import uuid

import pytest

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="session")
def spark():
    from tokcodec.session import get_spark

    s = get_spark(master="local[8]", app_name="tokcodec-tests",
                  shuffle_partitions=8, driver_memory="8g")
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(action)`` runs ``action()`` under a fresh job group
    and returns how many Spark jobs it launched (statusTracker)."""
    sc = spark.sparkContext

    def run(action):
        group = f"jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return run
