from __future__ import annotations

import os
import sys

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

# pytest's --basetemp=.tmp/pytest (pytest.ini) does not create the parent dir.
os.makedirs(os.path.join(_REPO, ".tmp"), exist_ok=True)

from dx.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="dx-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.sql.warehouse.dir": os.path.join(os.getcwd(), ".tmp", "warehouse"),
        },
    )
    yield s


@pytest.fixture
def jobs_of(spark):
    """Count the Spark jobs a zero-arg callable launches, through a job
    group: ``jobs_of(fn) -> int``."""
    import uuid

    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"probe-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
