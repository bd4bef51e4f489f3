from __future__ import annotations

from contextlib import contextmanager

import pytest

from a3_fp_bigdata_spark.session import build_session

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="a3-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@contextmanager
def job_group(spark, group: str):
    """Run the block's Spark jobs under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def job_ids(spark, group: str | None) -> set[int]:
    """Ids of the jobs run under ``group`` (None: outside any group).
    The status tracker is fed by the listener bus, asynchronously."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(group))
