from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from sketchlib.spark.session import get_spark

    s = get_spark(app="sketchlib-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def count_jobs(spark):
    """``with count_jobs("grp") as ids:`` — ``ids`` lists the Spark jobs
    that ran inside the block, read through a job group and the status
    tracker once the listener bus has drained."""
    from contextlib import contextmanager

    sc = spark.sparkContext

    @contextmanager
    def run(group: str):
        ids: list = []
        sc.setJobGroup(group, group)
        try:
            yield ids
        finally:
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            ids.extend(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)

    return run
