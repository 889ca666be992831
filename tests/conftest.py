from __future__ import annotations

from collections.abc import Callable

import pytest


@pytest.fixture(scope="session")
def spark():
    from auto_ml_platform_with_timeseries_data_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture
def jobs_started(spark) -> Callable[[str, Callable[[], object]], int]:
    """``count(group, fn)``: the Spark jobs ``fn`` starts on this
    thread, counted under a fresh job group."""
    def count(group: str, fn: Callable[[], object]) -> int:
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count
