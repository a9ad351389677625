from __future__ import annotations

import itertools

import pytest

from mie_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mie_spark_tests", master="local[4]")
    yield s


_JOB_GROUPS = itertools.count()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` calls ``fn`` and returns how many Spark jobs it
    started, counted through a job group on a warm session."""
    spark.range(1).count()  # warm session
    sc = spark.sparkContext

    def count(fn) -> int:  # noqa: ANN001
        group = f"spark-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    return count
