from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from python_sql_datawarehouse_project_spark.session import build_session

    s = build_session(app_name="pytest", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def job_ids(spark):
    """job_ids(group, fn): run fn() under a fresh Spark job group and
    return (its result, the ids of the Spark jobs it started)."""
    sc = spark.sparkContext

    def run(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run
