from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metadata_driven_data_pipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, table):
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def in_job_group(spark, fn):
    """(fn(), id of the fresh job group fn ran under); the group is
    cleared again even when fn raises."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted by the test suite")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, group


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    out, group = in_job_group(spark, fn)
    return out, len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# -- DAG-gate run-log hooks (reference tests/conftest.py:72-136 parity) -----
# When this suite runs as an orchestration gate (orchestrate.pytest_gate
# exports RUN_ID + RUN_LOG_PATH), append a pre/post test stage to the shared
# run log and finalize it when FINALIZE_LOG=true. No-ops otherwise.

def pytest_sessionstart(session):
    from metadata_driven_data_pipeline_spark.orchestrate import (
        runlog_sessionstart,
    )

    runlog_sessionstart(session)


def pytest_sessionfinish(session, exitstatus):
    from metadata_driven_data_pipeline_spark.orchestrate import (
        runlog_sessionfinish,
    )

    runlog_sessionfinish(session, exitstatus)
