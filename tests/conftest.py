from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sqldataintegrationfunctiontriggerapp_spark.session import get_session

SF_DIR = "/root/testdata/sf0.001"  # smallest fixtures: tests stay fast


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="engine-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(fn, *args)`` runs ``fn`` under a fresh job group and
    returns ``(result, number of Spark jobs it ran)``."""
    sc = spark.sparkContext

    def run(fn, *args, **kwargs):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn(*args, **kwargs)
        finally:
            for prop in ("spark.jobGroup.id", "spark.job.description",
                         "spark.job.interruptOnCancel"):
                sc.setLocalProperty(prop, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
