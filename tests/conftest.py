from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import Tracer
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
    returns ``(result, number of Spark jobs it ran)``. The span sets the
    job description to its name and clears only the group, so the prior
    description is put back afterwards."""
    sc = spark.sparkContext
    tracer = Tracer(f"count-jobs-{uuid.uuid4().hex}", enabled=True)

    def run(fn, *args, **kwargs):
        description = sc.getLocalProperty("spark.job.description")
        try:
            with tracer.span("count_jobs", sc=sc) as rec:
                out = fn(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.job.description", description)
        return out, len(rec["jobs"])

    return run
