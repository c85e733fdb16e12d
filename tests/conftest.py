from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from otrrentetl_spark.session import get_spark

    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture
def jobs_in(spark):
    """``jobs_in(tag, fn)`` runs ``fn()`` under Spark job group ``tag``
    and returns ``(its result, the number of Spark jobs it ran)``.
    Give each call its own tag."""
    sc = spark.sparkContext

    def run(tag, fn):
        sc.setJobGroup(tag, "job-count pin")
        try:
            out = fn()
        finally:
            sc.setJobGroup("", "")
        return out, len(sc.statusTracker().getJobIdsForGroup(tag))

    return run


@pytest.fixture(scope="session")
def duck():
    from tools.verify_oracle import duck_connect

    return duck_connect(SF_SMOKE)
