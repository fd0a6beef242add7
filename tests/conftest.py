"""Shared pytest fixtures: one SparkSession per test session.

``SPARK_GRAFT_TEST_SF`` picks the fixture scale (default sf0.001 for
speed; CI-grade runs use sf0.01 — the driver's correctness SF).
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_cnc_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("etl-cnc-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def jobs_in(spark):
    """``jobs_in(group, fn)`` runs ``fn()`` under its own Spark job
    group and returns ``(fn(), the number of jobs it fired)``, read from
    the status tracker (live with the UI off).  The tracker is fed by
    the listener bus, in order: once a control job run after ``fn`` is
    visible, every job ``fn`` fired is too."""
    sc = spark.sparkContext

    def in_group(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def run(group: str, fn):
        out = in_group(group, fn)
        control = group + ":control"
        in_group(control, lambda: spark.range(1).collect())
        tracker = sc.statusTracker()
        deadline = time.time() + 60
        while not tracker.getJobIdsForGroup(control):
            assert time.time() < deadline, "control job never reached the tracker"
            time.sleep(0.05)
        return out, len(tracker.getJobIdsForGroup(group))

    return run
