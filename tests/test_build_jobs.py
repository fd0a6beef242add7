"""A flagship build fires no Spark job, nor does sim_auto's.

Building a key only constructs a plan: table schemas come from parquet
footers read on the driver (``catalog.footer_schema``) and every
strategy choice comes from metadata (sim_auto's candidate count is the
footer's row count, ``catalog.footer_row_count``), so all jobs run at
collect.  Each key is built under its own job group, and the status
tracker (live with the UI off) must report no job in any of them.
"""

from __future__ import annotations

import time

from etl_cnc_spark.registry import load_all, release_caches

REGISTRY = load_all()
FLAGSHIP = [k for k, q in REGISTRY.items() if q.bench]
KEYS = FLAGSHIP + ["sim_auto"]


def test_flagship_builds_fire_no_job(spark, sf_dir):
    assert len(FLAGSHIP) == 15, FLAGSHIP
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    control = "build-jobs-pin:control"
    try:
        for key in KEYS:
            # resolve every table afresh, so a schema-inference job
            # cannot hide behind a handle an earlier test memoized
            spark.__dict__.pop("_etlcnc_tables", None)
            sc.setJobGroup(f"build-jobs-pin:{key}", key)
            REGISTRY[key].build(spark, sf_dir)
        # The tracker is fed by the listener bus, in order: once the
        # control job is visible, any job a build fired is visible too.
        sc.setJobGroup(control, "control")
        spark.range(1).collect()
        deadline = time.time() + 60
        while not tracker.getJobIdsForGroup(control):
            assert time.time() < deadline, "control job never reached the tracker"
            time.sleep(0.1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        release_caches(spark)
    fired = {
        key: list(tracker.getJobIdsForGroup(f"build-jobs-pin:{key}"))
        for key in KEYS
    }
    assert not {k: v for k, v in fired.items() if v}, fired
