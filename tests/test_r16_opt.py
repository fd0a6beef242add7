"""Round-16 optimization-round pins.

Each test freezes the STRUCTURAL property an r16 optimization bought,
so a regression is caught by shape, not by timing noise.
"""

from __future__ import annotations

import os

from tests.test_plans import node_count, plan_of


def _cache_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def test_release_caches_makes_timed_runs_cold(spark, sf_dir):
    """r16 bench-protocol fix (VERDICT r15 "what's wrong" #1): after a
    warm-up build + collect, ``registry.release_caches`` must drop
    every entry the build added, so a timed rebuild recomputes every
    persisted subtree from the parquet inputs instead of reading the
    warm-up's materialized cache.  Delta-based: entries other tests
    left in the shared session do not count."""
    from etl_cnc_spark import registry as R

    reg = R.load_all()
    build = reg["events_funnel"].build  # reuse()s its per-user frames
    R.release_caches(spark)
    before = _cache_entries(spark)
    build(spark, sf_dir).collect()  # warm-up materializes the caches
    assert _cache_entries(spark) > before, "warm-up should have cached frames"
    R.release_caches(spark)
    assert _cache_entries(spark) == before, "release_caches must drop the build's entries"
    # and a rebuild after the release still computes correctly
    assert build(spark, sf_dir).count() > 0
    R.release_caches(spark)


def test_bench_calls_release_between_timed_runs():
    """The bench harness itself must invoke the cold-run hook inside
    its timed loop (between warm-up and each timed run)."""
    src = open(
        os.path.join(os.path.dirname(os.path.dirname(__file__)), "bench.py")
    ).read()
    timed_loop = src.split("for _ in range(N_TIMED):")[1]
    assert "release_caches(spark)" in timed_loop.split("t0 = ")[0], (
        "bench.py must release tracked caches before starting each "
        "timed run's clock"
    )
