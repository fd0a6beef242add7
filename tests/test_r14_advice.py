"""Round-14 ADVICE regression tests: deterministic cache release.

ADVICE r13 (medium) flagged that the ~100 persist() sites added by the
SCALE.md checkpoint rule have no release path — a 696-key
single-session sweep accumulates every key's MEMORY_AND_DISK entries
in the CacheManager until session end.  Builds persist through
``registry.reuse``, which records the frame in the thread's build
scope; the next top-level registered build releases what the previous
one recorded, while a composed build (dedup_recall_report →
dedup_embedding*) never releases mid-build.  These tests pin the
scope's rules.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from etl_cnc_spark import registry as R
from etl_cnc_spark.registry import load_all, reuse
from etl_cnc_spark.utils import pairwise_set_overlap

REGISTRY = load_all()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _is_cached(df) -> bool:
    return df.storageLevel.useMemory


def test_next_top_level_build_releases_previous_caches(spark, sf_dir):
    """Key N's reuse() entries are dropped when key N+1 builds."""
    # events_user_overlap persists its distinct (group, element) frame
    # via pairwise_set_overlap — materialize it so the entry is live.
    out = REGISTRY["events_user_overlap"].build(spark, sf_dir)
    out.collect()
    assert not _cache_empty(spark), "expected a live cache entry after build"
    # agg_global persists nothing: after ITS top-level entry clears,
    # the CacheManager must be empty again.
    REGISTRY["agg_global"].build(spark, sf_dir).collect()
    assert _cache_empty(spark), "previous key's caches must be released"


def test_same_key_rebuild_releases_previous_caches(spark, sf_dir):
    """A rebuild of the SAME key releases the previous build's frames
    too (no same-key exception), and the rebuilt frame still computes."""
    built = []

    def build(s, d):
        # distinct plans per build: the CacheManager matches by plan
        df = reuse(s.range(20 + len(built)).withColumn("v", F.col("id") * 5))
        built.append(df)
        return df

    scoped = R._build_scope(build)
    assert scoped(spark, sf_dir).count() == 20
    assert _is_cached(built[0])
    assert scoped(spark, sf_dir).count() == 21
    assert not _is_cached(built[0]), "rebuild must release the previous frame"
    assert _is_cached(built[1])
    R.release_caches(spark)
    assert not _is_cached(built[1])


def test_composed_builds_do_not_clear_mid_build(spark, sf_dir):
    """An inner registered build invoked from inside an outer build
    must NOT release the outer's frames."""
    captured = {}

    def outer(s, d):
        frame = reuse(s.range(10).withColumn("v", F.col("id") * 2))
        frame.count()  # materialize the cache entry
        captured["frame"] = frame
        # a registered (scoped) build nested in this one — must not clear
        REGISTRY["agg_global"].build(s, d).collect()
        assert _is_cached(frame), (
            "inner registered build released the outer build's cache"
        )
        return frame

    res = R._build_scope(outer)(spark, sf_dir)
    assert res.count() == 10
    assert _is_cached(captured["frame"])
    R.release_caches(spark)
    assert not _is_cached(captured["frame"])


def test_release_is_top_level_only_and_resets_depth_on_error(spark, sf_dir):
    """A failed build unwinds the scope: reuse() outside a build is a
    no-op again, and the next top-level build still releases."""
    held = []

    def boom(s, d):
        held.append(reuse(s.range(7)))
        raise RuntimeError("boom")

    try:
        R._build_scope(boom)(spark, sf_dir)
    except RuntimeError:
        pass
    assert _is_cached(held[0])
    plain = spark.range(3)
    assert not _is_cached(reuse(plain)), "reuse() outside a build must not persist"
    REGISTRY["agg_global"].build(spark, sf_dir).collect()
    assert not _is_cached(held[0]), "next top-level build must release"


def test_build_on_another_thread_keeps_this_threads_frames(spark, sf_dir):
    """Scopes are per thread: a top-level build on thread B must not
    release the frames thread A's build recorded."""
    a_built = threading.Event()
    b_done = threading.Event()
    seen = {}

    def build_a(s, d):
        df = reuse(s.range(30).withColumn("a", F.col("id") + 1))
        df.count()
        return df

    def thread_a():
        seen["frame"] = R._build_scope(build_a)(spark, sf_dir)
        a_built.set()
        b_done.wait(timeout=120)
        seen["cached_after_b"] = _is_cached(seen["frame"])
        R.release_caches(spark)
        seen["cached_after_release"] = _is_cached(seen["frame"])

    def thread_b():
        a_built.wait(timeout=120)
        try:
            REGISTRY["agg_global"].build(spark, sf_dir).collect()
            R.release_caches(spark)
        finally:
            b_done.set()

    ta, tb = threading.Thread(target=thread_a), threading.Thread(target=thread_b)
    ta.start()
    tb.start()
    ta.join(timeout=300)
    tb.join(timeout=300)
    assert not ta.is_alive() and not tb.is_alive()
    assert seen["cached_after_b"], "thread B's build released thread A's frame"
    assert not seen["cached_after_release"]


def test_pairwise_set_overlap_on_cached_input_adds_no_entry(spark):
    """Inside a build, pairwise_set_overlap reuse()s its input; a caller
    that already cached an equal plan gets no second CacheManager
    entry, and the result matches the uncached helper's."""
    rows = [("g1", "a"), ("g1", "b"), ("g2", "b"), ("g2", "c"), ("g3", "a")]
    cm = spark._jsparkSession.sharedState().cacheManager()
    plain = sorted(
        tuple(r)
        for r in pairwise_set_overlap(
            spark.createDataFrame(rows, "grp string, elem string"),
            "grp", "ga", "gb",
        ).collect()
    )
    got = {}

    def build(s, d):
        dv = reuse(s.createDataFrame(rows, "grp string, elem string"))
        before = cm.numCachedEntries()
        out = pairwise_set_overlap(dv, "grp", "ga", "gb")
        got["added"] = cm.numCachedEntries() - before
        return out

    out = R._build_scope(build)(spark, None)
    got_cached = sorted(tuple(r) for r in out.collect())
    R.release_caches(spark)
    assert got["added"] == 0, "an equal-plan persist must not add an entry"
    assert got_cached == plain
    # pairs with a shared element: (g1,g2) share b, (g1,g3) share a
    assert len(plain) == 2


def test_hoeffding_cap_raises_in_spark(spark, sf_dir, monkeypatch):
    """The r14 sf10 scale probe hit Spark's opaque ARITHMETIC_OVERFLOW
    in stat_hoeffding_d's DECIMAL(38,0) fold at n = 6e7 (past the
    documented exactness cap).  The cap is now ENFORCED with
    raise_error — overflow is a failure with a remedy, never an
    opaque engine error.  The cap is shrunk below the fixture size to
    trigger the guard without 23M rows."""
    from etl_cnc_spark.operators import stats

    monkeypatch.setattr(stats, "_HOEFF_CAP", 10)
    import pytest as _pytest

    with _pytest.raises(Exception) as exc:
        REGISTRY["stat_hoeffding_d"].build(spark, sf_dir).collect()
    assert "exactness cap" in str(exc.value)


def test_hoeffding_cap_raises_in_oracle_too(sf_dir):
    """Loud-failure parity: the oracle's error() fires on the same
    condition (cap swapped for a tiny value via the shared module
    constant — no literal spelled here)."""
    import duckdb
    import pytest as _pytest

    from etl_cnc_spark.oracle import duckdb_connect
    from etl_cnc_spark.operators import stats

    sql = REGISTRY["stat_hoeffding_d"].oracle.replace(
        str(stats._HOEFF_CAP), "10"
    )
    con = duckdb_connect(sf_dir)
    with _pytest.raises(duckdb.Error) as exc:
        con.execute(sql).df()
    assert "exactness cap" in str(exc.value)


def test_hoeffding_cap_is_the_decimal38_bound():
    """The shipped cap must be the documented derivation — the largest
    n with 16*n^5 under DECIMAL(38,0)'s ceiling, minus a safety
    margin — derived here from scratch (no target literal)."""
    from etl_cnc_spark.operators import stats

    bound = (10.0**38 / 16.0) ** 0.2
    assert stats._HOEFF_CAP <= bound
    assert stats._HOEFF_CAP >= 0.95 * bound


def test_persist_flip_key_partition_count_invariant(spark, sf_dir):
    """VERDICT r13 item 8: the r13 persist-flip keys materialize
    data-scaled frames mid-plan; pin that the materialized frame's
    CONTENT is invariant to shuffle partition count (1 vs 64) — the
    one invariance axis the cpus/splits/arrow harness does not vary
    directly.  text_bm25 is the representative flip key (its per-doc
    base frame is the r13 persist() site feeding stats, tf and
    scoring)."""
    from etl_cnc_spark.registry import load_all

    reg = load_all()

    def rows_at(n_parts: int):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
        try:
            df = reg["text_bm25"].build(spark, sf_dir)
            return sorted(tuple(str(c) for c in r) for r in df.collect())
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    one = rows_at(1)
    many = rows_at(64)
    assert len(one) > 0
    assert one == many
