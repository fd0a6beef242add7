"""Round-15 ADVICE regression tests.

Three advisor findings from the r14 review:

1. stat_taylor_law's DuckDB oracle cast its OLS sums HUGEINT->BIGINT,
   which errors at ~9.2e18 (~3e8 part groups) — exactly the scale the
   Spark DECIMAL(38,0) fold was added for.  Fixed: the oracle casts to
   the SAME DECIMAL(38,0), so both engines carry the fold to the
   identical 1e38 bound.
2. embed_mmd_linear documented a BIGINT exactness bound on h_sum_nano
   (~4.6e9 pairs) but left it unenforced — the non-ANSI long sum wraps
   silently past 2^63.  Fixed with the hoeffding pattern: raise_error
   in Spark, error() in the oracle, same remedy message.
3. the registry's cache release used session-global clearCache(),
   dropping a host application's own cached frames.  Fixed: builds
   persist through registry.reuse, which records exactly the build's
   entries (a CACHE TABLE too, by reusing the cached table); release
   unpersists those — host caches survive.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_cnc_spark.oracle import duckdb_connect
from etl_cnc_spark.registry import load_all

REGISTRY = load_all()


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


# ---------------------------------------------------- 1. taylor oracle fold


def test_taylor_oracle_sums_cast_decimal38():
    """The four OLS sum casts read DECIMAL(38,0), not BIGINT — the
    oracle's fold bound must match the Spark decimal fold."""
    sql = REGISTRY["stat_taylor_law"].oracle
    for c in ("qx", "qy", "qxy", "qxx"):
        assert f"sum({c}) AS DECIMAL(38,0)" in sql
        assert f"sum({c}) AS BIGINT" not in sql


def test_taylor_oracle_cast_structure_survives_past_bigint():
    """Direct evidence the flagged failure mode is gone: a HUGEINT sum
    past 9.2e18 CASTs to DECIMAL(38,0) fine, while the old BIGINT cast
    errors (pinning that the advisor's failure mode was real)."""
    con = duckdb.connect()
    big = 4_000_000_000_000_000_000  # 4e18; five of them > 2^63 - 1
    q = "SELECT CAST(sum(x) AS {t}) FROM (SELECT CAST({v} AS BIGINT) AS x FROM range(5))"
    val = con.execute(q.format(t="DECIMAL(38,0)", v=big)).fetchone()[0]
    assert int(val) == 5 * big
    with pytest.raises(duckdb.Error):
        con.execute(q.format(t="BIGINT", v=big)).fetchone()


# ------------------------------------------------------- 2. MMD pair cap


def test_mmd_cap_raises_in_spark(spark, sf_dir, monkeypatch):
    """Past the pair cap the Spark build fails loudly with a remedy
    (cap shrunk via the shared module constant to fire at fixture
    scale), never publishing a wrapped long."""
    from etl_cnc_spark.llm import similarity

    monkeypatch.setattr(similarity, "_MMD_PAIR_CAP", 0)
    with pytest.raises(Exception) as exc:
        REGISTRY["embed_mmd_linear"].build(spark, sf_dir).collect()
    assert "exactness cap" in str(exc.value)


def test_mmd_cap_raises_in_oracle_too(sf_dir):
    """Loud-failure parity: the oracle's error() fires on the same
    condition (cap swapped for 0 via the shared module constant — no
    target literal spelled here)."""
    from etl_cnc_spark.llm import similarity

    sql = REGISTRY["embed_mmd_linear"].oracle.replace(
        str(similarity._MMD_PAIR_CAP), "0"
    )
    con = duckdb_connect(sf_dir)
    with pytest.raises(duckdb.Error) as exc:
        con.execute(sql).df()
    assert "exactness cap" in str(exc.value)


def test_mmd_cap_is_the_bigint_bound():
    """The shipped cap must be the documented derivation — the largest
    pair count whose worst-case |h|-quantized fold stays under the
    published column's BIGINT ceiling, minus a safety margin — derived
    from scratch here (no target literal)."""
    from etl_cnc_spark.llm import similarity

    per_pair_max = 2 * similarity._MMD_Q + 1  # |h| <= 2, +1 for floor(+0.5)
    bound = (2**63 - 1) / per_pair_max
    assert similarity._MMD_PAIR_CAP <= bound
    assert similarity._MMD_PAIR_CAP >= 0.95 * bound


def test_mmd_parity_below_cap(spark, sf_dir):
    """The guard is inert below the cap: fixture-scale parity against
    the oracle is unchanged by the enforcement."""
    got = sorted(
        tuple(r)
        for r in REGISTRY["embed_mmd_linear"].build(spark, sf_dir).collect()
    )
    con = duckdb_connect(sf_dir)
    want = sorted(
        tuple(r)
        for r in con.execute(
            REGISTRY["embed_mmd_linear"].oracle
        ).fetchall()
    )
    assert got == want


# ------------------------------------------------- 3. scoped cache release


def test_host_caches_survive_registered_builds(spark, sf_dir):
    """The advisor's exact scenario: a frame cached by the HOST (no
    registered build on the stack) must survive the release that fires
    between two different registered keys."""
    host = spark.range(100).withColumn("v", F.col("id") * 3).persist()
    host.count()
    try:
        REGISTRY["agg_global"].build(spark, sf_dir).collect()
        REGISTRY["limit_k"].build(spark, sf_dir).collect()
        assert host.storageLevel.useMemory, (
            "host-cached frame was dropped by the registry release"
        )
        assert not _cache_empty(spark)
    finally:
        host.unpersist(blocking=True)


def test_build_caches_release_but_host_survives(spark, sf_dir):
    """Scoped release drops the BUILD's persisted frames while the
    host's entry stays — both live in the one CacheManager."""
    host = spark.range(50).withColumn("w", F.col("id") + 1).persist()
    host.count()
    try:
        # events_user_overlap persists its distinct (group, element)
        # frame inside the build — that entry is tracked
        REGISTRY["events_user_overlap"].build(spark, sf_dir).collect()
        # next key releases the tracked entry; the host's remains
        REGISTRY["agg_global"].build(spark, sf_dir).collect()
        assert host.storageLevel.useMemory
        jcm = spark._jsparkSession.sharedState().cacheManager()
        assert not jcm.isEmpty()
        host.unpersist(blocking=True)
        assert _cache_empty(spark), (
            "after host cleanup only the build's released entries "
            "could remain — the scoped release missed one"
        )
    finally:
        host.unpersist(blocking=True)


def test_sql_cache_table_released_at_next_key(spark, sf_dir):
    """CACHE TABLE goes through the SQL surface; the build reuse()s
    the cached table (no second entry), so the release at the next
    top-level key uncaches it."""
    REGISTRY["sql_entry_cache_table"].build(spark, sf_dir).collect()
    assert spark.catalog.isCached("etlcnc_hot_orders")
    REGISTRY["agg_global"].build(spark, sf_dir).collect()
    assert not spark.catalog.isCached("etlcnc_hot_orders")


# ------------------------- 5. sequence-match cap (VERDICT r14 item 4)


def test_sequence_match_cap_binds_identically_on_both_engines(spark, sf_dir):
    """When the per-user history cap binds, BOTH engines truncate to
    the first N events by (ts, event_id) — shrink the cap via the
    shared module constant and compare full results."""
    from etl_cnc_spark.operators import analytics

    orig = analytics._SEQ_MAX_EVENTS
    try:
        analytics._SEQ_MAX_EVENTS = 5  # far below the fixture max
        got = sorted(
            tuple(r)
            for r in REGISTRY["events_sequence_match"]
            .build(spark, sf_dir)
            .collect()
        )
    finally:
        analytics._SEQ_MAX_EVENTS = orig
    sql = REGISTRY["events_sequence_match"].oracle.replace(
        f"rn <= {orig}", "rn <= 5"
    )
    con = duckdb_connect(sf_dir)
    want = sorted(tuple(r) for r in con.execute(sql).fetchall())
    assert got == want
    assert max(r[1] for r in got) == 5  # the cap actually bound
