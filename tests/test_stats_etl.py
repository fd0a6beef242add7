"""Property tests for the df.stat-family operators and the new ETL
audit/sampling keys (oracle parity is covered by `check`; these
assert the *semantics* — marginals, thresholds, determinism)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_cnc_spark.catalog import table
from etl_cnc_spark.registry import load_all

REGISTRY = load_all()


def test_crosstab_marginals(spark, sf_dir):
    """Cell counts must sum back to the table row count."""
    ct = REGISTRY["stat_crosstab"].build(spark, sf_dir)
    total = ct.select(
        (F.col("F") + F.col("O") + F.col("P")).alias("s")
    ).agg(F.sum("s")).first()[0]
    assert total == table(spark, sf_dir, "orders").count()


def test_freq_items_threshold(spark, sf_dir):
    """Every reported item exceeds the 1/8 support threshold, and the
    dominant o_orderstatus values are present."""
    rows = REGISTRY["stat_freq_items"].build(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["cnt"] * 8 > 0 and r["support"] > 0.125 - 1e-4
    status_items = {r["item"] for r in rows if r["col"] == "o_orderstatus"}
    assert {"F", "O"} <= status_items


def test_stratified_fractions(spark, sf_dir):
    """Observed per-segment sample rate tracks frac16/16 (hash
    uniformity; loose bound — small strata at sf0.001)."""
    c = table(spark, sf_dir, "customer")
    base = {r["c_mktsegment"]: r["n"] for r in
            c.groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()}
    samp = REGISTRY["sample_stratified"].build(spark, sf_dir)
    got = {r["c_mktsegment"]: r["n"] for r in
           samp.groupBy("c_mktsegment").agg(F.count("*").alias("n")).collect()}
    from etl_cnc_spark.operators.etl import _STRATA

    for seg, frac16 in _STRATA:
        want = frac16 / 16
        obs = got.get(seg, 0) / base[seg]
        assert abs(obs - want) < 0.25, f"{seg}: {obs} vs {want}"
    # MACHINERY keeps everything
    assert got["MACHINERY"] == base["MACHINERY"]


def test_quality_report_clean_fixtures(spark, sf_dir):
    """The generated fixtures are clean: zero violations everywhere,
    and totals match the raw tables."""
    rows = {r["check_name"]: r for r in
            REGISTRY["etl_quality_report"].build(spark, sf_dir).collect()}
    assert len(rows) == 6
    assert all(r["violations"] == 0 for r in rows.values())
    assert rows["orders.status_domain"]["total"] == \
        table(spark, sf_dir, "orders").count()
    assert rows["lineitem.orderkey_fk"]["total"] == \
        table(spark, sf_dir, "lineitem").count()


def test_python_datasource_declares_splits(spark):
    """The custom DataSource's partitions() must surface as scan
    parallelism (8 splits -> 8 tasks)."""
    from etl_cnc_spark.sources.python_ds import (
        N_SPLITS,
        register_series_source,
    )

    register_series_source(spark)
    df = spark.read.format("series").load()
    assert df.rdd.getNumPartitions() == N_SPLITS
    assert df.count() == N_SPLITS * 1000


def test_sink_python_ds_rebuild_matches_oracle(spark, sf_dir):
    """A rebuild in the same process rewrites the sink's staging
    directory instead of appending to it: every build matches the
    oracle, and a still-lazy frame from the first build re-reads the
    same rows."""
    from etl_cnc_spark.oracle import compare

    q = REGISTRY["sink_python_ds"]
    first = q.build(spark, sf_dir)
    rows = sorted(first.collect())
    for _ in range(2):
        res = compare(q, spark, sf_dir)
        assert res.ok, f"{res.detail}\n" + "\n".join(res.mismatches)
    assert sorted(first.collect()) == rows


def test_cms_error_bounds(spark, sf_dir):
    """CMS never underestimates, and stays within the e/w * N
    classical bound (with 4 rows the failure probability is
    e^-4 per item; deterministic fixtures make this stable)."""
    import math

    rows = REGISTRY["agg_sketch_cms"].build(spark, sf_dir).collect()
    assert rows
    n_total = table(spark, sf_dir, "lineitem").count()
    eps = math.e / 4096
    for r in rows:
        assert r["est_n"] >= r["true_n"], r
        assert r["est_n"] <= r["true_n"] + eps * n_total + 1, r


def test_range_binned_no_cartesian(spark, sf_dir):
    """The bin rewrite must plan as an equi hash/sort-merge join —
    never a cartesian/BNL product."""
    import contextlib
    import io

    df = REGISTRY["join_range_binned"].build(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_files_are_tight_rectangles(spark, sf_dir):
    """Every Z-ordered file's (x, y) envelope must be much tighter
    than the full domain on BOTH dims — the data-skipping payoff a
    single-column sort cannot give for the second dimension."""
    rows = REGISTRY["sort_zorder"].build(spark, sf_dir).collect()
    assert len(rows) == 16
    x_dom = max(r["max_x"] for r in rows) - min(r["min_x"] for r in rows)
    y_dom = max(r["max_y"] for r in rows) - min(r["min_y"] for r in rows)
    avg_x = sum(r["max_x"] - r["min_x"] for r in rows) / len(rows)
    avg_y = sum(r["max_y"] - r["min_y"] for r in rows) / len(rows)
    assert avg_x <= 0.6 * x_dom, (avg_x, x_dom)
    assert avg_y <= 0.6 * y_dom, (avg_y, y_dom)
