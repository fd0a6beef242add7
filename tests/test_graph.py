"""Semantic tests for the graph family (oracle parity is in `check`;
these assert algorithm invariants)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_cnc_spark.operators.graph import SCALE, trade_edges
from etl_cnc_spark.oracle import duckdb_connect
from etl_cnc_spark.registry import load_all

REGISTRY = load_all()


@pytest.mark.parametrize("key", ["graph_reciprocity", "graph_degree_gini"])
def test_edge_oracle_fits_2gb_at_sf01(key, sf_dir, tmp_path):
    """The oracle reads the 4-way edge join once, materialized: with
    `u <> v` pushed into the join instead, DuckDB runs out of memory
    at sf0.1 under this limit."""
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    if not os.path.isdir(sf01):
        pytest.skip("no sf0.1 fixture beside the test fixture")
    con = duckdb_connect(sf01)
    try:
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{tmp_path}'")
        con.execute("SET max_temp_directory_size = '2GB'")
        rows = con.execute(REGISTRY[key].oracle).fetchall()
    finally:
        con.close()
    assert len(rows) == 1 and rows[0][0] > 0, rows


def test_pagerank_mass_and_ranks(spark, sf_dir):
    rows = REGISTRY["graph_pagerank"].build(spark, sf_dir).collect()
    assert len(rows) == 25
    # fixed-point mass stays within integer-truncation slack of SCALE
    total = sum(r["pr_fixed"] for r in rows)
    assert 0.97 * SCALE < total <= SCALE
    assert sorted(r["rank"] for r in rows) == list(range(1, 26))
    # every node keeps at least the teleport mass
    assert min(r["pr_fixed"] for r in rows) >= (15 * SCALE) // (100 * 25)


def test_triangles_bound(spark, sf_dir):
    n_edges = (
        trade_edges(spark, sf_dir)
        .where(F.col("u") != F.col("v"))
        .select(F.least("u", "v"), F.greatest("u", "v"))
        .distinct()
        .count()
    )
    tri = REGISTRY["graph_triangles"].build(spark, sf_dir).first()["triangles"]
    # complete-graph upper bound on 25 nodes; sanity lower bound
    assert 0 <= tri <= 2300
    if n_edges == 300:  # dense fixture: K25 -> C(25,3)
        assert tri == 2300


def test_lm_score_probability_axioms(spark, sf_dir):
    """Log-probs are <= 0 (MLE ratios never exceed 1), and doc bigram
    counts match len(tokens)-1."""
    out = REGISTRY["text_lm_score"].build(spark, sf_dir)
    assert out.where(F.col("avg_lp_micro") > 0).count() == 0
    from etl_cnc_spark.catalog import table

    d = table(spark, sf_dir, "documents").select(
        "doc_id", (F.size(F.split("text", " ")) - 1).alias("nb")
    )
    mism = (
        out.join(d, "doc_id")
        .where(F.col("n_bigrams") != F.col("nb"))
        .count()
    )
    assert mism == 0


def test_min_label_components_long_path(spark):
    """A 41-node path (diameter 40, > the old 20-round cap) must fully
    converge — pointer jumping covers 2^rounds hops — and every node
    must get label 0. ``local_max_edges=0`` forces the distributed
    loop (the default would take the single-executor union-find
    shortcut on a graph this small)."""
    from etl_cnc_spark.llm.dedup import min_label_components

    pairs = [(i, i + 1) for i in range(40)]
    edges = spark.createDataFrame(
        pairs + [(v, u) for u, v in pairs], "u long, v long"
    )
    rows = min_label_components(edges, local_max_edges=0).collect()
    assert len(rows) == 41
    assert {r["label"] for r in rows} == {0}


def test_min_label_components_local_path_matches_loop(spark):
    """The default small-graph path (executor-side union-find) must
    produce exactly the distributed loop's output — min reachable id
    per node — on a graph with several components, a long chain, a
    cycle, and a self-loop."""
    from etl_cnc_spark.llm.dedup import min_label_components

    pairs = (
        [(i, i + 1) for i in range(10, 25)]  # chain: min 10
        + [(3, 7), (7, 9), (9, 3)]  # cycle: min 3
        + [(40, 40)]  # self-loop singleton
        + [(50, 51)]
    )
    edges = spark.createDataFrame(
        pairs + [(v, u) for u, v in pairs], "u long, v long"
    )
    local = {r["nid"]: r["label"] for r in min_label_components(edges).collect()}
    loop = {
        r["nid"]: r["label"]
        for r in min_label_components(edges, local_max_edges=0).collect()
    }
    assert local == loop
    assert local[24] == 10 and local[9] == 3 and local[40] == 40 and local[51] == 50


def test_min_label_components_raises_on_round_cap(spark):
    """Exhausting max_rounds must raise, never silently return
    partially-propagated labels (loop path forced)."""
    import pytest

    from etl_cnc_spark.llm.dedup import min_label_components

    pairs = [(i, i + 1) for i in range(40)]
    edges = spark.createDataFrame(
        pairs + [(v, u) for u, v in pairs], "u long, v long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        min_label_components(edges, max_rounds=2, local_max_edges=0)
