"""Round-15 optimization-round plan pins (OPTIMIZATION_r15.md).

Each test freezes the STRUCTURAL property an r15 optimization bought,
so a regression is caught by shape, not by timing noise.
"""

from __future__ import annotations

from tests.test_plans import REGISTRY, node_count, plan_of


def test_q21_single_fact_pass(spark, sf_dir):
    """r15: the late-row count folds into the per-order aggregate
    (``sum(count_if(late))``), so lineitem⋈orders runs ONCE — the old
    join-back replayed the fact join (two lineitem + two orders scans).
    One scan per table, and no join of two data-scaled sides remains
    (the only join left is per-order stats ⋈ broadcast supplier)."""
    plan = plan_of("tpch_q21", spark, sf_dir)
    scans = [
        line
        for line in plan.splitlines()
        if line.lstrip().startswith("(") and "Scan parquet" in line
    ]
    assert len(scans) == 3, plan  # lineitem, orders, supplier — once each
    # the distinct-count rewrite from r12 must survive too
    assert node_count(plan, "Expand") == 0, plan


def executed_plan_of(key: str, spark, sf_dir: str) -> str:
    """The final adaptive plan after a collect: exchanges AQE reused
    show as ``ReusedExchange``, so each scan that RAN appears once."""
    df = REGISTRY[key].build(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_cindex_single_fact_scan(spark, sf_dir):
    """The (t, s) cell grid has two consumers (the one-aggregate spine
    and the dense left join); the per-user exchange under both runs
    once, so one events scan serves both.  (r15 shared them through a
    persist(); the cache is gone because a cached subtree stops AQE
    from reusing the exchanges above it.)"""
    plan = executed_plan_of("ml_survival_cindex", spark, sf_dir)
    assert plan.count("FileScan parquet") == 1, plan
    assert "ReusedExchange" in plan, plan


def test_spread_scan_small_file_repartitions(spark, sf_dir):
    """r15: a byte-small scan feeding a compute-dense fold is spread
    to the session's shuffle parallelism with a PINNED partition count
    (a bare repartition(col) is AQE-coalescible and measured useless)."""
    from etl_cnc_spark.catalog import table
    from etl_cnc_spark.utils import spread_scan

    e = table(spark, sf_dir, "embeddings")
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    out = spread_scan(e, sf_dir, "embeddings", "vec_id")
    assert out.rdd.getNumPartitions() == parts


def test_spread_scan_big_file_noop(spark, sf_dir):
    """r15: once the file plans >= shuffle.partitions scan splits the
    helper returns the frame UNCHANGED — at production scale no extra
    shuffle is ever paid (simulated by shrinking maxPartitionBytes so
    the fixture file counts as 'big')."""
    from etl_cnc_spark.catalog import table
    from etl_cnc_spark.utils import spread_scan

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        e = table(spark, sf_dir, "embeddings")
        out = spread_scan(e, sf_dir, "embeddings", "vec_id")
        assert out is e
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_scan_size_parser():
    from etl_cnc_spark.utils import _size_bytes

    assert _size_bytes("134217728b") == 128 << 20
    assert _size_bytes("128m") == 128 << 20
    assert _size_bytes("128MB") == 128 << 20
    assert _size_bytes("1g") == 1 << 30
    assert _size_bytes("4096") == 4096


def test_topk_exact_fold_is_spread(spark, sf_dir):
    """r15: sim_topk_exact's candidate side carries the spread-scan
    exchange, so the Q·N·d fold no longer runs on one byte-sized
    scan split."""
    plan = plan_of("sim_topk_exact", spark, sf_dir)
    assert "hashpartitioning(vec_id" in plan, plan


def test_rfm_melts_with_one_generate(spark, sf_dir):
    """The metric melt is ONE explode of a 3-struct array, not a 3-way
    union of per-metric selects that tripled the rollup lineage in the
    plan.  The prefix machine caches nothing, so each of its two
    branches (the per-bucket window and the per-bucket totals) holds
    one Generate above the shared rollup exchange."""
    plan = plan_of("events_rfm", spark, sf_dir)
    assert node_count(plan, "Generate") == 2, plan
    assert node_count(plan, "Union") == 0, plan


def test_global_ordered_adds_no_cache_entry(spark, sf_dir):
    """The prefix machine materializes nothing: neither a direct call
    nor a call inside a registered build (where ``reuse()`` would
    persist) leaves a CacheManager entry after the result is
    collected."""
    from pyspark.sql import functions as F

    from etl_cnc_spark import registry as R
    from etl_cnc_spark.operators.prefix import global_ordered

    def entries() -> int:
        return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()

    def build(spark, sf_dir):
        df = spark.range(50).select(F.col("id").alias("k"))
        return global_ordered(df, [F.col("k")], bucket_key="k", sums={"k": "run"})

    R.release_caches(spark)
    before = entries()
    assert len(build(spark, sf_dir).collect()) == 50
    assert entries() == before, "direct call cached a frame"
    assert len(R._build_scope(build)(spark, sf_dir).collect()) == 50
    assert entries() == before, "call inside a registered build cached a frame"


def test_minhash_estimate_single_join(spark, sf_dir):
    """r15: est_jaccard comes straight from the bucket join's per-pair
    row count — the old distinct + two re-joins against the signature
    table are gone, so exactly ONE join remains in the plan."""
    plan = plan_of("dedup_minhash_relational", spark, sf_dir)
    joins = sum(
        node_count(plan, n)
        for n in (
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
    )
    assert joins == 1, plan


def test_wasserstein_single_scan(spark, sf_dir):
    """The cents grid feeds the 1-row bounds aggregate and the bucketed
    window, and the windowed frame feeds the rows and the per-bucket
    metadata; AQE runs each shared exchange once (no cache, which
    would block that reuse), so the events scan runs once."""
    plan = executed_plan_of("stat_wasserstein_1d", spark, sf_dir)
    assert plan.count("FileScan parquet") == 1, plan
    assert "ReusedExchange" in plan, plan


def test_cluster_edges_symmetrize_without_union(spark, sf_dir):
    """r15: the symmetric edge frames are one explode over the pair
    frame — the 2-way union consumed `pairs` twice and re-executed
    the whole candidate chain (bucket join + md5 estimate aggregate)
    per run (two identical heavy stages in the profile)."""
    for key in ("text_near_dup_cluster", "dedup_cluster"):
        plan = plan_of(key, spark, sf_dir)
        assert node_count(plan, "Union") == 0, (key, plan)
