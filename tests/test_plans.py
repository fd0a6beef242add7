"""Physical-plan assertions (SURVEY.md §4): the optimizations that
matter at 100 TB must actually appear in the plan — verify, don't
assume. These read ``explain(formatted)`` output."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from etl_cnc_spark.registry import load_all

REGISTRY = load_all()

from etl_cnc_spark.llm import similarity as _sim  # noqa: E402  (after load_all: registry order)


def plan_of(key: str, spark, sf_dir: str) -> str:
    df = REGISTRY[key].build(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def node_count(plan: str, name: str) -> int:
    """Count physical-plan NODES named ``name`` in a formatted explain,
    normalizing the Spark quirk that each node is printed twice (once
    in the tree, once as a ``(N) Name`` detail header).  Counting only
    the detail headers localizes the duplication to this helper — if a
    Spark upgrade changes the tree rendering, only this regex moves."""
    import re

    return len(re.findall(r"^\(\d+\) " + re.escape(name), plan, re.M))


def test_scan_pruning_and_pushdown(spark, sf_dir):
    """Column pruning + predicate pushdown reach the parquet reader."""
    plan = plan_of("scan_parquet_pruned", spark, sf_dir)
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,45" in plan.replace(" ", "")
    # ReadSchema carries only the 3 projected columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_quantity", "l_extendedprice"):
        assert col in read_schema
    assert "l_comment" not in read_schema and "l_returnflag" not in read_schema


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    """nation/region reach the flagship join as broadcast sides."""
    plan = plan_of("join_multiway", spark, sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_groupby_has_partial_final_aggregation(spark, sf_dir):
    """agg_partial_final (SURVEY §2.4): map-side partial aggregation
    before the shuffle, final after — automatic, but must be present."""
    plan = plan_of("agg_groupby", spark, sf_dir)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_global_is_take_ordered(spark, sf_dir):
    """orderBy+limit compiles to TakeOrderedAndProject (per-partition
    top-k + single merge), not a full global sort."""
    plan = plan_of("topk_global", spark, sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_on_hot_paths(spark, sf_dir):
    """Built-in-expression queries stay inside WholeStageCodegen
    (codegen explain mode — the formatted mode hides codegen
    annotation under AdaptiveSparkPlan)."""
    for key in ("agg_groupby", "project_expr", "fn_string"):
        df = REGISTRY[key].build(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("codegen")
        out = buf.getvalue()
        assert "WholeStageCodegen" in out, f"{key} fell out of codegen"


def test_semi_join_build_side_is_broadcast(spark, sf_dir):
    plan = plan_of("filter_subquery", spark, sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_exact_topk_has_no_shuffle_on_candidates(spark, sf_dir):
    """sim_topk_exact: the query side is broadcast — the big
    candidate table must not be exchanged before the join."""
    plan = plan_of("sim_topk_exact", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_session_tuning_applied(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) <= 64


def test_bucketed_join_has_no_shuffle_on_inputs(spark, sf_dir):
    """join_bucketed: both sides pre-bucketed on the join key →
    sort-merge join with NO Exchange feeding it (the whole point:
    at 100 TB the per-query shuffle becomes a one-time write)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of("join_bucketed", spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin")[0]
    # the aggregate above the join may exchange; the join inputs must not
    assert "Exchange hashpartitioning" not in join_part, (
        "bucketed join inputs were shuffled:\n" + join_part
    )


def test_partition_pruning_on_partitioned_readback(spark, sf_dir, tmp_path):
    """A hive-partitioned write must give readers partition pruning:
    a filter on the partition column appears as PartitionFilters at
    the scan (only matching directories are listed/read) — at 100 TB
    this skips entire partitions, before row groups are even opened."""
    from etl_cnc_spark.catalog import table as t

    out = str(tmp_path / "part_lineitem")
    t(spark, sf_dir, "lineitem").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(out)
    df = (
        spark.read.parquet(out)
        .where("l_returnflag = 'A'")
        .select("l_orderkey", "l_quantity")
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    compact = plan.replace(" ", "")
    assert "l_returnflag),A" in compact or "l_returnflag,A" in compact or "isnotnull(l_returnflag" in compact, plan


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """DPP: joining a partitioned fact to a filtered dim must inject a
    dynamicpruning subquery filter at the fact scan, so only matching
    partitions are read — at 100 TB the dim filter prunes the fact
    I/O before any fact row is touched."""
    from pyspark.sql import functions as F

    from etl_cnc_spark.catalog import table as t

    out = str(tmp_path / "dpp_lineitem")
    t(spark, sf_dir, "lineitem").write.mode("overwrite").partitionBy(
        "l_returnflag"
    ).parquet(out)
    fact = spark.read.parquet(out)
    # The dim must be OPAQUE (materialized) and filtered on a NON-join
    # column: a filter derivable from the join key gets constant-folded
    # into a static PartitionFilter (good, but nothing dynamic to test).
    dim_path = str(tmp_path / "dpp_dim")
    (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag")
        .distinct()
        .withColumn(
            "flag_group",
            F.when(F.col("l_returnflag") == "A", "X").otherwise("Y"),
        )
        .write.mode("overwrite")
        .parquet(dim_path)
    )
    dim = spark.read.parquet(dim_path).where(F.col("flag_group") == "X")
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    prev_stats = spark.conf.get(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", "true"
    )
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    # tiny local fixtures fail the cost heuristic; force the decision
    # on filter ratio so the plan shape itself is what's under test
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try:
        joined = (
            fact.join(
                dim.withColumnRenamed("l_returnflag", "rf"),
                fact["l_returnflag"] == F.col("rf"),
            )
            .groupBy("l_returnflag")
            .count()
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue().lower()
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", prev_stats)
    assert "dynamicpruning" in plan, plan


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Catalyst's runtime-filter rule pushes a bloom filter built
    from the selective (dim) side into the fact scan — the automatic
    semi-join reduction that saves shuffling non-matching fact rows
    at 100 TB. Broadcast is disabled to exercise the shuffle-join
    path (broadcast joins get their filtering for free)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from etl_cnc_spark.catalog import table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = table(spark, sf_dir, "lineitem")
        o = table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "might_contain" in plan, "no runtime bloom filter injected"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exchange_reuse_for_shared_subplan(spark, sf_dir):
    """The same aggregated subquery used on both sides of a join
    must plan ONE shuffle + a ReusedExchange, not two — at scale
    this halves the shuffle for self-comparison queries (share-of-
    total, vs-average patterns)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from etl_cnc_spark.catalog import table

    li = table(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5)).alias("cents")
    )
    joined = per_flag.alias("a").crossJoin(
        per_flag.agg(F.sum("cents").alias("total")).alias("b")
    )
    joined.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue().split("== Initial Plan ==")[0]
    assert "ReusedExchange" in plan, "shared subplan shuffled twice"


def test_embedding_dedup_has_no_all_pairs_join(spark, sf_dir):
    """dedup_embedding (r4 rewrite): the only nested-loop join allowed
    is the broadcast of the bounded CENTROID table (corpus × N/64
    centroids, map-only assignment); candidates must flow through
    equi-joins on the cell id / vec id — never a data×data cartesian
    or an all-pairs theta join."""
    import re

    plan = plan_of("dedup_embedding", spark, sf_dir)
    assert "CartesianProduct" not in plan
    # formatted explain mentions each node in tree + details; count
    # DISTINCT node ids. ranked_cells feeds two branches (assign,
    # probes); each branch carries TWO bounded crossJoins — the 1-row
    # corpus-count frame (capped_centroids' lazy step computation)
    # and the ≤4096-row centroid broadcast — so up to four BNL nodes
    # are legitimate. Anything more means an all-pairs join crept
    # back in.
    bnl_ids = set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan))
    assert len(bnl_ids) <= 4, plan
    # the exact re-rank joins embeddings back by id: hash joins exist
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_attribution_candidates_are_equi_joined(spark, sf_dir):
    """events_attribution / events_conversion_paths: conversion×touch
    candidates must come from a HASH/SORT-MERGE equi-join on user_id
    (range predicates applied post-join inside the same operator) —
    never a nested-loop over the full event log."""
    for key in ("events_attribution", "events_conversion_paths"):
        plan = plan_of(key, spark, sf_dir)
        assert "CartesianProduct" not in plan, key
        assert "BroadcastNestedLoopJoin" not in plan, key
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, key


def test_dpp_subquery_in_fact_scan(spark, sf_dir):
    """join_dynamic_partition_pruning: the hive-partitioned fact scan
    must carry a runtime dynamic-pruning subquery in its
    PartitionFilters (the dim's tier filter is data-dependent, so
    static folding is impossible) — proving partition directories are
    skipped at run time, not filtered post-scan."""
    df = REGISTRY["join_dynamic_partition_pruning"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_spatial_grid_join_is_hash_not_all_pairs(spark, sf_dir):
    """The grid join must execute as an equi hash join on the cell
    key — never a nested-loop over all customer×supplier pairs."""
    plan = plan_of("join_spatial_grid", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan  # broadcast or shuffled, both equi


def test_bm25_aggregates_are_partial_final(spark, sf_dir):
    """The df and per-doc score aggregations must map-side combine
    (shuffle |groups|, not rows). tf itself never aggregates — it is
    a row-local array fold; the exploded-words shape lives only in
    the DuckDB oracle."""
    plan = plan_of("text_bm25", spark, sf_dir)
    assert plan.count("HashAggregate") >= 4  # ≥2 aggs × partial+final
    assert "partial_count" in plan or "partial" in plan.lower()
    # the global top-N must be a distributed TakeOrderedAndProject,
    # never a corpus-sized single-partition ranking window
    assert "TakeOrderedAndProject" in plan


def test_substring_span_dedup_joins_on_digest(spark, sf_dir):
    """Duplicate-shingle filtering is a single digest-partitioned
    window (r16: min/max over the digest partition replaced the
    agg + semi-join shape — one shuffle of the positional frame
    instead of two, no join) — no all-pairs comparison anywhere,
    and no join of the data-scaled positional frame at all."""
    plan = plan_of("dedup_substring_spans", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" not in plan  # the semi-join is gone (r16)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # the duplicate test is the digest-partitioned window
    assert "windowspecdefinition(sh" in plan, plan


def test_value_grid_folds_have_no_unpartitioned_window(spark, sf_dir):
    """The twelve two-sample tests read one ECDF, ``stats.
    _two_sample_ecdf``: every windowspecdefinition in their plans is
    partitioned by _pid — no "WindowExec: No Partition Defined" over
    the data-proportional cents grid survives (VERDICT r5 #4) — the
    window exchange is shared through AQE reuse (the metadata groups
    by _pid, n1, n2 so both branches read the same columns), nothing
    is cached, and no join is on a rank.  events_rfm's ranks run
    through the prefix machine and carry the same window pin."""
    import inspect
    import re

    ecdf = [
        k
        for k, q in REGISTRY.items()
        if "_two_sample_ecdf" in inspect.unwrap(q.build).__code__.co_names
    ]
    assert len(ecdf) == 12, ecdf
    for key in ecdf + ["events_rfm"]:
        df = REGISTRY[key].build(spark, sf_dir)
        if key != "events_rfm":
            df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "windowspecdefinition" in line:
                # unpartitioned specs render as
                # windowspecdefinition(<order>, <frame>) with no
                # partition columns before the ordering spec — every
                # spec here must carry the _pid partition column.
                assert "_pid" in line, (key, line)
        if key == "events_rfm":
            continue
        # the rows and the metadata share the _pid window exchange; a
        # metadata groupBy("_pid") alone would prune n1/n2 from it
        reused = [line for line in plan.splitlines() if "ReusedExchange" in line]
        assert [r for r in reused if "hashpartitioning(_pid" in r], (key, plan)
        assert "InMemoryTableScan" not in plan, (key, plan)
        joins = [line for line in plan.splitlines() if "Join" in line]
        assert joins, (key, plan)
        assert not [j for j in joins if re.search(r"\brk#", j)], (key, joins)


def test_hybrid_rrf_fuses_without_full_outer_join(spark, sf_dir):
    """sim_hybrid_rrf fuses its two ≤100-row rank lists with a union
    and a per-doc aggregate instead of a full outer join."""
    plan = plan_of("sim_hybrid_rrf", spark, sf_dir)
    assert "FullOuter" not in plan, plan
    assert node_count(plan, "Union") == 1, plan


def test_skyline_bucket_prefilter_prunes(spark, sf_dir):
    """orders_skyline's coarse price-bucket prune must survive in the
    plan: the candidate scan joins the broadcast bucket-cut table on
    the bucket key with the cut_day dominance filter attached — if a
    refactor drops the prefilter, the exact sweep silently runs over
    the whole corpus and this fails (VERDICT r5 #5)."""
    df = REGISTRY["orders_skyline"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    prune = [
        l
        for l in plan.splitlines()
        if "BroadcastHashJoin" in l and "bkt" in l and "cut_day" in l
    ]
    assert prune, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_nearest_is_single_shuffle_window(spark, sf_dir):
    """join_asof_nearest's scale shape is the union+window
    formulation: ONE exchange (the user_id shuffle), bidirectional
    candidates from partitioned windows, and no inequality join
    anywhere — the oracle's quadratic per-user candidate join must
    never appear in the Spark plan."""
    df = REGISTRY["join_asof_nearest"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # both window directions partition by user_id
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "user_id" in line, line


def test_lift_gains_ranking_uses_prefix_machine(spark, sf_dir):
    """ml_lift_gains' global score ranking must run through the
    bucketed prefix machine — the _pid-partitioned windows — and
    never a corpus-sized unpartitioned sort; the only unpartitioned
    window allowed is the 10-row decile fold (bounded metadata)."""
    df = REGISTRY["ml_lift_gains"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_pid" in plan
    assert "CartesianProduct" not in plan
    # every windowspec over the data-proportional rank frame is
    # partitioned; the decile-level fold sits above an aggregation
    # keyed by 10 deciles, which the plan shows as a Window AFTER the
    # decile HashAggregate — count unpartitioned specs and require
    # they only order by the decile column
    for line in plan.splitlines():
        if "windowspecdefinition" in line and "_pid" not in line:
            assert "decile" in line, line


def test_gbm_histogram_aggregates_partial_final(spark, sf_dir):
    """The gradient histogram must map-side combine (shuffle carries
    |bins|, not rows) and the split-gain windows partition by
    feature."""
    df = REGISTRY["ml_gbm_histogram"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "feature" in line, line


def test_abc_analysis_uses_prefix_machine(spark, sf_dir):
    """orders_abc_analysis' revenue ranking runs through the bucketed
    prefix machine; no unpartitioned window anywhere (its running
    sums are all _pid-scoped)."""
    df = REGISTRY["orders_abc_analysis"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_pid" in plan
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "_pid" in line, line


def test_weighted_percentile_window_input_is_grid_sized(spark, sf_dir):
    """agg_weighted_percentile's cumulative-weight window must consume
    the (l_returnflag, v_cents) value grid, not raw fact rows: a hash
    aggregate (with a partial/map-side combine) sits between the scan
    and the Window, so the per-flag window sort is bounded by the
    cents value domain at any data scale (VERDICT r6 #2)."""
    plan = plan_of("agg_weighted_percentile", spark, sf_dir)
    lines = plan.splitlines()
    tree = [l for l in lines if ") Window" in l or ") HashAggregate" in l]
    # formatted explain numbers nodes bottom-up: the grid aggregate
    # must appear (be numbered) BEFORE the first Window node.
    win_idx = [i for i, l in enumerate(tree) if ") Window" in l]
    agg_idx = [i for i, l in enumerate(tree) if ") HashAggregate" in l]
    assert win_idx and agg_idx
    first_win = int(tree[win_idx[0]].split(")")[0].strip().lstrip("(* "))
    grid_aggs = [int(l.split(")")[0].strip().lstrip("(* ")) for l in
                 (tree[i] for i in agg_idx)]
    assert any(a < first_win for a in grid_aggs), plan
    assert "partial_sum" in plan


def test_contamination_has_no_doc_pairs(spark, sf_dir):
    """text_contamination_check must be linear in corpus shingles:
    shingle-keyed equi-joins only — no cartesian/BNL doc x doc stage
    anywhere, and the probe side deduplicates (distinct aggregate)
    before the join."""
    plan = plan_of("text_contamination_check", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_conformal_order_statistic_is_grid_sized(spark, sf_dir):
    """ml_conformal_interval's calibration quantile must consume the
    checkpointed residual-cents GRID: the final plan scans parquet at
    most once (the moment pass; the grid pass materializes behind the
    checkpoint), does no cartesian work, and every Window is
    partitioned (the prefix machine's folds)."""
    plan = plan_of("ml_conformal_interval", spark, sf_dir)
    # two scans pre-materialization: the moment pass + the (lazily
    # checkpointed) grid pass; runtime replays the grid, not the scan
    assert node_count(plan, "Scan parquet") <= 1, plan
    assert "CartesianProduct" not in plan
    windows = [l for l in plan.splitlines() if ") Window" in l]
    # partitioned windows list their partition spec; none may be empty
    for w in windows:
        assert "partitionBy=[]" not in w.replace(" ", ""), plan


def test_reciprocal_nn_candidates_not_shuffled(spark, sf_dir):
    """sim_reciprocal_nn: the pairwise scoring stage must broadcast
    the bounded query block (BNL/BHJ over the block), never exchange
    the candidate table before scoring."""
    plan = plan_of("sim_reciprocal_nn", spark, sf_dir)
    assert (
        "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    )


def test_mood_median_single_fact_scan(spark, sf_dir):
    """stat_mood_median reads the fact table ONCE: the checkpointed
    (type, cents) cell grid feeds both the median and contingency
    branches, so at most two scan nodes appear pre-materialization
    (the lazy checkpoint prints its parent lineage per reference;
    runtime replays checkpointed cells, one real scan)."""
    plan = plan_of("stat_mood_median", spark, sf_dir)
    assert node_count(plan, "Scan parquet") <= 1, plan


def test_shuffle_hash_hint_is_honored(spark, sf_dir):
    """join_hint_shuffle_hash must actually plan a ShuffledHashJoin —
    a silently-ignored hint would make the tuning surface a no-op."""
    plan = plan_of("join_hint_shuffle_hash", spark, sf_dir)
    assert "ShuffledHashJoin" in plan, plan


# the calendar-series family: an hourly or daily grid ranked by
# prefix.calendar_rank (column of the grid's time key per key)
CALENDAR_SERIES = {
    "stat_kpss": "h",
    "stat_adf": "h",
    "stat_yule_walker_ar2": "h",
    "stat_hurst_rs": "hr",
    "stat_pacf": "hr",
    "stat_periodogram": "hr",
    "stat_ccf": "day",
    "stat_newey_west": "day",
    "stat_white_test": "day",
    "stat_cointegration_eg": "day",
    "stat_siegel_slopes": "day",
    "stat_cox_stuart": "day",
    "stat_runs_up_down": "day",
    "stat_pettitt": "day",
    "events_transfer_entropy": "day",
    "events_reliability_growth": "day",
}


def _rank_windows(final_plan: str) -> list[tuple[str, str]]:
    """(window spec, first exchange below) of every ``row_number()``
    window in an executed plan's tree text; expression ids are dropped
    from the spec, so the same window over a self-join's two sides
    reads as one."""
    lines = final_plan.splitlines()
    found = []
    for i, line in enumerate(lines):
        spec = re.search(r"row_number\(\) (windowspecdefinition\(.*?\)\))", line)
        if "Window [" not in line or not spec:
            continue
        depth = line.index("Window [")
        below = next(
            b for b in lines[i + 1:] if "Exchange" in b or b.find("+- ") < depth
        )
        found.append((re.sub(r"#\d+L?", "", spec.group(1)), below.strip()))
    return found


@pytest.mark.parametrize("key", sorted(CALENDAR_SERIES))
def test_calendar_series_ranked_by_one_window(key, spark, sf_dir, monkeypatch):
    """A calendar grid (≤24·|days| rows) is ranked by ONE
    single-partition window (prefix.calendar_rank), never the bucketed
    prefix machine.  Read over the executed plans of the key (built and
    collected) and of every frame it local-checkpoints on the way, as a
    lazy checkpoint hides the plan below it: no ``_pid`` column, and
    every ``row_number()`` window ordered by the grid's time column is
    the same unpartitioned rank over a single-partition exchange (one
    copy per consumer of the ranked grid)."""
    plans = []
    frame = type(spark.range(1))
    checkpoint = frame.localCheckpoint

    def recorded(self, *args, **kwargs):
        out = checkpoint(self, *args, **kwargs)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(frame, "localCheckpoint", recorded)
    df = REGISTRY[key].build(spark, sf_dir)
    df.collect()
    plans.append(df._jdf.queryExecution().executedPlan().toString())
    finals = [p.split("== Initial Plan ==")[0] for p in plans]
    assert not [f for f in finals if "_pid" in f], finals
    col = CALENDAR_SERIES[key]
    windows = [
        (spec, exchange)
        for f in finals
        for spec, exchange in _rank_windows(f)
        if re.search(rf"\b{col} ASC", spec)
    ]
    specs = {spec for spec, _ in windows}
    assert specs == {
        f"windowspecdefinition({col} ASC NULLS FIRST, specifiedwindowframe"
        "(RowFrame, unboundedpreceding$(), currentrow$())"
    }, (specs, finals)
    for _, exchange in windows:
        assert "Exchange SinglePartition" in exchange, (exchange, finals)


def test_qq_table_broadcasts_no_range(spark, sf_dir):
    """stat_qq_table fans each ECDF row out to its 9 deciles in place
    (explode), like the other two-sample keys: no broadcast ``Range``
    frame is crossed with the ECDF."""
    plan = plan_of("stat_qq_table", spark, sf_dir)
    assert node_count(plan, "Range") == 0, plan


def test_unpartitioned_window_census():
    """Repo-wide policy (VERDICT r6 #5): every ``Window.orderBy(...)``
    WITHOUT a partitionBy is enumerated here with a boundedness
    justification — the input must be metadata-sized (bounded by a
    value domain, a calendar, or a preceding limit/top-k), never
    data-proportional.  Data-proportional global ordering must go
    through operators/prefix.global_ordered instead.  AST-walk so
    docstrings/comments don't count; a new unlisted site fails until
    it is either routed through the prefix machine or justified."""
    import ast
    import pathlib

    # (module-relative path, enclosing function) -> why it is bounded
    ALLOW = {
        # post-TakeOrdered top-k lists (<= tens of rows by limit)
        ("operators/analytics.py", "events_conversion_paths"):
            "runs after .limit(20) — 20-row path list",
        ("operators/etl.py", "etl_skew_report"):
            "runs after .limit(10) — 10-row hot-key list",
        ("llm/text.py", "text_bpe_pair_counts"):
            "rank over distinct char bigrams — |alphabet|^2 bounded",
        ("llm/retrieval.py", "_bm25_scores"):
            "runs after .limit(n) — bounded retrieval list",
        ("llm/retrieval.py", "sim_hybrid_rrf"):
            "vec list after .limit(LIST_N); fusion unions two bounded "
            "lists",
        # calendar-bounded daily series (~thousands of rows at any SF)
        ("operators/prefix.py", "calendar_rank"):
            "the calendar-series rank: one row per hour or day of the "
            "event span (≤24·|days| rows at any SF)",
        ("operators/stats.py", "stat_runs_test"):
            "one row per day — calendar-bounded",
        ("operators/stats.py", "stat_page_hinkley"):
            "one row per day — calendar-bounded",
        ("operators/stats.py", "stat_durbin_watson"):
            "one row per day — calendar-bounded",
        ("operators/stats.py", "stat_benjamini_hochberg"):
            "one row per event_type — domain-bounded hypothesis family",
        ("operators/stats.py", "stat_holm_stepdown"):
            "one row per event_type — domain-bounded hypothesis family "
            "(rank + running step-down min over 5 rows)",
        ("operators/stats.py", "stat_pettitt"):
            "one row per day — calendar-bounded (rank + prefix over "
            "the daily grid)",
        ("operators/stats.py", "stat_chatterjee_xi"):
            "one row per day — calendar-bounded (rank counts + lag "
            "over the daily event-volume grid)",
        ("operators/stats.py", "stat_hampel_filter"):
            "one row per day — calendar-bounded (centered ±3-day "
            "rolling median/MAD over the daily revenue series)",
        ("operators/analytics.py", "events_km_greenwood"):
            "lifetime-day grid — calendar-bounded (same shape as "
            "events_kaplan_meier)",
        ("operators/analytics.py", "events_classical_decomposition"):
            "one row per day — calendar-bounded spine (centered 7-day "
            "moving average)",
        ("operators/analytics.py", "events_lorenz_curve"):
            "10-row decile table (user ranks go through the prefix "
            "machine)",
        ("operators/analytics.py", "events_ab_sequential"):
            "one row per day — calendar-bounded",
        ("operators/analytics.py", "events_peak_detection"):
            "one row per day — calendar-bounded",
        # value-domain-bounded grids / bucket tables
        ("operators/analytics.py", "orders_skyline"):
            "coarse price-bucket table + pruned frontier candidates; "
            "bucket count bounded by cents range / 1024",
        ("operators/mlprep.py", "ml_lift_gains"):
            "LIFT_K decile rows",
        ("operators/mlprep.py", "ml_learning_curve"):
            "LC_BUCKETS hash-bucket rows — domain-bounded",
        ("llm/text.py", "text_vocab_growth"):
            "one row per doc-id bucket (corpus/VOCAB_BUCKET_W)",
        ("llm/text.py", "text_heaps_law"):
            "same bucket-grid prefix as text_vocab_growth — one row "
            "per doc-id bucket",
        ("llm/similarity.py", "ml_roc_auc"):
            "two-level prefix: per-score-bucket offset table — bucket "
            "count bounded by the score range, not the corpus",
        ("llm/similarity.py", "ml_ks_separation"):
            "two-level prefix: per-score-bucket offset table — bucket "
            "count bounded by the score range, not the corpus",
        ("llm/similarity.py", "_score_cdf_grid"):
            "shared two-level prefix scaffold (DeLong CI / Gini "
            "split): bucket table bounded by the score range",
        ("llm/similarity.py", "embed_variance_spectrum"):
            "ranking window over the 64-row per-dimension spectrum — "
            "bounded by the declared dimensionality",
        # round-7 wave I: calendar-bounded grids
        ("operators/analytics.py", "events_kaplan_meier"):
            "cumulative folds over the lifetime-DAYS grid — "
            "calendar-bounded (one row per distinct lifespan day)",
        ("operators/stats.py", "stat_wilcoxon_signed"):
            "cumulative rank fold over the |d| grid of calendar days "
            "(≤|days| rows)",
        ("operators/stats.py", "stat_brunner_munzel"):
            "midrank prefix over the integer l_quantity grid — "
            "value-domain-bounded (≤50 rows)",
        ("operators/stats.py", "stat_dunn_posthoc"):
            "midrank prefix over the value-cents grid — "
            "value-domain-bounded",
        ("operators/stats.py", "stat_gini_mean_difference"):
            "sorted-identity prefix over the value-cents grid — "
            "value-domain-bounded (price range is fixed)",
        ("operators/stats.py", "stat_lepage"):
            "midrank prefix over the integer l_quantity grid — "
            "value-domain-bounded (≤50 rows)",
        ("operators/analytics.py", "events_xmr_chart"):
            "lag over the calendar-day grid — bounded",
        ("operators/analytics.py", "events_bass_diffusion"):
            "cumulative-adopters prefix over the calendar-day grid — "
            "bounded",
        ("operators/analytics.py", "events_competing_risks_cif"):
            "at-risk suffix + survivor/incidence prefixes over the "
            "calendar-day grid — bounded (three windows)",
        ("operators/analytics.py", "orders_newsvendor"):
            "empirical-CDF prefix over distinct daily demands — "
            "calendar-bounded (≤|days| rows)",
        ("llm/text.py", "pipeline_interleave_roundrobin"):
            "source-index rank over the |sources| dimension table "
            "(~20 rows)",
        ("operators/analytics.py", "_median_of"):
            "median prefix over the distinct daily-count grid — "
            "calendar-bounded (≤|days| rows; transfer-entropy helper)",
        ("operators/analytics.py", "events_gehan_wilcoxon"):
            "at-risk suffix prefix over the survival day grid — "
            "calendar-bounded (same shape as events_logrank_test)",
        ("operators/stats.py", "stat_runs_up_down"):
            "lag over the nonzero-sign day sequence — calendar-bounded",
        ("operators/mlprep.py", "ml_qini_auuc"):
            "trapezoid lag over the integer click-count score grid — "
            "value-domain-bounded",
        ("llm/text.py", "pipeline_budget_allocation"):
            "quality-rank + token prefix over the |sources| dimension "
            "table (~20 rows)",
        ("operators/stats.py", "stat_siegel_slopes"):
            "two lower-median selections over |days|-sized frames "
            "(per-day repeated medians, then residual median) — "
            "calendar-bounded",
    }

    root = pathlib.Path(__file__).resolve().parent.parent / "etl_cnc_spark"
    found: dict[tuple[str, str], int] = {}
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        rel = str(path.relative_to(root))

        def enclosing(node, stack):
            return stack[-1] if stack else "<module>"

        def walk(node, stack):
            for child in ast.iter_child_nodes(node):
                s = stack
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    s = stack + [child.name]
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "orderBy"
                    and isinstance(child.func.value, ast.Name)
                    and child.func.value.id == "Window"
                ):
                    key = (rel, enclosing(child, stack))
                    found[key] = found.get(key, 0) + 1
                walk(child, s)

        walk(tree, [])

    unlisted = {k: v for k, v in found.items() if k not in ALLOW}
    stale = {k for k in ALLOW if k not in found}
    assert not unlisted, f"unjustified unpartitioned Window sites: {unlisted}"
    assert not stale, f"stale allowlist entries: {stale}"


def test_record_linkage_blocks_as_equi_join(spark, sf_dir):
    """etl_record_linkage_fs's candidate generation must plan as a
    real equi-join on the blocking key (hash or sort-merge or
    broadcast) — a nested-loop/cartesian plan would mean the blocking
    predicate failed to become the join key and pair generation is
    |A|x|B|."""
    plan = plan_of("etl_record_linkage_fs", spark, sf_dir)
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    ), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_adamic_adar_no_cartesian(spark, sf_dir):
    """graph_adamic_adar's two-hop enumeration is an equi-join on the
    middle node and the existing-edge removal an anti equi-join —
    never a cartesian product over parts."""
    plan = plan_of("graph_adamic_adar", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_eigenvector_rescale_is_a_window_not_a_cross_join(spark, sf_dir):
    """graph_eigenvector_centrality folds each iteration's max rescale,
    and the final share total, into a window over the bounded nation
    state: one Window per iteration plus one for the share, and no
    crossJoin of a 1-row max frame, no per-iteration persist (the r15
    shape) and no parquet re-scan under the checkpointed inputs."""
    from etl_cnc_spark.operators.graph import _EV_ITER

    plan = plan_of("graph_eigenvector_centrality", spark, sf_dir)
    assert node_count(plan, "BroadcastNestedLoopJoin") == 0, plan
    assert node_count(plan, "CartesianProduct") == 0, plan
    assert node_count(plan, "InMemoryTableScan") == 0, plan
    assert node_count(plan, "Scan parquet") == 0, plan
    assert node_count(plan, "Window") == _EV_ITER + 1, plan


def test_prefix_machine_plans_read_no_cache(spark, sf_dir):
    """global_ordered materializes nothing, and neither do these
    callers in front of it: the executed plans hold no
    InMemoryTableScan, and the branches share their exchanges through
    AQE exchange reuse instead."""
    for key in ("events_rfm", "sort_zorder"):
        df = REGISTRY[key].build(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan, (key, plan)
        assert "ReusedExchange" in plan, (key, plan)


def test_sprt_uses_prefix_machine_not_global_window(spark, sf_dir):
    """stat_sprt_ab's running conversion count must come from the
    bucketed prefix machine — a single-partition global Window over
    the event stream would serialize the whole corpus through one
    task at 100 TB."""
    import contextlib
    import io

    from etl_cnc_spark.registry import load_all

    reg = load_all()
    df = reg["stat_sprt_ab"].build(spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the prefix machine windows partition by bucket; no unpartitioned
    # data-proportional Window may appear
    for line in plan.splitlines():
        if "Window" in line and "PartitionSpec" not in line:
            # formatted plans show window specs inline; reject any
            # window whose partition clause is empty over the stream
            assert "windowspecdefinition(" not in line or (
                "_bkt" in line or "bucket" in line
            ), line


def test_two_phase_components_plan_shapes(spark):
    """VERDICT r10 item 8: pin the two-phase connected-components gate
    at the PLAN level. Below the local_max_edges threshold the helper
    must finish with exactly ONE Arrow-batched union-find
    (FlatMapGroupsInPandas) and no join in the plan; forcing the
    distributed path must instead return pointer-jumping loop output
    (a checkpoint-truncated scan — no pandas stage). The local=loop
    label-equivalence test lives in test_graph.py; this one protects
    the perf win from a silent gate regression."""
    import contextlib
    import io

    from etl_cnc_spark.llm.dedup import min_label_components

    edges_rows = [(0, 1), (1, 0), (1, 2), (2, 1), (5, 6), (6, 5)]
    edges = spark.createDataFrame(edges_rows, "u long, v long")

    def plan(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    local_plan = plan(min_label_components(edges))
    # exactly ONE Arrow union-find node (node_count normalizes the
    # tree+detail double-print quirk of formatted explain)
    assert node_count(local_plan, "FlatMapGroupsInPandas") == 1, local_plan
    assert "Join" not in local_plan, local_plan

    loop_plan = plan(min_label_components(edges, local_max_edges=0))
    assert "FlatMapGroupsInPandas" not in loop_plan, loop_plan


def test_jaccard_linkpred_no_cartesian(spark, sf_dir):
    """graph_jaccard_linkpred shares graph_adamic_adar's candidate
    generator: the two-hop enumeration and both degree joins must be
    equi-joins — never a cartesian product over parts."""
    plan = plan_of("graph_jaccard_linkpred", spark, sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hoeffding_grid_is_broadcast(spark, sf_dir):
    """stat_hoeffding_d's dominance counts run on the 50x11 value
    cell grid crossed with a BROADCAST copy of itself: the grid is
    lazily localCheckpoint'd so BOTH cross sides replay the
    materialized cells (the plan shows checkpoint replays, not two
    fact scans) and the pairing is a broadcast nested-loop over
    bounded metadata, never an exchange of data-sized rows."""
    plan = plan_of("stat_hoeffding_d", spark, sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    # 0 parquet scans post-checkpoint; 4 checkpoint-replay nodes since
    # r14: both guarded cross sides each replay the cells checkpoint,
    # plus the 1-row n_all aggregate feeding the raise_error
    # exactness-cap guard appears on each side's broadcast input
    # (node_count normalizes the tree+detail double-print quirk) —
    # all four are replays of the SAME <=550-row materialized grid,
    # never fact-table scans
    assert node_count(plan, "Scan parquet") == 0, plan
    assert node_count(plan, "Scan ExistingRDD") == 4, plan


def test_geohash_single_scan_hash_aggregate(spark, sf_dir):
    """fn_geohash is a zero-join scalar projection plus ONE hash
    aggregate over the integer code: exactly one scan node, no join,
    and NO SortAggregate — min/max run on the long gh, the base32
    strings are rendered post-aggregate."""
    plan = plan_of("fn_geohash", spark, sf_dir)
    assert node_count(plan, "Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert "SortAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_r12_wave_a_single_materialized_lineage(spark, sf_dir):
    """The three r12 keys whose frames feed two consumers are lazily
    localCheckpoint'd: the final plans replay the materialized frame
    (Scan ExistingRDD) with ZERO residual parquet scans — without the
    checkpoint, udtf_polymorphic_partitioned ran its Python UDTF stage
    twice and ml_quantile_normalize re-derived its grids 8x. No
    cartesian work anywhere."""
    for key, max_replays in (
        ("udtf_polymorphic_partitioned", 2),
        ("ml_quantile_normalize", 2),
        ("stat_ancova", 2),
    ):
        plan = plan_of(key, spark, sf_dir)
        assert node_count(plan, "Scan parquet") == 0, (key, plan)
        assert node_count(plan, "Scan ExistingRDD") <= max_replays, (key, plan)
        assert "CartesianProduct" not in plan, key


def test_udtf_partitioned_survives_repartition(spark, sf_dir):
    """The analyze()-declared PartitioningColumn must hold under a
    hostile input layout: with the source pre-split across 7
    partitions the UDTF still instantiates once per DISTINCT region
    (5 complete rows), because Catalyst inserts the shuffle the UDTF
    demanded — the at-scale counterpart of the WITH SINGLE PARTITION
    regression pin in test_r7_wave_w.py."""
    from etl_cnc_spark.catalog import table

    REGISTRY["udtf_polymorphic_partitioned"].build(spark, sf_dir)  # registers
    n = (
        table(spark, sf_dir, "nation")
        .select("n_regionkey", "n_name")
        .repartition(7)
    )
    n.createOrReplaceTempView("etlcnc_nation_udtf_part")
    out = spark.sql(
        """
        SELECT p.grp, p.n_rows FROM etlcnc_profile_grp(
            TABLE(SELECT n_regionkey, n_name
                  FROM etlcnc_nation_udtf_part)) p
        """
    ).collect()
    assert len(out) == 5
    assert sum(r["n_rows"] for r in out) == 25
    spark.catalog.dropTempView("etlcnc_nation_udtf_part")


def test_q21_has_no_expand(spark, sf_dir):
    """tpch_q21's distinct-count predicates are min/max folds: the
    plan must contain NO Expand node (the countDistinct pair doubled
    the shuffle width) and keep a HashAggregate per-order stage."""
    plan = plan_of("tpch_q21", spark, sf_dir)
    assert node_count(plan, "Expand") == 0, plan
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan, plan


# key -> the size nq of the query block it scores through query_pairs
QUERY_PAIRS = {
    **dict.fromkeys(
        ("sim_topk_exact", "sim_range_search", "ml_ndcg_eval", "ml_map_at_k",
         "ml_mrr", "ml_err_at_k", "ml_rank_biased_overlap", "ml_knn_classifier"),
        _sim.N_QUERIES,
    ),
    "sim_topk_diverse": _sim.N_DIVERSE_Q,
    "sim_mips_transform": _sim.MIPS_QUERIES,
    "sim_reciprocal_nn": _sim.RNN_BLOCK,
}


def _children(lines: list[str], at: int) -> list[list[str]]:
    """The subtrees of the direct children of the tree-string node on
    ``lines[at]``, in plan order."""
    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    below = []
    for line in lines[at + 1:]:
        if col(line) <= col(lines[at]):
            break
        below.append(line)
    top = min(col(line) for line in below)
    starts = [i for i, line in enumerate(below) if col(line) == top]
    return [below[a:b] for a, b in zip(starts, starts[1:] + [len(below)])]


@pytest.mark.parametrize("key", sorted(QUERY_PAIRS))
def test_query_pairs_broadcast_block_spread_candidates(key, spark, sf_dir):
    """Every exact query-block scan is ``dedup.query_pairs``: in the
    executed plan (built and collected; a reused frame's cached plan
    included) each ``qid != cid`` nested-loop join broadcasts the query
    block ``vec_id < nq`` and reads the candidates through the
    ``spread_scan`` exchange ``hashpartitioning(vec_id, …)``."""
    df = REGISTRY[key].build(spark, sf_dir)
    df.collect()
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    joins = [
        i for i, line in enumerate(lines)
        if "BroadcastNestedLoopJoin BuildLeft" in line and "NOT (qid#" in line
    ]
    assert joins, "\n".join(lines)
    block = re.compile(rf"\(vec_id#\d+L? < {QUERY_PAIRS[key]}\)")
    for at in joins:
        query, cand = ("\n".join(side) for side in _children(lines, at))
        assert "BroadcastExchange" in query and block.search(query), query
        assert "Exchange hashpartitioning(vec_id#" in cand, cand
        assert "BroadcastExchange" not in cand, cand


@pytest.mark.parametrize("key", ["stat_ccf", "stat_cointegration_eg"])
def test_lag_join_sides_share_one_exchange(key, spark, sf_dir):
    """Both sides of the lag self-join read the same columns of the
    ranked calendar grid, so the second side reuses the first side's
    single-partition exchange instead of shuffling the grid again."""
    df = REGISTRY[key].build(spark, sf_dir)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert re.search(r"ReusedExchange \[.*\], Exchange SinglePartition", final), final
