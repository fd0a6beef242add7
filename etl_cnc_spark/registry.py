"""Query registry — the single source of truth for the operator
inventory (SURVEY.md §2).

Every operator module registers its queries here with the
``@register`` decorator; ``__spark_entry__.py`` exposes the registry
to the driver as ``queries()`` / ``oracle_sql()``.

Checks (SURVEY.md §5):
- ``check="hash"``: a DuckDB oracle SQL string exists; the driver
  hash-compares values (order-insensitive, columns sorted by name).
- ``check="rows"``: no oracle (non-SQL-expressible op); the driver
  records a weaker rows-only check.
"""

from __future__ import annotations

import functools
import importlib
import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

BuildFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    build: BuildFn
    oracle: str | None = None
    check: str = "hash"  # "hash" | "rows"
    notes: str = ""
    bench: bool = False  # part of the flagship bench set (BASELINE.md)


REGISTRY: dict[str, QueryDef] = {}

# The driver's correctness sweep checks a bounded prefix of the
# registry, so ordering is evidence.  Rounds 1-13 accumulated 640
# distinct driver-checked keys (zero red ever); rotation history and
# per-round evidence live in .claude/skills/verify/SKILL.md.  Run
# `python tools/next_window.py` to recount the never-checked backlog
# and `python tools/preflight.py --exec <keys>` before rotating
# (catches driver-canonicalization traps: complex-typed output cells
# break the driver's pandas hasher).
DRIVER_WINDOW: list[str] = [
    # r15 rotation (optimization round). The driver takes a 50-key
    # prefix; the ordering below supports any prefix length.
    #
    # Positions 1-19 — changed-keys re-attest (the r9/r12/r13
    # precedent): the r15 optimization round rewrote 12 builds
    # outright (single-fact-pass q21, single-join minhash estimate,
    # explode-melt rfm, spread-scan topk/energy,
    # persist-not-checkpoint cindex/wasserstein, explode-symmetrized
    # cluster edges, linearized BFS/eigenvector unrolls) and touched
    # every prefix-machine caller via global_ordered's persist; the
    # direct rewrites + their composers lead, after the two
    # still-unattested r14/r15-changed keys (stat_hoeffding_d:
    # enforced DECIMAL cap; sql_entry_cache_table: tracked release).
    #
    # Positions 20-41 — the prior rotation's stale-changed queue in
    # `python tools/stale_queue.py` order; positions 42-50 — the 9
    # never-driver-checked keys, so the backlog still reaches 0 with
    # a 50-key window.  51+ — the remaining stale queue for r16+.
    "stat_hoeffding_d",
    "sql_entry_cache_table",
    "tpch_q21",
    "dedup_minhash_relational",
    "text_near_dup_cluster",
    "dedup_cluster",
    "events_rfm",
    "sim_topk_exact",
    "ml_survival_cindex",
    "stat_wasserstein_1d",
    "multimodal_energy_segments",
    "graph_eigenvector_centrality",
    "graph_bfs_distance",
    "graph_harmonic_centrality",
    "graph_pagerank",
    "dedup_substring_spans",
    "dedup_recall_report",
    "dedup_threshold_sweep",
    "text_contamination_check",
    "multimodal_frame_dedup",
    "events_kaplan_meier",
    "events_km_greenwood",
    "orders_bland_altman",
    "events_attribution_markov",
    "stat_cochran_q",
    "sim_ivf_nprobe_sweep",
    "text_bm25",
    "etl_pk_discovery",
    "events_transfer_entropy",
    "sim_ann_ivf",
    "sim_ann_ivf_q8",
    "sim_ann_ivfpq",
    "sim_reciprocal_nn",
    "sim_rocchio_feedback",
    "dedup_embedding",
    "graph_jaccard_linkpred",
    "events_user_overlap",
    "text_vocab_overlap",
    "stat_fligner_killeen",
    "stat_newey_west",
    "stat_yule_walker_ar2",
    "sql_entry_filter_clause",
    "sql_entry_lateral_alias",
    "sql_entry_exists",
    "sql_entry_values",
    "sql_entry_offset",
    "sql_entry_named_window",
    "ml_krippendorff_alpha",
    "embed_mmd_linear",
    "stat_taylor_law",
    "stat_pacf",
    "stat_periodogram",
    "stat_kruskal_wallis",
    "stat_mann_whitney",
    "stat_ks_test",
    "stat_anderson_darling",
    "stat_energy_distance",
    "stat_moran_i",
    "stat_geary_c",
    "pipeline_curate_e2e",
    "pipeline_training_mix",
    "pipeline_seq_pack",
    "text_self_bleu",
    "ml_auc_pr",
    "ml_ndcg_eval",
    "ml_lift_gains",
    "source_stream_files",
    "sink_stream",
    "stream_watermark",
    "stream_stateful",
    "dedup_minhash",
    "source_csv",
    "source_json",
    "sink_parquet",
    "sink_csv_json",
    "source_text",
    "scan_schema_merge",
    "source_csv_corrupt",
    "sink_partition_overwrite",
    "sink_python_ds",
    "join_nearest_time",
    "join_fuzzy_names",
    "agg_kmv_setops",
    "sort_zorder",
    "join_bucketed",
    "etl_quality_report",
    "etl_column_entropy",
    "etl_t_closeness",
    "events_funnel",
    "events_concurrency",
    "events_pareto",
    "orders_market_basket",
    "events_gini",
    "events_seasonal_decompose",
    "events_theil_sen",
    "events_autocorr",
    "events_changepoint",
    "events_holt",
    "events_forecast_backtest",
    "events_mix_shift",
    "events_anomaly_mad",
    "events_funnel_constrained",
    "events_markov_stationary",
    "events_rolling_slope",
    "events_volatility_band",
    "orders_abc_analysis",
    "events_var_cvar",
    "events_retention_halflife",
    "events_sax_symbolic",
    "events_holt_winters",
    "orders_backlog_aging",
    "events_lorenz_curve",
    "events_ljung_box",
    "events_time_to_convert",
    "orders_abc_migration",
    "events_logrank_test",
    "events_hmm_viterbi",
    "events_attribution_shapley",
    "events_reliability_growth",
    "events_classical_decomposition",
    "events_cuped",
    "agg_weighted_percentile",
    "stat_chi2_test",
    "stat_kendall_tau",
    "stat_cvm_test",
    "stat_cramers_v",
    "stat_qq_table",
    "stat_cooks_distance",
    "stat_hodges_lehmann",
    "stat_theil_decomposition",
    "stat_winsorized_trimmed",
    "stat_mad_robust_scale",
    "stat_cliffs_delta",
    "stat_ansari_bradley",
    "stat_lilliefors",
    "stat_kpss",
    "stat_adf",
    "stat_tail_index_hill",
    "stat_two_way_anova",
    "stat_dunn_posthoc",
    "stat_seasonal_mann_kendall",
    "stat_kuiper_test",
    "stat_cucconi",
    "stat_ccf",
    "stat_white_test",
    "stat_cointegration_eg",
    "stat_quade_test",
    "stat_siegel_slopes",
    "stat_watson_u2",
    "stat_cox_stuart",
    "stat_page_trend",
    "stat_ridit",
    "stat_g_test",
    "stat_runs_up_down",
    "stat_sprt_ab",
    "stat_pettitt",
    "text_fingerprint",
    "text_bigram_freq",
    "text_lm_score",
    "text_ngram_novelty",
    "pipeline_curriculum",
    "text_js_divergence",
    "text_kn_lm_score",
    "text_zipf_fit",
    "text_burrows_delta",
    "text_pmi_collocations",
    "text_vocab_coverage_curve",
    "ml_woe_iv",
    "ml_mutual_info",
    "ml_gbm_histogram",
    "ml_class_weights",
    "ml_target_encoding_cv",
    "ml_naive_bayes",
    "graph_triangles",
    "stream_foreach_batch",
    "stream_kafka_wire",
    "stream_stream_join",
    "dedup_ngram_jaccard",
    "dedup_contamination",
    "dedup_containment",
    "sim_topk_diverse",
    "sim_kmeans_refine",
    "embed_gram_power_iter",
    "embed_expert_routing",
    "embed_hubness_stats",
    "embed_cka_halves",
    "embed_triplet_mining",
]


# SURVEY.md §2 contract keys (all driver-green across rounds 1-2 except
# agg_partial_final, which is in DRIVER_WINDOW above).  Kept as the
# contract-completeness check; ordering places them right after the
# driver window, ahead of the remaining extras.
CONTRACT_PRIORITY: list[str] = [
    "source_stream_files", "sink_stream", "agg_pivot", "win_ranking",
    "win_lag_lead", "win_running", "win_moving", "win_first_last",
    "win_pct", "topk_per_group", "sort_multi", "limit_k", "topk_global",
    "set_union_all", "set_union", "set_intersect", "set_except",
    "fn_string", "fn_regex", "fn_datetime", "fn_math", "fn_conditional",
    "fn_cast", "fn_hash", "fn_array", "fn_map", "fn_json",
    "stream_tumbling", "stream_sliding", "stream_session",
    "stream_watermark", "stream_dedup", "stream_stateful", "stream_join",
    "dedup_exact", "dedup_minhash", "sim_topk_exact", "sim_ann_lsh",
    "text_stats", "text_tfidf", "text_lang_profile", "multimodal_cols",
    "udf_python", "udf_pandas_scalar", "udaf_pandas_agg",
    "udtf_grouped_map", "udtf_python", "udf_arrow_batch",
    "scan_parquet", "scan_parquet_pruned", "source_csv", "source_json",
    "sink_parquet", "sink_csv_json", "project_cols", "project_expr",
    "filter_simple", "filter_compound", "filter_null", "distinct_rows",
    "filter_subquery", "join_inner", "join_left", "join_right",
    "join_full", "join_semi", "join_anti", "join_cross", "join_broadcast",
    "join_range", "join_asof", "join_multiway", "join_skew_salted",
    "agg_global", "agg_groupby", "agg_having", "agg_count_distinct",
    "agg_approx_distinct", "agg_stats", "agg_collect", "agg_rollup",
    "agg_cube", "agg_grouping_sets", "agg_partial_final",
]

# Modules that register queries (imported for side effects by load_all).
_OP_MODULES = [
    "etl_cnc_spark.sources.scans",
    "etl_cnc_spark.sources.sinks",
    "etl_cnc_spark.sources.kafka",
    "etl_cnc_spark.sources.lakehouse",
    "etl_cnc_spark.sources.python_ds",
    "etl_cnc_spark.operators.projection",
    "etl_cnc_spark.operators.joins",
    "etl_cnc_spark.operators.aggregates",
    "etl_cnc_spark.operators.windows",
    "etl_cnc_spark.operators.sorts",
    "etl_cnc_spark.operators.sets",
    "etl_cnc_spark.operators.etl",
    "etl_cnc_spark.operators.analytics",
    "etl_cnc_spark.operators.stats",
    "etl_cnc_spark.operators.mlprep",
    "etl_cnc_spark.operators.graph",
    "etl_cnc_spark.operators.tpch",
    "etl_cnc_spark.functions.scalar",
    "etl_cnc_spark.streaming.batch_equiv",
    "etl_cnc_spark.streaming.streams",
    "etl_cnc_spark.llm.dedup",
    "etl_cnc_spark.llm.similarity",
    "etl_cnc_spark.llm.text",
    "etl_cnc_spark.llm.multimodal",
    "etl_cnc_spark.llm.retrieval",
    "etl_cnc_spark.udfs",
    "etl_cnc_spark.sql",
    "etl_cnc_spark.plans.rewrite",  # needs llm.similarity registered first
]


# --- build scope: the one release point for build caches -----------
#
# Rule: a build persists a frame it reads more than once through
# ``reuse()``.  The DataFrame a build returns is lazy, so the build
# cannot unpersist; the next top-level registered build on the same
# thread (or ``release_caches``) unpersists what the previous one
# recorded.  A composed build runs inside its caller's scope and never
# releases mid-build; outside any build ``reuse()`` does not persist.
# Thread scope: each thread has its own scope, so a build on one
# thread never releases frames another thread's build recorded.


class _BuildScope(threading.local):
    def __init__(self) -> None:
        self.depth = 0  # registered builds on this thread's stack
        self.frames: list[DataFrame] = []  # recorded since the last release


_scope = _BuildScope()


def reuse(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the current registered build and record it
    for release; outside a registered build return ``df`` as is."""
    if _scope.depth == 0:
        return df
    df = df.persist()
    _scope.frames.append(df)
    return df


def release_caches(spark: SparkSession) -> None:
    """Unpersist every frame this thread's builds recorded since the
    last release — the cold-run hook between timed runs (bench.py,
    perfbench)."""
    frames, _scope.frames = _scope.frames, []
    for df in frames:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # a stopped session has nothing left to release


def _build_scope(fn: BuildFn) -> BuildFn:
    @functools.wraps(fn)
    def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
        if _scope.depth == 0:
            release_caches(spark)
        _scope.depth += 1
        try:
            return fn(spark, sf_dir)
        finally:
            _scope.depth -= 1

    return scoped


def register(
    name: str,
    oracle: str | None = None,
    *,
    check: str | None = None,
    notes: str = "",
    bench: bool = False,
) -> Callable[[BuildFn], BuildFn]:
    """Register a query builder under ``name`` with its DuckDB oracle."""

    def deco(fn: BuildFn) -> BuildFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        resolved = check or ("hash" if oracle is not None else "rows")
        REGISTRY[name] = QueryDef(
            name=name,
            build=_build_scope(fn),
            oracle=oracle,
            check=resolved,
            notes=notes,
            bench=bench,
        )
        return fn

    return deco


_loaded = False


def load_all() -> dict[str, QueryDef]:
    """Import every operator module (idempotent) and return the registry."""
    global _loaded
    if not _loaded:
        for mod in _OP_MODULES:
            # A missing operator module means silent coverage loss —
            # always raise so the registry can never shrink unnoticed.
            importlib.import_module(mod)
        priority = list(dict.fromkeys(DRIVER_WINDOW + CONTRACT_PRIORITY))
        missing = [k for k in priority if k not in REGISTRY]
        if missing:
            raise RuntimeError(f"contract keys not registered: {missing}")
        ordered = {k: REGISTRY.pop(k) for k in priority}
        ordered.update(REGISTRY)
        REGISTRY.clear()
        REGISTRY.update(ordered)
        _loaded = True
    return REGISTRY
