"""Oracle parity: every registered query vs its DuckDB oracle
(local replica of the driver's t2 gate, but with exact value
comparison — stricter than the driver's hash)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from etl_cnc_spark.oracle import compare
from etl_cnc_spark.registry import load_all

REGISTRY = load_all()

# The slow full-streaming keys run in test_streaming.py's parity
# subset; everything else runs here.
ALL_KEYS = sorted(REGISTRY)

# Build-job ratchet: the Spark jobs each key's build fires at sf0.001
# (lazy localCheckpoints over exchanges, iterative loop rounds, the
# streaming and sink keys' writes).  A key absent from the budget fires
# none.  Budgets may only go down: lower an entry (or drop it at 0)
# when a change lowers the key's count, never raise one.
BUILD_JOB_BUDGET: dict[str, int] = json.loads(
    (Path(__file__).with_name("build_job_budget.json")).read_text()
)
BUDGET_SF = "sf0.001"


@pytest.mark.parametrize("key", ALL_KEYS)
def test_query_matches_oracle(key, spark, sf_dir, jobs_in):
    sdf, build_jobs = jobs_in(
        f"parity-build:{key}", lambda: REGISTRY[key].build(spark, sf_dir)
    )
    res = compare(REGISTRY[key], spark, sf_dir, sdf)
    assert res.ok, f"{key}: {res.detail}\n" + "\n".join(res.mismatches)
    assert res.spark_rows > 0, f"{key}: produced no rows"
    if Path(sf_dir).name == BUDGET_SF:
        budget = BUILD_JOB_BUDGET.get(key, 0)
        assert build_jobs <= budget, (
            f"{key}: its build fired {build_jobs} Spark jobs, over its "
            f"budget of {budget} (tests/build_job_budget.json)"
        )


def test_every_query_has_check_declared():
    for key, q in REGISTRY.items():
        assert q.check in ("hash", "rows")
        if q.check == "hash":
            assert q.oracle, f"{key} declared hash check without oracle SQL"
        else:
            assert q.notes, f"{key} is rows-only but doesn't document why"


# SURVEY.md §2 contract keys: the operator inventory the engine must
# keep registered, whatever else is added or retired.
CONTRACT_KEYS = [
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


def test_contract_keys_registered():
    missing = [k for k in CONTRACT_KEYS if k not in REGISTRY]
    assert not missing, f"contract keys not registered: {missing}"


def test_entry_contract(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    qs = entry_mod.queries()
    osql = entry_mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) == len(REGISTRY)
