"""Independent-recomputation property for the round-9 wave-L key
(Viterbi as one exact-integer fold over the day grid)."""

from __future__ import annotations

import duckdb
import pytest

from etl_cnc_spark.registry import load_all
from etl_cnc_spark.operators.analytics import (
    _HMM_MATCH,
    _HMM_MISS,
    _HMM_Q,
    _HMM_START,
    _HMM_STAY,
    _HMM_SWITCH,
)

REGISTRY = load_all()


def _viterbi_py(his):
    """Sequential exact-integer Viterbi over the quantized log-probs."""
    def emit(state, hi):
        return _HMM_MATCH if hi == state else _HMM_MISS

    v0 = _HMM_START + emit(0, his[0])
    v1 = _HMM_START + emit(1, his[0])
    for hi in his[1:]:
        n0 = max(v0 + _HMM_STAY, v1 + _HMM_SWITCH) + emit(0, hi)
        n1 = max(v1 + _HMM_STAY, v0 + _HMM_SWITCH) + emit(1, hi)
        v0, v1 = n0, n1
    return v0, v1


def _check_viterbi(spark, sf_dir):
    rows = duckdb.execute(f"""
        SELECT CAST(ts AS DATE) AS day, count(*)
        FROM '{sf_dir}/events.parquet' GROUP BY 1 ORDER BY 1
    """).fetchall()
    ys = [r[1] for r in rows]
    med = sorted(ys)[(len(ys) - 1) // 2]
    his = [1 if y > med else 0 for y in ys]
    v0, v1 = _viterbi_py(his)
    best = max(v0, v1)
    row = REGISTRY["events_hmm_viterbi"].build(spark, sf_dir).collect()[0]
    assert row["n_days"] == len(ys)
    # exact: the Spark fold and the Python fold must agree to the
    # quantum (q4 rounding of best/1e9 only)
    assert abs(row["viterbi_loglik"] - best / _HMM_Q) < 1e-4
    assert row["final_state_busy"] == (1 if v1 > v0 else 0)
    # a log-likelihood of a T-step path is at most T * max log-prob < 0
    assert row["viterbi_loglik"] < 0
    # and at least T * (worst transition + worst emission)
    assert row["viterbi_loglik"] > len(ys) * (
        (_HMM_SWITCH + _HMM_MISS) / _HMM_Q
    )


def test_hmm_viterbi_matches_sequential_python(spark, sf_dir):
    _check_viterbi(spark, sf_dir)


@pytest.mark.parametrize("n_days", [1, 2])
def test_hmm_viterbi_short_series(spark, sf_dir, tmp_path, n_days):
    """A one-day series folds nothing past day 1; two days fold once."""
    duckdb.execute(f"""
        COPY (
            SELECT * FROM '{sf_dir}/events.parquet'
            WHERE CAST(ts AS DATE) IN (
                SELECT DISTINCT CAST(ts AS DATE) AS day
                FROM '{sf_dir}/events.parquet' ORDER BY day LIMIT {n_days}
            )
        ) TO '{tmp_path}/events.parquet' (FORMAT parquet)
    """)
    _check_viterbi(spark, str(tmp_path))
