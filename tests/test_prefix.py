"""Unit tests for the value-bucketed global-ordering helper
(`operators/prefix.py`: ordered bucket ids derived from each row's own
key) — the replacement for every single-partition ``Window.orderBy``
in the repo.

Property: ``global_ordered`` must equal the textbook unpartitioned
window (row_number / running sum / ntile) on adversarial data — ties,
negatives, skewed key distributions, row counts that don't divide the
partition count — while never itself using an unpartitioned window.
"""

from __future__ import annotations

import contextlib
import random

from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from etl_cnc_spark.operators.prefix import global_ordered, sql_ntile_from_rank


def _data(n: int, seed: int) -> list[Row]:
    rng = random.Random(seed)
    # heavy ties (val drawn from a tiny domain) + negative sums
    return [
        Row(id=i, val=rng.randint(0, 5), amt=rng.randint(-50, 100))
        for i in range(n)
    ]


@contextlib.contextmanager
def _shuffle_partitions(spark, n: int):
    """The bucket count is the session's shuffle-partition count."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_global_rank_and_running_sum_match_reference(spark):
    df = spark.createDataFrame(_data(1000, seed=7))
    got = global_ordered(
        df,
        [F.col("val").desc(), F.col("id")],
        bucket_key="val",
        bucket_desc=True,
        sums={"amt": "run_amt"},
    )
    w = Window.orderBy(F.col("val").desc(), F.col("id"))
    ref = df.select(
        "id",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("amt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("run_amt"),
    )
    g = {r["id"]: (r["rk"], r["run_amt"]) for r in got.collect()}
    r = {r["id"]: (r["rk"], r["run_amt"]) for r in ref.collect()}
    assert g == r


def test_rank_invariant_to_partition_count(spark):
    df = spark.createDataFrame(_data(333, seed=13))
    outs = []
    for parts in (1, 3, 32):
        with _shuffle_partitions(spark, parts):
            got = global_ordered(
                df, [F.col("val"), F.col("id")], bucket_key="val"
            )
            outs.append({r["id"]: r["rk"] for r in got.collect()})
    assert outs[0] == outs[1] == outs[2]


def test_ntile_from_rank_matches_builtin_ntile(spark):
    # n=97, k=5 → uneven buckets (2 big of 20, 3 of 19) — the case a
    # naive floor() formula gets wrong
    for n, k in [(97, 5), (100, 5), (4, 5), (16, 16)]:
        df = spark.createDataFrame([Row(id=i) for i in range(n)])
        w = Window.orderBy("id")
        ref = df.select(
            "id", F.ntile(k).over(w).cast("long").alias("t")
        )
        got = global_ordered(df, [F.col("id")], bucket_key="id").select(
            "id",
            F.expr(sql_ntile_from_rank("rk", f"CAST({n} AS BIGINT)", k)).alias(
                "t"
            ),
        )
        assert {r["id"]: r["t"] for r in got.collect()} == {
            r["id"]: r["t"] for r in ref.collect()
        }, (n, k)


def test_no_unpartitioned_window_in_plan(spark):
    df = spark.createDataFrame(_data(100, seed=3))
    got = global_ordered(
        df, [F.col("id")], bucket_key="id", sums={"amt": "run"}
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    # every WindowExec in the helper's plan is partitioned by _pid
    for line in plan.splitlines():
        if "Window [" in line:
            assert "partitionBy" not in line or "_pid" in line
        if "windowspecdefinition" in line:
            assert "_pid" in line


def test_hierarchical_offsets_multi_bucket(spark, monkeypatch):
    """Force the two-level offset fold across several buckets (bucket
    width 4, 32 partitions → 8 bucket rows) and confirm the global
    running sums still match the reference window."""
    from etl_cnc_spark.operators import prefix

    monkeypatch.setattr(prefix, "_BUCKET", 4)
    df = spark.createDataFrame(_data(500, seed=21))
    with _shuffle_partitions(spark, 32):
        got = global_ordered(
            df,
            [F.col("val"), F.col("id")],
            bucket_key="val",
            sums={"amt": "run"},
        )
    w = Window.orderBy(F.col("val"), F.col("id"))
    ref = df.select(
        "id",
        F.row_number().over(w).cast("long").alias("rk"),
        F.sum("amt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("run"),
    )
    g = {r["id"]: (r["rk"], r["run"]) for r in got.collect()}
    r = {r["id"]: (r["rk"], r["run"]) for r in ref.collect()}
    assert g == r
