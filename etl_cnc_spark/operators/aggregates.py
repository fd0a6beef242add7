"""Aggregation operators (SURVEY.md §2.4).

Scale notes: every groupBy here is a hash aggregate with map-side
partial aggregation (automatic in Spark — see `agg_partial_final`
note at the bottom); money sums use exact integer cents so the
nondeterministic partial-agg combine order on a real cluster cannot
perturb results (utils.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import register_views, table
from ..registry import register, reuse
from ..utils import (
    avg_money,
    cents,
    q4,
    sql_avg_money,
    sql_q4,
    sql_sum_money,
    sql_sum_money_filter,
    sum_money,
)


@register(
    "agg_global",
    oracle=f"""
    SELECT count(*) AS cnt,
           {sql_sum_money("l_extendedprice")} AS sum_price,
           {sql_avg_money("l_extendedprice")} AS avg_price,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price,
           {sql_sum_money("l_quantity")} AS sum_qty
    FROM lineitem
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped aggregate: count/sum/avg/min/max in one pass."""
    li = table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("cnt"),
        sum_money(F.col("l_extendedprice")).alias("sum_price"),
        avg_money(F.col("l_extendedprice")).alias("avg_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
        sum_money(F.col("l_quantity")).alias("sum_qty"),
    )


@register(
    "agg_groupby",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_sum_money("l_quantity")} AS sum_qty,
           {sql_sum_money("l_extendedprice")} AS sum_base_price,
           {sql_sum_money("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
           {sql_sum_money("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
           {sql_avg_money("l_quantity")} AS avg_qty,
           {sql_avg_money("l_extendedprice")} AS avg_price,
           {sql_avg_money("l_discount")} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shape hash aggregate: 2 group keys, 8 aggregates."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_money(F.col("l_quantity")).alias("sum_qty"),
        sum_money(F.col("l_extendedprice")).alias("sum_base_price"),
        sum_money(disc_price).alias("sum_disc_price"),
        sum_money(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
        avg_money(F.col("l_quantity")).alias("avg_qty"),
        avg_money(F.col("l_extendedprice")).alias("avg_price"),
        avg_money(F.col("l_discount")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) > 14
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .where(F.col("n_orders") > 14)
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregate (expand-then-dedup under the hood)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "agg_approx_distinct",
    notes="HLL sketch: approximate by construction — rows-only check; "
    "tests assert relative error vs exact count (SURVEY §2.4).",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the scale path for
    distinct counts — mergeable sketches, no expand-dedup shuffle."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("n_users_approx"))
    )


@register(
    "agg_stats",
    oracle=f"""
    SELECT l_returnflag,
           {sql_q4("stddev_samp(l_quantity)")} AS std_qty,
           {sql_q4("var_samp(l_quantity)")} AS var_qty,
           {sql_q4("median(l_quantity)")} AS med_qty,
           {sql_q4("corr(l_quantity, l_extendedprice)")} AS corr_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates; 4dp quantization absorbs the tiny
    accumulation-order differences between engines."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        q4(F.stddev_samp("l_quantity")).alias("std_qty"),
        q4(F.var_samp("l_quantity")).alias("var_qty"),
        q4(F.median("l_quantity")).alias("med_qty"),
        q4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
    )


@register(
    "agg_collect",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set + deterministic ordering, emitted as a joined
    string (array stringification differs across engines)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("statuses"),
            F.count("*").alias("n"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT event_type, epoch_us(date_trunc('day', ts)) AS day_us, count(*) AS n,
           CAST(GROUPING(event_type) AS BIGINT) AS g_type,
           CAST(GROUPING(epoch_us(date_trunc('day', ts))) AS BIGINT) AS g_day
    FROM events
    GROUP BY ROLLUP (event_type, epoch_us(date_trunc('day', ts)))
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy (type, day) with per-column grouping flags
    (single-column GROUPING is engine-neutral; bit-packed
    grouping_id order is not — SURVEY §7 hard parts)."""
    e = table(spark, sf_dir, "events").withColumn(
        "day_us", F.unix_micros(F.date_trunc("DAY", F.col("ts")))
    )
    return e.rollup("event_type", "day_us").agg(
        F.count("*").alias("n"),
        F.grouping("event_type").cast("long").alias("g_type"),
        F.grouping("day_us").cast("long").alias("g_day"),
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {sql_sum_money("l_quantity")} AS sum_qty,
           CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions with grouping flags."""
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        sum_money(F.col("l_quantity")).alias("sum_qty"),
        F.grouping("l_returnflag").cast("long").alias("g_rf"),
        F.grouping("l_linestatus").cast("long").alias("g_ls"),
    )


_GSETS_SQL = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       {sql_sum_money("l_extendedprice")} AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@register("agg_grouping_sets", oracle=_GSETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the SQL entry point (SURVEY §3.2) — the same
    SQL text runs on both engines (dialect-neutral by construction)."""
    register_views(spark, sf_dir)
    return spark.sql(_GSETS_SQL)


@register(
    "agg_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {sql_sum_money_filter("l_quantity", "l_linestatus = 'F'")} AS "F",
           {sql_sum_money_filter("l_quantity", "l_linestatus = 'O'")} AS "O"
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot to wide: one column per l_linestatus value. Values are
    listed explicitly — at scale, an unlisted pivot triggers an extra
    distinct-collect job over the full input."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(sum_money(F.col("l_quantity")))
    )


@register(
    "agg_partial_final",
    oracle=f"""
    SELECT l_linestatus, count(*) AS n,
           {sql_sum_money("l_extendedprice")} AS sum_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_partial_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial→final aggregation (SURVEY §2.4): automatic in Spark —
    map-side partial HashAggregate, shuffle of |groups|-sized partial
    state, final HashAggregate. This key exists so the contract line
    is executable; the plan shape itself is asserted in
    tests/test_plans.py::test_groupby_has_partial_final_aggregation
    (>= 2 HashAggregates around an Exchange). Exact cent-sums make
    the partial merge order irrelevant to the hash."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        sum_money(F.col("l_extendedprice")).alias("sum_price"),
    )


@register(
    "agg_arg_minmax",
    oracle="""
    SELECT c_nationkey,
           arg_max(c_custkey, CAST(floor(c_acctbal*100+0.5) AS BIGINT)*1000000
                              + c_custkey) AS richest_cust,
           arg_min(c_custkey, CAST(floor(c_acctbal*100+0.5) AS BIGINT)*1000000
                              + c_custkey) AS poorest_cust
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_arg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg_max/arg_min (max_by/min_by): which customer has the
    extreme balance per nation. Ties are broken deterministically by
    folding the unique key into exact integer cents (cents*1e6 +
    custkey stays < 2^53, so the ordering value is exact on both
    engines)."""
    c = table(spark, sf_dir, "customer")
    rank = (
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long") * F.lit(1000000)
        + F.col("c_custkey")
    )
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_custkey", rank).alias("richest_cust"),
        F.min_by("c_custkey", rank).alias("poorest_cust"),
    )


@register(
    "agg_conditional",
    oracle=f"""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25) AS big_cnt,
           {sql_sum_money_filter("l_extendedprice", "l_discount > 0.05")} AS disc_rev,
           count(*) FILTER (WHERE l_tax = 0) AS taxfree_cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates (conditional aggregation): several
    differently-filtered measures in ONE pass over the fact table —
    the scale-friendly alternative to N separate filtered scans."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.when(F.col("l_quantity") > 25, 1)).alias("big_cnt"),
        (
            F.sum(
                F.when(
                    F.col("l_discount") > 0.05,
                    F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long"),
                )
            ).cast("double")
            / 100.0
        ).alias("disc_rev"),
        F.count(F.when(F.col("l_tax") == 0, 1)).alias("taxfree_cnt"),
    )


@register(
    "agg_approx_quantile",
    notes="KLL/GK-style sketch percentiles (approx_percentile): "
    "mergeable fixed-size sketch - the 100 TB path where exact "
    "percentile_disc would shuffle the full column. Accuracy bound "
    "(accuracy=1000 => rank error <= 0.1%) asserted vs the exact "
    "quantile in tests/test_llm.py::test_approx_quantile_error.",
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles of l_extendedprice per returnflag via
    a mergeable rank sketch: map-side partial sketches merge at the
    final stage, so shuffle volume is sketch-size x partitions,
    independent of row count."""
    li = table(spark, sf_dir, "lineitem")
    qs = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", [0.25, 0.5, 0.75, 0.99], 1000).alias(
            "price_quartiles"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    # scalar columns, not array<double>: one column per quantile is the
    # flat schema an oracle query returns, and the one
    # tests/test_llm.py::test_approx_quantile_error reads
    return qs.select(
        "l_returnflag",
        F.col("price_quartiles")[0].alias("p25"),
        F.col("price_quartiles")[1].alias("p50"),
        F.col("price_quartiles")[2].alias("p75"),
        F.col("price_quartiles")[3].alias("p99"),
        "n",
    )


@register(
    "agg_hll_merge",
    notes="Apache DataSketches HLL: per-group sketches + cross-group "
    "sketch UNION (register-max merge: order-independent, so results "
    "are identical on any cluster size). No DuckDB twin for the "
    "sketch binary -> rows check; estimate accuracy vs exact distinct "
    "asserted in tests/test_llm.py::test_hll_sketch_merge_error.",
)
def agg_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: per-event-type HLL sketch of
    user_id, plus the UNION of all sketches re-estimated — the 100 TB
    distinct-count pattern (fixed-size sketches shuffle, never the
    distinct values; partial sketches merge exactly like partial
    sums)."""
    e = table(spark, sf_dir, "events")
    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"), F.count(F.lit(1)).alias("n_rows")
    )
    per = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").alias("est_users"),
        "n_rows",
    )
    total = per_type.agg(
        F.lit("__all__").alias("event_type"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
        F.sum("n_rows").alias("n_rows"),
    )
    return per.unionByName(total)


@register(
    "agg_boolean",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity > 0) AS all_pos,
           bool_or(l_discount > 0.09) AS any_big_disc,
           CAST(count_if(l_tax = 0) AS BIGINT) AS n_taxfree,
           CAST(bool_and(l_extendedprice > 900) AS BOOLEAN) AS all_above_900
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates: every/any/count_if — one-bit partial state,
    the cheapest possible map-side combine."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_pos"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_big_disc"),
        F.count_if(F.col("l_tax") == 0).alias("n_taxfree"),
        F.bool_and(F.col("l_extendedprice") > 900).alias("all_above_900"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(l_extendedprice/5000.0) AS BIGINT) AS bucket,
           count(*) AS n,
           CAST(min(floor(l_extendedprice/5000.0)*5000) AS DOUBLE) AS bucket_lo
    FROM lineitem GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram binning: fixed-width buckets via floor division —
    one hash aggregate over |buckets| groups (the scalable histogram;
    bucket arithmetic is identical IEEE division on both engines)."""
    li = table(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 5000.0).cast("long")
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.floor(F.col("l_extendedprice") / 5000.0) * 5000).cast("double").alias(
            "bucket_lo"
        ),
    )


@register(
    "agg_mode",
    oracle="""
    WITH counts AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS qc,
             count(*) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag,
           CAST(arg_max(qc, n*1000000 - qc) AS DOUBLE)/100.0 AS mode_qty,
           max(n) AS mode_n
    FROM counts GROUP BY l_returnflag
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: most frequent quantity per flag, ties
    broken toward the smallest value (built-in ``mode()`` leaves
    ties engine-defined — useless for cross-engine verification).
    Two hash aggregates; the arg_max rank packs (count, -value)
    into one exact integer."""
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("qc"),
    ).agg(F.count(F.lit(1)).alias("n"))
    rank = F.col("n") * F.lit(1000000) - F.col("qc")
    return counts.groupBy("l_returnflag").agg(
        (F.max_by("qc", rank).cast("double") / 100.0).alias("mode_qty"),
        F.max("n").alias("mode_n"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
               AS distinct_users
    FROM events GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counting via bitmap aggregation (Spark 3.5+
    bitmap functions) — the scale path for COUNT(DISTINCT) over dense
    integer keys: ids fold into fixed 4KB bitmap buckets
    (bucket = id>>15), so the shuffle carries |groups|×|buckets|
    bitmaps instead of every distinct value, then popcounts sum.
    Unlike approx_count_distinct this is EXACT, and unlike
    count(DISTINCT) the pre-shuffle state is bounded — the same
    two-level shape as a datasketches Theta union but lossless.

    The oracle is plain COUNT(DISTINCT): the bitmap path must
    reproduce it bit-for-bit."""
    e = table(spark, sf_dir, "events")
    bm = (
        e.groupBy(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
        )
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position("user_id")
            ).alias("bm")
        )
    )
    return bm.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("distinct_users")
    )


@register(
    "agg_percentile_exact",
    oracle=f"""
    SELECT l_returnflag,
           {sql_q4("quantile_cont(l_quantity, 0.25)")} AS p25_qty,
           {sql_q4("quantile_cont(l_quantity, 0.5)")} AS p50_qty,
           {sql_q4("quantile_cont(l_quantity, 0.75)")} AS p75_qty,
           quantile_disc(l_quantity, 0.5) AS p50_disc,
           {sql_q4("median(l_extendedprice)")} AS median_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (percentile_cont semantics with linear
    interpolation, plus the discrete variant) — complements
    agg_approx_quantile: exact needs a per-group sort (expensive but
    correct), approx (KLL/GK) is the 100 TB default; both live in the
    library so the caller chooses the trade.

    Both engines use the classic h=(n-1)p rank + linear interpolation
    formula; interpolation arithmetic is quantized to 4dp."""
    li = table(spark, sf_dir, "lineitem")
    pcts = F.percentile("l_quantity", F.lit([0.25, 0.5, 0.75]))
    return li.groupBy("l_returnflag").agg(
        q4(pcts.getItem(0)).alias("p25_qty"),
        q4(pcts.getItem(1)).alias("p50_qty"),
        q4(pcts.getItem(2)).alias("p75_qty"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY l_quantity)")
        .alias("p50_disc"),
        q4(F.median("l_extendedprice")).alias("median_price"),
    )


# --------------------------------------------- count-min sketch (CMS)

_CMS_W = 4096  # buckets per hash row (16^3: three md5 hex chars)
_CMS_D = 4  # independent hash rows
_HEXP = "0123456789abcdef"


def _sql_cms_bucket(item: str, j: str) -> str:
    """DuckDB: bucket = first-3-hex-chars of md5(item '#' j) as int."""
    h = f"md5({item} || '#' || CAST({j} AS VARCHAR))"
    return (
        f"((strpos('{_HEXP}', substr({h},1,1))-1)*256"
        f" + (strpos('{_HEXP}', substr({h},2,1))-1)*16"
        f" + (strpos('{_HEXP}', substr({h},3,1))-1))"
    )


def _cms_bucket(item: F.Column, j: int) -> F.Column:
    h = F.md5(F.concat(item, F.lit("#"), F.lit(str(j))))
    pos = lambda k: F.instr(F.lit(_HEXP), F.substring(h, k, 1)) - 1  # noqa: E731
    return (pos(1) * 256 + pos(2) * 16 + pos(3)).cast("long")


@register(
    "agg_sketch_cms",
    oracle=f"""
    WITH items AS (
        SELECT CAST(l_partkey AS VARCHAR) AS item FROM lineitem
    ), hx(j) AS (VALUES (0), (1), (2), (3)),
    hashed AS (
        SELECT j, {_sql_cms_bucket('item', 'j')} AS bucket
        FROM items CROSS JOIN hx
    ), cms AS (
        SELECT j, bucket, CAST(count(*) AS BIGINT) AS c
        FROM hashed GROUP BY j, bucket
    ), queries AS (
        SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS item
        FROM lineitem WHERE l_partkey < 20
    ), qh AS (
        SELECT item, j, {_sql_cms_bucket('item', 'j')} AS bucket
        FROM queries CROSS JOIN hx
    ), est AS (
        SELECT item, min(c) AS est_n
        FROM qh JOIN cms USING (j, bucket) GROUP BY item
    ), truth AS (
        SELECT CAST(l_partkey AS VARCHAR) AS item,
               CAST(count(*) AS BIGINT) AS true_n
        FROM lineitem WHERE l_partkey < 20 GROUP BY 1
    )
    SELECT item, est_n, true_n FROM est JOIN truth USING (item)
    """,
)
def agg_sketch_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch built as a RELATIONAL TABLE — the Spark-first
    sketch design: d=4 hash rows × w=4096 buckets materialize as a
    (j, bucket, count) frame via one explode + one groupBy, so the
    sketch is mergeable with plain SUM (union two sketches, groupBy
    again), shuffles at most d·w rows however large the input, and
    point queries are a broadcast join + min — no UDAF, no binary
    blobs, no driver.

    Hashes are md5-prefix (cross-engine deterministic, same trick as
    sample_deterministic); the oracle replicates the construction
    exactly, and the error bound (est ≥ true, est ≤ true + εN with
    ε = e/w) is asserted in tests on top."""
    li = table(spark, sf_dir, "lineitem")
    items = li.select(F.col("l_partkey").cast("string").alias("item"))
    hashed = items.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_bucket(F.col("item"), j).alias("bucket"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("jb")
    ).select("jb.j", "jb.bucket")
    cms = hashed.groupBy("j", "bucket").agg(F.count(F.lit(1)).alias("c"))
    queries = (
        li.where(F.col("l_partkey") < 20)
        .select(F.col("l_partkey").cast("string").alias("item"))
        .distinct()
    )
    qh = queries.select(
        "item",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_bucket(F.col("item"), j).alias("bucket"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("jb"),
    ).select("item", "jb.j", "jb.bucket")
    est = (
        qh.join(cms, ["j", "bucket"])
        .groupBy("item")
        .agg(F.min("c").alias("est_n"))
    )
    truth = (
        li.where(F.col("l_partkey") < 20)
        .groupBy(F.col("l_partkey").cast("string").alias("item"))
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return est.join(truth, "item")


@register(
    "agg_bitmap_union",
    oracle="""
    WITH v AS (SELECT DISTINCT user_id FROM events
               WHERE event_type = 'view'),
    p AS (SELECT DISTINCT user_id FROM events
          WHERE event_type = 'purchase')
    SELECT
        CAST((SELECT count(*) FROM v) AS BIGINT) AS viewers,
        CAST((SELECT count(*) FROM p) AS BIGINT) AS purchasers,
        CAST((SELECT count(*) FROM (SELECT * FROM v UNION SELECT * FROM p))
             AS BIGINT) AS either,
        CAST((SELECT count(*) FROM (SELECT * FROM v INTERSECT
                                    SELECT * FROM p)) AS BIGINT) AS both
    """,
)
def agg_bitmap_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set ALGEBRA on pre-aggregated bitmaps: per-segment
    user bitmaps (viewers, purchasers) merge with `bitmap_or_agg`
    for the union count, and intersection falls out by
    inclusion–exclusion — no re-scan of raw events to answer a new
    set combination, which is the whole point of keeping bitmap
    rollups at scale (audience overlap over 10^11 events = OR/AND
    over kilobyte bitmaps).

    Exact (bitmaps, not sketches); the oracle recomputes every count
    from raw rows with UNION/INTERSECT."""
    e = table(spark, sf_dir, "events")
    per_type = (
        e.where(F.col("event_type").isin("view", "purchase"))
        .groupBy(
            "event_type",
            F.bitmap_bucket_number("user_id").alias("bucket"),
        )
        .agg(
            F.bitmap_construct_agg(
                F.bitmap_bit_position("user_id")
            ).alias("bm")
        )
    )
    counts = per_type.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).alias("n")
    )
    union_bm = per_type.groupBy("bucket").agg(
        F.bitmap_or_agg("bm").alias("bm")
    )
    either = union_bm.agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("either")
    )
    wide = counts.groupBy().pivot("event_type", ["view", "purchase"]).sum("n")
    return wide.crossJoin(either).select(
        F.col("view").cast("long").alias("viewers"),
        F.col("purchase").cast("long").alias("purchasers"),
        "either",
        (F.col("view") + F.col("purchase") - F.col("either"))
        .cast("long")
        .alias("both"),
    )


@register(
    "agg_decimal_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                * CAST(0.01 AS DECIMAL(3,2)) AS DECIMAL(38,2)) AS DOUBLE)
               AS sum_price,
           CAST(CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 10000
                               + 0.5) AS BIGINT))
                * CAST(0.0001 AS DECIMAL(5,4)) AS DECIMAL(38,4)) AS DOUBLE)
               AS sum_revenue
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL money aggregation — the type discipline a money
    pipeline should ship with at scale: quantize once to
    DECIMAL(18,2/4) at ingest, then every SUM is exact and
    order-independent at any parallelism (128-bit accumulators), so
    results are bit-stable across partitionings, AQE re-plans, and
    engines — no float drift to paper over. Contrast with the
    double+cents trick used where the fixtures force doubles.

    The fixtures store doubles, so quantization double->fixed-point
    happens ONCE per row via the engine-neutral floor(x*s+0.5) (a
    native cast would hit each engine's own tie-rounding); from there
    everything is exact decimal arithmetic: BIGINT sum x decimal unit
    -> DECIMAL(38,s). A real deployment writes DECIMAL columns at
    ingest and skips the quantization step entirely."""
    li = table(spark, sf_dir, "lineitem")
    price_c = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    rev_c = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + 0.5
    ).cast("long")
    # final cast to double ONLY for the cross-engine hash (decimal
    # string normalization differs); the correctly-rounded
    # decimal->double conversion is identical on both engines
    return li.groupBy("l_returnflag").agg(
        (F.sum(price_c) * F.lit("0.01").cast("decimal(3,2)"))
        .cast("decimal(38,2)")
        .cast("double")
        .alias("sum_price"),
        (F.sum(rev_c) * F.lit("0.0001").cast("decimal(5,4)"))
        .cast("decimal(38,4)")
        .cast("double")
        .alias("sum_revenue"),
    )


@register(
    "agg_listagg",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_mktsegment, '|' ORDER BY c_custkey) AS segs,
           CAST(count(*) AS BIGINT) AS n
    FROM customer WHERE c_custkey < 100
    GROUP BY c_nationkey
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (SQL:2023 LISTAGG, Spark 4
    native): per-group concatenation with an explicit WITHIN GROUP
    order — the deterministic form (unordered listagg is a hash
    landmine, like collect_list). Grows O(group size); at scale cap
    group contributions first (slice after sort) or emit arrays."""
    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") < 100)
    c.createOrReplaceTempView("etlcnc_cust_la")
    return spark.sql(
        """
        SELECT c_nationkey,
               listagg(c_mktsegment, '|')
                   WITHIN GROUP (ORDER BY c_custkey) AS segs,
               count(*) AS n
        FROM etlcnc_cust_la GROUP BY c_nationkey
        """
    )


KMV_K = 64  # k-minimum-values sketch size
_HEX15 = float(1 << 60)  # 16^15: normalizer for 15-hex-digit hashes


@register(
    "agg_kmv_distinct",
    oracle=f"""
    WITH vals AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), hashed AS (
        SELECT event_type, user_id,
               CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS UBIGINT) AS BIGINT) AS h
        FROM vals
    ), ranked AS (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY h, user_id) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n_exact
        FROM hashed
    )
    SELECT event_type,
           CAST(max(n_exact) AS BIGINT) AS n_exact,
           CAST(least(max(n_exact), {KMV_K}) AS BIGINT) AS k_used,
           {sql_q4(f"CASE WHEN max(n_exact) < {KMV_K} THEN"
                   f" CAST(max(n_exact) AS DOUBLE)"
                   f" ELSE ({KMV_K} - 1) * {_HEX15}"
                   f" / max(CASE WHEN rk = {KMV_K} THEN h END) END")}
               AS est_kmv
    FROM ranked GROUP BY event_type
    """,
)
def agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct-count sketch — unlike HLL
    (`agg_approx_distinct` / `agg_hll_merge`, whose register layout
    is engine-internal and therefore rows-only), KMV is fully
    DETERMINISTIC given a deterministic hash: the sketch is literally
    the k smallest md5 values, so the estimate (k−1)/h_(k) is
    bit-reproducible on BOTH engines and this is — unusually for an
    approximate-distinct operator — hash-oracled end to end, with the
    exact count alongside so the sketch error is visible as data.

    Scale design: the sketch is mergeable (k smallest of a union =
    k smallest of the per-partition k-smallest), which is what the
    per-group window + top-k computes relationally; shuffle volume is
    ≤ k rows per group after partial selection, independent of corpus
    size. Groups smaller than k degrade to the exact count (the
    standard KMV fallback). Hash = first 15 hex digits of md5 → an
    exact 60-bit integer on both engines (no float in the ordering;
    doubles appear only in the final (k−1)·2⁶⁰/h_k estimate,
    identical IEEE ops on identical integers)."""
    e = table(spark, sf_dir, "events")
    vals = e.select("event_type", "user_id").distinct()
    hashed = vals.select(
        "event_type",
        "user_id",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    wr = Window.partitionBy("event_type").orderBy("h", "user_id")
    wn = Window.partitionBy("event_type")
    ranked = hashed.withColumn("rk", F.row_number().over(wr)).withColumn(
        "n_exact", F.count(F.lit(1)).over(wn)
    )
    est = F.when(
        F.max("n_exact") < KMV_K, F.max("n_exact").cast("double")
    ).otherwise(
        (KMV_K - 1)
        * F.lit(_HEX15)
        / F.max(F.when(F.col("rk") == KMV_K, F.col("h")))
    )
    return ranked.groupBy("event_type").agg(
        F.max("n_exact").cast("long").alias("n_exact"),
        F.least(F.max("n_exact"), F.lit(KMV_K)).cast("long").alias("k_used"),
        q4(est).alias("est_kmv"),
    )


_KMV_EST = (
    "CASE WHEN {c} < {k} THEN CAST({c} AS DOUBLE) "
    "ELSE ({k} - 1) * 1152921504606846976.0 / {h} END"
)


@register(
    "agg_kmv_setops",
    oracle=f"""
    WITH ev AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id
    ), h AS (
        SELECT user_id, in_a, in_b,
               CAST(CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
                    AS UBIGINT) AS BIGINT) AS h
        FROM ev
    ), ru AS (
        SELECT in_a, in_b, h,
               row_number() OVER (ORDER BY h, user_id) AS rk
        FROM h
    ), sku AS (
        SELECT CAST(count(*) AS BIGINT) AS ku, CAST(max(h) AS BIGINT) AS hku,
               CAST(sum(in_a * in_b) AS BIGINT) AS nab
        FROM ru WHERE rk <= {KMV_K}
    ), ra AS (
        SELECT h, row_number() OVER (ORDER BY h, user_id) AS rk
        FROM h WHERE in_a = 1
    ), ska AS (
        SELECT CAST(count(*) AS BIGINT) AS ka, CAST(max(h) AS BIGINT) AS hka
        FROM ra WHERE rk <= {KMV_K}
    ), rb AS (
        SELECT h, row_number() OVER (ORDER BY h, user_id) AS rk
        FROM h WHERE in_b = 1
    ), skb AS (
        SELECT CAST(count(*) AS BIGINT) AS kb, CAST(max(h) AS BIGINT) AS hkb
        FROM rb WHERE rk <= {KMV_K}
    ), ex AS (
        SELECT CAST(sum(in_a) AS BIGINT) AS n_a,
               CAST(sum(in_b) AS BIGINT) AS n_b,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_inter,
               CAST(count(*) AS BIGINT) AS n_union
        FROM h
    ), est AS (
        SELECT n_a, n_b, n_inter, n_union,
               {_KMV_EST.format(c="ka", k=KMV_K, h="hka")} AS est_a,
               {_KMV_EST.format(c="kb", k=KMV_K, h="hkb")} AS est_b,
               {_KMV_EST.format(c="ku", k=KMV_K, h="hku")} AS est_union,
               CAST(nab AS DOUBLE) / ku AS rho
        FROM ex CROSS JOIN sku CROSS JOIN ska CROSS JOIN skb
    )
    SELECT n_a, n_b, n_inter, n_union,
           {sql_q4("est_a")} AS est_a, {sql_q4("est_b")} AS est_b,
           {sql_q4("est_union")} AS est_union,
           {sql_q4("est_a + est_b - est_union")} AS est_inter_ie,
           {sql_q4("rho * est_union")} AS est_inter_rho,
           {sql_q4("rho")} AS jaccard_est,
           {sql_q4("CAST(n_inter AS DOUBLE) / n_union")} AS jaccard_exact
    FROM est
    """,
)
def agg_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations ON SKETCHES — union and intersection
    cardinality of the click-user and purchase-user sets estimated
    from three KMV sketches, with the exact counts alongside so the
    sketch error is data. Two estimators for the intersection:
    inclusion-exclusion (est_a + est_b − est_union) and the
    better-behaved ρ-estimator (fraction of the union sketch's k
    values that belong to both sets, times the union estimate) —
    shipping both is the point: at 100 TB you cannot afford the
    exact distinct-intersection shuffle, and the two estimators
    bracket the truth from different directions.

    Scale design: each sketch is a global top-k by hash, planned as
    TakeOrderedAndProject (per-partition partial top-k, then a
    k-row merge on one reducer — shuffle volume is 3·k rows
    regardless of corpus size); the per-user flag aggregation is the
    only data-sized shuffle. Deterministic md5 60-bit hashes keep the
    whole thing hash-oracled like agg_kmv_distinct."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "purchase")
    )
    users = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "click").cast("int")).alias("in_a"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("in_b"),
    )
    h = reuse(users.select(
        "user_id",
        "in_a",
        "in_b",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    ))
    sku = (
        h.orderBy("h", "user_id")
        .limit(KMV_K)
        .agg(
            F.count(F.lit(1)).cast("long").alias("ku"),
            F.max("h").cast("long").alias("hku"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("nab"),
        )
    )
    ska = (
        h.where(F.col("in_a") == 1)
        .orderBy("h", "user_id")
        .limit(KMV_K)
        .agg(
            F.count(F.lit(1)).cast("long").alias("ka"),
            F.max("h").cast("long").alias("hka"),
        )
    )
    skb = (
        h.where(F.col("in_b") == 1)
        .orderBy("h", "user_id")
        .limit(KMV_K)
        .agg(
            F.count(F.lit(1)).cast("long").alias("kb"),
            F.max("h").cast("long").alias("hkb"),
        )
    )
    ex = h.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter"),
        F.count(F.lit(1)).cast("long").alias("n_union"),
    )

    def kmv_est(c: str, hk: str):
        return F.when(F.col(c) < KMV_K, F.col(c).cast("double")).otherwise(
            (KMV_K - 1) * F.lit(_HEX15) / F.col(hk)
        )

    est = (
        ex.crossJoin(F.broadcast(sku))
        .crossJoin(F.broadcast(ska))
        .crossJoin(F.broadcast(skb))
        .select(
            "n_a",
            "n_b",
            "n_inter",
            "n_union",
            kmv_est("ka", "hka").alias("est_a"),
            kmv_est("kb", "hkb").alias("est_b"),
            kmv_est("ku", "hku").alias("est_union"),
            (F.col("nab").cast("double") / F.col("ku")).alias("rho"),
        )
    )
    return est.select(
        "n_a",
        "n_b",
        "n_inter",
        "n_union",
        q4(F.col("est_a")).alias("est_a"),
        q4(F.col("est_b")).alias("est_b"),
        q4(F.col("est_union")).alias("est_union"),
        q4(F.col("est_a") + F.col("est_b") - F.col("est_union")).alias(
            "est_inter_ie"
        ),
        q4(F.col("rho") * F.col("est_union")).alias("est_inter_rho"),
        q4(F.col("rho")).alias("jaccard_est"),
        q4(F.col("n_inter").cast("double") / F.col("n_union")).alias(
            "jaccard_exact"
        ),
    )


BLOOM_M = 16384  # bit-array size (power of two: 1/M is float-exact)
BLOOM_K = 3  # hash functions
BLOOM_BAL = 5000.0  # build set = customers with acctbal above this
_BLOOM_BASE = "0.99993896484375"  # exactly 1 - 1/16384 in binary


@register(
    "agg_bloom_membership",
    oracle=f"""
    WITH build AS (
        SELECT c_custkey FROM customer WHERE c_acctbal > {BLOOM_BAL}
    ), seeds AS (SELECT unnest(['1', '2', '3']) AS s),
    bits AS (
        SELECT DISTINCT
               CAST(CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)
                                            || ':' || s), 1, 6)
                    AS UBIGINT) % {BLOOM_M} AS BIGINT) AS pos
        FROM build CROSS JOIN seeds
    ), probe AS (SELECT DISTINCT o_custkey FROM orders),
    ppos AS (
        SELECT DISTINCT o_custkey,
               CAST(CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)
                                            || ':' || s), 1, 6)
                    AS UBIGINT) % {BLOOM_M} AS BIGINT) AS pos
        FROM probe CROSS JOIN seeds
    ), flags AS (
        SELECT p.o_custkey,
               (count_if(b.pos IS NOT NULL) = count(*)) AS pass
        FROM ppos p LEFT JOIN bits b USING (pos)
        GROUP BY p.o_custkey
    ), mem AS (
        SELECT f.o_custkey, f.pass, (b.c_custkey IS NOT NULL) AS is_member
        FROM flags f LEFT JOIN (SELECT DISTINCT c_custkey FROM build) b
          ON f.o_custkey = b.c_custkey
    ), bstats AS (
        SELECT CAST((SELECT count(*) FROM build) AS BIGINT) AS n_build,
               CAST((SELECT count(*) FROM bits) AS BIGINT) AS bits_set
    ), pstats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_probe,
               CAST(count_if(pass) AS BIGINT) AS n_pass,
               CAST(count_if(is_member) AS BIGINT) AS n_true,
               CAST(count_if(pass AND NOT is_member) AS BIGINT) AS n_false_pos
        FROM mem
    )
    SELECT n_build, bits_set, n_probe, n_pass, n_true, n_false_pos,
           {sql_q4("CAST(n_false_pos AS DOUBLE) / (n_probe - n_true)")}
               AS fp_rate,
           {sql_q4(f"pow(1.0 - pow({_BLOOM_BASE}, {BLOOM_K} * n_build),"
                   f" {BLOOM_K})")} AS fp_theory
    FROM pstats CROSS JOIN bstats
    """,
)
def agg_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership expressed RELATIONALLY — the build
    side (high-balance customers) hashes each key to k=3 positions
    in a 2^14-bit array; the probe side (order custkeys) passes iff
    every one of its positions is set. Reports the measured
    false-positive rate against the textbook prediction
    (1 − (1−1/m)^{{kn}})^k, with the exact membership alongside — so
    the operator doubles as its own calibration check, and the
    no-false-negatives guarantee is hash-verified (n_pass ≥ n_true
    with every true member passing).

    Scale design: the bit array IS a DataFrame of ≤ m distinct
    positions — broadcast-sized by construction (m is fixed), however
    large the build side grows; the probe side explodes to k rows per
    key and broadcast-joins the bit set, so the only data-sized
    shuffles are the two distincts. This is the join-pre-filter shape
    (runtime-filter / semi-join reduction) engines apply before an
    expensive shuffle join, made explicit and auditable."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")

    def positions(key: Column) -> Column:
        return F.array_distinct(
            F.array(
                *[
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        ":", key.cast("string"), F.lit(str(i))
                                    )
                                ),
                                1,
                                6,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % BLOOM_M
                    )
                    for i in range(1, BLOOM_K + 1)
                ]
            )
        )

    build = c.where(F.col("c_acctbal") > BLOOM_BAL).select("c_custkey")
    bits = (
        build.select(F.explode(positions(F.col("c_custkey"))).alias("pos"))
        .distinct()
    )
    probe = o.select("o_custkey").distinct()
    ppos = probe.select(
        "o_custkey", F.explode(positions(F.col("o_custkey"))).alias("pos")
    )
    flags = (
        ppos.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("o_custkey")
        .agg((F.count_if(F.col("hit").isNotNull()) == F.count(F.lit(1))).alias("pass"))
    )
    mem = flags.join(
        F.broadcast(build.distinct().withColumn("m", F.lit(1))),
        flags["o_custkey"] == F.col("c_custkey"),
        "left",
    ).select("o_custkey", "pass", F.col("m").isNotNull().alias("is_member"))
    bstats = build.agg(F.count(F.lit(1)).cast("long").alias("n_build")).crossJoin(
        bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set"))
    )
    pstats = mem.agg(
        F.count(F.lit(1)).cast("long").alias("n_probe"),
        F.count_if(F.col("pass")).cast("long").alias("n_pass"),
        F.count_if(F.col("is_member")).cast("long").alias("n_true"),
        F.count_if(F.col("pass") & ~F.col("is_member"))
        .cast("long")
        .alias("n_false_pos"),
    )
    fp_theory = F.pow(
        F.lit(1.0) - F.pow(F.lit(float(_BLOOM_BASE)), BLOOM_K * F.col("n_build")),
        F.lit(BLOOM_K),
    )
    return pstats.crossJoin(F.broadcast(bstats)).select(
        "n_build",
        "bits_set",
        "n_probe",
        "n_pass",
        "n_true",
        "n_false_pos",
        q4(
            F.col("n_false_pos").cast("double")
            / (F.col("n_probe") - F.col("n_true"))
        ).alias("fp_rate"),
        q4(fp_theory).alias("fp_theory"),
    )


EQUIDEPTH_B = 8  # buckets


@register(
    "agg_equidepth_histogram",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS v_cents,
               l_orderkey, l_linenumber
        FROM lineitem
    ), bucketed AS (
        SELECT l_returnflag, v_cents,
               ntile({EQUIDEPTH_B}) OVER (PARTITION BY l_returnflag
                   ORDER BY v_cents, l_orderkey, l_linenumber) AS bucket
        FROM s
    )
    SELECT l_returnflag, CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(v_cents) AS BIGINT) AS lo_cents,
           CAST(max(v_cents) AS BIGINT) AS hi_cents
    FROM bucketed GROUP BY 1, 2
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (8 buckets of equal row count per
    returnflag) — the histogram query optimizers actually keep:
    agg_histogram's fixed-width bins mislocate skewed mass, while
    equi-depth boundaries ARE the 12.5% quantiles, exact. ntile with
    a fully deterministic order (value, then row key) makes boundary
    assignment reproducible: standard SQL ntile gives the first
    n mod b buckets one extra row on both engines.

    Scale note: exact ntile sorts each group once — the same
    single-sort-per-group cost as agg_weighted_percentile, fine
    while groups fit a partition pipeline; past that you'd sample or
    sketch the boundaries (agg_approx_quantile is the registered
    sketch sibling) and keep THIS key as the exact auditor run on
    samples."""
    li = table(spark, sf_dir, "lineitem")
    s = li.select(
        "l_returnflag",
        cents(F.col("l_extendedprice")).alias("v_cents"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("l_returnflag").orderBy(
        "v_cents", "l_orderkey", "l_linenumber"
    )
    bucketed = s.withColumn("bucket", F.ntile(EQUIDEPTH_B).over(w))
    return bucketed.groupBy(
        "l_returnflag", F.col("bucket").cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("v_cents").cast("long").alias("lo_cents"),
        F.max("v_cents").cast("long").alias("hi_cents"),
    )


# --------------------------------------------------- count-min sketch

CMS_D = 4  # hash rows
CMS_W = 256  # buckets per row
CMS_TOPN = 20  # query keys: the exact top-N part keys


@register(
    "agg_countmin_sketch",
    oracle=f"""
    WITH hashes AS (SELECT unnest(generate_series(0, {CMS_D - 1})) AS j),
    cells AS (
        SELECT j,
               CAST(concat('0x', substr(md5(CAST(j AS VARCHAR) || '_'
                    || CAST(l_partkey AS VARCHAR)), 1, 6)) AS BIGINT)
                 % {CMS_W} AS bucket,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem CROSS JOIN hashes
        GROUP BY 1, 2
    ), exact AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM lineitem GROUP BY l_partkey
        ORDER BY exact_cnt DESC, l_partkey LIMIT {CMS_TOPN}
    ), probes AS (
        SELECT e.l_partkey, e.exact_cnt, h.j,
               CAST(concat('0x', substr(md5(CAST(h.j AS VARCHAR) || '_'
                    || CAST(e.l_partkey AS VARCHAR)), 1, 6)) AS BIGINT)
                 % {CMS_W} AS bucket
        FROM exact e CROSS JOIN hashes h
    )
    SELECT p.l_partkey, p.exact_cnt,
           min(c.cnt) AS cms_estimate,
           min(c.cnt) - p.exact_cnt AS overestimate
    FROM probes p
    JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
    GROUP BY p.l_partkey, p.exact_cnt
    """,
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005 — public) built
    RELATIONALLY: d=4 deterministic md5 hash rows x w=256
    buckets, so the whole sketch is one 4x-explode + hash
    aggregate into d*w cells — a fixed-size, MERGEABLE summary
    (cells from two partitions/days just add), which is why CMS backs
    streaming frequency estimation at 100 TB: the sketch is
    d*w integers no matter how many rows or keys flow
    through it (1024 cells here).

    Queried for the exact top-20 part keys: estimate =
    min over the d cells the key hashes into; the one-sided guarantee
    (estimate >= exact, overestimate <= eN/w with prob 1-delta) is
    emitted as a column and property-tested. Everything is exact
    integer arithmetic on both engines — the sketch itself is the
    operator, not a statistical approximation of one."""
    li = table(spark, sf_dir, "lineitem")
    hashes = spark.range(CMS_D).select(F.col("id").cast("int").alias("j"))

    def bucket(j: Column, key: Column) -> Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "_", j.cast("string"), key.cast("string")
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % CMS_W
        )

    cells = (
        li.select("l_partkey")
        .crossJoin(F.broadcast(hashes))
        .groupBy("j", bucket(F.col("j"), F.col("l_partkey")).alias("bucket"))
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count("*").cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "l_partkey")
        .limit(CMS_TOPN)
    )
    probes = exact.crossJoin(F.broadcast(hashes)).select(
        "l_partkey",
        "exact_cnt",
        "j",
        bucket(F.col("j"), F.col("l_partkey")).alias("bucket"),
    )
    return (
        probes.join(cells, ["j", "bucket"])
        .groupBy("l_partkey", "exact_cnt")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "l_partkey",
            "exact_cnt",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


# --------------------------------------------- HDR log-bucket histogram

@register(
    "agg_hdr_histogram",
    oracle=f"""
    WITH b AS (
        SELECT event_type,
               CAST(strlen(format('{{:b}}',
                    greatest(CAST(floor(value*100 + 0.5) AS BIGINT), 1)))
                    AS BIGINT) AS bucket
        FROM events
    ), h AS (
        SELECT event_type, bucket, CAST(count(*) AS BIGINT) AS n
        FROM b GROUP BY event_type, bucket
    ), c AS (
        SELECT event_type, bucket, n,
               CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
               CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
        FROM h
    )
    SELECT event_type, bucket,
           CAST(2 ** (bucket - 1) AS BIGINT) AS lo_cents,
           CAST(2 ** bucket - 1 AS BIGINT) AS hi_cents,
           n, cum_n,
           {sql_q4("CAST(cum_n AS DOUBLE) / tot")} AS cum_share,
           (cum_n * 100 >= 95 * tot AND (cum_n - n) * 100 < 95 * tot)
             AS is_p95_bucket
    FROM c
    """,
)
def agg_hdr_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDR-histogram-style log2 value buckets per event_type — the
    observability percentile sketch (hdrhistogram.org — public):
    bucket = bit-length of the integer cents, so the bucket count is
    ~log2(max) regardless of input size, relative error is bounded at
    2x per bucket, and the histogram is MERGEABLE (bucket counts from
    shards/days just add — same argument as the CMS cells). The p95
    bucket is flagged in-plan with pure integer arithmetic
    (cum*100 >= 95*tot crossing), which is how a latency SLO monitor
    reads it without a percentile interpolation step.

    Bit-length via bin()/format('{{:b}}') string length on BOTH
    engines — no log2() call, so no libm boundary to disagree on at
    exact powers of two. One hash aggregate + one bounded window."""
    e = table(spark, sf_dir, "events")
    vc = F.greatest(cents(F.col("value")), F.lit(1))
    b = e.select(
        "event_type", F.length(F.bin(vc)).cast("long").alias("bucket")
    )
    h = b.groupBy("event_type", "bucket").agg(
        F.count("*").cast("long").alias("n")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("event_type")
    c = h.select(
        "event_type",
        "bucket",
        "n",
        F.sum("n").over(wcum).cast("long").alias("cum_n"),
        F.sum("n").over(wtot).cast("long").alias("tot"),
    )
    return c.select(
        "event_type",
        "bucket",
        F.pow(F.lit(2.0), F.col("bucket") - 1).cast("long").alias("lo_cents"),
        (F.pow(F.lit(2.0), F.col("bucket")).cast("long") - 1).alias(
            "hi_cents"
        ),
        "n",
        "cum_n",
        q4(F.col("cum_n").cast("double") / F.col("tot")).alias("cum_share"),
        (
            (F.col("cum_n") * 100 >= 95 * F.col("tot"))
            & ((F.col("cum_n") - F.col("n")) * 100 < 95 * F.col("tot"))
        ).alias("is_p95_bucket"),
    )


@register(
    "agg_hll_sketch_union",
    notes="Apache DataSketches HLL via hll_sketch_agg/hll_union_agg — "
    "engine-internal sketch bytes, so the driver records rows-only. "
    "Complements agg_hll_merge (events-side sketch plumbing): THIS "
    "key is the fact-table audit shape — per-flag estimate vs exact "
    "side by side, the merged global estimate, and rel_err in the "
    "output itself; tests/test_r7_wave_n.py gates estimates within "
    "2% and union-vs-single-pass within 1%.",
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct-count sketches (Apache
    DataSketches, Spark 3.5+ built-ins): per-returnflag PARTIAL
    sketches of l_orderkey union into a global estimate with
    hll_union_agg — the re-aggregatable distinct-count pattern for
    100 TB rollup tables, where storing the sketch (not the count)
    lets any slice re-merge without rescanning facts. Deterministic:
    DataSketches HLL is hash-based with a fixed default lgK, so the
    same input yields the same estimate on every run/partitioning.
    Output: per-flag estimates + the merged global estimate vs the
    exact distinct count and its relative error (the honest-audit
    readout)."""
    li = table(spark, sf_dir, "lineitem")
    # 3-row sketch table feeds both the per-flag readout and the
    # union; checkpoint-scoped so facts are sketched ONCE (the
    # exact-global comparator is the one other, inherent scan)
    partials = (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("hll_sketch_agg(l_orderkey)").alias("sk"),
            F.count_distinct("l_orderkey").cast("long").alias("exact_flag"),
        )
        .localCheckpoint(eager=False)
    )
    per_flag = partials.select(
        "l_returnflag",
        F.expr("hll_sketch_estimate(sk)").cast("long").alias("est_flag"),
        "exact_flag",
    )
    merged = partials.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))")
        .cast("long")
        .alias("est_global")
    )
    exact = li.agg(
        F.count_distinct("l_orderkey").cast("long").alias("exact_global")
    )
    return (
        per_flag.crossJoin(F.broadcast(merged))
        .crossJoin(F.broadcast(exact))
        .select(
            "l_returnflag",
            "est_flag",
            "exact_flag",
            "est_global",
            "exact_global",
            q4(
                F.abs(F.col("est_global") - F.col("exact_global")).cast(
                    "double"
                )
                / F.col("exact_global")
            ).alias("rel_err"),
        )
    )


@register(
    "agg_grouping_id",
    oracle="""
    SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN NULL
                ELSE l_returnflag END AS l_returnflag,
           CASE WHEN GROUPING(l_linestatus) = 1 THEN NULL
                ELSE l_linestatus END AS l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
               AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING()/grouping_id() — the function that makes ROLLUP
    output MACHINE-READABLE: subtotal rows carry an explicit level
    id instead of ambiguous NULLs (a NULL group value could be a
    real NULL key; gid disambiguates — the thing every BI layer
    consuming a rollup needs). gid = grouping(flag)·2 +
    grouping(status), computed identically in both engines; counts
    and quantity sums are exact BIGINTs at every level (partial
    aggregation applies per grouping set)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "qty")
    )


@register(
    "agg_min_max_by",
    oracle="""
    WITH v AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS c,
               l_orderkey, l_linenumber
        FROM lineitem
    ), ranked AS (
        SELECT l_returnflag, c, l_orderkey,
               row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY c DESC, l_orderkey DESC,
                            l_linenumber DESC) AS rd,
               row_number() OVER (PARTITION BY l_returnflag
                   ORDER BY c ASC, l_orderkey ASC,
                            l_linenumber ASC) AS ra
        FROM v
    )
    SELECT a.l_returnflag,
           max(CASE WHEN a.rd = 1 THEN a.l_orderkey END)
               AS top_orderkey,
           max(CASE WHEN a.rd = 1 THEN a.c END) AS top_cents,
           max(CASE WHEN a.ra = 1 THEN a.l_orderkey END)
               AS bottom_orderkey,
           max(CASE WHEN a.ra = 1 THEN a.c END) AS bottom_cents
    FROM ranked a WHERE a.rd = 1 OR a.ra = 1
    GROUP BY a.l_returnflag
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by / min_by — the argmax/argmin aggregates ("which order
    carries the extreme value", not just the value): per returnflag,
    the orderkey of the highest- and lowest-priced line. Bare
    max_by breaks ties ARBITRARILY (partitioning-dependent — the
    trap), so the ordering key is a STRUCT (cents, orderkey,
    linenumber) making the argmax total and engine-independent; the
    oracle restates it with explicit row_number windows. One
    map-side-combined aggregate — max_by partials merge, so no
    window is needed at scale (the oracle's window is the
    *specification*, not the plan)."""
    li = table(spark, sf_dir, "lineitem")
    c = cents(F.col("l_extendedprice"))
    key_max = F.struct(
        c.alias("c"),
        F.col("l_orderkey").alias("k"),
        F.col("l_linenumber").alias("l"),
    )
    return li.groupBy("l_returnflag").agg(
        F.max_by(F.col("l_orderkey"), key_max).alias("top_orderkey"),
        F.max(c).alias("top_cents"),
        F.min_by(F.col("l_orderkey"), key_max).alias("bottom_orderkey"),
        F.min(c).alias("bottom_cents"),
    )


# --------------------------------- Pythagorean mean family (r8 wave V)

# per-row fixed-point scales sized against 2^63 ~ 9.2e18 (see the
# docstring for the resulting per-group row bounds): ln(x) <= ~12 ->
# ~1.2e7/row at 1e6 scale (safe to ~7e11 rows); 1/x <= ~1e-3 ->
# ~1.1e6/row at 1e9 scale (safe to ~8e12 rows; the previous 1e12
# scale overflowed past ~7e9 rows); (x/100)^2 <= ~1.1e6/row
# (safe to ~8e12 rows).
_PM_LN_Q = 1_000_000
_PM_INV_Q = 1_000_000_000


@register(
    "agg_pythagorean_means",
    oracle=f"""
    WITH t AS (
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS scents,
               CAST(sum(CAST(floor(ln(l_extendedprice) * {_PM_LN_Q} + 0.5)
                    AS BIGINT)) AS BIGINT) AS slnq,
               CAST(sum(CAST(floor({_PM_INV_Q} / l_extendedprice + 0.5)
                    AS BIGINT)) AS BIGINT) AS sinvq,
               CAST(sum(CAST(floor(l_extendedprice * l_extendedprice / 10000
                    + 0.5) AS BIGINT)) AS BIGINT) AS ssq
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           {sql_q4("CAST(scents AS DOUBLE) / 100.0 / n")} AS mean_arith,
           {sql_q4(f"exp(CAST(slnq AS DOUBLE) / {_PM_LN_Q} / n)")}
               AS mean_geom,
           {sql_q4(f"CAST(n AS DOUBLE) * {_PM_INV_Q} / sinvq")}
               AS mean_harm,
           {sql_q4("sqrt(CAST(ssq AS DOUBLE) * 10000.0 / n)")} AS mean_rms
    FROM t
    """,
)
def agg_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Pythagorean mean ladder of extended price per return
    flag — arithmetic, geometric (exp of mean log), harmonic
    (N / sum of reciprocals) and quadratic/RMS — with the AM >= GM >=
    HM inequality as a built-in sanity invariant; the geometric and
    harmonic means are the right aggregates for ratios and rates
    where agg_stats' arithmetic mean misleads.

    Each non-arithmetic mean needs one nonlinear per-row term, so all
    four fold as order-free BIGINTs at documented fixed-point scales
    (ln at 1e6, reciprocal at 1e9, square at 1e-4 of cents^2).
    Overflow bounds per GROUP against 2^63, at price in [9e2, 1.1e5]:
    the reciprocal fold is <= ~1.1e6/row -> safe to ~8e12 rows; the
    ln fold <= ~1.2e7/row -> ~7e11 rows; the square fold <= ~1.2e6/row
    -> ~7e12 rows; the cents sum <= ~1.1e7/row -> ~8e11 rows. The
    binding bound is therefore ~7e11 rows per group — comfortably
    above a 100 TB lineitem (~7e11 rows TOTAL, split across flags).
    Quantization error is mean-zero rounding, averaging out as
    O(1/sqrt(n)) relative; the outer exp/sqrt/divisions run once per
    group.

    Scale shape: ONE hash aggregate, map-side combined, |flags|
    output rows."""
    li = table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    t = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents(x)).cast("long").alias("scents"),
        F.sum(F.floor(F.log(x) * _PM_LN_Q + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("slnq"),
        F.sum(F.floor(F.lit(_PM_INV_Q) / x + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sinvq"),
        F.sum(F.floor(x * x / 10000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("ssq"),
    )
    nd = F.col("n").cast("double")
    return t.select(
        "l_returnflag",
        "n",
        q4(F.col("scents").cast("double") / 100.0 / nd).alias("mean_arith"),
        q4(F.exp(F.col("slnq").cast("double") / _PM_LN_Q / nd)).alias(
            "mean_geom"
        ),
        q4(nd * _PM_INV_Q / F.col("sinvq")).alias("mean_harm"),
        q4(F.sqrt(F.col("ssq").cast("double") * 10000.0 / nd)).alias(
            "mean_rms"
        ),
    )


# ------------------------------- frequency moments (r8 wave Z)


@register(
    "agg_frequency_moments",
    oracle=f"""
    WITH freq AS (
        SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(count(*) AS BIGINT) AS f0,
           CAST(sum(c) AS BIGINT) AS f1,
           CAST(sum(c * c) AS BIGINT) AS f2,
           CAST(sum(c * c * c) AS BIGINT) AS f3,
           CAST(max(c) AS BIGINT) AS f_inf,
           {sql_q4("1.0 - CAST(sum(c * c) AS DOUBLE)"
                   " / (CAST(sum(c) AS DOUBLE) * sum(c))")}
               AS gini_simpson,
           {sql_q4("CAST(sum(c * c) AS DOUBLE) / count(*)"
                   " / power(CAST(sum(c) AS DOUBLE) / count(*), 2)")}
               AS skew_factor
    FROM freq
    """,
)
def agg_frequency_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency moments of the part-key stream (the AMS-sketch
    quantities, computed EXACTLY): F0 = distinct keys, F1 = stream
    length, F2 = self-join size, F3, F_inf = heavy-hitter mass, plus
    the Gini-Simpson diversity 1 - F2/F1^2 and the skew factor
    F2·F0/F1^2 — the numbers a cost-based optimizer (and every
    skew-aware join planner, cf. etl_skew_report) needs about a join
    key: F2/F1 is the expected fan-out of self-joining it.

    One hash aggregate to the key-frequency table (map-side
    combined), one fold to a single row; all moments exact BIGINTs
    (c <= F1, so c^3 stays far inside 2^63 for any realistic key
    frequency).

    Scale shape at 100 TB: the only shuffle carries distinct keys."""
    li = table(spark, sf_dir, "lineitem")
    freq = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c = F.col("c")
    return freq.agg(
        F.count(F.lit(1)).cast("long").alias("f0"),
        F.sum(c).cast("long").alias("f1"),
        F.sum(c * c).cast("long").alias("f2"),
        F.sum(c * c * c).cast("long").alias("f3"),
        F.max(c).cast("long").alias("f_inf"),
        q4(
            F.lit(1.0)
            - F.sum(c * c).cast("double")
            / (F.sum(c).cast("double") * F.sum(c))
        ).alias("gini_simpson"),
        q4(
            F.sum(c * c).cast("double")
            / F.count(F.lit(1))
            / F.pow(F.sum(c).cast("double") / F.count(F.lit(1)), F.lit(2.0))
        ).alias("skew_factor"),
    )
