"""Sort / limit / top-k operators (SURVEY.md §2.6).

LIMIT is only deterministic after a total order, so every query here
sorts on a key made unique by a tie-break column (SURVEY §5
order-insensitivity note). At scale, orderBy+limit compiles to
TakeOrderedAndProject — per-partition top-k then a single merge,
never a full global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..utils import q2, sql_q2
from .prefix import global_ordered, sql_ntile_from_rank


@register(
    "sort_multi",
    oracle="""
    SELECT o_orderkey, nullif(o_orderstatus, 'P') AS status_np, o_totalprice
    FROM orders
    ORDER BY status_np ASC NULLS LAST, o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort: asc + desc + explicit NULLS LAST (nulls are
    manufactured via nullif — the fixtures have none; Spark defaults
    to NULLS FIRST on ASC, DuckDB to NULLS LAST, so being explicit is
    mandatory for parity)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.expr("nullif(o_orderstatus, 'P')").alias("status_np"),
            "o_totalprice",
        )
        .orderBy(
            F.col("status_np").asc_nulls_last(),
            F.col("o_totalprice").desc(),
            "o_orderkey",
        )
        .limit(50)
    )


@register(
    "limit_k",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 10
    """,
)
def limit_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT after a total order."""
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), "c_custkey")
        .limit(10)
    )


@register(
    "topk_global",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {sql_q2("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    ORDER BY revenue DESC, l_orderkey, l_linenumber
    LIMIT 20
    """,
)
def topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k on a computed column (TakeOrderedAndProject)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            q2(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey", "l_linenumber")
        .limit(20)
    )


# ------------------------------------------------------------- z-order

_ZBITS = 6  # p_size and p_partkey%64 both fit in 6 bits
_ZFILES = 16  # simulated file count


def _z_spark(x: F.Column, y: F.Column) -> F.Column:
    z = F.lit(0)
    for b in range(_ZBITS):
        z = (
            z
            + F.shiftleft(F.shiftright(x, b).bitwiseAND(1), 2 * b + 1)
            + F.shiftleft(F.shiftright(y, b).bitwiseAND(1), 2 * b)
        )
    return z.cast("long")


def _z_sql(x: str, y: str) -> str:
    terms = []
    for b in range(_ZBITS):
        terms.append(f"((({x} >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"((({y} >> {b}) & 1) << {2 * b})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "sort_zorder",
    oracle=f"""
    WITH pts AS (
        SELECT p_partkey, CAST(p_size AS BIGINT) AS x,
               CAST(p_partkey % 64 AS BIGINT) AS y
        FROM part
    ), zed AS (
        SELECT p_partkey, x, y, {_z_sql('x', 'y')} AS z FROM pts
    ), filed AS (
        SELECT x, y, z,
               CAST(ntile({_ZFILES}) OVER (ORDER BY z, p_partkey)
                    AS BIGINT) AS file_id
        FROM zed
    )
    SELECT file_id, CAST(count(*) AS BIGINT) AS n,
           min(x) AS min_x, max(x) AS max_x,
           min(y) AS min_y, max(y) AS max_y
    FROM filed GROUP BY file_id
    """,
)
def sort_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering for multi-dimensional data
    skipping: interleave the bits of two scan dimensions, sort by the
    Z value, and cut into files — every file then covers a tight
    RECTANGLE in (x, y) space, so parquet min/max footer stats prune
    selective filters on EITHER dimension (a plain sort only prunes
    its leading column). The oracle-checked output IS the skipping
    evidence: per-simulated-file min/max envelopes per dimension,
    which the test compares against the full domain width.

    At 100 TB this is the layout step before `sink_parquet`:
    repartitionByRange(z) + sortWithinPartitions(z) +
    maxRecordsPerFile cuts the same envelopes while writing.  The
    file_id labels here come from ``global_ordered`` (range-
    partitioned parallel rank) + an exact arithmetic ntile — no
    single-partition window; bit-interleave is pure JVM integer
    arithmetic."""
    p = table(spark, sf_dir, "part")
    pts = p.select(
        "p_partkey",
        F.col("p_size").cast("long").alias("x"),
        (F.col("p_partkey") % 64).cast("long").alias("y"),
    )
    zed = pts.select(
        "p_partkey", "x", "y", _z_spark(F.col("x"), F.col("y")).alias("z")
    )
    n_df = zed.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    filed = (
        global_ordered(
            zed, [F.col("z"), F.col("p_partkey")], bucket_key="z"
        )
        .crossJoin(F.broadcast(n_df))
        .select(
            "x",
            "y",
            F.expr(sql_ntile_from_rank("rk", "_n", _ZFILES)).alias("file_id"),
        )
    )
    return filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )
