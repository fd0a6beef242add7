"""Join operators (SURVEY.md §2.3).

Scale notes (100 TB mandate):
- Dimension tables (region/nation/part/supplier/customer-at-small-SF)
  get explicit ``F.broadcast`` hints where they are guaranteed small;
  everything else relies on AQE (sort-merge → broadcast conversion,
  skew splitting) rather than hand-scheduling.
- The as-of join is the union+window formulation: one shuffle on the
  join key, then a single sort per partition — the scalable pattern
  (no per-row lookups, no crossJoin).
- ``join_skew_salted`` demonstrates deterministic key salting: the
  dimension side is replicated NSALT ways, the fact side picks a salt
  by hashing a unique column, so one hot key spreads over NSALT tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register
from ..utils import q4, sql_q4, sql_sum_money, sum_money


@register(
    "join_inner",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_custkey, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_acctbal > 9000
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join, row-level output so duplicate/drop bugs show."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "o_totalprice", "c_custkey", "c_name"
    )


@register(
    "join_left",
    oracle="""
    SELECT c_custkey, e.event_id, e.event_type
    FROM customer c LEFT JOIN events e ON c.c_custkey = e.user_id
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join — most customers have no events (nulls appear)."""
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")
    return c.join(e, c.c_custkey == e.user_id, "left").select(
        "c_custkey", "event_id", "event_type"
    )


@register(
    "join_right",
    oracle="""
    SELECT e.event_id, e.value, c.c_custkey, c.c_mktsegment
    FROM events e RIGHT JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (mirror of left; planner flips build side)."""
    e = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    return e.join(c, e.user_id == c.c_custkey, "right").select(
        "event_id", "value", "c_custkey", "c_mktsegment"
    )


@register(
    "join_full",
    oracle="""
    SELECT coalesce(cu.nk, su.nk) AS nationkey, cu.n_cust, su.n_supp
    FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer
          WHERE c_nationkey < 20 GROUP BY c_nationkey) cu
    FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier
               WHERE s_nationkey >= 5 GROUP BY s_nationkey) su
      ON cu.nk = su.nk
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two disjointly-filtered aggregates so both
    null sides actually occur."""
    cu = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_nationkey") < 20)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    su = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") >= 5)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    j = cu.join(su, cu.nk == su.nk, "full")
    return j.select(
        F.coalesce(cu.nk, su.nk).alias("nationkey"), "n_cust", "n_supp"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with a very large order."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 450000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no events —
    non-empty by fixture design (events cover ~10% of customers)."""
    c = table(spark, sf_dir, "customer")
    e = table(spark, sf_dir, "events")
    return c.join(e, c.c_custkey == e.user_id, "left_anti").select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="""
    SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — bounded inputs only (5 x 25). Unbounded
    crossJoin is banned by the 100 TB design discipline (SURVEY §7)."""
    r = table(spark, sf_dir, "region").select("r_name")
    n = table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "join_broadcast",
    oracle=f"""
    SELECT p_brand, {sql_sum_money("l_extendedprice * (1 - l_discount)")} AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_type = 'PROMO'
    GROUP BY p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-hash join: explicit hint on the dimension side —
    no shuffle of the fact table at any scale (part fits in memory)."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "join_range",
    oracle=f"""
    SELECT o_orderpriority, count(*) AS n_shipped,
           {sql_sum_money("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
      AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderpriority
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join: equi key + interval predicate. The equi
    component keeps it a hash/sort-merge join (the range part is a
    post-join filter) — crucial at scale vs a pure theta join."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate >= o.o_orderdate)
        & (li.l_shipdate <= o.o_orderdate + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        li.join(o, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_shipped"),
            sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        )
    )


@register(
    "join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
           epoch_us(o.o_orderdate) AS asof_order_us
    FROM events e ASOF JOIN orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the most recent order date at or
    before the event time, per user.

    Spark lacks a native ASOF JOIN; this is the scalable union+window
    formulation: tag both sides, union, window per key ordered by
    (time, side) with orders sorting before events at equal
    timestamps (>= inclusivity), then ``last(..., ignorenulls)`` over
    an unbounded-preceding frame. One shuffle + one sort, no
    point-lookups — survives arbitrarily large inputs.
    Output only the matched *date* (deterministic under same-date
    ties; two orders on the tying date carry the same date value).
    """
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.lit(None).cast("timestamp").alias("ord_date"),
    )
    o = table(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.col("o_orderdate").alias("ord_date"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = e.unionByName(o).withColumn(
        "asof_date", F.last("ord_date", ignorenulls=True).over(w)
    )
    return (
        merged.where((F.col("is_event") == 1) & F.col("asof_date").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.unix_micros("t").alias("ts_us"),
            F.unix_micros("asof_date").alias("asof_order_us"),
        )
    )


@register(
    "join_multiway",
    oracle=f"""
    SELECT n_name, {sql_sum_money("l_extendedprice * (1 - l_discount)")} AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey  = o_orderkey
    JOIN customer ON o_custkey   = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    bench=True,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship star join (TPC-H Q5 shape): fact ⋈ 4 dimensions.

    nation/region are broadcast explicitly (25 / 5 rows at any SF);
    lineitem⋈orders is the only real shuffle — AQE handles its
    partitioning and any skew. The date filter prunes orders before
    the join (pushed to the parquet scan).
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            sum_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


NSALT = 8


@register(
    "join_skew_salted",
    oracle=f"""
    SELECT n_name, count(*) AS n_events, {sql_sum_money("value")} AS total_value
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via deterministic salting.

    Fact side: salt = xxhash64(event_id) mod NSALT (deterministic —
    no rand(), per SURVEY §5 determinism rule). Dimension side:
    replicated NSALT ways with explode(sequence(...)). The join key
    becomes (user_id, salt), spreading one hot user over NSALT tasks.
    Semantics identical to the plain join (oracle is the plain join).
    AQE skew-join handles this automatically too; this operator is
    the manual fallback for engines/pipelines where AQE is off.
    """
    e = table(spark, sf_dir, "events").withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(NSALT))
    )
    c = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(NSALT - 1))))
        .withColumn("salt", F.col("salt").cast("long"))
    )
    n = table(spark, sf_dir, "nation")
    return (
        e.join(c, (e.user_id == c.c_custkey) & (e.salt == c.salt))
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_events"),
            sum_money(F.col("value")).alias("total_value"),
        )
    )


@register(
    "join_asof_fwd",
    oracle="""
    WITH v AS (SELECT * FROM events WHERE event_type = 'view'),
         c AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT v.event_id, v.user_id, epoch_us(v.ts) AS ts_us,
           epoch_us(c.ts) AS next_click_us
    FROM v ASOF JOIN c ON v.user_id = c.user_id AND v.ts <= c.ts
    """,
)
def join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: for each view event, the NEXT click at or
    after it, per user (time-to-next-action).

    Mirror of ``join_asof``: union both tagged sides, window per user
    ordered by time DESCENDING with clicks sorting before views at
    equal timestamps (<= inclusivity), running ``last(..,
    ignorenulls)`` = earliest click ≥ the view. One shuffle + one
    sort at any scale. The matched value is the click timestamp
    itself, so equal-timestamp ties carry identical values."""
    e = table(spark, sf_dir, "events")
    v = e.where(F.col("event_type") == "view").select(
        "event_id",
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_view"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    c = e.where(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_view"),
        F.col("ts").alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t").desc(), "is_view")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = v.unionByName(c).withColumn(
        "next_click", F.last("click_ts", ignorenulls=True).over(w)
    )
    return merged.where(
        (F.col("is_view") == 1) & F.col("next_click").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.unix_micros("t").alias("ts_us"),
        F.unix_micros("next_click").alias("next_click_us"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH a AS (
      SELECT c_custkey, NULLIF(c_mktsegment, 'MACHINERY') AS seg
      FROM customer WHERE c_custkey < 50
    ), b AS (
      SELECT c_custkey AS k2, NULLIF(c_mktsegment, 'MACHINERY') AS seg2
      FROM customer WHERE c_custkey >= 50 AND c_custkey < 100
    )
    SELECT a.c_custkey, b.k2, a.seg
    FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg2
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — the dirty-data join
    semantics every ETL reconciliation eventually needs. Still hash-
    partitionable on the key (NULL hashes like any value under
    null-safe equality), so it scales like a plain equi-join."""
    cu = table(spark, sf_dir, "customer")
    a = cu.where(F.col("c_custkey") < 50).select(
        "c_custkey", F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg")
    )
    b = cu.where((F.col("c_custkey") >= 50) & (F.col("c_custkey") < 100)).select(
        F.col("c_custkey").alias("k2"),
        F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("seg2"),
    )
    return a.join(b, a["seg"].eqNullSafe(b["seg2"])).select("c_custkey", "k2", "seg")


# --------------------------------------------- pure interval (no equi key)

_BIN_DAYS = 7  # bucket width; intervals are at most 8 days long


@register(
    "join_range_binned",
    oracle=f"""
    SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_shipped,
           {sql_sum_money("l.l_extendedprice")} AS revenue
    FROM (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d0,
                 CAST(o_orderdate AS DATE)
                     + CAST(o_orderkey % 7 + 1 AS INT) AS d1
          FROM orders WHERE o_orderkey % 100 = 0) o
    JOIN lineitem l
      ON CAST(l.l_shipdate AS DATE) BETWEEN o.d0 AND o.d1
    GROUP BY o.o_orderkey
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURE interval join — no equi key at all: count shipments (from
    ANY order) falling inside each probe order's date window. Naive
    plans make this a cartesian product; the scale path is the
    bin-and-equi-join rewrite: intervals explode to the fixed-width
    date bins they cover (≤2 extra rows each at bin ≥ interval
    length), points map to exactly ONE bin, so bin equality becomes a
    plain hash-join key and the exact containment predicate filters
    after. Each qualifying pair appears exactly once (the point's bin
    is unique) — no dedup step. Cost: O(points + intervals·bins) with
    a shuffle on the bin key, instead of O(points × intervals).

    DuckDB runs the same semantics through its native IEJoin — an
    independent algorithm, so the hash cross-checks the rewrite."""
    o = table(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    iv = o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d0"),
        F.expr(
            "date_add(CAST(o_orderdate AS DATE),"
            " CAST(o_orderkey % 7 + 1 AS INT))"
        ).alias("d1"),
    )
    day = lambda c: F.datediff(c, F.lit("1990-01-01").cast("date"))  # noqa: E731
    iv_binned = iv.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(day(F.col("d0")) / _BIN_DAYS).cast("long"),
                F.floor(day(F.col("d1")) / _BIN_DAYS).cast("long"),
            )
        ),
    )
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("sd"), "l_extendedprice"
    )
    pts = li.withColumn(
        "bin", F.floor(day(F.col("sd")) / _BIN_DAYS).cast("long")
    )
    joined = iv_binned.join(pts, "bin").where(
        F.col("sd").between(F.col("d0"), F.col("d1"))
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipped"),
        sum_money(F.col("l_extendedprice")).alias("revenue"),
    )


@register(
    "join_lateral",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice_cents, t.rk
    FROM customer c, LATERAL (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                   AS o_totalprice_cents,
               CAST(row_number() OVER (ORDER BY o_orderdate DESC,
                                       o_orderkey) AS BIGINT) AS rk
        FROM orders WHERE o_custkey = c.c_custkey
        ORDER BY o_orderdate DESC, o_orderkey LIMIT 3
    ) t
    WHERE c.c_custkey < 200
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join — each customer's 3 most
    recent orders, written as the natural per-row subquery. Catalyst
    DECORRELATES it (RewriteLateralSubquery) into a window + filter
    over one join, so what reads as a nested loop executes as a
    shuffle + per-key rank — the difference between O(cust·orders)
    and one pass at 100 TB; the equivalent explicit formulation is
    `topk_per_group`."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("etlcnc_cust_lat")
    table(spark, sf_dir, "orders").createOrReplaceTempView("etlcnc_ord_lat")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice_cents, t.rk
        FROM etlcnc_cust_lat c, LATERAL (
            SELECT o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                       AS o_totalprice_cents,
                   CAST(row_number() OVER (ORDER BY o_orderdate DESC,
                                           o_orderkey) AS BIGINT) AS rk
            FROM etlcnc_ord_lat WHERE o_custkey = c.c_custkey
            ORDER BY o_orderdate DESC, o_orderkey LIMIT 3
        ) t
        WHERE c.c_custkey < 200
        """
    )


@register(
    "join_fuzzy_blocked",
    oracle="""
    WITH s AS (
        SELECT s_suppkey, lower(replace(s_name, '#', '')) AS nm,
               substr(s_name, 17, 1) AS blk
        FROM supplier
    )
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
    FROM s a JOIN s b
      ON a.blk = b.blk AND a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.nm, b.nm) <= 2
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) self-join with BLOCKING — the entity-
    resolution pattern: a cheap blocking key (here the name's tens
    digit — zero-padded fixture names share every prefix, so a prefix
    block would degenerate to one giant block)
    turns the quadratic all-pairs edit-distance comparison into an
    equi-join whose pairwise work is confined to each block, then
    levenshtein filters within the block. At 100 TB the blocking key
    is the whole game (candidate pairs ∝ Σ block², so block on
    something selective — phonetic code, sorted-token prefix, LSH
    band); the pairwise predicate never sees the cross product.
    a < b ordering halves the work and dedups symmetric pairs."""
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.lower(F.regexp_replace("s_name", "#", "")).alias("nm"),
        F.substring("s_name", 17, 1).alias("blk"),
    )
    a, b = s.alias("a"), s.alias("b")
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.s_suppkey") < F.col("b.s_suppkey")),
        )
        .where(F.levenshtein(F.col("a.nm"), F.col("b.nm")) <= 2)
        .select(
            F.col("a.s_suppkey").alias("id_a"),
            F.col("b.s_suppkey").alias("id_b"),
            F.levenshtein(F.col("a.nm"), F.col("b.nm"))
            .cast("long")
            .alias("dist"),
        )
    )


@register(
    "join_nearest_time",
    oracle="""
    WITH pairs AS (
        SELECT e.event_id, e.user_id,
               abs(epoch_us(e.ts) // 1000000
                   - epoch_us(o.o_orderdate) // 1000000) AS du,
               o.o_orderkey
        FROM events e JOIN orders o ON e.user_id = o.o_custkey
        WHERE e.event_id % 20 = 0
    )
    SELECT event_id, user_id,
           CAST(min(du) AS BIGINT) AS nearest_s,
           CAST((min(struct_pack(du := du, k := o_orderkey))).k AS BIGINT)
               AS nearest_orderkey
    FROM pairs GROUP BY event_id, user_id
    """,
)
def join_nearest_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-timestamp join (bidirectional as-of): each probe event
    matches its temporally CLOSEST order by the same customer —
    forward or backward, unlike join_asof's one-sided semantics;
    the sensor-fusion / record-linkage alignment primitive. Equi-join
    on the entity key bounds candidates to the key's own records,
    then min over a (distance, key) STRUCT — lexicographic struct
    ordering is the overflow-free deterministic tie-break (a scaled
    integer composite breaks once keys outgrow the scale factor).
    At scale the union-of-two-asof-scans formulation (one sort, two
    windows) replaces the per-key aggregate when per-entity record
    counts are large."""
    e = table(spark, sf_dir, "events").where(F.col("event_id") % 20 == 0)
    o = table(spark, sf_dir, "orders")
    pairs = e.join(o, e.user_id == o.o_custkey).select(
        "event_id",
        "user_id",
        F.abs(
            F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000")
            - F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"
                     " DIV 1000000")
        ).alias("du"),
        "o_orderkey",
    )
    return pairs.groupBy("event_id", "user_id").agg(
        F.min("du").cast("long").alias("nearest_s"),
        F.min(F.struct(F.col("du"), F.col("o_orderkey")))
        .getField("o_orderkey")
        .cast("long")
        .alias("nearest_orderkey"),
    )


@register(
    "join_interval_overlap",
    oracle="""
    WITH ord_iv AS (
        SELECT l_orderkey AS orderkey,
               CAST(o_orderdate AS DATE) AS iv_start,
               greatest(CAST(max(l_shipdate) AS DATE),
                        CAST(o_orderdate AS DATE)) AS iv_end
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, CAST(o_orderdate AS DATE)
    ), bounds AS (
        SELECT date_trunc('month', min(iv_start)) AS m0,
               date_trunc('month', max(iv_end)) AS m1
        FROM ord_iv
    ), promo AS (
        SELECT CAST(m AS DATE) AS w_start,
               CAST(m + INTERVAL 6 DAY AS DATE) AS w_end
        FROM (SELECT unnest(generate_series(m0, m1, INTERVAL 1 MONTH)) AS m
              FROM bounds)
    )
    SELECT CAST(datediff('day', DATE '1970-01-01', w_start) AS BIGINT)
               AS promo_day_n,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(datediff('day', DATE '1970-01-01',
                    least(o.iv_end, p.w_end)) -
                    datediff('day', DATE '1970-01-01',
                    greatest(o.iv_start, p.w_start)) + 1) AS BIGINT)
               AS overlap_days
    FROM ord_iv o JOIN promo p
      ON o.iv_start <= p.w_end AND p.w_start <= o.iv_end
    GROUP BY 1
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — interval × interval (distinct from
    ``join_range``'s point-in-interval): order fulfillment windows
    [orderdate, last shipdate] against a monthly promo calendar
    (first week of each month), emitting the overlap length.

    Scale design: the naive overlap join is a theta join (O(N·M)
    nested loop).  Here each order interval EXPLODES to the month
    buckets it spans (bounded: fulfillment windows are months, not
    years) and joins the promo table on the month bucket as an
    EQUI key; the overlap predicate becomes a post-join filter.
    That is the standard time-bucket blocking rewrite: shuffle volume
    is rows × avg-months-spanned, never pairs.  Each promo window
    lies entirely inside one month, so a matched pair appears in
    exactly one bucket — no post-join dedup needed."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    ord_iv = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("iv_start"),
        )
        .agg(F.max(F.col("l_shipdate").cast("date")).alias("max_ship"))
        # clamp: fixture shipdates can precede the order date
        .withColumn("iv_end", F.greatest("max_ship", "iv_start"))
        .drop("max_ship")
    )
    bounds = ord_iv.agg(
        F.date_trunc("month", F.min("iv_start")).alias("m0"),
        F.date_trunc("month", F.max("iv_end")).alias("m1"),
    )
    promo = bounds.select(
        F.explode(F.expr("sequence(m0, m1, interval 1 month)")).alias("m")
    ).select(
        F.col("m").cast("date").alias("w_start"),
        F.date_add(F.col("m").cast("date"), 6).alias("w_end"),
        F.date_trunc("month", F.col("m")).cast("date").alias("w_month"),
    )
    exploded = ord_iv.select(
        "orderkey",
        "iv_start",
        "iv_end",
        F.explode(
            F.expr(
                "sequence(date_trunc('month', iv_start),"
                " date_trunc('month', iv_end), interval 1 month)"
            )
        ).alias("o_month_ts"),
    ).withColumn("o_month", F.col("o_month_ts").cast("date"))
    return (
        exploded.join(
            F.broadcast(promo), F.col("o_month") == F.col("w_month")
        )
        .where(
            (F.col("iv_start") <= F.col("w_end"))
            & (F.col("w_start") <= F.col("iv_end"))
        )
        .groupBy(
            F.datediff("w_start", F.lit("1970-01-01"))
            .cast("long")
            .alias("promo_day_n")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(
                F.datediff(
                    F.least("iv_end", "w_end"),
                    F.greatest("iv_start", "w_start"),
                )
                + 1
            )
            .cast("long")
            .alias("overlap_days"),
        )
    )


@register(
    "join_asof_tolerance",
    oracle="""
    WITH m AS (
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT max(c.ts) FROM events c
                WHERE c.user_id = p.user_id AND c.event_type = 'click'
                  AND c.ts <= p.ts) AS click_ts
        FROM events p WHERE p.event_type = 'purchase'
    )
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           epoch_us(click_ts) AS asof_click_us
    FROM m
    WHERE click_ts IS NOT NULL AND click_ts >= ts - INTERVAL 1 HOUR
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a tolerance bound: for each purchase, the most
    recent click by the same user at or before it — but only if it
    happened within the last hour. The `tolerance` parameter every
    native as-of join exposes (pandas merge_asof, kdb wj): matches
    staler than the bound are DROPPED, not approximated by an
    arbitrarily old record (attribution windows, sensor staleness).

    Same scalable union+window machinery as ``join_asof`` (one
    shuffle on the key, one sort, last-non-null over the unbounded
    frame); the tolerance is a pure post-window filter on the matched
    timestamp, so it adds zero shuffles at any scale."""
    ev = table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("t"),
        F.lit(1).alias("is_purchase"),
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.lit(None).cast("long").alias("event_id"),
        "user_id",
        F.col("ts").alias("t"),
        F.lit(0).alias("is_purchase"),
        F.col("ts").alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_purchase")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = p.unionByName(c).withColumn(
        "asof_click", F.last("click_ts", ignorenulls=True).over(w)
    )
    return (
        merged.where(
            (F.col("is_purchase") == 1)
            & F.col("asof_click").isNotNull()
            & (F.col("asof_click") >= F.col("t") - F.expr("INTERVAL 1 HOUR"))
        )
        .select(
            "event_id",
            "user_id",
            F.unix_micros("t").alias("ts_us"),
            F.unix_micros("asof_click").alias("asof_click_us"),
        )
    )


# ------------------------------------------------- spatial grid join

GRID_CELL = "0.05"  # cell width == search radius
GRID_R2 = "0.0025"  # radius², one literal (0.05*0.05 != 0.0025 risk)
_HX_DIV = "16777216.0"  # 2^24 — md5 24-bit prefix → uniform [0,1)


def _coord(salt: str, key):
    """Deterministic uniform [0,1) coordinate from md5(salt‖key) —
    same engine-neutral hash idiom as sample_deterministic."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), key.cast("string"))), 1, 6),
        16,
        10,
    ).cast("long")
    return h.cast("double") / F.lit(float(_HX_DIV))


def _sql_coord(salt: str, key: str) -> str:
    return (
        f"CAST(CAST(concat('0x', substr(md5('{salt}' || CAST({key} AS VARCHAR)"
        f"), 1, 6)) AS BIGINT) AS DOUBLE) / {_HX_DIV}"
    )


@register(
    "join_spatial_grid",
    oracle=f"""
    WITH cust AS (
        SELECT c_custkey,
               {_sql_coord("cx", "c_custkey")} AS x,
               {_sql_coord("cy", "c_custkey")} AS y
        FROM customer
    ), supp AS (
        SELECT s_suppkey,
               {_sql_coord("sx", "s_suppkey")} AS sx,
               {_sql_coord("sy", "s_suppkey")} AS sy
        FROM supplier
    ), supp9 AS (
        SELECT s_suppkey, sx, sy,
               CAST(floor(sx / {GRID_CELL}) AS BIGINT) + dx.dx AS cellx,
               CAST(floor(sy / {GRID_CELL}) AS BIGINT) + dy.dy AS celly
        FROM supp
        CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)
        CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
    ), cand AS (
        SELECT c.c_custkey, s.s_suppkey,
               (c.x - s.sx) * (c.x - s.sx)
                 + (c.y - s.sy) * (c.y - s.sy) AS dist2
        FROM cust c JOIN supp9 s
          ON CAST(floor(c.x / {GRID_CELL}) AS BIGINT) = s.cellx
         AND CAST(floor(c.y / {GRID_CELL}) AS BIGINT) = s.celly
        WHERE (c.x - s.sx) * (c.x - s.sx)
                 + (c.y - s.sy) * (c.y - s.sy) <= {GRID_R2}
    ), nearest AS (
        SELECT c_custkey, s_suppkey, dist2,
               CAST(row_number() OVER (PARTITION BY c_custkey
                    ORDER BY dist2, s_suppkey) AS BIGINT) AS rn
        FROM cand
    )
    SELECT c_custkey, s_suppkey, {sql_q4("sqrt(dist2)")} AS dist
    FROM nearest WHERE rn = 1
    """,
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor spatial join within radius r via grid-cell
    bucketing: each supplier is replicated into its 3×3 neighborhood
    of r-sized cells, customers join on their OWN cell only, so every
    point pair within r shares a cell and the candidate set is
    density-bounded — never all-pairs.

    (Coordinates are derived deterministically from md5 of the keys —
    the engine-neutral stand-in for real lat/lon columns; the
    machinery is the real spatial-join pattern.)

    Scale shape: one 9× row expansion on the (smaller) build side,
    one shuffle per side on the cell key, a per-cell hash join, then
    a per-customer top-1 window. Candidates per customer ≈ 9·density·
    cell², independent of table size; skew is bounded by the densest
    cell (for real clustered data: refine the grid or salt hot
    cells). A 100 TB build-side stays shuffle-partitioned — nothing
    is broadcast or collected."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        _coord("cx", F.col("c_custkey")).alias("x"),
        _coord("cy", F.col("c_custkey")).alias("y"),
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        _coord("sx", F.col("s_suppkey")).alias("sx"),
        _coord("sy", F.col("s_suppkey")).alias("sy"),
    )
    cell = float(GRID_CELL)
    offs = F.array(F.lit(-1), F.lit(0), F.lit(1))
    s9 = (
        s.withColumn("dx", F.explode(offs))
        .withColumn("dy", F.explode(offs))
        .select(
            "s_suppkey",
            "sx",
            "sy",
            (F.floor(F.col("sx") / cell).cast("long") + F.col("dx")).alias("cellx"),
            (F.floor(F.col("sy") / cell).cast("long") + F.col("dy")).alias("celly"),
        )
    )
    dist2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    cand = (
        c.join(
            s9,
            (F.floor(F.col("x") / cell).cast("long") == F.col("cellx"))
            & (F.floor(F.col("y") / cell).cast("long") == F.col("celly")),
        )
        .select("c_custkey", "s_suppkey", dist2.alias("dist2"))
        .where(F.col("dist2") <= F.lit(float(GRID_R2)))
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_custkey", "s_suppkey", q4(F.sqrt(F.col("dist2"))).alias("dist"))
    )


# ------------------------------------------------- fuzzy entity match

FUZZY_MAX_LEV = 4  # accept pairs within this edit distance


@register(
    "join_fuzzy_names",
    oracle=f"""
    WITH names AS (
        SELECT p_name,
               CAST(min(p_partkey) AS BIGINT) AS rep_key,
               CAST(count(*) AS BIGINT) AS n_rows,
               string_split(p_name, ' ')[1] AS tok1,
               string_split(p_name, ' ')[-1] AS tok2
        FROM part GROUP BY p_name
    ), cand AS (
        SELECT a.p_name AS name_a, b.p_name AS name_b
        FROM names a JOIN names b
          ON a.tok1 = b.tok1 AND a.p_name < b.p_name
        UNION
        SELECT a.p_name, b.p_name
        FROM names a JOIN names b
          ON a.tok2 = b.tok2 AND a.p_name < b.p_name
    ), scored AS (
        SELECT c.name_a, c.name_b,
               CAST(levenshtein(c.name_a, c.name_b) AS BIGINT) AS lev,
               na.rep_key AS key_a, nb.rep_key AS key_b,
               na.n_rows AS rows_a, nb.n_rows AS rows_b
        FROM cand c
        JOIN names na ON c.name_a = na.p_name
        JOIN names nb ON c.name_b = nb.p_name
    )
    SELECT name_a, name_b, lev, key_a, key_b, rows_a, rows_b
    FROM scored WHERE lev <= {FUZZY_MAX_LEV}
    """,
)
def join_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching with MULTI-PASS BLOCKING — the
    record-linkage core: candidate name pairs come from two cheap
    equality blocks (shared FIRST token and shared LAST token —
    element_at(-1), so the two passes key on opposite ends of the
    name and a typo in either end still blocks via the other), the
    union is deduplicated, and only candidates pay the levenshtein
    edit-distance score; pairs within distance 4 survive.
    (join_fuzzy_blocked is the single-pass sibling on raw supplier
    rows; this key adds the two ingredients production linkage
    needs: matching on the COLLAPSED name domain and unioned
    blocking passes so a typo in either token still blocks.)

    The scale design is the whole point: matching runs on the
    DISTINCT NAME DOMAIN (one hash aggregate collapses the rows —
    row counts ride along as evidence), so the quadratic stage is
    bounded by |name domain|²/|blocks|, not the table size; an
    all-pairs levenshtein on raw rows would be O(N²) at 10⁹ rows.
    Each blocking pass is an equi-join (shuffle- or broadcast-
    planned by size); adding a third pass (e.g. soundex) is one more
    UNION branch — the standard multi-pass blocking recipe."""
    p = table(spark, sf_dir, "part")
    toks = F.split(F.col("p_name"), " ")
    names = p.groupBy("p_name").agg(
        F.min("p_partkey").cast("long").alias("rep_key"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    ).select(
        "p_name",
        "rep_key",
        "n_rows",
        toks.getItem(0).alias("tok1"),
        F.element_at(toks, -1).alias("tok2"),
    ).localCheckpoint(eager=False)
    a = names.select(
        F.col("p_name").alias("name_a"), F.col("tok1").alias("t1a"),
        F.col("tok2").alias("t2a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"), F.col("tok1").alias("t1b"),
        F.col("tok2").alias("t2b"),
    )
    pass1 = a.join(
        b, (F.col("t1a") == F.col("t1b")) & (F.col("name_a") < F.col("name_b"))
    ).select("name_a", "name_b")
    pass2 = a.join(
        b, (F.col("t2a") == F.col("t2b")) & (F.col("name_a") < F.col("name_b"))
    ).select("name_a", "name_b")
    cand = pass1.union(pass2).distinct()
    na = names.select(
        F.col("p_name").alias("name_a"),
        F.col("rep_key").alias("key_a"),
        F.col("n_rows").alias("rows_a"),
    )
    nb = names.select(
        F.col("p_name").alias("name_b"),
        F.col("rep_key").alias("key_b"),
        F.col("n_rows").alias("rows_b"),
    )
    scored = (
        cand.join(na, "name_a")
        .join(nb, "name_b")
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("lev"),
            "key_a",
            "key_b",
            "rows_a",
            "rows_b",
        )
    )
    return scored.where(F.col("lev") <= FUZZY_MAX_LEV)


# -------------------------------------- sampled cardinality estimate

CARD_SAMPLE_HEX = "0"  # keep rows whose md5 first hex digit matches (1/16)


@register(
    "join_cardinality_estimate",
    oracle=f"""
    WITH sampled AS (
        SELECT l_orderkey FROM lineitem
        WHERE substr(md5(CAST(l_orderkey AS VARCHAR) || '-'
                         || CAST(l_linenumber AS VARCHAR)), 1, 1)
              = '{CARD_SAMPLE_HEX}'
    ), est AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sample_join
        FROM sampled s JOIN orders o ON s.l_orderkey = o.o_orderkey
    ), exact AS (
        SELECT CAST(count(*) AS BIGINT) AS n_exact
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT n_sample_join, n_sample_join * 16 AS n_estimated, n_exact,
           {sql_q4("abs(CAST(n_sample_join * 16 - n_exact AS DOUBLE))"
                   " / n_exact")} AS rel_error
    FROM est CROSS JOIN exact
    """,
)
def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation by FK-side sampling — the
    optimizer/capacity-planning probe run BEFORE committing to an
    expensive join strategy: deterministically sample 1/16 of the
    fact side (md5 row-hash, the sample_deterministic predicate —
    pushes to the scan), join the sample against the full dimension
    side, scale by the inverse sampling rate. Sampling the FK side
    only keeps the estimator unbiased for key joins (every sampled
    row finds the same matches it would in the full join); the exact
    join rides along here so the relative error is itself data.

    At 100 TB this is the difference between a 1/16-cost dry run and
    a blind shuffle; the same pattern with both sides sampled (and
    1/p² scaling) covers many-many joins at higher variance."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    key = F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    sampled = li.where(
        F.substring(F.md5(key), 1, 1) == CARD_SAMPLE_HEX
    ).select("l_orderkey")
    est = sampled.join(o, sampled["l_orderkey"] == o["o_orderkey"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_sample_join")
    )
    exact = li.join(o, li["l_orderkey"] == o["o_orderkey"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "n_sample_join",
        (F.col("n_sample_join") * 16).alias("n_estimated"),
        "n_exact",
        q4(
            F.abs((F.col("n_sample_join") * 16 - F.col("n_exact")).cast("double"))
            / F.col("n_exact")
        ).alias("rel_error"),
    )


# ------------------------------------------------ nearest as-of join

@register(
    "join_asof_nearest",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id, epoch_us(ts) AS t FROM events
    ), o AS (
        SELECT o_custkey, epoch_us(o_orderdate) AS ot FROM orders
    ), bwd AS (
        SELECT e.event_id, max(o.ot) AS bt
        FROM e JOIN o ON o.o_custkey = e.user_id AND o.ot <= e.t
        GROUP BY e.event_id
    ), fwd AS (
        SELECT e.event_id, min(o.ot) AS ft
        FROM e JOIN o ON o.o_custkey = e.user_id AND o.ot > e.t
        GROUP BY e.event_id
    )
    SELECT e.event_id, e.user_id, e.t AS ts_us,
           CASE WHEN bt IS NULL THEN ft
                WHEN ft IS NULL THEN bt
                WHEN e.t - bt <= ft - e.t THEN bt ELSE ft END
             AS nearest_order_us,
           CASE WHEN bt IS NULL THEN ft - e.t
                WHEN ft IS NULL THEN e.t - bt
                WHEN e.t - bt <= ft - e.t THEN e.t - bt
                ELSE ft - e.t END AS delta_us,
           CASE WHEN bt IS NOT NULL
                     AND (ft IS NULL OR e.t - bt <= ft - e.t)
                THEN 'backward' ELSE 'forward' END AS direction
    FROM e LEFT JOIN bwd ON bwd.event_id = e.event_id
           LEFT JOIN fwd ON fwd.event_id = e.event_id
    WHERE bt IS NOT NULL OR ft IS NOT NULL
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join: each event matches the closest
    order time in EITHER direction (ties to backward) — the sensor-
    alignment variant (pandas merge_asof direction='nearest') that
    the plain backward as-of (join_asof) can't express. Same
    scalable union+window formulation as join_asof, just both
    directions at once: tag order times into the event stream, sort
    once per user on (t, tag) — tag orders BEFORE events at equal t
    so 'order_time <= event_time' lands in the backward window — and
    read the running max over preceding rows (backward candidate)
    and running min over following rows (forward candidate). One
    shuffle on user_id, one sort, zero inequality joins — the
    oracle's quadratic per-user candidate join is exactly what this
    formulation avoids at scale."""
    e = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
        F.lit(1).alias("tag"),
    )
    o = table(spark, sf_dir, "orders").select(
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_custkey").alias("user_id"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("t"),
        F.lit(0).alias("tag"),
    )
    u = e.unionByName(o)
    ot = F.when(F.col("tag") == 0, F.col("t"))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("t", "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("t", "tag")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    cand = u.select(
        "event_id",
        "user_id",
        "t",
        "tag",
        F.max(ot).over(wb).alias("bt"),
        F.min(ot).over(wf).alias("ft"),
    ).where(F.col("tag") == 1)
    use_bwd = F.col("bt").isNotNull() & (
        F.col("ft").isNull()
        | (F.col("t") - F.col("bt") <= F.col("ft") - F.col("t"))
    )
    return cand.where(F.col("bt").isNotNull() | F.col("ft").isNotNull()).select(
        "event_id",
        "user_id",
        F.col("t").alias("ts_us"),
        F.when(use_bwd, F.col("bt")).otherwise(F.col("ft")).alias(
            "nearest_order_us"
        ),
        F.when(use_bwd, F.col("t") - F.col("bt"))
        .otherwise(F.col("ft") - F.col("t"))
        .alias("delta_us"),
        F.when(use_bwd, F.lit("backward"))
        .otherwise(F.lit("forward"))
        .alias("direction"),
    )


@register(
    "join_hint_shuffle_hash",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1
    """,
)
def join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy HINT control — the per-query override a 100 TB
    tuner reaches for when the optimizer's default is wrong for a
    known workload: `/*+ SHUFFLE_HASH(orders) */` forces a
    shuffled-hash join (build a hash map per partition — beats
    sort-merge when the build side's partitions fit in memory and
    the sort would dominate) instead of broadcast/SMJ. Content is
    strategy-invariant, which the oracle verifies;
    tests/test_plans.py asserts the hint is actually HONORED
    (ShuffledHashJoin in the plan) — a hint that silently degrades
    to default is a tuning trap."""
    li = table(spark, sf_dir, "lineitem").alias("li")
    o = table(spark, sf_dir, "orders").hint("shuffle_hash").alias("o")
    return (
        li.join(o, F.col("li.l_orderkey") == F.col("o.o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        )
    )
