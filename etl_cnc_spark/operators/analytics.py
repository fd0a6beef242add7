"""Event-analytics operators: funnel and cohort retention — the
standard product-analytics queries over the ``events`` stream table
(batch mode; the same event-time logic streams via §2.9 machinery).

Both are pure relational compositions (min-aggregates + joins /
window truncation), one shuffle per aggregation level, so they run
unchanged at 100 TB: the per-user intermediate tables are |users|
rows, far smaller than the event log, and every join key is the
user id (AQE-skew-safe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import register, reuse
from ..utils import (
    cents,
    pairwise_set_overlap,
    q4,
    sql_pairwise_set_overlap,
    sql_q4,
    ts_us,
)
from .prefix import calendar_rank, global_ordered, sql_ntile_from_rank


@register(
    "events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t_buy
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT v.user_id,
           epoch_us(v.t_view) AS view_us,
           epoch_us(c.t_click) AS click_us,
           epoch_us(p.t_buy) AS buy_us,
           1 + (CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END)
             + (CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END) AS steps
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase: first view, first click
    strictly after it, first purchase strictly after that, per user;
    ``steps`` counts completed stages. Three min-aggregates over the
    event log + two user-key joins — no window over raw events, so
    state is |users|, not |events|."""
    e = table(spark, sf_dir, "events")
    v = reuse(
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = reuse(
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    out = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return out.select(
        "user_id",
        F.unix_micros(F.col("t_view").cast("timestamp")).alias("view_us"),
        F.unix_micros(F.col("t_click").cast("timestamp")).alias("click_us"),
        F.unix_micros(F.col("t_buy").cast("timestamp")).alias("buy_us"),
        (
            F.lit(1)
            + F.when(F.col("t_click").isNull(), 0).otherwise(1)
            + F.when(F.col("t_buy").isNull(), 0).otherwise(1)
        ).alias("steps"),
    )


@register(
    "events_retention",
    oracle="""
    WITH firstw AS (
        SELECT user_id, min(date_trunc('week', ts)) AS w0
        FROM events GROUP BY user_id
    )
    SELECT CAST(datediff('week', f.w0, date_trunc('week', e.ts)) AS BIGINT) AS week_n,
           count(DISTINCT e.user_id) AS active_users
    FROM events e JOIN firstw f ON e.user_id = f.user_id
    GROUP BY week_n
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users active N weeks after their first-seen
    week. The cohort table is |users| rows and joins back on user_id;
    week arithmetic stays on week-truncated timestamps, so the week
    delta is an exact integer on both engines."""
    e = table(spark, sf_dir, "events")
    firstw = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("w0")
    )
    wk = F.date_trunc("week", F.col("ts"))
    return (
        e.join(firstw, "user_id")
        .select(
            (F.datediff(wk, F.col("w0")) / 7).cast("long").alias("week_n"), "user_id"
        )
        .groupBy("week_n")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@register(
    "events_anomaly",
    oracle=f"""
    WITH c AS (
        SELECT event_id, event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        FROM events
    ), stats AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(cents) AS DOUBLE) AS s1,
               CAST(sum(cents*cents) AS DOUBLE) AS s2
        FROM c GROUP BY event_type
    ), scored AS (
        SELECT c.event_id, c.event_type,
               (c.cents - s.s1/s.n)
                 / sqrt((s.s2 - (s.s1*s.s1)/s.n)/(s.n - 1)) AS z
        FROM c JOIN stats s ON c.event_type = s.event_type
    )
    SELECT event_id, event_type, {sql_q4("z")} AS z
    FROM scored WHERE abs(z) > 2
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type (|z| > 2).

    Mean/variance come from EXACT integer-cent sums (count, Σc, Σc²),
    then one shared double formula on both engines — so the partial-
    aggregation order on a 1000-executor cluster cannot move a value
    across the threshold (the flaw in naive avg/stddev anomaly
    detectors). Stats table is |event_types| rows → broadcast join
    back onto the stream."""
    from ..utils import q4

    e = table(spark, sf_dir, "events")
    c = e.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    stats = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("cents").cast("double").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).cast("double").alias("s2"),
    )
    j = c.join(F.broadcast(stats), "event_type")
    z = (F.col("cents") - F.col("s1") / F.col("n")) / F.sqrt(
        (F.col("s2") - (F.col("s1") * F.col("s1")) / F.col("n")) / (F.col("n") - 1)
    )
    return (
        j.select("event_id", "event_type", z.alias("z"))
        .where(F.abs(F.col("z")) > 2)
        .select("event_id", "event_type", q4(F.col("z")).alias("z"))
    )


@register(
    "events_markov",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    )
    SELECT prev, event_type AS next, count(*) AS n
    FROM seq WHERE prev IS NOT NULL
    GROUP BY prev, next
    """,
)
def events_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (first-order Markov counts): per-user
    lag over the event sequence, then one |types|²-group aggregate.
    One window shuffle on user_id, one tiny aggregate shuffle — the
    behavioral-model-building block at any scale."""
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev", F.lag("event_type").over(w))
    return (
        seq.where(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("next"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "agg_rollup_cascade",
    oracle="""
    SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS day_start_us,
           event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def agg_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style cascaded rollup (continuous-aggregate
    hierarchy): raw events → hourly rollup → daily rollup computed
    FROM the hourly one, never re-reading raw data — the TimescaleDB
    / materialized-rollup pattern that makes multi-resolution
    dashboards O(|rollup|) instead of O(|raw|).

    Correctness hinges on mergeability (counts and integer-cent sums
    re-aggregate losslessly); the oracle computes the DAILY result
    directly from raw events, so the hash proves cascade ==
    recompute. At 100 TB each tier shrinks by the bucket ratio
    (24× here), and the hourly tier would be a persisted table the
    daily query reuses."""
    e = table(spark, sf_dir, "events")
    hourly = (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
    )
    daily = (
        hourly.groupBy(
            F.date_trunc("day", "hour_start").alias("day_start"), "event_type"
        )
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("value_cents").cast("long").alias("value_cents"),
        )
    )
    return daily.select(
        F.unix_micros(F.col("day_start").cast("timestamp"))
        .alias("day_start_us"),
        "event_type",
        "n",
        "value_cents",
    )


# Per-user history cap (VERDICT r14 item 4): bounds the collected
# state to 4096 one-char events (~4 KB per aggregation buffer), so
# the census classifies the collect as cap-bounded instead of a
# documented trade.  Truncation semantics — the FIRST 4096 events by
# (ts, event_id) — are mirrored exactly in the oracle, so hash parity
# holds even at scales where the cap binds (fixture max is 99
# events/user at sf0.1, so fixture results are unchanged).
_SEQ_MAX_EVENTS = 4096


@register(
    "events_sequence_match",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id,
               CASE event_type WHEN 'view' THEN 'v'
                    WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
                    WHEN 'signup' THEN 's' ELSE 'e' END AS ch,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), seq AS (
        SELECT user_id, string_agg(ch, '' ORDER BY rn) AS s
        FROM ranked WHERE rn <= {_SEQ_MAX_EVENTS} GROUP BY user_id
    )
    SELECT user_id, CAST(length(s) AS BIGINT) AS n_events,
           regexp_matches(s, 'v.*c.*p') AS funnel_vcp,
           regexp_matches(s, 's.*p') AS signup_to_purchase,
           CAST(length(s) - length(replace(s, 'e', '')) AS BIGINT)
               AS n_errors
    FROM seq
    """,
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event histories (the
    ClickHouse sequenceMatch / windowFunnel family): each user's
    time-ordered event types compress to a one-char-per-event string,
    and funnels become regexes — 'v.*c.*p' is view→click→purchase in
    order. A user-partitioned row_number caps each history at
    _SEQ_MAX_EVENTS BEFORE the collect (first events by (ts,
    event_id)), so the aggregation buffer is bounded by the constant —
    never data-scaled — and the groupBy reuses the window's hash
    partitioning on user_id (one shuffle total). sort_array over the
    (rn, char) structs keeps the order deterministic; pattern checks
    are per-row regex — trivially parallel however many users.

    At 100 TB a pathological user's history truncates to the cap
    identically on both engines; for full-history semantics over
    unbounded histories the same shape runs windowed (sessionized
    sequences)."""
    e = table(spark, sf_dir, "events")
    ch = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        e.select("user_id", "ts", "event_id", ch.alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _SEQ_MAX_EVENTS)
    )
    seq = (
        capped.select(
            "user_id",
            F.struct(F.col("rn").alias("rn"), F.col("c").alias("c")).alias(
                "ev"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list("ev")), lambda x: x["c"]
                ),
            ).alias("s")
        )
    )
    return seq.select(
        "user_id",
        F.length("s").cast("long").alias("n_events"),
        F.col("s").rlike("v.*c.*p").alias("funnel_vcp"),
        F.col("s").rlike("s.*p").alias("signup_to_purchase"),
        (
            F.length("s") - F.length(F.regexp_replace("s", "e", ""))
        ).cast("long").alias("n_errors"),
    )


@register(
    "events_concurrency",
    oracle="""
    WITH bounds AS (
        SELECT ts AS t, 1 AS delta, event_id FROM events
        UNION ALL
        SELECT ts + INTERVAL 30 MINUTE, -1, event_id FROM events
    ), running AS (
        SELECT t, delta, event_id,
               CAST(SUM(delta) OVER (ORDER BY t, delta, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS concurrent
        FROM bounds
    )
    SELECT epoch_us(t) AS t_us, delta, event_id, concurrent
    FROM running WHERE event_id % 50 = 0
    """,
)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-concurrency (occupancy) counting: each event holds a
    30-minute presence window; +1/-1 boundary deltas sorted by time
    and run-summed give the number of simultaneously-active sessions
    at every boundary — the classic max-concurrent-users /
    room-occupancy sweep-line, as one union + one running sum.

    The running sum is computed with ``global_ordered`` — time-range
    partitioning + per-partition prefix sums + a broadcast offset
    merge — so the sweep runs in parallel over every time bucket; no
    single-partition global window anywhere.  Ties break by
    (delta, event_id) so ends sort before starts at equal instants
    deterministically."""
    e = table(spark, sf_dir, "events")
    bounds = e.select(
        F.col("ts").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionAll(
        e.select(
            (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
        )
    )
    running = global_ordered(
        bounds,
        [F.col("t"), F.col("delta"), F.col("event_id")],
        bucket_key=F.unix_micros(F.col("t").cast("timestamp")),
        sums={"delta": "concurrent"},
        rank_col=None,
    )
    return running.where(F.col("event_id") % 50 == 0).select(
        F.unix_micros(F.col("t").cast("timestamp")).alias("t_us"),
        "delta",
        "event_id",
        "concurrent",
    )


_ETYPES = ("view", "click", "purchase", "signup", "error")


def _entropy_sql() -> str:
    # fixed association order: (((t1 + t2) + t3) + t4) + t5 — each
    # term computed from conditional-aggregate counts, never SUM over
    # rows (row-order-dependent float addition would break the hash)
    terms = [
        f"(CASE WHEN n_{t} = 0 THEN 0.0 ELSE "
        f"-(CAST(n_{t} AS DOUBLE)/n_all)"
        f" * ln(CAST(n_{t} AS DOUBLE)/n_all) END)"
        for t in _ETYPES
    ]
    expr = terms[0]
    for t in terms[1:]:
        expr = f"({expr} + {t})"
    return expr


@register(
    "events_entropy",
    oracle=f"""
    WITH cnt AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_all,
               {', '.join(
                   f"CAST(count_if(event_type = '{t}') AS BIGINT) AS n_{t}"
                   for t in _ETYPES)}
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_all,
           {sql_q4(_entropy_sql())} AS entropy
    FROM cnt
    """,
)
def events_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution — the
    information-theoretic diversity feature data-curation pipelines
    use to flag bots (near-zero entropy: one repeated action) and
    noise (max entropy: uniform random). One conditional aggregate
    per type in a single groupBy pass; the entropy formula then runs
    over the COUNTS in one expression with a fixed association
    order, so no row-order float summation can perturb the hash."""
    e = table(spark, sf_dir, "events")
    cnt = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_all"),
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{t}")
            for t in _ETYPES
        ],
    )
    expr = None
    for t in _ETYPES:
        p = F.col(f"n_{t}").cast("double") / F.col("n_all")
        term = F.when(F.col(f"n_{t}") == 0, 0.0).otherwise(-p * F.log(p))
        expr = term if expr is None else expr + term
    return cnt.select("user_id", "n_all", q4(expr).alias("entropy"))


@register(
    "events_pareto",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), ranked AS (
        SELECT user_id, cents,
               CAST(row_number() OVER (ORDER BY cents DESC, user_id)
                    AS BIGINT) AS rk,
               CAST(SUM(cents) OVER (ORDER BY cents DESC, user_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS running_cents,
               CAST(SUM(cents) OVER () AS BIGINT) AS total_cents
        FROM per_user
    )
    SELECT user_id, cents, rk, running_cents
    FROM ranked
    WHERE running_cents - cents < CAST(0.8 * total_cents AS BIGINT) + 1
    """,
)
def events_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis: the smallest prefix of top-revenue
    users covering 80% of purchase value — rank by contribution,
    running integer-cent sum, cut where the PRIOR prefix already
    reached the threshold (so the emitted set is exactly the minimal
    cover). All-integer running sums make the cutoff exact at any
    partitioning. Rank + running sum come from ``global_ordered``
    (range-partitioned prefix sums over the |users| rollup, never a
    single-partition window), and the grand total is a broadcast
    single-row aggregate — every stage parallel at 100 TB."""
    e = table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    per_user = e.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    total = per_user.agg(
        F.sum("cents").cast("long").alias("total_cents")
    )
    ranked = global_ordered(
        per_user,
        [F.col("cents").desc(), F.col("user_id")],
        bucket_key="cents",
        bucket_desc=True,
        sums={"cents": "running_cents"},
    ).crossJoin(F.broadcast(total))
    return ranked.where(
        F.col("running_cents") - F.col("cents")
        < (0.8 * F.col("total_cents")).cast("long") + 1
    ).select("user_id", "cents", "rk", "running_cents")


@register(
    "events_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(date_diff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) AS BIGINT) AS d
        FROM events
    ), grp AS (
        SELECT user_id, d,
               d - CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY d)
                        AS BIGINT) AS island
        FROM days
    ), streaks AS (
        SELECT user_id, island, CAST(count(*) AS BIGINT) AS len
        FROM grp GROUP BY user_id, island
    )
    SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def events_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    canonical gaps-and-islands: distinct active days, then
    (day − dense_rank(day)) is constant exactly within a
    consecutive run, so islands fall out of one window + one
    groupBy. Day numbers are integers, so every step is exact.
    The window partitions by user (no global order), making this
    embarrassingly parallel across the user dimension at any
    scale."""
    e = table(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("long")
        .alias("d"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        (F.col("d") - F.dense_rank().over(w).cast("long")).alias("island"),
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


@register(
    "orders_market_basket",
    oracle=f"""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS baskets FROM ob),
    brand_n AS (
        SELECT brand, CAST(count(*) AS BIGINT) AS cnt FROM ob GROUP BY brand
    ), pairs AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b,
               CAST(count(*) AS BIGINT) AS co
        FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
        GROUP BY a.brand, b.brand
    )
    SELECT p.brand_a, p.brand_b, p.co,
           {sql_q4("CAST(p.co AS DOUBLE) * n.baskets"
                   " / (CAST(x.cnt AS DOUBLE) * y.cnt)")} AS lift
    FROM pairs p
    JOIN brand_n x ON x.brand = p.brand_a
    JOIN brand_n y ON y.brand = p.brand_b
    CROSS JOIN n
    WHERE p.co >= 20
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity (association-rule mining core): brand
    pairs co-occurring in the same order, with lift =
    P(a,b)/(P(a)·P(b)). The a<b ordered self-join of the DISTINCT
    (basket, item) table is the scale-critical move — pair fan-out is
    per-basket C(k,2) on deduped items, not raw line items; the
    min-support filter (co ≥ 20) is pushed to the pair aggregate, the
    same pruning Apriori's first pass performs. Lift's float division
    mirrors the oracle's association order exactly."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    # the deduped (basket, brand) table feeds FOUR consumers (basket
    # count, brand marginals, both self-join sides) — DATA-SCALED,
    # persist() per the SCALE.md r13 rule (5 lineitem + 5 part scans
    # before r13)
    ob = reuse(
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    n = ob.select(F.countDistinct("ok").alias("baskets"))
    brand_n = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = ob.alias("a"), ob.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.ok") == F.col("b.ok"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .where(F.col("co") >= 20)
    )
    x = brand_n.select(
        F.col("brand").alias("brand_a"), F.col("cnt").alias("cnt_a")
    )
    y = brand_n.select(
        F.col("brand").alias("brand_b"), F.col("cnt").alias("cnt_b")
    )
    return (
        pairs.join(F.broadcast(x), "brand_a")
        .join(F.broadcast(y), "brand_b")
        .crossJoin(F.broadcast(n))
        .select(
            "brand_a",
            "brand_b",
            "co",
            q4(
                F.col("co").cast("double")
                * F.col("baskets")
                / (F.col("cnt_a").cast("double") * F.col("cnt_b"))
            ).alias("lift"),
        )
    )


@register(
    "events_rfm",
    bench=True,  # the distributed-global-rank representative: a
    # 22.8s-class regression here was invisible to the old bench set
    oracle="""
    WITH mx AS (SELECT max(ts) AS now FROM events),
    base AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(max(ts) AS DATE),
                    CAST((SELECT now FROM mx) AS DATE)) AS BIGINT)
                   AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS monetary_cents
        FROM events GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary_cents,
           CAST(100 * ntile(5) OVER (ORDER BY recency_days, user_id)
              + 10 * ntile(5) OVER (ORDER BY frequency DESC, user_id)
              + ntile(5) OVER (ORDER BY monetary_cents DESC, user_id)
              AS BIGINT) AS rfm_code
    FROM base
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary) — the
    classic customer-value scoring: per-user recency in days from
    the corpus high-water mark, activity count, integer-cent
    purchase value, each quintiled (user_id tiebreak for
    determinism) and packed into a 3-digit segment code. One
    aggregate pass; then the three metrics are MELTED into one
    (user, metric, sort_value) frame and ranked with a SINGLE
    ``global_ordered`` pass over a composite bucket key (metric ×
    per-metric-normalized value) — one prefix-rank machine over 3N
    rows instead of three over N, which cuts the stage count ~3×
    (small-input latency is stage-bound). Per-metric rank falls out
    arithmetically (global rank − metric_index·N, each metric
    contributing exactly N rows), then exact ntile(5) buckets from
    (rank, n); the oracle keeps its ntile(5) formulation and the
    hashes agree bit-for-bit.

    FULLY LAZY (SCALE.md rule 1): the per-metric (lo, hi) ranges and
    the user count feed the plan as a broadcast 1-row stats frame —
    no job runs at build time, so explain/audit callers pay nothing.
    (Earlier rounds collected the stats eagerly and inlined literals;
    the r6 bench showed the broadcast-stats barrier costs ~0.3-0.5 s
    at sf0.1 — an extra stage wave AQE does not fold.  Round 7 claws
    most of it back structurally instead of reverting the laziness:
    the prefix machine's min/max pass is skipped via static ``_ck``
    bounds, and the final rollup join is eliminated by reconstructing
    the three metrics from the melted ``_v`` inside the pivot.)"""
    e = table(spark, sf_dir, "events")
    # Per-user rollup keeps the LAST-ACTIVITY DAY (days since epoch)
    # instead of pre-computing recency: recency ordering is exactly
    # last_day DESCENDING (same date ⇔ same recency, so oracle ties
    # break identically), and recency_days itself falls out later as
    # now_day − last_day with now_day = max(last_day) riding the
    # stats broadcast.  This removes the separate global-max-ts job —
    # the old plan scanned events TWICE (once for the max, once for
    # the rollup) and paid an extra broadcast wave for it.
    # r16: the aggregate expressions are SQL strings (one JVM parse
    # each instead of ~10 py4j Column calls each), and last_day folds
    # INTO the aggregate (unix_date of the max is the max of the
    # unix_dates — monotone), dropping the post-agg projection: one
    # fewer DataFrame op, and every op here re-analyzes the lineage.
    base = e.groupBy("user_id").agg(
        F.expr(
            "CAST(unix_date(CAST(max(ts) AS DATE)) AS BIGINT) AS last_day"
        ),
        F.expr("count(1) AS frequency"),
        F.expr(
            "CAST(sum(CASE WHEN event_type = 'purchase'"
            " THEN CAST(floor(value * 100 + 0.5D) AS BIGINT)"
            " ELSE 0 END) AS BIGINT) AS monetary_cents"
        ),
    )
    # The per-user rollup feeds two consumers (the melted rank frame
    # and the stats row), and both read all three metrics, so both
    # plan the same rollup exchange and AQE runs it once: the events
    # scan + aggregate runs ONCE without a cache (a cached rollup would
    # stop that reuse and cost jobs of its own).
    # Bounded metadata as a broadcast 1-row frame (2 scalars + 3
    # per-metric (lo, hi) ranges — metadata, never data): joins into
    # the plan lazily instead of a driver-side .first() at build.
    stats = base.agg(
        F.expr("CAST(count(1) AS BIGINT) AS _n"),
        F.expr("CAST(max(last_day) AS BIGINT) AS _now_day"),
        F.expr("min(-last_day) AS _lo0"),
        F.expr("max(-last_day) AS _hi0"),
        F.expr("min(-frequency) AS _lo1"),
        F.expr("max(-frequency) AS _hi1"),
        F.expr("min(-monetary_cents) AS _lo2"),
        F.expr("max(-monetary_cents) AS _hi2"),
    )
    # Melt: metric 0 = recency asc (≡ last_day desc), 1 = frequency
    # desc, 2 = monetary desc — descending metrics negate their
    # value, so every metric sorts (value asc, user_id asc) and ties
    # break identically to the oracle's per-metric ntile ORDER BY.
    # r15: ONE explode of a 3-struct array instead of a 3-way union
    # of per-metric selects — the union read the cached rollup three
    # times and EMBEDDED its lineage three times, tripling the
    # analyzer/optimizer work (the profile showed a ~1.6 s zero-stage
    # planning gap at sf0.1); the generator melts in one pass over
    # one cache read with an identical (user_id, _m, _v) output.
    # (r16: inline(...) emits (_m, _v) as top-level columns in the
    # same single Generate, dropping the struct-unpack projection and
    # building the whole melt from one JVM-parsed string.)
    melted = base.selectExpr(
        "user_id",
        "inline(array(struct(0 AS _m, -last_day AS _v),"
        " struct(1 AS _m, -frequency AS _v),"
        " struct(2 AS _m, -monetary_cents AS _v)))",
    )
    # Composite ordered bucket key: metric index in the high bits, the
    # value normalized to a common [0, 2^20) grid in the low bits (per-
    # metric span differs by orders of magnitude — raw values would
    # collapse each metric into one bucket). Monotone along the
    # (metric, value) sort by construction; DIV (never multiply) so a
    # cents-scale span cannot overflow the composite.
    grid = 1 << 20
    # r16: _lo/_hi inline into the one _ck expression (a single
    # JVM-parsed string; the old shape paid two withColumns — two
    # more full-lineage analyses — plus ~25 py4j Column calls).
    # CASE duplication is plan-text only: identical integer math.
    _lo = (
        "CAST(CASE WHEN _m = 0 THEN _lo0 WHEN _m = 1 THEN _lo1"
        " ELSE _lo2 END AS BIGINT)"
    )
    _hi = (
        "CAST(CASE WHEN _m = 0 THEN _hi0 WHEN _m = 1 THEN _hi1"
        " ELSE _hi2 END AS BIGINT)"
    )
    keyed = melted.crossJoin(F.broadcast(stats)).selectExpr(
        "user_id",
        "_m",
        "_v",
        "_n",
        "_now_day",
        f"CAST(_m AS BIGINT) * {grid}"
        f" + (_v - {_lo}) DIV (({_hi} - {_lo} + {grid}) DIV {grid}) AS _ck",
    )
    # _ck is bounded by construction: metric index ∈ {0,1,2} in the
    # high bits, normalized value ∈ [0, grid) in the low bits — so the
    # key spans [0, 3·grid).  Passing static bounds lets the prefix
    # machine skip its global min/max pass + broadcast (one fewer
    # stage wave; small-input latency is stage-bound).  `keyed` is not
    # cached: no global_ordered input is (the rule in prefix.py).
    ranked = global_ordered(
        keyed,
        [F.col("_ck"), F.col("_v"), F.col("user_id")],
        bucket_key="_ck",
        rank_col="_grk",
        bounds=(0, 3 * grid - 1),
    )
    # Global rank → per-metric rank: metrics are sorted by _m first
    # and each contributes exactly n rows, so metric m's ranks occupy
    # (m·n, (m+1)·n]; pivot back to one row per user. _n rides along
    # (constant per row) so no second stats join is needed, and the
    # melted _v values carry all three metrics (recency, -frequency,
    # -monetary), so the pivot reconstructs them directly — no join
    # back to the rollup, one fewer shuffle.
    piv = ranked.groupBy("user_id").agg(
        F.expr("max(CASE WHEN _m = 0 THEN _grk END) AS _rk_r"),
        F.expr("max(CASE WHEN _m = 1 THEN _grk - _n END) AS _rk_f"),
        F.expr("max(CASE WHEN _m = 2 THEN _grk - 2 * _n END) AS _rk_m"),
        F.expr("max(CASE WHEN _m = 0 THEN _now_day + _v END) AS _recency"),
        F.expr("max(CASE WHEN _m = 1 THEN -_v END) AS _frequency"),
        F.expr("max(CASE WHEN _m = 2 THEN -_v END) AS _monetary"),
        F.expr("max(_n) AS _n"),
    )
    return piv.selectExpr(
        "user_id",
        "CAST(_recency AS BIGINT) AS recency_days",
        "CAST(_frequency AS BIGINT) AS frequency",
        "CAST(_monetary AS BIGINT) AS monetary_cents",
        "CAST(100 * " + sql_ntile_from_rank("_rk_r", "_n", 5)
        + " + 10 * " + sql_ntile_from_rank("_rk_f", "_n", 5)
        + " + " + sql_ntile_from_rank("_rk_m", "_n", 5)
        + " AS BIGINT) AS rfm_code",
    )


@register(
    "events_forecast_baseline",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), dow AS (
        SELECT dayofweek(d) AS dw, event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(SUM(n) AS BIGINT) AS total
        FROM daily GROUP BY 1, 2
    )
    SELECT CAST(dw AS BIGINT) AS dow, event_type, n_days, total,
           {sql_q4("CAST(total AS DOUBLE) / n_days")} AS forecast
    FROM dow
    """,
)
def events_forecast_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecasting baseline: expected event volume per
    (day-of-week, type) = mean of observed daily counts for that
    weekday — the baseline every real forecast must beat, and the
    capacity-planning number ops teams actually use. Two integer
    rollups (daily, then weekday) with one final division; the
    second tier re-aggregates the first (mergeable counts), same
    cascade shape as agg_rollup_cascade. DuckDB's dayofweek is
    0=Sunday; Spark's dayofweek is 1=Sunday — aligned by
    (dayofweek - 1)."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    dow = daily.groupBy(
        (F.dayofweek("d") - 1).cast("long").alias("dow"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n").cast("long").alias("total"),
    )
    return dow.select(
        "dow",
        "event_type",
        "n_days",
        "total",
        q4(F.col("total").cast("double") / F.col("n_days")).alias("forecast"),
    )


@register(
    "events_ab_test",
    oracle=f"""
    WITH assign AS (
        SELECT user_id, user_id % 2 AS grp,
               CAST(count(*) AS BIGINT) AS trials,
               CAST(count_if(event_type = 'purchase') AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ), cohort AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS users,
               CAST(SUM(trials) AS BIGINT) AS trials,
               CAST(SUM(conv) AS BIGINT) AS conv
        FROM assign GROUP BY grp
    ), wide AS (
        SELECT
            (SELECT trials FROM cohort WHERE grp = 0) AS n_a,
            (SELECT conv FROM cohort WHERE grp = 0) AS c_a,
            (SELECT trials FROM cohort WHERE grp = 1) AS n_b,
            (SELECT conv FROM cohort WHERE grp = 1) AS c_b
    )
    SELECT n_a, c_a, n_b, c_b,
           {sql_q4("CAST(c_a AS DOUBLE) / n_a * 10000")} AS rate_a_bp,
           {sql_q4("CAST(c_b AS DOUBLE) / n_b * 10000")} AS rate_b_bp,
           {sql_q4("(CAST(c_b AS DOUBLE) / n_b - CAST(c_a AS DOUBLE) / n_a)"
                   " / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
                   " * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))"
                   " * (1.0 / n_a + 1.0 / n_b))")} AS z_score
    FROM wide
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the experimentation-platform readout:
    users split into cohorts (even/odd id stands in for the bucketing
    hash), per-cohort purchase conversion, pooled-variance z-score
    for the rate difference. Everything reduces to FOUR integers
    (trials and conversions per arm), so the sufficient statistics
    shuffle as two rows regardless of event volume, and the test
    statistic is one fixed-order double expression — the pattern for
    any metric that admits count-sufficient statistics."""
    e = table(spark, sf_dir, "events")
    cohort = (
        e.groupBy((F.col("user_id") % 2).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("trials"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("conv"),
        )
    )
    a = cohort.where(F.col("grp") == 0).select(
        F.col("trials").alias("n_a"), F.col("conv").alias("c_a")
    )
    b = cohort.where(F.col("grp") == 1).select(
        F.col("trials").alias("n_b"), F.col("conv").alias("c_b")
    )
    wide = a.crossJoin(b)
    ra = F.col("c_a").cast("double") / F.col("n_a")
    rb = F.col("c_b").cast("double") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (rb - ra) / F.sqrt(
        pooled * (1 - pooled) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        q4(ra * 10000).alias("rate_a_bp"),
        q4(rb * 10000).alias("rate_b_bp"),
        q4(z).alias("z_score"),
    )


@register(
    "events_survival",
    oracle=f"""
    WITH span AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(min(ts) AS DATE),
                              CAST(max(ts) AS DATE)) AS BIGINT) AS life_days
        FROM events GROUP BY user_id
    ), horizon(t) AS (
        SELECT unnest(range(0, 15))
    )
    SELECT CAST(h.t AS BIGINT) AS t_days,
           CAST(count_if(s.life_days >= h.t) AS BIGINT) AS surviving,
           CAST(count(*) AS BIGINT) AS cohort,
           {sql_q4("CAST(count_if(s.life_days >= h.t) AS DOUBLE)"
                   " / count(*)")} AS survival
    FROM horizon h CROSS JOIN span s
    GROUP BY h.t
    """,
)
def events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort survival curve S(t): fraction of users whose activity
    lifespan (first→last event) reaches t days, for t = 0..14 — the
    retention-decay readout behind every growth dashboard. The
    per-user lifespan table (|users| rows, one aggregate over raw
    events) cross-joins a 15-row horizon axis — the cross join is
    axis × rollup, never axis × events, so the quadratic term is
    15·|users|; counts are exact and only the final ratio is
    float."""
    e = table(spark, sf_dir, "events")
    span = e.groupBy("user_id").agg(
        F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
        .cast("long")
        .alias("life_days")
    )
    horizon = spark.range(0, 15).select(F.col("id").alias("t"))
    return (
        F.broadcast(horizon)
        .crossJoin(span)
        .groupBy(F.col("t").cast("long").alias("t_days"))
        .agg(
            F.sum(F.when(F.col("life_days") >= F.col("t"), 1).otherwise(0))
            .cast("long")
            .alias("surviving"),
            F.count(F.lit(1)).alias("cohort"),
        )
        .select(
            "t_days",
            "surviving",
            "cohort",
            q4(
                F.col("surviving").cast("double") / F.col("cohort")
            ).alias("survival"),
        )
    )


@register(
    "events_gini",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS cents
        FROM events GROUP BY user_id
    ), ranked AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, user_id)
                    AS BIGINT) AS rk
        FROM per_user
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS total,
               SUM(rk * cents) AS weighted
        FROM ranked
    )
    SELECT n, total,
           {sql_q4("(2.0 * CAST(weighted AS DOUBLE)"
                   " - (n + 1.0) * CAST(total AS DOUBLE))"
                   " / (CAST(n AS DOUBLE) * CAST(total AS DOUBLE))")}
               AS gini
    FROM s
    """,
)
def events_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user purchase value — the
    concentration metric behind 'whales vs long tail' revenue
    analysis (0 = uniform, →1 = one user is everything), via the
    rank formulation G = (2Σ(i·xᵢ) − (n+1)Σx)/(nΣx) over
    ascending-sorted integer cents: every sum is an exact integer
    (rk·cents fits comfortably in 64/128-bit), one double formula at
    the end. Ranks come from ``global_ordered`` (range-partitioned
    parallel prefix ranks over the |users| rollup — no
    single-partition window), same discipline as events_pareto."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + 0.5).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("cents")
    )
    ranked = global_ordered(
        per_user, [F.col("cents"), F.col("user_id")], bucket_key="cents"
    ).select("cents", "rk")
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("total"),
        F.sum(F.col("rk").cast("decimal(38,0)") * F.col("cents")).alias(
            "weighted"
        ),
    )
    gini = (
        2.0 * F.col("weighted").cast("double")
        - (F.col("n") + 1.0) * F.col("total").cast("double")
    ) / (F.col("n").cast("double") * F.col("total").cast("double"))
    return s.select("n", "total", q4(gini).alias("gini"))


CUSUM_K = 350  # slack (events/day); fixture averages ~330/day at sf0.01


@register(
    "events_cusum",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ), mx AS (SELECT max(d) AS last FROM daily),
    walk AS (
        WITH RECURSIVE r(d, s, peak) AS (
            SELECT CAST(0 AS BIGINT), greatest(CAST(0 AS BIGINT),
                   (SELECT n FROM daily WHERE d = 0) - {CUSUM_K}),
                   greatest(CAST(0 AS BIGINT),
                   (SELECT n FROM daily WHERE d = 0) - {CUSUM_K})
            UNION ALL
            SELECT r.d + 1,
                   greatest(CAST(0 AS BIGINT), r.s
                       + COALESCE((SELECT n FROM daily
                                   WHERE daily.d = r.d + 1), 0)
                       - {CUSUM_K}),
                   greatest(r.peak, greatest(CAST(0 AS BIGINT), r.s
                       + COALESCE((SELECT n FROM daily
                                   WHERE daily.d = r.d + 1), 0)
                       - {CUSUM_K}))
            FROM r WHERE r.d < (SELECT last FROM mx)
        )
        SELECT * FROM r
    )
    SELECT d AS day_idx, s AS cusum, peak AS peak_cusum FROM walk
    """,
)
def events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection over daily event volume: the classic
    one-sided cumulative-sum statistic s_t = max(0, s_{t-1} + x_t − k)
    with its running peak — an inherently SEQUENTIAL recurrence that
    windows cannot express. The distributed form: reduce raw events
    to the tiny daily series, assemble the dense series as a sorted
    array (map_from_entries fills gaps with 0), and run ONE
    `aggregate` fold with a struct accumulator — per-series state
    walks executor-side, no driver loop; thousands of independent
    series would fold in parallel, one per row. All-integer
    arithmetic keeps the fold exactly reproducible; the oracle walks
    the same recurrence with a RECURSIVE CTE."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        )
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    series = daily.agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("d", "n")))
        ).alias("m"),
        F.max("d").alias("last"),
    )
    # dense series 0..last, gaps as 0; then the CUSUM left fold
    folded = series.select(
        F.aggregate(
            F.transform(
                F.sequence(F.lit(0).cast("long"), F.col("last")),
                lambda d: F.coalesce(
                    F.element_at(F.col("m"), d), F.lit(0).cast("long")
                ),
            ),
            F.struct(
                F.lit(0).cast("long").alias("s"),
                F.lit(0).cast("long").alias("peak"),
                F.array().cast("array<struct<s:bigint,peak:bigint>>")
                .alias("hist"),
            ),
            lambda acc, x: F.struct(
                F.greatest(
                    F.lit(0).cast("long"), acc["s"] + x - CUSUM_K
                ).alias("s"),
                F.greatest(
                    acc["peak"],
                    F.greatest(
                        F.lit(0).cast("long"), acc["s"] + x - CUSUM_K
                    ),
                ).alias("peak"),
                F.concat(
                    acc["hist"],
                    F.array(
                        F.struct(
                            F.greatest(
                                F.lit(0).cast("long"),
                                acc["s"] + x - CUSUM_K,
                            ).alias("s"),
                            F.greatest(
                                acc["peak"],
                                F.greatest(
                                    F.lit(0).cast("long"),
                                    acc["s"] + x - CUSUM_K,
                                ),
                            ).alias("peak"),
                        )
                    ),
                ).alias("hist"),
            ),
        ).alias("acc")
    )
    return folded.select(
        F.posexplode(F.col("acc.hist")).alias("day_idx", "sp")
    ).select(
        F.col("day_idx").cast("long"),
        F.col("sp.s").alias("cusum"),
        F.col("sp.peak").alias("peak_cusum"),
    )


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute inactivity gap


@register(
    "events_sessionize",
    oracle=f"""
    WITH ord AS (
        SELECT user_id, event_id, epoch_us(ts) AS t_us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS prev_us
        FROM events
    ), marked AS (
        SELECT user_id, event_id, t_us,
               CASE WHEN prev_us IS NULL
                         OR t_us - prev_us > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_sess
        FROM ord
    ), sess AS (
        SELECT user_id, event_id, t_us,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id
                    ORDER BY t_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_idx
        FROM marked
    )
    SELECT user_id, session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           min(t_us) AS start_us, max(t_us) AS end_us,
           max(t_us) - min(t_us) AS duration_us
    FROM sess GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: split each user's event stream into
    sessions at >30-minute inactivity gaps (the product-analytics /
    clickstream primitive behind session counts, durations, and
    funnels; the streaming twin is ``stream_session``'s
    session_window). Classic gaps-and-islands: lag per user marks
    session starts, a per-user running sum numbers them, one groupBy
    rolls sessions up. Every window partitions by user_id — no
    global ordering anywhere, embarrassingly parallel across users
    at any scale; all arithmetic is integer microseconds."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("t_us")
    )
    w = Window.partitionBy("user_id").orderBy("t_us", "event_id")
    marked = e.select(
        "user_id",
        "event_id",
        "t_us",
        F.when(
            F.lag("t_us").over(w).isNull()
            | (F.col("t_us") - F.lag("t_us").over(w) > SESSION_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = marked.select(
        "user_id",
        "t_us",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("session_idx"),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("t_us").alias("start_us"),
        F.max("t_us").alias("end_us"),
        (F.max("t_us") - F.min("t_us")).alias("duration_us"),
    )


_ATTR_LOOKBACK_H = 48
_ATTR_SCALE = 1_000_000  # micro-credits per conversion


@register(
    "events_attribution",
    oracle=f"""
    WITH conv AS (
        SELECT event_id AS conv_id, user_id, ts AS conv_ts
        FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT e.event_type, c.conv_id,
               row_number() OVER (PARTITION BY c.conv_id
                                  ORDER BY e.ts, e.event_id) AS pos,
               count(*) OVER (PARTITION BY c.conv_id) AS n_touch
        FROM conv c JOIN events e
          ON e.user_id = c.user_id
         AND e.event_type <> 'purchase'
         AND e.ts < c.conv_ts
         AND e.ts >= c.conv_ts - INTERVAL {_ATTR_LOOKBACK_H} HOUR
    )
    SELECT event_type,
           CAST(count(*) FILTER (WHERE pos = 1) AS BIGINT) AS first_touches,
           CAST(count(*) FILTER (WHERE pos = n_touch) AS BIGINT)
               AS last_touches,
           CAST(SUM({_ATTR_SCALE} // n_touch
                    + CASE WHEN pos = 1
                           THEN {_ATTR_SCALE} % n_touch ELSE 0 END)
                AS BIGINT) AS linear_microcredits
    FROM touch GROUP BY event_type
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution — the marketing-analytics staple the
    funnel/retention family doesn't cover: every purchase credits the
    user's touches (non-purchase events) in its 48-hour lookback
    under three models at once — first-touch, last-touch, and linear.

    Linear credit is an EXACT INTEGER ledger: each conversion splits
    1e6 micro-credits as floor(1e6/n) per touch with the remainder
    assigned to the first touch, so total credit is conserved
    bit-for-bit (Σ = 1e6 × attributed conversions) and the aggregate
    is order-free at any parallelism — the cents discipline applied
    to fractional attribution (a double 1/n ledger would drift with
    partial-agg order across 1000 executors).

    Plan shape: one equi-join on user_id bounds candidates to the
    user's own events (the range predicate prunes within the join —
    join_range's shape); one window per conversion for position/count;
    one final hash aggregate. No pairwise stage outside the per-user
    candidate set."""
    e = table(spark, sf_dir, "events")
    conv = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("conv_ts"),
    )
    touch = conv.join(
        e,
        (F.col("user_id") == F.col("c_uid"))
        & (F.col("event_type") != "purchase")
        & (F.col("ts") < F.col("conv_ts"))
        & (
            F.col("ts")
            >= F.col("conv_ts") - F.expr(f"INTERVAL {_ATTR_LOOKBACK_H} HOURS")
        ),
    )
    w_pos = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    w_all = Window.partitionBy("conv_id")
    scored = touch.select(
        "event_type",
        F.row_number().over(w_pos).alias("pos"),
        F.count(F.lit(1)).over(w_all).alias("n_touch"),
    )
    base_credit = F.floor(F.lit(_ATTR_SCALE) / F.col("n_touch")).cast("long")
    remainder = F.lit(_ATTR_SCALE) % F.col("n_touch")
    return scored.groupBy("event_type").agg(
        F.count(F.when(F.col("pos") == 1, 1)).alias("first_touches"),
        F.count(F.when(F.col("pos") == F.col("n_touch"), 1)).alias(
            "last_touches"
        ),
        F.sum(
            base_credit
            + F.when(F.col("pos") == 1, remainder).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("linear_microcredits"),
    )


@register(
    "events_resample_gapfill",
    oracle=f"""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ), days AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bounds
    ), types AS (
        SELECT DISTINCT event_type FROM events
    ), grid AS (
        SELECT d, event_type FROM days CROSS JOIN types
    ), daily AS (
        SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ), dense AS (
        SELECT g.d, g.event_type, COALESCE(daily.n, 0) AS n
        FROM grid g LEFT JOIN daily
          ON g.d = daily.d AND g.event_type = daily.event_type
    )
    SELECT CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS day_n,
           event_type,
           CAST(n AS BIGINT) AS n,
           {sql_q4("CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w")} AS ma7
    FROM dense
    WINDOW w AS (PARTITION BY event_type ORDER BY d
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification + gap-fill + trailing smoothing — the
    time-series resample every dashboard needs: daily counts per
    event type LEFT-joined onto the COMPLETE (day × type) grid with
    zero-fill, then a 7-day trailing average computed over the dense
    series (a moving average over a sparse series silently skips the
    zero days — the classic resample bug this operator exists to
    prevent).

    Scale shape: the grid is METADATA (days × types — a year of 1000
    event types is 365k rows) built from one broadcast bounds
    aggregate + sequence/explode; the event log collapses to |grid|
    rows in its one aggregate shuffle, and the smoothing window
    partitions by type over day-grained rows. ma7 is Σ/count of exact
    integer counts over a fixed frame — deterministic at any
    parallelism."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d")
    )
    types = e.select("event_type").distinct()
    grid = F.broadcast(days).crossJoin(F.broadcast(types))
    daily = e.groupBy(
        F.col("ts").cast("date").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    # Broadcast the BUILD (right) side: a left-outer join can only
    # broadcast the non-preserved side, so hinting grid would fall
    # back to a shuffle join. daily is already collapsed to ≤|grid|
    # rows by its aggregate, so it is the legitimately small side.
    dense = grid.join(F.broadcast(daily), ["d", "event_type"], "left").select(
        "d", "event_type", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    return dense.select(
        F.datediff("d", F.lit("1970-01-01")).cast("long").alias("day_n"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        q4(F.sum("n").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "ma7"
        ),
    )


@register(
    "events_conversion_paths",
    oracle=f"""
    WITH conv AS (
        SELECT event_id AS conv_id, user_id, ts AS conv_ts
        FROM events WHERE event_type = 'purchase'
    ), touch AS (
        SELECT c.conv_id, e.event_type, e.ts, e.event_id,
               row_number() OVER (PARTITION BY c.conv_id
                                  ORDER BY e.ts DESC, e.event_id DESC)
                   AS rpos
        FROM conv c JOIN events e
          ON e.user_id = c.user_id AND e.event_type <> 'purchase'
         AND e.ts < c.conv_ts
         AND e.ts >= c.conv_ts - INTERVAL {_ATTR_LOOKBACK_H} HOUR
    ), paths AS (
        SELECT conv_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM touch WHERE rpos <= 3 GROUP BY conv_id
    ), counted AS (
        SELECT path, count(*) AS n FROM paths GROUP BY path
    )
    SELECT path, CAST(n AS BIGINT) AS n,
           CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rnk
    FROM counted QUALIFY rnk <= 20
    """,
)
def events_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 converting paths — which ordered sequence of (up to 3)
    final touches precedes a purchase: the path-analysis companion to
    events_attribution (credit) and events_markov (one-step
    transitions). Paths are the LAST ≤3 touches in the 48 h lookback,
    rendered oldest→newest as 'a>b>c'.

    Determinism: per-conversion touch order is (ts, event_id) — a
    total order — so the path string is unique; path assembly is an
    array_sort over collected (ts, event_id, type) structs, identical
    to the oracle's ORDER BY string_agg. Scale shape: candidates
    bounded by the per-user equi-join (attribution's plan), one
    groupBy per conversion (state = ≤3 structs per group), one path
    aggregate, then a global top-20 (TakeOrderedAndProject); the
    final rank window runs on the LIMITED 20-row frame only."""
    e = table(spark, sf_dir, "events")
    conv = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("c_uid"),
        F.col("ts").alias("conv_ts"),
    )
    touch = conv.join(
        e,
        (F.col("user_id") == F.col("c_uid"))
        & (F.col("event_type") != "purchase")
        & (F.col("ts") < F.col("conv_ts"))
        & (
            F.col("ts")
            >= F.col("conv_ts") - F.expr(f"INTERVAL {_ATTR_LOOKBACK_H} HOURS")
        ),
    )
    w_r = Window.partitionBy("conv_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    last3 = touch.withColumn("rpos", F.row_number().over(w_r)).where(
        F.col("rpos") <= 3
    )
    paths = last3.groupBy("conv_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    top = counted.orderBy(F.col("n").desc(), "path").limit(20)
    w_rank = Window.orderBy(F.col("n").desc(), "path")
    return top.withColumn("rnk", F.row_number().over(w_rank).cast("long")).select(
        "path", F.col("n").cast("long").alias("n"), "rnk"
    )


_BOT_MIN_GAPS = 10
_BOT_CV_TAU = 0.3  # coefficient-of-variation below this = suspect


@register(
    "events_bot_detection",
    oracle=f"""
    WITH d AS (
        SELECT user_id,
               (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id))
                 // 1000000 AS gap_s
        FROM events
    ), s AS (
        SELECT user_id,
               CAST(count(gap_s) AS BIGINT) AS n_gaps,
               CAST(sum(gap_s) AS BIGINT) AS s1,
               CAST(sum(gap_s*gap_s) AS BIGINT) AS s2
        FROM d WHERE gap_s IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           CAST(s1 // n_gaps AS BIGINT) AS mean_gap_s,
           {sql_q4("sqrt(greatest(CAST(s2 AS DOUBLE)"
                   " - CAST(s1 AS DOUBLE)*s1/n_gaps, 0) / n_gaps)"
                   " / (CAST(s1 AS DOUBLE)/n_gaps)")} AS cv_gap,
           (sqrt(greatest(CAST(s2 AS DOUBLE)
                 - CAST(s1 AS DOUBLE)*s1/n_gaps, 0) / n_gaps)
             / (CAST(s1 AS DOUBLE)/n_gaps) < {_BOT_CV_TAU}) AS bot_suspect
    FROM s WHERE n_gaps >= {_BOT_MIN_GAPS}
    """,
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by cadence regularity — the
    training-data hygiene pass that flags machine-generated activity:
    human inter-event gaps are bursty (coefficient of variation ≈ 1),
    schedulers and scripts are metronomic (cv → 0). Per user: gap
    count, mean gap, cv, and the suspect flag (cv < 0.3, ≥10 gaps).

    Determinism discipline: gaps are exact integer SECONDS (µs DIV
    1e6 — second-granularity keeps Σgap² inside int64 for years-long
    histories), moments are exact integer sums (count, Σg, Σg²), and
    the population-cv double formula is evaluated once per user from
    those sums — partial-agg order on a 1000-executor cluster cannot
    move a user across the threshold. One window shuffle on user_id,
    one aggregate: linear."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = e.select(
        "user_id",
        ((us - F.lag(us).over(w)) / F.lit(1000000))
        .cast("long")
        .alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    s = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap_s").cast("long").alias("s1"),
        F.sum(F.col("gap_s") * F.col("gap_s")).cast("long").alias("s2"),
    )
    var = F.greatest(
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n_gaps"),
        F.lit(0.0),
    ) / F.col("n_gaps")
    cv = F.sqrt(var) / (F.col("s1").cast("double") / F.col("n_gaps"))
    return (
        s.where(F.col("n_gaps") >= _BOT_MIN_GAPS)
        .select(
            "user_id",
            "n_gaps",
            F.expr("s1 DIV n_gaps").alias("mean_gap_s"),
            q4(cv).alias("cv_gap"),
            (cv < _BOT_CV_TAU).alias("bot_suspect"),
        )
    )


@register(
    "events_time_weighted_avg",
    oracle=f"""
    WITH h AS (
        SELECT user_id,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS cents,
               (lead(epoch_us(ts)) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id) - epoch_us(ts)) // 1000000
                   AS dur_s
        FROM events
    ), s AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_holds,
               CAST(sum(dur_s) AS BIGINT) AS total_s,
               CAST(sum(cents * dur_s) AS BIGINT) AS weighted_cents_s
        FROM h WHERE dur_s IS NOT NULL AND dur_s > 0 GROUP BY user_id
    )
    SELECT user_id, n_holds, total_s, weighted_cents_s,
           {sql_q4("CAST(weighted_cents_s AS DOUBLE) / total_s / 100")}
               AS twap
    FROM s
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP) per user — the sensor/market
    staple a plain AVG gets wrong: each observed value HOLDS until
    the user's next event, so the mean must weight by holding
    duration, not by observation count (irregular sampling otherwise
    biases toward chatty periods).

    Exactness at scale: durations are integer SECONDS (µs DIV 1e6),
    values integer cents, so each cents×dur_s term and their sums
    stay well inside int64 for month-scale holds (2.6e11 per term vs
    the 1.8e19 overflow a µs-granularity product hits); the one
    double division happens after the exact integer aggregate. One
    lead-window shuffle on user_id, one aggregate — linear."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    h = e.select(
        "user_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        ((F.lead(us).over(w) - us) / F.lit(1000000)).cast("long").alias("dur_s"),
    ).where(F.col("dur_s").isNotNull() & (F.col("dur_s") > 0))
    s = h.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_holds"),
        F.sum("dur_s").cast("long").alias("total_s"),
        F.sum(F.col("cents") * F.col("dur_s")).cast("long").alias(
            "weighted_cents_s"
        ),
    )
    return s.select(
        "user_id",
        "n_holds",
        "total_s",
        "weighted_cents_s",
        q4(
            F.col("weighted_cents_s").cast("double") / F.col("total_s") / 100
        ).alias("twap"),
    )


@register(
    "events_capped_balance",
    oracle="""
    WITH RECURSIVE seq AS (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value*100 + 0.5) AS BIGINT)
                    ELSE -CAST(floor(value*100 + 0.5) AS BIGINT) END AS delta,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), walk(user_id, rn, bal) AS (
        SELECT user_id, rn, greatest(0, delta) FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn, greatest(0, w.bal + s.delta)
        FROM walk w JOIN seq s
          ON s.user_id = w.user_id AND s.rn = w.rn + 1
    )
    SELECT s.event_id, s.user_id, CAST(w.bal AS BIGINT) AS balance_after
    FROM walk w JOIN seq s ON s.user_id = w.user_id AND s.rn = w.rn
    """,
)
def events_capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped running balance per user (credits from
    purchases, debits otherwise, balance never below zero) — the
    inventory/wallet/rate-limiter scan that is PROVABLY not a window
    function: the clamp makes each row's state a non-linear function
    of the previous row's, so no prefix-sum decomposition exists.

    This is the textbook justification for the grouped-map escape
    hatch: one shuffle on user_id, then an Arrow-batched per-group
    sequential fold in exact integer cents (each group's history fits
    a worker — the same contract as every stateful-stream op; the
    streaming twin is stream_stateful's per-user state). The oracle
    is DuckDB's recursive CTE walking (user, rn) — sequential
    semantics verified row-for-row, hash-exact."""
    import pandas as pd

    e = table(spark, sf_dir, "events")
    delta = F.when(
        F.col("event_type") == "purchase",
        F.floor(F.col("value") * 100 + 0.5).cast("long"),
    ).otherwise(-F.floor(F.col("value") * 100 + 0.5).cast("long"))
    seq = e.select(
        "user_id",
        "event_id",
        delta.alias("delta"),
        F.col("ts").alias("_ts"),
    )

    def fold(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["_ts", "event_id"])
        bal, out = 0, []
        for d in pdf["delta"]:
            bal = max(0, bal + int(d))
            out.append(bal)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"].to_numpy(),
                "user_id": pdf["user_id"].to_numpy(),
                "balance_after": out,
            }
        )

    return seq.groupBy("user_id").applyInPandas(
        fold, "event_id long, user_id long, balance_after long"
    )


@register(
    "events_dau_mau",
    oracle=f"""
    WITH act AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ), days AS (SELECT DISTINCT d FROM act),
    rolled AS (
        SELECT days.d,
               count(DISTINCT CASE WHEN a.d = days.d
                                   THEN a.user_id END) AS dau,
               count(DISTINCT CASE WHEN a.d > days.d - 7
                                   THEN a.user_id END) AS wau,
               count(DISTINCT a.user_id) AS mau
        FROM days JOIN act a ON a.d BETWEEN days.d - 29 AND days.d
        GROUP BY days.d
    )
    SELECT CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS day_n,
           CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
           CAST(mau AS BIGINT) AS mau,
           {sql_q4("CAST(dau AS DOUBLE) / mau")} AS stickiness
    FROM rolled
    """,
)
def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU and the DAU/MAU stickiness ratio per active
    day — the product-analytics vital signs.

    Scale design: rolling DISTINCT counts can't use an ordinary
    window aggregate (count_distinct over a moving frame isn't
    decomposable).  The scalable rewrite: dedup the log to (user,
    day) pairs FIRST (one shuffle, map-side combine collapses each
    user's events per day), then EXPLODE each pair to the ≤30 target
    days it contributes to and hash-aggregate per target day with
    conditional distinct counts (off = 0 → DAU, < 7 → WAU, any →
    MAU).  Work is |user-days| × 30 — linear in the deduped activity
    set, independent of raw event volume, no per-day re-scan of the
    log and no quadratic day × log range join (which the oracle, at
    fixture scale, can afford)."""
    e = table(spark, sf_dir, "events")
    act = e.select(
        F.col("ts").cast("date").alias("d"), "user_id"
    ).distinct()
    days = act.select("d").distinct()
    contrib = act.select(
        "user_id",
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(29))).alias("off"),
    ).select(
        "user_id", "off", F.date_add("d", F.col("off")).alias("t")
    )
    rolled = (
        contrib.join(F.broadcast(days), F.col("t") == F.col("d")).drop("d")
        .groupBy("t")
        .agg(
            F.count_distinct(
                F.when(F.col("off") == 0, F.col("user_id"))
            ).cast("long").alias("dau"),
            F.count_distinct(
                F.when(F.col("off") < 7, F.col("user_id"))
            ).cast("long").alias("wau"),
            F.count_distinct("user_id").cast("long").alias("mau"),
        )
    )
    return rolled.select(
        F.datediff("t", F.lit("1970-01-01")).cast("long").alias("day_n"),
        "dau",
        "wau",
        "mau",
        q4(F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
    )


EWMA_ALPHA = 0.2  # smoothing factor; beta = 1 - alpha


@register(
    "events_ewma",
    oracle=f"""
    WITH bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ), days AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bounds
    ), types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
        SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ), dense AS (
        SELECT g.d, g.event_type, COALESCE(daily.n, 0) AS n,
               datediff('day', (SELECT d0 FROM bounds), g.d) AS t
        FROM (SELECT d, event_type FROM days CROSS JOIN types) g
        LEFT JOIN daily ON g.d = daily.d AND g.event_type = daily.event_type
    ), pre AS (
        SELECT d, event_type, n, t,
               CAST(n AS DOUBLE) / pow({1 - EWMA_ALPHA}, t) AS y
        FROM dense
    ), run AS (
        SELECT d, event_type, n, t,
               sum(y) OVER w AS c,
               first_value(CAST(n AS DOUBLE)) OVER w AS x0
        FROM pre
        WINDOW w AS (PARTITION BY event_type ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(datediff('day', DATE '1970-01-01', d) AS BIGINT) AS day_n,
           event_type, CAST(n AS BIGINT) AS n,
           {sql_q4(f"pow({1 - EWMA_ALPHA}, t)"
                   f" * ({EWMA_ALPHA} * c + {1 - EWMA_ALPHA} * x0)")} AS ewma
    FROM run
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily event volume
    per type — smoothing with infinite memory, which LOOKS inherently
    sequential (s_t = α·x_t + (1−α)·s_{t−1}) and is usually cited as
    "not expressible in SQL / not distributable".

    It is, via the prefix-sum rewrite: dividing the recurrence by
    β^t (β = 1−α) turns it into a running SUM —
    s_t = β^t·(α·Σ_{{i≤t}} x_i/β^i + β·x_0) — so the whole computation is one
    zero-filled densify (same grid machinery as
    events_resample_gapfill), one narrow projection, and ONE ordered
    window sum per type: embarrassingly parallel across types,
    sequential only in the already-tiny per-type daily series.
    Numerics: β^{{−t}} grows ~2500× at t=35; for multi-year series
    the rewrite is applied per bounded block (e.g. 256 days) with the
    carry s_{{block−1}} folded into the next block's x_0 — same plan
    shape, bounded exponents. q4 quantization absorbs the last-bit
    double differences between engines."""
    e = table(spark, sf_dir, "events")
    beta = 1 - EWMA_ALPHA
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"),
        "d0",
    )
    types = e.select("event_type").distinct()
    grid = F.broadcast(days).crossJoin(F.broadcast(types))
    daily = e.groupBy(
        F.col("ts").cast("date").alias("dd"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_raw"))
    dense = (
        grid.join(
            F.broadcast(daily),
            (F.col("d") == F.col("dd"))
            & (grid.event_type == daily.event_type),
            "left",
        )
        .select(
            "d",
            grid.event_type.alias("event_type"),
            F.coalesce("n_raw", F.lit(0)).alias("n"),
            F.datediff("d", "d0").alias("t"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pre = dense.withColumn(
        "y", F.col("n").cast("double") / F.pow(F.lit(beta), F.col("t"))
    )
    run = pre.withColumn("c", F.sum("y").over(w)).withColumn(
        "x0", F.first(F.col("n").cast("double")).over(w)
    )
    return run.select(
        F.datediff("d", F.lit("1970-01-01")).cast("long").alias("day_n"),
        "event_type",
        F.col("n").cast("long").alias("n"),
        q4(
            F.pow(F.lit(beta), F.col("t"))
            * (EWMA_ALPHA * F.col("c") + beta * F.col("x0"))
        ).alias("ewma"),
    )


# ------------------------------------- classical seasonal decomposition

SEAS_EPOCH = "2024-01-01"


@register(
    "events_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '{SEAS_EPOCH}', CAST(ts AS DATE))
                    AS BIGINT) AS day_n,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), grid AS (
        SELECT t.event_type, d.day_n, coalesce(x.n, 0) AS n
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT DISTINCT day_n FROM daily) d
        LEFT JOIN daily x
          ON x.event_type = t.event_type AND x.day_n = d.day_n
    ), trend AS (
        SELECT event_type, day_n, n,
               CAST(sum(n) OVER w AS DOUBLE) / count(*) OVER w AS trend
        FROM grid
        WINDOW w AS (PARTITION BY event_type ORDER BY day_n
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
        SELECT event_type, day_n, n, trend, day_n % 7 AS dow,
               CAST(floor((n - trend) * 1e6 + 0.5) AS BIGINT) AS detr_e6
        FROM trend
    ), seasonal AS (
        SELECT event_type, dow,
               CAST(sum(detr_e6) AS DOUBLE) / count(*) / 1e6 AS seasonal
        FROM detr GROUP BY event_type, dow
    )
    SELECT d.event_type, d.day_n, d.n, {sql_q4("d.trend")} AS trend,
           {sql_q4("s.seasonal")} AS seasonal,
           {sql_q4("d.n - d.trend - s.seasonal")} AS residual
    FROM detr d JOIN seasonal s
      ON d.event_type = s.event_type AND d.dow = s.dow
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily count
    series per event type: trend = centered 7-day moving average
    (edge-shrunk), seasonal = per-day-of-week mean of the detrended
    series, residual = n − trend − seasonal.

    Float discipline: the trend is integer-sum/count (exact inputs);
    detrended values are fixed-pointed to e-6 integers before the
    seasonal mean, so the group mean is order-free; the residual
    subtracts in one fixed expression order.

    Scale shape: one data-sized aggregate to (type × day); the
    moving-average window partitions per type over the bounded day
    grid — at years of history this is still |days| rows per type,
    never raw events. The dense grid (types × observed days,
    zero-filled) keeps window frames aligned across engines."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit(SEAS_EPOCH).cast("date"))
        .cast("long")
        .alias("day_n"),
    ).agg(F.count("*").cast("long").alias("n")).localCheckpoint(eager=False)
    types = daily.select("event_type").distinct()
    days = daily.select("day_n").distinct()
    grid = (
        types.crossJoin(F.broadcast(days))
        .join(daily, ["event_type", "day_n"], "left")
        .select(
            "event_type", "day_n", F.coalesce(F.col("n"), F.lit(0)).alias("n")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_n")
        .rowsBetween(-3, 3)
    )
    trend = grid.select(
        "event_type",
        "day_n",
        "n",
        (F.sum("n").over(w).cast("double") / F.count("*").over(w)).alias("trend"),
    )
    detr = trend.select(
        "event_type",
        "day_n",
        "n",
        "trend",
        (F.col("day_n") % 7).alias("dow"),
        F.floor((F.col("n") - F.col("trend")) * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("detr_e6"),
    ).localCheckpoint(eager=False)
    seasonal = detr.groupBy("event_type", "dow").agg(
        (F.sum("detr_e6").cast("double") / F.count("*") / F.lit(1e6)).alias(
            "seasonal"
        )
    )
    return detr.join(F.broadcast(seasonal), ["event_type", "dow"]).select(
        "event_type",
        "day_n",
        "n",
        q4(F.col("trend")).alias("trend"),
        q4(F.col("seasonal")).alias("seasonal"),
        q4(F.col("n") - F.col("trend") - F.col("seasonal")).alias("residual"),
    )


# ------------------------------------------------ Theil–Sen robust trend


@register(
    "events_theil_sen",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '{SEAS_EPOCH}', CAST(ts AS DATE))
                    AS BIGINT) AS day_n,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), slopes AS (
        SELECT a.event_type,
               CAST(b.n - a.n AS DOUBLE) / (b.day_n - a.day_n) AS slope,
               a.day_n AS da, b.day_n AS db
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.day_n < b.day_n
    ), ranked AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                   ORDER BY slope, da, db) AS rk,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM slopes
    ), med AS (
        SELECT event_type, CAST(max(cnt) AS BIGINT) AS n_pairs,
               max(CASE WHEN rk = (cnt + 1) // 2 THEN slope END) AS slope_med
        FROM ranked GROUP BY event_type
    ), icepts AS (
        SELECT d.event_type, d.n - m.slope_med * d.day_n AS b0, d.day_n
        FROM daily d JOIN med m ON d.event_type = m.event_type
    ), iranked AS (
        SELECT event_type, b0,
               row_number() OVER (PARTITION BY event_type
                   ORDER BY b0, day_n) AS rk,
               count(*) OVER (PARTITION BY event_type) AS cnt
        FROM icepts
    ), imed AS (
        SELECT event_type,
               max(CASE WHEN rk = (cnt + 1) // 2 THEN b0 END) AS icept_med
        FROM iranked GROUP BY event_type
    )
    SELECT m.event_type, m.n_pairs, {sql_q4("m.slope_med")} AS slope,
           {sql_q4("i.icept_med")} AS intercept
    FROM med m JOIN imed i ON m.event_type = i.event_type
    """,
)
def events_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily count series per event
    type: slope = LOWER MEDIAN of all pairwise slopes (deterministic
    tie-break by the pair's day indices), intercept = lower median of
    n_i − slope·day_i — the outlier-resistant complement to the OLS
    ``agg_linear_trend``.

    Scale shape: the pairwise self-join is O(D²) in DAYS PER TYPE
    (30 days → 435 pairs), never in events — the data-sized pass is
    the one daily aggregate; everything after runs on the bounded
    day grid. Medians use integer rank = (cnt+1)/2 comparisons (no
    float percentile for engines to disagree on); slopes are exact
    integer differences divided once."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit(SEAS_EPOCH).cast("date"))
        .cast("long")
        .alias("day_n"),
    ).agg(F.count("*").cast("long").alias("n")).localCheckpoint(eager=False)
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.day_n") < F.col("b.day_n")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        (
            (F.col("b.n") - F.col("a.n")).cast("double")
            / (F.col("b.day_n") - F.col("a.day_n"))
        ).alias("slope"),
        F.col("a.day_n").alias("da"),
        F.col("b.day_n").alias("db"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "da", "db")
    wc = Window.partitionBy("event_type")
    ranked = slopes.withColumn("rk", F.row_number().over(wr)).withColumn(
        "cnt", F.count("*").over(wc)
    )
    med = ranked.groupBy("event_type").agg(
        F.max("cnt").cast("long").alias("n_pairs"),
        F.max(
            F.when(
                F.col("rk") == F.floor((F.col("cnt") + 1) / 2), F.col("slope")
            )
        ).alias("slope_med"),
    )
    icepts = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        (F.col("n") - F.col("slope_med") * F.col("day_n")).alias("b0"),
        "day_n",
    )
    wir = Window.partitionBy("event_type").orderBy("b0", "day_n")
    iranked = icepts.withColumn("rk", F.row_number().over(wir)).withColumn(
        "cnt", F.count("*").over(wc)
    )
    imed = iranked.groupBy("event_type").agg(
        F.max(
            F.when(F.col("rk") == F.floor((F.col("cnt") + 1) / 2), F.col("b0"))
        ).alias("icept_med")
    )
    return (
        med.join(imed, "event_type")
        .select(
            "event_type",
            "n_pairs",
            q4(F.col("slope_med")).alias("slope"),
            q4(F.col("icept_med")).alias("intercept"),
        )
    )


# ------------------------------------------- time-series wave 2 (r5)

_TS_DENSE_SQL = """
    bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ), days AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bounds
    ), types AS (SELECT DISTINCT event_type FROM events),
    daily AS (
        SELECT CAST(ts AS DATE) AS d, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    ), dense AS (
        SELECT g.event_type,
               datediff('day', (SELECT d0 FROM bounds), g.d) AS t,
               CAST(COALESCE(daily.n, 0) AS BIGINT) AS y
        FROM (SELECT d, event_type FROM days CROSS JOIN types) g
        LEFT JOIN daily ON g.d = daily.d AND g.event_type = daily.event_type
    )
"""


def _ts_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled (event_type, t, y) daily grid — the shared input
    of the time-series operators (same shape as events_ewma's densify:
    two broadcast-sized dimension frames crossed, one data-sized
    aggregate, one broadcast left join)."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"), "d0"
    )
    types = e.select("event_type").distinct()
    grid = F.broadcast(days).crossJoin(F.broadcast(types))
    daily = e.groupBy(F.col("ts").cast("date").alias("dd"), "event_type").agg(
        F.count(F.lit(1)).alias("n_raw")
    )
    # every time-series caller fans the dense grid into several
    # consumers (per-type stats + both lag-join sides) — BOUNDED
    # (days x types), so checkpoint at the source, the trade_edges
    # pattern (events_autocorr re-scanned events 9x before r13)
    return grid.join(
        F.broadcast(daily),
        (F.col("d") == F.col("dd")) & (grid.event_type == daily.event_type),
        "left",
    ).select(
        grid.event_type.alias("event_type"),
        F.datediff("d", "d0").alias("t"),
        F.coalesce("n_raw", F.lit(0)).cast("long").alias("y"),
    ).localCheckpoint(eager=False)


ACF_MAX_LAG = 7


@register(
    "events_autocorr",
    oracle=f"""
    WITH {_TS_DENSE_SQL},
    stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s1,
               CAST(sum(y*y) AS BIGINT) AS s2
        FROM dense GROUP BY event_type
    ), lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag),
    pairs AS (
        SELECT a.event_type, l.lag,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(a.y * b.y) AS BIGINT) AS sxy,
               CAST(sum(a.y) AS BIGINT) AS sx,
               CAST(sum(b.y) AS BIGINT) AS sy
        FROM dense a
        CROSS JOIN lags l
        JOIN dense b ON b.event_type = a.event_type AND b.t = a.t - l.lag
        GROUP BY a.event_type, l.lag
    ), acf AS (
        SELECT p.event_type, p.lag, p.cnt,
               (CAST(p.sxy AS DOUBLE)
                  - (CAST(s.s1 AS DOUBLE) / s.n) * (p.sx + p.sy)
                  + p.cnt * (CAST(s.s1 AS DOUBLE) / s.n)
                          * (CAST(s.s1 AS DOUBLE) / s.n))
               / (CAST(s.s2 AS DOUBLE)
                  - s.n * (CAST(s.s1 AS DOUBLE) / s.n)
                        * (CAST(s.s1 AS DOUBLE) / s.n)) AS r
        FROM pairs p JOIN stats s ON p.event_type = s.event_type
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, cnt AS n_terms,
           {sql_q4("r")} AS r
    FROM acf
    """,
)
def events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily count series per
    event_type at lags 1..7 — the seasonality detector that tells a
    pipeline WHICH period events_seasonal_decompose should use
    (a weekly cycle shows as a spike at lag 7).

    Determinism the moment-sum way: the lagged cross-products
    Σy_t·y_{{t−k}} accumulate as exact integers (the covariance is
    then one fixed-order double formula per (type, lag)), so no
    per-row float ever enters a commutative sum. Scale: the series
    is the bounded DAILY rollup — the only data-sized pass is the
    first aggregate; the 7-way lag self-join runs on |days|×|types|
    rows, broadcast-sized at any fact-table scale."""
    dense = _ts_dense(spark, sf_dir)
    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s2"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a, b = dense.alias("a"), dense.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.t") == F.col("a.t") - F.col("lag")),
        )
        .groupBy("a.event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("a.y") * F.col("b.y")).cast("long").alias("sxy"),
            F.sum(F.col("a.y")).cast("long").alias("sx"),
            F.sum(F.col("b.y")).cast("long").alias("sy"),
        )
    )
    ybar = F.col("s1").cast("double") / F.col("n")
    r = (
        F.col("sxy").cast("double")
        - ybar * (F.col("sx") + F.col("sy"))
        + F.col("cnt") * ybar * ybar
    ) / (F.col("s2").cast("double") - F.col("n") * ybar * ybar)
    return pairs.join(stats, "event_type").select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("cnt").alias("n_terms"),
        q4(r).alias("r"),
    )


@register(
    "events_changepoint",
    oracle=f"""
    WITH {_TS_DENSE_SQL},
    pre AS (
        SELECT event_type, t, y,
               sum(y) OVER (PARTITION BY event_type ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(y) OVER (PARTITION BY event_type) AS s,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dense
    ), cand AS (
        SELECT event_type, t,
               CAST(t + 1 AS BIGINT) AS n1, CAST(n - (t+1) AS BIGINT) AS n2,
               CAST(cum AS DOUBLE) / (t + 1) AS m1,
               CAST(s - cum AS DOUBLE) / (n - (t+1)) AS m2,
               CAST(t + 1 AS DOUBLE) * (n - (t+1)) / n
                 * ((CAST(cum AS DOUBLE) / (t + 1)
                     - CAST(s - cum AS DOUBLE) / (n - (t+1)))
                    * (CAST(cum AS DOUBLE) / (t + 1)
                       - CAST(s - cum AS DOUBLE) / (n - (t+1)))) AS gain
        FROM pre WHERE t + 1 < n
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY event_type
                                     ORDER BY gain DESC, t) AS rk
        FROM cand
    )
    SELECT event_type, CAST(t AS BIGINT) AS split_t, n1, n2,
           {sql_q4("m1")} AS mean_left, {sql_q4("m2")} AS mean_right,
           {sql_q4("gain")} AS gain
    FROM ranked WHERE rk = 1
    """,
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point detection per event_type daily series —
    the first step of binary segmentation / CUSUM-style monitoring:
    the split t* maximizing the between-segment gain
    n1·n2/n·(μ_left − μ_right)², i.e. the variance explained by a
    level shift at t*. (events_cusum flags THAT drift happened; this
    localizes WHERE.)

    Every candidate split is scored from one running integer sum
    (prefix window) — no per-candidate re-aggregation — and the
    argmax is a row_number over the bounded candidate grid. Gains
    are identical IEEE expressions on exact integer inputs, so the
    ranking (with the deterministic t tie-break) agrees across
    engines. Data-sized work: the daily rollup only."""
    dense = _ts_dense(spark, sf_dir)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    pre = (
        dense.withColumn("cum", F.sum("y").over(wcum))
        .withColumn("s", F.sum("y").over(wall))
        .withColumn("n", F.count(F.lit(1)).over(wall))
    )
    n1 = F.col("t") + 1
    n2 = F.col("n") - (F.col("t") + 1)
    m1 = F.col("cum").cast("double") / (F.col("t") + 1)
    m2 = (F.col("s") - F.col("cum")).cast("double") / (F.col("n") - (F.col("t") + 1))
    gain = (F.col("t") + 1).cast("double") * (
        F.col("n") - (F.col("t") + 1)
    ) / F.col("n") * ((m1 - m2) * (m1 - m2))
    cand = pre.where(F.col("t") + 1 < F.col("n")).select(
        "event_type",
        "t",
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        m1.alias("m1"),
        m2.alias("m2"),
        gain.alias("gain"),
    )
    wrk = Window.partitionBy("event_type").orderBy(F.desc("gain"), "t")
    return (
        cand.withColumn("rk", F.row_number().over(wrk))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("t").cast("long").alias("split_t"),
            "n1",
            "n2",
            q4(F.col("m1")).alias("mean_left"),
            q4(F.col("m2")).alias("mean_right"),
            q4(F.col("gain")).alias("gain"),
        )
    )


HOLT_A = "0.3"  # level smoothing
HOLT_B = "0.2"  # trend smoothing
HOLT_H = 7  # forecast horizon (days)


@register(
    "events_holt",
    oracle=f"""
    WITH RECURSIVE {_TS_DENSE_SQL},
    nn AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM dense GROUP BY event_type
    ), init AS (
        SELECT d0.event_type,
               CAST(d0.y AS DOUBLE) AS lvl,
               CAST(d1.y AS DOUBLE) - d0.y AS tr
        FROM dense d0
        JOIN dense d1 ON d1.event_type = d0.event_type AND d1.t = 1
        WHERE d0.t = 0
    ), holt AS (
        SELECT event_type, 0 AS i, lvl, tr, CAST(0.0 AS DOUBLE) AS sse FROM init
        UNION ALL
        SELECT h.event_type, h.i + 1,
               {HOLT_A}*CAST(d.y AS DOUBLE) + {1 - float(HOLT_A)}*(h.lvl + h.tr),
               {HOLT_B}*(({HOLT_A}*CAST(d.y AS DOUBLE)
                          + {1 - float(HOLT_A)}*(h.lvl + h.tr)) - h.lvl)
                 + {1 - float(HOLT_B)}*h.tr,
               h.sse + (CAST(d.y AS DOUBLE) - (h.lvl + h.tr))
                     * (CAST(d.y AS DOUBLE) - (h.lvl + h.tr))
        FROM holt h
        JOIN dense d ON d.event_type = h.event_type AND d.t = h.i + 1
    ), final AS (
        SELECT h.event_type, nn.n, h.lvl, h.tr, h.sse
        FROM holt h JOIN nn ON h.event_type = nn.event_type
        WHERE h.i = nn.n - 1
    ), hs AS (SELECT unnest(generate_series(1, {HOLT_H})) AS h)
    SELECT event_type, n, CAST(h AS BIGINT) AS h,
           {sql_q4("lvl + h * tr")} AS forecast,
           {sql_q4("lvl")} AS level, {sql_q4("tr")} AS trend,
           {sql_q4("sse / (n - 1)")} AS mse
    FROM final CROSS JOIN hs
    """,
)
def events_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's double exponential smoothing (level + trend) of the
    daily series per event_type, with a 7-day forecast and the
    one-step-ahead MSE — the coupled recursion
    l_t = α·y_t + (1−α)(l_{{t−1}} + b_{{t−1}});
    b_t = β(l_t − l_{{t−1}}) + (1−β)b_{{t−1}} that, unlike the single
    EWMA, has NO prefix-sum rewrite.

    The Spark-first answer for genuinely-sequential-but-bounded
    state: collect each type's daily series into a sorted array
    (bounded: |days| per group, NOT data-sized) and run the
    recursion as a single JVM-side F.aggregate fold — sequential in
    exactly the dimension the math requires, parallel across series,
    zero Python in the loop. The DuckDB oracle runs the same
    recursion as a RECURSIVE CTE with the identical operation order,
    so even this iterative operator stays hash-verified. At 100 TB
    the daily rollup tier bounds the array; multi-year series chunk
    by year with carried (l, b) state — same fold, same plan."""
    a, b = float(HOLT_A), float(HOLT_B)
    dense = _ts_dense(spark, sf_dir)
    # Holt needs two points to initialize (lvl=y0, tr=y1-y0); the
    # oracle's init CTE inner-joins t=0 with t=1, so a single-day
    # series emits nothing there — match that here rather than
    # emitting NULL-valued forecast rows.
    ser = (
        dense.groupBy("event_type")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("t"), F.col("y").cast("double").alias("y"))
                )
            ).alias("arr")
        )
        .where(F.size(F.col("arr")) >= 2)
    )
    y0 = F.element_at(F.col("arr"), 1)["y"]
    y1 = F.element_at(F.col("arr"), 2)["y"]
    acc0 = F.struct(
        y0.alias("lvl"), (y1 - y0).alias("tr"), F.lit(0.0).alias("sse")
    )
    rest = F.slice(F.col("arr"), 2, F.size(F.col("arr")) - 1)

    def step(acc, e):
        lnew = F.lit(a) * e["y"] + F.lit(1 - a) * (acc["lvl"] + acc["tr"])
        return F.struct(
            lnew.alias("lvl"),
            (F.lit(b) * (lnew - acc["lvl"]) + F.lit(1 - b) * acc["tr"]).alias(
                "tr"
            ),
            (
                acc["sse"]
                + (e["y"] - (acc["lvl"] + acc["tr"]))
                * (e["y"] - (acc["lvl"] + acc["tr"]))
            ).alias("sse"),
        )

    final = ser.select(
        "event_type",
        F.size(F.col("arr")).cast("long").alias("n"),
        F.aggregate(rest, acc0, step).alias("st"),
    )
    hs = spark.range(1, HOLT_H + 1).select(F.col("id").alias("h"))
    return final.crossJoin(F.broadcast(hs)).select(
        "event_type",
        "n",
        F.col("h").cast("long").alias("h"),
        q4(F.col("st.lvl") + F.col("h") * F.col("st.tr")).alias("forecast"),
        q4(F.col("st.lvl")).alias("level"),
        q4(F.col("st.tr")).alias("trend"),
        q4(F.col("st.sse") / (F.col("n") - 1)).alias("mse"),
    )


# -------------------------------------------- decayed feature counters

DECAY_HALF_LIFE_D = 7.0


@register(
    "events_decay_counter",
    oracle=f"""
    WITH t AS (SELECT max(CAST(ts AS DATE)) AS tmax FROM events),
    rows_d AS (
        SELECT user_id,
               datediff('day', CAST(ts AS DATE), t.tmax) AS dd,
               value
        FROM events CROSS JOIN t
    ), contrib AS (
        SELECT user_id,
               CAST(floor(pow(0.5, dd / {DECAY_HALF_LIFE_D}) * 1e8 + 0.5)
                    AS BIGINT) AS cq,
               CAST(floor(value * pow(0.5, dd / {DECAY_HALF_LIFE_D})
                          * 1e6 + 0.5) AS BIGINT) AS vq
        FROM rows_d
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           {sql_q4("CAST(sum(cq) AS DOUBLE) / 1e8")} AS decayed_count,
           {sql_q4("CAST(sum(vq) AS DOUBLE) / 1e6")} AS decayed_value
    FROM contrib GROUP BY user_id
    """,
)
def events_decay_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed engagement counters per user (half-life 7 days,
    anchored at the corpus max date) — the feature-store freshness
    primitive: a decayed count weights yesterday's event 2^(1/7)×
    more than the day before's, so one number captures both volume
    and recency without a cutoff cliff (compare events_rfm's hard
    recency buckets).

    The decisive scale property: exponential decay is MERGEABLE —
    decayed sums from two partitions (or two days' incremental
    batches) add directly after rescaling to a common anchor, which
    is why this exact shape backs streaming feature pipelines.
    Per-row decay factors are identical IEEE pow() on integer day
    deltas, quantized to fixed point so the per-user sums are exact
    integers (order-free at any parallelism); one broadcast of the
    1-row anchor, one hash aggregate."""
    e = table(spark, sf_dir, "events")
    t = e.agg(F.max(F.col("ts").cast("date")).alias("tmax"))
    rows_d = e.crossJoin(F.broadcast(t)).select(
        "user_id",
        F.datediff(F.col("tmax"), F.col("ts").cast("date")).alias("dd"),
        "value",
    )
    f = F.pow(F.lit(0.5), F.col("dd") / F.lit(DECAY_HALF_LIFE_D))
    contrib = rows_d.select(
        "user_id",
        F.floor(f * F.lit(1e8) + F.lit(0.5)).cast("long").alias("cq"),
        F.floor(F.col("value") * f * F.lit(1e6) + F.lit(0.5))
        .cast("long")
        .alias("vq"),
    )
    return contrib.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        q4(F.sum("cq").cast("double") / F.lit(1e8)).alias("decayed_count"),
        q4(F.sum("vq").cast("double") / F.lit(1e6)).alias("decayed_value"),
    )


@register(
    "ml_point_in_time_features",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               (event_type = 'purchase') AS is_label,
               CASE WHEN event_type = 'click'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT) END
                   AS click_cents,
               CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_view,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
        FROM events
    ), feat AS (
        SELECT user_id, event_id, ts_us, is_label, v_cents,
               sum(is_view) OVER w AS f_views,
               last_value(click_cents IGNORE NULLS) OVER w
                   AS f_last_click_cents,
               min(ts_us) OVER w AS first_ts_us
        FROM base
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts_us, is_label DESC, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id AS label_event_id, ts_us AS label_ts_us,
           v_cents AS label_cents,
           CAST(f_views AS BIGINT) AS f_views,
           f_last_click_cents,
           CAST((ts_us - first_ts_us) // 86400000000 AS BIGINT)
               AS f_days_active
    FROM feat WHERE is_label
    """,
)
def ml_point_in_time_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature extraction — the
    training-serving-skew killer: for every label event (purchase),
    the feature values AS OF strictly before that moment (views so
    far, last click value, days since first activity), with no
    leakage from the future and no leakage from same-instant events
    (labels sort BEFORE ties so a simultaneous click is excluded).

    The scale-defining choice: NOT one as-of join per feature
    (N features → N shuffles) but ONE union-and-window pass — labels
    and feature events interleave in a single per-user ordered
    window, every running feature computes in that one shuffle, and
    label rows are filtered at the end. This is how feature
    backfills stay one-pass at 10^11 events; adding a feature adds a
    column, not a join. All outputs integer (cents/counts/epochs) —
    hash-exact with no quantization."""
    e = table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        (F.col("event_type") == "purchase").alias("is_label"),
        F.when(
            F.col("event_type") == "click", cents(F.col("value"))
        ).alias("click_cents"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_view"),
        cents(F.col("value")).alias("v_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us"), F.col("is_label").desc(), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    feat = base.select(
        "user_id",
        "event_id",
        "ts_us",
        "is_label",
        "v_cents",
        F.sum("is_view").over(w).alias("f_views"),
        F.last("click_cents", ignorenulls=True).over(w).alias(
            "f_last_click_cents"
        ),
        F.min("ts_us").over(w).alias("first_ts_us"),
    )
    return feat.where(F.col("is_label")).select(
        "user_id",
        F.col("event_id").alias("label_event_id"),
        F.col("ts_us").alias("label_ts_us"),
        F.col("v_cents").alias("label_cents"),
        F.col("f_views").cast("long").alias("f_views"),
        "f_last_click_cents",
        F.floor((F.col("ts_us") - F.col("first_ts_us")) / F.lit(86400000000))
        .cast("long")
        .alias("f_days_active"),
    )


# ----------------------------------------- sequential experimentation

SEQ_OBF_C = 2.797  # O'Brien-Fleming-shaped boundary constant


@register(
    "events_ab_sequential",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day_n,
               user_id % 2 AS grp,
               CAST(count(*) AS BIGINT) AS trials,
               CAST(count_if(event_type = 'purchase') AS BIGINT) AS conv
        FROM events GROUP BY 1, 2
    ), wide AS (
        SELECT day_n,
               CAST(sum(CASE WHEN grp = 0 THEN trials ELSE 0 END) AS BIGINT)
                   AS t_a,
               CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT)
                   AS v_a,
               CAST(sum(CASE WHEN grp = 1 THEN trials ELSE 0 END) AS BIGINT)
                   AS t_b,
               CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT)
                   AS v_b
        FROM daily GROUP BY day_n
    ), cum AS (
        SELECT day_n,
               sum(t_a) OVER w AS n_a, sum(v_a) OVER w AS c_a,
               sum(t_b) OVER w AS n_b, sum(v_b) OVER w AS c_b
        FROM wide
        WINDOW w AS (ORDER BY day_n
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tot AS (
        SELECT CAST(sum(t_a) + sum(t_b) AS BIGINT) AS n_final FROM wide
    ), scored AS (
        SELECT c.day_n, c.n_a, c.c_a, c.n_b, c.c_b,
               (CAST(c.c_b AS DOUBLE) / c.n_b
                  - CAST(c.c_a AS DOUBLE) / c.n_a)
               / sqrt((CAST(c.c_a + c.c_b AS DOUBLE) / (c.n_a + c.n_b))
                      * (1 - CAST(c.c_a + c.c_b AS DOUBLE)
                             / (c.n_a + c.n_b))
                      * (1.0 / c.n_a + 1.0 / c.n_b)) AS z,
               {SEQ_OBF_C} / sqrt(CAST(c.n_a + c.n_b AS DOUBLE) / t.n_final)
                   AS boundary
        FROM cum c CROSS JOIN tot t
    )
    SELECT day_n, CAST(n_a AS BIGINT) AS n_a, CAST(c_a AS BIGINT) AS c_a,
           CAST(n_b AS BIGINT) AS n_b, CAST(c_b AS BIGINT) AS c_b,
           {sql_q4("z")} AS z, {sql_q4("boundary")} AS boundary,
           abs(z) > boundary AS crossed
    FROM scored
    """,
)
def events_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring — the peeking-safe companion
    to events_ab_test's single readout: the cumulative two-proportion
    z after each day against an O'Brien-Fleming-shaped spending
    boundary c/√(information fraction), which is wide early (hard to
    cross on noise) and tightens to ~c at full information. The
    'crossed' column is the day-by-day stop/continue decision an
    experimentation platform renders.

    Scale shape: one data-sized aggregate to (day × arm), then every
    cumulative statistic comes from a prefix window over the bounded
    daily grid and one broadcast of the 1-row final-information
    total — daily peeking costs nothing more than the dashboard
    query. Sufficient statistics stay integer through the window;
    doubles only in the per-day closed forms."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_n"),
        (F.col("user_id") % 2).alias("grp"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("trials"),
        F.count_if(F.col("event_type") == "purchase").cast("long").alias("conv"),
    )
    wide = daily.groupBy("day_n").agg(
        F.sum(F.when(F.col("grp") == 0, F.col("trials")).otherwise(0))
        .cast("long")
        .alias("t_a"),
        F.sum(F.when(F.col("grp") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("v_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("trials")).otherwise(0))
        .cast("long")
        .alias("t_b"),
        F.sum(F.when(F.col("grp") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("v_b"),
    )
    w = Window.orderBy("day_n").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = wide.select(
        "day_n",
        F.sum("t_a").over(w).alias("n_a"),
        F.sum("v_a").over(w).alias("c_a"),
        F.sum("t_b").over(w).alias("n_b"),
        F.sum("v_b").over(w).alias("c_b"),
    )
    tot = wide.agg((F.sum("t_a") + F.sum("t_b")).cast("long").alias("n_final"))
    p_a = F.col("c_a").cast("double") / F.col("n_a")
    p_b = F.col("c_b").cast("double") / F.col("n_b")
    pool = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (p_b - p_a) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    boundary = F.lit(SEQ_OBF_C) / F.sqrt(
        (F.col("n_a") + F.col("n_b")).cast("double") / F.col("n_final")
    )
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "day_n",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("c_b"),
        z.alias("z"),
        boundary.alias("boundary"),
    )
    return scored.select(
        "day_n",
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        q4(F.col("z")).alias("z"),
        q4(F.col("boundary")).alias("boundary"),
        (F.abs(F.col("z")) > F.col("boundary")).alias("crossed"),
    )


BACKTEST_LAG = 7  # seasonal-naive horizon (days)


@register(
    "events_forecast_backtest",
    oracle=f"""
    WITH {_TS_DENSE_SQL},
    lagged AS (
        SELECT event_type, t, y,
               lag(y, {BACKTEST_LAG}) OVER w AS f7,
               lag(y, 1) OVER w AS f1
        FROM dense
        WINDOW w AS (PARTITION BY event_type ORDER BY t)
    ), contrib AS (
        SELECT event_type,
               y - f7 AS e7, abs(y - f7) AS a7, abs(y - f1) AS a1,
               CAST(floor(CASE WHEN y + f7 = 0 THEN 0.0
                    ELSE 2.0 * abs(y - f7) / (y + f7) END * 1e8 + 0.5)
                    AS BIGINT) AS smape_e8
        FROM lagged WHERE f7 IS NOT NULL AND f1 IS NOT NULL
    ), agg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_evals,
               CAST(sum(a7) AS BIGINT) AS sa7,
               CAST(sum(a1) AS BIGINT) AS sa1,
               CAST(sum(e7) AS BIGINT) AS se7,
               CAST(sum(smape_e8) AS BIGINT) AS ss
        FROM contrib GROUP BY event_type
    )
    SELECT event_type, n_evals,
           {sql_q4("CAST(sa7 AS DOUBLE) / n_evals")} AS mae7,
           {sql_q4("CAST(sa1 AS DOUBLE) / n_evals")} AS mae1,
           {sql_q4("CAST(se7 AS DOUBLE) / n_evals")} AS bias7,
           {sql_q4("CAST(ss AS DOUBLE) / 1e8 / n_evals")} AS smape7,
           {sql_q4("1.0 - CAST(sa7 AS DOUBLE) / sa1")} AS skill_vs_naive1
    FROM agg
    """,
)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast backtest — the ML-ops evaluation loop
    for the forecasting family (events_forecast_baseline /
    events_holt): every day from day 7 on is scored as if forecast
    with the seasonal-naive rule (y_{{t-7}}), reporting MAE, bias,
    sMAPE, and the SKILL against the lag-1 naive — the number that
    says whether weekly seasonality actually helps on this series.

    All error sums are exact integers (counts; sMAPE contributions
    e-8 fixed-point), accumulated in one pass over the bounded daily
    grid: backtesting is a LAG WINDOW, not a per-origin re-fit — the
    reason this shape scales to thousands of series where literal
    re-fitting cannot."""
    dense = _ts_dense(spark, sf_dir)
    wlag = Window.partitionBy("event_type").orderBy("t")
    lagged = dense.select(
        "event_type",
        "y",
        F.lag("y", BACKTEST_LAG).over(wlag).alias("f7"),
        F.lag("y", 1).over(wlag).alias("f1"),
    ).where(F.col("f7").isNotNull() & F.col("f1").isNotNull())
    smape = F.when(F.col("y") + F.col("f7") == 0, F.lit(0.0)).otherwise(
        F.lit(2.0)
        * F.abs(F.col("y") - F.col("f7"))
        / (F.col("y") + F.col("f7"))
    )
    contrib = lagged.select(
        "event_type",
        (F.col("y") - F.col("f7")).alias("e7"),
        F.abs(F.col("y") - F.col("f7")).alias("a7"),
        F.abs(F.col("y") - F.col("f1")).alias("a1"),
        F.floor(smape * F.lit(1e8) + F.lit(0.5)).cast("long").alias("smape_e8"),
    )
    agg = contrib.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        F.sum("a7").cast("long").alias("sa7"),
        F.sum("a1").cast("long").alias("sa1"),
        F.sum("e7").cast("long").alias("se7"),
        F.sum("smape_e8").cast("long").alias("ss"),
    )
    return agg.select(
        "event_type",
        "n_evals",
        q4(F.col("sa7").cast("double") / F.col("n_evals")).alias("mae7"),
        q4(F.col("sa1").cast("double") / F.col("n_evals")).alias("mae1"),
        q4(F.col("se7").cast("double") / F.col("n_evals")).alias("bias7"),
        q4(
            F.col("ss").cast("double") / F.lit(1e8) / F.col("n_evals")
        ).alias("smape7"),
        q4(
            F.lit(1.0) - F.col("sa7").cast("double") / F.col("sa1")
        ).alias("skill_vs_naive1"),
    )


# --------------------------------------------- financial dedup / causal

DUP_PAY_PCT = 20  # amounts within 5% (cross-multiplied: diff*20 <= amt)
DUP_PAY_DAYS = 14


@register(
    "orders_duplicate_payments",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey,
               CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents,
               CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                    AS BIGINT) AS day_n
        FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.cents AS cents_a, b.cents AS cents_b,
           CAST(abs(a.cents - b.cents) AS BIGINT) AS cents_diff,
           CAST(abs(a.day_n - b.day_n) AS BIGINT) AS days_apart
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
    WHERE abs(a.cents - b.cents) * {DUP_PAY_PCT} <= least(a.cents, b.cents)
      AND abs(a.day_n - b.day_n) <= {DUP_PAY_DAYS}
    """,
)
def orders_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment detection — the fintech fraud/error screen:
    pairs of orders from the SAME customer whose amounts agree
    within 5% and whose dates fall within 14 days. The numeric/
    temporal-proximity sibling of join_fuzzy_names: here the
    blocking key is the customer (the only equi-component), and the
    tolerance predicates run inside each customer's block.

    All-integer predicates: 5%-proximity as cross-multiplied cents
    (|Δ|·20 ≤ min(amount_a, amount_b) — symmetric, so the verdict
    cannot flip on which duplicate drew the smaller surrogate key,
    and no float epsilon to disagree on), date
    proximity on day numbers. Scale: candidate pairs ∝ Σ per-
    customer-order-count², bounded in practice (payments per payer);
    for pathological payers the amount-bucket second blocking key
    (join on cents DIV bucket ± 1) drops in as one more equi-join
    column — documented, not needed at fixture skew."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        cents(F.col("o_totalprice")).alias("cents"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_n"),
    )
    a, b = o.alias("a"), o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .where(
            (
                F.abs(F.col("a.cents") - F.col("b.cents")) * DUP_PAY_PCT
                <= F.least(F.col("a.cents"), F.col("b.cents"))
            )
            & (F.abs(F.col("a.day_n") - F.col("b.day_n")) <= DUP_PAY_DAYS)
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("key_a"),
            F.col("b.o_orderkey").alias("key_b"),
            F.col("a.cents").alias("cents_a"),
            F.col("b.cents").alias("cents_b"),
            F.abs(F.col("a.cents") - F.col("b.cents"))
            .cast("long")
            .alias("cents_diff"),
            F.abs(F.col("a.day_n") - F.col("b.day_n"))
            .cast("long")
            .alias("days_apart"),
        )
    )


DID_SPLIT = "2024-01-16"  # pre = before, post = from this date


@register(
    "events_diff_in_diff",
    oracle=f"""
    WITH cells AS (
        SELECT user_id % 2 AS grp,
               CASE WHEN CAST(ts AS DATE) < DATE '{DID_SPLIT}' THEN 0
                    ELSE 1 END AS period,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        FROM events
    ), m AS (
        SELECT grp, period, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(cents) AS BIGINT) AS s1,
               CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS s2
        FROM cells GROUP BY grp, period
    ), wide AS (
        SELECT
          (SELECT n FROM m WHERE grp=0 AND period=0) AS n_a0,
          (SELECT s1 FROM m WHERE grp=0 AND period=0) AS s_a0,
          (SELECT s2 FROM m WHERE grp=0 AND period=0) AS q_a0,
          (SELECT n FROM m WHERE grp=0 AND period=1) AS n_a1,
          (SELECT s1 FROM m WHERE grp=0 AND period=1) AS s_a1,
          (SELECT s2 FROM m WHERE grp=0 AND period=1) AS q_a1,
          (SELECT n FROM m WHERE grp=1 AND period=0) AS n_b0,
          (SELECT s1 FROM m WHERE grp=1 AND period=0) AS s_b0,
          (SELECT s2 FROM m WHERE grp=1 AND period=0) AS q_b0,
          (SELECT n FROM m WHERE grp=1 AND period=1) AS n_b1,
          (SELECT s1 FROM m WHERE grp=1 AND period=1) AS s_b1,
          (SELECT s2 FROM m WHERE grp=1 AND period=1) AS q_b1
    )
    SELECT n_a0, n_a1, n_b0, n_b1,
           {sql_q4("CAST(s_a0 AS DOUBLE)/n_a0/100")} AS mean_a_pre,
           {sql_q4("CAST(s_a1 AS DOUBLE)/n_a1/100")} AS mean_a_post,
           {sql_q4("CAST(s_b0 AS DOUBLE)/n_b0/100")} AS mean_b_pre,
           {sql_q4("CAST(s_b1 AS DOUBLE)/n_b1/100")} AS mean_b_post,
           {sql_q4("(CAST(s_b1 AS DOUBLE)/n_b1 - CAST(s_b0 AS DOUBLE)/n_b0"
                   " - (CAST(s_a1 AS DOUBLE)/n_a1"
                   "    - CAST(s_a0 AS DOUBLE)/n_a0)) / 100")} AS did,
           {sql_q4("sqrt("
                   " (CAST(q_a0 AS DOUBLE) - CAST(s_a0 AS DOUBLE)/n_a0*s_a0)"
                   "   / (n_a0 - 1) / n_a0"
                   " + (CAST(q_a1 AS DOUBLE) - CAST(s_a1 AS DOUBLE)/n_a1*s_a1)"
                   "   / (n_a1 - 1) / n_a1"
                   " + (CAST(q_b0 AS DOUBLE) - CAST(s_b0 AS DOUBLE)/n_b0*s_b0)"
                   "   / (n_b0 - 1) / n_b0"
                   " + (CAST(q_b1 AS DOUBLE) - CAST(s_b1 AS DOUBLE)/n_b1*s_b1)"
                   "   / (n_b1 - 1) / n_b1) / 100")} AS se_did
    FROM wide
    """,
)
def events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the causal-inference staple the
    experimentation family lacked: mean event value per
    (cohort × pre/post) cell, DiD = (B_post−B_pre) − (A_post−A_pre),
    with the four-cell pooled standard error. The estimator removes
    both the stable group difference and the common time shock —
    what an A/B readout cannot do when assignment wasn't random in
    time.

    Everything reduces to 12 integers (n, Σ, Σ² per cell — Σ² as
    int128), so the whole analysis is ONE data-sized hash aggregate
    and a fixed-shape scalar epilogue; the same sufficient-statistic
    discipline as events_ab_test, extended to variance terms."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    c = cents(F.col("value"))
    cells = e.select(
        (F.col("user_id") % 2).alias("grp"),
        F.when(
            F.col("ts").cast("date") < F.lit(DID_SPLIT).cast("date"), 0
        )
        .otherwise(1)
        .alias("period"),
        c.alias("cents"),
    )
    m = cells.groupBy("grp", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec)).alias("s2"),
    )

    def cell(g, p, col):
        return F.max(
            F.when((F.col("grp") == g) & (F.col("period") == p), F.col(col))
        )

    wide = m.agg(
        *[
            cell(g, p, col).alias(f"{name}_{'ab'[g]}{p}")
            for g in (0, 1)
            for p in (0, 1)
            for col, name in (("n", "n"), ("s1", "s"), ("s2", "q"))
        ]
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)  # noqa: E731
    var_term = (
        lambda q, s, n: (
            F.col(q).cast("double") - F.col(s).cast("double") / F.col(n) * F.col(s)
        )
        / (F.col(n) - 1)
        / F.col(n)
    )  # noqa: E731
    did = (
        mean("s_b1", "n_b1")
        - mean("s_b0", "n_b0")
        - (mean("s_a1", "n_a1") - mean("s_a0", "n_a0"))
    ) / 100
    se = (
        F.sqrt(
            var_term("q_a0", "s_a0", "n_a0")
            + var_term("q_a1", "s_a1", "n_a1")
            + var_term("q_b0", "s_b0", "n_b0")
            + var_term("q_b1", "s_b1", "n_b1")
        )
        / 100
    )
    return wide.select(
        "n_a0",
        "n_a1",
        "n_b0",
        "n_b1",
        q4(mean("s_a0", "n_a0") / 100).alias("mean_a_pre"),
        q4(mean("s_a1", "n_a1") / 100).alias("mean_a_post"),
        q4(mean("s_b0", "n_b0") / 100).alias("mean_b_pre"),
        q4(mean("s_b1", "n_b1") / 100).alias("mean_b_post"),
        q4(did).alias("did"),
        q4(se).alias("se_did"),
    )


POWER_Z_ALPHA = 1.96  # two-sided alpha = 0.05
POWER_Z_BETA = 0.8416  # power = 0.80
POWER_MDE_REL = 0.05  # minimum detectable effect: 5% of the mean


@register(
    "events_power_analysis",
    oracle=f"""
    WITH s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS s1,
               CAST(sum(CAST(CAST(floor(value*100 + 0.5) AS BIGINT)
                             AS HUGEINT)
                        * CAST(floor(value*100 + 0.5) AS BIGINT))
                    AS HUGEINT) AS s2
        FROM events GROUP BY event_type
    ), m AS (
        SELECT event_type, n,
               CAST(s1 AS DOUBLE) / n AS mu,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) / n * s1) / (n - 1)
                   AS var
        FROM s
    )
    SELECT event_type, n, {sql_q4("mu / 100")} AS mean_value,
           {sql_q4("sqrt(var) / 100")} AS sd_value,
           {sql_q4("sqrt(var) / mu")} AS cv,
           CAST(ceil(2.0 * var
                * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                / (({POWER_MDE_REL} * mu) * ({POWER_MDE_REL} * mu)))
                AS BIGINT) AS n_per_arm,
           CAST(ceil(CAST(ceil(2.0 * var
                * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                * ({POWER_Z_ALPHA} + {POWER_Z_BETA})
                / (({POWER_MDE_REL} * mu) * ({POWER_MDE_REL} * mu)))
                AS DOUBLE) * 2.0 / n) AS BIGINT) AS runs_needed
    FROM m
    """,
)
def events_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-priori power analysis from observed moments — the third leg
    of the experimentation family (events_ab_test reads out,
    events_ab_sequential monitors, THIS sizes the next test): per
    event_type, the per-arm sample size n = 2σ²(z_α+z_β)²/δ² to
    detect a 5%-of-mean effect at 80% power, plus how many runs of
    the current daily volume that takes.

    Variance comes from the same exact integer moment sums as
    events_ab_test's conversions (Σ, Σ² with an int128 accumulator),
    so the sizing is one data-sized hash aggregate and a scalar
    epilogue — the planning query costs nothing beyond the
    dashboard it already powers."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    c = cents(F.col("value"))
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c).cast("long").alias("s1"),
        F.sum(c.cast(dec) * c.cast(dec)).alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") / F.col("n") * F.col("s1")
    ) / (F.col("n") - 1)
    zsum = POWER_Z_ALPHA + POWER_Z_BETA
    n_per_arm = F.ceil(
        F.lit(2.0)
        * var
        * F.lit(zsum)
        * F.lit(zsum)
        / ((F.lit(POWER_MDE_REL) * mu) * (F.lit(POWER_MDE_REL) * mu))
    ).cast("long")
    return s.select(
        "event_type",
        "n",
        q4(mu / 100).alias("mean_value"),
        q4(F.sqrt(var) / 100).alias("sd_value"),
        q4(F.sqrt(var) / mu).alias("cv"),
        n_per_arm.alias("n_per_arm"),
        F.ceil(n_per_arm.cast("double") * 2.0 / F.col("n"))
        .cast("long")
        .alias("runs_needed"),
    )


MIX_SPLIT = "2024-01-16"  # period 0 = before, period 1 = from this date


@register(
    "events_mix_shift",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               CASE WHEN CAST(ts AS DATE) < DATE '{MIX_SPLIT}' THEN 0
                    ELSE 1 END AS period,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT period, CAST(sum(n) AS BIGINT) AS n_tot
        FROM cells GROUP BY period
    ), wide AS (
        SELECT c0.event_type,
               c0.n AS n0, c1.n AS n1,
               CAST(c0.n AS DOUBLE) / t0.n_tot AS share0,
               CAST(c1.n AS DOUBLE) / t1.n_tot AS share1,
               CAST(c0.cents AS DOUBLE) / c0.n / 100 AS rate0,
               CAST(c1.cents AS DOUBLE) / c1.n / 100 AS rate1
        FROM cells c0
        JOIN cells c1 ON c0.event_type = c1.event_type
        JOIN tot t0 ON t0.period = 0 JOIN tot t1 ON t1.period = 1
        WHERE c0.period = 0 AND c1.period = 1
    )
    SELECT event_type, n0, n1,
           {sql_q4("share0")} AS share0, {sql_q4("share1")} AS share1,
           {sql_q4("rate0")} AS rate0, {sql_q4("rate1")} AS rate1,
           {sql_q4("(share1 - share0) * rate0")} AS mix_effect,
           {sql_q4("share1 * (rate1 - rate0)")} AS rate_effect,
           {sql_q4("share1 * rate1 - share0 * rate0")} AS total_effect
    FROM wide
    """,
)
def events_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift decomposition (Oaxaca-style) of the average event
    value between the two halves of the month: per event_type, the
    change in its contribution splits EXACTLY into a mix effect
    (share moved, old rate held: (s₁−s₀)·r₀) and a rate effect (new
    share, rate moved: s₁·(r₁−r₀)) — the "did the metric move
    because behavior changed or because the traffic mix changed"
    question every metrics review asks, answered additively
    (mix + rate = total per type, Σ total = overall Δ).

    One data-sized hash aggregate to (type × period); shares, rates,
    and effects are a broadcast-joined scalar epilogue on the
    bounded type grid — same sufficient-statistic shape as
    events_diff_in_diff with the decomposition algebra on top."""
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type",
        F.when(
            F.col("ts").cast("date") < F.lit(MIX_SPLIT).cast("date"), 0
        )
        .otherwise(1)
        .alias("period"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents(F.col("value"))).cast("long").alias("cents"),
    ).localCheckpoint(eager=False)
    tot = cells.groupBy("period").agg(F.sum("n").cast("long").alias("n_tot"))
    c0 = cells.where(F.col("period") == 0).select(
        "event_type", F.col("n").alias("n0"), F.col("cents").alias("cents0")
    )
    c1 = cells.where(F.col("period") == 1).select(
        "event_type", F.col("n").alias("n1"), F.col("cents").alias("cents1")
    )
    t0 = tot.where(F.col("period") == 0).select(
        F.col("n_tot").alias("nt0")
    )
    t1 = tot.where(F.col("period") == 1).select(
        F.col("n_tot").alias("nt1")
    )
    wide = (
        c0.join(c1, "event_type")
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
        .select(
            "event_type",
            "n0",
            "n1",
            (F.col("n0").cast("double") / F.col("nt0")).alias("share0"),
            (F.col("n1").cast("double") / F.col("nt1")).alias("share1"),
            (F.col("cents0").cast("double") / F.col("n0") / 100).alias("rate0"),
            (F.col("cents1").cast("double") / F.col("n1") / 100).alias("rate1"),
        )
    )
    return wide.select(
        "event_type",
        "n0",
        "n1",
        q4(F.col("share0")).alias("share0"),
        q4(F.col("share1")).alias("share1"),
        q4(F.col("rate0")).alias("rate0"),
        q4(F.col("rate1")).alias("rate1"),
        q4((F.col("share1") - F.col("share0")) * F.col("rate0")).alias(
            "mix_effect"
        ),
        q4(F.col("share1") * (F.col("rate1") - F.col("rate0"))).alias(
            "rate_effect"
        ),
        q4(
            F.col("share1") * F.col("rate1") - F.col("share0") * F.col("rate0")
        ).alias("total_effect"),
    )


# ----------------------------------------------- robust (MAD) outliers

MAD_K = 1.4826  # consistency constant: MAD * 1.4826 ~ sigma for normals
MAD_NSIG = 3.0


@register(
    "events_anomaly_mad",
    oracle=f"""
    WITH base AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS vc
        FROM events
    ), med AS (
        SELECT event_type, vc,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY vc) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM base
    ), m1 AS (
        SELECT event_type, max(n) AS n,
               max(CASE WHEN rn = (n + 1) // 2 THEN vc END) AS med
        FROM med GROUP BY event_type
    ), dev AS (
        SELECT b.event_type, abs(b.vc - m1.med) AS d, b.vc, m1.med, m1.n
        FROM base b JOIN m1 ON m1.event_type = b.event_type
    ), dmed AS (
        SELECT event_type, d,
               row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
               count(*) OVER (PARTITION BY event_type) AS nn
        FROM dev
    ), m2 AS (
        SELECT event_type,
               max(CASE WHEN rn = (nn + 1) // 2 THEN d END) AS mad
        FROM dmed GROUP BY event_type
    )
    SELECT dev.event_type, CAST(max(dev.n) AS BIGINT) AS n,
           {sql_q4("max(dev.med) / 100.0")} AS median_value,
           {sql_q4("max(m2.mad) / 100.0")} AS mad,
           CAST(count_if(dev.d > {MAD_NSIG} * ({MAD_K} * m2.mad))
                AS BIGINT) AS n_outliers,
           {sql_q4(f"count_if(dev.d > {MAD_NSIG} * ({MAD_K} * m2.mad))"
                   " / CAST(max(dev.n) AS DOUBLE)")} AS outlier_rate
    FROM dev JOIN m2 ON m2.event_type = dev.event_type
    GROUP BY dev.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event_type: median + MAD instead of
    mean + stddev (events_anomaly) — the estimator pair with a 50%
    breakdown point, so the fences themselves cannot be dragged by
    the outliers they are meant to catch (a z-score screen fails
    exactly when contamination is heavy). Flag = |x - med| >
    3 * 1.4826 * MAD, the standard robust-sigma rule.

    Exact medians over integer cents by the index rule rn=(n+1)//2
    (lower median — no interpolation semantics to disagree on),
    computed twice (values, then absolute deviations) as two window
    + aggregate rounds; counts and rates from exact integers. Scale:
    two shuffles on event_type — at 100 TB swap the exact median for
    approx_percentile and keep the identical shape."""
    base = reuse(table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
    ))
    wv = Window.partitionBy("event_type").orderBy("vc")
    wn = Window.partitionBy("event_type")
    med = base.select(
        "event_type",
        "vc",
        F.row_number().over(wv).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    m1 = med.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n") + 1) / 2), F.col("vc")
            )
        ).alias("med"),
    )
    dev = reuse(base.join(m1, "event_type").select(
        "event_type",
        F.abs(F.col("vc") - F.col("med")).alias("d"),
        "med",
        "n",
    ))
    wd = Window.partitionBy("event_type").orderBy("d")
    dmed = dev.select(
        "event_type",
        "d",
        F.row_number().over(wd).alias("rn"),
        F.count("*").over(wn).alias("nn"),
    )
    m2 = dmed.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("nn") + 1) / 2), F.col("d")
            )
        ).alias("mad")
    )
    out = dev.join(m2, "event_type")
    is_out = F.col("d") > F.lit(MAD_NSIG) * (F.lit(MAD_K) * F.col("mad"))
    return out.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        q4(F.max("med") / 100.0).alias("median_value"),
        q4(F.max("mad") / 100.0).alias("mad"),
        F.count_if(is_out).cast("long").alias("n_outliers"),
        q4(
            F.count_if(is_out) / F.max("n").cast("double")
        ).alias("outlier_rate"),
    )


# ------------------------------------------------- interval union/merge

HOLD_US = 300_000_000  # each event holds a 5-minute interval


@register(
    "events_interval_union",
    oracle=f"""
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + {HOLD_US} AS e
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN s > coalesce(max(e) OVER (
                        PARTITION BY user_id ORDER BY s, e, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        -9223372036854775808)
                    THEN 1 ELSE 0 END AS new_island
        FROM iv
    ), islands AS (
        SELECT user_id, s, e,
               sum(new_island) OVER (
                   PARTITION BY user_id ORDER BY s, e, event_id
                   ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged
    ), merged AS (
        SELECT user_id, island, min(s) AS ms, max(e) AS me,
               CAST(count(*) AS BIGINT) AS n_events
        FROM islands GROUP BY user_id, island
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(me - ms) AS BIGINT) AS covered_us,
           CAST(max(me - ms) AS BIGINT) AS longest_us
    FROM merged GROUP BY user_id
    """,
)
def events_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval union per user: each event holds a
    5-minute presence interval; merge every overlapping/touching run
    into maximal intervals and report how much wall-clock each user
    actually covered — the uptime/downtime-merging primitive (SLA
    accounting, ad viewability, machine utilization) that naive
    sum-of-durations double-counts.

    The classic sweep: order intervals by start within user, flag a
    new island when the start exceeds the running max end over all
    PRECEDING rows (ROWS ... 1 PRECEDING — the current row must not
    see itself), prefix-sum the flags into island ids, aggregate
    twice. All integer epoch-microseconds; one shuffle on user_id,
    every window shares that partitioning (single sort, no extra
    exchange). The max-end trick (not lag(e)) is what makes it
    correct when an early interval swallows several later ones."""
    iv = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        ts_us(F.col("ts")).alias("s"),
        (ts_us(F.col("ts")) + F.lit(HOLD_US)).alias("e"),
    )
    wprev = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(
            F.col("s")
            > F.coalesce(
                F.max("e").over(wprev), F.lit(-(1 << 63)).cast("long")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_island"),
    )
    # the prefix-sum window MUST share the flag window's full
    # (s, e, event_id) order: with ties on (s, e) a weaker order could
    # visit a flag-0 row before its flag-1 twin and split/merge
    # islands nondeterministically
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("s", "e", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island").over(wrun).alias("island"),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ms"),
        F.max("e").alias("me"),
        F.count("*").cast("long").alias("n_events"),
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum(F.col("me") - F.col("ms")).cast("long").alias("covered_us"),
        F.max(F.col("me") - F.col("ms")).cast("long").alias("longest_us"),
    )


# --------------------------------------------------- audience overlap

@register(
    "events_user_overlap",
    oracle=f"""
    SELECT type_a, type_b, n_a, n_b, shared AS n_both, jaccard, containment
    FROM ({sql_pairwise_set_overlap(
        "SELECT DISTINCT event_type, user_id AS elem FROM events",
        "event_type", "type_a", "type_b")})
    """,
)
def events_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: exact Jaccard
    and containment of the user sets — the segment-overlap matrix
    behind audience planning ("how much of 'click' is also
    'purchase'?"). Shape that scales: ONE distinct (type, user) pass
    (the only data-sized shuffle), then a self-join keyed on user_id
    whose output is bounded by |types|² per user; sizes join in as a
    broadcast of the |types|-row aggregate. The exact companion to
    the KMV-sketch set operations (agg_kmv_setops) — same question,
    sketch vs exact cost. Overlap math lives in the shared
    pairwise_set_overlap helper (also used by text_vocab_overlap)."""
    dv = (
        table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    out = pairwise_set_overlap(dv, "event_type", "type_a", "type_b")
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.col("shared").alias("n_both"),
        "jaccard",
        "containment",
    )


# --------------------------------------------- time-constrained funnel

FUNNEL_CLICK_US = 3_600_000_000  # click within 1h of first view
FUNNEL_BUY_US = 86_400_000_000  # purchase within 24h of that click


@register(
    "events_funnel_constrained",
    oracle=f"""
    WITH v AS (
        SELECT user_id, min(epoch_us(ts)) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click'
          AND epoch_us(e.ts) > v.t_view
          AND epoch_us(e.ts) <= v.t_view + {FUNNEL_CLICK_US}
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS t_buy
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase'
          AND epoch_us(e.ts) > c.t_click
          AND epoch_us(e.ts) <= c.t_click + {FUNNEL_BUY_US}
        GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_1h,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_buy_24h,
           {sql_q4("CAST((SELECT count(*) FROM c) AS DOUBLE)"
                   " / (SELECT count(*) FROM v)")} AS conv_click,
           {sql_q4("CAST((SELECT count(*) FROM p) AS DOUBLE)"
                   " / nullif((SELECT count(*) FROM c), 0)")} AS conv_buy
    """,
)
def events_funnel_constrained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-CONSTRAINED conversion funnel: click must land within 1h
    of the first view, purchase within 24h of that click — the
    semantics product analytics actually uses (an unconstrained
    funnel, events_funnel, credits conversions weeks apart). Each
    stage is an aggregate-then-join on user_id with the window
    predicate inside the join filter, so attribution windows cost
    nothing extra over the plain funnel: same three shuffles, just
    tighter predicates; integer-microsecond bounds, no timezone
    arithmetic. Output is the one-row funnel summary with step
    conversion rates."""
    e = table(spark, sf_dir, "events").select(
        "user_id", "event_type", ts_us(F.col("ts")).alias("t")
    )
    v = reuse(
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t_view"))
    )
    c = reuse(
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("t") > F.col("t_view"))
            & (F.col("t") <= F.col("t_view") + FUNNEL_CLICK_US)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("t") > F.col("t_click"))
            & (F.col("t") <= F.col("t_click") + FUNNEL_BUY_US)
        )
        .groupBy("user_id")
        .agg(F.min("t").alias("t_buy"))
    )
    nv = v.agg(F.count("*").cast("long").alias("n_view"))
    nc = c.agg(F.count("*").cast("long").alias("n_click_1h"))
    np_ = p.agg(F.count("*").cast("long").alias("n_buy_24h"))
    return (
        nv.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
        .select(
            "n_view",
            "n_click_1h",
            "n_buy_24h",
            q4(F.col("n_click_1h").cast("double") / F.col("n_view")).alias(
                "conv_click"
            ),
            q4(
                F.col("n_buy_24h").cast("double")
                / F.nullif(F.col("n_click_1h").cast("double"), F.lit(0.0))
            ).alias("conv_buy"),
        )
    )


# ------------------------------------------------- year-over-year growth

@register(
    "orders_yoy_growth",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(month(o_orderdate) AS BIGINT) AS mo,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ), laged AS (
        SELECT yr, mo, n_orders, cents,
               lag(cents) OVER (PARTITION BY mo ORDER BY yr) AS prev_cents
        FROM monthly
    )
    SELECT yr, mo, n_orders,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           CAST(prev_cents AS DOUBLE) / 100.0 AS revenue_prev_year,
           {sql_q4("CAST(cents - prev_cents AS DOUBLE) / prev_cents")}
             AS yoy_pct
    FROM laged
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth of monthly order revenue — the BI
    staple, expressed so the comparison NEVER needs a global sort:
    lag(1) PARTITIONED BY calendar month ORDER BY year reaches the
    same month one year back directly (12 independent partitions,
    each a few rows per year), instead of the lag(12)-over-global-
    order formulation that funnels the whole grid through one
    partition and breaks when a month is missing. Revenue sums are
    exact integer cents off one hash aggregate; the window runs on
    the tiny (yr, mo) grid. First year of each month has NULL
    prior/growth by construction."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mo"),
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("cents"),
    )
    w = Window.partitionBy("mo").orderBy("yr")
    laged = monthly.withColumn("prev_cents", F.lag("cents").over(w))
    return laged.select(
        "yr",
        "mo",
        "n_orders",
        (F.col("cents").cast("double") / 100.0).alias("revenue"),
        (F.col("prev_cents").cast("double") / 100.0).alias(
            "revenue_prev_year"
        ),
        q4(
            (F.col("cents") - F.col("prev_cents")).cast("double")
            / F.col("prev_cents")
        ).alias("yoy_pct"),
    )


# --------------------------------------------- Markov stationary dist

MARKOV_ITERS = 4
_PI_Q = "1e12"  # fixed-point quantum for per-iteration mass terms


def _markov_iter_sql(prev_cte: str, out_cte: str) -> str:
    # one power-iteration step; each (state -> next) mass term is
    # fixed-point-quantized BEFORE the sum so the per-state total is
    # an exact integer (order-free) in both engines
    return f"""
    {out_cte} AS (
        SELECT p.next AS s,
               CAST(sum(CAST(floor({prev_cte}.pi * p.p * {_PI_Q} + 0.5)
                             AS BIGINT)) AS DOUBLE) / {_PI_Q} AS pi
        FROM {prev_cte} JOIN p ON p.prev = {prev_cte}.s
        GROUP BY 1
    )"""


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ), c AS (
        SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ), r AS (
        SELECT prev, CAST(sum(n) AS BIGINT) AS rs FROM c GROUP BY 1
    ), p AS (
        SELECT c.prev, c.next, CAST(c.n AS DOUBLE) / r.rs AS p
        FROM c JOIN r ON r.prev = c.prev
    ), states AS (SELECT DISTINCT prev AS s FROM c),
    it0 AS (
        SELECT s, 1.0 / (SELECT count(*) FROM states) AS pi FROM states
    ),{_markov_iter_sql("it0", "it1")},{_markov_iter_sql("it1", "it2")},{
        _markov_iter_sql("it2", "it3")},{_markov_iter_sql("it3", "it4")}
    SELECT it4.s AS state, {sql_q4("it4.pi")} AS pi,
           r.rs AS n_transitions_out
    FROM it4 JOIN r ON r.prev = it4.s
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-journey Markov chain
    (events_markov's transition matrix) by 4 power iterations from
    the uniform start — "where do user sessions spend their time in
    the long run", the quantity behind PageRank-style importance
    and journey simulation. The matrix lives as (prev, next, p)
    EDGES, never materialized densely, so an iteration is one join +
    aggregate against a |states|²-bounded table — the same
    Pregel-as-joins shape as graph_pagerank, but over behavioral
    states.

    Determinism through iteration: every mass term pi_i * P_ij is
    fixed-point-quantized (1e-12) before the per-state sum, so each
    iteration's vector is exact and order-free, and four chained
    iterations stay bit-identical across engines — an iterative
    numerical fixpoint under the exact-hash gate."""
    e = table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(wseq).alias("prev")
    ).where(F.col("prev").isNotNull())
    c = seq.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count("*").cast("long").alias("n")
    ).localCheckpoint(eager=False)
    r = c.groupBy("prev").agg(F.sum("n").cast("long").alias("rs"))
    p = c.join(r, "prev").select(
        "prev", "next", (F.col("n").cast("double") / F.col("rs")).alias("p")
    )
    states = c.select(F.col("prev").alias("s")).distinct()
    nstates = states.agg(F.count("*").alias("ns"))
    pi = states.crossJoin(F.broadcast(nstates)).select(
        "s", (F.lit(1.0) / F.col("ns")).alias("pi")
    )
    quantum = float(_PI_Q)
    for _ in range(MARKOV_ITERS):
        pi = (
            pi.join(p, pi["s"] == p["prev"])
            .groupBy(F.col("next").alias("s2"))
            .agg(
                (
                    F.sum(
                        F.floor(
                            F.col("pi") * F.col("p") * quantum + F.lit(0.5)
                        ).cast("long")
                    ).cast("double")
                    / quantum
                ).alias("pi")
            )
            .select(F.col("s2").alias("s"), "pi")
        )
    return pi.join(r, pi["s"] == r["prev"]).select(
        F.col("s").alias("state"),
        q4(F.col("pi")).alias("pi"),
        F.col("rs").alias("n_transitions_out"),
    )


# ------------------------------------------------------ skyline query

@register(
    "orders_skyline",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS cents,
               CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                    AS BIGINT) AS day_n
        FROM orders
    ), ranked AS (
        SELECT o_orderkey, cents, day_n,
               max(day_n) OVER (ORDER BY cents DESC
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS best_day_higher,
               max(day_n) OVER (PARTITION BY cents) AS best_day_same
        FROM pts
    )
    SELECT o_orderkey, cents, day_n
    FROM ranked
    WHERE day_n = best_day_same
      AND (best_day_higher IS NULL OR day_n > best_day_higher)
    """,
)
def orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query over orders, maximizing
    (price, recency): an order survives iff NO other order is >= on
    both dimensions and > on one — the classic database operator
    (Borzsony/Kossmann/Stocker, ICDE 2001 — public) behind
    best-tradeoff shortlists. The 2D case needs NO quadratic
    dominance join: sort by price DESC once, keep a running max of
    the date over STRICTLY higher-priced rows (RANGE ... 1 PRECEDING
    on the price axis = 'price > mine', immune to price ties), and a
    row is on the frontier iff it beats that running max AND is the
    best date within its own price tie-group. One sort, two windows,
    linear work — at 100 TB pre-filter with a coarse grid max as the
    scalable first pass (same trick as join_spatial_grid) before the
    windowed sweep; the RANGE window over prices is this key's
    single global sort, bounded output by frontier size."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents(F.col("o_totalprice")).alias("cents"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day_n"),
    )
    # scalable prefilter: coarse price buckets -> per-bucket max day
    # -> running max over STRICTLY higher buckets (a bounded,
    # value-range-sized window). Any row whose day is below that max
    # is dominated by some row in a strictly higher price bucket
    # (higher bucket => strictly higher price), so only a frontier
    # superset reaches the exact global sweep — the one remaining
    # unpartitioned window runs on the pruned candidates, not the
    # corpus.
    bkt = o.withColumn("bkt", F.floor(F.col("cents") / F.lit(1024)))
    bmax = bkt.groupBy("bkt").agg(F.max("day_n").alias("bday"))
    wb = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bcut = bmax.select(
        "bkt", F.max("bday").over(wb).alias("cut_day")
    )
    cand = bkt.join(F.broadcast(bcut), "bkt").where(
        F.col("cut_day").isNull() | (F.col("day_n") >= F.col("cut_day"))
    )
    whigher = (
        Window.orderBy(F.col("cents").desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    wsame = Window.partitionBy("cents")
    ranked = cand.select(
        "o_orderkey",
        "cents",
        "day_n",
        F.max("day_n").over(whigher).alias("best_day_higher"),
        F.max("day_n").over(wsame).alias("best_day_same"),
    )
    return ranked.where(
        (F.col("day_n") == F.col("best_day_same"))
        & (
            F.col("best_day_higher").isNull()
            | (F.col("day_n") > F.col("best_day_higher"))
        )
    ).select("o_orderkey", "cents", "day_n")


# ------------------------------------------------ rolling trend slope

SLOPE_WIN = 14  # trailing window (days)


@register(
    "events_rolling_slope",
    oracle=f"""
    WITH RECURSIVE {_TS_DENSE_SQL},
    w AS (
        SELECT event_type, t, y,
               CAST(count(*) OVER win AS BIGINT) AS n,
               CAST(sum(t) OVER win AS BIGINT) AS st,
               CAST(sum(y) OVER win AS BIGINT) AS sy,
               CAST(sum(t*t) OVER win AS BIGINT) AS stt,
               CAST(sum(t*y) OVER win AS BIGINT) AS sty
        FROM dense
        WINDOW win AS (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN {SLOPE_WIN - 1} PRECEDING
                       AND CURRENT ROW)
    )
    SELECT event_type, t, y,
           {sql_q4("(CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)"
                   " / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)")}
             AS slope
    FROM w WHERE n = {SLOPE_WIN}
    """,
)
def events_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling OLS trend slope of the daily event volume (trailing
    14-day window per event_type) — the local-trend feature behind
    "is this metric accelerating" monitors and forecasting feature
    sets: a windowed version of agg_linear_trend. The sufficient
    statistics (n, Σt, Σy, Σt², Σty) accumulate as EXACT BIGINTs
    inside ROWS frames that all share one (event_type, t) sort, so
    the slope is a closed-form expression per row — no per-window
    refit, no UDF, and the cost at 100 TB is the daily-rollup tier's,
    not the event tier's. Windows shorter than 14 days are dropped
    (the n = 14 filter) so every emitted slope covers a full
    window."""
    dense = _ts_dense(spark, sf_dir)
    win = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(-(SLOPE_WIN - 1), 0)
    )
    w = dense.select(
        "event_type",
        "t",
        "y",
        F.count("*").over(win).cast("long").alias("n"),
        F.sum("t").over(win).cast("long").alias("st"),
        F.sum("y").over(win).cast("long").alias("sy"),
        F.sum(F.col("t") * F.col("t")).over(win).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).over(win).cast("long").alias("sty"),
    )
    return w.where(F.col("n") == SLOPE_WIN).select(
        "event_type",
        "t",
        "y",
        q4(
            (
                F.col("n").cast("double") * F.col("sty")
                - F.col("st").cast("double") * F.col("sy")
            )
            / (
                F.col("n").cast("double") * F.col("stt")
                - F.col("st").cast("double") * F.col("st")
            )
        ).alias("slope"),
    )


# --------------------------------------------------- volatility bands

BAND_WIN = 14
BAND_K = 2.0


@register(
    "events_volatility_band",
    oracle=f"""
    WITH RECURSIVE {_TS_DENSE_SQL},
    w AS (
        SELECT event_type, t, y,
               CAST(count(*) OVER win AS BIGINT) AS n,
               CAST(sum(y) OVER win AS BIGINT) AS sy,
               CAST(sum(y*y) OVER win AS BIGINT) AS syy
        FROM dense
        WINDOW win AS (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN {BAND_WIN} PRECEDING
                       AND 1 PRECEDING)
    ), b AS (
        SELECT event_type, t, y, n,
               CAST(sy AS DOUBLE) / n AS mu,
               sqrt(greatest((CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * sy / n) / n, 0.0)) AS sigma
        FROM w WHERE n = {BAND_WIN}
    )
    SELECT event_type, t, y,
           {sql_q4("mu")} AS mean_trailing,
           {sql_q4("sigma")} AS sigma_trailing,
           {sql_q4(f"mu - {BAND_K} * sigma")} AS band_lo,
           {sql_q4(f"mu + {BAND_K} * sigma")} AS band_hi,
           (y > mu + {BAND_K} * sigma) AS breakout_up,
           (y < mu - {BAND_K} * sigma) AS breakout_down
    FROM b
    """,
)
def events_volatility_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing volatility band (Bollinger-style, mean ± 2σ of the
    PRIOR 14 days) per event_type daily volume, with breakout flags —
    the alerting primitive that events_anomaly's global z-score
    can't express: the band adapts locally, and excluding the
    current row from its own band (ROWS ... 1 PRECEDING) keeps a
    genuine spike from inflating the very σ that should flag it.
    Window sums are exact BIGINTs over the daily grid (shared
    (event_type, t) sort with events_rolling_slope's frames), the
    population σ comes off the two power sums in one fixed-order
    expression, and the breakout comparison is the same
    exact-int-vs-derived-double on both engines. Daily-rollup-tier
    cost at any scale."""
    dense = _ts_dense(spark, sf_dir)
    win = (
        Window.partitionBy("event_type")
        .orderBy("t")
        .rowsBetween(-BAND_WIN, -1)
    )
    w = dense.select(
        "event_type",
        "t",
        "y",
        F.count("*").over(win).cast("long").alias("n"),
        F.sum("y").over(win).cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).over(win).cast("long").alias("syy"),
    ).where(F.col("n") == BAND_WIN)
    mu = F.col("sy").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.greatest(
            (
                F.col("syy").cast("double")
                - F.col("sy").cast("double") * F.col("sy") / F.col("n")
            )
            / F.col("n"),
            F.lit(0.0),
        )
    )
    b = w.select(
        "event_type", "t", "y", mu.alias("mu"), sigma.alias("sigma")
    )
    return b.select(
        "event_type",
        "t",
        "y",
        q4(F.col("mu")).alias("mean_trailing"),
        q4(F.col("sigma")).alias("sigma_trailing"),
        q4(F.col("mu") - BAND_K * F.col("sigma")).alias("band_lo"),
        q4(F.col("mu") + BAND_K * F.col("sigma")).alias("band_hi"),
        (F.col("y") > F.col("mu") + BAND_K * F.col("sigma")).alias(
            "breakout_up"
        ),
        (F.col("y") < F.col("mu") - BAND_K * F.col("sigma")).alias(
            "breakout_down"
        ),
    )


# ===================================================== round-6 wave A
# BI / financial analytics: ABC classification, price elasticity,
# drawdown, tail risk. Same discipline as the rest of the module:
# integer sufficient statistics, fixed-point quantization for per-row
# transcendentals, global ranks through the bucketed prefix machine.

ABC_A_BPS = 7000  # class A: first 70% of cumulative revenue
ABC_B_BPS = 9000  # class B: next 20%


@register(
    "orders_abc_analysis",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders GROUP BY o_custkey
    ), tot AS (
        SELECT CAST(SUM(revenue_cents) AS BIGINT) AS total_cents FROM rev
    ), ranked AS (
        SELECT o_custkey, revenue_cents,
               CAST(sum(revenue_cents) OVER (
                    ORDER BY revenue_cents DESC, o_custkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_cents
        FROM rev
    )
    SELECT o_custkey, revenue_cents, cum_cents,
           CAST(cum_cents * 10000 // total_cents AS BIGINT) AS cum_bps,
           CASE WHEN cum_cents * 10000 // total_cents <= {ABC_A_BPS} THEN 'A'
                WHEN cum_cents * 10000 // total_cents <= {ABC_B_BPS} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked CROSS JOIN tot
    """,
)
def orders_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of customers by cumulative revenue
    share: rank by revenue desc, running share in integer basis
    points, class A = first 70% of revenue, B = next 20%, C = tail —
    the inventory/CRM segmentation every BI stack ships.

    Scale shape: revenue rollup is one hash aggregate to |customers|
    rows; the global ordered running sum goes through the bucketed
    prefix machine (``global_ordered`` — partitioned windows over
    revenue-derived buckets + hierarchical offset fold), never a
    single-partition window; the grand total joins as a broadcast
    1-row aggregate, and the share math is integer (cents × 10⁴ DIV
    total) so the class boundary is bit-exact, no float drift."""
    o = table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("revenue_cents")
    )
    tot = rev.agg(F.sum("revenue_cents").cast("long").alias("total_cents"))
    ranked = global_ordered(
        rev,
        [F.col("revenue_cents").desc(), F.col("o_custkey")],
        bucket_key="revenue_cents",
        bucket_desc=True,
        sums={"revenue_cents": "cum_cents"},
        rank_col=None,
    )
    bps = F.expr("cum_cents * 10000L DIV total_cents")
    return ranked.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        "revenue_cents",
        "cum_cents",
        bps.alias("cum_bps"),
        F.when(bps <= ABC_A_BPS, "A")
        .when(bps <= ABC_B_BPS, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


ELA_Q = 1_000_000  # fixed-point quantum for per-row log terms


@register(
    "orders_price_elasticity",
    oracle=f"""
    WITH pts AS (
        SELECT p.p_brand,
               CAST(floor(ln(l.l_extendedprice / l.l_quantity) * {ELA_Q}
                    + 0.5) AS BIGINT) AS x,
               CAST(floor(ln(l.l_quantity) * {ELA_Q} + 0.5) AS BIGINT) AS y
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ), m AS (
        SELECT p_brand,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*y) AS HUGEINT) AS sxy,
               CAST(sum(x*x) AS HUGEINT) AS sxx
        FROM pts GROUP BY p_brand
    )
    SELECT p_brand, n,
           {sql_q4(f"(CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)"
                   f" - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))"
                   f" / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)"
                   f" - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))")}
               AS elasticity
    FROM m
    """,
)
def orders_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: the log-log OLS slope
    d ln(qty) / d ln(unit price) — the classic pricing-analytics
    regression, computed AS AN AGGREGATE like agg_linear_trend.

    The hash-parity discipline for transcendentals: ln() per row is
    a double, and summing doubles is partition-order-dependent — so
    each log term is fixed-point-quantized to 1e-6 BEFORE the sum
    (identical integers on both engines), the moment sums are exact
    integers (decimal accumulators against overflow: x,y ~ 1e7 so
    Σx² terms reach 1e17·rows), and doubles appear only in the final
    closed-form slope. One broadcast join (part is the small side),
    one hash aggregate to |brands| rows."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    dec = "decimal(38,0)"
    x = F.floor(
        F.log(F.col("l_extendedprice") / F.col("l_quantity")) * ELA_Q + 0.5
    ).cast("long")
    y = F.floor(F.log(F.col("l_quantity")) * ELA_Q + 0.5).cast("long")
    pts = (
        li.where((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select("p_brand", x.alias("x"), y.alias("y"))
    )
    m = pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    slope = (nd * F.col("sxy").cast("double") - sxd * F.col("sy").cast("double")) / (
        nd * F.col("sxx").cast("double") - sxd * sxd
    )
    return m.select("p_brand", "n", q4(slope).alias("elasticity"))


@register(
    "events_drawdown",
    oracle="""
    WITH flows AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN -1 ELSE 1 END
                 * CAST(floor(value*100 + 0.5) AS BIGINT) AS flow_cents
        FROM events
    ), bals AS (
        SELECT user_id, ts, event_id,
               CAST(sum(flow_cents) OVER w AS BIGINT) AS bal
        FROM flows
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), curve AS (
        SELECT user_id, bal,
               CAST(max(bal) OVER w AS BIGINT) AS peak
        FROM bals
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           CAST(max(peak) AS BIGINT) AS peak_cents,
           CAST(max(peak - bal) AS BIGINT) AS max_drawdown_cents,
           CAST(min(bal) AS BIGINT) AS trough_cents
    FROM curve GROUP BY user_id
    """,
)
def events_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the signed event-value curve
    (error events debit, everything else credits): running balance,
    running peak, the deepest peak-to-trough fall, and the global minimum balance — the risk
    metric behind every portfolio/abuse-budget monitor.

    Scale shape: both windows partition by user_id (ONE shuffle; the
    per-user sort is the only ordered work and users are the natural
    parallelism unit), balances are exact integer cents so running
    max/peak math is order-free within the mandated total order
    (ts, event_id tiebreak). The final rollup reuses the same
    partitioning — no second shuffle under AQE."""
    e = table(spark, sf_dir, "events")
    flows = e.select(
        "user_id",
        "ts",
        "event_id",
        (
            F.when(F.col("event_type") == "error", -1).otherwise(1)
            * cents(F.col("value"))
        ).alias("flow_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = flows.select(
        "user_id",
        "ts",
        "event_id",
        F.sum("flow_cents").over(w).cast("long").alias("bal"),
    ).select(
        "user_id",
        "bal",
        F.max("bal").over(w).cast("long").alias("peak"),
    )
    dd = F.col("peak") - F.col("bal")
    return curve.groupBy("user_id").agg(
        F.max("peak").cast("long").alias("peak_cents"),
        F.max(dd).cast("long").alias("max_drawdown_cents"),
        F.min("bal").cast("long").alias("trough_cents"),
    )


VAR_Q_BPS = 9500  # tail quantile: 95th percentile (in basis points)


@register(
    "events_var_cvar",
    oracle=f"""
    WITH grid AS (
        SELECT event_type,
               CAST(floor(value*100 + 0.5) AS BIGINT) AS v_cents,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), tot AS (
        SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM grid GROUP BY 1
    ), cum AS (
        SELECT g.event_type, g.v_cents, g.c, t.n,
               CAST(sum(g.c) OVER (PARTITION BY g.event_type
                    ORDER BY g.v_cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_c
        FROM grid g JOIN tot t ON t.event_type = g.event_type
    ), var_pt AS (
        SELECT event_type, n, min(v_cents) AS var_cents
        FROM cum
        WHERE cum_c * 10000 >= {VAR_Q_BPS} * n
        GROUP BY event_type, n
    ), tail AS (
        SELECT g.event_type,
               CAST(sum(g.c) AS BIGINT) AS n_tail,
               CAST(sum(g.c * g.v_cents) AS BIGINT) AS tail_cents
        FROM grid g JOIN var_pt v ON v.event_type = g.event_type
        WHERE g.v_cents >= v.var_cents
        GROUP BY g.event_type
    )
    SELECT v.event_type, v.n, v.var_cents, t.n_tail,
           {sql_q4("CAST(t.tail_cents AS DOUBLE) / t.n_tail / 100.0")}
               AS cvar_value
    FROM var_pt v JOIN tail t ON t.event_type = v.event_type
    """,
)
def events_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-Risk and Conditional VaR (expected shortfall) of the
    per-type value distribution at the 95th percentile: VaR = the
    exact discrete quantile (smallest cents value whose cumulative
    count covers 95% of rows — integer cross-multiplied, no float
    rank), CVaR = mean value over the tail at-or-above VaR.

    Scale shape — the stat_ks_test bounded-domain discipline: values
    hash-aggregate onto the (type × cents) grid FIRST, so the
    ordered scan runs over the value domain, not the rows; the
    per-type cumulative window partitions by event_type (bounded
    per-partition by the cents domain; swap in global_ordered per
    type if the money domain ever explodes); tail mass comes from
    integer sums with ONE final division."""
    e = table(spark, sf_dir, "events")
    grid = e.groupBy(
        "event_type", cents(F.col("value")).alias("v_cents")
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).localCheckpoint(eager=False)
    tot = grid.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.join(tot, "event_type").select(
        "event_type",
        "v_cents",
        "c",
        "n",
        F.sum("c").over(wcum).cast("long").alias("cum_c"),
    )
    var_pt = (
        cum.where(F.col("cum_c") * 10000 >= VAR_Q_BPS * F.col("n"))
        .groupBy("event_type", "n")
        .agg(F.min("v_cents").alias("var_cents"))
    )
    tail = (
        grid.join(
            var_pt.select("event_type", "var_cents"), "event_type"
        )
        .where(F.col("v_cents") >= F.col("var_cents"))
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n_tail"),
            F.sum(F.col("c") * F.col("v_cents")).cast("long").alias("tail_cents"),
        )
    )
    return var_pt.join(tail, "event_type").select(
        "event_type",
        "n",
        "var_cents",
        "n_tail",
        q4(
            F.col("tail_cents").cast("double") / F.col("n_tail") / 100.0
        ).alias("cvar_value"),
    )


# ------------------------------------------- supply-chain KPIs

PO_SHIP_SLA_DAYS = 30  # on-time = shipped within 30 days of order


@register(
    "orders_perfect_order",
    oracle=f"""
    WITH lines AS (
        SELECT o.o_orderkey,
               date_trunc('month', o.o_orderdate) AS mon,
               CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate)
                         <= {PO_SHIP_SLA_DAYS}
                     AND l.l_returnflag <> 'R'
                    THEN 1 ELSE 0 END AS ok_line
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), per_order AS (
        SELECT o_orderkey, mon,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(min(ok_line) AS BIGINT) AS perfect
        FROM lines GROUP BY o_orderkey, mon
    )
    SELECT CAST(epoch_us(mon) AS BIGINT) AS month_us,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(perfect) AS BIGINT) AS n_perfect,
           CAST(sum(n_lines) AS BIGINT) AS n_lines,
           CAST(sum(perfect) * 10000 // count(*) AS BIGINT)
               AS perfect_rate_bps
    FROM per_order GROUP BY mon
    """,
)
def orders_perfect_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perfect-order rate per month — the composite supply-chain KPI
    (every line shipped within SLA and nothing returned ⇒ the order
    is 'perfect'; the rate is the number ops dashboards track): an
    order-level ALL-lines conjunction expressed as min() over 0/1
    line flags, then a month rollup in integer basis points.

    Scale shape: ONE shuffle on orderkey joins the fact tables (both
    sides partition on the same key — AQE can pick shuffled-hash),
    the per-order conjunction is a mergeable min() aggregate on the
    same key (no window), and the month tier re-aggregates |orders|
    rows down to |months|. All counters integer end-to-end."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", F.date_trunc("month", "o_orderdate").alias("mon")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    lines = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderkey",
        "mon",
        F.when(
            (
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
                <= PO_SHIP_SLA_DAYS
            )
            & (F.col("l_returnflag") != "R"),
            1,
        )
        .otherwise(0)
        .alias("ok_line"),
    )
    per_order = lines.groupBy("o_orderkey", "mon").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.min("ok_line").cast("long").alias("perfect"),
    )
    return per_order.groupBy("mon").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("perfect").cast("long").alias("n_perfect"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        F.expr("sum(perfect) * 10000L DIV count(1)").alias(
            "perfect_rate_bps"
        ),
    ).select(
        F.unix_micros(F.col("mon")).alias("month_us"),
        "n_orders",
        "n_perfect",
        "n_lines",
        "perfect_rate_bps",
    )


# ------------------------------------------- burst interval detection

BURST_MIN_PER_HOUR = 3  # burst threshold: hourly event count (>= 3 fires at every fixture scale)


@register(
    "events_burst_intervals",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), hot AS (
        SELECT event_type, hr, c,
               CAST(datediff('hour', TIMESTAMP '1970-01-01', hr)
                    AS BIGINT) AS hn
        FROM hourly WHERE c >= {BURST_MIN_PER_HOUR}
    ), isl AS (
        SELECT event_type, hr, c, hn,
               hn - CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY hn) AS BIGINT) AS grp
        FROM hot
    )
    SELECT event_type,
           CAST(epoch_us(min(hr)) AS BIGINT) AS start_us,
           CAST(epoch_us(max(hr)) AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(c) AS BIGINT) AS total_events,
           CAST(max(c) AS BIGINT) AS peak_per_hour
    FROM isl GROUP BY event_type, grp
    """,
)
def events_burst_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: hours where a type's event rate crosses the
    threshold, merged into maximal CONSECUTIVE-hour intervals via
    gaps-and-islands (hour index − row_number is constant within a
    run) — the incident-detection shape behind rate alerting, here
    as an offline batch sweep with interval start/end/peak/total.

    Scale shape: the hourly rollup hash-aggregates the stream down
    to (type × hour) — bounded by the time domain, not rows — and
    the islands window partitions by event_type over those bounded
    per-type hour sequences. Everything after the first aggregate is
    metadata-sized; counters integer end-to-end."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    hot = hourly.where(F.col("c") >= BURST_MIN_PER_HOUR).withColumn(
        "hn",
        (F.unix_micros("hr") / F.lit(3_600_000_000)).cast("long"),
    )
    w = Window.partitionBy("event_type").orderBy("hn")
    isl = hot.withColumn(
        "grp", F.col("hn") - F.row_number().over(w).cast("long")
    )
    return isl.groupBy("event_type", "grp").agg(
        F.unix_micros(F.min("hr")).alias("start_us"),
        F.unix_micros(F.max("hr")).alias("end_us"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("total_events"),
        F.max("c").cast("long").alias("peak_per_hour"),
    ).drop("grp")


# ------------------------------------------- retention half-life fit

RHL_Q = 1_000_000  # fixed-point quantum for per-week log terms
RHL_MAX_WEEK = 4  # fit over weeks 1..4 (fixture spans ~5 weeks)


@register(
    "events_retention_halflife",
    oracle=f"""
    WITH firstw AS (
        SELECT user_id, min(date_trunc('week', ts)) AS w0
        FROM events GROUP BY user_id
    ), act AS (
        SELECT CAST(datediff('week', f.w0, date_trunc('week', e.ts))
                    AS BIGINT) AS week_n,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS active
        FROM events e JOIN firstw f ON e.user_id = f.user_id
        GROUP BY week_n
    ), base AS (
        SELECT CAST(active AS BIGINT) AS cohort FROM act WHERE week_n = 0
    ), pts AS (
        SELECT week_n AS x,
               CAST(floor(ln(CAST(a.active AS DOUBLE) / b.cohort)
                    * {RHL_Q} + 0.5) AS BIGINT) AS ylq
        FROM act a CROSS JOIN base b
        WHERE week_n BETWEEN 1 AND {RHL_MAX_WEEK} AND a.active > 0
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(ylq) AS BIGINT) AS sy,
               CAST(sum(x * ylq) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT n,
           {sql_q4(f"(CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy)"
                   f" / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)"
                   f" / {RHL_Q}")} AS decay_per_week,
           {sql_q4(f"-ln(2) / nullif((CAST(n AS DOUBLE)*sxy"
                   f" - CAST(sx AS DOUBLE)*sy)"
                   f" / (CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx)"
                   f" / {RHL_Q}, 0.0)")} AS halflife_weeks
    FROM m
    """,
)
def events_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life: fit ln(retention_k) = β·k over weeks
    1..4 by OLS-through-the-data and report the decay rate and
    half-life −ln2/β — the single number growth teams quote from a
    retention curve (NULL when the fitted decay is exactly zero —
    a flat curve has no finite half-life).

    Composition discipline: the curve comes from the same
    cohort-join shape as events_retention; the log of each weekly
    retention ratio is fixed-point quantized (1e-6) BEFORE the
    moment sums, so the regression inputs are exact integers and the
    closed-form slope is the only double. Weeks with zero actives
    drop out explicitly (log undefined) rather than silently."""
    e = table(spark, sf_dir, "events")
    firstw = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", F.col("ts"))).alias("w0")
    )
    wk = F.date_trunc("week", F.col("ts"))
    act = reuse(
        e.join(firstw, "user_id")
        .select(
            (F.datediff(wk, F.col("w0")) / 7).cast("long").alias("week_n"),
            "user_id",
        )
        .groupBy("week_n")
        .agg(F.count_distinct("user_id").cast("long").alias("active"))
    )
    base = act.where(F.col("week_n") == 0).select(
        F.col("active").alias("cohort")
    )
    pts = (
        act.where(
            F.col("week_n").between(1, RHL_MAX_WEEK) & (F.col("active") > 0)
        )
        .crossJoin(F.broadcast(base))
        .select(
            F.col("week_n").alias("x"),
            F.floor(
                F.log(F.col("active").cast("double") / F.col("cohort"))
                * RHL_Q
                + 0.5
            )
            .cast("long")
            .alias("ylq"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("ylq").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("ylq")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (
        (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        / RHL_Q
    )
    import math as _math

    return m.select(
        "n",
        q4(slope).alias("decay_per_week"),
        q4(
            F.lit(-_math.log(2)) / F.nullif(slope, F.lit(0.0))
        ).alias("halflife_weeks"),
    )


# ------------------------------------------- peak credit exposure

EXPO_TERM_DAYS = 30  # an order stays open 30 days from o_orderdate


@register(
    "orders_peak_exposure",
    oracle=f"""
    WITH pts AS (
        SELECT o_custkey, o_orderdate AS t, o_orderkey,
               CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS delta
        FROM orders
        UNION ALL
        SELECT o_custkey, o_orderdate + INTERVAL {EXPO_TERM_DAYS} DAY,
               o_orderkey,
               -CAST(floor(o_totalprice*100 + 0.5) AS BIGINT)
        FROM orders
    ), run AS (
        SELECT o_custkey,
               CAST(sum(delta) OVER w AS BIGINT) AS open_cents
        FROM pts
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY t, delta, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT o_custkey,
           CAST(max(open_cents) AS BIGINT) AS peak_exposure_cents,
           CAST(count(*) / 2 AS BIGINT) AS n_orders
    FROM run GROUP BY o_custkey
    """,
)
def orders_peak_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent credit exposure per customer: each order adds
    its value at order date and releases it 30 days later; the peak
    of the running open balance is the number a credit desk sizes
    limits against — the sweep-line (interval-stabbing-max) shape of
    events_concurrency carried over to money.

    Scale shape: the open/close melt doubles the rows, ONE shuffle
    on custkey sorts each customer's ±cents deltas (closes sort
    before opens on date ties via delta asc — exposure releases
    before same-day re-draw, the conservative-but-consistent
    convention both engines pin), and the peak is a mergeable max
    over the running sum. Exact integer cents throughout."""
    o = table(spark, sf_dir, "orders")
    open_pts = o.select(
        "o_custkey",
        F.col("o_orderdate").alias("t"),
        "o_orderkey",
        cents(F.col("o_totalprice")).alias("delta"),
    )
    close_pts = o.select(
        "o_custkey",
        (F.col("o_orderdate") + F.expr(f"INTERVAL {EXPO_TERM_DAYS} DAYS")).alias("t"),
        "o_orderkey",
        (-cents(F.col("o_totalprice"))).alias("delta"),
    )
    pts = open_pts.unionByName(close_pts)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("t", "delta", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select(
        "o_custkey", F.sum("delta").over(w).cast("long").alias("open_cents")
    )
    return run.groupBy("o_custkey").agg(
        F.max("open_cents").cast("long").alias("peak_exposure_cents"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_orders"),
    )


# ------------------------------------------- repeat-purchase intervals


@register(
    "orders_repurchase_interval",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               CAST(datediff('day',
                    lag(o_orderdate) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS BIGINT) AS gap_days
        FROM orders
    ), g AS (
        SELECT o_custkey, gap_days FROM gaps WHERE gap_days IS NOT NULL
    )
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_days) AS BIGINT) AS min_gap_days,
           CAST(max(gap_days) AS BIGINT) AS max_gap_days,
           CAST(sum(gap_days) AS BIGINT) AS sum_gap_days,
           CAST(quantile_disc(gap_days, 0.5) AS BIGINT) AS median_gap_days
    FROM g GROUP BY o_custkey
    """,
)
def orders_repurchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence per customer: the day gaps between
    consecutive orders (lag over the per-customer order history) and
    their min/max/sum/discrete median (lower-median on even counts, identical in both engines) — the inputs to churn-risk rules like
    'overdue = 2× median gap with no order'.

    Scale shape: ONE shuffle on custkey; the lag window and the
    rollup share the same partitioning (AQE reuses the exchange).
    Gaps are exact integer days; the median is per-customer over a
    bounded order count. First orders drop out as NULL lags rather
    than polluting the stats."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        )
        .cast("long")
        .alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
        F.sum("gap_days").cast("long").alias("sum_gap_days"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_days)"
            " AS BIGINT)"
        ).alias("median_gap_days"),
    )


# ------------------------------------------- hysteresis alerting

HYST_HI = 6  # alert turns ON when hourly count crosses above
HYST_LO = 2  # and OFF only when it falls below (debounce band)


@register(
    "events_hysteresis_alerts",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), marked AS (
        SELECT event_type, hr, c,
               CASE WHEN c >= {HYST_HI} THEN 1
                    WHEN c < {HYST_LO} THEN 0 END AS crossing
        FROM hourly
    ), states AS (
        SELECT event_type, hr, c,
               coalesce(last_value(crossing IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   0) AS alert_on
        FROM marked
    )
    SELECT event_type, CAST(epoch_us(hr) AS BIGINT) AS hr_us, c,
           alert_on = 1 AS alert_on
    FROM states
    """,
)
def events_hysteresis_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting with HYSTERESIS (Schmitt-trigger debounce): the alert
    turns ON when the hourly rate crosses the high threshold and
    turns OFF only when it falls below the LOW one — rates wobbling
    inside the band keep the previous state, which is what kills
    alert flapping in real monitors. Stateful-looking, but
    relational: state = the most recent high/low CROSSING, i.e.
    last_value(crossing IGNORE NULLS) over the per-series time
    order — no recursion, no UDF.

    Scale shape: the hourly rollup bounds everything by the time
    domain; the state window partitions by series. The same
    ignore-nulls last_value trick converts any two-threshold state
    machine whose state is a function of the LAST transition into a
    window expression."""
    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    crossing = (
        F.when(F.col("c") >= HYST_HI, 1)
        .when(F.col("c") < HYST_LO, 0)
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    states = hourly.select(
        "event_type",
        "hr",
        "c",
        F.coalesce(
            F.last(crossing, ignorenulls=True).over(w), F.lit(0)
        ).alias("alert_on"),
    )
    return states.select(
        "event_type",
        F.unix_micros("hr").alias("hr_us"),
        "c",
        (F.col("alert_on") == 1).alias("alert_on"),
    )


# ------------------------------------------- SAX symbolic series

SAX_SEG_DAYS = 5  # PAA segment width (days)
SAX_Q = "0.6745"  # N(0,1) quartile breakpoints for a 4-letter alphabet


@register(
    "events_sax_symbolic",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), lim AS (
        SELECT event_type, CAST(min(d) AS BIGINT) AS d0,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(y*y) AS BIGINT) AS syy
        FROM daily GROUP BY event_type
    ), seg AS (
        SELECT d.event_type,
               (d.d - l.d0) // {SAX_SEG_DAYS} AS seg,
               CAST(count(*) AS BIGINT) AS seg_n,
               CAST(sum(d.y) AS BIGINT) AS seg_sy,
               max(l.n) AS n, max(l.sy) AS sy, max(l.syy) AS syy
        FROM daily d JOIN lim l ON l.event_type = d.event_type
        GROUP BY d.event_type, (d.d - l.d0) // {SAX_SEG_DAYS}
    ), paa AS (
        SELECT event_type, CAST(seg AS BIGINT) AS seg, seg_n,
               (CAST(seg_sy AS DOUBLE) / seg_n
                - CAST(sy AS DOUBLE) / n)
               / sqrt(CAST(syy AS DOUBLE) / n
                      - (CAST(sy AS DOUBLE) / n)
                        * (CAST(sy AS DOUBLE) / n)) AS z
        FROM seg
    ), sym AS (
        SELECT event_type, seg, seg_n, z,
               CASE WHEN z < -{SAX_Q} THEN 'a'
                    WHEN z < 0 THEN 'b'
                    WHEN z < {SAX_Q} THEN 'c'
                    ELSE 'd' END AS symbol
        FROM paa
    ), words AS (
        SELECT event_type, string_agg(symbol, '' ORDER BY seg) AS sax_word
        FROM sym GROUP BY event_type
    )
    SELECT s.event_type, s.seg, s.seg_n,
           floor(s.z * 10000 + 0.5) / 10000.0 AS paa_z,
           s.symbol, w.sax_word
    FROM sym s JOIN words w ON w.event_type = s.event_type
    """,
)
def events_sax_symbolic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation, Lin et al. 2003,
    public): each type's daily-count series is z-normalized from its
    integer moment sums, piecewise-aggregated into 5-day segments
    (PAA), and each segment mapped to a 4-letter alphabet by the
    N(0,1) quartile breakpoints - the discretization under symbolic
    motif/anomaly mining; the per-type SAX WORD rides along for
    direct string comparison between series.

    Scale shape: two integer rollups (daily, then per-segment sums
    re-aggregating the daily tier) plus a broadcast per-series
    moment row; z and the breakpoint CASE are final per-segment
    expressions, and the word is a bounded ordered string-agg over
    |segments| rows per series. Everything before the final doubles
    is exact and mergeable."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
        .cast("long")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y")).localCheckpoint(eager=False)
    lim = daily.groupBy("event_type").agg(
        F.min("d").cast("long").alias("d0"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    seg = (
        daily.join(F.broadcast(lim), "event_type")
        .groupBy(
            "event_type",
            F.expr(f"(d - d0) DIV {SAX_SEG_DAYS}").alias("seg"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("seg_n"),
            F.sum("y").cast("long").alias("seg_sy"),
            F.max("n").alias("n"),
            F.max("sy").alias("sy"),
            F.max("syy").alias("syy"),
        ).localCheckpoint(eager=False)
    )
    mu = F.col("sy").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.col("syy").cast("double") / F.col("n") - mu * mu
    )
    z = (F.col("seg_sy").cast("double") / F.col("seg_n") - mu) / sigma
    qv = float(SAX_Q)
    sym = seg.select(
        "event_type",
        F.col("seg").cast("long").alias("seg"),
        "seg_n",
        z.alias("z"),
        F.when(z < -qv, "a")
        .when(z < 0, "b")
        .when(z < qv, "c")
        .otherwise("d")
        .alias("symbol"),
    )
    words = sym.groupBy("event_type").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("seg", "symbol"))
                ),
                lambda x: x["symbol"],
            ),
            "",
        ).alias("sax_word")
    )
    return sym.join(words, "event_type").select(
        "event_type",
        "seg",
        "seg_n",
        (F.floor(F.col("z") * 10000 + 0.5) / 10000.0).alias("paa_z"),
        "symbol",
        "sax_word",
    )


# ------------------------------------------- supplier scorecard

SCORE_SLA_DAYS = 30


@register(
    "orders_supplier_scorecard",
    oracle=f"""
    WITH lines AS (
        SELECT l.l_suppkey, s.s_name, s.s_nationkey,
               CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                    + 0.5) AS BIGINT) AS net_cents,
               CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate)
                         <= {SCORE_SLA_DAYS} THEN 1 ELSE 0 END AS on_time,
               CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS returned
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
    )
    SELECT l_suppkey, s_name,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(net_cents) AS BIGINT) AS revenue_cents,
           CAST(sum(on_time) * 10000 // count(*) AS BIGINT)
               AS on_time_bps,
           CAST(sum(returned) * 10000 // count(*) AS BIGINT)
               AS return_bps,
           CAST((sum(on_time) * 10000 // count(*))
                - (sum(returned) * 10000 // count(*)) AS BIGINT)
               AS score_bps
    FROM lines GROUP BY l_suppkey, s_name
    """,
)
def orders_supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier scorecard — the vendor-management rollup every
    procurement dashboard ships: per supplier, line volume, net
    revenue (discounted, exact cents), on-time-ship rate and return
    rate in integer basis points, and a composite score
    (on-time − returns).

    Scale shape: one orderkey shuffle joins the two fact tables,
    the supplier dim broadcasts, and the scorecard is a single
    mergeable hash aggregate to |suppliers| rows — all counters
    integer, rates by integer division, so the card is hash-exact
    and mergeable across incremental loads."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    lines = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .select(
            "l_suppkey",
            "s_name",
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                + 0.5
            )
            .cast("long")
            .alias("net_cents"),
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
                <= SCORE_SLA_DAYS,
                1,
            )
            .otherwise(0)
            .alias("on_time"),
            F.when(F.col("l_returnflag") == "R", 1)
            .otherwise(0)
            .alias("returned"),
        )
    )
    return lines.groupBy("l_suppkey", "s_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("net_cents").cast("long").alias("revenue_cents"),
        F.expr("sum(on_time) * 10000L DIV count(1)").alias("on_time_bps"),
        F.expr("sum(returned) * 10000L DIV count(1)").alias("return_bps"),
        F.expr(
            "(sum(on_time) * 10000L DIV count(1))"
            " - (sum(returned) * 10000L DIV count(1))"
        ).alias("score_bps"),
    )


# ------------------------------------------- Weibull survival fit

WBL_Q = 1_000_000  # fixed-point quantum for per-point log-log terms
WBL_TMAX = 14


@register(
    "events_weibull_fit",
    oracle=f"""
    WITH span AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(min(ts) AS DATE),
                              CAST(max(ts) AS DATE)) AS BIGINT) AS life_days
        FROM events GROUP BY user_id
    ), horizon(t) AS (
        SELECT unnest(range(1, {WBL_TMAX + 1}))
    ), curve AS (
        SELECT CAST(h.t AS BIGINT) AS t,
               CAST(count_if(s.life_days >= h.t) AS BIGINT) AS surviving,
               CAST(count(*) AS BIGINT) AS cohort
        FROM horizon h CROSS JOIN span s
        GROUP BY h.t
    ), pts AS (
        SELECT CAST(floor(ln(CAST(t AS DOUBLE)) * {WBL_Q} + 0.5)
                    AS BIGINT) AS x,
               CAST(floor(ln(-ln(CAST(surviving AS DOUBLE) / cohort))
                    * {WBL_Q} + 0.5) AS BIGINT) AS y
        FROM curve
        WHERE surviving > 0 AND surviving < cohort
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*y) AS BIGINT) AS sxy,
               CAST(sum(x*x) AS BIGINT) AS sxx
        FROM pts
    )
    SELECT n,
           floor(((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) / nullif(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx, 0.0)) * 10000 + 0.5) / 10000.0 AS shape_k,
           floor(exp(-(((CAST(sy AS DOUBLE) / 1000000 - ((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) / nullif(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx, 0.0)) * CAST(sx AS DOUBLE) / 1000000) / nullif(CAST(n AS DOUBLE), 0.0))) / ((CAST(n AS DOUBLE)*sxy - CAST(sx AS DOUBLE)*sy) / nullif(CAST(n AS DOUBLE)*sxx - CAST(sx AS DOUBLE)*sx, 0.0))) * 10000 + 0.5) / 10000.0 AS scale_days
    FROM m
    """,
)
def events_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull survival-model fit from the cohort curve: regress
    ln(−ln S(t)) on ln t — the straight line a Weibull lifetime
    produces — giving the shape k (slope; k<1 = infant-mortality
    churn, k>1 = wear-out) and scale λ = exp(−intercept/k), the two
    numbers reliability and churn models quote (Weibull plotting,
    public).

    Composition discipline: the curve is events_survival's rollup;
    the log-log points are fixed-point quantized before the OLS
    moment sums (exact integers), degenerate points (S=1 or S=0,
    log undefined) drop explicitly, and the closed-form slope/
    intercept are the only doubles."""
    e = table(spark, sf_dir, "events")
    span = e.groupBy("user_id").agg(
        F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
        .cast("long")
        .alias("life_days")
    )
    horizon = spark.range(1, WBL_TMAX + 1).select(F.col("id").alias("t"))
    curve = (
        F.broadcast(horizon)
        .crossJoin(span)
        .groupBy(F.col("t").cast("long").alias("t"))
        .agg(
            F.sum(F.when(F.col("life_days") >= F.col("t"), 1).otherwise(0))
            .cast("long")
            .alias("surviving"),
            F.count(F.lit(1)).cast("long").alias("cohort"),
        )
    )
    pts = curve.where(
        (F.col("surviving") > 0) & (F.col("surviving") < F.col("cohort"))
    ).select(
        F.floor(F.log(F.col("t").cast("double")) * WBL_Q + 0.5)
        .cast("long")
        .alias("x"),
        F.floor(
            F.log(
                -F.log(
                    F.col("surviving").cast("double") / F.col("cohort")
                )
            )
            * WBL_Q
            + 0.5
        )
        .cast("long")
        .alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    varx = F.nullif(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"),
        F.lit(0.0),
    )
    slope = (
        nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    ) / varx
    intercept = (
        F.col("sy").cast("double") / WBL_Q
        - slope * F.col("sx").cast("double") / WBL_Q
    ) / F.nullif(F.col("n").cast("double"), F.lit(0.0))
    return m.select(
        "n",
        q4(slope).alias("shape_k"),
        q4(F.exp(-intercept / F.nullif(slope, F.lit(0.0)))).alias(
            "scale_days"
        ),
    )


# --------------------------------------- Holt-Winters (additive, m=7)

HW_A, HW_B, HW_G = 0.5, 0.3, 0.4
HW_H = 7


@register(
    "events_holt_winters",
    oracle="""
    WITH RECURSIVE __DENSE__,
    nn AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n
        FROM dense GROUP BY event_type
    ), init AS (
        SELECT event_type,
               sum(CASE WHEN t < 7 THEN CAST(y AS DOUBLE) END) / 7 AS lvl,
               (sum(CASE WHEN t >= 7 AND t < 14 THEN CAST(y AS DOUBLE) END)
                - sum(CASE WHEN t < 7 THEN CAST(y AS DOUBLE) END)) / 49
                   AS tr,
               max(CASE WHEN t = 0 THEN CAST(y AS DOUBLE) END) AS y0, max(CASE WHEN t = 1 THEN CAST(y AS DOUBLE) END) AS y1, max(CASE WHEN t = 2 THEN CAST(y AS DOUBLE) END) AS y2, max(CASE WHEN t = 3 THEN CAST(y AS DOUBLE) END) AS y3, max(CASE WHEN t = 4 THEN CAST(y AS DOUBLE) END) AS y4, max(CASE WHEN t = 5 THEN CAST(y AS DOUBLE) END) AS y5, max(CASE WHEN t = 6 THEN CAST(y AS DOUBLE) END) AS y6
        FROM dense WHERE t < 14 GROUP BY event_type
    ), hw AS (
        SELECT event_type, 6 AS i, lvl, tr,
               y0 - lvl AS s0, y1 - lvl AS s1, y2 - lvl AS s2, y3 - lvl AS s3, y4 - lvl AS s4, y5 - lvl AS s5, y6 - lvl AS s6,
               CAST(0.0 AS DOUBLE) AS sse
        FROM init
        UNION ALL
        SELECT h.event_type, h.i + 1,
               (0.5*(CAST(d.y AS DOUBLE) - (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )) + (1-0.5)*(h.lvl + h.tr)),
               (0.3*((0.5*(CAST(d.y AS DOUBLE) - (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )) + (1-0.5)*(h.lvl + h.tr)) - h.lvl) + (1-0.3)*h.tr),
               CASE WHEN (h.i + 1) % 7 = 0 THEN (0.4*(CAST(d.y AS DOUBLE) - (0.5*(CAST(d.y AS DOUBLE) - (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )) + (1-0.5)*(h.lvl + h.tr))) + (1-0.4)*h.s0) ELSE h.s0 END, CASE WHEN (h.i + 1) % 7 = 1 THEN (0.4*(CAST(d.y AS DOUBLE) - (0.5*(CAST(d.y AS DOUBLE) - (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )) + (1-0.5)*(h.lvl + h.tr))) + (1-0.4)*h.s1) ELSE h.s1 END, CASE WHEN (h.i + 1) % 7 = 2 THEN (0.4*(CAST(d.y AS DOUBLE) - (0.5*(CAST(d.y AS DOUBLE) - (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )) + (1-0.5)*(h.lvl + h.tr))) + (1-0.4)*h.s2) ELSE h.s2 END, CASE WHEN (h.i + 1) % 7 = 3 THEN (0.4*(CAST(d.y AS DOUBLE) - (0.5*(CAST(d.y AS DOUBLE) - (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )) + (1-0.5)*(h.lvl + h.tr))) + (1-0.4)*h.s3) ELSE h.s3 END, CASE WHEN (h.i + 1) % 7 = 4 THEN (0.4*(CAST(d.y AS DOUBLE) - (0.5*(CAST(d.y AS DOUBLE) - (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )) + (1-0.5)*(h.lvl + h.tr))) + (1-0.4)*h.s4) ELSE h.s4 END, CASE WHEN (h.i + 1) % 7 = 5 THEN (0.4*(CAST(d.y AS DOUBLE) - (0.5*(CAST(d.y AS DOUBLE) - (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )) + (1-0.5)*(h.lvl + h.tr))) + (1-0.4)*h.s5) ELSE h.s5 END, CASE WHEN (h.i + 1) % 7 = 6 THEN (0.4*(CAST(d.y AS DOUBLE) - (0.5*(CAST(d.y AS DOUBLE) - (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )) + (1-0.5)*(h.lvl + h.tr))) + (1-0.4)*h.s6) ELSE h.s6 END,
               h.sse + (CAST(d.y AS DOUBLE) - (h.lvl + h.tr + (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END ))) * (CAST(d.y AS DOUBLE) - (h.lvl + h.tr + (CASE WHEN (h.i + 1) % 7 = 0 THEN h.s0 ELSE CASE WHEN (h.i + 1) % 7 = 1 THEN h.s1 ELSE CASE WHEN (h.i + 1) % 7 = 2 THEN h.s2 ELSE CASE WHEN (h.i + 1) % 7 = 3 THEN h.s3 ELSE CASE WHEN (h.i + 1) % 7 = 4 THEN h.s4 ELSE CASE WHEN (h.i + 1) % 7 = 5 THEN h.s5 ELSE CASE WHEN (h.i + 1) % 7 = 6 THEN h.s6 ELSE 0.0 END END END END END END END )))
        FROM hw h
        JOIN dense d ON d.event_type = h.event_type AND d.t = h.i + 1
    ), final AS (
        SELECT h.* , nn.n
        FROM hw h JOIN nn ON nn.event_type = h.event_type
        WHERE h.i = nn.n - 1 AND nn.n >= 15
    ), hs AS (SELECT unnest(generate_series(1, 7)) AS h)
    SELECT f.event_type, f.n, CAST(hz.h AS BIGINT) AS h,
           floor((f.lvl + hz.h * f.tr + (CASE WHEN (f.n - 1 + hz.h) % 7 = 0 THEN f.s0 ELSE CASE WHEN (f.n - 1 + hz.h) % 7 = 1 THEN f.s1 ELSE CASE WHEN (f.n - 1 + hz.h) % 7 = 2 THEN f.s2 ELSE CASE WHEN (f.n - 1 + hz.h) % 7 = 3 THEN f.s3 ELSE CASE WHEN (f.n - 1 + hz.h) % 7 = 4 THEN f.s4 ELSE CASE WHEN (f.n - 1 + hz.h) % 7 = 5 THEN f.s5 ELSE CASE WHEN (f.n - 1 + hz.h) % 7 = 6 THEN f.s6 ELSE 0.0 END END END END END END END )) * 1e4 + 0.5) / 1e4
               AS forecast,
           floor(f.lvl * 1e4 + 0.5) / 1e4 AS level,
           floor(f.tr * 1e4 + 0.5) / 1e4 AS trend,
           floor((f.sse / (f.n - 7)) * 1e4 + 0.5) / 1e4 AS mse
    FROM final f CROSS JOIN hs hz
""".replace("__DENSE__", _TS_DENSE_SQL),
    notes="sequential double recurrence evaluated in IDENTICAL order "
    "by both engines (recursive CTE vs array fold) — same class as "
    "events_holt.",
)
def events_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters additive triple exponential smoothing (level +
    trend + weekly seasonality, m=7) of each type's daily series,
    with a 7-day forecast and one-step-ahead MSE — the seasonal
    upgrade of events_holt and the classic ops-forecasting workhorse
    (Winters 1960, public). Init: first-week mean level, week-over-
    week trend, first-week additive seasonals.

    Scale shape — the events_holt pattern: the recurrence is
    inherently sequential per series, so it runs as ONE executor-
    side array fold over the dense daily rollup (thousands of series
    in parallel, array bounded by the day span; chunk multi-year
    series with carried state). The seasonal state rides in the fold
    struct as 7 named slots updated by position CASE — the oracle's
    recursive CTE mirrors the exact op order, so the doubles agree
    bitwise."""
    a, b, g = float(HW_A), float(HW_B), float(HW_G)
    dense = _ts_dense(spark, sf_dir)
    ser = (
        dense.groupBy("event_type")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("t"), F.col("y").cast("double").alias("y"))
                )
            ).alias("arr")
        )
        .where(F.size(F.col("arr")) >= 15)
    )
    week1 = sum(
        (F.element_at(F.col("arr"), i + 1)["y"] for i in range(1, 7)),
        F.element_at(F.col("arr"), 1)["y"],
    )
    week2 = sum(
        (F.element_at(F.col("arr"), i + 1)["y"] for i in range(8, 14)),
        F.element_at(F.col("arr"), 8)["y"],
    )
    lvl0 = week1 / 7
    acc0 = F.struct(
        lvl0.alias("lvl"),
        ((week2 - week1) / 49).alias("tr"),
        *[
            (F.element_at(F.col("arr"), i + 1)["y"] - lvl0).alias(f"s{i}".format(i=i))
            for i in range(7)
        ],
        F.lit(0.0).alias("sse"),
    )
    rest = F.slice(F.col("arr"), 8, F.size(F.col("arr")) - 7)

    def step(acc, e):
        slot = e["t"] % 7
        s_old = F.lit(0.0)
        for i in range(6, -1, -1):
            s_old = F.when(slot == i, acc[f"s{i}".format(i=i)]).otherwise(s_old)
        lnew = a * (e["y"] - s_old) + (1 - a) * (acc["lvl"] + acc["tr"])
        err = e["y"] - (acc["lvl"] + acc["tr"] + s_old)
        fields = [
            lnew.alias("lvl"),
            (b * (lnew - acc["lvl"]) + (1 - b) * acc["tr"]).alias("tr"),
        ]
        for i in range(7):
            fields.append(
                F.when(
                    slot == i,
                    g * (e["y"] - lnew) + (1 - g) * acc[f"s{i}".format(i=i)],
                )
                .otherwise(acc[f"s{i}".format(i=i)])
                .alias(f"s{i}".format(i=i))
            )
        fields.append((acc["sse"] + err * err).alias("sse"))
        return F.struct(*fields)

    final = ser.select(
        "event_type",
        F.size(F.col("arr")).cast("long").alias("n"),
        F.aggregate(rest, acc0, step).alias("st"),
    )
    hs = spark.range(1, HW_H + 1).select(F.col("id").alias("h"))
    fc_season = F.lit(0.0)
    for i in range(6, -1, -1):
        fc_season = F.when(
            (F.col("n") - 1 + F.col("h")) % 7 == i, F.col("st")[f"s{i}".format(i=i)]
        ).otherwise(fc_season)
    q4e = lambda c: F.floor(c * 1e4 + 0.5) / 1e4  # noqa: E731
    return final.crossJoin(F.broadcast(hs)).select(
        "event_type",
        "n",
        F.col("h").cast("long").alias("h"),
        q4e(
            F.col("st")["lvl"] + F.col("h") * F.col("st")["tr"] + fc_season
        ).alias("forecast"),
        q4e(F.col("st")["lvl"]).alias("level"),
        q4e(F.col("st")["tr"]).alias("trend"),
        q4e(F.col("st")["sse"] / (F.col("n") - 7)).alias("mse"),
    )


# ---------------------------------------------- backlog aging (BI)

# (bucket id, label, inclusive upper age bound in days); the last
# bucket is open-ended.  Written once and rendered into BOTH the
# Spark when-chain and the oracle CASE so the fences cannot drift.
_AGING_BUCKETS = [
    (0, "000-030", 30),
    (1, "031-060", 60),
    (2, "061-090", 90),
    (3, "091-180", 180),
    (4, "181-365", 365),
    (5, "365+", None),
]
_AGING_SQL_CASE = "CASE " + " ".join(
    f"WHEN age <= {hi} THEN {i}" for i, _, hi in _AGING_BUCKETS if hi
) + f" ELSE {_AGING_BUCKETS[-1][0]} END"
_AGING_SQL_LABEL = "CASE " + " ".join(
    f"WHEN bkt = {i} THEN '{lab}'" for i, lab, _ in _AGING_BUCKETS
) + " END"


@register(
    "orders_backlog_aging",
    oracle=f"""
    WITH cut AS (
        SELECT max(o_orderdate) AS cutoff FROM orders
    ), open_o AS (
        SELECT CAST(datediff('day', o_orderdate, cutoff) AS BIGINT) AS age,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders CROSS JOIN cut
        WHERE o_orderstatus IN ('O', 'P')
    ), bucketed AS (
        SELECT {_AGING_SQL_CASE} AS bkt, cents FROM open_o
    ), agg AS (
        SELECT bkt, CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS value_cents
        FROM bucketed GROUP BY bkt
    ), tot AS (
        SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents FROM agg
    )
    SELECT bkt, {_AGING_SQL_LABEL} AS age_bucket, n_orders, value_cents,
           CAST(value_cents * 10000 // total_cents AS BIGINT) AS share_bps
    FROM agg CROSS JOIN tot
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging — the receivables/fulfilment BI
    staple: every order still open (status O or P) as of the corpus
    high-water-mark date, bucketed by age into the standard
    0-30/31-60/61-90/91-180/181-365/365+ bands with order counts,
    open value, and each band's share of total open value (integer
    basis points — exact).

    Scale shape: the as-of date is a broadcast 1-row aggregate; the
    status filter pushes to the scan; ONE hash aggregate collapses
    to ≤6 bucket rows, and the share denominator folds FROM the
    bucket table.  Bucket fences are written once and rendered into
    both engines' CASE chains."""
    o = table(spark, sf_dir, "orders")
    asof = o.agg(F.max("o_orderdate").alias("cutoff"))
    open_o = (
        o.where(F.col("o_orderstatus").isin("O", "P"))
        .crossJoin(F.broadcast(asof))
        .select(
            F.datediff(F.col("cutoff"), F.col("o_orderdate"))
            .cast("long")
            .alias("age"),
            F.floor(F.col("o_totalprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
    )
    bkt = F.lit(_AGING_BUCKETS[-1][0])
    for i, _, hi in reversed(_AGING_BUCKETS[:-1]):
        bkt = F.when(F.col("age") <= hi, i).otherwise(bkt)
    label = F.lit(None).cast("string")
    for i, lab, _ in _AGING_BUCKETS:
        label = F.when(F.col("bkt") == i, lab).otherwise(label)
    agg = (
        open_o.select(bkt.alias("bkt"), "cents")
        .groupBy("bkt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("value_cents"),
        ).localCheckpoint(eager=False)
    )
    tot = agg.agg(F.sum("value_cents").cast("long").alias("total_cents"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "bkt",
        label.alias("age_bucket"),
        "n_orders",
        "value_cents",
        F.expr("value_cents * 10000 DIV total_cents")
        .cast("long")
        .alias("share_bps"),
    )


# ------------------------------- grid density clustering (DBSCAN-lite)

GC_VB_W = 1000  # value-bucket width: 10 currency units in cents
GC_MINPTS = 3   # density threshold per (day, value-bucket) cell
_GC_CELL = 100000  # cell_id = day_n * _GC_CELL + vb (vb < _GC_CELL)


@register(
    "events_grid_cluster",
    oracle=f"""
    WITH RECURSIVE pts AS (
        SELECT CAST(epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP))
                    / 86400000000 AS BIGINT) AS day_n,
               CAST(floor(value*100 + 0.5) AS BIGINT) // {GC_VB_W} AS vb
        FROM events WHERE event_type = 'purchase'
    ), cells AS (
        SELECT day_n, vb, day_n * {_GC_CELL} + vb AS cell_id,
               CAST(count(*) AS BIGINT) AS n_ev
        FROM pts GROUP BY day_n, vb
        HAVING count(*) >= {GC_MINPTS}
    ), edges AS (
        SELECT a.cell_id AS u, b.cell_id AS v
        FROM cells a
        JOIN cells b
          ON abs(a.day_n - b.day_n) <= 1 AND abs(a.vb - b.vb) <= 1
    ), reach AS (
        SELECT cell_id AS nid, cell_id AS x FROM cells
        UNION
        SELECT r.nid, e.v FROM reach r JOIN edges e ON e.u = r.x
    ), labels AS (
        SELECT nid, CAST(min(x) AS BIGINT) AS cluster_id
        FROM reach GROUP BY nid
    )
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           CAST(min(day_n) AS BIGINT) AS day_lo,
           CAST(max(day_n) AS BIGINT) AS day_hi,
           CAST(min(vb) AS BIGINT) AS vb_lo,
           CAST(max(vb) AS BIGINT) AS vb_hi
    FROM labels JOIN cells ON cells.cell_id = labels.nid
    GROUP BY cluster_id
    """,
)
def events_grid_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering of purchase activity in the
    (day, value) plane — the DBSCAN-at-scale recipe: quantize points
    to grid cells, keep cells with ≥ minPts points (density core),
    connect 8-neighborhood-adjacent dense cells, and label connected
    components.  Finds contiguous "hot regions" of spend (a promo
    week at a price band) without any pairwise point distance — the
    standard way density clustering survives 100 TB, since the
    pairwise step collapses to |cells| bounded by the grid, not the
    points.

    Scale shape: ONE hash aggregate to dense grid cells
    (value-domain × calendar bounded); neighbor edges are a bounded
    8-way equi-join (each cell explodes to its 9 neighbor keys and
    equi-joins back — never a distance predicate over points); the
    component labels come from the same O(log D) pointer-jumping
    min-label loop the dedup clusterers use (llm/dedup.py
    ``min_label_components``: ``checkpoint_round`` lineage cuts,
    convergence guard).  The DuckDB oracle proves the labels with a
    recursive transitive closure — tractable because the cell table
    is tiny."""
    from ..llm.dedup import min_label_components

    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    pts = e.select(
        F.unix_date(F.col("ts").cast("date")).cast("long").alias("day_n"),
        (F.floor(F.col("value") * 100 + 0.5).cast("long") / GC_VB_W)
        .cast("long")
        .alias("vb"),
    )
    cells = (
        pts.groupBy("day_n", "vb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ev"))
        .where(F.col("n_ev") >= GC_MINPTS)
        .withColumn("cell_id", F.col("day_n") * _GC_CELL + F.col("vb"))
    )
    nbr = (
        cells.select("cell_id", "day_n", "vb")
        .withColumn("dd", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dv", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            F.col("cell_id").alias("u"),
            ((F.col("day_n") + F.col("dd")) * _GC_CELL
             + (F.col("vb") + F.col("dv"))).alias("nkey"),
        )
    )
    edges = nbr.join(
        cells.select(F.col("cell_id").alias("nkey"), F.col("cell_id").alias("v")),
        "nkey",
    ).select("u", "v")
    labels = min_label_components(edges)
    return (
        labels.join(cells, labels["nid"] == cells["cell_id"])
        .groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n_ev").cast("long").alias("n_events"),
            F.min("day_n").cast("long").alias("day_lo"),
            F.max("day_n").cast("long").alias("day_hi"),
            F.min("vb").cast("long").alias("vb_lo"),
            F.max("vb").cast("long").alias("vb_hi"),
        )
    )


# ----------------------------- Croston intermittent-demand forecast

CR_A = "0.1"      # smoothing constant for both size and interval
CR_VTHRESH = 200  # big-ticket threshold making the series intermittent


@register(
    "events_croston",
    oracle=f"""
    WITH RECURSIVE bounds AS (
        SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
        FROM events
    ), days AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS d, d0
        FROM bounds
    ), daily AS (
        SELECT CAST(ts AS DATE) AS dd, CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE event_type = 'purchase' AND value >= {CR_VTHRESH}
        GROUP BY 1
    ), dense AS (
        SELECT CAST(datediff('day', d0, d) AS BIGINT) AS t,
               coalesce(n, 0) AS y
        FROM days LEFT JOIN daily ON dd = d
    ), nn AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN y > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ndem
        FROM dense
    ), cr AS (
        SELECT CAST(-1 AS BIGINT) AS i, CAST(0 AS DOUBLE) AS z,
               CAST(0 AS DOUBLE) AS p, CAST(0 AS BIGINT) AS q, 0 AS started
        UNION ALL
        SELECT c.i + 1,
               CASE WHEN d.y > 0 AND c.started = 0 THEN CAST(d.y AS DOUBLE)
                    WHEN d.y > 0 THEN {CR_A}*d.y + 0.9*c.z
                    ELSE c.z END,
               CASE WHEN d.y > 0 AND c.started = 0
                        THEN CAST(c.q + 1 AS DOUBLE)
                    WHEN d.y > 0 THEN {CR_A}*(c.q + 1) + 0.9*c.p
                    ELSE c.p END,
               CASE WHEN d.y > 0 THEN 0 ELSE c.q + 1 END,
               CASE WHEN d.y > 0 THEN 1 ELSE c.started END
        FROM cr c JOIN dense d ON d.t = c.i + 1
    )
    SELECT n AS n_periods, ndem AS n_demand_days,
           {sql_q4("z")} AS demand_level,
           {sql_q4("p")} AS interval_level,
           {sql_q4("z / p")} AS croston_forecast,
           {sql_q4("(1.0 - {a}/2.0) * z / p".format(a=CR_A))} AS sba_forecast
    FROM cr CROSS JOIN nn WHERE i = n - 1 AND started = 1
    """,
)
def events_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for intermittent demand (Croston 1972; SBA
    bias correction: Syntetos & Boylan 2005 — both public): the
    daily count of big-ticket purchases (value ≥ {CR_VTHRESH}) is
    mostly zeros, which wrecks plain exponential smoothing; Croston
    smooths the nonzero demand SIZES and the inter-demand INTERVALS
    as two coupled EWMAs that only update on demand days, and
    forecasts size/interval.

    Same Spark-first recursion shape as events_holt: the calendar-
    bounded dense series collects into ONE sorted array and the
    coupled state (size, interval, gap counter, started flag) folds
    through a single JVM-side F.aggregate — sequential exactly where
    the math is, zero Python, and the DuckDB oracle replays the
    identical recursion as a recursive CTE.  The data-sized work is
    one filtered hash aggregate to daily counts."""
    e = table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d"), "d0"
    )
    daily = (
        e.where(
            (F.col("event_type") == "purchase")
            & (F.col("value") >= CR_VTHRESH)
        )
        .groupBy(F.col("ts").cast("date").alias("dd"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    dense = (
        F.broadcast(days)
        .join(F.broadcast(daily), F.col("d") == F.col("dd"), "left")
        .select(
            F.datediff("d", "d0").cast("long").alias("t"),
            F.coalesce("n", F.lit(0)).cast("long").alias("y"),
        )
    )
    ser = dense.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("t"), F.col("y")))
        ).alias("arr")
    )
    a = float(CR_A)
    acc0 = F.struct(
        F.lit(0.0).alias("z"),
        F.lit(0.0).alias("p"),
        F.lit(0).cast("long").alias("q"),
        F.lit(0).alias("started"),
    )

    def step(acc, e_):
        y = e_["y"]
        yd = y.cast("double")
        demand = y > 0
        fresh = demand & (acc["started"] == 0)
        return F.struct(
            F.when(fresh, yd)
            .when(demand, F.lit(a) * yd + F.lit(0.9) * acc["z"])
            .otherwise(acc["z"])
            .alias("z"),
            F.when(fresh, (acc["q"] + 1).cast("double"))
            .when(
                demand,
                F.lit(a) * (acc["q"] + 1).cast("double")
                + F.lit(0.9) * acc["p"],
            )
            .otherwise(acc["p"])
            .alias("p"),
            F.when(demand, F.lit(0).cast("long"))
            .otherwise(acc["q"] + 1)
            .alias("q"),
            F.when(demand, F.lit(1)).otherwise(acc["started"]).alias("started"),
        )

    folded = ser.select(
        F.size("arr").cast("long").alias("n_periods"),
        F.aggregate(
            F.col("arr"), F.lit(0).cast("long"),
            lambda acc, e_: acc + F.when(e_["y"] > 0, 1).otherwise(0)
        ).alias("n_demand_days"),
        F.aggregate(F.col("arr"), acc0, step).alias("st"),
    ).where(F.col("st")["started"] == 1)
    z = F.col("st")["z"]
    p = F.col("st")["p"]
    return folded.select(
        "n_periods",
        "n_demand_days",
        q4(z).alias("demand_level"),
        q4(p).alias("interval_level"),
        q4(z / p).alias("croston_forecast"),
        q4((F.lit(1.0) - F.lit(a) / 2.0) * z / p).alias("sba_forecast"),
    )


# --------------------------------------------- Lorenz decile table

@register(
    "events_lorenz_curve",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, user_id) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM per_user
    ), dec AS (
        SELECT CASE WHEN rk <= (n % 10) * (n // 10 + 1)
                    THEN (rk - 1) // (n // 10 + 1) + 1
                    ELSE (n % 10) + (rk - (n % 10) * (n // 10 + 1) - 1)
                         // (n // 10) + 1 END AS decile,
               cents
        FROM ranked
    ), agg AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(cents) AS BIGINT) AS value_cents
        FROM dec GROUP BY decile
    ), cum AS (
        SELECT decile, n_users, value_cents,
               CAST(sum(value_cents) OVER (ORDER BY decile
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_value_cents,
               CAST(sum(value_cents) OVER () AS BIGINT) AS total
        FROM agg
    )
    SELECT decile, n_users, value_cents, cum_value_cents,
           CAST(cum_value_cents * 10000 // total AS BIGINT) AS cum_share_bps
    FROM cum
    """,
)
def events_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration table of purchase value: spenders sorted
    ascending, cut into exact SQL-ntile deciles, each reporting its
    user count, value, and the CUMULATIVE share of total spend in
    integer basis points — the "bottom 50% of customers hold 8% of
    revenue" table behind every concentration/Gini chart (the curve
    events_gini integrates).

    Scale shape: per-user rollup (one hash aggregate) → global ranks
    through the bucketed prefix machine (value-derived buckets, never
    an unpartitioned window over users) → exact sql_ntile_from_rank
    deciles → 10-row epilogue; the only window over an unpartitioned
    spec runs on the 10-row decile table.  All sums are integer
    cents; shares are exact floor-division basis points."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = global_ordered(
        per_user,
        [F.col("cents"), F.col("user_id")],
        bucket_key="cents",
        rank_col="rk",
    )
    n1 = per_user.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dec = ranked.crossJoin(F.broadcast(n1)).select(
        F.expr(sql_ntile_from_rank("rk", "n", 10)).alias("decile"),
        "cents",
    )
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cents").cast("long").alias("value_cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = agg.withColumn(
        "cum_value_cents", F.sum("value_cents").over(wc).cast("long")
    ).withColumn(
        "total",
        F.sum("value_cents")
        .over(Window.partitionBy())
        .cast("long"),
    )
    return cum.select(
        "decile",
        "n_users",
        "value_cents",
        "cum_value_cents",
        F.expr("cum_value_cents * 10000 DIV total")
        .cast("long")
        .alias("cum_share_bps"),
    )


# ------------------------------------------ engagement distribution

# activity-tier fences on days-active-in-corpus (inclusive lower
# bounds, descending) — rendered into both engines' CASE chains
_TIER_FENCES = [(20, "power"), (10, "core"), (4, "regular"), (0, "casual")]
_TIER_SQL = "CASE " + " ".join(
    f"WHEN days_active >= {lo} THEN '{lab}'" for lo, lab in _TIER_FENCES
) + " END"


@register(
    "events_activity_histogram",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
                   AS days_active,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    ), tiered AS (
        SELECT days_active, n_events, {_TIER_SQL} AS tier FROM per_user
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users FROM per_user
    )
    SELECT days_active, tier,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(count(*) * 10000 // max(t.n_users) AS BIGINT) AS user_bps
    FROM tiered CROSS JOIN tot t
    GROUP BY days_active, tier
    """,
)
def events_activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-frequency histogram (the LN/L28 curve): users
    bucketed by how many distinct days they were active in the
    corpus window, with the standard power/core/regular/casual tier
    labels and each bucket's share of the user base in exact basis
    points — the distribution behind every DAU/MAU stickiness number
    (events_dau_mau reports the ratio; this is its shape).

    Scale shape: ONE per-user aggregate (count distinct days is
    exact per user — the distinct set is per-group, so it map-side
    combines on user_id), then a calendar-bounded histogram
    aggregate (≤ |corpus days| rows).  Tier fences are written once
    and rendered into both engines."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count_distinct(F.col("ts").cast("date"))
        .cast("long")
        .alias("days_active"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    tier = F.lit(None).cast("string")
    for lo, lab in reversed(_TIER_FENCES):
        tier = F.when(F.col("days_active") >= lo, lab).otherwise(tier)
    tot = per_user.agg(F.count(F.lit(1)).cast("long").alias("n_users_all"))
    return (
        per_user.select("days_active", "n_events", tier.alias("tier"))
        .crossJoin(F.broadcast(tot))
        .groupBy("days_active", "tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_events").cast("long").alias("n_events"),
            F.expr("count(1) * 10000 DIV max(n_users_all)")
            .cast("long")
            .alias("user_bps"),
        )
    )


# -------------------------------------------------- slow-mover scan

SLOW_DAYS = 180  # no shipment in this many days => slow mover


@register(
    "parts_slow_movers",
    oracle=f"""
    WITH cut AS (
        SELECT max(l_shipdate) - INTERVAL {SLOW_DAYS} DAY AS cutoff
        FROM lineitem
    ), last_ship AS (
        SELECT l_partkey, max(l_shipdate) AS last_ship
        FROM lineitem GROUP BY l_partkey
    ), flagged AS (
        SELECT p.p_brand,
               CAST(floor(p.p_retailprice * 100 + 0.5) AS BIGINT) AS cents,
               CASE WHEN ls.last_ship IS NULL
                         OR ls.last_ship < cut.cutoff
                    THEN 1 ELSE 0 END AS slow
        FROM part p
        LEFT JOIN last_ship ls ON ls.l_partkey = p.p_partkey
        CROSS JOIN cut
    )
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(slow) AS BIGINT) AS n_slow,
           CAST(sum(CASE WHEN slow = 1 THEN cents ELSE 0 END) AS BIGINT)
               AS slow_value_cents,
           CAST(sum(slow) * 10000 // count(*) AS BIGINT) AS slow_bps
    FROM flagged GROUP BY p_brand
    """,
)
def parts_slow_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slow-mover / dead-stock scan — the inventory-health BI
    staple: per brand, how many parts have shipped NOTHING in the
    last {SLOW_DAYS} days (including parts that never shipped at
    all — the left join's null branch), the catalog value parked in
    them, and the slow share in exact basis points.

    Scale shape: lineitem collapses FIRST to one (partkey,
    last_shipdate) row per part (map-side-combined max — the shuffle
    carries |parts| rows, not line items), then joins the part
    dimension; the cutoff is a broadcast 1-row aggregate.  The final
    rollup is |brands| rows."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    cut = li.agg(
        F.date_sub(F.max("l_shipdate"), SLOW_DAYS).alias("cutoff")
    )
    last_ship = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.max("l_shipdate").alias("last_ship")
    )
    flagged = (
        p.join(last_ship, p["p_partkey"] == F.col("pk"), "left")
        .crossJoin(F.broadcast(cut))
        .select(
            "p_brand",
            F.floor(F.col("p_retailprice") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
            F.when(
                F.col("last_ship").isNull()
                | (F.col("last_ship") < F.col("cutoff")),
                1,
            )
            .otherwise(0)
            .alias("slow"),
        )
    )
    return flagged.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("slow").cast("long").alias("n_slow"),
        F.sum(F.when(F.col("slow") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("slow_value_cents"),
        F.expr("sum(slow) * 10000 DIV count(1)").cast("long").alias("slow_bps"),
    )


# ------------------------------------------- cohort retention matrix

@register(
    "events_cohort_matrix",
    oracle="""
    WITH firstw AS (
        SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE) AS w0
        FROM events GROUP BY user_id
    ), weekly AS (
        SELECT DISTINCT e.user_id,
               CAST(date_trunc('week', e.ts) AS DATE) AS w
        FROM events e
    ), cohorts AS (
        SELECT w0, CAST(count(*) AS BIGINT) AS cohort_size
        FROM firstw GROUP BY w0
    ), cells AS (
        SELECT f.w0,
               CAST(datediff('week', f.w0, a.w) AS BIGINT) AS week_offset,
               CAST(count(*) AS BIGINT) AS active_users
        FROM weekly a JOIN firstw f ON f.user_id = a.user_id
        GROUP BY f.w0, week_offset
    )
    SELECT CAST(epoch_us(CAST(c.w0 AS TIMESTAMP)) / 86400000000 AS BIGINT)
               AS cohort_day,
           week_offset, active_users, cohort_size,
           CAST(active_users * 10000 // cohort_size AS BIGINT)
               AS retention_bps
    FROM cells c JOIN cohorts ch ON ch.w0 = c.w0
    """,
)
def events_cohort_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic cohort-retention triangle: users grouped by
    first-activity week, each (cohort, week-offset) cell reporting
    how many of the cohort were active that week and the retention
    rate in exact basis points — the matrix behind every retention
    heatmap (events_retention reports only the offset marginal; this
    is the full two-dimensional artifact).

    Scale shape: per-user first week is ONE aggregate; weekly
    activity dedupes to (user, week) BEFORE the cohort join (the
    join carries at most |users|×|weeks| deduped rows, not raw
    events); cohort sizes are a |weeks|-row broadcast.  The matrix
    itself is |weeks|² cells — calendar-bounded metadata."""
    e = table(spark, sf_dir, "events")
    firstw = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("w0")
    )
    weekly = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("w")
    ).distinct()
    cohorts = firstw.groupBy("w0").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    cells = (
        weekly.join(firstw, "user_id")
        .groupBy(
            "w0",
            F.floor(F.datediff(F.col("w"), F.col("w0")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("active_users"))
    )
    return cells.join(F.broadcast(cohorts), "w0").select(
        F.unix_date(F.col("w0")).cast("long").alias("cohort_day"),
        "week_offset",
        "active_users",
        "cohort_size",
        F.expr("active_users * 10000 DIV cohort_size")
        .cast("long")
        .alias("retention_bps"),
    )


# --------------------------------------------- margin waterfall (BI)

@register(
    "orders_margin_waterfall",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                AS BIGINT) AS gross_cents,
           CAST(sum(CAST(floor(l_extendedprice*l_discount*100 + 0.5)
                AS BIGINT)) AS BIGINT) AS discount_cents,
           CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*100 + 0.5)
                AS BIGINT)) AS BIGINT) AS net_cents,
           CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*l_tax*100
                + 0.5) AS BIGINT)) AS BIGINT) AS tax_cents,
           CAST(sum(CAST(floor(l_extendedprice*(1 - l_discount)*(1 + l_tax)
                *100 + 0.5) AS BIGINT)) AS BIGINT) AS charge_cents
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY c.c_mktsegment
    """,
)
def orders_margin_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-bridge waterfall per market segment: gross extended
    price → discount given → net revenue → tax → final charge, every
    stage an EXACT integer-cent sum (each per-line money expression
    is quantized to cents BEFORE the sum, the repo's money
    discipline — so the columns are order-free and reconcile to the
    penny across reruns; the finance-close artifact).

    Scale shape: the classic fact-to-dimension star — lineitem joins
    orders on the orderkey (both shuffle on the same key; co-located
    under bucketing), the customer dimension joins in for the
    segment, and ONE hash aggregate collapses to 5 segment rows with
    map-side partials.  All five measures ride the same aggregate
    pass."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    ext = F.col("l_extendedprice")
    disc = F.col("l_discount")
    tax = F.col("l_tax")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(cents(ext)).cast("long").alias("gross_cents"),
        F.sum(cents(ext * disc)).cast("long").alias("discount_cents"),
        F.sum(cents(ext * (1 - disc))).cast("long").alias("net_cents"),
        F.sum(cents(ext * (1 - disc) * tax)).cast("long").alias("tax_cents"),
        F.sum(cents(ext * (1 - disc) * (1 + tax)))
        .cast("long")
        .alias("charge_cents"),
    )


# ------------------------------------- order-to-ship lead time bands

# lead-time bands in days (inclusive upper bounds), last open-ended
_LEAD_BANDS = [(-1, "backdated"), (7, "within_1w"), (30, "within_1m"),
               (60, "within_2m"), (90, "within_3m"), (None, "over_3m")]
_LEAD_SQL = "CASE " + " ".join(
    f"WHEN lead <= {hi} THEN '{lab}'"
    for hi, lab in _LEAD_BANDS if hi is not None
) + f" ELSE '{_LEAD_BANDS[-1][1]}' END"


@register(
    "orders_leadtime_bands",
    oracle=f"""
    WITH led AS (
        SELECT o.o_orderpriority,
               CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
                   AS lead
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), banded AS (
        SELECT o_orderpriority, {_LEAD_SQL} AS band, lead FROM led
    ), agg AS (
        SELECT o_orderpriority, band,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(lead) AS BIGINT) AS lead_days_sum
        FROM banded GROUP BY o_orderpriority, band
    ), tot AS (
        SELECT o_orderpriority, CAST(sum(n_lines) AS BIGINT) AS prio_lines
        FROM agg GROUP BY o_orderpriority
    )
    SELECT agg.o_orderpriority, band, n_lines, lead_days_sum,
           CAST(n_lines * 10000 // prio_lines AS BIGINT) AS band_bps
    FROM agg JOIN tot ON tot.o_orderpriority = agg.o_orderpriority
    """,
)
def orders_leadtime_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship lead-time distribution per order priority: ship
    date minus order date banded into <=1 week / <=1 / 2 / 3 months /
    worse, with line counts, total lead days, and each band's share
    of the priority class in exact basis points — the fulfilment-SLA
    scorecard (does URGENT actually ship faster, and by how much of
    the tail).

    Scale shape: lineitem joins orders on the orderkey (the same
    co-locatable star shuffle as the waterfall), one row-local date
    difference, ONE hash aggregate to |priorities|x|bands| cells,
    class totals folded from the cell table and joined back
    broadcast.  Band fences are written once and rendered into both
    engines."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    led = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("long")
        .alias("lead"),
    )
    band = F.lit(_LEAD_BANDS[-1][1])
    for hi, lab in reversed(_LEAD_BANDS[:-1]):
        band = F.when(F.col("lead") <= hi, lab).otherwise(band)
    agg = (
        led.select("o_orderpriority", band.alias("band"), "lead")
        .groupBy("o_orderpriority", "band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum("lead").cast("long").alias("lead_days_sum"),
        )
    )
    tot = agg.groupBy("o_orderpriority").agg(
        F.sum("n_lines").cast("long").alias("prio_lines")
    )
    return agg.join(F.broadcast(tot), "o_orderpriority").select(
        "o_orderpriority",
        "band",
        "n_lines",
        "lead_days_sum",
        F.expr("n_lines * 10000 DIV prio_lines")
        .cast("long")
        .alias("band_bps"),
    )


# --------------------------------------------- bullwhip effect

BW_EPOCH = "1970-01-01"


@register(
    "orders_bullwhip",
    oracle="""
    WITH li AS (
        SELECT p.p_brand,
               CAST(datediff('day', DATE '1970-01-01', o.o_orderdate)
                    AS BIGINT) // 7 AS w_ord,
               CAST(datediff('day', DATE '1970-01-01', l.l_shipdate)
                    AS BIGINT) // 7 AS w_ship,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ), wo AS (
        SELECT p_brand, w_ord AS w, CAST(sum(qty) AS BIGINT) AS q
        FROM li GROUP BY 1, 2
    ), ws AS (
        SELECT p_brand, w_ship AS w, CAST(sum(qty) AS BIGINT) AS q
        FROM li GROUP BY 1, 2
    ), mo AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q*q) AS BIGINT) AS ss
        FROM wo GROUP BY 1
    ), ms AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q*q) AS BIGINT) AS ss
        FROM ws GROUP BY 1
    )
    SELECT mo.p_brand,
           mo.n AS n_weeks_order, ms.n AS n_weeks_ship,
           floor(((mo.n*CAST(mo.ss AS DOUBLE)/(CAST(mo.s AS DOUBLE)*mo.s)) - 1.0)
                * 10000 + 0.5)/10000.0 AS cv2_order,
           floor(((ms.n*CAST(ms.ss AS DOUBLE)/(CAST(ms.s AS DOUBLE)*ms.s)) - 1.0)
                * 10000 + 0.5)/10000.0 AS cv2_ship,
           floor((((ms.n*CAST(ms.ss AS DOUBLE)/(CAST(ms.s AS DOUBLE)*ms.s)) - 1.0)
                / ((mo.n*CAST(mo.ss AS DOUBLE)/(CAST(mo.s AS DOUBLE)*mo.s)) - 1.0))
                * 10000 + 0.5)/10000.0 AS bullwhip
    FROM mo JOIN ms ON ms.p_brand = mo.p_brand
    """,
)
def orders_bullwhip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip-effect ratio per part brand: the squared coefficient
    of variation of WEEKLY SHIPPED quantity over that of WEEKLY
    ORDERED quantity (Chen et al.'s variance-amplification measure,
    public OM literature).  CV² folds out of exact integer
    (n, Σq, Σq²) over the per-week sums — cv² = n·Σq²/ (Σq)² − 1 —
    so both engines feed identical doubles into the final division;
    a ratio > 1 means the fulfilment side amplifies demand
    variability (batching / shortage gaming), the classic supply-
    chain diagnostic.

    Scale shape: one orderkey-equi join (lineitem⋈orders, both
    shuffle on the key), a broadcast part-dim join for the brand,
    then two (brand, week) hash aggregates that collapse to the
    bounded brand×calendar grid — every downstream frame is
    metadata-sized.  No window, no driver state."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part")
    week = lambda c: (  # noqa: E731
        F.datediff(F.col(c), F.lit(BW_EPOCH)).cast("long") / 7
    ).cast("long")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            week("o_orderdate").alias("w_ord"),
            week("l_shipdate").alias("w_ship"),
            F.col("l_quantity").cast("long").alias("qty"),
        )
    )

    def weekly_cv2(wcol, prefix):
        weekly = base.groupBy("p_brand", F.col(wcol).alias("w")).agg(
            F.sum("qty").cast("long").alias("q")
        )
        m = weekly.groupBy("p_brand").agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{prefix}"),
            F.sum("q").cast("long").alias(f"s_{prefix}"),
            F.sum(F.col("q") * F.col("q")).cast("long")
            .alias(f"ss_{prefix}"),
        )
        cv2 = (
            F.col(f"n_{prefix}").cast("double")
            * F.col(f"ss_{prefix}")
            / (F.col(f"s_{prefix}").cast("double") * F.col(f"s_{prefix}"))
            - 1.0
        )
        return m, cv2

    mo, cv2_o = weekly_cv2("w_ord", "ord")
    ms, cv2_s = weekly_cv2("w_ship", "ship")
    j = mo.join(ms, "p_brand")
    return j.select(
        "p_brand",
        F.col("n_ord").alias("n_weeks_order"),
        F.col("n_ship").alias("n_weeks_ship"),
        q4(cv2_o).alias("cv2_order"),
        q4(cv2_s).alias("cv2_ship"),
        q4(cv2_s / cv2_o).alias("bullwhip"),
    )


# --------------------------------------------- EOQ / safety stock

EOQ_ORDER_COST = 75.0  # fixed cost per replenishment order
EOQ_HOLD_COST = 2.5  # holding cost per unit-period
EOQ_Z = 1.645  # 95% service level


@register(
    "orders_eoq_policy",
    oracle=f"""
    WITH li AS (
        SELECT p.p_brand,
               CAST(l.l_quantity AS BIGINT) AS qty,
               CAST(datediff('day', o.o_orderdate, l.l_shipdate)
                    AS BIGINT) AS lt
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ), span AS (
        SELECT CAST(datediff('day', min(o_orderdate), max(o_orderdate))
                    AS BIGINT) + 1 AS days FROM orders
    ), m AS (
        SELECT p_brand, CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(qty) AS BIGINT) AS d,
               CAST(sum(lt) AS BIGINT) AS slt,
               CAST(sum(lt*lt) AS BIGINT) AS sltt
        FROM li GROUP BY 1
    )
    SELECT p_brand, n_lines, d AS total_qty,
           floor((CAST(slt AS DOUBLE)/n_lines)*10000 + 0.5)/10000.0
               AS mean_lt_days,
           floor(sqrt(2.0*d*{EOQ_ORDER_COST}/{EOQ_HOLD_COST})
                *10000 + 0.5)/10000.0 AS eoq,
           floor(({EOQ_Z} * sqrt(CAST(sltt AS DOUBLE)/n_lines
                    - (CAST(slt AS DOUBLE)/n_lines)
                      *(CAST(slt AS DOUBLE)/n_lines))
                 * (CAST(d AS DOUBLE)/(SELECT days FROM span)))
                *10000 + 0.5)/10000.0 AS safety_stock,
           floor(((CAST(d AS DOUBLE)/(SELECT days FROM span))
                  * (CAST(slt AS DOUBLE)/n_lines)
                 + {EOQ_Z} * sqrt(CAST(sltt AS DOUBLE)/n_lines
                    - (CAST(slt AS DOUBLE)/n_lines)
                      *(CAST(slt AS DOUBLE)/n_lines))
                 * (CAST(d AS DOUBLE)/(SELECT days FROM span)))
                *10000 + 0.5)/10000.0 AS reorder_point
    FROM m
    """,
)
def orders_eoq_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic inventory policy per brand: the Wilson EOQ
    √(2·D·S/H) on full-period demand D, plus a lead-time-variability
    safety stock Z·σ_LT·d̄ (lead time = order→ship days, d̄ = daily
    demand rate over the global calendar span) and the implied
    reorder point d̄·LT̄ + SS — the textbook (public) inventory
    control formulas on exact integer demand/lead-time moments.

    Scale shape: one orderkey-equi join + broadcast part dim, a
    single hash aggregate to the 25-brand grid, and a broadcast
    1-row calendar span; all float math happens on the bounded
    grid."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    p = table(spark, sf_dir, "part")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            "p_brand",
            F.col("l_quantity").cast("long").alias("qty"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("lt"),
        )
    )
    span = o.agg(
        (
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
            .cast("long")
            + 1
        ).alias("days")
    )
    m = base.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("qty").cast("long").alias("d"),
        F.sum("lt").cast("long").alias("slt"),
        F.sum(F.col("lt") * F.col("lt")).cast("long").alias("sltt"),
    )
    j = m.crossJoin(F.broadcast(span))
    mean_lt = F.col("slt").cast("double") / F.col("n_lines")
    sd_lt = F.sqrt(
        F.col("sltt").cast("double") / F.col("n_lines") - mean_lt * mean_lt
    )
    d_bar = F.col("d").cast("double") / F.col("days")
    eoq = F.sqrt(
        2.0 * F.col("d").cast("double") * EOQ_ORDER_COST / EOQ_HOLD_COST
    )
    ss = EOQ_Z * sd_lt * d_bar
    return j.select(
        "p_brand",
        "n_lines",
        F.col("d").alias("total_qty"),
        q4(mean_lt).alias("mean_lt_days"),
        q4(eoq).alias("eoq"),
        q4(ss).alias("safety_stock"),
        q4(d_bar * mean_lt + ss).alias("reorder_point"),
    )


# --------------------------------------------- XYZ analysis

XYZ_X = 1.75  # cv below: steady (X) — fixture monthly-demand CVs
XYZ_Y = 2.0  # span ~1.55-2.31 at every SF; these cut real terciles


@register(
    "orders_xyz_analysis",
    oracle=f"""
    WITH li AS (
        SELECT l.l_partkey,
               CAST(datediff('month', DATE '1970-01-01',
                    date_trunc('month', o.o_orderdate)) AS BIGINT)
                   AS mon,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ), mn AS (
        SELECT CAST(count(DISTINCT mon) AS BIGINT) AS m FROM li
    ), pm AS (
        SELECT l_partkey, mon, CAST(sum(qty) AS BIGINT) AS q
        FROM li GROUP BY 1, 2
    ), per AS (
        SELECT l_partkey, CAST(sum(q) AS BIGINT) AS s,
               CAST(sum(q*q) AS BIGINT) AS ss
        FROM pm GROUP BY 1
    ), cv AS (
        SELECT l_partkey, s,
               sqrt((SELECT m FROM mn)*CAST(ss AS DOUBLE)
                    /(CAST(s AS DOUBLE)*s) - 1.0) AS cv
        FROM per
    )
    SELECT CASE WHEN cv < {XYZ_X} THEN 'X'
                WHEN cv < {XYZ_Y} THEN 'Y' ELSE 'Z' END AS xyz_class,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(s) AS BIGINT) AS total_qty,
           floor((CAST(sum(s) AS DOUBLE)
                / (SELECT CAST(sum(qty) AS BIGINT) FROM li))
                *10000 + 0.5)/10000.0 AS qty_share
    FROM cv GROUP BY 1
    """,
)
def orders_xyz_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (the companion of
    `orders_abc_analysis`): per part, the coefficient of variation
    of MONTHLY demand over the full calendar of observed months —
    zero-filled months enter through the closed form
    cv² = M·Σq²/(Σq)² − 1 (M = global month count), so no calendar
    densification is materialized.  Parts bucket into X (steady,
    cv < {XYZ_X}), Y (variable, < {XYZ_Y}), Z (erratic; thresholds sit inside the fixture CV range so the census is a real three-way split); the output
    is the 3-class census with quantity share.

    Scale shape: orderkey-equi join, (part, month) then part hash
    aggregates — all exact integers — a broadcast 1-row month count,
    and a 3-row final census.  The per-part frame is |parts| rows,
    dimension-sized."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    base = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_partkey",
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate")),
            F.lit("1970-01-01").cast("timestamp"),
        ).cast("long").alias("mon"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    mn = base.agg(
        F.countDistinct("mon").cast("long").alias("m"),
        F.sum("qty").cast("long").alias("g"),
    )
    pm = base.groupBy("l_partkey", "mon").agg(
        F.sum("qty").cast("long").alias("q")
    )
    per = pm.groupBy("l_partkey").agg(
        F.sum("q").cast("long").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("ss"),
    )
    j = per.crossJoin(F.broadcast(mn))
    cv = F.sqrt(
        F.col("m").cast("double")
        * F.col("ss")
        / (F.col("s").cast("double") * F.col("s"))
        - 1.0
    )
    classed = j.select(
        F.when(cv < XYZ_X, "X").when(cv < XYZ_Y, "Y").otherwise("Z")
        .alias("xyz_class"),
        "s",
        "g",
    )
    return classed.groupBy("xyz_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("s").cast("long").alias("total_qty"),
        q4(F.sum("s").cast("double") / F.max("g")).alias("qty_share"),
    )


# ---------------------------------------- interrupted time series

ITS_DAY = 15  # intervention day index (2024-01-16; fixture spans 0..29)


@register(
    "events_interrupted_ts",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ), seg AS (
        SELECT CASE WHEN d < {ITS_DAY} THEN 0 ELSE 1 END AS post,
               CAST(count(*) AS BIGINT) AS nd,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(n) AS BIGINT) AS sn,
               CAST(sum(d*d) AS BIGINT) AS sdd,
               CAST(sum(d*n) AS BIGINT) AS sdn
        FROM daily GROUP BY 1
    ), fit AS (
        SELECT post, nd,
               (nd*CAST(sdn AS DOUBLE) - CAST(sd AS DOUBLE)*sn)
               / (nd*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd)
                   AS b,
               (CAST(sn AS DOUBLE)
                - (nd*CAST(sdn AS DOUBLE) - CAST(sd AS DOUBLE)*sn)
                  / (nd*CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)*sd)
                  * sd) / nd AS a
        FROM seg
    ), wide AS (
        SELECT max(CASE WHEN post=0 THEN nd END) AS n_pre,
               max(CASE WHEN post=1 THEN nd END) AS n_post,
               max(CASE WHEN post=0 THEN b END) AS b_pre,
               max(CASE WHEN post=1 THEN b END) AS b_post,
               max(CASE WHEN post=0 THEN a END) AS a_pre,
               max(CASE WHEN post=1 THEN a END) AS a_post
        FROM fit
    )
    SELECT n_pre, n_post,
           floor(b_pre*10000 + 0.5)/10000.0 AS slope_pre,
           floor(b_post*10000 + 0.5)/10000.0 AS slope_post,
           floor((b_post - b_pre)*10000 + 0.5)/10000.0 AS slope_change,
           floor(((a_post + b_post*{ITS_DAY})
                - (a_pre + b_pre*{ITS_DAY}))*10000 + 0.5)/10000.0
               AS level_change
    FROM wide
    """,
)
def events_interrupted_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series (segmented regression) analysis of
    daily event volume around a fixed intervention day: separate OLS
    fits before/after day {ITS_DAY}, reporting both slopes, the
    slope change, and the level change evaluated AT the intervention
    — the standard quasi-experimental design when randomization is
    impossible (public epidemiology/policy literature; the
    regression siblings of `events_diff_in_diff`).  Both fits are
    the closed-form normal equations over exact integer sums.

    Scale shape: one hash aggregate to the calendar-bounded daily
    series, one 2-row segmented aggregate, one 1-row pivot — no
    window, no join, nothing data-proportional after the first
    fold."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    seg = daily.groupBy(
        F.when(F.col("d") < ITS_DAY, 0).otherwise(1).alias("post")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        F.sum(F.col("d") * F.col("n")).cast("long").alias("sdn"),
    )
    nd = F.col("nd").cast("double")
    b = (
        nd * F.col("sdn").cast("double")
        - F.col("sd").cast("double") * F.col("sn")
    ) / (
        nd * F.col("sdd").cast("double")
        - F.col("sd").cast("double") * F.col("sd")
    )
    fit = seg.select(
        "post",
        "nd",
        b.alias("b"),
        ((F.col("sn").cast("double") - b * F.col("sd")) / nd).alias("a"),
    )
    pick = lambda p, c: F.max(  # noqa: E731
        F.when(F.col("post") == p, F.col(c))
    )
    wide = fit.agg(
        pick(0, "nd").alias("n_pre"),
        pick(1, "nd").alias("n_post"),
        pick(0, "b").alias("b_pre"),
        pick(1, "b").alias("b_post"),
        pick(0, "a").alias("a_pre"),
        pick(1, "a").alias("a_post"),
    )
    return wide.select(
        "n_pre",
        "n_post",
        q4(F.col("b_pre")).alias("slope_pre"),
        q4(F.col("b_post")).alias("slope_post"),
        q4(F.col("b_post") - F.col("b_pre")).alias("slope_change"),
        q4(
            (F.col("a_post") + F.col("b_post") * ITS_DAY)
            - (F.col("a_pre") + F.col("b_pre") * ITS_DAY)
        ).alias("level_change"),
    )


# --------------------------------------------- peak detection


@register(
    "events_peak_detection",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS v
        FROM events GROUP BY 1
    ), m AS (
        SELECT CAST(sum(v) AS BIGINT) AS sv,
               CAST(count(*) AS BIGINT) AS nd
        FROM daily
    ), nb AS (
        SELECT d, v,
               lag(v) OVER (ORDER BY d) AS vp,
               lead(v) OVER (ORDER BY d) AS vn
        FROM daily
    )
    SELECT nb.d AS day_idx,
           CAST(nb.v AS DOUBLE)/100.0 AS day_value,
           CAST(nb.v - greatest(nb.vp, nb.vn) AS DOUBLE)/100.0
               AS prominence
    FROM nb, m
    WHERE nb.vp IS NOT NULL AND nb.vn IS NOT NULL
      AND nb.v > nb.vp AND nb.v > nb.vn
      AND nb.v * m.nd > m.sv
    """,
)
def events_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection on the daily event-value series:
    a day is a peak when it strictly exceeds both neighbors AND the
    global mean (the integer cross-multiplied form v·n > Σv avoids
    any float compare), reported with its prominence over the higher
    neighbor — the basic signal-processing primitive behind alert
    review UIs.  All values are exact integer cents end-to-end.

    Scale shape: the fact table collapses to one row per day; the
    lag/lead window runs over that calendar-bounded series
    (census-allowlisted), and the mean gate is a broadcast 1-row
    frame."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d")
    ).agg(F.sum(cents(F.col("value"))).cast("long").alias("v"))
    m = daily.agg(
        F.sum("v").cast("long").alias("sv"),
        F.count(F.lit(1)).cast("long").alias("nd"),
    )
    # one row per day — calendar-bounded (census-allowlisted)
    w = Window.orderBy("d")
    nb = daily.select(
        "d",
        "v",
        F.lag("v").over(w).alias("vp"),
        F.lead("v").over(w).alias("vn"),
    )
    return (
        nb.crossJoin(F.broadcast(m))
        .where(
            F.col("vp").isNotNull()
            & F.col("vn").isNotNull()
            & (F.col("v") > F.col("vp"))
            & (F.col("v") > F.col("vn"))
            & (F.col("v") * F.col("nd") > F.col("sv"))
        )
        .select(
            F.col("d").alias("day_idx"),
            (F.col("v").cast("double") / 100.0).alias("day_value"),
            (
                (F.col("v") - F.greatest("vp", "vn")).cast("double")
                / 100.0
            ).alias("prominence"),
        )
    )


# ----------------------------------------- seasonality strength


@register(
    "events_seasonality_strength",
    oracle="""
    WITH cell AS (
        SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(hour(ts) AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), g AS (
        SELECT h, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(n) AS BIGINT) AS s,
               CAST(sum(n*n) AS BIGINT) AS ss
        FROM cell GROUP BY 1
    ), t AS (
        SELECT CAST(sum(c) AS BIGINT) AS nc,
               CAST(sum(s) AS BIGINT) AS sa,
               CAST(sum(ss) AS BIGINT) AS ssa,
               sum(CAST(s AS DOUBLE)*s/c) AS gsq
        FROM g
    ), peak AS (
        SELECT h, CAST(s AS DOUBLE)/c AS mu,
               row_number() OVER (ORDER BY CAST(s AS DOUBLE)/c DESC, h)
                   AS rn
        FROM g
    )
    SELECT t.nc AS n_cells,
           floor(((t.gsq - CAST(t.sa AS DOUBLE)*t.sa/t.nc)
                / (CAST(t.ssa AS DOUBLE) - CAST(t.sa AS DOUBLE)*t.sa/t.nc))
                * 10000 + 0.5)/10000.0 AS eta2,
           (SELECT h FROM peak WHERE rn = 1) AS peak_hour,
           floor((SELECT mu FROM peak WHERE rn = 1)*10000 + 0.5)/10000.0
               AS peak_hour_mean
    FROM t
    """,
)
def events_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality strength of event volume: eta² — the
    between-hour sum of squares over the total sum of squares of the
    (day × hour) cell counts — the one-way-ANOVA effect size reused
    as a seasonality score (eta² → 1 means the hourly profile
    explains nearly all volume variance), plus the peak hour and its
    mean.  All moments are exact integers; only the final ratios are
    float.

    Scale shape: fact table → bounded (day × hour) grid in one hash
    aggregate, → 24-row hourly fold, → 1-row census with a 24-row
    argmax window.  Everything after the first fold is
    metadata-sized."""
    e = table(spark, sf_dir, "events")
    cell = e.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
        F.hour("ts").cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = cell.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    )
    t = g.agg(
        F.sum("c").cast("long").alias("nc"),
        F.sum("s").cast("long").alias("sa"),
        F.sum("ss").cast("long").alias("ssa"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("c"))
        .alias("gsq"),
        F.max_by(
            F.struct(
                F.col("h"),
                (F.col("s").cast("double") / F.col("c")).alias("mu"),
            ),
            F.struct(
                (F.col("s").cast("double") / F.col("c")).alias("mu"),
                (-F.col("h")).alias("nh"),
            ),
        ).alias("pk"),
    )
    ssb = F.col("gsq") - F.col("sa").cast("double") * F.col("sa") / F.col("nc")
    sst = (
        F.col("ssa").cast("double")
        - F.col("sa").cast("double") * F.col("sa") / F.col("nc")
    )
    return t.select(
        F.col("nc").alias("n_cells"),
        q4(ssb / sst).alias("eta2"),
        F.col("pk.h").alias("peak_hour"),
        q4(F.col("pk.mu")).alias("peak_hour_mean"),
    )


# --------------------------------------------- Kraljic matrix

KRA_CONC = 1.35  # HHI x n_suppliers: concentration vs uniform sourcing


@register(
    "orders_kraljic_matrix",
    oracle=f"""
    WITH li AS (
        SELECT l_partkey, l_suppkey,
               CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS c,
               CAST(l_quantity AS BIGINT) AS q
        FROM lineitem
    ), ps AS (
        SELECT l_partkey, l_suppkey, CAST(sum(q) AS BIGINT) AS q
        FROM li GROUP BY 1, 2
    ), hhi AS (
        SELECT l_partkey,
               count(*) * sum(CAST(q AS DOUBLE)*q)
               / (sum(CAST(q AS DOUBLE)) * sum(q)) AS h
        FROM ps GROUP BY 1
    ), sp AS (
        SELECT l_partkey, CAST(sum(c) AS BIGINT) AS spend
        FROM li GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(spend) AS BIGINT) AS all_spend,
               CAST(count(*) AS BIGINT) AS n_parts
        FROM sp
    ), cls AS (
        SELECT CASE
                 WHEN sp.spend * t.n_parts > t.all_spend
                      AND h.h >= {KRA_CONC} THEN 'strategic'
                 WHEN sp.spend * t.n_parts > t.all_spend
                      THEN 'leverage'
                 WHEN h.h >= {KRA_CONC} THEN 'bottleneck'
                 ELSE 'non_critical'
               END AS quadrant,
               sp.spend
        FROM sp JOIN hhi h ON h.l_partkey = sp.l_partkey, tot t
    )
    SELECT quadrant, CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(spend) AS BIGINT) AS spend_cents,
           floor((CAST(sum(spend) AS DOUBLE)
                / (SELECT all_spend FROM tot))*10000 + 0.5)/10000.0
               AS spend_share
    FROM cls GROUP BY quadrant
    """,
)
def orders_kraljic_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kraljic procurement-portfolio census per part: spend
    importance (part spend above the mean — the integer
    cross-multiplied compare spend·N > Σspend, no float) crossed
    with supply risk (normalized supplier concentration
    HHI·n_supp ≥ {KRA_CONC} — Herfindahl relative to uniform
    sourcing, which keeps the gate meaningful at every line density
    / scale factor) buckets
    every part into strategic / leverage / bottleneck /
    non-critical — the classic (public) purchasing-strategy matrix.

    Scale shape: two hash aggregates on the fact table — (part,
    supplier) then part — an equi self-join on the part dimension
    key, a broadcast 1-row total, and a 4-row census.  HHI folds
    from exact integer quantity sums; only the final shares are
    float."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        cents(F.col("l_extendedprice")).alias("c"),
        F.col("l_quantity").cast("long").alias("q"),
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("q").cast("long").alias("q")
    )
    hhi = ps.groupBy("l_partkey").agg(
        (
            F.count(F.lit(1))
            * F.sum(F.col("q").cast("double") * F.col("q"))
            / (F.sum(F.col("q").cast("double")) * F.sum(F.col("q")))
        ).alias("h")
    )
    sp = li.groupBy("l_partkey").agg(
        F.sum("c").cast("long").alias("spend")
    )
    tot = sp.agg(
        F.sum("spend").cast("long").alias("all_spend"),
        F.count(F.lit(1)).cast("long").alias("np"),
    )
    cls = (
        sp.join(hhi, "l_partkey")
        .crossJoin(F.broadcast(tot))
        .select(
            F.when(
                (F.col("spend") * F.col("np") > F.col("all_spend"))
                & (F.col("h") >= KRA_CONC),
                "strategic",
            )
            .when(
                F.col("spend") * F.col("np") > F.col("all_spend"),
                "leverage",
            )
            .when(F.col("h") >= KRA_CONC, "bottleneck")
            .otherwise("non_critical")
            .alias("quadrant"),
            "spend",
            "all_spend",
        )
    )
    return cls.groupBy("quadrant").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("spend").cast("long").alias("spend_cents"),
        q4(F.sum("spend").cast("double") / F.max("all_spend")).alias(
            "spend_share"
        ),
    )


# ----------------------------------------------- Fano factor

FANO_MINUTES = 30 * 24 * 60  # fixture calendar span in minutes


@register(
    "events_fano_factor",
    oracle=f"""
    WITH pm AS (
        SELECT event_type,
               CAST(date_diff('minute', TIMESTAMP '2024-01-01',
                    date_trunc('minute', ts)) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ), s AS (
        SELECT event_type,
               CAST(sum(n) AS BIGINT) AS sn,
               CAST(sum(n*n) AS BIGINT) AS snn
        FROM pm GROUP BY 1
    )
    SELECT event_type, sn AS n_events,
           floor(((CAST(snn AS DOUBLE)
                 - CAST(sn AS DOUBLE)*sn/{FANO_MINUTES})
                / CAST(sn AS DOUBLE))*10000 + 0.5)/10000.0
               AS fano,
           ((CAST(snn AS DOUBLE)
                 - CAST(sn AS DOUBLE)*sn/{FANO_MINUTES})
                / CAST(sn AS DOUBLE)) > 1.0 AS overdispersed
    FROM s
    """,
)
def events_fano_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio of per-minute counts)
    per event type over the fixed fixture calendar: F = Var/Mean
    with zero minutes entering through the closed form — Var·M =
    Σn² − (Σn)²/M over the M-minute span, so F = (Σn² − (Σn)²/M)/Σn
    without materializing empty minutes.  F ≈ 1 is Poisson; F > 1
    flags bursty (overdispersed) arrivals — the standard point-
    process dispersion diagnostic, sharper than `text_word_burstiness`'s
    text analogue because the calendar is exact.

    Scale shape: one (type, minute) hash aggregate — map-side
    combined, grid-bounded output — then a |types|-row fold of exact
    integer moments."""
    e = table(spark, sf_dir, "events")
    pm = e.groupBy(
        "event_type",
        (
            (
                F.unix_timestamp(F.date_trunc("minute", F.col("ts")))
                - F.unix_timestamp(F.lit("2024-01-01").cast("timestamp"))
            )
            / 60
        ).cast("long").alias("m"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = pm.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("sn"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("snn"),
    )
    fano = (
        F.col("snn").cast("double")
        - F.col("sn").cast("double") * F.col("sn") / FANO_MINUTES
    ) / F.col("sn").cast("double")
    return s.select(
        "event_type",
        F.col("sn").alias("n_events"),
        q4(fano).alias("fano"),
        (fano > 1.0).alias("overdispersed"),
    )


# ---------------------------------------------- Ljung-Box test

LB_CHI2_CRIT = 14.0671  # chi2(ACF_MAX_LAG=7) upper 5%


@register(
    "events_ljung_box",
    oracle=f"""
    WITH {{_TS_DENSE_SQL}},
    stats AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s1,
               CAST(sum(y*y) AS BIGINT) AS s2
        FROM dense GROUP BY event_type
    ), lags AS (SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS lag),
    pairs AS (
        SELECT a.event_type, l.lag,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(a.y * b.y) AS BIGINT) AS sxy,
               CAST(sum(a.y) AS BIGINT) AS sx,
               CAST(sum(b.y) AS BIGINT) AS sy
        FROM dense a
        CROSS JOIN lags l
        JOIN dense b ON b.event_type = a.event_type
                    AND b.t = a.t - l.lag
        GROUP BY a.event_type, l.lag
    ), acf AS (
        SELECT p.event_type, p.lag, s.n,
               (CAST(p.sxy AS DOUBLE)
                  - (CAST(s.s1 AS DOUBLE) / s.n) * (p.sx + p.sy)
                  + p.cnt * (CAST(s.s1 AS DOUBLE) / s.n)
                          * (CAST(s.s1 AS DOUBLE) / s.n))
               / (CAST(s.s2 AS DOUBLE)
                  - s.n * (CAST(s.s1 AS DOUBLE) / s.n)
                        * (CAST(s.s1 AS DOUBLE) / s.n)) AS r
        FROM pairs p JOIN stats s ON p.event_type = s.event_type
    ), q AS (
        SELECT event_type, max(n) AS n,
               max(n)*(max(n)+2.0)*sum(r*r/(n-lag)) AS q_stat
        FROM acf GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_days,
           floor(q_stat*10000 + 0.5)/10000.0 AS q_stat,
           q_stat > {LB_CHI2_CRIT} AS autocorrelated
    FROM q
    """.format(_TS_DENSE_SQL=_TS_DENSE_SQL),
)
def events_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test per event type: Q = n(n+2)·
    Σ_k r_k²/(n−k) over the first {ACF_MAX_LAG} autocorrelations of
    the dense daily count series — the single-number "is this series
    white noise?" gate that `events_autocorr`'s per-lag table feeds
    in classical Box–Jenkins practice.  The r_k come from the same
    exact integer lagged cross-product moments as events_autocorr;
    the Q fold sums {ACF_MAX_LAG} doubles per type in one fixed
    grouping.

    Scale shape: identical to events_autocorr — one data-sized daily
    rollup, then broadcast-sized lag joins on the |days|×|types|
    grid and a |types|-row fold."""
    dense = _ts_dense(spark, sf_dir)
    stats = dense.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("s2"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a, b = dense.alias("a"), dense.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.t") == F.col("a.t") - F.col("lag")),
        )
        .groupBy("a.event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col("a.y") * F.col("b.y")).cast("long").alias("sxy"),
            F.sum(F.col("a.y")).cast("long").alias("sx"),
            F.sum(F.col("b.y")).cast("long").alias("sy"),
        )
    )
    ybar = F.col("s1").cast("double") / F.col("n")
    r = (
        F.col("sxy").cast("double")
        - ybar * (F.col("sx") + F.col("sy"))
        + F.col("cnt") * ybar * ybar
    ) / (F.col("s2").cast("double") - F.col("n") * ybar * ybar)
    acf = pairs.join(stats, "event_type").select(
        "event_type", "lag", "n", r.alias("r")
    )
    q = acf.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_days"),
        F.sum(
            F.col("r") * F.col("r") / (F.col("n") - F.col("lag"))
        ).alias("rsum"),
    )
    q = q.withColumn(
        "q_stat",
        F.col("n_days") * (F.col("n_days") + F.lit(2.0)) * F.col("rsum"),
    )
    return q.select(
        "event_type",
        "n_days",
        q4(F.col("q_stat")).alias("q_stat"),
        (F.col("q_stat") > LB_CHI2_CRIT).alias("autocorrelated"),
    )


@register(
    "events_allen_relations",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s,
               epoch_us(ts)
                   + CAST(floor(value * 100 + 0.5) AS BIGINT) * 10000 AS e
        FROM events
    ), seq AS (
        SELECT user_id, s, e,
               lag(s) OVER w AS ps, lag(e) OVER w AS pe
        FROM iv
        WINDOW w AS (PARTITION BY user_id ORDER BY s, e, event_id)
    )
    SELECT CASE
               WHEN ps < s AND pe <  s THEN 'precedes'
               WHEN ps < s AND pe =  s THEN 'meets'
               WHEN ps < s AND pe <  e THEN 'overlaps'
               WHEN ps < s AND pe =  e THEN 'finished_by'
               WHEN ps < s AND pe >  e THEN 'contains'
               WHEN ps = s AND pe <  e THEN 'starts'
               ELSE 'equals'
           END AS relation,
           CAST(count(*) AS BIGINT) AS pairs
    FROM seq WHERE ps IS NOT NULL
    GROUP BY 1
    """,
)
def events_allen_relations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval-algebra census over per-user activity intervals:
    each event spans [ts, ts + value seconds] (duration materialized
    as exact integer microseconds via the cents grid), consecutive
    intervals per user — ordered by (start, end, event_id) so the
    predecessor always starts no later — are classified into the
    seven Allen relations reachable under that ordering (precedes,
    meets, overlaps, finished_by, contains, starts, equals), and the
    census counts each. This is the temporal-reasoning primitive
    behind conflict detection, downtime attribution, and overlap
    billing. Scale shape: one lag over a user-partitioned window
    (shuffle on user_id only), then a 7-group hash aggregate with
    map-side combine; all comparisons are exact int64 microseconds,
    so both engines classify identically."""
    e = table(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts"))
    dur = F.floor(F.col("value") * 100 + 0.5).cast("long") * 10000
    iv = e.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + dur).alias("e"),
    )
    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    seq = iv.select(
        "s",
        "e",
        F.lag("s").over(w).alias("ps"),
        F.lag("e").over(w).alias("pe"),
    ).where(F.col("ps").isNotNull())
    ps, pe, st, en = (F.col(c) for c in ("ps", "pe", "s", "e"))
    rel = (
        F.when((ps < st) & (pe < st), "precedes")
        .when((ps < st) & (pe == st), "meets")
        .when((ps < st) & (pe < en), "overlaps")
        .when((ps < st) & (pe == en), "finished_by")
        .when((ps < st) & (pe > en), "contains")
        .when((ps == st) & (pe < en), "starts")
        .otherwise("equals")
    )
    return (
        seq.groupBy(rel.alias("relation"))
        .agg(F.count(F.lit(1)).alias("pairs"))
    )


KM_Q = 1000000000  # fixed-point scale for the log-survival fold


@register(
    "events_kaplan_meier",
    oracle=f"""
    WITH span AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(min(ts) AS DATE),
                              CAST(max(ts) AS DATE)) AS BIGINT) AS t,
               CAST(max(ts) AS DATE) AS last_day
        FROM events GROUP BY user_id
    ), g AS (SELECT max(last_day) AS gmax FROM span),
    lab AS (
        SELECT t, last_day < gmax - INTERVAL 2 DAY AS dead
        FROM span, g
    ), grid AS (
        SELECT t,
               CAST(count_if(dead) AS BIGINT) AS d,
               CAST(count_if(NOT dead) AS BIGINT) AS c
        FROM lab GROUP BY t
    ), tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM grid),
    risk AS (
        SELECT t, d, c,
               CAST(n - coalesce(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS n_risk
        FROM grid, tot
    ), terms AS (
        SELECT t, d, c, n_risk,
               CASE WHEN d > 0 AND d < n_risk THEN
                   CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                       * {KM_Q} - 0.5) + 1 AS BIGINT)
                   ELSE 0 END AS qln,
               CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS hit_zero
        FROM risk
    ), fold AS (
        SELECT t, d, c, n_risk,
               sum(qln) OVER w AS cum,
               max(hit_zero) OVER w AS z
        FROM terms
        WINDOW w AS (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT t AS t_days, n_risk, d AS d_events, c AS c_censored,
           CASE WHEN z = 1 THEN 0.0 ELSE
               floor(exp(CAST(cum AS DOUBLE) / {KM_Q}) * 10000 + 0.5)
                   / 10000.0 END AS survival
    FROM fold
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimator WITH right-censoring — the
    correct lifetime curve when the study window truncates
    observation (events_survival's naive curve treats every user as
    fully observed): users whose last event falls within 2 days of
    the corpus end are CENSORED at their observed lifetime (they
    leave the risk set without counting as churned), and
    S(t) = Π_{{t_i ≤ t}} (1 − d_i/n_i) over death times.

    Distribution discipline: the product folds as exp(Σ ln(1−d/n))
    with each log term FIXED-POINT QUANTIZED to 1e-9 (ceil toward
    zero, matching both engines bitwise) so the cumulative sum is an
    exact BIGINT — float associativity can never enter; d = n (curve
    hits exactly zero) short-circuits through a hit-zero flag
    instead of ln(0). Scale shape: one per-user rollup (shuffle on
    user_id), a 1-row global-max broadcast, then ALL windows run on
    the lifetime-days GRID — calendar-bounded metadata
    (census-allowlisted), never raw rows."""
    e = table(spark, sf_dir, "events")
    # |users|-sized rollup feeds both the global-max and the label
    # branch — DATA-SCALED, so persist() (lineage kept, executor
    # loss recomputes; SCALE.md r13 rule): facts scanned ONCE
    span = reuse(
        e.groupBy("user_id")
        .agg(
            F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
            .cast("long")
            .alias("t"),
            F.max("ts").cast("date").alias("last_day"),
        )
    )
    g = span.agg(F.max("last_day").alias("gmax"))
    lab = span.crossJoin(F.broadcast(g)).select(
        "t",
        (F.col("last_day") < F.date_sub(F.col("gmax"), 2)).alias("dead"),
    )
    grid = lab.groupBy("t").agg(
        F.sum(F.when(F.col("dead"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("dead"), 0).otherwise(1)).cast("long").alias("c"),
    )
    tot = grid.agg(F.sum(F.col("d") + F.col("c")).cast("long").alias("n"))
    # lifetime-day grid: bounded by the calendar span (metadata-sized)
    w_excl = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_incl = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        "c",
        (
            F.col("n")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_excl), F.lit(0)
            )
        ).alias("n_risk"),
    )
    dd = F.col("d").cast("double")
    qln = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
        (
            F.floor(
                F.log(F.lit(1.0) - dd / F.col("n_risk")) * KM_Q - 0.5
            )
            + 1
        ).cast("long"),
    ).otherwise(F.lit(0))
    hit = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    terms = risk.select(
        "t", "d", "c", "n_risk", qln.alias("qln"), hit.alias("hit_zero")
    )
    fold = terms.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.sum("qln").over(w_incl).alias("cum"),
        F.max("hit_zero").over(w_incl).alias("z"),
    )
    return fold.select(
        F.col("t").alias("t_days"),
        "n_risk",
        F.col("d").alias("d_events"),
        F.col("c").alias("c_censored"),
        F.when(F.col("z") == 1, F.lit(0.0))
        .otherwise(
            F.floor(
                F.exp(F.col("cum").cast("double") / KM_Q) * 10000 + 0.5
            )
            / 10000.0
        )
        .alias("survival"),
    )


XMR_K = "2.66"  # individuals-chart moving-range control constant


@register(
    "events_xmr_chart",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count_if(event_type = 'error') AS BIGINT) AS x
        FROM events GROUP BY 1
    ), mr AS (
        SELECT day, x,
               abs(x - lag(x) OVER (ORDER BY day)) AS mrv
        FROM daily
    ), lim AS (
        SELECT CAST(avg(CAST(x AS DOUBLE)) AS DOUBLE) AS xbar,
               CAST(sum(mrv) AS DOUBLE) / count(mrv) AS mrbar
        FROM mr
    )
    SELECT strftime(mr.day, '%Y-%m-%d') AS day, mr.x,
           CAST(mr.mrv AS BIGINT) AS moving_range,
           {sql_q4(f"lim.xbar + {XMR_K} * lim.mrbar")} AS ucl,
           {sql_q4(f"lim.xbar - {XMR_K} * lim.mrbar")} AS lcl,
           mr.x > lim.xbar + {XMR_K} * lim.mrbar
               OR mr.x < lim.xbar - {XMR_K} * lim.mrbar
               AS out_of_control
    FROM mr CROSS JOIN lim
    """,
)
def events_xmr_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Individuals / moving-range (XmR) Shewhart control chart on the
    daily error count — the SPC primitive for "is today's failure
    rate a signal or noise": MR_t = |x_t − x_{{t−1}}|, natural
    process limits x̄ ± 2.66·M̄R, and each day flagged when it
    breaches them. Complements events_volatility_band (rolling σ)
    with the classical fixed-constant control methodology.

    Exactness: daily counts and moving ranges are exact integers;
    x̄/M̄R are single closed-form doubles from those sums; the
    2.66 constant is one shared literal. Scale shape: one hash
    aggregate to the calendar-day grid, a lag over that bounded grid
    (census-allowlisted), a 1-row limits broadcast."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("x")
    )
    # calendar-day grid (census-allowlisted)
    mr = daily.select(
        "day",
        "x",
        F.abs(
            F.col("x") - F.lag("x").over(Window.orderBy("day"))
        ).alias("mrv"),
    )
    lim = mr.agg(
        F.avg(F.col("x").cast("double")).alias("xbar"),
        (F.sum("mrv").cast("double") / F.count("mrv")).alias("mrbar"),
    )
    k = float(XMR_K)
    ucl = F.col("xbar") + k * F.col("mrbar")
    lcl = F.col("xbar") - k * F.col("mrbar")
    return mr.crossJoin(F.broadcast(lim)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "x",
        F.col("mrv").cast("long").alias("moving_range"),
        q4(ucl).alias("ucl"),
        q4(lcl).alias("lcl"),
        ((F.col("x") > ucl) | (F.col("x") < lcl)).alias("out_of_control"),
    )


TTC_BUCKET_H = 6  # conversion-latency histogram bucket width (hours)


@register(
    "events_time_to_convert",
    oracle=f"""
    WITH su AS (
        SELECT user_id, min(epoch_us(ts)) AS s
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ), conv AS (
        SELECT su.user_id,
               CAST(min(epoch_us(e.ts)) - su.s AS BIGINT) AS d_us
        FROM su JOIN events e
          ON e.user_id = su.user_id
         AND e.event_type = 'purchase'
         AND epoch_us(e.ts) >= su.s
        GROUP BY su.user_id, su.s
    ), tot AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM su) AS n_signup,
               (SELECT CAST(count(*) AS BIGINT) FROM conv) AS n_conv
    )
    SELECT CAST(d_us // (3600000000 * {TTC_BUCKET_H}) AS BIGINT)
               AS bucket_{TTC_BUCKET_H}h,
           CAST(count(*) AS BIGINT) AS n_users,
           tot.n_signup, tot.n_conv,
           {sql_q4("CAST(tot.n_conv AS DOUBLE) / tot.n_signup")}
               AS conversion_rate
    FROM conv CROSS JOIN tot
    GROUP BY 1, tot.n_signup, tot.n_conv
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for each user, the time from
    FIRST signup to the first purchase at-or-after it, bucketed into
    {TTC_BUCKET_H}-hour bins, with the overall signup→purchase
    conversion rate on every row — the activation funnel's
    time-dimension readout (how long activation takes, not just
    whether it happens).

    Exactness: all latencies are exact integer microseconds; the
    bucket id is integer division; the only double is the final
    rate. Scale shape: one filtered rollup to first-signups (shuffle
    on user_id), one purchase-side join constrained to ts ≥ s (same
    user_id partitioning reused), a bounded-bucket histogram
    aggregate, and 1-row totals broadcast."""
    e = table(spark, sf_dir, "events")
    su = reuse(
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("s"))
    )
    pu = e.where(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("p")
    )
    conv = reuse(
        su.join(pu, "user_id")
        .where(F.col("p") >= F.col("s"))
        .groupBy("user_id", "s")
        .agg((F.min("p") - F.col("s").cast("long")).alias("d_us"))
    )
    tot = (
        su.agg(F.count(F.lit(1)).cast("long").alias("n_signup"))
        .crossJoin(
            conv.agg(F.count(F.lit(1)).cast("long").alias("n_conv"))
        )
    )
    bucket = F.expr(f"d_us DIV ({3600000000} * {TTC_BUCKET_H})").cast(
        "long"
    )
    return (
        conv.crossJoin(F.broadcast(tot))
        .groupBy(
            bucket.alias(f"bucket_{TTC_BUCKET_H}h"),
            "n_signup",
            "n_conv",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .select(
            f"bucket_{TTC_BUCKET_H}h",
            "n_users",
            "n_signup",
            "n_conv",
            q4(
                F.col("n_conv").cast("double") / F.col("n_signup")
            ).alias("conversion_rate"),
        )
    )


@register(
    "orders_herfindahl",
    oracle=f"""
    WITH seg AS (
        SELECT c.c_mktsegment AS grp, c.c_nationkey AS nat,
               CAST(sum(CAST(floor(o.o_totalprice * 100 + 0.5)
                   AS BIGINT)) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT grp, CAST(sum(cents) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS n_players
        FROM seg GROUP BY grp
    ), q AS (
        SELECT s.grp, t.n_players,
               CAST(floor(pow(CAST(s.cents AS DOUBLE) / t.t, 2) * 1e12
                   + 0.5) AS BIGINT) AS qsh
        FROM seg s JOIN tot t ON s.grp = t.grp
    )
    SELECT grp AS c_mktsegment, min(n_players) AS n_nations,
           {sql_q4("CAST(sum(qsh) AS DOUBLE) / 1e12")} AS hhi,
           CAST(sum(qsh) AS DOUBLE) / 1e12 > 0.25 AS concentrated
    FROM q GROUP BY grp
    """,
)
def orders_herfindahl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of revenue by
    supplier-nation within each market segment: HHI = Σ shareᵢ² —
    the antitrust/portfolio concentration readout (HHI > 0.25 =
    highly concentrated) that complements stat_theil_decomposition
    (inequality) and events_gini with the squared-share lens.

    Float discipline: each squared share quantizes to 1e-12
    fixed-point BEFORE the per-group sum, so the 25-term fold is
    exact-integer; shares come from exact cent sums. Two hash
    aggregates (fact rollup to (segment, nation) cells, then
    cell-level fold) — the fact pass map-side combines."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    seg = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("grp"),
            F.col("c_nationkey").alias("nat"),
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).cast("long").alias("cents"))
    )
    tot = seg.groupBy("grp").agg(
        F.sum("cents").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n_players"),
    )
    share = F.col("cents").cast("double") / F.col("t")
    q = seg.join(tot, "grp").select(
        "grp",
        "n_players",
        F.floor(F.pow(share, 2) * 1e12 + 0.5).cast("long").alias("qsh"),
    )
    hhi = F.sum("qsh").cast("double") / 1e12
    return q.groupBy(F.col("grp").alias("c_mktsegment")).agg(
        F.min("n_players").alias("n_nations"),
        q4(hhi).alias("hhi"),
        (hhi > 0.25).alias("concentrated"),
    )


@register(
    "events_diurnal_weekly_profile",
    oracle=f"""
    WITH cells AS (
        SELECT isodow(ts) AS dow, hour(ts) AS hod,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hod AS BIGINT) AS hod,
           n, cents,
           CAST(10000 * n // total AS BIGINT) AS share_bp
    FROM cells CROSS JOIN tot
    """,
)
def events_diurnal_weekly_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Diurnal × weekly load profile — the (day-of-week, hour-of-day)
    heat map behind capacity planning, alert-threshold scheduling,
    and the seasonal baseline every anomaly detector normalizes
    against: event counts and exact cent totals per (dow, hod) cell
    with each cell's traffic share in integer basis points.
    Date-part parity: the ISO weekday (Mon=1..Sun=7 — Spark
    weekday()+1, DuckDB isodow()) avoids the engines' conflicting
    dayofweek numbering; hours are 0-23 on identical UTC
    timestamps. One
    map-side-combined aggregate to ≤168 cells + a 1-row total
    broadcast — the cheapest possible full-table profile."""
    e = table(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents(F.col("value"))).cast("long").alias("cents"),
    )
    tot = cells.agg(F.sum("n").cast("long").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hod",
        "n",
        "cents",
        F.expr("10000 * n DIV total").cast("long").alias("share_bp"),
    )


@register(
    "orders_bland_altman",
    oracle=f"""
    WITH l AS (
        SELECT l_orderkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 + l_tax)
                   * (1 - l_discount) * 100 + 0.5) AS BIGINT))
                   AS BIGINT) AS line_cents
        FROM lineitem GROUP BY 1
    ), pairs AS (
        SELECT CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)
                   - l.line_cents AS d
        FROM orders o JOIN l ON o.o_orderkey = l.l_orderkey
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d) AS BIGINT) AS s1,
               CAST(sum(d * d) AS HUGEINT) AS s2
        FROM pairs
    ), d2 AS (
        SELECT n, CAST(s1 AS DOUBLE) / n AS bias,
               sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                     * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS sd
        FROM m
    ), lim AS (
        SELECT n, bias, sd,
               bias - 1.96 * sd AS loa_lo, bias + 1.96 * sd AS loa_hi
        FROM d2
    )
    SELECT lim.n,
           {sql_q4("lim.bias / 100.0")} AS bias_dollars,
           {sql_q4("lim.sd / 100.0")} AS sd_dollars,
           {sql_q4("lim.loa_lo / 100.0")} AS loa_lo_dollars,
           {sql_q4("lim.loa_hi / 100.0")} AS loa_hi_dollars,
           (SELECT CAST(count_if(d < lim.loa_lo OR d > lim.loa_hi)
               AS BIGINT) FROM pairs) AS n_outside
    FROM lim
    """,
)
def orders_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland–Altman agreement analysis between two measurements of
    the same quantity — here the order HEADER total vs the summed
    LINE charges (price·(1+tax)·(1−discount)): mean difference
    (systematic bias), the SD of differences, the ±1.96σ limits of
    agreement, and how many orders fall outside them — the
    reconciliation methodology finance teams use to decide whether
    header/line drift is systematic (fix the pipeline) or random
    (tolerate). Orders with no lines are excluded (inner join;
    etl_fk_integrity owns orphan accounting).

    Exactness: both measurements and their differences are integer
    cents; moments are exact (d² sums in decimal/HUGEINT); the only
    doubles are the closed-form bias/SD/limits. Scale shape: one
    line rollup (shuffle on orderkey), one header join reusing that
    key, a 1-row moment fold broadcast back for the outside-count
    pass over the cached difference column."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    line_cents = F.floor(
        F.col("l_extendedprice")
        * (1 + F.col("l_tax"))
        * (1 - F.col("l_discount"))
        * 100
        + 0.5
    ).cast("long")
    l = li.groupBy("l_orderkey").agg(
        F.sum(line_cents).cast("long").alias("line_cents")
    )
    # |orders|-sized difference column feeds the moment fold AND
    # the outside-count pass — DATA-SCALED, so persist() (lineage
    # kept, executor loss recomputes; SCALE.md r13 rule)
    pairs = reuse(
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            (cents(F.col("o_totalprice")) - F.col("line_cents")).alias("d")
        )
    )
    dd = F.col("d").cast("decimal(19,0)")
    m = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("s1"),
        F.sum(dd * dd).alias("s2"),
    )
    bias = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    lim = m.select(
        "n",
        bias.alias("bias"),
        sd.alias("sd"),
        (bias - 1.96 * sd).alias("loa_lo"),
        (bias + 1.96 * sd).alias("loa_hi"),
    )
    outside = (
        pairs.crossJoin(F.broadcast(lim))
        .agg(
            F.sum(
                F.when(
                    (F.col("d") < F.col("loa_lo"))
                    | (F.col("d") > F.col("loa_hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outside")
        )
    )
    return lim.crossJoin(F.broadcast(outside)).select(
        "n",
        q4(F.col("bias") / 100.0).alias("bias_dollars"),
        q4(F.col("sd") / 100.0).alias("sd_dollars"),
        q4(F.col("loa_lo") / 100.0).alias("loa_lo_dollars"),
        q4(F.col("loa_hi") / 100.0).alias("loa_hi_dollars"),
        "n_outside",
    )


@register(
    "orders_basket_size_distribution",
    oracle="""
    WITH sizes AS (
        SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
        FROM lineitem GROUP BY 1
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(k) AS BIGINT) AS n_lines
        FROM sizes
    )
    SELECT k AS basket_size,
           CAST(count(*) AS BIGINT) AS n_orders_k,
           tot.n_orders, tot.n_lines,
           CAST(10000 * count(*) // tot.n_orders AS BIGINT) AS share_bp
    FROM sizes CROSS JOIN tot
    GROUP BY k, tot.n_orders, tot.n_lines
    """,
)
def orders_basket_size_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Basket-size distribution — lines per order histogram with
    integer-basis-point shares: the first chart on every commerce
    dashboard and the fan-out factor that sizes the order→line join
    at 100 TB (skewed basket sizes are exactly what join_skew_salted
    exists for; this key MEASURES that skew). One rollup (shuffle on
    orderkey, map-side combined) to a ≤|max basket| histogram + a
    1-row total broadcast."""
    li = table(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    tot = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("k").cast("long").alias("n_lines"),
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .groupBy("k", "n_orders", "n_lines")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders_k"))
        .select(
            F.col("k").alias("basket_size"),
            "n_orders_k",
            "n_orders",
            "n_lines",
            F.expr("10000 * n_orders_k DIV n_orders")
            .cast("long")
            .alias("share_bp"),
        )
    )


# ------------------------------------------- seasonal / entropy (r8 wave)


@register(
    "orders_seasonal_index",
    oracle=f"""
    WITH monthly AS (
        SELECT CAST(month(o_orderdate) AS BIGINT) AS mth,
               CAST(sum(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS sales_cents,
               CAST(count(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(sales_cents) AS BIGINT) AS total_cents FROM monthly
    )
    SELECT mth, n_orders,
           {sql_q4("CAST(sales_cents AS DOUBLE) / 100.0")} AS sales,
           {sql_q4("12.0 * sales_cents / total_cents")} AS seasonal_index
    FROM monthly CROSS JOIN tot
    """,
)
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-month seasonal index of order revenue: index(m) =
    12 * month_share — the multiplicative seasonality table demand
    planners deseasonalize forecasts with (index > 1 = peak month);
    computed over the full multi-year history so each month pools
    every year's observation.

    Scale shape: one hash aggregate to the 12-row month grid (exact
    integer cents), one broadcast grand-total row — fact rows are
    touched once; the index is a ratio of exact BIGINTs."""
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month("o_orderdate").cast("long").alias("mth")
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).cast("long").alias("sales_cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    tot = monthly.agg(F.sum("sales_cents").cast("long").alias("total_cents"))
    return monthly.crossJoin(F.broadcast(tot)).select(
        "mth",
        "n_orders",
        q4(F.col("sales_cents").cast("double") / F.lit(100.0)).alias("sales"),
        q4(F.lit(12.0) * F.col("sales_cents") / F.col("total_cents")).alias(
            "seasonal_index"
        ),
    )


# Per-cell plog2(1/p) contributions quantized at 1e9: the transition
# grid is |types|^2-bounded, but exchange order is still arbitrary —
# integer summands keep the entropy fold exact on both engines.
_MER_Q = 1_000_000_000


@register(
    "events_markov_entropy_rate",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ), trans AS (
        SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY prev, next
    ), row_tot AS (
        SELECT prev, CAST(sum(n) AS BIGINT) AS n_row FROM trans GROUP BY prev
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_all FROM trans
    ), cells AS (
        SELECT CAST(floor(
                   (CAST(t.n AS DOUBLE) / o.n_all)
                   * (-log2(CAST(t.n AS DOUBLE) / r.n_row))
                   * {_MER_Q} + 0.5) AS BIGINT) AS hq
        FROM trans t
        JOIN row_tot r ON r.prev = t.prev
        CROSS JOIN tot o
    )
    SELECT n_all AS n_transitions,
           {sql_q4(f"CAST(sum(hq) AS DOUBLE) / {_MER_Q}")} AS entropy_rate
    FROM cells CROSS JOIN tot GROUP BY n_all
    """,
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order event Markov chain:
    H = sum over states of pi(prev) * H(next | prev), with pi the
    empirical source distribution — bits of irreducible surprise per
    event, the single scalar that summarizes how predictable user
    behavior is (low rate = rigid funnels, high rate = exploratory
    traffic); the derived-scalar companion to events_markov's full
    transition matrix.

    Scale shape: one per-user lag window + one |types|^2 hash
    aggregate (events_markov's plan), then arithmetic on the bounded
    grid with per-cell x1e9-quantized plog(1/p) masses so the final
    fold is an exact BIGINT."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).where(F.col("prev").isNotNull())
    trans = seq.groupBy("prev", F.col("event_type").alias("next")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    row_tot = trans.groupBy("prev").agg(F.sum("n").cast("long").alias("n_row"))
    tot = trans.agg(F.sum("n").cast("long").alias("n_all"))
    hq = F.floor(
        (F.col("n").cast("double") / F.col("n_all"))
        * (-F.log2(F.col("n").cast("double") / F.col("n_row")))
        * _MER_Q
        + 0.5
    ).cast("long")
    cells = (
        trans.join(F.broadcast(row_tot), "prev")
        .crossJoin(F.broadcast(tot))
        .select(hq.alias("hq"), "n_all")
    )
    return cells.groupBy("n_all").agg(
        q4(F.sum("hq").cast("double") / _MER_Q).alias("entropy_rate")
    ).select(F.col("n_all").alias("n_transitions"), "entropy_rate")


@register(
    "events_interarrival_burstiness",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               epoch_us(ts) - epoch_us(lag(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id)) AS gap_us
        FROM events
    ), gaps AS (
        SELECT event_type, CAST(gap_us // 1000000 AS BIGINT) AS g
        FROM seq WHERE gap_us IS NOT NULL
    ), m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(g) AS BIGINT) AS s1,
               CAST(sum(g*g) AS BIGINT) AS s2
        FROM gaps GROUP BY event_type
    )
    SELECT event_type, n_gaps,
           {sql_q4("CAST(s1 AS DOUBLE) / n_gaps")} AS mean_gap_s,
           {sql_q4("(sqrt(CAST(s2 AS DOUBLE)/n_gaps"
                   " - pow(CAST(s1 AS DOUBLE)/n_gaps, 2))"
                   " - CAST(s1 AS DOUBLE)/n_gaps)"
                   " / (sqrt(CAST(s2 AS DOUBLE)/n_gaps"
                   " - pow(CAST(s1 AS DOUBLE)/n_gaps, 2))"
                   " + CAST(s1 AS DOUBLE)/n_gaps)")} AS b_index
    FROM m
    """,
)
def events_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness coefficient per event type:
    B = (sigma - mu) / (sigma + mu) over each user's inter-arrival
    gaps pooled by type — B near -1 = metronome-regular, 0 =
    Poisson, toward +1 = heavy-tailed bursts; the single number that
    says whether 'bursty traffic' is real or just Poisson clumping
    (Goh & Barabási 2008, public).

    Scale shape: gaps come from a (user, type)-partitioned lag —
    per-entity partitions, never a whole-type ordering (a per-type
    global sort would melt on one executor at 100 TB); gaps floor to
    whole seconds via integer microsecond division (identical on
    both engines) so n/sum/sum-of-squares are exact BIGINTs (g^2
    bounded by span^2 ~ 7e12, within int64 through ~1e6 gaps per
    type; widen the unit for longer spans)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    gaps = (
        e.select("event_type", gap_us.alias("gap_us"))
        .where(F.col("gap_us").isNotNull())
        # integer floor to whole seconds: exact and identical on both
        # engines (gaps are non-negative)
        .select(
            "event_type",
            ((F.col("gap_us") - F.col("gap_us") % 1000000) / 1000000)
            .cast("long")
            .alias("g"),
        )
    )
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("g").cast("long").alias("s1"),
        F.sum(F.col("g") * F.col("g")).cast("long").alias("s2"),
    )
    mu = F.col("s1").cast("double") / F.col("n_gaps")
    sigma = F.sqrt(F.col("s2").cast("double") / F.col("n_gaps") - F.pow(mu, 2))
    return m.select(
        "event_type",
        "n_gaps",
        q4(mu).alias("mean_gap_s"),
        q4((sigma - mu) / (sigma + mu)).alias("b_index"),
    )


_ABC_MIG_SPLIT = "1998-07-01"  # mid-history period boundary


def _abc_mig_period_sql(pred: str, alias: str) -> str:
    return f"""
        SELECT o_custkey, CASE
            WHEN cum_cents * 10000 // total_cents <= {ABC_A_BPS} THEN 'A'
            WHEN cum_cents * 10000 // total_cents <= {ABC_B_BPS} THEN 'B'
            ELSE 'C' END AS {alias}
        FROM (
            SELECT o_custkey, revenue_cents,
                   CAST(sum(revenue_cents) OVER (
                        ORDER BY revenue_cents DESC, o_custkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum_cents,
                   CAST(sum(revenue_cents) OVER () AS BIGINT) AS total_cents
            FROM (
                SELECT o_custkey,
                       CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                            AS BIGINT) AS revenue_cents
                FROM orders WHERE {pred} GROUP BY o_custkey
            )
        )
    """


@register(
    "orders_abc_migration",
    oracle=f"""
    WITH p1 AS ({_abc_mig_period_sql(
        f"o_orderdate < TIMESTAMP '{_ABC_MIG_SPLIT}'", "c1")}),
    p2 AS ({_abc_mig_period_sql(
        f"o_orderdate >= TIMESTAMP '{_ABC_MIG_SPLIT}'", "c2")})
    SELECT coalesce(p1.c1, 'N') AS class_from,
           coalesce(p2.c2, 'N') AS class_to,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM p1 FULL JOIN p2 ON p2.o_custkey = p1.o_custkey
    GROUP BY 1, 2
    """,
)
def orders_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-class migration matrix across the mid-history split: each
    customer is Pareto-classified (A = first 70% of cumulative
    revenue, B = next 20%, C = rest) independently in each period,
    then the transition counts (including 'N' for customers present
    in only one period) show churn out of the A-class and climbers
    into it — the account-management report behind 'protect your A's,
    grow your B's'.

    Scale shape: each period runs the orders_abc_analysis machinery
    (per-customer hash rollup -> ONE bucketed-prefix cumulative pass,
    never an unpartitioned window) on its date-pruned scan; the
    migration matrix is a full outer join of two customer-class
    frames plus a <=16-cell aggregate."""

    def period_classes(pred, alias):
        o = table(spark, sf_dir, "orders").where(pred)
        rev = o.groupBy("o_custkey").agg(
            F.sum(cents(F.col("o_totalprice"))).cast("long").alias("revenue_cents")
        )
        tot = rev.agg(F.sum("revenue_cents").cast("long").alias("total_cents"))
        ranked = global_ordered(
            rev,
            [F.col("revenue_cents").desc(), F.col("o_custkey")],
            bucket_key="revenue_cents",
            bucket_desc=True,
            sums={"revenue_cents": "cum_cents"},
            rank_col=None,
        )
        bps = (F.col("cum_cents") * 10000 - F.col("cum_cents") * 10000 % F.col(
            "total_cents"
        )) / F.col("total_cents")
        return ranked.crossJoin(F.broadcast(tot)).select(
            "o_custkey",
            F.when(bps <= ABC_A_BPS, "A")
            .when(bps <= ABC_B_BPS, "B")
            .otherwise("C")
            .alias(alias),
        )

    split = F.lit(_ABC_MIG_SPLIT).cast("timestamp")
    p1 = period_classes(F.col("o_orderdate") < split, "c1")
    p2 = period_classes(F.col("o_orderdate") >= split, "c2").select(
        F.col("o_custkey").alias("k2"), "c2"
    )
    return (
        p1.join(p2, F.col("k2") == F.col("o_custkey"), "full")
        .groupBy(
            F.coalesce("c1", F.lit("N")).alias("class_from"),
            F.coalesce("c2", F.lit("N")).alias("class_to"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


_PIDX_SPLIT = "1998-07-01"  # same mid-history boundary as abc_migration
_PIDX_Q = 10_000  # fixed-point quantum for cross-period price terms


@register(
    "orders_price_index",
    oracle=f"""
    WITH per AS (
        SELECT l_partkey AS pk,
               CASE WHEN l_shipdate < TIMESTAMP '{_PIDX_SPLIT}'
                    THEN 0 ELSE 1 END AS per,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
               CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
                    AS BIGINT) AS ext_c
        FROM lineitem GROUP BY 1, 2
    ), matched AS (
        SELECT p0.pk,
               p0.qty AS q0, p0.ext_c AS e0,
               p1.qty AS q1, p1.ext_c AS e1
        FROM (SELECT * FROM per WHERE per = 0) p0
        JOIN (SELECT * FROM per WHERE per = 1) p1 ON p1.pk = p0.pk
    ), sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n_parts,
               CAST(sum(e0) AS BIGINT) AS se0,
               CAST(sum(e1) AS BIGINT) AS se1,
               CAST(sum(CAST(floor(CAST(e1 AS DOUBLE) / q1 * q0
                    * {_PIDX_Q} + 0.5) AS BIGINT)) AS BIGINT) AS p1q0_q,
               CAST(sum(CAST(floor(CAST(e0 AS DOUBLE) / q0 * q1
                    * {_PIDX_Q} + 0.5) AS BIGINT)) AS BIGINT) AS p0q1_q
        FROM matched
    )
    SELECT n_parts,
           {sql_q4(f"CAST(p1q0_q AS DOUBLE) / {_PIDX_Q} / se0")} AS laspeyres,
           {sql_q4(f"CAST(se1 AS DOUBLE) / (CAST(p0q1_q AS DOUBLE) / {_PIDX_Q})")}
               AS paasche,
           {sql_q4(f"sqrt(CAST(p1q0_q AS DOUBLE) / {_PIDX_Q} / se0"
                   f" * CAST(se1 AS DOUBLE)"
                   f" / (CAST(p0q1_q AS DOUBLE) / {_PIDX_Q}))")} AS fisher
    FROM sums
    """,
)
def orders_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices across the
    mid-history split, over parts traded in BOTH periods: unit prices
    are period revenue over period quantity per part; Laspeyres
    weights by old quantities, Paasche by new, Fisher is their
    geometric mean — the standard inflation-of-my-basket trio a
    procurement dashboard tracks.

    Hash-parity discipline: p*q terms that mix periods collapse
    exactly when price and quantity come from the SAME period
    (sum(p0*q0) = sum(ext0) — exact cents), and the two genuinely
    cross-period terms are fixed-point quantized per part (x1e4)
    before the sum, so every aggregate is an exact BIGINT.

    Scale shape: one lineitem scan hash-aggregates to (part, period);
    the match is a part-keyed self-join of the two period slices;
    indices are ratios of the four sums."""
    li = table(spark, sf_dir, "lineitem")
    split = F.lit(_PIDX_SPLIT).cast("timestamp")
    per = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.when(F.col("l_shipdate") < split, 0).otherwise(1).alias("per"),
    ).agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        F.sum(cents(F.col("l_extendedprice"))).cast("long").alias("ext_c"),
    )
    p0 = per.where(F.col("per") == 0).select(
        "pk", F.col("qty").alias("q0"), F.col("ext_c").alias("e0")
    )
    p1 = per.where(F.col("per") == 1).select(
        F.col("pk").alias("pk1"), F.col("qty").alias("q1"), F.col("ext_c").alias("e1")
    )
    matched = p0.join(p1, F.col("pk1") == F.col("pk"))
    p1q0 = F.floor(
        F.col("e1").cast("double") / F.col("q1") * F.col("q0") * _PIDX_Q + 0.5
    ).cast("long")
    p0q1 = F.floor(
        F.col("e0").cast("double") / F.col("q0") * F.col("q1") * _PIDX_Q + 0.5
    ).cast("long")
    sums = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("e0").cast("long").alias("se0"),
        F.sum("e1").cast("long").alias("se1"),
        F.sum(p1q0).cast("long").alias("p1q0_q"),
        F.sum(p0q1).cast("long").alias("p0q1_q"),
    )
    lasp = F.col("p1q0_q").cast("double") / _PIDX_Q / F.col("se0")
    paas = F.col("se1").cast("double") / (
        F.col("p0q1_q").cast("double") / _PIDX_Q
    )
    return sums.select(
        "n_parts",
        q4(lasp).alias("laspeyres"),
        q4(paas).alias("paasche"),
        q4(
            F.sqrt(
                F.col("p1q0_q").cast("double")
                / _PIDX_Q
                / F.col("se0")
                * F.col("se1").cast("double")
                / (F.col("p0q1_q").cast("double") / _PIDX_Q)
            )
        ).alias("fisher"),
    )


# ------------------------------------------- survival comparison (r8)

_LR_Q = 1_000_000_000
_LR_CHI2_CRIT = 3.8415  # chi2(1), alpha = 0.05


@register(
    "events_logrank_test",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(min(ts) AS DATE),
                              CAST(max(ts) AS DATE)) AS BIGINT) AS t,
               CAST(max(ts) AS DATE) AS last_day,
               CAST(count_if(event_type = 'purchase') > 0 AS INT) AS grp
        FROM events GROUP BY user_id
    ), g AS (SELECT max(last_day) AS gmax FROM per_user),
    lab AS (
        SELECT t, grp, last_day < gmax - INTERVAL 2 DAY AS dead
        FROM per_user, g
    ), grid AS (
        SELECT t,
               CAST(count_if(dead AND grp = 1) AS BIGINT) AS d1,
               CAST(count_if(dead AND grp = 0) AS BIGINT) AS d0,
               CAST(count_if(grp = 1) AS BIGINT) AS a1,
               CAST(count_if(grp = 0) AS BIGINT) AS a0
        FROM lab GROUP BY t
    ), tot AS (
        SELECT CAST(sum(a1) AS BIGINT) AS nu1,
               CAST(sum(a0) AS BIGINT) AS nu0
        FROM grid
    ), risk AS (
        SELECT t, d1, d0,
               CAST(nu1 - coalesce(sum(a1) OVER w, 0) AS BIGINT) AS n1,
               CAST(nu0 - coalesce(sum(a0) OVER w, 0) AS BIGINT) AS n0
        FROM grid CROSS JOIN tot
        WINDOW w AS (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), terms AS (
        SELECT CAST(floor((d1 - CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0))
                    * {_LR_Q} + 0.5) AS BIGINT) AS oe_q,
               CASE WHEN n1 + n0 > 1 THEN
                   CAST(floor(CAST(d1 + d0 AS DOUBLE) * n1 * n0
                        * (n1 + n0 - d1 - d0)
                        / (n1 + n0) / (n1 + n0) / (n1 + n0 - 1)
                        * {_LR_Q} + 0.5) AS BIGINT)
                   ELSE 0 END AS v_q
        FROM risk WHERE d1 + d0 > 0 AND n1 > 0 AND n0 > 0
    ), s AS (
        SELECT CAST(coalesce(sum(oe_q), 0) AS BIGINT) AS oe,
               CAST(coalesce(sum(v_q), 0) AS BIGINT) AS v
        FROM terms
    )
    SELECT nu1 AS n_users_purchasers, nu0 AS n_users_other,
           {sql_q4(f"CASE WHEN v = 0 THEN 0.0 ELSE "
                   f"pow(CAST(oe AS DOUBLE) / {_LR_Q}, 2)"
                   f" / (CAST(v AS DOUBLE) / {_LR_Q}) END")} AS chi2,
           (v > 0 AND pow(CAST(oe AS DOUBLE) / {_LR_Q}, 2)
                / (CAST(v AS DOUBLE) / {_LR_Q}) > {_LR_CHI2_CRIT})
               AS significant
    FROM s CROSS JOIN tot
    """,
)
def events_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing the activity-survival
    curves of purchasers vs non-purchasers: at each observed lifetime
    the hypergeometric expected deaths under 'same hazard' are
    compared to group-1's observed deaths; chi2 = (sum(O-E))^2 /
    sum(V) — the significance companion to events_kaplan_meier's
    curve (do purchasers actually stay active longer, or does the gap
    fit chance?).  Same censoring convention as the KM key (users
    still active within 2 days of the corpus end are censored).

    Scale shape: one per-user rollup, one bounded lifetime-day grid,
    at-risk counts from ONE prefix pass, per-time O-E and variance
    terms x1e9-quantized so both folds are exact BIGINTs."""
    e = table(spark, sf_dir, "events")
    per_user = reuse(e.groupBy("user_id").agg(
        F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
        .cast("long")
        .alias("t"),
        F.max("ts").cast("date").alias("last_day"),
        (F.count_if(F.col("event_type") == "purchase") > 0)
        .cast("int")
        .alias("grp"),
    ))
    g = per_user.agg(F.max("last_day").alias("gmax"))
    lab = per_user.crossJoin(F.broadcast(g)).select(
        "t",
        "grp",
        (F.col("last_day") < F.date_sub(F.col("gmax"), 2)).alias("dead"),
    )
    grid = lab.groupBy("t").agg(
        F.count_if(F.col("dead") & (F.col("grp") == 1)).cast("long").alias("d1"),
        F.count_if(F.col("dead") & (F.col("grp") == 0)).cast("long").alias("d0"),
        F.count_if(F.col("grp") == 1).cast("long").alias("a1"),
        F.count_if(F.col("grp") == 0).cast("long").alias("a0"),
    ).localCheckpoint(eager=False)
    tot = grid.agg(
        F.sum("a1").cast("long").alias("nu1"),
        F.sum("a0").cast("long").alias("nu0"),
    )
    cum = global_ordered(
        grid,
        [F.col("t")],
        bucket_key="t",
        sums={"a1": "ca1", "a0": "ca0"},
        rank_col=None,
    )
    risk = cum.crossJoin(F.broadcast(tot)).select(
        "d1",
        "d0",
        (F.col("nu1") - (F.col("ca1") - F.col("a1"))).alias("n1"),
        (F.col("nu0") - (F.col("ca0") - F.col("a0"))).alias("n0"),
    )
    n = F.col("n1") + F.col("n0")
    d = F.col("d1") + F.col("d0")
    oe_q = F.floor(
        (F.col("d1") - d.cast("double") * F.col("n1") / n) * _LR_Q + 0.5
    ).cast("long")
    v_q = F.when(
        n > 1,
        F.floor(
            d.cast("double")
            * F.col("n1")
            * F.col("n0")
            * (n - d)
            / n
            / n
            / (n - 1)
            * _LR_Q
            + 0.5
        ).cast("long"),
    ).otherwise(0)
    terms = risk.where((d > 0) & (F.col("n1") > 0) & (F.col("n0") > 0)).select(
        oe_q.alias("oe_q"), v_q.alias("v_q")
    )
    # coalesce(0): the terms frame can be EMPTY (a degenerate corpus
    # with no informative stratum — e.g. every user in one group), so
    # the sums must not come back NULL, and chi2 guards v = 0.
    s = terms.agg(
        F.coalesce(F.sum("oe_q"), F.lit(0)).cast("long").alias("oe"),
        F.coalesce(F.sum("v_q"), F.lit(0)).cast("long").alias("v"),
    )
    chi2_raw = F.pow(F.col("oe").cast("double") / _LR_Q, 2) / (
        F.col("v").cast("double") / _LR_Q
    )
    chi2 = F.when(F.col("v") == 0, F.lit(0.0)).otherwise(chi2_raw)
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("nu1").alias("n_users_purchasers"),
        F.col("nu0").alias("n_users_other"),
        q4(chi2).alias("chi2"),
        ((F.col("v") > 0) & (chi2_raw > _LR_CHI2_CRIT)).alias("significant"),
    )


# ------------------------------- inventory safety stock (r8 wave U)

_SS_Z_E4 = 16449   # z for 95% cycle service level, x1e4 (Phi^-1(0.95))
_SS_LEAD_DAYS = 7  # review/replenishment lead time


@register(
    "orders_safety_stock",
    oracle=f"""
    WITH daily AS (
        SELECT l_suppkey AS suppkey, CAST(l_shipdate AS DATE) AS d,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ), s AS (
        SELECT suppkey,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(q) AS BIGINT) AS sq,
               CAST(sum(q * q) AS BIGINT) AS sq2
        FROM daily GROUP BY suppkey
    )
    SELECT suppkey, n_days,
           {sql_q4("CAST(sq AS DOUBLE) / n_days")} AS mean_daily,
           {sql_q4("sqrt((n_days * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE)"
                   " * sq) / (CAST(n_days AS DOUBLE) * (n_days - 1)))")}
               AS std_daily,
           {sql_q4(f"{_SS_Z_E4}e-4 * sqrt((n_days * CAST(sq2 AS DOUBLE)"
                   f" - CAST(sq AS DOUBLE) * sq)"
                   f" / (CAST(n_days AS DOUBLE) * (n_days - 1)))"
                   f" * sqrt({_SS_LEAD_DAYS}.0)")} AS safety_stock,
           {sql_q4(f"CAST(sq AS DOUBLE) / n_days * {_SS_LEAD_DAYS}"
                   f" + {_SS_Z_E4}e-4 * sqrt((n_days * CAST(sq2 AS DOUBLE)"
                   f" - CAST(sq AS DOUBLE) * sq)"
                   f" / (CAST(n_days AS DOUBLE) * (n_days - 1)))"
                   f" * sqrt({_SS_LEAD_DAYS}.0)")} AS reorder_point
    FROM s
    WHERE n_days > 1
    """,
)
def orders_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier safety-stock and reorder-point policy from shipped
    demand: SS = z · sigma_daily · sqrt(L) and ROP = mu_daily · L + SS
    at a 95% cycle service level (z = 1.6449) over a 7-day lead time —
    the king-formula inventory policy that pairs with
    orders_eoq_policy (how MUCH to order) by answering WHEN to order.
    Daily demand statistics are over ACTIVE shipping days (documented
    choice: zero-fill would need the calendar domain).

    Demand variance comes from exact integer moments: quantities are
    integral, so sum(q) and sum(q^2) fold as BIGINTs and the sample
    std is one sqrt over exact integers per supplier; suppliers with
    a single active day are excluded (variance undefined).

    Scale shape at 100 TB: two hash aggregates — (supplier, day) then
    supplier — both map-side combined; no windows, no joins."""
    li = table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.col("l_suppkey").alias("suppkey"),
            F.to_date("l_shipdate").alias("d"),
            F.col("l_quantity").cast("long").alias("qi"),
        )
        .groupBy("suppkey", "d")
        .agg(F.sum("qi").cast("long").alias("q"))
    )
    s = daily.groupBy("suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("long").alias("sq2"),
    )
    nd = F.col("n_days").cast("double")
    mean_d = F.col("sq").cast("double") / F.col("n_days")
    std_d = F.sqrt(
        (F.col("n_days") * F.col("sq2").cast("double")
         - F.col("sq").cast("double") * F.col("sq"))
        / (nd * (F.col("n_days") - 1))
    )
    ss = F.lit(_SS_Z_E4 * 1e-4) * std_d * F.sqrt(F.lit(float(_SS_LEAD_DAYS)))
    return s.where(F.col("n_days") > 1).select(
        "suppkey",
        "n_days",
        q4(mean_d).alias("mean_daily"),
        q4(std_d).alias("std_daily"),
        q4(ss).alias("safety_stock"),
        q4(mean_d * _SS_LEAD_DAYS + ss).alias("reorder_point"),
    )


# ------------------------------------ attribute control chart (r8 wave W)


@register(
    "events_spc_p_chart",
    oracle=f"""
    WITH daily AS (
        SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count_if(event_type = 'purchase') AS BIGINT) AS k
        FROM events GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(k) AS BIGINT) AS tk
        FROM daily
    )
    SELECT day, n, k,
           {sql_q4("CAST(k AS DOUBLE) / n")} AS p,
           {sql_q4("CAST(tk AS DOUBLE) / tn")} AS p_bar,
           {sql_q4("CAST(tk AS DOUBLE) / tn + 3.0 * sqrt(CAST(tk AS DOUBLE)"
                   " / tn * (1.0 - CAST(tk AS DOUBLE) / tn) / n)")} AS ucl,
           {sql_q4("greatest(0.0, CAST(tk AS DOUBLE) / tn"
                   " - 3.0 * sqrt(CAST(tk AS DOUBLE) / tn"
                   " * (1.0 - CAST(tk AS DOUBLE) / tn) / n))")} AS lcl,
           CAST(CAST(k AS DOUBLE) / n > CAST(tk AS DOUBLE) / tn
                + 3.0 * sqrt(CAST(tk AS DOUBLE) / tn
                * (1.0 - CAST(tk AS DOUBLE) / tn) / n)
             OR CAST(k AS DOUBLE) / n < CAST(tk AS DOUBLE) / tn
                - 3.0 * sqrt(CAST(tk AS DOUBLE) / tn
                * (1.0 - CAST(tk AS DOUBLE) / tn) / n)
             AS BOOLEAN) AS out_of_control
    FROM daily, tot
    """,
)
def events_spc_p_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute (p) control chart of the daily purchase share with
    per-day 3-sigma binomial limits: UCL/LCL = p_bar +- 3·sqrt(
    p_bar(1-p_bar)/n_day) — the PROPORTION companion to the
    individuals chart events_xmr_chart (variable limits because each
    day's subgroup size differs), flagging days whose conversion mix
    shifted beyond chance.

    The center line comes from exact integer totals (one broadcast
    1-row frame); each day's limits and flag are pure arithmetic on
    that row plus the day's own exact counts, so the chart is one
    hash aggregate to |days| rows and one broadcast join at any
    scale."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
            F.col("event_type"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_if(F.col("event_type") == "purchase")
            .cast("long")
            .alias("k"),
        )
    )
    tot = daily.agg(
        F.sum("n").cast("long").alias("tn"), F.sum("k").cast("long").alias("tk")
    )
    pb = F.col("tk").cast("double") / F.col("tn")
    sig = F.lit(3.0) * F.sqrt(pb * (F.lit(1.0) - pb) / F.col("n"))
    p = F.col("k").cast("double") / F.col("n")
    return daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "n",
        "k",
        q4(p).alias("p"),
        q4(pb).alias("p_bar"),
        q4(pb + sig).alias("ucl"),
        q4(F.greatest(F.lit(0.0), pb - sig)).alias("lcl"),
        ((p > pb + sig) | (p < pb - sig)).alias("out_of_control"),
    )


# ---------------------------------- Bass diffusion fit (r8 wave AB)


@register(
    "events_bass_diffusion",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS fd
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), t0 AS (
        SELECT min(fd) AS d0 FROM firsts
    ), daily AS (
        SELECT CAST(date_diff('day', d0, fd) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS n_t
        FROM firsts, t0 GROUP BY 1
    ), cumu AS (
        SELECT t, n_t,
               CAST(coalesce(sum(n_t) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS c
        FROM daily
    ), mom AS (
        SELECT CAST(count(*) AS BIGINT) AS tn,
               CAST(sum(c) AS BIGINT) AS sc,
               CAST(sum(c * c) AS BIGINT) AS sc2,
               CAST(sum(c * c * c) AS BIGINT) AS sc3,
               CAST(sum(c * c * c * c) AS BIGINT) AS sc4,
               CAST(sum(n_t) AS BIGINT) AS sn,
               CAST(sum(n_t * c) AS BIGINT) AS snc,
               CAST(sum(n_t * c * c) AS BIGINT) AS snc2
        FROM cumu
    ), solved AS (
        SELECT tn, sn,
            ((CAST(sn AS DOUBLE) * (sc2 * 1.0 * sc4 - sc3 * 1.0 * sc3)
             - CAST(sc AS DOUBLE) * (snc * 1.0 * sc4 - sc3 * 1.0 * snc2)
             + CAST(sc2 AS DOUBLE) * (snc * 1.0 * sc3 - sc2 * 1.0 * snc2))
            / (CAST(tn AS DOUBLE) * (sc2 * 1.0 * sc4 - sc3 * 1.0 * sc3)
             - CAST(sc AS DOUBLE) * (sc * 1.0 * sc4 - sc2 * 1.0 * sc3)
             + CAST(sc2 AS DOUBLE) * (sc * 1.0 * sc3 - sc2 * 1.0 * sc2)))
                AS av,
            ((CAST(tn AS DOUBLE) * (snc * 1.0 * sc4 - sc3 * 1.0 * snc2)
             - CAST(sn AS DOUBLE) * (sc * 1.0 * sc4 - sc2 * 1.0 * sc3)
             + CAST(sc2 AS DOUBLE) * (sc * 1.0 * snc2 - snc * 1.0 * sc2))
            / (CAST(tn AS DOUBLE) * (sc2 * 1.0 * sc4 - sc3 * 1.0 * sc3)
             - CAST(sc AS DOUBLE) * (sc * 1.0 * sc4 - sc2 * 1.0 * sc3)
             + CAST(sc2 AS DOUBLE) * (sc * 1.0 * sc3 - sc2 * 1.0 * sc2)))
                AS bv,
            ((CAST(tn AS DOUBLE) * (sc2 * 1.0 * snc2 - snc * 1.0 * sc3)
             - CAST(sc AS DOUBLE) * (sc * 1.0 * snc2 - snc * 1.0 * sc2)
             + CAST(sn AS DOUBLE) * (sc * 1.0 * sc3 - sc2 * 1.0 * sc2))
            / (CAST(tn AS DOUBLE) * (sc2 * 1.0 * sc4 - sc3 * 1.0 * sc3)
             - CAST(sc AS DOUBLE) * (sc * 1.0 * sc4 - sc2 * 1.0 * sc3)
             + CAST(sc2 AS DOUBLE) * (sc * 1.0 * sc3 - sc2 * 1.0 * sc2)))
                AS cv
        FROM mom
    )
    SELECT tn AS n_days, sn AS n_adopters,
           {sql_q4("av")} AS a, {sql_q4("bv")} AS b, {sql_q4("cv")} AS c,
           {sql_q4("CASE WHEN cv < 0 AND bv * bv - 4 * av * cv >= 0 THEN"
                   " (-bv - sqrt(bv * bv - 4 * av * cv)) / (2 * cv)"
                   " ELSE 0.0 END")} AS m_hat,
           {sql_q4("CASE WHEN cv < 0 AND bv * bv - 4 * av * cv >= 0 THEN"
                   " av / ((-bv - sqrt(bv * bv - 4 * av * cv)) / (2 * cv))"
                   " ELSE 0.0 END")} AS p_hat,
           {sql_q4("CASE WHEN cv < 0 AND bv * bv - 4 * av * cv >= 0 THEN"
                   " av / ((-bv - sqrt(bv * bv - 4 * av * cv)) / (2 * cv))"
                   " + bv ELSE 0.0 END")} AS q_hat
    FROM solved
    """,
)
def events_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model fit to first-purchase adoption: the
    discrete Bass regression n_t = a + b*C_(t-1) + c*C_(t-1)^2
    (Bass 1969's own estimation scheme) solved in closed form, then
    mapped to the innovation/imitation parameters via m =
    (-b - sqrt(b^2-4ac))/(2c), p = a/m, q = p + b — the
    product-adoption forecast curve marketing analytics fits to
    launch data; degenerate fits (c >= 0 or negative discriminant)
    report zeros by spec rather than NaN.

    All eight regression moments (up to C^4 and n·C^2) fold as exact
    BIGINTs over the calendar-bounded adoption-day grid, the 3x3
    normal equations solve by Cramer's rule on one row, and the
    cumulative-adopters prefix is a window over <=|days| rows (census
    allowlisted). C^4 stays under 2^63 up to ~40k adopters; beyond
    that, pre-scale C (docstring contract, same discipline as the
    fixed-point graph iterations).

    Scale shape at 100 TB: one fact pass to per-user first purchases,
    one aggregate to the day grid, bounded-window prefix, single-row
    algebra."""
    e = table(spark, sf_dir, "events")
    firsts = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("fd"))
    )
    t0 = firsts.agg(F.min("fd").alias("d0"))
    daily = (
        firsts.crossJoin(F.broadcast(t0))
        .select(F.datediff("fd", "d0").cast("long").alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n_t"))
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    cumu = daily.select(
        "t",
        "n_t",
        F.coalesce(F.sum("n_t").over(wt), F.lit(0)).cast("long").alias("c"),
    )
    c = F.col("c")
    mom = cumu.agg(
        F.count(F.lit(1)).cast("long").alias("tn"),
        F.sum(c).cast("long").alias("sc"),
        F.sum(c * c).cast("long").alias("sc2"),
        F.sum(c * c * c).cast("long").alias("sc3"),
        F.sum(c * c * c * c).cast("long").alias("sc4"),
        F.sum("n_t").cast("long").alias("sn"),
        F.sum(F.col("n_t") * c).cast("long").alias("snc"),
        F.sum(F.col("n_t") * c * c).cast("long").alias("snc2"),
    )
    tn = F.col("tn").cast("double")
    sc = F.col("sc").cast("double")
    sc2 = F.col("sc2").cast("double")
    sc3 = F.col("sc3").cast("double")
    sc4 = F.col("sc4").cast("double")
    sn = F.col("sn").cast("double")
    snc = F.col("snc").cast("double")
    snc2 = F.col("snc2").cast("double")
    det = (
        tn * (sc2 * sc4 - sc3 * sc3)
        - sc * (sc * sc4 - sc2 * sc3)
        + sc2 * (sc * sc3 - sc2 * sc2)
    )
    av = (
        sn * (sc2 * sc4 - sc3 * sc3)
        - sc * (snc * sc4 - sc3 * snc2)
        + sc2 * (snc * sc3 - sc2 * snc2)
    ) / det
    bv = (
        tn * (snc * sc4 - sc3 * snc2)
        - sn * (sc * sc4 - sc2 * sc3)
        + sc2 * (sc * snc2 - snc * sc2)
    ) / det
    cv = (
        tn * (sc2 * snc2 - snc * sc3)
        - sc * (sc * snc2 - snc * sc2)
        + sn * (sc * sc3 - sc2 * sc2)
    ) / det
    solved = mom.select(
        F.col("tn").alias("n_days"),
        F.col("sn").alias("n_adopters"),
        av.alias("av"),
        bv.alias("bv"),
        cv.alias("cv"),
    )
    disc = F.col("bv") * F.col("bv") - 4 * F.col("av") * F.col("cv")
    ok = (F.col("cv") < 0) & (disc >= 0)
    m_hat = (-F.col("bv") - F.sqrt(disc)) / (2 * F.col("cv"))
    return solved.select(
        "n_days",
        "n_adopters",
        q4(F.col("av")).alias("a"),
        q4(F.col("bv")).alias("b"),
        q4(F.col("cv")).alias("c"),
        q4(F.when(ok, m_hat).otherwise(0.0)).alias("m_hat"),
        q4(F.when(ok, F.col("av") / m_hat).otherwise(0.0)).alias("p_hat"),
        q4(
            F.when(ok, F.col("av") / m_hat + F.col("bv")).otherwise(0.0)
        ).alias("q_hat"),
    )


# ------------------------------------ newsvendor quantity (r8 wave AB)

_NV_CR_PCT = 80  # critical ratio cu/(cu+co) as a percent


@register(
    "orders_newsvendor",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(l_shipdate AS DATE) AS d,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demand
        FROM lineitem GROUP BY 1
    ), grid AS (
        SELECT demand, CAST(count(*) AS BIGINT) AS nd
        FROM daily GROUP BY demand
    ), cum AS (
        SELECT demand,
               CAST(sum(nd) OVER (ORDER BY demand
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cd,
               CAST(sum(nd) OVER () AS BIGINT) AS t
        FROM grid
    ), pick AS (
        SELECT CAST(min(demand) AS BIGINT) AS q_star,
               CAST(max(t) AS BIGINT) AS n_days
        FROM cum WHERE 100 * cd >= {_NV_CR_PCT} * t
    ), mu AS (
        SELECT CAST(sum(demand) AS BIGINT) AS sd FROM daily
    )
    SELECT n_days, CAST({_NV_CR_PCT} AS BIGINT) AS critical_ratio_pct,
           q_star,
           {sql_q4("CAST(sd AS DOUBLE) / n_days")} AS mean_demand,
           {sql_q4("CAST(q_star AS DOUBLE) / (CAST(sd AS DOUBLE) / n_days)")}
               AS q_over_mean
    FROM pick, mu
    """,
)
def orders_newsvendor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor optimal order quantity from the EMPIRICAL daily
    demand distribution: Q* = the 80th-percentile demand
    day (the smallest q with F(q) >= cu/(cu+co), here CR = 0.8) —
    the single-period stocking decision that, unlike
    orders_safety_stock's normal approximation, uses the observed
    distribution directly and so survives skewed demand.

    The empirical CDF lives on the (distinct daily demand) grid —
    calendar-bounded (<=|days| rows, census allowlisted) — and the
    quantile test 100·cum >= CR·T is exact integer arithmetic; only
    the reported mean divides.

    Scale shape at 100 TB: one fact pass to daily totals, one
    bounded-grid prefix, single-row output."""
    li = table(spark, sf_dir, "lineitem")
    daily = (
        li.select(
            F.to_date("l_shipdate").alias("d"),
            F.col("l_quantity").cast("long").alias("qi"),
        )
        .groupBy("d")
        .agg(F.sum("qi").cast("long").alias("demand"))
    )
    grid = daily.groupBy("demand").agg(
        F.count(F.lit(1)).cast("long").alias("nd")
    )
    wd = Window.orderBy("demand").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("demand").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = grid.select(
        "demand",
        F.sum("nd").over(wd).cast("long").alias("cd"),
        F.sum("nd").over(wall).cast("long").alias("t"),
    )
    pick = cum.where(100 * F.col("cd") >= _NV_CR_PCT * F.col("t")).agg(
        F.min("demand").cast("long").alias("q_star"),
        F.max("t").cast("long").alias("n_days"),
    )
    mu = daily.agg(F.sum("demand").cast("long").alias("sd"))
    out = pick.crossJoin(F.broadcast(mu))
    mean_d = F.col("sd").cast("double") / F.col("n_days")
    return out.select(
        "n_days",
        F.lit(_NV_CR_PCT).cast("long").alias("critical_ratio_pct"),
        "q_star",
        q4(mean_d).alias("mean_demand"),
        q4(F.col("q_star").cast("double") / mean_d).alias("q_over_mean"),
    )


# ----------------------------------- Allan variance (r8 wave AF)

_AV_TAUS = (1, 2, 4, 8)  # averaging windows, in hours


@register(
    "events_allan_variance",
    oracle=f"""
    WITH t0 AS (
        SELECT min(date_trunc('hour', ts)) AS h0 FROM events
    ), hourly AS (
        SELECT CAST(date_diff('hour', h0, date_trunc('hour', ts))
                   AS BIGINT) AS h,
               CAST(count(*) AS BIGINT) AS m
        FROM events, t0 GROUP BY 1
    ), taus AS (
        SELECT unnest([{", ".join(str(t) for t in _AV_TAUS)}]) AS tau
    ), binned AS (
        SELECT t.tau, h.h // t.tau AS b, CAST(sum(h.m) AS BIGINT) AS mb
        FROM hourly h, taus t GROUP BY t.tau, h.h // t.tau
    ), diffs AS (
        SELECT tau, mb,
               lag(mb) OVER (PARTITION BY tau ORDER BY b) AS prev
        FROM binned
    )
    SELECT CAST(tau AS BIGINT) AS tau_hours,
           CAST(count(*) AS BIGINT) AS n_diffs,
           {sql_q4("0.5 * sum(CAST((mb - prev) * (mb - prev) AS DOUBLE))"
                   " / count(*)")} AS allan_var,
           {sql_q4("(sum(CAST(mb AS DOUBLE)) + sum(CAST(prev AS DOUBLE)))"
                   " / (2.0 * count(*))")} AS mean_bin_count,
           {sql_q4(
               "0.5 * sum(CAST((mb - prev) * (mb - prev) AS DOUBLE))"
               " / count(*)"
               " / ((sum(CAST(mb AS DOUBLE)) + sum(CAST(prev AS DOUBLE)))"
               " / (2.0 * count(*)))"
           )} AS avar_over_mean
    FROM diffs WHERE prev IS NOT NULL
    GROUP BY tau
    """,
)
def events_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allan variance of the event arrival rate at four averaging
    windows (1/2/4/8 h): AVAR(tau) = 0.5·mean((m_(i+1) - m_i)^2) over
    consecutive non-overlapping bins — the MULTI-SCALE stability
    profile (from clock metrology) that tells drift from white noise
    where events_fano_factor sees only one scale: for a Poisson
    stream avar/mean stays ~1 at every tau, trends push it up with
    tau, over-smoothing pulls it down.

    The hourly grid is calendar-bounded; each tau re-bins it with
    integer division (a compile-time 4-way fan-out, one hash
    aggregate), consecutive differences come from a lag window
    PARTITIONED by tau over bin indexes (bounded by |hours|/tau),
    and the squared differences fold exactly — only the two means
    divide.

    Scale shape at 100 TB: one fact pass to |hours| rows; everything
    after runs on the bounded grid."""
    e = table(spark, sf_dir, "events")
    t0 = e.agg(F.min(F.date_trunc("hour", "ts")).alias("h0"))
    hourly = (
        e.crossJoin(F.broadcast(t0))
        .select(
            (
                F.unix_timestamp(F.date_trunc("hour", "ts"))
                - F.unix_timestamp("h0")
            )
            .cast("long")
            .alias("sec")
        )
        .select((F.col("sec") / 3600).cast("long").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    taus = F.explode(
        F.lit(list(_AV_TAUS)).cast("array<long>")
    ).alias("tau")
    binned = (
        hourly.select("h", "m", taus)
        .select("tau", F.expr("h DIV tau").alias("b"), "m")
        .groupBy("tau", "b")
        .agg(F.sum("m").cast("long").alias("mb"))
    )
    wl = Window.partitionBy("tau").orderBy("b")
    diffs = binned.select(
        "tau", "mb", F.lag("mb").over(wl).alias("prev")
    ).where(F.col("prev").isNotNull())
    d2 = (F.col("mb") - F.col("prev")) * (F.col("mb") - F.col("prev"))
    avar = F.lit(0.5) * F.sum(d2.cast("double")) / F.count(F.lit(1))
    meanb = (
        F.sum(F.col("mb").cast("double")) + F.sum(F.col("prev").cast("double"))
    ) / (F.lit(2.0) * F.count(F.lit(1)))
    return diffs.groupBy(F.col("tau").cast("long").alias("tau_hours")).agg(
        F.count(F.lit(1)).cast("long").alias("n_diffs"),
        q4(avar).alias("allan_var"),
        q4(meanb).alias("mean_bin_count"),
        q4(avar / meanb).alias("avar_over_mean"),
    )


# --------------------------- semi-Markov dwell times (r8 wave AK)


@register(
    "events_markov_dwell_times",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS nxt
        FROM events
    ), dwell AS (
        SELECT event_type,
               CAST(date_diff('second', ts, nxt) AS BIGINT) AS gap_s
        FROM seq WHERE nxt IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_transitions,
           {sql_q4("CAST(sum(gap_s) AS DOUBLE) / count(*)")} AS mean_dwell_s,
           {sql_q4(
               "sqrt((count(*) * CAST(sum(gap_s * gap_s) AS DOUBLE)"
               " - CAST(sum(gap_s) AS DOUBLE) * sum(gap_s))"
               " / (CAST(count(*) AS DOUBLE) * (count(*) - 1)))"
           )} AS std_dwell_s,
           {sql_q4(
               "sqrt((count(*) * CAST(sum(gap_s * gap_s) AS DOUBLE)"
               " - CAST(sum(gap_s) AS DOUBLE) * sum(gap_s))"
               " / (CAST(count(*) AS DOUBLE) * (count(*) - 1)))"
               " / (CAST(sum(gap_s) AS DOUBLE) / count(*))"
           )} AS cv_dwell
    FROM dwell GROUP BY event_type
    """,
)
def events_markov_dwell_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-Markov dwell-time profile: how long a user SITS in each
    state (event type) before their next event — mean, std, and the
    coefficient of variation per state (CV ~ 1 is memoryless/
    exponential, CV >> 1 is bursty, CV << 1 is scheduled). The
    holding-time half of the chain whose jump probabilities
    events_markov already reports: together they specify the full
    semi-Markov process.

    Per-user successor timestamps come from one lead() window
    PARTITIONED by user (bounded per-user history); gaps are exact
    integer seconds and both moments fold as BIGINTs, so the three
    statistics are ratios of exact integers per state.

    Scale shape at 100 TB: one shuffle on user_id for the lead
    window, one hash aggregate to |event types| rows."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", "ts", F.lead("ts").over(w).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    dwell = seq.select(
        "event_type",
        (F.unix_timestamp("nxt") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("gap_s"),
    )
    n = F.count(F.lit(1))
    sg = F.sum("gap_s").cast("double")
    sg2 = F.sum(F.col("gap_s") * F.col("gap_s")).cast("double")
    std = F.sqrt((n * sg2 - sg * sg) / (n.cast("double") * (n - 1)))
    return dwell.groupBy("event_type").agg(
        n.cast("long").alias("n_transitions"),
        q4(sg / n).alias("mean_dwell_s"),
        q4(std).alias("std_dwell_s"),
        q4(std / (sg / n)).alias("cv_dwell"),
    )


# ------------------------------ price/volume bridge (r8 wave AN)


@register(
    "orders_price_volume_bridge",
    oracle=f"""
    WITH bounds AS (
        SELECT min(CAST(l_shipdate AS DATE)) AS d0,
               max(CAST(l_shipdate AS DATE)) AS d1
        FROM lineitem
    ), classed AS (
        SELECT l_returnflag AS category,
               CASE WHEN date_diff('day', d0, CAST(l_shipdate AS DATE))
                    <= CAST(floor(date_diff('day', d0, d1) / 2) AS BIGINT)
               THEN 1 ELSE 2 END AS period,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS rc
        FROM lineitem, bounds
    ), per AS (
        SELECT category, period,
               CAST(sum(q) AS BIGINT) AS qty,
               CAST(sum(rc) AS BIGINT) AS revc
        FROM classed GROUP BY category, period
    ), wide AS (
        SELECT category,
               CAST(max(CASE WHEN period = 1 THEN qty END) AS BIGINT) AS q1,
               CAST(max(CASE WHEN period = 2 THEN qty END) AS BIGINT) AS q2,
               CAST(max(CASE WHEN period = 1 THEN revc END) AS BIGINT) AS r1,
               CAST(max(CASE WHEN period = 2 THEN revc END) AS BIGINT) AS r2
        FROM per GROUP BY category
    )
    SELECT category, q1, q2,
           {sql_q4("CAST(r1 AS DOUBLE) / 100.0")} AS rev1,
           {sql_q4("CAST(r2 AS DOUBLE) / 100.0")} AS rev2,
           {sql_q4("(CAST(r2 AS DOUBLE) - r1) / 100.0")} AS delta_rev,
           {sql_q4("(CAST(r2 AS DOUBLE) / q2 - CAST(r1 AS DOUBLE) / q1)"
                   " * q2 / 100.0")} AS price_effect,
           {sql_q4("(CAST(q2 AS DOUBLE) - q1)"
                   " * (CAST(r1 AS DOUBLE) / q1) / 100.0")} AS volume_effect
    FROM wide
    """,
)
def orders_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price/volume variance bridge per return-flag category between
    the two calendar halves of the shipping history: delta revenue =
    (p2 - p1)·q2 + (q2 - q1)·p1 with p = revenue/quantity — the FP&A
    walk that says how much of a revenue move came from PRICE vs
    VOLUME (the identity closes exactly by construction, which the
    property test asserts). The two-period companion to
    orders_yoy_growth's pure growth rates.

    All inputs are exact integers (quantities, cents revenues) from
    ONE conditional aggregate over a broadcast calendar midpoint; the
    bridge terms are single-row-per-category arithmetic on those
    integers.

    Scale shape at 100 TB: one fact pass to 3x2 cells, a 3-row
    pivot, no joins beyond the broadcast bounds frame."""
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min(F.to_date("l_shipdate")).alias("d0"),
        F.max(F.to_date("l_shipdate")).alias("d1"),
    )
    classed = li.crossJoin(F.broadcast(bounds)).select(
        F.col("l_returnflag").alias("category"),
        F.when(
            F.datediff(F.to_date("l_shipdate"), F.col("d0"))
            <= F.floor(F.datediff("d1", "d0") / 2).cast("long"),
            1,
        )
        .otherwise(2)
        .alias("period"),
        F.col("l_quantity").cast("long").alias("q"),
        cents(F.col("l_extendedprice")).alias("rc"),
    )
    per = classed.groupBy("category", "period").agg(
        F.sum("q").cast("long").alias("qty"),
        F.sum("rc").cast("long").alias("revc"),
    )
    wide = per.groupBy("category").agg(
        F.max(F.when(F.col("period") == 1, F.col("qty")))
        .cast("long")
        .alias("q1"),
        F.max(F.when(F.col("period") == 2, F.col("qty")))
        .cast("long")
        .alias("q2"),
        F.max(F.when(F.col("period") == 1, F.col("revc")))
        .cast("long")
        .alias("r1"),
        F.max(F.when(F.col("period") == 2, F.col("revc")))
        .cast("long")
        .alias("r2"),
    )
    p1 = F.col("r1").cast("double") / F.col("q1")
    p2 = F.col("r2").cast("double") / F.col("q2")
    return wide.select(
        "category",
        "q1",
        "q2",
        q4(F.col("r1").cast("double") / 100.0).alias("rev1"),
        q4(F.col("r2").cast("double") / 100.0).alias("rev2"),
        q4((F.col("r2").cast("double") - F.col("r1")) / 100.0).alias(
            "delta_rev"
        ),
        q4((p2 - p1) * F.col("q2") / 100.0).alias("price_effect"),
        q4(
            (F.col("q2").cast("double") - F.col("q1")) * p1 / 100.0
        ).alias("volume_effect"),
    )


# ----------------------- competing-risks incidence (r8 wave AP)

_CIF_Q = 1_000_000_000_000


@register(
    "events_competing_risks_cif",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               min(CAST(ts AS DATE)) AS entry,
               min(CASE WHEN event_type = 'purchase'
                   THEN CAST(ts AS DATE) END) AS p_day,
               min(CASE WHEN event_type = 'error'
                   THEN CAST(ts AS DATE) END) AS e_day,
               max(CAST(ts AS DATE)) AS last_day
        FROM events GROUP BY user_id
    ), coded AS (
        SELECT CASE
                 WHEN p_day IS NOT NULL AND (e_day IS NULL OR p_day <= e_day)
                   THEN CAST(date_diff('day', entry, p_day) AS BIGINT)
                 WHEN e_day IS NOT NULL
                   THEN CAST(date_diff('day', entry, e_day) AS BIGINT)
                 ELSE CAST(date_diff('day', entry, last_day) AS BIGINT)
               END AS t,
               CASE
                 WHEN p_day IS NOT NULL AND (e_day IS NULL OR p_day <= e_day)
                   THEN 1
                 WHEN e_day IS NOT NULL THEN 2
                 ELSE 0
               END AS k
        FROM per_user
    ), grid AS (
        SELECT t,
               CAST(count_if(k = 1) AS BIGINT) AS d1,
               CAST(count_if(k = 2) AS BIGINT) AS d2,
               CAST(count(*) AS BIGINT) AS leave_t
        FROM coded GROUP BY t
    ), risk AS (
        SELECT t, d1, d2,
               CAST(sum(leave_t) OVER (ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_at_risk
        FROM grid
    ), haz AS (
        SELECT t, d1, d2, n_at_risk,
               CASE WHEN d1 + d2 < n_at_risk THEN
                   CAST(floor(ln(1.0 - CAST(d1 + d2 AS DOUBLE) / n_at_risk)
                       * {_CIF_Q} + 0.5) AS BIGINT)
               END AS lnq
        FROM risk
    ), surv AS (
        SELECT t, d1, d2, n_at_risk,
               exp(CAST(coalesce(sum(lnq) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS DOUBLE) / {_CIF_Q}) AS s_minus
        FROM haz
    ), terms AS (
        SELECT t, d1, d2, n_at_risk,
               CAST(sum(CAST(floor(s_minus * d1 / n_at_risk * {_CIF_Q}
                   + 0.5) AS BIGINT)) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cif1q,
               CAST(sum(CAST(floor(s_minus * d2 / n_at_risk * {_CIF_Q}
                   + 0.5) AS BIGINT)) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cif2q
        FROM surv
    )
    SELECT t AS day, n_at_risk, d1 AS n_purchase, d2 AS n_error,
           {sql_q4(f"CAST(cif1q AS DOUBLE) / {_CIF_Q}")} AS cif_purchase,
           {sql_q4(f"CAST(cif2q AS DOUBLE) / {_CIF_Q}")} AS cif_error
    FROM terms
    """,
)
def events_competing_risks_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING RISKS:
    from each user's cohort entry (first event), the first purchase
    and the first error compete; CIF_k(t) = sum_(s<=t) S(s-)·
    d_k(s)/n(s) with S the all-cause Kaplan-Meier survivor — the
    estimator that events_kaplan_meier (single risk) gets WRONG under
    competition, because 1 - KM_k overstates incidence when the
    other risk removes users first. Ties on the first day go to
    purchase (documented); users with neither event censor at their
    last activity. Terminal day: when every remaining at-risk user
    fails (d1+d2 = n_at_risk, which by the suffix-sum construction
    can only be the last grid day), ln(1-d/n) is -inf, so the
    log-survivor term is NULLed for that row — it feeds no later
    prefix — but the day's finite CIF increments S(t-)*d_k/n ARE
    emitted, completing the Aalen-Johansen mass at 1.

    Scale discipline: per-user coding is one hash aggregate; the
    day grid is calendar-bounded, at-risk counts come from a
    DESCENDING prefix (suffix sum), the survivor prefix runs in
    1e-12-quantized log space, and the two incidence prefixes fold
    quantized per-day terms — so every window is over <=|days| rows
    and all folds are order-free BIGINTs.

    Scale shape at 100 TB: one fact pass to users, one to the day
    grid, three bounded-grid prefixes (census-allowlisted family)."""
    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("entry"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("p_day"),
        F.min(F.when(F.col("event_type") == "error", F.to_date("ts"))).alias(
            "e_day"
        ),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    p_first = F.col("p_day").isNotNull() & (
        F.col("e_day").isNull() | (F.col("p_day") <= F.col("e_day"))
    )
    coded = per_user.select(
        F.when(p_first, F.datediff("p_day", "entry"))
        .when(F.col("e_day").isNotNull(), F.datediff("e_day", "entry"))
        .otherwise(F.datediff("last_day", "entry"))
        .cast("long")
        .alias("t"),
        F.when(p_first, 1)
        .when(F.col("e_day").isNotNull(), 2)
        .otherwise(0)
        .alias("k"),
    )
    grid = coded.groupBy("t").agg(
        F.count_if(F.col("k") == 1).cast("long").alias("d1"),
        F.count_if(F.col("k") == 2).cast("long").alias("d2"),
        F.count(F.lit(1)).cast("long").alias("leave_t"),
    )
    wdesc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.select(
        "t",
        "d1",
        "d2",
        F.sum("leave_t").over(wdesc).cast("long").alias("n_at_risk"),
    )
    haz = risk.select(
        "t",
        "d1",
        "d2",
        "n_at_risk",
        F.when(
            F.col("d1") + F.col("d2") < F.col("n_at_risk"),
            F.floor(
                F.log(
                    F.lit(1.0)
                    - (F.col("d1") + F.col("d2")).cast("double")
                    / F.col("n_at_risk")
                )
                * _CIF_Q
                + F.lit(0.5)
            ).cast("long"),
        ).alias("lnq"),
    )
    wasc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    surv = haz.select(
        "t",
        "d1",
        "d2",
        "n_at_risk",
        F.exp(
            F.coalesce(F.sum("lnq").over(wasc), F.lit(0)).cast("double")
            / _CIF_Q
        ).alias("s_minus"),
    )
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )

    def _cifq(dcol: str) -> Column:
        term = F.floor(
            F.col("s_minus") * F.col(dcol) / F.col("n_at_risk") * _CIF_Q
            + F.lit(0.5)
        ).cast("long")
        return F.sum(term).over(wcum).cast("long")

    terms = surv.select(
        "t",
        "d1",
        "d2",
        "n_at_risk",
        _cifq("d1").alias("cif1q"),
        _cifq("d2").alias("cif2q"),
    )
    return terms.select(
        F.col("t").alias("day"),
        "n_at_risk",
        F.col("d1").alias("n_purchase"),
        F.col("d2").alias("n_error"),
        q4(F.col("cif1q").cast("double") / _CIF_Q).alias("cif_purchase"),
        q4(F.col("cif2q").cast("double") / _CIF_Q).alias("cif_error"),
    )


# ------------------------------ round-9 wave F: epoch-folding period scan

# candidate periods in seconds; 8 phase bins; chi2(7) 5% = 14.067
_EF_PERIODS = (21600, 28800, 43200, 86400, 604800)
_EF_BINS = 8
_EF_CHI2_CRIT = "14.067"


@register(
    "events_epoch_folding",
    oracle=f"""
    WITH secs AS (
        SELECT epoch_us(ts) // 1000000 AS s FROM events
    ), periods AS (
        SELECT p FROM (VALUES {", ".join(f"({p})" for p in _EF_PERIODS)})
            t(p)
    ), folded AS (
        SELECT p, CAST((s % p) * {_EF_BINS} // p AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS o
        FROM secs CROSS JOIN periods GROUP BY p, b
    ), per_p AS (
        SELECT CAST(p AS BIGINT) AS period_s,
               CAST(sum(o) AS BIGINT) AS n,
               CAST(sum(o * o) AS BIGINT) AS so2,
               CAST(max_by(b, o * 16 - b) AS BIGINT) AS peak_bin,
               CAST(max(o) AS BIGINT) AS peak_count
        FROM folded GROUP BY p
    )
    SELECT period_s, n, peak_bin, peak_count,
           {sql_q4(f"{_EF_BINS}.0 * so2 / n - n")} AS chi2_stat,
           {_EF_BINS}.0 * so2 / n - n > {_EF_CHI2_CRIT} AS periodic
    FROM per_p
    """,
)
def events_epoch_folding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-folding periodicity scan of the event stream (the X-ray-
    astronomy classic applied to weblogs): fold event timestamps
    modulo each candidate period (6h/8h/12h/24h/week) into 8 phase
    bins and test uniformity with Pearson's χ²(7) — a strongly
    periodic signal concentrates mass in a few phases of the RIGHT
    period and stays flat under wrong ones. Complements
    stat_periodogram (which needs an evenly-spaced series; folding
    works on raw point events) and reports each period's peak phase.

    Exactness: χ² = B·Σo²/n - n is an exact-integer identity
    (Σ(o - n/B)²/(n/B) expanded), so the only double is the final
    expression; the peak bin ties break toward the smaller bin via
    max_by on the single integer key o*16 - b (bins < 16) so both
    engines pick the same phase.

    Scale shape at 100 TB: a 5-period compile-time fan-out, ONE hash
    aggregate to 5×8 = 40 cells (map-side combined), closed form per
    period; no windows, no joins."""
    e = table(spark, sf_dir, "events")
    secs = e.select((F.unix_micros(F.col("ts")) / 1_000_000).cast("long").alias("s"))
    periods = spark.createDataFrame(
        [(p,) for p in _EF_PERIODS], "p long"
    )
    folded = (
        secs.crossJoin(F.broadcast(periods))
        .groupBy(
            "p",
            ((F.col("s") % F.col("p")) * _EF_BINS / F.col("p"))
            .cast("long")
            .alias("b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    per_p = folded.groupBy(F.col("p").alias("period_s")).agg(
        F.sum("o").cast("long").alias("n"),
        F.sum(F.col("o") * F.col("o")).cast("long").alias("so2"),
        F.max_by(F.col("b"), F.col("o") * 16 - F.col("b"))
        .cast("long")
        .alias("peak_bin"),
        F.max("o").cast("long").alias("peak_count"),
    )
    chi2 = float(_EF_BINS) * F.col("so2") / F.col("n") - F.col("n")
    return per_p.select(
        "period_s",
        "n",
        "peak_bin",
        "peak_count",
        q4(chi2).alias("chi2_stat"),
        (chi2 > float(_EF_CHI2_CRIT)).alias("periodic"),
    )


# ---------------------------- round-9 wave G: directed information flow

_TE_Q = 1_000_000_000_000


@register(
    "events_transfer_entropy",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count_if(event_type = 'click') AS BIGINT) AS x,
               CAST(count_if(event_type = 'purchase') AS BIGINT) AS y
        FROM events GROUP BY 1
    ), medx AS (
        SELECT min(x) AS mx FROM (
            SELECT x, sum(cnt) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(cnt) OVER () AS n
            FROM (SELECT x, CAST(count(*) AS BIGINT) AS cnt
                  FROM daily GROUP BY x)
        ) WHERE 2 * cum >= n
    ), medy AS (
        SELECT min(y) AS my FROM (
            SELECT y, sum(cnt) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(cnt) OVER () AS n
            FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt
                  FROM daily GROUP BY y)
        ) WHERE 2 * cum >= n
    ), coded AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CASE WHEN x > (SELECT mx FROM medx) THEN 1 ELSE 0 END AS xb,
               CASE WHEN y > (SELECT my FROM medy) THEN 1 ELSE 0 END AS yb
        FROM daily
    ), trans AS (
        SELECT a.xb AS x, a.yb AS y, b.xb AS xn, b.yb AS yn
        FROM coded a JOIN coded b ON b.t = a.t + 1
    ), t3xy AS (
        SELECT yn, y, x, CAST(count(*) AS BIGINT) AS c3
        FROM trans GROUP BY yn, y, x
    ), t3yx AS (
        SELECT xn, x, y, CAST(count(*) AS BIGINT) AS c3
        FROM trans GROUP BY xn, x, y
    ), nfold AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM trans),
    texy AS (
        SELECT CAST(sum(a.c3 * CAST(floor(ln(
                   (CAST(a.c3 AS DOUBLE)
                    * (SELECT sum(c3) FROM t3xy i WHERE i.y = a.y))
                   / ((SELECT sum(c3) FROM t3xy j
                       WHERE j.y = a.y AND j.x = a.x)
                      * CAST((SELECT sum(c3) FROM t3xy k
                          WHERE k.y = a.y AND k.yn = a.yn) AS DOUBLE))
               ) * {_TE_Q} + 0.5) AS BIGINT)) AS BIGINT) AS teq
        FROM t3xy a
    ), teyx AS (
        SELECT CAST(sum(a.c3 * CAST(floor(ln(
                   (CAST(a.c3 AS DOUBLE)
                    * (SELECT sum(c3) FROM t3yx i WHERE i.x = a.x))
                   / ((SELECT sum(c3) FROM t3yx j
                       WHERE j.x = a.x AND j.y = a.y)
                      * CAST((SELECT sum(c3) FROM t3yx k
                          WHERE k.x = a.x AND k.xn = a.xn) AS DOUBLE))
               ) * {_TE_Q} + 0.5) AS BIGINT)) AS BIGINT) AS teq
        FROM t3yx a
    )
    SELECT nt AS n_transitions,
           {sql_q4(f"CAST(texy.teq AS DOUBLE) / {_TE_Q} / nt")}
               AS te_click_to_purchase,
           {sql_q4(f"CAST(teyx.teq AS DOUBLE) / {_TE_Q} / nt")}
               AS te_purchase_to_click,
           texy.teq > teyx.teq AS click_drives_purchase
    FROM nfold CROSS JOIN texy CROSS JOIN teyx
    """,
)
def events_transfer_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transfer entropy between the daily click and purchase series,
    BOTH directions (Schreiber 2000): binarize each series at its own
    median, then TE(X→Y) = Σ p(y⁺,y,x)·ln[p(y⁺|y,x)/p(y⁺|y)] over
    day transitions — the DIRECTED predictability number that
    stat_ccf cannot give (correlation is symmetric; TE asks whether
    knowing today's clicks improves tomorrow's purchase prediction
    beyond purchases' own history, and vice versa).

    Exactness: the 8-cell transition table and every marginal are
    exact counts; each cell's log term c3·c_y/(c_yx·c_{y⁺y})
    quantizes at 1e-12 before the (≤8-term) fold, so the sum is
    order-free; day-count medians come from bounded count-grid
    prefixes.

    Scale shape at 100 TB: one hash aggregate to the calendar day
    grid, a rank+1 self-join ON THE GRID, two 8-row conditional
    tables with grid-sized marginal joins — all metadata-sized."""
    e = table(spark, sf_dir, "events")
    # the ranked calendar-day grid feeds the two median machines AND
    # the coded series
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_if(F.col("event_type") == "click").cast("long").alias("x"),
        F.count_if(F.col("event_type") == "purchase").cast("long").alias("y"),
    )
    ranked = calendar_rank(daily, "day")

    def _median_of(col: str):
        grid = ranked.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        wt = Window.partitionBy()
        cum = grid.select(
            col,
            F.sum("cnt").over(w).alias("cum"),
            F.sum("cnt").over(wt).alias("n"),
        )
        return cum.where(2 * F.col("cum") >= F.col("n")).agg(
            F.min(col).alias("med")
        )

    medx = _median_of("x").select(F.col("med").alias("mx"))
    medy = _median_of("y").select(F.col("med").alias("my"))
    coded = (
        ranked.crossJoin(F.broadcast(medx))
        .crossJoin(F.broadcast(medy))
        .select(
            "t",
            F.when(F.col("x") > F.col("mx"), 1).otherwise(0).alias("xb"),
            F.when(F.col("y") > F.col("my"), 1).otherwise(0).alias("yb"),
        )
    )
    a = coded.select(
        F.col("t").alias("ta"), F.col("xb").alias("x"), F.col("yb").alias("y")
    )
    b = coded.select(
        F.col("t").alias("tb"), F.col("xb").alias("xn"), F.col("yb").alias("yn")
    )
    trans = (
        a.join(b, F.col("tb") == F.col("ta") + 1)
        .select("x", "y", "xn", "yn")
        # day-grid sized, EIGHT consumers (nfold + 2x(c3+3 marginals))
        # — bounded checkpoint
        .localCheckpoint(eager=False)
    )
    nfold = trans.agg(F.count(F.lit(1)).cast("long").alias("nt"))

    def _te(tgt_next: str, cond_self: str, cond_other: str):
        c3 = trans.groupBy(tgt_next, cond_self, cond_other).agg(
            F.count(F.lit(1)).cast("long").alias("c3")
        ).localCheckpoint(eager=False)  # <=8 rows, 4 consumers
        m_self = c3.groupBy(cond_self).agg(
            F.sum("c3").cast("long").alias("c_self")
        )
        m_sc = c3.groupBy(cond_self, cond_other).agg(
            F.sum("c3").cast("long").alias("c_sc")
        )
        m_sn = c3.groupBy(cond_self, tgt_next).agg(
            F.sum("c3").cast("long").alias("c_sn")
        )
        j = (
            c3.join(F.broadcast(m_self), cond_self)
            .join(F.broadcast(m_sc), [cond_self, cond_other])
            .join(F.broadcast(m_sn), [cond_self, tgt_next])
        )
        term = F.floor(
            F.log(
                F.col("c3").cast("double")
                * F.col("c_self")
                / (F.col("c_sc") * F.col("c_sn").cast("double"))
            )
            * _TE_Q
            + F.lit(0.5)
        ).cast("long")
        return j.agg(F.sum(F.col("c3") * term).cast("long").alias("teq"))

    texy = _te("yn", "y", "x")
    teyx = _te("xn", "x", "y")
    return (
        nfold.crossJoin(F.broadcast(texy.select(F.col("teq").alias("teq_xy"))))
        .crossJoin(F.broadcast(teyx.select(F.col("teq").alias("teq_yx"))))
        .select(
            F.col("nt").alias("n_transitions"),
            q4(F.col("teq_xy").cast("double") / _TE_Q / F.col("nt")).alias(
                "te_click_to_purchase"
            ),
            q4(F.col("teq_yx").cast("double") / _TE_Q / F.col("nt")).alias(
                "te_purchase_to_click"
            ),
            (F.col("teq_xy") > F.col("teq_yx")).alias("click_drives_purchase"),
        )
    )


# --------------------- round-9 wave L: Viterbi as a tropical-matrix scan

# 2-state HMM over daily activity (quiet/busy), all log-probs
# quantized at 1e-9 so the tropical (max,+) algebra is EXACT int64:
# transitions stay 0.9 / switch 0.1; emissions: quiet emits low-
# activity days w.p. 0.8, busy emits high w.p. 0.8; uniform start.
_HMM_Q = 1_000_000_000
_HMM_STAY = -105360516  # ln 0.9
_HMM_SWITCH = -2302585093  # ln 0.1
_HMM_MATCH = -223143551  # ln 0.8
_HMM_MISS = -1609437912  # ln 0.2
_HMM_START = -693147181  # ln 0.5


@register(
    "events_hmm_viterbi",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), med AS (
        SELECT min(y) AS m FROM (
            SELECT y, sum(cnt) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(cnt) OVER () AS n
            FROM (SELECT y, CAST(count(*) AS BIGINT) AS cnt
                  FROM daily GROUP BY y)
        ) WHERE 2 * cum >= n
    ), obs AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CASE WHEN y > (SELECT m FROM med) THEN 1 ELSE 0 END AS hi
        FROM daily
    ), nfold AS (SELECT CAST(count(*) AS BIGINT) AS tt FROM obs),
    rec AS (
        -- sequential left-fold of the exact tropical recurrence:
        -- v_s(t) = max_s' (v_s'(t-1) + trans(s',s)) + emit(s, hi_t)
        SELECT t,
               CAST({_HMM_START} AS BIGINT)
                 + CASE WHEN hi = 0 THEN {_HMM_MATCH}
                   ELSE {_HMM_MISS} END AS v0,
               CAST({_HMM_START} AS BIGINT)
                 + CASE WHEN hi = 1 THEN {_HMM_MATCH}
                   ELSE {_HMM_MISS} END AS v1
        FROM obs WHERE t = 1
        UNION ALL
        SELECT o.t,
               greatest(r.v0 + {_HMM_STAY}, r.v1 + {_HMM_SWITCH})
                 + CASE WHEN o.hi = 0 THEN {_HMM_MATCH}
                   ELSE {_HMM_MISS} END AS v0,
               greatest(r.v1 + {_HMM_STAY}, r.v0 + {_HMM_SWITCH})
                 + CASE WHEN o.hi = 1 THEN {_HMM_MATCH}
                   ELSE {_HMM_MISS} END AS v1
        FROM rec r JOIN obs o ON o.t = r.t + 1
    ), fin AS (
        SELECT v0, v1 FROM rec CROSS JOIN nfold WHERE t = tt
    )
    SELECT (SELECT tt FROM nfold) AS n_days,
           {sql_q4(f"greatest(v0, v1) / {_HMM_Q}.0")} AS viterbi_loglik,
           CASE WHEN v1 > v0 THEN 1 ELSE 0 END AS final_state_busy
    FROM fin
    """,
)
def events_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi best-path score of a 2-state HMM (quiet/busy) over the
    daily activity sequence, computed as the SEQUENTIAL left fold of
    the exact tropical (max,+) recurrence
    v_s(t) = max_s' (v_s'(t-1) + trans(s',s)) + emit(s, hi_t)
    over quantized-integer log-probs, the same integers the oracle's
    recursive CTE folds: every entry is an exact int64, so the two
    engines agree to the bit.

    Scale shape: ONE hash aggregate to the calendar day grid, then a
    single 1-row aggregate collects the day-ordered counts (a BOUNDED
    frame: ≤|days| rows at any SF, ~365 a year), takes their lower
    median for the busy/quiet binarization, and folds the 2-long state
    vector from day 1 over the remaining days with ``aggregate``. The
    build fires no job and the fold runs in one task."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    obs = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("s"),
        # lower median: the smallest count with cumulative share >= 1/2
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)").alias("m"),
    ).where(F.size("s") > 0).select(
        F.size("s").cast("long").alias("n_days"),
        F.transform("s", lambda x: (x["y"] > F.col("m")).cast("int")).alias("hi"),
    )

    def emit(state: int, hi):
        return F.when(hi == state, _HMM_MATCH).otherwise(_HMM_MISS).cast("long")

    def step(v, hi):
        return F.struct(
            (F.greatest(v["v0"] + _HMM_STAY, v["v1"] + _HMM_SWITCH)
             + emit(0, hi)).cast("long").alias("v0"),
            (F.greatest(v["v1"] + _HMM_STAY, v["v0"] + _HMM_SWITCH)
             + emit(1, hi)).cast("long").alias("v1"),
        )

    day1 = F.col("hi")[0]
    start = F.struct(
        (emit(0, day1) + _HMM_START).alias("v0"),
        (emit(1, day1) + _HMM_START).alias("v1"),
    )
    return obs.select(
        "n_days",
        F.aggregate(F.slice("hi", 2, F.size("hi")), start, step).alias("v"),
    ).select(
        "n_days",
        q4(F.greatest("v.v0", "v.v1").cast("double") / _HMM_Q).alias(
            "viterbi_loglik"
        ),
        F.when(F.col("v.v1") > F.col("v.v0"), 1).otherwise(0).alias(
            "final_state_busy"
        ),
    )


# ---------------------- round-9 wave N: survival weights + attribution


@register(
    "events_gehan_wilcoxon",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id % 2 AS grp,
               CASE WHEN min(CASE WHEN event_type = 'purchase'
                        THEN CAST(ts AS DATE) END) IS NOT NULL
                    THEN CAST(date_diff('day', min(CAST(ts AS DATE)),
                        min(CASE WHEN event_type = 'purchase'
                            THEN CAST(ts AS DATE) END)) AS BIGINT)
                    ELSE CAST(date_diff('day', min(CAST(ts AS DATE)),
                        max(CAST(ts AS DATE))) AS BIGINT)
               END AS t,
               min(CASE WHEN event_type = 'purchase'
                   THEN CAST(ts AS DATE) END) IS NOT NULL AS dead
        FROM events GROUP BY user_id
    ), lab AS (
        SELECT t, grp, dead FROM per_user
    ), grid AS (
        SELECT t,
               CAST(count_if(dead AND grp = 1) AS BIGINT) AS d1,
               CAST(count_if(dead AND grp = 0) AS BIGINT) AS d0,
               CAST(count_if(grp = 1) AS BIGINT) AS a1,
               CAST(count_if(grp = 0) AS BIGINT) AS a0
        FROM lab GROUP BY t
    ), tot AS (
        SELECT CAST(sum(a1) AS BIGINT) AS nu1,
               CAST(sum(a0) AS BIGINT) AS nu0
        FROM grid
    ), risk AS (
        SELECT t, d1, d0,
               CAST(nu1 - coalesce(sum(a1) OVER w, 0) AS BIGINT) AS n1,
               CAST(nu0 - coalesce(sum(a0) OVER w, 0) AS BIGINT) AS n0
        FROM grid CROSS JOIN tot
        WINDOW w AS (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), terms AS (
        -- Gehan weight w_t = n1 + n0 (total at risk): early deaths,
        -- observed on many subjects, dominate
        SELECT CAST(floor((n1 + n0)
                    * (d1 - CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0))
                    * {_LR_Q} + 0.5) AS BIGINT) AS oe_q,
               CASE WHEN n1 + n0 > 1 THEN
                   CAST(floor(CAST(n1 + n0 AS DOUBLE) * (n1 + n0)
                        * (d1 + d0) * n1 * n0 * (n1 + n0 - d1 - d0)
                        / (n1 + n0) / (n1 + n0) / (n1 + n0 - 1)
                        * {_LR_Q} + 0.5) AS BIGINT)
                   ELSE 0 END AS v_q
        FROM risk WHERE d1 + d0 > 0 AND n1 > 0 AND n0 > 0
    ), fold AS (
        SELECT CAST(sum(oe_q) AS BIGINT) AS oe,
               CAST(sum(v_q) AS HUGEINT) AS v
        FROM terms
    )
    SELECT (SELECT nu1 FROM tot) AS n_grp1,
           (SELECT nu0 FROM tot) AS n_grp0,
           {sql_q4(f"CAST(oe AS DOUBLE) / {_LR_Q}")} AS weighted_oe,
           {sql_q4(f"(CAST(oe AS DOUBLE) / {_LR_Q})"
                   f" / sqrt(CAST(v AS DOUBLE) / {_LR_Q})")} AS z,
           abs((CAST(oe AS DOUBLE) / {_LR_Q})
               / sqrt(CAST(v AS DOUBLE) / {_LR_Q})) > 1.96
               AS rejected
    FROM fold
    """,
)
def events_gehan_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gehan-Wilcoxon (generalized Wilcoxon) comparison of the two
    A/B arms' time-to-first-purchase curves (user-parity assignment,
    censoring at last activity): the
    logrank machinery with weight w_t = n_at_risk — EARLY separations
    dominate, where events_logrank_test (w_t = 1) weights all event
    times equally and is most powerful only under proportional
    hazards. Reporting both is the standard survival-analysis
    practice: logrank significant + Gehan not (or vice versa) tells
    you WHERE the curves differ.

    Exactness: identical day-grid machinery as the logrank key (one
    hash aggregate, one suffix-risk prefix); weighted O-E and w²V
    terms quantize at 1e-9, the variance fold accumulates in
    decimal(38,0)/HUGEINT since w² = (n1+n0)² scales it past int64 at
    100 TB populations.

    Scale shape: one pass to users, one to the day grid, one bounded
    prefix, one fold."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    per_user = e.groupBy("user_id").agg(
        (F.first(F.col("user_id")) % 2).alias("grp"),
        F.min(F.to_date("ts")).alias("entry"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.to_date("ts"))
        ).alias("p_day"),
        F.max(F.to_date("ts")).alias("last_day"),
    )
    lab = per_user.select(
        F.when(
            F.col("p_day").isNotNull(), F.datediff("p_day", "entry")
        )
        .otherwise(F.datediff("last_day", "entry"))
        .cast("long")
        .alias("t"),
        "grp",
        F.col("p_day").isNotNull().alias("dead"),
    )
    grid = lab.groupBy("t").agg(
        F.count_if(F.col("dead") & (F.col("grp") == 1)).cast("long").alias("d1"),
        F.count_if(F.col("dead") & (F.col("grp") == 0)).cast("long").alias("d0"),
        F.count_if(F.col("grp") == 1).cast("long").alias("a1"),
        F.count_if(F.col("grp") == 0).cast("long").alias("a0"),
    )
    tot = grid.agg(
        F.sum("a1").cast("long").alias("nu1"),
        F.sum("a0").cast("long").alias("nu0"),
    )
    w = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "t",
        "d1",
        "d0",
        (F.col("nu1") - F.coalesce(F.sum("a1").over(w), F.lit(0)))
        .cast("long")
        .alias("n1"),
        (F.col("nu0") - F.coalesce(F.sum("a0").over(w), F.lit(0)))
        .cast("long")
        .alias("n0"),
    )
    nn = (F.col("n1") + F.col("n0")).cast("double")
    dd = (F.col("d1") + F.col("d0")).cast("double")
    oe_q = F.floor(
        nn * (F.col("d1") - dd * F.col("n1") / nn) * _LR_Q + 0.5
    ).cast("long")
    v_q = F.when(
        F.col("n1") + F.col("n0") > 1,
        F.floor(
            nn
            * nn
            * dd
            * F.col("n1")
            * F.col("n0")
            * (nn - dd)
            / nn
            / nn
            / (nn - 1)
            * _LR_Q
            + 0.5
        ).cast(dec),
    ).otherwise(F.lit(0).cast(dec))
    terms = risk.where(
        (F.col("d1") + F.col("d0") > 0) & (F.col("n1") > 0) & (F.col("n0") > 0)
    )
    fold = terms.agg(
        F.sum(oe_q).cast("long").alias("oe"),
        F.sum(v_q).alias("v"),
    )
    oe = F.col("oe").cast("double") / _LR_Q
    z = oe / F.sqrt(F.col("v").cast("double") / _LR_Q)
    return fold.crossJoin(F.broadcast(tot)).select(
        F.col("nu1").alias("n_grp1"),
        F.col("nu0").alias("n_grp0"),
        q4(oe).alias("weighted_oe"),
        q4(z).alias("z"),
        (F.abs(z) > 1.96).alias("rejected"),
    )


_SHAP_Q = 1_000_000_000


@register(
    "events_attribution_shapley",
    oracle=f"""
    WITH first_p AS (
        SELECT user_id, min(ts) AS p_ts
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), touches AS (
        SELECT DISTINCT e.user_id, e.event_type AS channel
        FROM events e JOIN first_p p USING (user_id)
        WHERE e.ts < p.p_ts AND e.event_type <> 'purchase'
    ), set_size AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS k
        FROM touches GROUP BY user_id
    ), credits AS (
        SELECT t.channel,
               CAST(floor(1.0 / s.k * {_SHAP_Q} + 0.5) AS BIGINT) AS cq
        FROM touches t JOIN set_size s USING (user_id)
    ), per_ch AS (
        SELECT channel,
               CAST(count(*) AS BIGINT) AS conversions_touched,
               CAST(sum(cq) AS BIGINT) AS shapq
        FROM credits GROUP BY channel
    ), tot AS (
        SELECT CAST(sum(shapq) AS BIGINT) AS totq,
               (SELECT CAST(count(*) AS BIGINT) FROM set_size) AS n_conv,
               (SELECT CAST(count(*) AS BIGINT) FROM first_p)
                 - (SELECT CAST(count(*) AS BIGINT) FROM set_size)
                   AS n_unattributed
        FROM per_ch
    )
    SELECT channel, conversions_touched,
           {sql_q4(f"CAST(shapq AS DOUBLE) / {_SHAP_Q}")} AS shapley_credit,
           {sql_q4("CAST(shapq AS DOUBLE) / totq")} AS credit_share,
           n_conv, n_unattributed
    FROM per_ch CROSS JOIN tot
    """,
)
def events_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution for conversions: each
    converting user's pre-purchase channel SET defines a coalition,
    and under the subset-characteristic game v(S) = conversions whose
    touch set ⊆ S the Shapley value collapses to a CLOSED FORM —
    split each conversion equally among the |S| channels present
    (the unanimity-basis decomposition: v = Σ_T conv(T)·u_T and
    φ_c(u_T) = 1/|T| for c ∈ T) — so the game-theoretically fair
    attribution that position rules (events_attribution's first/last
    touch) and regression attribution (ml_linear_attribution) both
    approximate is computed EXACTLY with no 2^k enumeration.
    Conversions with no prior touches are reported as unattributed.

    Exactness: per-conversion credits 1/|S| quantize at 1e-9 and fold
    as BIGINTs; everything else is exact counts.

    Scale shape at 100 TB: one semi-join of events to first purchases
    (shuffle on user_id), one distinct, two hash aggregates —
    |channels| output rows; never a subset enumeration."""
    e = table(spark, sf_dir, "events")
    first_p = reuse(
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    touches = reuse(
        e.join(first_p, "user_id")
        .where((F.col("ts") < F.col("p_ts")) & (F.col("event_type") != "purchase"))
        .select("user_id", F.col("event_type").alias("channel"))
        .distinct()
    )
    set_size = touches.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    credits = touches.join(set_size, "user_id").select(
        "channel",
        F.floor(1.0 / F.col("k") * _SHAP_Q + 0.5).cast("long").alias("cq"),
    )
    per_ch = credits.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("conversions_touched"),
        F.sum("cq").cast("long").alias("shapq"),
    )
    n_conv = set_size.agg(F.count(F.lit(1)).cast("long").alias("n_conv"))
    n_p = first_p.agg(F.count(F.lit(1)).cast("long").alias("n_p"))
    tot = (
        per_ch.agg(F.sum("shapq").cast("long").alias("totq"))
        .crossJoin(F.broadcast(n_conv))
        .crossJoin(F.broadcast(n_p))
        .select(
            "totq",
            "n_conv",
            (F.col("n_p") - F.col("n_conv")).alias("n_unattributed"),
        )
    )
    return per_ch.crossJoin(F.broadcast(tot)).select(
        "channel",
        "conversions_touched",
        q4(F.col("shapq").cast("double") / _SHAP_Q).alias("shapley_credit"),
        q4(F.col("shapq").cast("double") / F.col("totq")).alias(
            "credit_share"
        ),
        "n_conv",
        "n_unattributed",
    )


# ---------------------- round-9 wave P: reliability growth (Duane)

_DU_Q = 1_000_000_000


@register(
    "events_reliability_growth",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS errs
        FROM events WHERE event_type = 'error' GROUP BY 1
    ), ranked AS (
        SELECT errs, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(sum(errs) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM daily
    ), lg AS (
        SELECT CAST(floor(ln(CAST(t AS DOUBLE)) * {_DU_Q} + 0.5) AS BIGINT)
                   AS x,
               CAST(floor(ln(CAST(cum AS DOUBLE)) * {_DU_Q} + 0.5) AS BIGINT)
                   AS y
        FROM ranked
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT)*x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(x AS HUGEINT)*y) AS HUGEINT) AS sxy
        FROM lg
    ), fit AS (
        SELECT n,
               (n*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*sy)
                 / (n*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*sx) AS beta
        FROM m
    )
    SELECT n AS n_days, {sql_q4("beta")} AS duane_beta,
           {sql_q4("1.0 - beta")} AS growth_rate,
           beta < 1.0 AS reliability_improving
    FROM fit
    """,
)
def events_reliability_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duane reliability-growth analysis of the error stream: on the
    log-log plot of CUMULATIVE errors vs operating time, a power-law
    process N(t) ~ t^β is a straight line with slope β — β < 1 means
    the inter-failure times stretch (reliability improving, the
    Crow-AMSAA verdict that drives 'is our fix rate beating our bug
    rate?'), β ≈ 1 a homogeneous Poisson process, β > 1 deterioration.
    The growth rate α = 1 - β is the standard report.

    Exactness: the cumulative count comes from ``calendar_rank``'s
    running sum over the day grid; ln(t) and ln(cum) quantize at 1e-9 so the OLS
    sufficient sums fold exactly (squares in decimal(38,0)/HUGEINT);
    the slope is one closed-form double.

    Scale shape: one filtered hash aggregate to days, one
    ``calendar_rank`` window, one fold."""
    e = table(spark, sf_dir, "events")
    dec = "decimal(38,0)"
    daily = e.where(F.col("event_type") == "error").groupBy(
        F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("errs"))
    ranked = calendar_rank(daily, "day", sums=("errs",))
    lg = ranked.select(
        F.floor(F.log(F.col("t").cast("double")) * _DU_Q + 0.5)
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("cum_errs").cast("double")) * _DU_Q + 0.5)
        .cast("long")
        .alias("y"),
    )
    m = lg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    beta = (n * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / (
        n * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    )
    return m.select(
        F.col("n").alias("n_days"),
        q4(beta).alias("duane_beta"),
        q4(1.0 - beta).alias("growth_rate"),
        (beta < 1.0).alias("reliability_improving"),
    )


# ------------------------------------------------------------------
# Erlang-C staffing model (r10)

_EC_AHT_S = "180.0"  # average handle time, seconds (configured, not fitted)
_EC_LEVELS = 8  # staffing grid: floor(a)+1 .. floor(a)+8 agents


@register(
    "events_erlang_c",
    oracle=f"""
    WITH p AS (
        SELECT CAST(count_if(event_type = 'purchase') AS BIGINT) AS n,
               (epoch_us(max(ts)) - epoch_us(min(ts))) / 3.6e9 AS hours
        FROM events
    ), prm AS (
        SELECT n / hours AS lam,
               n / hours * ({_EC_AHT_S} / 3600.0) AS a,
               CAST(floor(n / hours * ({_EC_AHT_S} / 3600.0)) AS BIGINT) + 1
                   AS cmin
        FROM p
    ), eb AS (
        WITH RECURSIVE r(k, b) AS (
            SELECT CAST(0 AS BIGINT), CAST(1.0 AS DOUBLE)
            UNION ALL
            SELECT k + 1,
                   (SELECT a FROM prm) * b
                     / ((k + 1) + (SELECT a FROM prm) * b)
            FROM r WHERE k < (SELECT cmin + {_EC_LEVELS - 1} FROM prm)
        )
        SELECT * FROM r
    ), grid AS (
        SELECT prm.cmin + g.j AS c, prm.lam, prm.a, eb.b
        FROM prm, UNNEST(range(0, {_EC_LEVELS})) AS g(j)
        JOIN eb ON eb.k = prm.cmin + g.j
    ), m AS (
        SELECT c, lam, a,
               b / (1.0 - (a / c) * (1.0 - b)) AS ec,
               c * (3600.0 / {_EC_AHT_S}) - lam AS spare
        FROM grid
    )
    SELECT c AS agents,
           {sql_q4("a")} AS offered_erlangs,
           {sql_q4("a / c")} AS occupancy,
           {sql_q4("ec")} AS prob_wait,
           {sql_q4("ec / spare * 3600.0")} AS asa_seconds,
           {sql_q4("1.0 - ec * exp(-spare * (20.0 / 3600.0))")}
               AS service_level_20s
    FROM m
    """,
)
def events_erlang_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing table from the purchase stream: arrival rate
    λ = purchases per observed hour, a fixed 180 s average handle
    time (a queueing-model parameter, not fitted), offered load
    a = λ·AHT erlangs, and for each staffing level c = ⌊a⌋+1 … ⌊a⌋+8
    the M/M/c delay probability (Erlang C), agent occupancy, average
    speed of answer, and the 20-second service level — the canonical
    contact-center / ticket-queue sizing readout.

    Numerics: Erlang B via the stable RECURRENCE B(k) = a·B(k-1) /
    (k + a·B(k-1)) — no factorials, no lgamma, identical double
    sequence on both engines (Spark folds it with F.aggregate over
    sequence(1, c); the oracle unrolls the same recurrence in a
    recursive CTE) — then C = B/(1 − ρ(1 − B)). c > a by
    construction, so the spare capacity divisor is positive.

    Scale shape: ONE aggregate over events (count + ts extremes),
    then all queueing math happens on an 8-row broadcast grid. The
    fold is O(c) per row — fine for any human-scale staffing level;
    for a ≫ 10⁴ you'd switch to the log-domain closed form."""
    e = table(spark, sf_dir, "events")
    aht = float(_EC_AHT_S)
    p = e.agg(
        F.count_if(F.col("event_type") == "purchase").cast("long").alias("n"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 3.6e9
        ).alias("hours"),
    )
    prm = p.select(
        (F.col("n") / F.col("hours")).alias("lam"),
        (F.col("n") / F.col("hours") * (aht / 3600.0)).alias("a"),
        (F.floor(F.col("n") / F.col("hours") * (aht / 3600.0)).cast("long") + 1).alias(
            "cmin"
        ),
    )
    grid = prm.select(
        "lam",
        "a",
        F.explode(
            F.sequence(F.col("cmin"), F.col("cmin") + F.lit(_EC_LEVELS - 1))
        ).alias("c"),
    )
    b = F.aggregate(
        F.sequence(F.lit(1).cast("long"), F.col("c")),
        F.lit(1.0),
        lambda acc, k: F.col("a") * acc / (k.cast("double") + F.col("a") * acc),
    )
    m = grid.select(
        "c",
        "lam",
        "a",
        b.alias("b"),
        (F.col("c") * (3600.0 / aht) - F.col("lam")).alias("spare"),
    ).withColumn(
        "ec", F.col("b") / (1.0 - (F.col("a") / F.col("c")) * (1.0 - F.col("b")))
    )
    return m.select(
        F.col("c").alias("agents"),
        q4(F.col("a")).alias("offered_erlangs"),
        q4(F.col("a") / F.col("c")).alias("occupancy"),
        q4(F.col("ec")).alias("prob_wait"),
        q4(F.col("ec") / F.col("spare") * 3600.0).alias("asa_seconds"),
        q4(1.0 - F.col("ec") * F.exp(-F.col("spare") * (20.0 / 3600.0))).alias(
            "service_level_20s"
        ),
    )


# ------------------------------------------------------------------
# Greenwood confidence bands for the Kaplan-Meier curve (r10)

KM_GW_Q = 10**12  # fixed-point scale for the Greenwood variance fold


@register(
    "events_km_greenwood",
    oracle=f"""
    WITH span AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(min(ts) AS DATE),
                              CAST(max(ts) AS DATE)) AS BIGINT) AS t,
               CAST(max(ts) AS DATE) AS last_day
        FROM events GROUP BY user_id
    ), g AS (SELECT max(last_day) AS gmax FROM span),
    lab AS (
        SELECT t, last_day < gmax - INTERVAL 2 DAY AS dead
        FROM span, g
    ), grid AS (
        SELECT t,
               CAST(count_if(dead) AS BIGINT) AS d,
               CAST(count_if(NOT dead) AS BIGINT) AS c
        FROM lab GROUP BY t
    ), tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM grid),
    risk AS (
        SELECT t, d, c,
               CAST(n - coalesce(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS n_risk
        FROM grid, tot
    ), terms AS (
        SELECT t, d, n_risk,
               CASE WHEN d > 0 AND d < n_risk THEN
                   CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                       * {KM_Q} - 0.5) + 1 AS BIGINT)
                   ELSE 0 END AS qln,
               CASE WHEN d > 0 AND d < n_risk THEN
                   CAST(floor(CAST(d AS DOUBLE)
                       / (CAST(n_risk AS DOUBLE) * (n_risk - d))
                       * {KM_GW_Q} + 0.5) AS BIGINT)
                   ELSE 0 END AS qgw,
               CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS hit_zero
        FROM risk
    ), fold AS (
        SELECT t, d, n_risk,
               sum(qln) OVER w AS cum,
               sum(qgw) OVER w AS gsum,
               max(hit_zero) OVER w AS z
        FROM terms
        WINDOW w AS (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), s AS (
        SELECT t, d, n_risk,
               CASE WHEN z = 1 THEN 0.0
                    ELSE exp(CAST(cum AS DOUBLE) / {KM_Q}) END AS surv,
               CAST(gsum AS DOUBLE) / {KM_GW_Q} AS gv, z
        FROM fold
    )
    SELECT t AS t_days, n_risk, d AS d_events,
           {sql_q4("surv")} AS survival,
           {sql_q4("CASE WHEN z = 1 THEN 0.0"
                   " ELSE surv * sqrt(gv) END")} AS se_greenwood,
           {sql_q4("CASE WHEN z = 1 THEN 0.0"
                   " ELSE greatest(surv - 1.96 * surv * sqrt(gv), 0.0)"
                   " END")} AS ci_lo,
           {sql_q4("CASE WHEN z = 1 THEN 0.0"
                   " ELSE least(surv + 1.96 * surv * sqrt(gv), 1.0)"
                   " END")} AS ci_hi
    FROM s
    """,
)
def events_km_greenwood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwood standard errors and 95% confidence bands for the
    Kaplan-Meier survival curve (same censoring scheme and exact
    quantized log-survivor fold as events_kaplan_meier):
    Var(S(t)) = S(t)² · Σ_{{t_i ≤ t}} d_i/(n_i(n_i − d_i)) — the
    estimator every survival readout needs before anyone compares
    two curves by eye. The Greenwood sum folds as 1e-12 fixed-point
    BIGINTs (same discipline as the 1e-9 log-survivor fold), so both
    running sums are exact at any parallelism; doubles enter only in
    the final S·√v and the 1.96 bands, clipped to [0, 1]. After the
    curve hits zero the variance is reported as 0 (the curve is
    degenerate there).

    Scale shape: identical to events_kaplan_meier — one per-user
    rollup, a 1-row broadcast, then calendar-bounded grid windows."""
    e = table(spark, sf_dir, "events")
    # |users|-sized — DATA-SCALED, persist() per the SCALE.md
    # r13 rule (lineage kept, executor loss recomputes)
    span = reuse(
        e.groupBy("user_id")
        .agg(
            F.datediff(F.max("ts").cast("date"), F.min("ts").cast("date"))
            .cast("long")
            .alias("t"),
            F.max("ts").cast("date").alias("last_day"),
        )
    )
    g = span.agg(F.max("last_day").alias("gmax"))
    lab = span.crossJoin(F.broadcast(g)).select(
        "t",
        (F.col("last_day") < F.date_sub(F.col("gmax"), 2)).alias("dead"),
    )
    grid = lab.groupBy("t").agg(
        F.sum(F.when(F.col("dead"), 1).otherwise(0)).cast("long").alias("d"),
        F.sum(F.when(F.col("dead"), 0).otherwise(1)).cast("long").alias("c"),
    )
    tot = grid.agg(F.sum(F.col("d") + F.col("c")).cast("long").alias("n"))
    w_excl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    w_incl = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n")
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(w_excl), F.lit(0))
        ).alias("n_risk"),
    )
    dd = F.col("d").cast("double")
    live = (F.col("d") > 0) & (F.col("d") < F.col("n_risk"))
    qln = F.when(
        live,
        (F.floor(F.log(F.lit(1.0) - dd / F.col("n_risk")) * KM_Q - 0.5) + 1)
        .cast("long"),
    ).otherwise(F.lit(0))
    qgw = F.when(
        live,
        F.floor(
            dd
            / (F.col("n_risk").cast("double") * (F.col("n_risk") - F.col("d")))
            * KM_GW_Q
            + 0.5
        ).cast("long"),
    ).otherwise(F.lit(0))
    hit = F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
    terms = risk.select(
        "t", "d", "n_risk", qln.alias("qln"), qgw.alias("qgw"), hit.alias("hit_zero")
    )
    fold = terms.select(
        "t",
        "d",
        "n_risk",
        F.sum("qln").over(w_incl).alias("cum"),
        F.sum("qgw").over(w_incl).alias("gsum"),
        F.max("hit_zero").over(w_incl).alias("z"),
    )
    surv = F.when(F.col("z") == 1, F.lit(0.0)).otherwise(
        F.exp(F.col("cum").cast("double") / KM_Q)
    )
    gv = F.col("gsum").cast("double") / KM_GW_Q
    se = F.when(F.col("z") == 1, F.lit(0.0)).otherwise(surv * F.sqrt(gv))
    return fold.select(
        F.col("t").alias("t_days"),
        "n_risk",
        F.col("d").alias("d_events"),
        q4(surv).alias("survival"),
        q4(se).alias("se_greenwood"),
        q4(
            F.when(F.col("z") == 1, F.lit(0.0)).otherwise(
                F.greatest(surv - 1.96 * surv * F.sqrt(gv), F.lit(0.0))
            )
        ).alias("ci_lo"),
        q4(
            F.when(F.col("z") == 1, F.lit(0.0)).otherwise(
                F.least(surv + 1.96 * surv * F.sqrt(gv), F.lit(1.0))
            )
        ).alias("ci_hi"),
    )


# ------------------------------------------------------------------
# Classical additive time-series decomposition (r10)


@register(
    "events_classical_decomposition",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS dn,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), bounds AS (
        SELECT min(dn) AS lo, max(dn) AS hi FROM daily
    ), spine AS (
        SELECT CAST(t.dn AS BIGINT) AS dn
        FROM bounds, UNNEST(range(lo, hi + 1)) AS t(dn)
    ), filled AS (
        SELECT s.dn, COALESCE(d.x, 0) AS x
        FROM spine s LEFT JOIN daily d ON d.dn = s.dn
    ), ma AS (
        SELECT dn, x,
               CAST(sum(x) OVER w AS BIGINT) AS trend7,
               CAST(count(*) OVER w AS BIGINT) AS w_n
        FROM filled
        WINDOW w AS (ORDER BY dn ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), det AS (
        SELECT dn, x, trend7,
               CAST(7 * x - trend7 AS BIGINT) AS det7,
               dn % 7 AS dow
        FROM ma WHERE w_n = 7
    ), seas AS (
        SELECT dow,
               CAST(sum(det7) AS BIGINT) AS s_num,
               CAST(count(*) AS BIGINT) AS s_cnt
        FROM det GROUP BY dow
    )
    SELECT d.dn AS day_n, d.x AS x_cents,
           {sql_q4("d.trend7 / 7.0")} AS trend,
           {sql_q4("CAST(s.s_num AS DOUBLE) / s.s_cnt / 7.0")} AS seasonal,
           {sql_q4("(d.det7 - CAST(s.s_num AS DOUBLE) / s.s_cnt) / 7.0")}
               AS residual
    FROM det d JOIN seas s ON s.dow = d.dow
    """,
)
def events_classical_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily purchase-revenue
    series: trend = centered 7-day moving average (full windows
    only), seasonal = per-day-of-week mean of the detrended series
    (uncentered seasonal indices, textbook 'method of seasonal
    averages'), residual = x − trend − seasonal. The first-look
    decomposition behind every seasonality report, complementing
    events_holt_winters' recursive smoother with the closed-form
    classical one.

    Exactness: the series is built on a GAP-FREE day-number spine
    (missing days fill as 0, so the centered window is always 7 real
    days); the detrended series is kept in ×7 integer scale
    (det7 = 7x − Σ₇x, exact BIGINT), the seasonal means divide two
    exact integers, and doubles appear only in the final /7.0
    projections — no float fold anywhere, so partial-agg order can
    never shift a hash. Scale shape: one aggregate to the
    calendar-bounded daily grid; spine, windows and seasonal means
    are all metadata-sized."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        (F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("dn")
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + 0.5).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("x")
    ).localCheckpoint(eager=False)
    bounds = daily.agg(F.min("dn").alias("lo"), F.max("dn").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("dn")
    )
    filled = spine.join(daily, "dn", "left").select(
        "dn", F.coalesce(F.col("x"), F.lit(0)).cast("long").alias("x")
    )
    w7 = Window.orderBy("dn").rowsBetween(-3, 3)
    ma = filled.select(
        "dn",
        "x",
        F.sum("x").over(w7).cast("long").alias("trend7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("w_n"),
    )
    det = ma.where(F.col("w_n") == 7).select(
        "dn",
        "x",
        "trend7",
        (7 * F.col("x") - F.col("trend7")).cast("long").alias("det7"),
        (F.col("dn") % 7).alias("dow"),
    ).localCheckpoint(eager=False)
    seas = det.groupBy("dow").agg(
        F.sum("det7").cast("long").alias("s_num"),
        F.count(F.lit(1)).cast("long").alias("s_cnt"),
    )
    sm = F.col("s_num").cast("double") / F.col("s_cnt")
    return det.join(F.broadcast(seas), "dow").select(
        F.col("dn").alias("day_n"),
        F.col("x").alias("x_cents"),
        q4(F.col("trend7") / 7.0).alias("trend"),
        q4(sm / 7.0).alias("seasonal"),
        q4((F.col("det7") - sm) / 7.0).alias("residual"),
    )


# ------------------------------------------------------------------
# Markov removal-effect attribution (r10)

_MKV_Q = 1_000_000_000_000  # 1e-12 fixed-point absorption probabilities
_MKV_K = 100  # fixpoint iterations (integer recurrence goes stationary)
_MKV_CH = ("click", "error", "signup", "view")  # transient channels 1..4
# state indices: 0=start, 1..4 channels (alphabetical), 5=conv, 6=null

_MKV_JOURNEY_SQL = """
    first_p AS (
        SELECT user_id, p_ts, p_id FROM (
            SELECT user_id, ts AS p_ts, event_id AS p_id,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'purchase'
        ) WHERE rn = 1
    ), j AS (
        SELECT e.user_id, e.ts, e.event_id,
               CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                    WHEN 'signup' THEN 3 WHEN 'view' THEN 4 END AS st,
               p.p_ts IS NOT NULL AS has_p
        FROM events e LEFT JOIN first_p p USING (user_id)
        WHERE e.event_type <> 'purchase'
          AND (p.p_ts IS NULL OR (e.ts, e.event_id) < (p.p_ts, p.p_id))
    ), steps AS (
        SELECT user_id,
               coalesce(lag(st) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id), 0) AS i,
               st AS j FROM j
    ), lasts AS (
        SELECT user_id, st AS last_st, has_p FROM (
            SELECT user_id, st, has_p,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM j
        ) WHERE rn = 1
    ), terminals AS (
        SELECT user_id, last_st AS i,
               CASE WHEN has_p THEN 5 ELSE 6 END AS j
        FROM lasts
        UNION ALL
        SELECT p.user_id, 0 AS i, 5 AS j
        FROM first_p p
        WHERE p.user_id NOT IN (SELECT user_id FROM j)
    ), pairs AS (
        SELECT i, j FROM steps UNION ALL SELECT i, j FROM terminals
    ), variants AS (
        SELECT * FROM (VALUES (0), (1), (2), (3), (4)) v(rm)
    ), trans AS MATERIALIZED (
        SELECT v.rm,
               p.i,
               CASE WHEN v.rm > 0 AND p.j = v.rm THEN 6 ELSE p.j END AS j,
               CAST(count(*) AS BIGINT) AS n
        FROM pairs p CROSS JOIN variants v
        GROUP BY 1, 2, 3
    )
"""


@register(
    "events_attribution_markov",
    oracle=f"""
    WITH {_MKV_JOURNEY_SQL},
    cells AS MATERIALIZED (
        SELECT v.rm, g.i AS i,
               coalesce(list(struct_pack(j := t.j, n := t.n)), []) AS prs,
               coalesce(sum(t.n), 0) AS rs
        FROM (SELECT DISTINCT rm FROM trans) v
        CROSS JOIN UNNEST(range(7)) AS g(i)
        LEFT JOIN trans t ON t.rm = v.rm AND t.i = g.i
        GROUP BY v.rm, g.i
    ), mat AS MATERIALIZED (
        SELECT rm,
               list(list_transform(range(7), jj ->
                   coalesce(list_sum(list_transform(prs, s ->
                       CASE WHEN s.j = jj THEN s.n ELSE 0 END)), 0))
                   ORDER BY i) AS m,
               list(rs ORDER BY i) AS rs
        FROM cells GROUP BY rm
    ), it AS (
        WITH RECURSIVE r(rm, k, p) AS (
            SELECT rm, 0,
                   [CAST(0 AS BIGINT), 0, 0, 0, 0, {_MKV_Q}, 0]
            FROM mat
            UNION ALL
            SELECT r.rm, r.k + 1,
                   list_transform(range(7), ii ->
                     CASE WHEN ii = 5 THEN CAST({_MKV_Q} AS BIGINT)
                          WHEN ii = 6 THEN CAST(0 AS BIGINT)
                          WHEN m.rs[ii + 1] = 0 THEN r.p[ii + 1]
                          ELSE CAST((2 * list_sum(list_transform(range(7),
                                   jj -> m.m[ii + 1][jj + 1] * r.p[jj + 1]))
                                + m.rs[ii + 1]) // (2 * m.rs[ii + 1])
                               AS BIGINT)
                     END)
            FROM r JOIN mat m ON m.rm = r.rm WHERE r.k < {_MKV_K}
        )
        SELECT rm, p[1] AS p_start FROM r WHERE k = {_MKV_K}
    ), eff AS (
        SELECT c.rm,
               f.p_start AS pf,
               c.p_start AS pr,
               1000000 - (1000000 * c.p_start) // f.p_start AS req
        FROM it c CROSS JOIN (SELECT p_start FROM it WHERE rm = 0) f
        WHERE c.rm > 0 AND f.p_start > 0
    ), touches AS (
        SELECT j AS rm, CAST(sum(n) AS BIGINT) AS n_in
        FROM trans WHERE rm = 0 AND j BETWEEN 1 AND 4 GROUP BY j
    ), tot AS (SELECT CAST(sum(req) AS BIGINT) AS totq FROM eff)
    SELECT CASE e.rm WHEN 1 THEN 'click' WHEN 2 THEN 'error'
                WHEN 3 THEN 'signup' WHEN 4 THEN 'view' END AS channel,
           coalesce(t.n_in, 0) AS n_transitions_in,
           {sql_q4("CAST(e.pf AS DOUBLE) / " + str(_MKV_Q))} AS p_conv,
           {sql_q4("CAST(e.pr AS DOUBLE) / " + str(_MKV_Q))} AS p_conv_removed,
           {sql_q4("CAST(e.req AS DOUBLE) / 1000000.0")} AS removal_effect,
           {sql_q4("CAST(e.req AS DOUBLE) / tot.totq")} AS attribution_share
    FROM eff e LEFT JOIN touches t ON t.rm = e.rm CROSS JOIN tot
    """,
)
def events_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain removal-effect attribution (Anderl et al. 2014 —
    the other industry-standard data-driven attribution beside the
    Shapley key): per-user journeys (events ordered by (ts, event_id),
    truncated at the first purchase) become a first-order chain over
    START → {{click, error, signup, view}} → CONV/NULL; a channel's
    credit is its REMOVAL EFFECT — how much the start→conversion
    absorption probability drops when every transition into the
    channel is redirected to NULL — normalized across channels.

    Exactness — the novel bit: absorption probabilities come from a
    FIXED-POINT INTEGER recurrence, not a float linear solve. p is
    kept at 1e-12 fixed point; each of the {_MKV_K} Jacobi steps
    computes p'_i = round(Σ_j n_ij·p_j / n_i) in exact BIGINT
    arithmetic (round-half-up as (2S+n) div (2n)), so the iteration
    goes exactly stationary and BOTH engines — the Spark
    aggregate/transform fold and the oracle's recursive CTE over a
    LIST column — produce bit-identical integers. Removal effects are
    then exact 1e-6 integers (1e6 − 1e6·p_rem div p_full), so their
    normalizing sum is also order-free. Overflow bound: Σ_j n_ij·p_j
    ≤ n_i·1e12 — fine to ~10⁶ transitions per state per variant
    locally; at 100 TB drop the fixed point to 1e-9 or fold in
    DECIMAL(38).

    Scale shape: one window pass over per-user journeys (shuffle on
    user_id) → a ≤ 5·49-cell transition grid (domain-bounded
    metadata); the five chain variants (full + 4 removals) ride one
    grid explode, and all fixpoint math happens on five 1-row frames
    of maps — the corpus is touched once."""
    e = table(spark, sf_dir, "events")
    st = (
        F.when(F.col("event_type") == "click", 1)
        .when(F.col("event_type") == "error", 2)
        .when(F.col("event_type") == "signup", 3)
        .when(F.col("event_type") == "view", 4)
    )
    first_p = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.struct("ts", "event_id")).alias("pk"))
    )
    # per-event frame — DATA-SCALED, persist() per the SCALE.md
    # r13 rule (lineage kept, executor loss recomputes)
    j = reuse(
        e.where(F.col("event_type") != "purchase")
        .join(first_p, "user_id", "left")
        .where(
            F.col("pk").isNull() | (F.struct("ts", "event_id") < F.col("pk"))
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            st.cast("long").alias("st"),
            F.col("pk").isNotNull().alias("has_p"),
        )
    )
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = j.select(
        F.coalesce(F.lag("st").over(w_u), F.lit(0)).cast("long").alias("i"),
        F.col("st").alias("j"),
    )
    lasts = j.groupBy("user_id").agg(
        F.max_by("st", F.struct("ts", "event_id")).alias("last_st"),
        F.max("has_p").alias("has_p"),
    )
    terminals = lasts.select(
        F.col("last_st").cast("long").alias("i"),
        F.when(F.col("has_p"), F.lit(5)).otherwise(F.lit(6)).cast("long").alias("j"),
    ).unionByName(
        first_p.join(j.select("user_id").distinct(), "user_id", "left_anti").select(
            F.lit(0).cast("long").alias("i"), F.lit(5).cast("long").alias("j")
        )
    )
    pairs = steps.unionByName(terminals)
    variants = spark.range(5).select(F.col("id").cast("long").alias("rm"))
    trans = (
        pairs.crossJoin(F.broadcast(variants))
        .select(
            "rm",
            "i",
            F.when((F.col("rm") > 0) & (F.col("j") == F.col("rm")), F.lit(6))
            .otherwise(F.col("j"))
            .cast("long")
            .alias("j"),
        )
        .groupBy("rm", "i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    mats = trans.groupBy("rm").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct((F.col("i") * 7 + F.col("j")).alias("k"), F.col("n").alias("v"))
            )
        ).alias("mm"),
    )
    rsums = trans.groupBy("rm", "i").agg(F.sum("n").cast("long").alias("rn"))
    rsm = rsums.groupBy("rm").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("i").alias("k"), F.col("rn").alias("v")))
        ).alias("rs")
    )
    row = mats.select("rm", "mm").join(rsm, "rm")
    fold = f"""
    aggregate(sequence(1, {_MKV_K}),
      array(0L, 0L, 0L, 0L, 0L, {_MKV_Q}L, 0L),
      (acc, k) -> transform(sequence(0, 6), ii ->
          CASE WHEN ii = 5 THEN {_MKV_Q}L
               WHEN ii = 6 THEN 0L
               WHEN coalesce(element_at(rs, CAST(ii AS LONG)), 0L) = 0L
                    THEN element_at(acc, ii + 1)
               ELSE (2L * aggregate(sequence(0, 6), 0L, (s, jj) ->
                       s + coalesce(element_at(mm, CAST(ii * 7 + jj AS LONG)), 0L)
                           * element_at(acc, jj + 1))
                     + element_at(rs, CAST(ii AS LONG)))
                    div (2L * element_at(rs, CAST(ii AS LONG)))
          END))
    """
    it = row.select("rm", F.element_at(F.expr(fold), 1).alias("p_start"))
    full = it.where(F.col("rm") == 0).select(F.col("p_start").alias("pf"))
    eff = (
        it.where(F.col("rm") > 0)
        .crossJoin(F.broadcast(full))
        .where(F.col("pf") > 0)
        .select(
            "rm",
            "pf",
            F.col("p_start").alias("pr"),
            (
                F.lit(1000000)
                - F.expr("(1000000L * p_start) div pf")
            )
            .cast("long")
            .alias("req"),
        )
    )
    touches = (
        trans.where((F.col("rm") == 0) & F.col("j").between(1, 4))
        .groupBy(F.col("j").alias("rm"))
        .agg(F.sum("n").cast("long").alias("n_in"))
    )
    tot = eff.agg(F.sum("req").cast("long").alias("totq"))
    ch = (
        F.when(F.col("rm") == 1, F.lit("click"))
        .when(F.col("rm") == 2, F.lit("error"))
        .when(F.col("rm") == 3, F.lit("signup"))
        .when(F.col("rm") == 4, F.lit("view"))
    )
    return (
        eff.join(F.broadcast(touches), "rm", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            ch.alias("channel"),
            F.coalesce(F.col("n_in"), F.lit(0)).cast("long").alias(
                "n_transitions_in"
            ),
            q4(F.col("pf").cast("double") / _MKV_Q).alias("p_conv"),
            q4(F.col("pr").cast("double") / _MKV_Q).alias("p_conv_removed"),
            q4(F.col("req").cast("double") / 1000000.0).alias("removal_effect"),
            q4(F.col("req").cast("double") / F.col("totq")).alias(
                "attribution_share"
            ),
        )
    )


# ------------------------------------------------------------------
# Dynamic time warping between daily series (r10)


@register(
    "events_dtw_daily",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS dn,
               CAST(count_if(event_type = 'view') AS BIGINT) AS av,
               CAST(count_if(event_type = 'click') AS BIGINT) AS bv
        FROM events GROUP BY 1
    ), bounds AS (SELECT min(dn) AS lo, max(dn) AS hi FROM daily),
    spine AS (
        SELECT CAST(t.dn AS BIGINT) AS dn FROM bounds,
               UNNEST(range(lo, hi + 1)) AS t(dn)
    ), ser AS (
        SELECT list(coalesce(d.av, 0) ORDER BY s.dn) AS a,
               list(coalesce(d.bv, 0) ORDER BY s.dn) AS b,
               CAST(count(*) AS INT) AS t
        FROM spine s LEFT JOIN daily d ON d.dn = s.dn
    ), dp AS (
        SELECT t, a, b,
               list_reduce(
                 list_concat(
                   [list_reduce(
                      list_concat([[abs(a[1] - b[1])]],
                          list_transform(range(2, t + 1),
                                         j -> [CAST(j AS BIGINT)])),
                      (acc, jx) -> acc ||
                        [acc[len(acc)]
                         + abs(a[1] - b[CAST(jx[1] AS INT)])])],
                   list_transform(range(2, t + 1),
                                  i -> [CAST(i AS BIGINT)])),
                 (prev, ix) ->
                   list_reduce(
                     list_concat(
                       [[abs(a[CAST(ix[1] AS INT)] - b[1]) + prev[1]]],
                       list_transform(range(2, t + 1),
                                      j -> [CAST(j AS BIGINT)])),
                     (acc, jx) -> acc ||
                       [abs(a[CAST(ix[1] AS INT)] - b[CAST(jx[1] AS INT)])
                        + least(prev[CAST(jx[1] AS INT)],
                                prev[CAST(jx[1] AS INT) - 1],
                                acc[len(acc)])])
               ) AS lastrow,
               list_sum(list_transform(range(1, t + 1),
                   i -> abs(a[CAST(i AS INT)] - b[CAST(i AS INT)])))
                   AS lockstep
        FROM ser
    )
    SELECT CAST(t AS BIGINT) AS t_len,
           CAST(lastrow[t] AS BIGINT) AS dtw_distance,
           CAST(lockstep AS BIGINT) AS lockstep_distance,
           {sql_q4("CAST(lastrow[t] AS DOUBLE) / (2 * t)")} AS dtw_per_step,
           {sql_q4("CAST(lockstep AS DOUBLE) / t")} AS lockstep_per_step
    FROM dp
    """,
)
def events_dtw_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping distance between the daily 'view' and
    'click' count series (gap-free day spine, |·| cost) — the
    alignment-tolerant series similarity every ops/marketing 'does
    engagement lead conversion, and by how many days' question needs,
    reported against the lockstep (Manhattan) distance it improves
    on. Full 2-D DP: D(i,j) = |a_i − b_j| + min(D(i−1,j), D(i,j−1),
    D(i−1,j−1)).

    Exactness — the interesting bit: the ENTIRE T×T dynamic program
    runs as a nested exact-BIGINT fold over array columns (outer fold
    over rows carrying the previous DP row, inner fold building the
    next row left-to-right), so both engines execute the identical
    integer recurrence: Spark as nested `aggregate`/`concat` HOFs in
    one codegen'd projection, the oracle as nested `list_reduce`
    (seeded by the first element, rows boxed as single-element lists
    to keep the accumulator type). No floats until the final
    per-step normalizations, so the hash is exact by construction —
    the 2-D companion to the 1-D Viterbi tropical scan.

    Scale shape: one aggregate to the calendar-bounded daily grid;
    the DP itself is metadata-sized (T ≈ observed days, T² cells on
    a 1-row frame). For T beyond ~10⁴ you'd band the DP
    (Sakoe-Chiba) — the fold shape is unchanged, the inner range
    just narrows."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        (F.unix_micros("ts") / F.lit(86400000000)).cast("long").alias("dn")
    ).agg(
        F.count_if(F.col("event_type") == "view").cast("long").alias("av"),
        F.count_if(F.col("event_type") == "click").cast("long").alias("bv"),
    )
    ser = daily.agg(
        F.min("dn").alias("lo"),
        F.max("dn").alias("hi"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("dn").alias("k"), F.col("av").alias("v")))
        ).alias("am"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("dn").alias("k"), F.col("bv").alias("v")))
        ).alias("bm"),
    ).select(
        F.expr(
            "transform(sequence(lo, hi), d -> coalesce(element_at(am, d), 0L))"
        ).alias("a"),
        F.expr(
            "transform(sequence(lo, hi), d -> coalesce(element_at(bm, d), 0L))"
        ).alias("b"),
        (F.col("hi") - F.col("lo") + 1).cast("int").alias("t"),
    )
    # t=1 short-circuit: sequence(2, 1) DESCENDS in Spark (step -1),
    # so the fold would read element_at(prev, 0)/NULL cells instead of
    # the oracle's cleanly-empty range(2, 2) — a single-day series is
    # just the one-cell DP |a1 - b1|.
    dp_expr = """
    CASE WHEN t < 2 THEN abs(element_at(a, 1) - element_at(b, 1))
    ELSE element_at(
      aggregate(sequence(2, t),
        aggregate(sequence(2, t),
          array(abs(element_at(a, 1) - element_at(b, 1))),
          (acc, j) -> concat(acc, array(element_at(acc, -1)
                        + abs(element_at(a, 1) - element_at(b, j))))),
        (prev, i) ->
          aggregate(sequence(2, t),
            array(abs(element_at(a, i) - element_at(b, 1))
                  + element_at(prev, 1)),
            (acc, j) -> concat(acc, array(
                abs(element_at(a, i) - element_at(b, j))
                + least(element_at(prev, j), element_at(prev, j - 1),
                        element_at(acc, -1)))))),
      t)
    END
    """
    lock_expr = (
        "aggregate(sequence(1, t), 0L, (s, i) ->"
        " s + abs(element_at(a, i) - element_at(b, i)))"
    )
    dp = ser.select(
        "t",
        F.expr(dp_expr).cast("long").alias("dtw"),
        F.expr(lock_expr).cast("long").alias("lockstep"),
    )
    return dp.select(
        F.col("t").cast("long").alias("t_len"),
        F.col("dtw").alias("dtw_distance"),
        F.col("lockstep").alias("lockstep_distance"),
        q4(F.col("dtw").cast("double") / (2 * F.col("t"))).alias("dtw_per_step"),
        q4(F.col("lockstep").cast("double") / F.col("t")).alias(
            "lockstep_per_step"
        ),
    )


# ------------------------------------------------------------------
# CUPED variance reduction (r11)


@register(
    "events_cuped",
    oracle="""
    WITH span AS (
        SELECT (CAST(min(epoch_us(ts)) AS BIGINT)
                + CAST(max(epoch_us(ts)) AS BIGINT)) // 2 AS mid
        FROM events
    ), per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                   AND epoch_us(ts) < mid
                   THEN CAST(floor(value*100 + 0.5) AS BIGINT)
                   ELSE 0 END), 0) AS BIGINT) AS x,
               CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                   AND epoch_us(ts) >= mid
                   THEN CAST(floor(value*100 + 0.5) AS BIGINT)
                   ELSE 0 END), 0) AS BIGINT) AS y
        FROM events CROSS JOIN span
        GROUP BY user_id, user_id % 2
    ), pooled AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM per_user
    ), arms AS (
        SELECT arm, CAST(count(*) AS BIGINT) AS n_a,
               CAST(sum(x) AS BIGINT) AS sx_a,
               CAST(sum(y) AS BIGINT) AS sy_a
        FROM per_user GROUP BY arm
    )
    SELECT arm, n_a AS n_users,
           q4x.mean_y, q4x.mean_y_cuped, q4x.theta, q4x.rho2
    FROM arms CROSS JOIN pooled,
    LATERAL (SELECT
        CAST(floor(CAST(sy_a AS DOUBLE) / n_a / 100.0 * 10000 + 0.5)
            AS BIGINT) / 10000.0 AS mean_y,
        CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) <= 0.0
             THEN NULL ELSE
        CAST(floor((CAST(sy_a AS DOUBLE) / n_a
             - ((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
                / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
               * (CAST(sx_a AS DOUBLE) / n_a - CAST(sx AS DOUBLE) / n))
             / 100.0 * 10000 + 0.5) AS BIGINT) / 10000.0 END AS mean_y_cuped,
        CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) <= 0.0
             THEN NULL ELSE
        CAST(floor(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n))
             * 10000 + 0.5) AS BIGINT) / 10000.0 END AS theta,
        CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) <= 0.0
             OR (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n) <= 0.0
             THEN NULL ELSE
        CAST(floor(((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             * (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)))
             * 10000 + 0.5) AS BIGINT) / 10000.0 END AS rho2) q4x
    """,
)
def events_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the modern
    A/B-testing standard): per-user purchase revenue in the second
    half of the calendar span (the 'experiment period' Y) adjusted by
    the first-half pre-period covariate X via
    Ycv = Y − θ·(X − X̄), θ = cov(X,Y)/var(X) pooled across arms
    (user_id % 2). Reports per-arm raw and CUPED-adjusted means plus
    the achieved variance-reduction factor ρ² = corr(X,Y)² — the
    fraction of metric variance the pre-period covariate removes.

    Exactness: X/Y are exact per-user cent sums; θ, the adjusted
    means and ρ² derive from five pooled co-moment sums accumulated
    as 128-bit integers (DECIMAL(38,0)/HUGEINT — the agg_corr_exact
    discipline), so every double meets identically-parenthesized
    inputs and the q4 hash is stable at any parallelism.

    Scale shape: one pass to per-user sums (hash aggregate on
    user_id), one 1-row pooled aggregate + one 2-row arm aggregate,
    closed-form projections. The calendar midpoint is a 1-row
    broadcast — no window, no second scan of the fact table."""
    e = table(spark, sf_dir, "events")
    span = e.agg(
        F.expr(
            "(min(unix_micros(ts)) + max(unix_micros(ts))) div 2"
        ).alias("mid")
    )
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    is_p = F.col("event_type") == "purchase"
    per_user = reuse(
        e.crossJoin(F.broadcast(span))
        .groupBy("user_id", (F.col("user_id") % 2).alias("arm"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        is_p & (F.unix_micros("ts") < F.col("mid")), cents
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        is_p & (F.unix_micros("ts") >= F.col("mid")), cents
                    ).otherwise(F.lit(0))
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("y"),
        )
    )
    dec = "decimal(38,0)"
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_a"),
        F.sum("x").cast("long").alias("sx_a"),
        F.sum("y").cast("long").alias("sy_a"),
    )
    j = arms.crossJoin(F.broadcast(pooled))
    cov = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ) / F.col("n")
    varx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ) / F.col("n")
    vary = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ) / F.col("n")
    theta = cov / varx
    # degenerate guard: a constant pre-period covariate (e.g. a span
    # with no pre-midpoint purchases at all -> every x = 0) zeroes
    # varx, which under Spark 4's default ANSI mode is a whole-job
    # DIVIDE_BY_ZERO crash while DuckDB's double division is inf —
    # NULL the adjusted columns instead (CASE branches short-circuit
    # the division); same for vary in the rho2 denominator.
    deg_x = varx <= F.lit(0.0)
    deg_xy = deg_x | (vary <= F.lit(0.0))
    null_d = F.lit(None).cast("double")
    return j.select(
        "arm",
        F.col("n_a").alias("n_users"),
        q4(F.col("sy_a").cast("double") / F.col("n_a") / 100.0).alias(
            "mean_y"
        ),
        F.when(deg_x, null_d)
        .otherwise(
            q4(
                (
                    F.col("sy_a").cast("double") / F.col("n_a")
                    - theta
                    * (
                        F.col("sx_a").cast("double") / F.col("n_a")
                        - F.col("sx").cast("double") / F.col("n")
                    )
                )
                / 100.0
            )
        )
        .alias("mean_y_cuped"),
        F.when(deg_x, null_d).otherwise(q4(theta)).alias("theta"),
        F.when(deg_xy, null_d)
        .otherwise(q4(cov * cov / (varx * vary)))
        .alias("rho2"),
    )
