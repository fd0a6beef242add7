"""How a frame gets a total-order rank or running sum — the one place
that chooses the primitive, by the frame's cardinality.

- **Calendar-bounded grids** (one row per hour or day of the event
  span: at most 24·|days| rows at any data scale) go through
  ``calendar_rank``: ONE single-partition window, the oracles' own
  ``row_number() OVER (ORDER BY h)`` shape, over the grid lazily
  local-checkpointed (SCALE.md "Calendar-series family").  A window
  over a few thousand metadata rows is one task; the bucketed machine
  below would spend a min/max aggregate, a bucket shuffle, a totals
  fold and a broadcast join to rank the same rows.
- **Data-proportional frames and value-domain grids** (per-user,
  per-order, per-score rows; cents and quantity grids) go through
  ``global_ordered``, the bucketed prefix machine described next.

``Window.orderBy(...)`` with no ``partitionBy`` collapses the whole
input onto one task ("WindowExec: No Partition Defined") — correct,
but a scale killer on unbounded inputs.  ``global_ordered`` is the
classic two-phase prefix computation instead:

1. every row gets a DETERMINISTIC ordered bucket id computed from its
   own sort-key value against the global [min, max] of the key (one
   broadcast single-row aggregate) — bucket boundaries are a pure
   function of the data, so every branch of the plan derives the
   identical id;
2. a PARTITIONED window per bucket computes local row numbers and
   local running sums in parallel (one hash shuffle of the data);
3. per-bucket totals (one tiny row per bucket) fold into exclusive
   offsets with a hierarchical broadcast join — no window, no driver
   collect;
4. global rank = offset_count + local rank; global running sum =
   offset_sum + local running sum.

Why not ``repartitionByRange`` + ``spark_partition_id()``: the
physical partition id is NOT stable across plan branches — the range
exchange is sampled per compiled RDD (seeded by rdd.id) and AQE may
read the same shuffle coalesced in one branch and raw in another, so
a diamond plan can disagree with itself about which partition a row
sits in (observed as corrupted ranks at sf0.1, first run in a fresh
session).  Value-derived bucket ids are immune by construction: AQE
and sampling can do anything to the physical layout without touching
the bucket column.

Trade-off: value-linear buckets are balanced only for roughly
uniform keys; a skewed key distribution makes some buckets larger
(still correct — the per-bucket window just has more rows).  For
heavy skew raise ``spark.sql.shuffle.partitions`` (the bucket count)
or pre-transform the bucket key (e.g. a CDF-ish monotone map);
balance is a performance knob, never a correctness one.

Caching rule: ``global_ordered`` materializes nothing, and no caller
caches the frame it passes in.  A frame whose consumers sit above one
shared exchange is not cached: the consumers already share that
exchange's output (AQE reuses it), and a cache between them would hide
it from exchange reuse and cost a job of its own.  The bucketed input feeds
two consumers, the per-bucket window and the per-bucket totals; each
replays only the caller's lineage above its last exchange.
``calendar_rank`` lazily local-checkpoints the grid it is given (a
bounded frame, SCALE.md checkpoint rule) and nothing above it, so its
callers checkpoint nothing before or after it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["calendar_rank", "global_ordered", "sql_ntile_from_rank"]

_BUCKET = 1024  # bucket-group width for the hierarchical offset fold


def _exclusive_offsets(
    totals: DataFrame, cols: list[str], num_parts: int
) -> DataFrame:
    """Exclusive prefix sums of ``cols`` over the per-bucket totals
    table, ordered by ``_pid`` — output columns ``_off_<c>``.

    Hierarchical two-level fold so the cost stays near-linear in the
    bucket count P: within 1024-pid groups the fold is a PARTITIONED
    window (partitionBy the group id — each window partition holds
    ≤1024 metadata rows, never data); across groups the fold runs
    over only ⌈P/1024⌉ group-total rows (a broadcast non-equi join
    of metadata). A flat P² non-equi fold would be quadratic at
    cluster partition counts (P=10⁵ → 10¹⁰ pairs); this shape is
    one small shuffle + (P/1024)² metadata pairs through P≈10⁶.

    When ``num_parts`` ≤ 1024 every pid shares group 0 and the
    cross-group level is statically zero — it is skipped outright,
    which matters for latency: each extra exchange is a whole AQE
    stage wave, and small-input queries are stage-bound, not
    row-bound."""
    # partition by the group EXPRESSION (not a pre-added _bkt column):
    # in the common ≤1024-pid path this keeps the whole fold ONE
    # DataFrame op — every extra op here re-analyzes the caller's full
    # data lineage, which is pure driver latency (r16, guide §7.3)
    w_excl = (
        Window.partitionBy(F.expr(f"_pid DIV {_BUCKET}"))
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    if num_parts <= _BUCKET:
        return totals.select(
            "_pid",
            *[
                F.coalesce(F.sum(c).over(w_excl), F.lit(0))
                .cast("long")
                .alias(f"_off_{c}")
                for c in cols
            ],
        )
    t = totals.withColumn("_bkt", F.expr(f"_pid DIV {_BUCKET}"))
    within = t.select(
        "_pid",
        "_bkt",
        *[
            F.coalesce(F.sum(c).over(w_excl), F.lit(0))
            .cast("long")
            .alias(f"_w_{c}")
            for c in cols
        ],
    )
    bkt_tot = t.groupBy("_bkt").agg(
        *[F.sum(c).cast("long").alias(c) for c in cols]
    )
    ba, bb = bkt_tot.alias("ba"), bkt_tot.alias("bb")
    bkt_off = (
        ba.join(F.broadcast(bb), F.col("bb._bkt") < F.col("ba._bkt"), "left")
        .groupBy(F.col("ba._bkt").alias("_bkt"))
        .agg(
            *[
                F.coalesce(F.sum(f"bb.{c}"), F.lit(0))
                .cast("long")
                .alias(f"_b_{c}")
                for c in cols
            ]
        )
    )
    return within.join(F.broadcast(bkt_off), "_bkt").select(
        "_pid",
        *[
            (F.col(f"_w_{c}") + F.col(f"_b_{c}")).alias(f"_off_{c}")
            for c in cols
        ],
    )


def calendar_rank(
    grid: DataFrame, order_col: str, sums: tuple[str, ...] = ()
) -> DataFrame:
    """``grid`` plus a 1-based BIGINT rank ``t`` ordered by
    ``order_col`` and, for each column ``c`` in ``sums``, an inclusive
    running BIGINT sum ``cum_<c>``.

    For calendar-bounded grids only: one row per hour or day of the
    event span, keyed uniquely by ``order_col`` (a ``GROUP BY`` of the
    truncated timestamp), so the order is total and the frame is at
    most 24·|days| rows at any data scale.  That bound is what makes
    the single-partition window here safe; a data-proportional frame
    or a value-domain grid goes through ``global_ordered``.

    The grid is lazily local-checkpointed (a bounded frame) and the
    window runs above it unmaterialized: every consumer of the ranked
    frame (moment folds, both sides of a lag self-join) sits above the
    window's one single-partition exchange, which AQE reuses.  Callers
    checkpoint nothing before or after this call."""
    w = Window.orderBy(order_col)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return grid.localCheckpoint(eager=False).select(
        "*",
        F.row_number().over(w).cast("long").alias("t"),
        *[F.sum(c).over(w_run).cast("long").alias(f"cum_{c}") for c in sums],
    )


def global_ordered(
    df: DataFrame,
    order_cols: list[Column],
    *,
    bucket_key: Column | str,
    bucket_desc: bool = False,
    sums: dict[str, str] | None = None,
    rank_col: str | None = "rk",
    bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Append a global 1-based row number (``rank_col``) and, for each
    ``sums`` entry ``{src: dst}``, an inclusive global running BIGINT
    sum of ``src`` named ``dst``, ordered by ``order_cols`` — computed
    with bucketed prefix sums (see module docstring), never a
    single-partition window.

    ``bucket_key`` (a column name or an expression) must be
    integral-valued and monotone in the LEADING sort column (pass
    ``bucket_desc=True`` when that column sorts descending); rows with
    equal leading keys land in the same bucket, so secondary tie-break
    columns never cross a bucket boundary.  ``order_cols`` must be a
    total order (tie-break with a unique key) for the rank to be
    deterministic.  Sum columns must be integral (exact BIGINT running
    sums — the money/cents discipline).  The bucket count is the
    session's ``spark.sql.shuffle.partitions``.

    ``bounds``: optional STATIC ``(lo, hi)`` for the bucket key.  When
    the caller can bound the key by construction (e.g. a composite key
    built to span ``[0, 3·2^20)``), passing bounds skips the global
    min/max aggregate + broadcast — one fewer full pass over the input
    and one fewer AQE stage wave, which dominates small-input latency.
    Bounds need only be a superset of the true range (bucket balance
    degrades gracefully; ``_pid`` stays below the bucket count), but
    every key value MUST lie inside them for ranks to be correct.
    """
    sums = sums or {}
    out_cols = df.columns
    num_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    # ``bigint(x)`` is CAST(x AS BIGINT) and takes a name or a Column
    key = F.call_function("bigint", bucket_key)
    if bounds is None:
        mm = df.agg(F.min(key).alias("_lo"), F.max(key).alias("_hi"))
        base, lo, hi = df.crossJoin(F.broadcast(mm)), F.col("_lo"), F.col("_hi")
    else:
        base = df
        lo, hi = (F.lit(int(b)).cast("long") for b in bounds)
    # ordered bucket id from the row's own key value: a pure function
    # of (key, lo, hi, num_parts) — identical in every plan branch.
    # width = ceil(span / num_parts) ≥ 1, so _pid ∈ [0, num_parts-1].
    width = F.call_function("div", hi - lo + num_parts, F.lit(num_parts))
    pos = (hi - key) if bucket_desc else (key - lo)
    bucketed = base.select(
        "*", F.call_function("div", pos, width).alias("_pid")
    )
    # each stage is one select: every DataFrame op re-analyzes the
    # caller's whole lineage, which is driver-side planning time
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    local = bucketed.select(
        "*",
        F.row_number().over(w).cast("long").alias("_lrk"),
        *[
            F.sum(src).over(w_run).cast("long").alias(f"_lrun_{dst}")
            for src, dst in sums.items()
        ],
    )
    totals = local.groupBy("_pid").agg(
        F.count(F.lit(1)).cast("long").alias("_cnt"),
        *[
            F.sum(src).cast("long").alias(f"_tot_{dst}")
            for src, dst in sums.items()
        ],
    )
    offsets = _exclusive_offsets(
        totals, ["_cnt"] + [f"_tot_{d}" for d in sums.values()], num_parts
    )
    proj: list = list(out_cols)
    if rank_col is not None:
        proj.append(
            (F.col("_off__cnt") + F.col("_lrk")).cast("long").alias(rank_col)
        )
    proj.extend(
        (F.col(f"_off__tot_{dst}") + F.col(f"_lrun_{dst}"))
        .cast("long")
        .alias(dst)
        for dst in sums.values()
    )
    return local.join(F.broadcast(offsets), "_pid").select(*proj)


def sql_ntile_from_rank(rk: str, n: str, k: int) -> str:
    """Exact SQL-standard ``ntile(k)`` bucket, as a Spark-SQL
    expression string, from a 1-based global rank ``rk`` and the total
    row count ``n`` (both BIGINT expressions): the first ``n % k``
    buckets take ``n DIV k + 1`` rows, the rest ``n DIV k``.  Matches
    Spark's and DuckDB's ntile bit for bit, so an oracle can keep using
    ``ntile(k)`` while the Spark side stays free of the
    single-partition global window ntile would need.  A string because
    one JVM-side parse is cheaper than ~15 py4j Column calls per use;
    wrap it in ``F.expr``."""

    # exact non-negative integer division: the numerator is made
    # exactly divisible first, so the double division is lossless
    def idiv(a: str, b: str) -> str:
        return f"CAST((({a}) - ({a}) % ({b})) / ({b}) AS BIGINT)"

    q = idiv(n, f"CAST({k} AS BIGINT)")
    r = f"(({n}) % {k})"
    big = f"({r} * ({q} + 1))"
    return (
        f"CAST(CASE WHEN ({rk}) <= {big}"
        f" THEN {idiv(f'({rk}) - 1', f'{q} + 1')} + 1"
        f" ELSE {r} + {idiv(f'({rk}) - {big} - 1', q)} + 1 END AS BIGINT)"
    )
