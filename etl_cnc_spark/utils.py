"""Cross-engine deterministic numeric helpers.

Problem (SURVEY.md §5 "float discipline"): Spark's ``round()`` and
DuckDB's ``round()`` disagree on representation-boundary halves
(Spark uses BigDecimal HALF_UP on the exact double; DuckDB rounds
via scaled floating multiply), producing 1-ulp 2dp mismatches on
~0.2% of rows. The driver hash-compares exact values, so any
disagreement fails the gate.

Fix: quantize with pure IEEE-754 ops that both engines execute
bitwise-identically on identical inputs:

    q2(x)  = floor(x*100 + 0.5) / 100.0          -- 2dp round
    cents  = floor(x*100 + 0.5) as BIGINT         -- exact integer
    sum2   = sum(cents)/100.0                     -- order-exact sum

Integer-cent sums make aggregation *exact* (no float associativity),
so parallel/partial aggregation order — which differs between Spark
partitions and DuckDB morsels — cannot change the result. This also
holds on a 1000-executor cluster, where partial-agg ordering is
nondeterministic run to run.
"""

from __future__ import annotations

import atexit
import math
import os
import re
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


_STABLE_DIRS: dict[tuple[str, str], str] = {}


def _size_bytes(conf_val: str) -> int:
    """Parse a Spark size conf ('134217728', '128m', '1g', '4MB')."""
    m = re.fullmatch(r"(\d+)\s*([kmgtp]?)b?", conf_val.strip().lower())
    if not m:
        return int(conf_val)
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
            "t": 1 << 40, "p": 1 << 50}[m.group(2)]
    return int(m.group(1)) * mult


def spread_scan(df: DataFrame, sf_dir: str, name: str, key: str) -> DataFrame:
    """Hash-repartition a scan-backed frame on ``key`` — but ONLY when
    its parquet file would plan fewer scan splits than the session's
    shuffle parallelism (guide §2.5 "input skew: one huge unsplittable
    file → repartition immediately after the read").

    Why: scan splits are sized by INPUT BYTES
    (``spark.sql.files.maxPartitionBytes``), so a compute-dense
    downstream stage (per-row higher-order-function folds over wide
    array columns — the similarity family's dot products) inherits
    byte-sized parallelism: a sub-128 MB file plans ONE task and
    serializes the whole fold while the rest of the cluster idles
    (measured: sim_topk_exact's 100 k-pair fold ran 704 ms on 1 task
    at sf0.1).

    The decision is PURE METADATA (os.path file size vs two session
    confs — no job, no plan compile) and SCALE-ADAPTIVE: once the
    input exceeds maxPartitionBytes x shuffle.partitions the scan
    already plans enough splits and this returns ``df`` unchanged, so
    a 100 TB run never pays an extra pass.  Hash partitioning on a
    real column is deterministic under retries (never round-robin on
    nondeterministic input).  Known limit: a small-bytes decision can
    under-trigger for a single-row-group file that Spark cannot split
    anyway — exactly the case where the repartition helps most, and
    file size catches it."""
    spark = df.sparkSession
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        # a parquet table is often a DIRECTORY of part files (the
        # production layout) — getsize on a dir returns the ~4 KB
        # dirent size, which would make every table look tiny and the
        # helper repartition at ANY scale (ADVICE r15, low): sum the
        # direct children instead (parquet part files are flat).
        if os.path.isdir(path):
            with os.scandir(path) as it:
                size = sum(e.stat().st_size for e in it if e.is_file())
        else:
            size = os.path.getsize(path)
    except OSError:
        return df  # non-local path (object store): scan sizing unknown
    try:
        mpb = _size_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    except (ValueError, TypeError):
        return df  # unparseable conf (e.g. a managed 'auto'): no-op
    if math.ceil(size / mpb) >= parts:
        return df
    # explicit numPartitions: a bare repartition(col) is a coalescible
    # REPARTITION_BY_COL whose ~KB-sized shuffle AQE folds straight
    # back to ONE partition (measured: the shuffle was paid and the
    # fold stayed serial); the user-specified count is respected.
    return df.repartition(parts, key)


def tmpdir(prefix: str, *, stable: bool = False, key: str = "") -> str:
    """``mkdtemp`` registered for removal at interpreter exit.

    Sink/stream keys stage data under /tmp and return LAZY DataFrames
    that re-read the staged files when the driver finally collects —
    so an eager ``finally: rmtree`` would break the contract. Exit-
    time reaping keeps repeated check/bench sweeps (each its own
    process) from accumulating lineitem-sized copies in /tmp.

    ``stable=True`` additionally reuses ONE directory per prefix
    within the process, so a long-lived session re-running the same
    sink key overwrites its staging area instead of accumulating a
    fresh lineitem-sized copy per call. Safe because every stable
    caller (a) writes with ``mode("overwrite")`` or rewrites whole
    files, and (b) stages DETERMINISTIC content, so a lazy frame from
    an earlier call re-reads byte-identical data. Streaming keys must
    NOT use it: a reused checkpoint dir would make the second run
    replay from "already processed" offsets. The dir itself is still
    mkdtemp-unique per process, so concurrent sweeps never collide.

    ``key`` scopes the reuse: stable callers pass their ``sf_dir`` so
    the same sink/source key built against TWO fixture scales in one
    process stages into two distinct directories — otherwise the
    second build would overwrite the first's staged files and a
    still-lazy DataFrame from the first would silently re-read the
    other scale's data."""
    if stable and (prefix, key) in _STABLE_DIRS:
        return _STABLE_DIRS[(prefix, key)]
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    if stable:
        _STABLE_DIRS[(prefix, key)] = d
    return d


def checkpoint_round(
    df: DataFrame, rnd: int, **metrics: Column
) -> tuple[DataFrame, dict]:
    """Truncate an iterative loop's lineage at round ``rnd`` and read
    its convergence numbers in the same job.

    The one lineage policy of the engine's iterative loops: every 3rd
    round is checkpointed RELIABLY (``setCheckpointDir`` storage
    survives executor loss; a temp dir is set when the session has
    none), the rounds between take a cheap ``localCheckpoint``.  Both
    are eager, so the frame's ``metrics`` (name=aggregate column) ride
    along as an ``observe`` that the checkpoint job fills: the driver
    gets e.g. a changed count without a separate ``count()`` job.
    Returns the checkpointed frame and the ``{name: value}`` dict."""
    obs = Observation()
    df = df.observe(obs, *(c.alias(k) for k, c in metrics.items()))
    if rnd % 3 == 2:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(tmpdir(prefix="etlcnc_ckpt_"))
        df = df.checkpoint(eager=True)
    else:
        df = df.localCheckpoint(eager=True)
    return df, obs.get


def ts_us(col: Column) -> Column:
    """Engine-neutral timestamp encoding: epoch microseconds.

    Parquet ms timestamps (not UTC-adjusted) arrive as TIMESTAMP_NTZ
    in Spark 4; with the session TZ pinned to UTC the NTZ→LTZ cast
    matches DuckDB's naive-as-UTC ``epoch_us`` exactly.
    """
    return F.unix_micros(col.cast("timestamp"))


def q2(col: Column) -> Column:
    """Deterministic 2-decimal rounding (IEEE-stable across engines)."""
    return F.floor(col * 100 + F.lit(0.5)) / F.lit(100.0)


def q4(col: Column) -> Column:
    """Deterministic 4-decimal rounding."""
    return F.floor(col * 10000 + F.lit(0.5)) / F.lit(10000.0)


def cents(col: Column) -> Column:
    """Exact integer cents of a money expression."""
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


def sum_money(col: Column) -> Column:
    """Order-exact money sum: integer-cent sum scaled back to units."""
    return F.sum(cents(col)) / F.lit(100.0)


def avg_money(col: Column) -> Column:
    """Order-exact money average via integer cents.

    sum_cents/count is long/long → double in Spark; the oracle SQL
    must cast the same way (see :func:`sql_avg_money`).
    """
    return (F.sum(cents(col)) / F.count(col)) / F.lit(100.0)


# --- SQL (DuckDB oracle) builders for the same formulas -------------

def sql_q2(expr: str) -> str:
    return f"floor(({expr})*100 + 0.5)/100.0"


def sql_q4(expr: str) -> str:
    return f"floor(({expr})*10000 + 0.5)/10000.0"


def sql_sum_money(expr: str) -> str:
    # CAST to DOUBLE: DuckDB's bigint/decimal-literal division would
    # otherwise produce DECIMAL, not DOUBLE.
    return f"CAST(sum(CAST(floor(({expr})*100 + 0.5) AS BIGINT)) AS DOUBLE)/100.0"


def sql_sum_money_filter(expr: str, cond: str) -> str:
    """Filtered money sum (for pivot oracles): FILTER binds to the
    aggregate itself, inside the outer CAST."""
    return (
        f"CAST(sum(CAST(floor(({expr})*100 + 0.5) AS BIGINT)) "
        f"FILTER (WHERE {cond}) AS DOUBLE)/100.0"
    )


def sql_avg_money(expr: str) -> str:
    return (
        f"(CAST(sum(CAST(floor(({expr})*100 + 0.5) AS BIGINT)) AS DOUBLE)"
        f"/count({expr}))/100.0"
    )


def pairwise_set_overlap(df, group_col: str, out_a: str, out_b: str):
    """Exact pairwise Jaccard/containment of per-group element sets.

    ``df`` must be a DISTINCT (group, element) frame with exactly two
    columns: ``group_col`` and one element column (any name). Returns
    columns (out_a, out_b, vocab-size pair named n_a/n_b via the
    callers' select, shared, jaccard, containment) — shared by
    events_user_overlap and text_vocab_overlap so the overlap math
    lives in ONE place. Shape: one self-join keyed on the element
    (output bounded by |groups|² per element) + broadcast size joins.
    """
    from pyspark.sql import functions as F

    from .registry import reuse

    elem = [c for c in df.columns if c != group_col][0]
    # the distinct (group, element) frame feeds the size aggregate AND
    # both self-join sides — DATA-SCALED, persist() per the SCALE.md
    # r13 rule (both callers re-scanned their fact table 4x before).
    # A caller that already cached an equal plan gets no second entry.
    df = reuse(df)
    sizes = df.groupBy(group_col).agg(F.count("*").cast("long").alias("n"))
    a = df.select(F.col(group_col).alias(out_a), elem)
    b = df.select(F.col(group_col).alias(out_b), elem)
    pairs = (
        a.join(b, elem)
        .where(F.col(out_a) < F.col(out_b))
        .groupBy(out_a, out_b)
        .agg(F.count("*").cast("long").alias("shared"))
    )
    sa = sizes.select(F.col(group_col).alias(out_a), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(group_col).alias(out_b), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(sa), out_a)
        .join(F.broadcast(sb), out_b)
        .select(
            out_a,
            out_b,
            "n_a",
            "n_b",
            "shared",
            q4(
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared"))
            ).alias("jaccard"),
            q4(
                F.col("shared").cast("double")
                / F.least(F.col("n_a"), F.col("n_b"))
            ).alias("containment"),
        )
    )


def sql_pairwise_set_overlap(
    distinct_cte: str, group: str, out_a: str, out_b: str
) -> str:
    """DuckDB oracle mirror of :func:`pairwise_set_overlap`.

    ``distinct_cte`` is SQL producing the DISTINCT (group, element)
    rows with columns named ``{group}`` and ``elem``."""
    return f"""
    WITH dv AS ({distinct_cte}),
    sizes AS (
        SELECT {group}, CAST(count(*) AS BIGINT) AS n
        FROM dv GROUP BY {group}
    ), pairs AS (
        SELECT a.{group} AS {out_a}, b.{group} AS {out_b},
               CAST(count(*) AS BIGINT) AS shared
        FROM dv a JOIN dv b
          ON a.elem = b.elem AND a.{group} < b.{group}
        GROUP BY 1, 2
    )
    SELECT p.{out_a}, p.{out_b}, sa.n AS n_a, sb.n AS n_b, p.shared,
           {sql_q4("CAST(p.shared AS DOUBLE) / (sa.n + sb.n - p.shared)")}
             AS jaccard,
           {sql_q4("CAST(p.shared AS DOUBLE) / least(sa.n, sb.n)")}
             AS containment
    FROM pairs p
    JOIN sizes sa ON sa.{group} = p.{out_a}
    JOIN sizes sb ON sb.{group} = p.{out_b}
    """
