"""Similarity-plan auto-rewrite (SURVEY.md §4 "future work" item).

Catalyst can't cost a brute-force cosine top-k against its LSH/IVF
rewrites — the trade is recall-vs-cost, invisible to a relational
optimizer. This module supplies the missing rule at the library
layer: `choose_strategy` is a deterministic cost model over the only
statistics that matter (candidate count × query count), and
`sim_auto` is the user-facing operator that plans through it, so
callers write one query and get the scale-appropriate physical
strategy — exactly what an auto-LSH Catalyst rule would do, without
needing a JVM extension point.

Thresholds: brute force scores n_candidates × n_queries pairs (a
broadcast nested loop — optimal while the pair count is small); IVF
cuts candidates per query by ~|cells|/nprobe but adds an assignment
pass (worth it once pairs exceed ~5M); LSH drops exactness entirely
and is the only shape whose cost is ~linear in candidates, so it
takes over when even one query can't afford a full scan. The chooser
reads ONLY cheap metadata (row counts), never data values, so the
decision is plan-time, not run-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import footer_row_count, table
from ..registry import REGISTRY, register
from ..llm import similarity as _sim

# Pair budget a broadcast brute-force scan handles comfortably per
# executor-core wave; above it, restrict candidates (IVF). Above the
# candidate budget, even per-cell scans are too wide → LSH.
BRUTE_MAX_PAIRS = 5_000_000
IVF_MAX_CANDIDATES = 5_000_000


def choose_strategy(n_candidates: int, n_queries: int) -> str:
    """Pick 'brute' | 'ivf' | 'lsh' from cardinalities alone."""
    if n_candidates * n_queries <= BRUTE_MAX_PAIRS:
        return "brute"
    if n_candidates <= IVF_MAX_CANDIDATES:
        return "ivf"
    return "lsh"


@register(
    "sim_auto",
    oracle=REGISTRY["sim_topk_exact"].oracle,
    notes="auto-rewrite: fixture cardinalities (≤2000×50 pairs) keep "
    "the chooser on 'brute', so the exact oracle applies at every sf; "
    "tests force the ivf/lsh branches with synthetic cardinalities.",
)
def sim_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-driven similarity search: counts the candidate set
    from the parquet footer on the driver (no scan, no Spark job; a
    table stored as a directory falls back to ``count()``), then
    dispatches to the exact broadcast scan, IVF cell-restricted scan,
    or LSH bucket join.  One API, three physical plans — the
    library-level analogue of a Catalyst auto-LSH rewrite rule."""
    n = footer_row_count(spark, f"{sf_dir}/embeddings.parquet")
    if n is None:
        n = table(spark, sf_dir, "embeddings").count()
    strategy = choose_strategy(n, _sim.N_QUERIES)
    impl = {
        "brute": _sim.sim_topk_exact,
        "ivf": _sim.sim_ann_ivf,
        "lsh": _sim.sim_ann_lsh,
    }[strategy]
    return impl(spark, sf_dir)
