"""Query registry — the single source of truth for the operator
inventory (SURVEY.md §2).

Every operator module registers its queries here with the
``@register`` decorator; ``__spark_entry__.py`` exposes the registry,
every key in registration order, as ``queries()`` / ``oracle_sql()``.

Checks (SURVEY.md §5), run for every key by ``tests/test_parity.py``:
- ``check="hash"``: a DuckDB oracle SQL string exists; the result is
  compared value for value (order-insensitive, columns sorted by name).
- ``check="rows"``: no oracle (non-SQL-expressible op); only the
  result's row count is checked.
"""

from __future__ import annotations

import functools
import importlib
import threading
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

BuildFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QueryDef:
    name: str
    build: BuildFn
    oracle: str | None = None
    check: str = "hash"  # "hash" | "rows"
    notes: str = ""
    bench: bool = False  # part of the flagship bench set (BASELINE.md)


REGISTRY: dict[str, QueryDef] = {}

# Modules that register queries (imported for side effects by load_all).
_OP_MODULES = [
    "etl_cnc_spark.sources.scans",
    "etl_cnc_spark.sources.sinks",
    "etl_cnc_spark.sources.kafka",
    "etl_cnc_spark.sources.lakehouse",
    "etl_cnc_spark.sources.python_ds",
    "etl_cnc_spark.operators.projection",
    "etl_cnc_spark.operators.joins",
    "etl_cnc_spark.operators.aggregates",
    "etl_cnc_spark.operators.windows",
    "etl_cnc_spark.operators.sorts",
    "etl_cnc_spark.operators.sets",
    "etl_cnc_spark.operators.etl",
    "etl_cnc_spark.operators.analytics",
    "etl_cnc_spark.operators.stats",
    "etl_cnc_spark.operators.mlprep",
    "etl_cnc_spark.operators.graph",
    "etl_cnc_spark.operators.tpch",
    "etl_cnc_spark.functions.scalar",
    "etl_cnc_spark.streaming.batch_equiv",
    "etl_cnc_spark.streaming.streams",
    "etl_cnc_spark.llm.dedup",
    "etl_cnc_spark.llm.similarity",
    "etl_cnc_spark.llm.text",
    "etl_cnc_spark.llm.multimodal",
    "etl_cnc_spark.llm.retrieval",
    "etl_cnc_spark.udfs",
    "etl_cnc_spark.sql",
    "etl_cnc_spark.plans.rewrite",  # needs llm.similarity registered first
]


# --- build scope: the one release point for build caches -----------
#
# Rule: a build persists a frame it reads more than once through
# ``reuse()`` — except a frame whose consumers sit above one shared
# exchange, which is not cached: they already share that exchange's
# output, and a cache between them hides it from AQE exchange reuse
# and costs a job of its own.  No ``global_ordered`` input is cached
# (operators/prefix.py; tests/test_build_scope_pin.py).
#
# The DataFrame a build returns is lazy, so the build cannot
# unpersist; the next top-level registered build on the same thread
# (or ``release_caches``) unpersists what the previous one recorded.
# A composed build runs inside its caller's scope and never releases
# mid-build; outside any build ``reuse()`` does not persist.
# Thread scope: each thread has its own scope, so a build on one
# thread never releases frames another thread's build recorded.


class _BuildScope(threading.local):
    def __init__(self) -> None:
        self.depth = 0  # registered builds on this thread's stack
        self.frames: list[DataFrame] = []  # recorded since the last release


_scope = _BuildScope()


def reuse(df: DataFrame) -> DataFrame:
    """Persist ``df`` for the current registered build and record it
    for release; outside a registered build return ``df`` as is."""
    if _scope.depth == 0:
        return df
    df = df.persist()
    _scope.frames.append(df)
    return df


def release_caches(spark: SparkSession) -> None:
    """Unpersist every frame this thread's builds recorded since the
    last release — the cold-run hook between timed runs (bench.py,
    perfbench)."""
    frames, _scope.frames = _scope.frames, []
    for df in frames:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # a stopped session has nothing left to release


def _build_scope(fn: BuildFn) -> BuildFn:
    @functools.wraps(fn)
    def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
        if _scope.depth == 0:
            release_caches(spark)
        _scope.depth += 1
        try:
            return fn(spark, sf_dir)
        finally:
            _scope.depth -= 1

    return scoped


def register(
    name: str,
    oracle: str | None = None,
    *,
    check: str | None = None,
    notes: str = "",
    bench: bool = False,
) -> Callable[[BuildFn], BuildFn]:
    """Register a query builder under ``name`` with its DuckDB oracle."""

    def deco(fn: BuildFn) -> BuildFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query key: {name}")
        resolved = check or ("hash" if oracle is not None else "rows")
        REGISTRY[name] = QueryDef(
            name=name,
            build=_build_scope(fn),
            oracle=oracle,
            check=resolved,
            notes=notes,
            bench=bench,
        )
        return fn

    return deco


_loaded = False


def load_all() -> dict[str, QueryDef]:
    """Import every operator module (idempotent) and return the
    registry in registration order."""
    global _loaded
    if not _loaded:
        for mod in _OP_MODULES:
            # A missing operator module means silent coverage loss —
            # always raise so the registry can never shrink unnoticed.
            importlib.import_module(mod)
        _loaded = True
    return REGISTRY
