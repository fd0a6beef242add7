"""Driver contract for the spark-graft builder (PySpark target).

A consumer runs ``entry(spark)`` as a smoke check, then builds any
``queries()[name]`` over a fixture directory and compares it against
the matching ``oracle_sql()[name]`` run in DuckDB (row count, schema
and order-insensitive values). ``queries()`` holds every registered
key; ``tests/test_parity.py`` checks all of them this way.

Implementation lives in ``etl_cnc_spark/`` — this module only adapts
the registry (SURVEY.md §2 operator inventory) to the contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_cnc_spark.registry import load_all  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship star query (SURVEY.md §2.3 join_multiway) on sf0.001."""
    reg = load_all()
    return reg["join_multiway"].build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.build for name, q in load_all().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every hash-checked query; keys with
    non-SQL-expressible semantics are omitted (rows-only check)."""
    return {name: q.oracle for name, q in load_all().items() if q.oracle is not None}
