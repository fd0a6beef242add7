"""Local replica of the driver's correctness check (SURVEY.md §5).

Runs a query's Spark build and its DuckDB oracle SQL side by side and
compares: row count, sorted column names, and order-insensitive
values. The local comparison is *stricter* than the driver's hash
(exact equality after canonicalization) so a local pass predicts a
driver pass.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
import pandas as pd

from .catalog import TABLES
from .registry import QueryDef


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the ten fixture views pre-registered, mirroring
    the driver's oracle environment (``__spark_entry__.py`` docstring)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb_connect(sf_dir)
    try:
        return con.execute(sql).df()
    finally:
        con.close()


def _canon_cell(v) -> str:
    """Stable string encoding of one value (drives row sorting and
    equality). Floats use repr of the double — exact, not rounded:
    queries are responsible for rounding (SURVEY.md §2 alias rule)."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NaN"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return "0x" + v.hex()
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    """Columns sorted by name, every cell canonicalized, rows sorted."""
    cols = sorted(pdf.columns)
    out: list[tuple[str, ...]] = []
    for row in pdf[cols].itertuples(index=False, name=None):
        canon = []
        for v in row:
            if v is pd.NaT:
                v = None
            elif isinstance(v, float) and math.isnan(v):
                v = None if not isinstance(v, bool) else v
            elif hasattr(v, "item") and not isinstance(v, (bytes, str)):
                try:
                    v = v.item()
                except Exception:
                    pass
            canon.append(_canon_cell(v))
        out.append(tuple(canon))
    out.sort()
    return out


@dataclass
class CompareResult:
    name: str
    ok: bool
    spark_rows: int = 0
    oracle_rows: int = 0
    detail: str = ""
    mismatches: list[str] = field(default_factory=list)


def compare(qdef: QueryDef, spark, sf_dir: str, sdf=None) -> CompareResult:
    """Run one registered query against its oracle; exact value compare.
    ``sdf``: the query already built from ``qdef`` (default: build it
    here)."""
    if sdf is None:
        sdf = qdef.build(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if qdef.check == "rows" or qdef.oracle is None:
        return CompareResult(
            qdef.name, ok=True, spark_rows=len(spark_pdf), detail="rows-only check"
        )
    oracle_pdf = run_oracle(qdef.oracle, sf_dir)

    res = CompareResult(qdef.name, ok=True, spark_rows=len(spark_pdf), oracle_rows=len(oracle_pdf))
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        res.ok = False
        res.detail = (
            f"column mismatch: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}"
        )
        return res
    if len(spark_pdf) != len(oracle_pdf):
        res.ok = False
        res.detail = f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        return res
    s_rows = canonical_rows(spark_pdf)
    o_rows = canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        res.ok = False
        diffs = [
            f"  spark={s}\n  oracle={o}"
            for s, o in zip(s_rows, o_rows)
            if s != o
        ]
        res.detail = f"value mismatch in {len(diffs)}/{len(s_rows)} rows"
        res.mismatches = diffs[:5]
    return res
