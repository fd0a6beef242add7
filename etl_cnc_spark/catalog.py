"""Catalog: load the fixture tables as DataFrames / temp views.

SURVEY.md §1: ten parquet tables per scale-factor dir
(``region nation customer supplier part orders lineitem events
documents embeddings``). Schema-on-read from parquet footers; the
DuckDB oracle pre-registers views of the same names, so view names
here match exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .session import tune

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def events_ts_is_long(spark: SparkSession, events_path: str) -> bool:
    """How does THIS runtime surface the events table's
    TIMESTAMP(NANOS) parquet column?

    - older Spark 4 + ``nanosAsLong=true``: LongType raw nanos
    - pyspark >= 4.1.2: native read as TIMESTAMP_NTZ (already
      truncated to µs; ``nanosAsLong`` no longer changes the schema)

    Both runtimes exist across driver rounds, so every events reader
    branches on the observed schema instead of assuming one era.
    """
    # tune() first: on nanosAsLong-era runtimes this batch read throws
    # without the conf, and callers must not have to know that.
    tune(spark)
    dt = spark.read.parquet(events_path).schema["ts"].dataType
    return isinstance(dt, LongType)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Lazy: only the footer is touched until an
    action runs, so repeated calls are cheap.

    ``events.ts`` is TIMESTAMP(NANOS) in parquet; whatever type the
    runtime surfaces it as (see ``events_ts_is_long``), normalize to a
    µs TimestampType in the session TZ (tune() pins UTC) so downstream
    ``unix_micros`` math matches DuckDB's ``epoch_us`` of the same file.

    r16: the returned DataFrame is MEMOIZED per (session, sf_dir,
    name) — a lazy PLAN handle, never data: every action re-reads the
    files' contents, but the handle freezes the file listing and the
    schema resolved on the first call.  Files added, removed or
    re-schema'd under ``sf_dir`` later are not seen by this session
    (use a new session, or drop ``spark._etlcnc_tables``).
    ``spark.read.parquet`` costs a driver-side footer read + schema
    resolution on every call, and the bench keys reference 1–4 tables
    per build, so the uncached path re-paid ~20–50 ms of pure
    driver/py4j latency per reference — the same reason a catalog
    resolves a table once per session.  The memo dict lives ON the
    session object, so a stopped/replaced session never leaks stale
    handles into a new one."""
    tune(spark)
    memo: dict = spark.__dict__.setdefault("_etlcnc_tables", {})
    key = (sf_dir, name)
    df = memo.get(key)
    if df is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            if isinstance(df.schema["ts"].dataType, LongType):
                df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
            else:
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        memo[key] = df
    return df


def load(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table as a dict of DataFrames."""
    return {t: table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for the SQL entry point
    (SURVEY.md §3.2) — the same names the DuckDB oracle uses."""
    for name, df in load(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
