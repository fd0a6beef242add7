"""Catalog: load the fixture tables as DataFrames / temp views.

SURVEY.md §1: ten parquet tables per scale-factor dir
(``region nation customer supplier part orders lineitem events
documents embeddings``). Schema-on-read from parquet footers, read on
the driver (``footer_schema``) so resolving a table fires no Spark
job; the DuckDB oracle pre-registers views of the same names, so view
names here match exactly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, _parse_datatype_json_string

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
    # tune() first: on nanosAsLong-era runtimes the schema conversion
    # throws without the conf, and callers must not have to know that.
    tune(spark)
    schema = footer_schema(spark, events_path) or spark.read.parquet(events_path).schema
    return isinstance(schema["ts"].dataType, LongType)


def _open_footer(spark: SparkSession, path: str):
    """A JVM ``ParquetFileReader`` over the parquet FILE ``path``, opened
    on the driver (the caller closes it); None when ``path`` is not a
    single file."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    if not hpath.getFileSystem(hconf).isFile(hpath):
        return None
    return jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(hpath, hconf)
    )


def footer_row_count(spark: SparkSession, path: str) -> int | None:
    """Rows in one parquet FILE, summed from its footer's row-group
    metadata on the driver; no Spark job runs.  None when ``path`` is
    not a single file (a directory of part files, or a missing path)."""
    reader = _open_footer(spark, path)
    if reader is None:
        return None
    try:
        return reader.getRecordCount()
    finally:
        reader.close()


def footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema ``spark.read.parquet(path)`` would infer for one
    parquet FILE, read from its footer on the driver; None when
    ``path`` is not a single file (a directory of part files, or a
    missing path), which is left to Spark's own reader.

    Spark's own inference runs a one-task job per read
    (``mergeSchemasInParallel``) to open that same footer; here the
    driver opens it through py4j and converts it with the same pieces
    the inference job uses: the Spark schema stored in the footer's
    key-value metadata when a Spark writer left one, else
    ``ParquetToSparkSchemaConverter`` configured from the session's
    SQL conf (binary-as-string, INT96, timestamp-NTZ and nanos-as-long
    all follow the conf).  No Spark job runs."""
    reader = _open_footer(spark, path)
    if reader is None:
        return None
    jvm = spark._jvm
    try:
        footer = jvm.org.apache.parquet.hadoop.Footer(reader.getPath(), reader.getFooter())
    finally:
        reader.close()
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = parquet.ParquetToSparkSchemaConverter(spark._jsparkSession.sessionState().conf())
    jschema = parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    # file sources read every column as nullable, as inference reports
    return _parse_datatype_json_string(jschema.asNullable().json())


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Lazy and job-free: the schema comes from
    the file's parquet footer, read on the driver (``footer_schema``),
    and is handed to ``spark.read.schema(...).parquet(...)``, so the
    read fires no schema-inference job; no data is touched until an
    action runs.  A table stored as a directory of part files is read
    with Spark's own inference (one job on first use).

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
    A read costs a footer read + schema resolution on every call, and
    the bench keys reference 1–4 tables per build, so the uncached
    path re-paid ~20–50 ms of pure driver/py4j latency per reference
    — the same reason a catalog resolves a table once per session.
    The memo dict lives ON the session object, so a stopped/replaced
    session never leaks stale handles into a new one."""
    tune(spark)
    memo: dict = spark.__dict__.setdefault("_etlcnc_tables", {})
    key = (sf_dir, name)
    df = memo.get(key)
    if df is None:
        path = f"{sf_dir}/{name}.parquet"
        schema = footer_schema(spark, path)
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path)
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
