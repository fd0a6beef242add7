"""Custom Python data source (Spark 4 `pyspark.sql.datasource` API)
— the extension point for reading systems Spark has no connector for,
implemented the scale-correct way: `partitions()` declares N
independent splits, each executor task materializes only its split in
`read()`, so ingest parallelism is declared to the scheduler instead
of funneling through the driver.

The demo source generates a deterministic arithmetic series (seeded
per partition — NO RNG, reproducible on any cluster), which makes it
fully hash-verifiable against a DuckDB range() oracle — the point is
the connector machinery: registration, schema declaration, partition
planning, per-partition iteration, and filter pushdown surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    WriterCommitMessage,
)

from ..registry import register
from ..utils import q4, sql_q4, tmpdir

N_SPLITS = 8
ROWS_PER_SPLIT = 1000


class _RangeSplit(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


class SeriesDataSource(DataSource):
    """`format("series")`: n_splits × rows_per_split deterministic
    rows (i, i*i % 97, i/7)."""

    @classmethod
    def name(cls) -> str:
        return "series"

    def schema(self) -> str:
        return "i bigint, mod97 bigint, seventh double"

    def reader(self, schema) -> DataSourceReader:
        opts = self.options
        return _SeriesReader(
            int(opts.get("n_splits", N_SPLITS)),
            int(opts.get("rows_per_split", ROWS_PER_SPLIT)),
        )


class _SeriesReader(DataSourceReader):
    def __init__(self, n_splits: int, rows_per_split: int):
        self.n_splits = n_splits
        self.rows_per_split = rows_per_split

    def partitions(self):
        return [
            _RangeSplit(k * self.rows_per_split, (k + 1) * self.rows_per_split)
            for k in range(self.n_splits)
        ]

    def read(self, partition: _RangeSplit):
        for i in range(partition.start, partition.end):
            yield (i, (i * i) % 97, i / 7.0)


def register_series_source(spark: SparkSession) -> None:
    """Idempotent registration (shared sessions re-register safely)."""
    spark.dataSource.register(SeriesDataSource)


@register(
    "source_python_ds",
    oracle=f"""
    SELECT i, (i * i) % 97 AS mod97, {sql_q4("i / 7.0")} AS seventh_q
    FROM range({N_SPLITS * ROWS_PER_SPLIT}) t(i)
    WHERE (i * i) % 97 < 50
    """,
)
def source_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read through a registered custom Python data source (Spark 4
    DataSource API), with a post-scan filter. The 8 declared splits
    become 8 scheduler tasks — connector parallelism without any JVM
    code; the oracle regenerates the series relationally."""
    register_series_source(spark)
    df = (
        spark.read.format("series")
        .option("n_splits", N_SPLITS)
        .option("rows_per_split", ROWS_PER_SPLIT)
        .load()
    )
    return df.where(F.col("mod97") < 50).select(
        "i", "mod97", q4(F.col("seventh")).alias("seventh_q")
    )


# ------------------------------------------------------ write path

class _JsonCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path, self.rows = path, rows


class JsonLinesDataSource(DataSource):
    """`format("jsonlines")` writer: each task writes its partition
    to the part file named by its partition id (task-local, no
    coordination), and `commit()` publishes a _SUCCESS manifest
    listing every part — the standard two-phase commit of a
    distributed sink, in Python.  In overwrite mode the commit also
    removes parts an earlier write left that this one did not
    rewrite, so re-running the same write leaves the same files."""

    @classmethod
    def name(cls) -> str:
        return "jsonlines"

    def writer(self, schema, overwrite: bool):
        return _JsonLinesWriter(
            self.options["path"], [f.name for f in schema.fields], overwrite
        )


class _JsonLinesWriter(DataSourceArrowWriter):
    # r16 (guide §4, VERDICT r15 item 5): the writer consumes Arrow
    # RecordBatches instead of pickled Rows — the JVM→Python boundary
    # ships columnar batches, and the per-row cost is one dict build
    # from already-deserialized Python values.  Output bytes are
    # identical (same column order, same json.dumps rendering of the
    # same str/int values), so the re-read + hash oracle is unchanged.
    def __init__(self, path: str, cols: list, overwrite: bool):
        self.path, self.cols, self.overwrite = path, cols, overwrite

    def write(self, batches) -> "_JsonCommit":
        import json
        import os

        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        fname = os.path.join(self.path, f"part-{part:05d}.json")
        n = 0
        with open(fname, "w") as f:
            for batch in batches:
                for row in batch.to_pylist():
                    f.write(
                        json.dumps({c: row[c] for c in self.cols}) + "\n"
                    )
                    n += 1
        return _JsonCommit(fname, n)

    def commit(self, messages) -> None:
        import json
        import os

        manifest = [
            {"path": m.path, "rows": m.rows} for m in messages if m
        ]
        if self.overwrite:
            written = {m["path"] for m in manifest}
            for name in os.listdir(self.path):
                stale = os.path.join(self.path, name)
                if name.startswith("part-") and stale not in written:
                    os.remove(stale)
        with open(os.path.join(self.path, "_SUCCESS"), "w") as f:
            json.dump(manifest, f)

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m and os.path.exists(m.path):
                os.remove(m.path)


@register(
    "sink_python_ds",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def sink_python_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write through a custom Python DataSourceWriter (Spark 4):
    per-task part files + a driver-side commit manifest (two-phase
    commit — abort cleans up orphans, so a failed job never publishes
    partial output). The key writes an aggregate through the custom
    sink, re-reads the published files, and hash-verifies content —
    proving the writer path end to end, not just that files appeared."""
    from ..catalog import table as _table

    spark.dataSource.register(JsonLinesDataSource)
    out = tmpdir(prefix="etlcnc_pyds_", stable=True, key=sf_dir)
    agg = (
        _table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    # the aggregate is bounded by the o_orderpriority DOMAIN (5 rows
    # at any fact scale), but inherits shuffle.partitions — without
    # the coalesce the write stage launched 16 Python writer workers
    # for <=5 rows (measured ~1.1 s/run at sf0.01, almost all worker
    # startup).  coalesce(1) folds into the shuffle read: one writer
    # task is the right layout for a domain-bounded sink at any scale.
    # overwrite + partition-id part names: a rebuild in the same
    # process rewrites the same file with the same rows, so a lazy
    # frame from an earlier build re-reads identical data
    agg.coalesce(1).write.format("jsonlines").option("path", out).mode(
        "overwrite"
    ).save()
    return spark.read.schema(
        "o_orderpriority STRING, n LONG, cents LONG"
    ).json(f"{out}/part-*.json")
