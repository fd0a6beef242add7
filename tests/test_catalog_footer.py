"""``catalog.table`` takes each table's schema from its parquet footer,
read on the driver: the footer schema must equal the schema Spark's own
inference job returns, for every fixture table at every fixture scale,
and the ``events.ts`` branch must follow it.  The footer's row count,
which sim_auto reads instead of running ``count()``, must equal the
count a Spark job returns."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import LongType, TimestampType

from etl_cnc_spark.catalog import (
    TABLES,
    events_ts_is_long,
    footer_row_count,
    footer_schema,
    table,
)

SCALES = ("sf0.001", "sf0.01", "sf0.1")


def _scale_dir(sf_dir: str, scale: str) -> str:
    d = os.path.join(os.path.dirname(os.path.normpath(sf_dir)), scale)
    if not os.path.isdir(d):
        pytest.skip(f"no {scale} fixtures next to {sf_dir}")
    return d


@pytest.mark.parametrize("scale", SCALES)
def test_footer_schema_matches_inference(spark, sf_dir, scale):
    d = _scale_dir(sf_dir, scale)
    for name in TABLES:
        path = f"{d}/{name}.parquet"
        assert footer_schema(spark, path) == spark.read.parquet(path).schema, (
            scale,
            name,
        )


@pytest.mark.parametrize("scale", SCALES)
def test_footer_row_count_matches_count(spark, sf_dir, scale):
    d = _scale_dir(sf_dir, scale)
    for name in TABLES:
        path = f"{d}/{name}.parquet"
        assert footer_row_count(spark, path) == spark.read.parquet(path).count(), (
            scale,
            name,
        )


@pytest.mark.parametrize("scale", SCALES)
def test_events_ts_branch_follows_footer(spark, sf_dir, scale):
    d = _scale_dir(sf_dir, scale)
    path = f"{d}/events.parquet"
    inferred = spark.read.parquet(path).schema["ts"].dataType
    assert events_ts_is_long(spark, path) == isinstance(inferred, LongType)
    assert isinstance(table(spark, d, "events").schema["ts"].dataType, TimestampType)



def test_spark_written_table_directory_and_part_file(spark, tmp_path):
    """A Spark-written table: its part file carries Spark's own schema
    in the footer metadata, which ``footer_schema`` must return as the
    inference job would; the directory itself is left to Spark's
    reader, and ``table`` still resolves it."""
    sf = str(tmp_path)
    out = f"{sf}/region.parquet"
    spark.range(3).selectExpr(
        "id AS r_regionkey", "CAST(id AS STRING) AS r_name", "CAST(id AS DECIMAL(12, 2)) AS r_x"
    ).coalesce(1).write.parquet(out)
    part = next(str(p) for p in tmp_path.glob("region.parquet/part-*.parquet"))
    assert footer_schema(spark, part) == spark.read.parquet(part).schema
    assert footer_schema(spark, out) is None
    assert footer_row_count(spark, part) == 3
    assert footer_row_count(spark, out) is None
    assert sorted(r.r_regionkey for r in table(spark, sf, "region").collect()) == [0, 1, 2]
