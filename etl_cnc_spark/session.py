"""SparkSession factory and runtime tuning.

SURVEY.md §4: AQE on, Arrow on. Shuffle partitions: cores/2, floored
at 8 (``max(8, cores // 2)``, so every host up to 16 cores gets 8).
A/B-measured in fresh processes on the sf0.1 bench, cores/2 beat
1x cores by ~5% (task-dispatch overhead on sub-second stages; AQE
coalescing still right-sizes larger shuffles at runtime). Smaller
parquet splits (maxPartitionBytes 8 MB) were ALSO A/B-tested and are a net loss
under cold-start conditions — more tasks pay more scheduling than
the extra scan parallelism returns; the 128 MB default stays. On a
real cluster the same knobs are sized by DATA, not cores:
shuffle.partitions ≈ shuffle bytes / 128 MB target-partition,
floored at 2x total executor cores — at 100 TB that is tens of
thousands, with AQE coalescing the light stages back down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 8


def get_spark(
    app_name: str = "etl-cnc-spark", *, master: str | None = None
) -> SparkSession:
    """Create (or reuse) a tuned local SparkSession on ``master``
    (default ``local[$SPARK_GRAFT_CPUS]``)."""
    cpus = _cpus()
    spark = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(8, cpus // 2)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .getOrCreate()
    )
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally-created session.

    The driver contract hands operators an arbitrary SparkSession
    (``__spark_entry__.py``); these confs are all runtime-settable and
    make oracle comparison deterministic (UTC timestamps) and local
    execution sane (shuffle partitions ~ cores).

    Idempotent per session and MEMOIZED on the session object (r16):
    every ``catalog.table`` call funnels through here, so an untuned
    path would pay ~8 py4j conf round trips per table reference —
    pure driver-side chatter that the bench measures as build time.
    The confs are only ever set to values derived from the session
    itself, so re-running them is a no-op by construction; skipping
    the re-run changes nothing but the py4j traffic.
    """
    if getattr(spark, "_etlcnc_tuned", False):
        return spark
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet stores ts as TIMESTAMP(NANOS).  Older Spark 4
    # refuses to read it natively and needs this conf (→ long nanos,
    # converted in catalog.table); pyspark >= 4.1.2 reads it natively
    # as TIMESTAMP_NTZ and ignores the conf.  Set it where accepted and
    # let catalog.events_ts_is_long branch on the observed schema.
    try:
        conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # pragma: no cover - conf removed in future Spark
        pass
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    try:
        par = spark.sparkContext.defaultParallelism
        conf.set("spark.sql.shuffle.partitions", str(max(8, par // 2)))
    except Exception:  # pragma: no cover - conf may be static in some envs
        pass
    spark._etlcnc_tuned = True
    return spark
