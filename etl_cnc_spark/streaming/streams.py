"""Real Structured Streaming runs (SURVEY.md §2.9).

Each query here actually executes a streaming pipeline —
``readStream`` → transform → ``writeStream`` with
``trigger(availableNow=True)`` and a fresh checkpoint — then returns
the sink contents as a batch DataFrame for the driver's comparison.

Empirically verified semantics these oracles rely on (probed on
Spark 4.1.2):
- availableNow + watermark DOES flush closed windows at end-of-
  stream: emitted set == {windows with end <= max(ts) - delay}.
- A single parquet file yields a single micro-batch, so stateful
  update-mode output has exactly one row per key.
- FileStreamSource with maxFilesPerTrigger=1 processes files in
  modification-time order (we set mtimes explicitly).

At scale the same code runs against a directory/Kafka source with a
real trigger; availableNow is the batch-replay harness (SURVEY §5).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType

from ..catalog import events_ts_is_long, table
from ..registry import register
from ..utils import tmpdir
from ..session import tune

EVENTS_RAW_SCHEMA = (
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"
)
EVENTS_NTZ_SCHEMA = (
    "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _stage_events_dir(sf_dir: str) -> str:
    """File-stream sources need a directory: symlink the events
    fixture into a fresh temp dir (no data copy)."""
    d = tmpdir(prefix="etlcnc_stream_src_")
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(d, "events.parquet"))
    return d


def _read_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Stream the staged events fixture.  readStream needs a
    user-supplied schema, so sniff how this runtime surfaces the
    TIMESTAMP(NANOS) column via a batch footer read first
    (catalog.events_ts_is_long) and declare the matching schema —
    forcing ``ts LONG`` on a runtime that reads nanos natively would
    silently coerce to µs and double-divide."""
    tune(spark)
    if events_ts_is_long(spark, os.path.join(src_dir, "events.parquet")):
        return (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .parquet(src_dir)
            .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        )
    return (
        spark.readStream.schema(EVENTS_NTZ_SCHEMA)
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )


def _drain(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer`` as one availableNow run and wait until it has
    drained its source; a run still going after 600 s is stopped."""
    q = writer.trigger(availableNow=True).start()
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError("streaming query did not drain in 600s")
    return q


def _run_to_parquet(df: DataFrame, output_mode: str = "append") -> str:
    """Execute a streaming DataFrame to a parquet sink; returns path."""
    out = tmpdir(prefix="etlcnc_stream_out_")
    ck = tmpdir(prefix="etlcnc_stream_ck_")
    _drain(
        df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
    )
    return out


@register(
    "source_stream_files",
    oracle="""
    SELECT event_id, user_id, event_type, value, props, epoch_us(ts) AS ts_us
    FROM events
    """,
)
def source_stream_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming file source, identity pipeline: every event flows
    through a real micro-batch execution into a parquet sink; the
    oracle verifies lossless content."""
    src = _stage_events_dir(sf_dir)
    s = _read_stream(spark, src).select(
        "event_id", "user_id", "event_type", "value", "props",
        F.unix_micros("ts").alias("ts_us"),
    )
    out = _run_to_parquet(s)
    return spark.read.parquet(out)


@register(
    "sink_stream",
    oracle="""
    SELECT epoch_us(w) AS window_start_us, event_type, n
    FROM (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    )
    WHERE w + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def sink_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling aggregate → append-mode parquet sink.
    Emitted set is exactly the windows closed by the final watermark
    (end <= max_ts - 1h) — the oracle states that in SQL."""
    src = _stage_events_dir(sf_dir)
    agg = (
        _read_stream(spark, src)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_parquet(agg)
    return spark.read.parquet(out).select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "event_type",
        "n",
    )


@register(
    "stream_watermark",
    oracle="""
    SELECT epoch_us(w) AS window_start_us, n
    FROM (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w, count(*) AS n
        FROM events WHERE day(ts) <> 5 GROUP BY 1
    )
    WHERE w + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data drop, made observable: the stream sees
    three single-file micro-batches in mtime order — (1) all events
    except days 5/6 (carries max ts → sets the watermark), (2) day-6
    events (buffer batch: the watermark computed from batch 1 becomes
    *effective* one batch later — verified empirically on 4.1.2),
    (3) the day-5 events arriving 'late'. Every day-5 row is behind
    the effective watermark and is dropped; no day-5 window ever
    appears. The oracle encodes exactly that."""
    tune(spark)
    import glob
    import shutil

    src = tmpdir(prefix="etlcnc_late_src_")
    ev = table(spark, sf_dir, "events")
    slices = {
        "f1_bulk": ev.where(~F.dayofmonth("ts").isin(5, 6)),
        "f2_buffer": ev.where(F.dayofmonth("ts") == 6),
        "f3_late": ev.where(F.dayofmonth("ts") == 5),
    }
    t0 = 1_700_000_000
    for i, (name, df) in enumerate(slices.items()):
        # Write ts as an EXPLICIT long (µs*1000 nanos) so the declared
        # EVENTS_RAW_SCHEMA (ts LONG) is valid on every runtime era —
        # NTZ-era Sparks would otherwise surface a timestamp column.
        tmp = os.path.join(src, "_tmp")
        df.withColumn("ts", F.unix_micros("ts") * 1000).coalesce(1).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*")[0]
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (t0 + i * 100, t0 + i * 100))

    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("n"))
    )
    out = _run_to_parquet(agg)
    return spark.read.parquet(out).select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"), "n"
    )


_STATE_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_cents", LongType()),
    ]
)
_STATE = StructType([StructField("n", LongType()), StructField("c", LongType())])


def _per_user_totals(key, pdfs, state):
    """Arbitrary stateful logic: exact running count + integer-cent
    sum per user, kept in the state store across micro-batches."""
    import numpy as np
    import pandas as pd

    n, c = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # np.floor (not int-cast truncation) so negative values agree
        # with cents()/the oracle's floor() discipline
        c += int(np.floor(pdf["value"] * 100 + 0.5).astype("int64").sum())
    state.update((n, c))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_cents": [c]})


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming (applyInPandasWithState): per-user
    running totals in the state store, update-mode output. The
    fixture is one file → one micro-batch → final state per user ==
    the batch aggregate, which is the oracle."""
    src = _stage_events_dir(sf_dir)
    s = _read_stream(spark, src)
    res = s.groupBy("user_id").applyInPandasWithState(
        _per_user_totals, _STATE_OUT, _STATE, "update", "NoTimeout"
    )
    name = "etlcnc_stateful_" + uuid.uuid4().hex[:8]
    _drain(
        res.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
    )
    return spark.table(name)


def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 state-API variant of ``stream_stateful``:
    ``transformWithStateInPandas`` with a ``StatefulProcessor`` and a
    ValueState holding the same (n, cents) per-user totals — the
    modern replacement for applyInPandasWithState (typed state
    variables, timers, TTL, schema evolution).

    ENVIRONMENT-GATED, not registered as a coverage key: TWS's Python
    state-server protocol imports ``google.protobuf``, which is not
    installed here and cannot be (no package installs; PyPI probe
    2026-08-13: ``pip download protobuf`` → DNS failure
    'Name or service not known'). Verified end-to-end that the rest
    of the stack is present (RocksDB state provider jar is bundled;
    the query plans and starts, then the TWS driver worker dies on
    exactly that ImportError — see tests/test_streaming.py gate
    test). On a cluster with protobuf installed this function runs
    as-is and its final state equals the stream_stateful oracle."""
    try:
        import google.protobuf  # noqa: F401  (TWS runner dependency)
    except ImportError as exc:
        raise NotImplementedError(
            "transformWithStateInPandas needs the 'protobuf' package "
            "for its Python state-server protocol; install protobuf "
            "on driver+executors (pip install protobuf) and re-run"
        ) from exc

    import numpy as _np
    import pandas as _pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class _PerUserTotals(StatefulProcessor):
        def init(self, handle) -> None:
            self._state = handle.getValueState("totals", "n LONG, c LONG")

        def handleInputRows(self, key, rows, timerValues):
            n, c = self._state.get() if self._state.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                c += int(
                    _np.floor(pdf["value"] * 100 + 0.5).astype("int64").sum()
                )
            self._state.update((n, c))
            yield _pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "sum_cents": [c]}
            )

        def close(self) -> None:
            pass

    src = _stage_events_dir(sf_dir)
    spark.conf.set(  # TWS supports only the RocksDB state provider
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    res = (
        _read_stream(spark, src)
        .groupBy("user_id")
        .transformWithStateInPandas(
            _PerUserTotals(),
            "user_id LONG, n_events LONG, sum_cents LONG",
            "Update",
            "None",
        )
    )
    name = "etlcnc_tws_" + uuid.uuid4().hex[:8]
    _drain(
        res.writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
    )
    return spark.table(name)


@register(
    "stream_foreach_batch",
    oracle="""
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users
    FROM events GROUP BY event_type
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch lands via arbitrary batch
    logic (here: append to parquet with the batch id stamped) — the
    escape hatch for sinks Structured Streaming lacks natively
    (JDBC upserts, MERGE targets). Checkpointed batch ids give
    exactly-once replay, which the oracle verifies: the re-read sink
    must aggregate to exactly the batch answer."""
    src = _stage_events_dir(sf_dir)
    out = tmpdir(prefix="etlcnc_stream_fb_")
    ck = tmpdir(prefix="etlcnc_stream_fbck_")

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(out)

    _drain(
        _read_stream(spark, src)
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", ck)
    )
    sunk = spark.read.parquet(out)
    return sunk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("users"),
    )


@register(
    "stream_kafka_wire",
    oracle="""
    SELECT epoch_us(w) AS window_start_us, CAST(partition AS INT) AS partition,
           n, purchases
    FROM (
        SELECT time_bucket(INTERVAL 1 DAY, ts) AS w,
               user_id % 8 AS partition, count(*) AS n,
               CAST(count_if(event_type = 'purchase') AS BIGINT) AS purchases
        FROM events GROUP BY 1, 2
    )
    WHERE w + INTERVAL 1 DAY <= (SELECT max(ts) - INTERVAL 1 DAY FROM events)
    """,
)
def stream_kafka_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Kafka-shaped streaming pipeline without a broker:
    producer-side serialization to the connector's wire schema
    (binary key/value JSON), then the consumer path — binary decode,
    1-day watermark, tumbling-window × partition bookkeeping — run
    through a real micro-batch execution into an append sink.

    Against a live cluster only the first line changes
    (`readStream.format("kafka")`, see sources/kafka.py); the decode,
    watermark, and stateful aggregation below are byte-identical.
    The oracle states the closed-window set in SQL."""
    from ..sources.kafka import _VALUE_SCHEMA, N_PARTITIONS

    src = _stage_events_dir(sf_dir)
    raw = _read_stream(spark, src)
    wire = raw.select(
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct("event_id", "event_type", "user_id"))
        .cast("binary")
        .alias("value"),
        (F.col("user_id") % N_PARTITIONS).cast("int").alias("partition"),
        F.col("ts").alias("timestamp"),
    )
    decoded = wire.select(
        "partition",
        "timestamp",
        F.from_json(F.col("value").cast("string"), _VALUE_SCHEMA).alias("v"),
    )
    agg = (
        decoded.withWatermark("timestamp", "1 day")
        .groupBy(F.window("timestamp", "1 day"), "partition")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("v.event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("purchases"),
        )
    )
    out = _run_to_parquet(agg)
    return spark.read.parquet(out).select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "partition",
        "n",
        "purchases",
    )


@register(
    "stream_stream_join",
    oracle="""
    WITH v AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'view'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    wm AS (
        SELECT least((SELECT max(ts) FROM v), (SELECT max(ts) FROM p))
               - INTERVAL 1 HOUR AS w
    ),
    matched AS (
        SELECT v.event_id, v.user_id, epoch_us(v.ts) AS view_us,
               epoch_us(p.ts) AS purchase_us
        FROM v JOIN p ON v.user_id = p.user_id
                     AND p.ts >= v.ts
                     AND p.ts <= v.ts + INTERVAL 1 HOUR
    ),
    unmatched AS (
        SELECT v.event_id, v.user_id, epoch_us(v.ts) AS view_us,
               CAST(NULL AS BIGINT) AS purchase_us
        FROM v, wm
        WHERE NOT EXISTS (
            SELECT 1 FROM p WHERE p.user_id = v.user_id
              AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
          AND v.ts + INTERVAL 1 HOUR < wm.w
    )
    SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    notes="left-outer stream-stream join; the oracle states Spark's "
    "state-eviction rule: null-extended rows emit only for views "
    "whose join window fell below the final global watermark "
    "(min of both streams' max ts, minus the 1h delay).",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM left-outer join with event-time range condition
    and watermarked state on both sides: views join purchases by the
    same user within [view_ts, view_ts + 1h]; matches emit as they
    arrive, and a view with no purchase emits null-extended ONLY
    once the global watermark proves no future purchase can match —
    the buffered-state semantics that distinguish stream-stream from
    stream-static joins. State per side is bounded by the watermark
    horizon (1h of events per user), which is what makes an
    unbounded two-stream join feasible at all.

    Run via availableNow replay; the drained output is deterministic
    and the oracle reproduces both the match set AND the eviction
    cutoff relationally."""
    src = _stage_events_dir(sf_dir)
    raw = _read_stream(spark, src)
    views = (
        raw.where(F.col("event_type") == "view")
        .select("event_id", "user_id", F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        raw.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    )
    out = _run_to_parquet(
        joined.select(
            "event_id",
            "user_id",
            F.unix_micros("v_ts").alias("view_us"),
            F.unix_micros("p_ts").alias("purchase_us"),
        )
    )
    return spark.read.parquet(out)


@register(
    "stream_upsert_snapshot",
    oracle="""
    WITH latest AS (
        SELECT user_id, event_type, value, ts,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0 AS total_value
    FROM latest WHERE rn = 1 GROUP BY event_type
    """,
)
def stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE/upsert via foreachBatch — the CDC-apply
    pattern: each micro-batch is merged into a latest-state-per-key
    snapshot (read current target, union the batch, keep the max
    (ts, event_id) row per user, swap directories crash-safely:
    old aside, new in, then delete). The
    source is staged as 4 hash-partitioned files consumed
    maxFilesPerTrigger=1, so the merge really runs 4 times
    incrementally; the oracle computes latest-per-user over the
    WHOLE table in one shot — the hash match proves the incremental
    merge converges to the batch answer regardless of batch order
    (keep-max is commutative/associative over batches).

    At scale the swap step is what Delta/Iceberg MERGE does with
    metadata instead of directory renames; the per-batch cost is
    |target| + |batch|, the reason real systems partition the target
    and prune untouched partitions."""
    import shutil

    tune(spark)
    src = tmpdir(prefix="etlcnc_upsert_src_")
    (
        table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
        .repartition(4, "user_id")
        .write.mode("overwrite")
        .parquet(src)
    )
    tgt = tmpdir(prefix="etlcnc_upsert_tgt_")
    shutil.rmtree(tgt)  # foreachBatch creates it on first merge
    ck = tmpdir(prefix="etlcnc_upsert_ck_")

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window as W

        batch = batch_df.select(
            "event_id", "user_id", "event_type", "value", "ts"
        )
        if os.path.isdir(tgt):
            merged = batch.sparkSession.read.parquet(tgt).unionByName(batch)
        else:
            merged = batch
        w = W.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        nxt = tgt + f"_b{batch_id}"
        latest.write.mode("overwrite").parquet(nxt)
        # crash-safe swap: move the OLD state aside first, then bring
        # the new state in, then drop the old — a failure between any
        # two steps leaves a complete state dir recoverable on disk
        # (rmtree-before-rename would lose everything if the driver
        # died in between)
        old = tgt + "_old"
        # idempotent across crash recovery: a prior batch that died
        # between the two renames leaves a stale _old dir, and
        # os.rename onto a non-empty dir raises on POSIX — clear it
        # first so the next batch recovers instead of wedging
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(tgt):
            os.rename(tgt, old)
        os.rename(nxt, tgt)
        shutil.rmtree(old, ignore_errors=True)

    _drain(
        spark.readStream.schema(
            "event_id LONG, user_id LONG, event_type STRING, "
            "value DOUBLE, ts TIMESTAMP"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(_merge)
        .option("checkpointLocation", ck)
    )
    snap = spark.read.parquet(tgt)
    return snap.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_users"),
        (
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).cast("double")
            / F.lit(100.0)
        ).alias("total_value"),
    )


RATE_ROWS = 5000  # one deterministic micro-batch from the rate source


@register(
    "stream_rate_source",
    oracle=f"""
    SELECT CAST(range % 7 AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum((range * range) % 10000) AS BIGINT) AS amount,
           CAST(min((range * 137) % 86400000) AS BIGINT) AS t_min,
           CAST(max((range * 137) % 86400000) AS BIGINT) AS t_max
    FROM range({RATE_ROWS})
    GROUP BY 1
    """,
)
def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `rate-micro-batch` synthetic source — Spark's built-in
    deterministic load generator (the tool for throughput/soak
    testing a streaming topology before pointing it at a real bus):
    one availableNow-triggered micro-batch of {RATE_ROWS} rows flows
    through a value-derived transform (synthetic key, amount, and
    intra-day timestamp, all exact integer arithmetic) into a
    parquet sink, and the read-back per-key rollup must equal the
    closed-form answer on range({RATE_ROWS}). Deterministic by
    construction: fixed startTimestamp, fixed rowsPerBatch, integer
    transforms — no wall clock anywhere. Scale shape: the source
    parallelizes across numPartitions; everything downstream is a
    hash aggregate with map-side combine."""
    s = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", RATE_ROWS)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 1000)
        .load()
    )
    v = F.col("value")
    shaped = s.select(
        (v % 7).alias("k"),
        ((v * v) % 10000).alias("amt"),
        ((v * 137) % 86400000).alias("t"),
    )
    out = _run_to_parquet(shaped)
    return (
        spark.read.parquet(out)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amt").cast("long").alias("amount"),
            F.min("t").cast("long").alias("t_min"),
            F.max("t").cast("long").alias("t_max"),
        )
    )


@register(
    "stream_late_metrics",
    oracle="""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_input,
           (SELECT CAST(count(*) AS BIGINT) FROM events
            WHERE day(ts) = 5) AS n_dropped,
           (SELECT CAST(count(*) AS BIGINT) FROM events
            WHERE day(ts) <> 5) AS n_kept
    """,
)
def stream_late_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability for late data: the SAME 3-micro-batch
    orchestration as stream_watermark (bulk → buffer → late day-5
    file), but the RESULT is the operational metrics a production
    monitor alerts on — total rows ingested, rows dropped by the
    watermark (from StreamingQueryProgress
    stateOperators.numRowsDroppedByWatermark, summed across
    batches), and rows kept past the watermarked dedup. The state
    operator here is streaming dropDuplicates, which sees RAW rows
    (a windowed aggregate would pre-combine map-side, making the
    drop counter count partial rows, not events — measured: 24 vs
    353 on the fixture). Each is hash-verified
    against its relational restatement, proving the engine's own
    telemetry is exact, not approximate — the property that lets an
    SLO dashboard trust numRowsDroppedByWatermark at 100 TB instead
    of re-counting."""
    tune(spark)
    import glob
    import shutil

    src = tmpdir(prefix="etlcnc_latemetrics_src_")
    ev = table(spark, sf_dir, "events")
    slices = {
        "f1_bulk": ev.where(~F.dayofmonth("ts").isin(5, 6)),
        "f2_buffer": ev.where(F.dayofmonth("ts") == 6),
        "f3_late": ev.where(F.dayofmonth("ts") == 5),
    }
    t0 = 1_700_000_000
    for i, (name, df) in enumerate(slices.items()):
        tmp = os.path.join(src, "_tmp")
        df.withColumn("ts", F.unix_micros("ts") * 1000).coalesce(
            1
        ).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*")[0]
        dst = os.path.join(src, f"{name}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (t0 + i * 100, t0 + i * 100))

    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicates(
        ["event_id", "ts"]
    )
    out = tmpdir(prefix="etlcnc_latemetrics_out_")
    ck = tmpdir(prefix="etlcnc_latemetrics_ck_")
    q = _drain(
        deduped.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
    )
    n_input = 0
    n_dropped = 0
    for p in q.recentProgress:
        n_input += int(p["numInputRows"])
        for op in p.get("stateOperators", []):
            n_dropped += int(op.get("numRowsDroppedByWatermark", 0))
    n_kept = spark.read.parquet(out).count()
    return spark.createDataFrame(
        [(n_input, n_dropped, n_kept)],
        "n_input long, n_dropped long, n_kept long",
    )


@register(
    "stream_incremental_exactly_once",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
    FROM events
    """,
)
def stream_incremental_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exactly-once incremental ingestion across RESTARTS — the core
    streaming guarantee: run 1 (availableNow) drains the first half
    of the corpus into a parquet sink and commits its file offsets
    to the checkpoint; a new file then lands; run 2 with the SAME
    checkpoint processes ONLY the new file (no reprocessing, no
    loss). The oracle states the guarantee relationally: after both
    runs the sink equals the full corpus exactly once — any
    double-processing doubles event_ids and breaks the hash, any
    missed file drops rows. This is the high-water-mark pattern a
    100 TB ingest pipeline relies on instead of bookkeeping tables."""
    tune(spark)
    import glob
    import shutil

    src = tmpdir(prefix="etlcnc_incr_src_")
    hold = tmpdir(prefix="etlcnc_incr_hold_")  # outside the source glob
    ev = table(spark, sf_dir, "events")
    halves = {
        "h1": ev.where(F.dayofmonth("ts") <= 15),
        "h2": ev.where(F.dayofmonth("ts") > 15),
    }
    staged = {}
    for name, df in halves.items():
        tmp = os.path.join(hold, "_tmp")
        df.withColumn("ts", F.unix_micros("ts") * 1000).coalesce(
            1
        ).write.parquet(tmp)
        part = glob.glob(tmp + "/part-*")[0]
        held = os.path.join(hold, f"{name}.parquet")
        shutil.move(part, held)
        shutil.rmtree(tmp)
        staged[name] = (held, os.path.join(src, f"{name}.parquet"))
    out = tmpdir(prefix="etlcnc_incr_out_")
    ck = tmpdir(prefix="etlcnc_incr_ck_")

    def _run() -> None:
        s = (
            spark.readStream.schema(EVENTS_RAW_SCHEMA)
            .parquet(src)
            .select(
                "event_id",
                "user_id",
                "event_type",
                F.floor(F.col("value") * 100 + 0.5)
                .cast("long")
                .alias("v_cents"),
            )
        )
        _drain(
            s.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
        )

    # run 1: only h1 visible
    shutil.move(*staged["h1"])
    _run()
    # a new file lands; run 2 with the SAME checkpoint picks up ONLY it
    shutil.move(*staged["h2"])
    _run()
    return spark.read.parquet(out)


@register(
    "stream_static_join",
    oracle="""
    SELECT epoch_us(w) AS window_start_us, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value*100 + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_cents
    FROM (
        SELECT date_trunc('day', e.ts) AS w, c.c_mktsegment, e.value
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
    )
    GROUP BY w, c_mktsegment
    HAVING w + INTERVAL 1 DAY <= (SELECT max(ts) FROM events)
                                  - INTERVAL 1 HOUR
    """,
    notes="stream-static enrichment join; the oracle states the "
    "append-mode emission rule: only day windows fully below the "
    "final watermark (max ts - 1h) flush at end-of-stream.",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the most common production
    streaming pattern: a streaming fact (events) joined to a static
    dimension (customer segment) with NO state on the static side
    (Spark re-broadcasts the dim per micro-batch; no watermark needed
    for the join itself), then a watermarked per-day windowed rollup
    per segment.  Run via availableNow replay; append mode emits the
    day windows that closed below the final watermark.

    Scale shape: the streaming side never shuffles for the join when
    the dim broadcasts (dimension-sized here); the only stateful
    operator is the windowed aggregate, whose state is bounded by
    (segments x open windows)."""
    tune(spark)
    src = tmpdir(prefix="etlcnc_ssj_src_")
    ev = table(spark, sf_dir, "events")
    ev.select(
        "event_id",
        (F.unix_micros("ts") * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).coalesce(1).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .parquet(src)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = stream.withWatermark("ts", "1 hour").join(dim, "user_id")
    agg = joined.groupBy(
        F.window("ts", "1 day"), F.col("c_mktsegment")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("sum_cents"),
    )
    out = _run_to_parquet(agg)
    return spark.read.parquet(out).select(
        F.unix_micros(F.col("window.start")).alias("window_start_us"),
        "c_mktsegment",
        "n",
        "sum_cents",
    )
