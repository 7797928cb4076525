"""Streaming queries for the driver harness (SURVEY.md §2.7).

These run REAL Structured Streaming micro-batch jobs (parquet file source →
stateful aggregation → memory sink, availableNow trigger) and return the
materialized result, so the harness verifies streaming semantics against
the same DuckDB oracle as the batch path — the batch/stream equivalence
test the reference validates operationally (§5.2.5).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import EPOCH_S_SQL, QAVG_SQL, QSUM_SQL
from kenshin_backup_spark.operators.rollup import finalize
from kenshin_backup_spark.streaming.ingest import (
    run_stream_to_memory,
    streaming_rollup,
)

_ES = EPOCH_S_SQL.format(x="ts")


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kenshin_backup_spark.session import tune

    tune(spark)  # nanosAsLong BEFORE the schema probe — the driver's
    # session has no engine confs, and a streaming query may run first.
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The file stream source requires a *directory*; the testdata is
    # read-only single files, so stage a symlink dir under /tmp.
    safe = sf_dir.strip("/").replace("/", "_")
    src_dir = f"/tmp/kenshin_stream_src/{safe}/events"
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "events.parquet")
    if not os.path.islink(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    stream = spark.readStream.schema(schema).format("parquet").load(src_dir)
    # The watermark needs a real TimestampType event-time column; the
    # testdata has shipped ts as int64-nanos, timestamp_ntz, and timestamp
    # across rounds — normalize all three (see sources.tables).
    from kenshin_backup_spark.sources.tables import normalize_event_time

    return normalize_event_time(stream)


def streaming_rollup_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling streaming rollup over the events stream, complete
    output mode — must equal the batch rollup (oracle = direct SQL)."""
    stream = _events_stream(spark, sf_dir)
    rolled = streaming_rollup(
        stream, key_col="event_type", step_seconds=3600, watermark="1 hour"
    )
    out = run_stream_to_memory(spark, rolled, output_mode="complete")
    wide = finalize(out)
    return wide.select(
        "event_type",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("cnt").cast("long").alias("n_points"),
        "sum_value",
        "avg_value",
        "min_value",
        "max_value",
        "last_value",
    )


_STREAM_ROLLUP_SQL = f"""
WITH e AS (
  SELECT event_type, value,
         CAST({_ES} AS BIGINT) AS es,
         CAST(({_ES} // 3600) * 3600 AS BIGINT) AS bucket_ts
  FROM events
),
agg AS (
  SELECT event_type, bucket_ts,
         COUNT(value) AS n_points,
         {QSUM_SQL.format(x="value")} AS sum_value,
         {QAVG_SQL.format(x="value")} AS avg_value,
         MIN(value) AS min_value,
         MAX(value) AS max_value
  FROM e GROUP BY 1, 2
),
lastv AS (
  SELECT event_type, bucket_ts, value AS last_value FROM (
    SELECT event_type, bucket_ts, value,
           ROW_NUMBER() OVER (PARTITION BY event_type, bucket_ts
                              ORDER BY es DESC, value DESC) AS rn
    FROM e WHERE value IS NOT NULL) t
  WHERE rn = 1
)
SELECT a.event_type, a.bucket_ts, a.n_points, a.sum_value, a.avg_value,
       a.min_value, a.max_value, l.last_value
FROM agg a
LEFT JOIN lastv l ON l.event_type = a.event_type AND l.bucket_ts = a.bucket_ts
"""


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (gap 30 min) over the events stream —
    the streaming-native operator the reference lacks but Spark provides
    (§2.7 T3 note). Oracle: classic lag/cumsum sessionization in SQL.

    Event times are truncated to whole seconds first so the gap comparison
    is integer-exact in both engines. Spark's session windows are INCLUSIVE
    at the gap boundary (an event exactly 30 min after the previous one
    EXTENDS the session — verified empirically at sf0.1 where a boundary
    pair exists), mirrored as ``> 1800`` in the oracle's new-session flag."""
    stream = _events_stream(spark, sf_dir).withColumn(
        "ts", F.date_trunc("second", F.col("ts"))
    )
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.col("user_id"), F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("sum_q"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.unix_timestamp("session_window.start").cast("long").alias("session_start_ts"),
            F.col("n_events").cast("long").alias("n_events"),
            (F.col("sum_q") / F.lit(1000000.0)).cast("double").alias("sum_value"),
        )
    )
    return run_stream_to_memory(spark, sess, output_mode="complete")


_SESSION_SQL = f"""
WITH e AS (
  SELECT user_id, value, CAST({_ES} AS BIGINT) AS es
  FROM events
),
flagged AS (
  SELECT user_id, value, es,
         CASE WHEN es - LAG(es) OVER (PARTITION BY user_id ORDER BY es) > 1800
              OR LAG(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM e
),
sessions AS (
  SELECT user_id, value, es,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY es
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(es) AS session_start_ts,
       COUNT(*) AS n_events,
       {QSUM_SQL.format(x="value")} AS sum_value
FROM sessions GROUP BY user_id, sid
"""


_EWMA_ALPHA = 0.3


def streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-metric EWMA.
    The per-row running values carry float ACCUMULATION (each step feeds
    the next multiply-add), so this per-row emission stays rows-only; the
    terminal fold state is oracle-checked by
    :func:`streaming_ewma_final`."""
    from kenshin_backup_spark.streaming.stateful import ewma_stream

    stream = _events_stream(spark, sf_dir).withColumnRenamed("event_type", "metric")
    out = run_stream_to_memory(
        spark, ewma_stream(stream, alpha=_EWMA_ALPHA), output_mode="append"
    )
    return out


def streaming_ewma_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Terminal EWMA state per metric, ORACLE-CHECKED: the stateful fold
    runs in total (es, event_id) order with plain IEEE multiply-adds, so
    the final state per key is exactly a seeded left fold over the ordered
    values — which DuckDB reproduces bit-for-bit with ``list_reduce`` over
    ``list(value ORDER BY es, event_id)``. This pins the stateful
    operator's cross-batch state handling (not just row plumbing) to an
    exact oracle — rare for a float recurrence."""
    from kenshin_backup_spark.streaming.stateful import ewma_stream

    stream = _events_stream(spark, sf_dir).withColumnRenamed("event_type", "metric")
    out = run_stream_to_memory(
        spark, ewma_stream(stream, alpha=_EWMA_ALPHA), output_mode="append"
    )
    last = F.max(F.struct(F.col("es"), F.col("event_id"), F.col("ewma")))
    return out.groupBy("metric").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.max("es").cast("long").alias("last_es"),
        last["ewma"].cast("double").alias("ewma_final"),
    )


def streaming_counter_resets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: monotonic-counter derivative with reset
    detection. Rows fold in total (es, event_id) order and each output is
    one float subtraction + an integer running count (no accumulation), so
    — like :func:`streaming_drawdown` — this stateful query has a FULL SQL
    oracle: ``value - lag(value)`` with the reset rule, and a running
    ``sum(is_drop)``, over the same order."""
    from kenshin_backup_spark.streaming.stateful import counter_reset_stream

    stream = _events_stream(spark, sf_dir).withColumnRenamed("event_type", "metric")
    out = run_stream_to_memory(spark, counter_reset_stream(stream), output_mode="append")
    return out.select(
        "metric",
        F.col("es").cast("long").alias("es"),
        F.col("event_id").cast("long").alias("event_id"),
        "value",
        "delta",
        F.col("resets").cast("long").alias("resets"),
    )


def streaming_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-metric running peak / drawdown as a CUSTOM STATEFUL streaming
    operator (applyInPandasWithState). Unlike the EWMA/counter-reset
    recurrences, running max has no float accumulation, so this stateful
    query is EXACTLY the batch window ``max() OVER (ORDER BY es,
    event_id)`` — the rare arbitrary-state operator with a full oracle."""
    from kenshin_backup_spark.streaming.stateful import drawdown_stream

    stream = _events_stream(spark, sf_dir).withColumnRenamed("event_type", "metric")
    out = run_stream_to_memory(
        spark, drawdown_stream(stream), output_mode="append"
    )
    return out.select(
        "metric",
        F.col("es").cast("long").alias("es"),
        F.col("event_id").cast("long").alias("event_id"),
        "value",
        "peak",
        "drawdown",
    )


_DRAWDOWN_SQL = f"""
WITH e AS (
  SELECT event_type AS metric, event_id, value,
         CAST({_ES} AS BIGINT) AS es
  FROM events
)
SELECT metric, es, event_id, value,
       MAX(value) OVER (PARTITION BY metric ORDER BY es, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak,
       MAX(value) OVER (PARTITION BY metric ORDER BY es, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - value
         AS drawdown
FROM e
"""


#: repr() round-trips the exact doubles the pandas fold multiplies by, so
#: the DuckDB lambda performs the IDENTICAL IEEE ops in the same order.
_EWMA_FINAL_SQL = f"""
WITH e AS (
  SELECT event_type AS metric, event_id, value,
         CAST({_ES} AS BIGINT) AS es
  FROM events
),
ordered AS (
  SELECT metric,
         list(value ORDER BY es, event_id) AS vals,
         COUNT(*) AS n_points,
         MAX(es) AS last_es
  FROM e GROUP BY metric
)
SELECT metric,
       CAST(n_points AS BIGINT) AS n_points,
       last_es,
       CAST(list_reduce(vals,
              (acc, x) -> {_EWMA_ALPHA!r} * x + {1 - _EWMA_ALPHA!r} * acc)
            AS DOUBLE) AS ewma_final
FROM ordered
"""


_RESETS_SQL = f"""
WITH e AS (
  SELECT event_type AS metric, event_id, value,
         CAST({_ES} AS BIGINT) AS es
  FROM events
),
lagged AS (
  SELECT metric, es, event_id, value,
         LAG(value) OVER (PARTITION BY metric ORDER BY es, event_id) AS prev
  FROM e
)
SELECT metric, es, event_id, value,
       CASE WHEN prev IS NULL THEN NULL
            WHEN value >= prev THEN value - prev
            ELSE value END AS delta,
       CAST(SUM(CASE WHEN prev IS NOT NULL AND value < prev THEN 1 ELSE 0 END)
              OVER (PARTITION BY metric ORDER BY es, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS resets
FROM lagged
"""


def streaming_sharded_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 sharding + T5 backpressure end-to-end: the events stream rolls up
    in APPEND mode (only watermark-closed 1h buckets are emitted, each
    exactly once) through the sharded sink — rows land in
    ``shard=<pmod(xxhash64(key),4)>/date=<d>/`` parquet — then the sink is
    read back and finalized.

    The oracle is the batch rollup restricted to closed windows
    (bucket end <= max event time - 1h, the availableNow final watermark),
    so append-emission timing, the shard/date partitioning roundtrip, and
    the rollup math are all hash-checked.
    """
    import shutil

    from kenshin_backup_spark.streaming.ingest import start_query, write_sharded_sink

    stream = _events_stream(spark, sf_dir)
    rolled = streaming_rollup(
        stream, key_col="event_type", step_seconds=3600, watermark="1 hour"
    )
    safe = sf_dir.strip("/").replace("/", "_")
    path = f"/tmp/kenshin_sink/{safe}/sharded_rollup"
    chk = f"/tmp/kenshin_sink/{safe}/sharded_rollup_chk"
    # append sink: re-running must not double rows -> clean slate each call
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(chk, ignore_errors=True)
    # replay_each_epoch: each epoch lands twice (at-least-once replay
    # simulation); the epoch-keyed dynamic partition overwrite makes the
    # second application rewrite the same partitions, so the oracle hash
    # certifies the append sink is exactly-once under replay.
    q = start_query(
        write_sharded_sink(
            rolled, path, chk, shard_col="event_type", n_shards=4,
            replay_each_epoch=True,
        )
        .trigger(availableNow=True)
    )
    q.awaitTermination()
    back = spark.read.parquet(path).drop("shard", "date", "epoch")
    wide = finalize(back)
    return wide.select(
        "event_type",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("cnt").cast("long").alias("n_points"),
        "sum_value",
        "avg_value",
        "min_value",
        "max_value",
        "last_value",
    )


_SHARDED_SQL = f"""
WITH e AS (
  SELECT event_type, value,
         CAST({_ES} AS BIGINT) AS es,
         CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ems,
         CAST(({_ES} // 3600) * 3600 AS BIGINT) AS bucket_ts
  FROM events
),
closed AS (
  SELECT * FROM e
  WHERE (bucket_ts + 3600) * 1000 <= (SELECT MAX(ems) FROM e) - 3600000
),
agg AS (
  SELECT event_type, bucket_ts,
         COUNT(value) AS n_points,
         {{QSUM}} AS sum_value,
         {{QAVG}} AS avg_value,
         MIN(value) AS min_value,
         MAX(value) AS max_value
  FROM closed GROUP BY 1, 2
),
lastv AS (
  SELECT event_type, bucket_ts, value AS last_value FROM (
    SELECT event_type, bucket_ts, value,
           ROW_NUMBER() OVER (PARTITION BY event_type, bucket_ts
                              ORDER BY es DESC, value DESC) AS rn
    FROM closed WHERE value IS NOT NULL) t
  WHERE rn = 1
)
SELECT a.event_type, a.bucket_ts, a.n_points, a.sum_value, a.avg_value,
       a.min_value, a.max_value, l.last_value
FROM agg a
LEFT JOIN lastv l ON l.event_type = a.event_type AND l.bucket_ts = a.bucket_ts
""".replace("{QSUM}", QSUM_SQL.format(x="value")).replace(
    "{QAVG}", QAVG_SQL.format(x="value")
)


QUERIES = {
    "streaming_rollup_1h": streaming_rollup_1h,
    "streaming_session_windows": streaming_session_windows,
    "streaming_ewma": streaming_ewma,
    "streaming_ewma_final": streaming_ewma_final,
    "streaming_counter_resets": streaming_counter_resets,
    "streaming_sharded_rollup": streaming_sharded_rollup,
    "streaming_drawdown": streaming_drawdown,
}

ORACLE = {
    "streaming_rollup_1h": _STREAM_ROLLUP_SQL,
    "streaming_session_windows": _SESSION_SQL,
    "streaming_sharded_rollup": _SHARDED_SQL,
    # streaming_ewma: per-row float accumulation → rows-only; but its
    # TERMINAL fold state is exact (streaming_ewma_final via list_reduce).
    # streaming_drawdown / streaming_counter_resets: running max / single
    # lag-subtraction + integer count have NO accumulation → exact oracles.
    "streaming_ewma_final": _EWMA_FINAL_SQL,
    "streaming_drawdown": _DRAWDOWN_SQL,
    "streaming_counter_resets": _RESETS_SQL,
}
