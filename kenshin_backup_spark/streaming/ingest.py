"""Streaming ingestion — the Spark rendering of the reference daemon.

Reference pipeline (SURVEY.md §3.1): TCP line protocol → in-memory
MetricCache → writer thread flushes batched points → eager rollup
propagation. Spark mapping: ``readStream`` source → watermark (late-data
policy, §2.7 T4) → tumbling-window aggregation per retention level (T3) →
``foreachBatch`` append sink (T2/S3). The reactor/writer thread boundary
becomes the micro-batch boundary; MetricCache becomes streaming state.

Scale notes (100 TB): in production the source is Kafka partitioned by
metric key (T6 sharding ≙ Kafka partitioning); state is bounded by the
watermark horizon × per-metric window count; sinks append date-partitioned
parquet so the batch fetch path reads the same tables.
"""

from __future__ import annotations

import threading
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kenshin_backup_spark.functions.deterministic import QUANT
from kenshin_backup_spark.session import tune


def parse_graphite_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """Graphite plaintext protocol (S1): ``"<metric> <value> <ts>\\n"`` →
    typed (metric, ts, value) rows. Malformed lines are dropped (NULL after
    cast), matching the reference receiver's tolerance."""
    parts = F.split(F.col(value_col), " ")
    # F.get + try_cast: malformed lines yield NULLs (dropped below) instead
    # of failing the task under Spark 4's default ANSI mode.
    out = lines.select(
        F.get(parts, 0).alias("metric"),
        F.timestamp_seconds(F.get(parts, 2).try_cast("double")).alias("ts"),
        F.get(parts, 1).try_cast("double").alias("value"),
    )
    return out.where(
        F.col("metric").isNotNull()
        & (F.length("metric") > 0)
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )


def streaming_rollup(
    stream: DataFrame,
    *,
    key_col: str = "metric",
    ts_col: str = "ts",
    value_col: str = "value",
    step_seconds: int = 3600,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling-window rollup with the engine's composable partial state
    (same schema as operators.rollup.rollup_partials, so the batch
    ``finalize``/``cascade`` apply unchanged to streaming output).

    The watermark is the reference's late-data policy (T4): points older
    than the horizon are dropped; in-horizon updates revise the open bucket.
    """
    v = F.col(value_col)
    win = F.window(F.col(ts_col), f"{step_seconds} seconds")
    last_struct = F.max(
        F.when(
            v.isNotNull(),
            F.struct(F.unix_timestamp(ts_col).cast("long").alias("ts"), v.alias("v")),
        )
    )
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), win)
        .agg(
            F.count(v).alias("cnt"),
            F.sum(F.floor(v * QUANT).cast("long")).alias("sum_q"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            last_struct["ts"].alias("last_ts"),
            last_struct["v"].alias("last_v"),
        )
        .select(
            F.col(key_col),
            F.unix_timestamp(F.col("window.start")).cast("long").alias("bucket_ts"),
            "cnt",
            "sum_q",
            "min_v",
            "max_v",
            "last_ts",
            "last_v",
        )
    )


#: Held across every streaming start() in the package, so no query starts
#: while run_stream_to_memory has the session's no-data-batch conf off.
_START_LOCK = threading.Lock()


def start_query(writer: DataStreamWriter) -> StreamingQuery:
    """``writer.start()`` under :data:`_START_LOCK`: the query starts
    with the session's own ``noDataMicroBatches`` setting, never with
    the complete-mode flip of a concurrent :func:`run_stream_to_memory`."""
    with _START_LOCK:
        return writer.start()


def run_stream_to_memory(
    spark: SparkSession, streaming_df: DataFrame, *, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming plan to completion over bounded input and return
    the result as a batch DataFrame (memory sink + availableNow trigger).

    This is how streaming queries participate in the driver's correctness
    harness: the *same* micro-batch engine that would run unbounded runs
    here over a finite source, so state handling, watermarks, and output
    modes are genuinely exercised.
    """
    tune(spark)
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    writer = (
        streaming_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if output_mode != "complete":
        q = start_query(writer)
    else:
        # COMPLETE mode re-emits the entire aggregation state on every
        # micro-batch, so the trailing no-data batch (whose only job is
        # to advance the watermark for append-mode finalization / state
        # eviction) cannot change the final table — skip it and save
        # one full stateful batch of fixed overhead (probed r16:
        # tools/streaming_decompose.py). Spark asks for that batch in
        # complete mode only for a watermarked operator other than the
        # aggregate itself (dropDuplicates). APPEND-mode sinks NEED it
        # to close windows, and the conf is session-global, so it is off
        # only from set to start(), under the lock start_query takes. A
        # started query keeps the conf it started with (its session is
        # cloned at start; pinned in tests/test_streaming.py).
        ndb = "spark.sql.streaming.noDataMicroBatches.enabled"
        with _START_LOCK:
            prior = spark.conf.get(ndb, "true")
            spark.conf.set(ndb, "false")
            try:
                q = writer.start()
            finally:
                spark.conf.set(ndb, prior)
    q.awaitTermination()
    return spark.table(name)


#: Partial-aggregate value fields of the rollup schema; everything else in a
#: batch (key columns + bucket_ts) identifies the bucket being upserted.
_PARTIAL_FIELDS = frozenset({"cnt", "sum_q", "min_v", "max_v", "last_ts", "last_v"})


def upsert_rollup_partitions(
    batch_df: DataFrame, path: str, *, key_cols: list[str] | None = None
) -> None:
    """Merge-upsert one micro-batch of rollup partials into date-partitioned
    parquet. Update mode emits only the buckets *changed this batch*, so a
    plain dynamic-partition overwrite would delete previously flushed buckets
    sharing the same date — instead we read the touched partitions back,
    keep their un-revised buckets, and rewrite partitions with the union.

    Scale note: on a real deployment this read-merge-rewrite is what a table
    format's MERGE does natively (Delta/Iceberg); plain parquet pays a
    re-read of the touched date partitions per batch, bounded by the
    watermark horizon (only open dates are ever touched).
    """
    spark = batch_df.sparkSession
    b = batch_df.withColumn(
        "date", F.to_date(F.timestamp_seconds(F.col("bucket_ts")))
    )
    if key_cols is None:
        key_cols = [c for c in b.columns if c not in _PARTIAL_FIELDS and c != "date"]
    out_cols = b.columns
    try:
        old = spark.read.parquet(path)
    except Exception:  # first batch: nothing flushed yet
        old = None
    if old is not None:
        touched = b.select("date").distinct()
        keep = (
            old.join(F.broadcast(touched), "date")
            .join(b.select(*key_cols).distinct(), key_cols, "left_anti")
        )
        merged = b.unionByName(keep.select(*out_cols))
        # Truncate lineage: the overwrite below must not read from the very
        # partitions it rewrites (Spark rejects self-overwriting plans).
        merged = merged.localCheckpoint(eager=True)
    else:
        merged = b
    (
        merged.write.mode("overwrite")
        .partitionBy("date")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def write_rollup_sink(
    streaming_df: DataFrame, path: str, checkpoint: str,
    *, replay_each_epoch: bool = False,
):
    """Production sink (S3): foreachBatch merge-upsert into date-partitioned
    parquet in update mode — each micro-batch revises exactly the buckets it
    emitted, preserving previously flushed buckets on the same dates (see
    :func:`upsert_rollup_partitions`).

    ``replay_each_epoch=True`` applies every micro-batch TWICE — the
    harness's simulation of foreachBatch's at-least-once delivery (crash
    between write and checkpoint commit ⇒ epoch replay). The merge-upsert
    is idempotent (same keys re-upsert to the same partials), so the sink
    state must be identical either way; the oracle-faced queries run with
    this on, making exactly-once-under-replay a driver-hashed claim."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        upsert_rollup_partitions(batch_df, path)
        if replay_each_epoch:
            upsert_rollup_partitions(batch_df, path)

    return (
        streaming_df.writeStream.foreachBatch(_write)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )


# --- T6 sharding + T5 overflow protection ---------------------------------

def shard_key(col: Column | str, n_shards: int) -> Column:
    """Deterministic shard id: ``pmod(xxhash64(key), n_shards)``. The Spark
    rendering of the reference's consistent-hash relay sharding (T6): the
    same metric always lands on the same shard, shards are balanced by the
    hash, and downstream consumers can subscribe per shard directory."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(n_shards)).cast("int")


def cap_points_per_key(
    df: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str = "ts",
    max_points: int,
) -> DataFrame:
    """T5 overflow protection, the reference's MAX_CACHE_SIZE drop policy:
    keep at most ``max_points`` NEWEST points per key (ties broken on the
    value column set deterministically by the full ordering), dropping the
    overflow instead of OOM-ing the state store.

    Batch/foreachBatch operator: inside a micro-batch this bounds what one
    batch may contribute per key; the watermark bounds state across
    batches — together they cap memory exactly like the reference's
    bounded per-metric cache queue.
    """
    order = [F.desc(ts_col)] + [F.desc(c) for c in df.columns if c not in key_cols + [ts_col]]
    w = W.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= max_points)
        .drop("__rn")
    )


def bounded_file_stream(
    spark: SparkSession,
    src_dir: str,
    schema,
    *,
    max_files_per_trigger: int | None = None,
):
    """File-stream reader with source-side backpressure (T5's other half):
    ``maxFilesPerTrigger`` bounds each micro-batch's input volume so a
    backlog burst degrades into more batches instead of one giant batch
    that overflows executor memory."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(src_dir)


def write_sharded_sink(
    streaming_df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    shard_col: str = "metric",
    n_shards: int = 8,
    replay_each_epoch: bool = False,
):
    """T6 sharded append sink: watermark-CLOSED windows (append mode) land
    in ``shard=<k>/date=<d>/`` parquet directories. Sharding is computed
    per row from the metric key — a 1000-executor writer fans out with no
    coordination, and per-shard consumers tail only their directory.

    Append mode means every bucket is written exactly once, when the
    watermark closes it — no upsert/merge machinery needed (contrast
    :func:`write_rollup_sink`, the update-mode path for open buckets).

    Exactly-once under replay: foreachBatch is at-least-once, so a crash
    between the parquet write and the checkpoint commit replays the epoch.
    A plain ``mode("append")`` would then double those buckets; instead
    each epoch lands via :func:`append_sharded_partitions` — an
    epoch-keyed dynamic partition overwrite — so a replayed epoch
    rewrites exactly its own ``(shard, date, epoch)`` partitions with
    identical content (idempotent), never touching other epochs' buckets.
    """

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        append_sharded_partitions(
            batch_df, path, epoch_id, shard_col=shard_col, n_shards=n_shards
        )
        if replay_each_epoch:
            append_sharded_partitions(
                batch_df, path, epoch_id, shard_col=shard_col, n_shards=n_shards
            )

    return (
        streaming_df.writeStream.foreachBatch(_write)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
    )


def append_sharded_partitions(
    batch_df: DataFrame,
    path: str,
    epoch_id: int,
    *,
    shard_col: str = "metric",
    n_shards: int = 8,
) -> None:
    """One epoch of the sharded append sink, written idempotently.

    The epoch id is a partition column, and the write is a DYNAMIC
    partition overwrite: the only partitions replaced are the
    ``(shard, date, epoch)`` combos present in this batch — i.e. this
    epoch's own output. Replaying the same epoch (at-least-once
    foreachBatch) overwrites those partitions with the same rows instead
    of appending duplicates; earlier epochs' partitions are never listed
    in the batch, so dynamic mode leaves them untouched. This is the
    plain-parquet rendering of what a table format's idempotent
    commit-by-epoch does natively. Readers drop the bookkeeping columns
    (``shard``/``date``/``epoch``)."""
    (
        batch_df.withColumn("shard", shard_key(shard_col, n_shards))
        .withColumn("date", F.to_date(F.timestamp_seconds(F.col("bucket_ts"))))
        .withColumn("epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .partitionBy("shard", "date", "epoch")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )
