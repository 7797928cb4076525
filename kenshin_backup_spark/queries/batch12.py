"""Batch-12 queries: graphite asPercent, streaming slot dedup, irate,
dense cross-join grids, SCD2 interval builds, bitwise scalars, array HOFs,
and max-deviation render downsampling.

All follow the determinism contract: quantized sums, epoch-second BIGINTs,
explicit (ts, event_id) tie-break ordering, struct-argmax with full
tie-break chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import (
    EPOCH_S_SQL,
    QSUM_SQL,
    qfloor_sql,
    qsum,
)
from kenshin_backup_spark.sources import load_table

_ES = EPOCH_S_SQL.format(x="ts")


# --- graphite asPercent ----------------------------------------------------

def graphite_aspercent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-metric sums rendered as share-of-total per bucket —
    graphite's asPercent() over the rollup frame."""
    from kenshin_backup_spark.operators.rollup import finalize, rollup_partials
    from kenshin_backup_spark.operators.seriesfns import as_percent

    ev = load_table(spark, sf_dir, "events").withColumnRenamed("event_type", "metric")
    hourly = finalize(
        rollup_partials(ev, key_cols=["metric"], step_seconds=3600), agg="sum"
    ).select("metric", "bucket_ts", "value")
    # as_percent returns the canonical frame (value = percent share,
    # round-5 composability fix) — alias it to the pct output column
    return as_percent(hourly).select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("pct"),
    )


_ASPCT_SQL = f"""
WITH hourly AS (
  SELECT event_type AS metric,
         CAST(({_ES} // 3600) * 3600 AS BIGINT) AS bucket_ts,
         SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS q0
  FROM events GROUP BY 1, 2
), finalized AS (
  -- mirror finalize() + as_percent(): the engine divides the exact BIGINT
  -- by 1e6 into a double, then RE-quantizes that double with the
  -- grid-exact quantizer (which maps it back to q0 itself).
  SELECT metric, bucket_ts,
         CAST(q0 AS DOUBLE) / 1000000 AS value,
         {qfloor_sql("CAST(q0 AS DOUBLE) / 1000000")} AS q
  FROM hourly
)
SELECT metric, bucket_ts,
       CASE WHEN SUM(q) OVER (PARTITION BY bucket_ts) <> 0
            THEN CAST(q AS DOUBLE) / CAST(SUM(q) OVER (PARTITION BY bucket_ts) AS DOUBLE) * 100.0
       END AS pct
FROM finalized
"""


# --- streaming slot dedup (reference same-slot overwrite semantics) -------

def streaming_dedup_slots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (metric, minute-slot): the reference's
    ring buffer stores ONE value per slot — duplicate in-slot arrivals
    collapse. Watermarked dedup state expires with event time, so state is
    O(horizon), not O(stream). Output counts only (which duplicate row
    survives is arrival-order-dependent; slot counts are deterministic)."""
    from kenshin_backup_spark.queries.streaming_q import _events_stream
    from kenshin_backup_spark.streaming.ingest import run_stream_to_memory

    stream = (
        _events_stream(spark, sf_dir)
        .withColumn("slot_ts", F.date_trunc("minute", F.col("ts")))
        .withWatermark("slot_ts", "1 hour")
        .dropDuplicates(["event_type", "slot_ts"])
    )
    counted = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_slots"))
    return run_stream_to_memory(spark, counted, output_mode="complete")


_DEDUP_SLOTS_SQL = f"""
SELECT event_type,
       COUNT(DISTINCT ({_ES} // 60) * 60) AS n_slots
FROM events GROUP BY 1
"""


# --- irate: instantaneous rate from the last two points -------------------

def tsdb_rate_irate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus-style irate per metric: delta of the two most recent
    points over their time gap (deterministic (es, event_id) ordering;
    NULL when the two newest points share a second)."""
    ev = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts").cast("long")
    w = W.partitionBy("event_type").orderBy(F.desc("es"), F.desc("event_id"))
    ranked = (
        ev.select("event_type", "event_id", es.alias("es"), "value")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
    )
    two = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == 1, F.struct("es", "value"))).alias("p1"),
        F.max(F.when(F.col("rn") == 2, F.struct("es", "value"))).alias("p2"),
    )
    gap = F.col("p1.es") - F.col("p2.es")
    return two.select(
        "event_type",
        F.col("p1.es").alias("last_es"),
        F.when(gap != 0, (F.col("p1.value") - F.col("p2.value")) / gap.cast("double"))
        .cast("double")
        .alias("irate"),
    )


_IRATE_SQL = f"""
WITH ranked AS (
  SELECT event_type, value, CAST({_ES} AS BIGINT) AS es,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY {_ES} DESC, event_id DESC) AS rn
  FROM events
), two AS (
  SELECT event_type,
         MAX(CASE WHEN rn = 1 THEN es END) AS es1,
         MAX(CASE WHEN rn = 1 THEN value END) AS v1,
         MAX(CASE WHEN rn = 2 THEN es END) AS es2,
         MAX(CASE WHEN rn = 2 THEN value END) AS v2
  FROM ranked WHERE rn <= 2 GROUP BY 1
)
SELECT event_type, es1 AS last_es,
       CASE WHEN es1 - es2 <> 0
            THEN (v1 - v2) / CAST(es1 - es2 AS DOUBLE) END AS irate
FROM two
"""


# --- dense cross-join grid -------------------------------------------------

def join_cross_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (region × priority) report grid: explicit cross join builds
    the full matrix, left join fills counts, zeros kept — the report shape
    sparse group-by can't produce. Both sides of the cross join are tiny
    dims (broadcast NLJ, no shuffle)."""
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    prios = orders.select("o_orderpriority").distinct()
    grid = region.select("r_regionkey", "r_name").crossJoin(prios)
    fact = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_regionkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        grid.join(
            fact,
            (grid.r_regionkey == fact.n_regionkey)
            & (grid.o_orderpriority == fact.o_orderpriority),
            "left",
        )
        .select(
            "r_name",
            grid.o_orderpriority.alias("o_orderpriority"),
            F.coalesce(fact.n, F.lit(0)).cast("long").alias("n_orders"),
        )
    )


_CROSS_SQL = """
WITH prios AS (SELECT DISTINCT o_orderpriority FROM orders),
fact AS (
  SELECT n_regionkey, o_orderpriority, COUNT(*) AS n
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
)
SELECT r_name, p.o_orderpriority,
       COALESCE(f.n, 0) AS n_orders
FROM region CROSS JOIN prios p
LEFT JOIN fact f ON f.n_regionkey = r_regionkey
                AND f.o_orderpriority = p.o_orderpriority
"""


# --- SCD2: state-change validity intervals --------------------------------

def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build from the event log: per user,
    collapse consecutive same-type events, then each surviving state gets
    [valid_from, valid_to) from its own and the next change's time
    (valid_to NULL = current). Deterministic (es, event_id) ordering."""
    ev = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts").cast("long")
    w = W.partitionBy("user_id").orderBy("es", "event_id")
    changes = (
        ev.select("user_id", "event_id", es.alias("es"), "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    w2 = W.partitionBy("user_id").orderBy("es", "event_id")
    return changes.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type").alias("state"),
        F.col("es").alias("valid_from"),
        F.lead("es").over(w2).alias("valid_to"),
    )


_SCD2_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, CAST({_ES} AS BIGINT) AS es FROM events
), changes AS (
  SELECT user_id, event_id, event_type, es,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY es, event_id) AS prev_type
  FROM e
), kept AS (
  SELECT * FROM changes WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type AS state, es AS valid_from,
       LEAD(es) OVER (PARTITION BY user_id ORDER BY es, event_id) AS valid_to
FROM kept
"""


# --- bitwise scalar family -------------------------------------------------

def scalar_bitwise_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit manipulation scalars: shifts, xor, popcount — exact integer ops
    (the hash/partitioning toolbox)."""
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return orders.select(
        k.cast("long").alias("o_orderkey"),
        F.shiftleft(k, 2).cast("long").alias("shl2"),
        F.shiftright(k, 1).cast("long").alias("shr1"),
        k.bitwiseXOR(F.lit(255)).cast("long").alias("xor255"),
        F.bit_count(k).cast("long").alias("popcount"),
    )


_BITWISE_SQL = """
SELECT o_orderkey,
       o_orderkey << 2 AS shl2,
       o_orderkey >> 1 AS shr1,
       xor(o_orderkey, 255) AS xor255,
       CAST(bit_count(o_orderkey) AS BIGINT) AS popcount
FROM orders
"""


# --- array higher-order functions on embeddings ---------------------------

def array_hof_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform / filter / exists / forall / aggregate over the embedding
    vectors, all on quantized integers (float32 → double BEFORE scaling —
    the only portable float path, see deterministic.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qe = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * 10000).cast("long"),
    )
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.size(F.filter(qe, lambda q: q > 0)).cast("long").alias("n_pos"),
        F.exists(qe, lambda q: q > 2000).cast("long").alias("any_gt02"),
        F.forall(qe, lambda q: q > -10000).cast("long").alias("all_gt_neg1"),
        F.aggregate(qe, F.lit(0).cast("long"), lambda acc, q: acc + q).alias("sum_q"),
    )


_HOF_SQL = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qe
  FROM embeddings
)
SELECT vec_id,
       CAST(len(list_filter(qe, x -> x > 0)) AS BIGINT) AS n_pos,
       CAST(list_bool_or(list_transform(qe, x -> x > 2000)) AS BIGINT) AS any_gt02,
       CAST(list_bool_and(list_transform(qe, x -> x > -10000)) AS BIGINT) AS all_gt_neg1,
       CAST(list_sum(qe) AS BIGINT) AS sum_q
FROM q
"""


# --- max-deviation render downsampling ------------------------------------

def tsdb_downsample_maxdev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render-side downsampling: per (metric, 1h bucket) keep the single
    point farthest from the bucket mean (the spike the plot must not
    lose). Mean is quantized-exact; the deviation argmax tie-breaks on
    (es desc, value desc)."""
    ev = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts").cast("long")
    pts = ev.select(
        F.col("event_type").alias("metric"),
        es.alias("es"),
        "value",
        ((es / 3600).cast("long") * 3600).alias("bucket_ts"),
    )
    stats = pts.groupBy("metric", "bucket_ts").agg(
        (
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).cast("double")
            / (F.count("value").cast("double") * 1000000.0)
        ).alias("bucket_avg")
    )
    dev = F.abs(F.col("value") - F.col("bucket_avg"))
    picked = (
        pts.join(stats, ["metric", "bucket_ts"])
        .groupBy("metric", "bucket_ts")
        .agg(
            F.max(
                F.struct(
                    dev.alias("dev"), F.col("es"), F.col("value")
                )
            ).alias("b")
        )
    )
    return picked.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("b.es").alias("pick_es"),
        F.col("b.value").cast("double").alias("pick_value"),
        F.col("b.dev").cast("double").alias("deviation"),
    )


_MAXDEV_SQL = f"""
WITH pts AS (
  SELECT event_type AS metric, value,
         CAST({_ES} AS BIGINT) AS es,
         CAST(({_ES} // 3600) * 3600 AS BIGINT) AS bucket_ts
  FROM events
), stats AS (
  SELECT metric, bucket_ts,
         CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS DOUBLE)
           / (CAST(COUNT(value) AS DOUBLE) * 1000000.0) AS bucket_avg
  FROM pts GROUP BY 1, 2
), ranked AS (
  SELECT p.metric, p.bucket_ts, p.es, p.value,
         ABS(p.value - s.bucket_avg) AS dev,
         ROW_NUMBER() OVER (PARTITION BY p.metric, p.bucket_ts
                            ORDER BY ABS(p.value - s.bucket_avg) DESC,
                                     p.es DESC, p.value DESC) AS rn
  FROM pts p JOIN stats s ON s.metric = p.metric AND s.bucket_ts = p.bucket_ts
)
SELECT metric, bucket_ts, es AS pick_es, value AS pick_value, dev AS deviation
FROM ranked WHERE rn = 1
"""


QUERIES = {
    "graphite_aspercent": graphite_aspercent,
    "streaming_dedup_slots": streaming_dedup_slots,
    "tsdb_rate_irate": tsdb_rate_irate,
    "join_cross_grid": join_cross_grid,
    "scd2_user_state": scd2_user_state,
    "scalar_bitwise_shift": scalar_bitwise_shift,
    "array_hof_embeddings": array_hof_embeddings,
    "tsdb_downsample_maxdev": tsdb_downsample_maxdev,
}

ORACLE = {
    "graphite_aspercent": _ASPCT_SQL,
    "streaming_dedup_slots": _DEDUP_SLOTS_SQL,
    "tsdb_rate_irate": _IRATE_SQL,
    "join_cross_grid": _CROSS_SQL,
    "scd2_user_state": _SCD2_SQL,
    "scalar_bitwise_shift": _BITWISE_SQL,
    "array_hof_embeddings": _HOF_SQL,
    "tsdb_downsample_maxdev": _MAXDEV_SQL,
}
