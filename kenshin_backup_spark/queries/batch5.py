"""Batch-5 queries: non-parquet source formats (CSV/JSON file readers),
range window frames, first/last/nth window family, exact percentiles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import EPOCH_S_SQL, QSUM_SQL, qsum
from kenshin_backup_spark.sources import load_table

_ES = EPOCH_S_SQL.format(x="ts")


def _stage_dir(sf_dir: str, fmt: str) -> str:
    # fingerprint-keyed + stale-generation reaping (see
    # sources.tables.staged_path)
    from kenshin_backup_spark.sources.tables import staged_path

    return staged_path(sf_dir, fmt)


# --- Source formats (S-family breadth): CSV / JSON file readers --------------

def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV reader path: stage events as CSV (typed epoch seconds, schema-on
    read, no inference), read back, aggregate. Oracle aggregates the
    original parquet — any reader/writer infidelity breaks the hash."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("es"),
        "user_id",
        "event_type",
        "value",
    )
    path = _stage_dir(sf_dir, "csv")
    if not os.path.exists(path):
        ev.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(
        "event_id long, es long, user_id long, event_type string, value double"
    ).option("header", True).csv(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        qsum("value", "sum_value"),
        F.min("es").cast("long").alias("min_es"),
        F.max("es").cast("long").alias("max_es"),
    )


_CSV_SQL = f"""
SELECT event_type, COUNT(*) AS n,
       {QSUM_SQL.format(x="value")} AS sum_value,
       MIN(CAST({_ES} AS BIGINT)) AS min_es,
       MAX(CAST({_ES} AS BIGINT)) AS max_es
FROM events GROUP BY event_type
"""


def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines reader path (schema-on-read): stage, read, aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_timestamp("ts").cast("long").alias("es"),
        "event_type",
        "value",
    )
    path = _stage_dir(sf_dir, "json")
    if not os.path.exists(path):
        ev.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "event_id long, es long, event_type string, value double"
    ).json(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        qsum("value", "sum_value"),
        F.countDistinct("event_id").alias("n_ids"),
    )


_JSONSRC_SQL = f"""
SELECT event_type, COUNT(*) AS n,
       {QSUM_SQL.format(x="value")} AS sum_value,
       COUNT(DISTINCT event_id) AS n_ids
FROM events GROUP BY event_type
"""


# --- W2: RANGE frames ---------------------------------------------------------

def window_range_7day_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue per customer via a RANGE frame over epoch
    seconds (value-based frame, not row-based) — exact quantized sums."""
    orders = load_table(spark, sf_dir, "orders")
    es = F.unix_timestamp("o_orderdate").cast("long")
    q = F.floor(F.col("o_totalprice") * 1000000).cast("long")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(es)
        .rangeBetween(-7 * 86400, 0)
    )
    return orders.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        es.alias("es"),
        (F.sum(q).over(w) / F.lit(1000000.0)).cast("double").alias("sum_7d"),
        F.count(q).over(w).cast("long").alias("n_7d"),
    )


_RANGE7_SQL = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST({EPOCH_S_SQL.format(x="o_orderdate")} AS BIGINT) AS es,
         CAST(FLOOR(o_totalprice * 1000000) AS BIGINT) AS q
  FROM orders
)
SELECT o_custkey, o_orderkey, es,
       CAST(SUM(q) OVER w / 1000000.0 AS DOUBLE) AS sum_7d,
       COUNT(q) OVER w AS n_7d
FROM o
WINDOW w AS (PARTITION BY o_custkey ORDER BY es
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
"""


def window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value family over each customer's
    order history (full-partition frame for determinism)."""
    orders = load_table(spark, sf_dir, "orders")
    es = F.unix_timestamp("o_orderdate").cast("long")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(es, "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return orders.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.first_value(F.col("o_orderkey")).over(w).cast("long").alias("first_order"),
        F.last_value(F.col("o_orderkey")).over(w).cast("long").alias("last_order"),
        F.nth_value(F.col("o_orderkey"), 2).over(w).cast("long").alias("second_order"),
    ).distinct()


_FLN_SQL = f"""
SELECT DISTINCT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_order,
       LAST_VALUE(o_orderkey) OVER w AS last_order,
       NTH_VALUE(o_orderkey, 2) OVER w AS second_order
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY CAST({EPOCH_S_SQL.format(x="o_orderdate")} AS BIGINT), o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


# --- Exact percentiles --------------------------------------------------------

def agg_median_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles over integer-valued quantities
    (interpolation arithmetic is exact on integers → engine-portable)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").cast("double").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.25)").cast("double").alias("p25_qty"),
        F.expr("percentile(l_quantity, 0.75)").cast("double").alias("p75_qty"),
        F.count(F.lit(1)).alias("n"),
    )


_MEDIAN_SQL = """
SELECT l_returnflag,
       CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median_qty,
       CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS p25_qty,
       CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS p75_qty,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


def graphite_summarize_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed graphite-web pipeline over the series-function catalog:
    10-min average series per metric → summarize(1h, 'max') →
    highestCurrent(3) — the typical dashboard render expression."""
    from kenshin_backup_spark.operators import seriesfns as S
    from kenshin_backup_spark.operators.rollup import finalize, rollup_partials

    ev = load_table(spark, sf_dir, "events").withColumnRenamed("event_type", "metric")
    ten = finalize(
        rollup_partials(ev, key_cols=["metric"], step_seconds=600), agg="average"
    ).select("metric", "bucket_ts", "value")
    hourly = S.summarize(ten, 3600, "max")
    top = S.highest(hourly, 3, "current")
    return top.select(
        "metric", F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_GRAPHITE_TOP_SQL = f"""
WITH e AS (
  SELECT event_type AS metric, value,
         CAST(({_ES} // 600) * 600 AS BIGINT) AS b10
  FROM events
),
ten AS (
  SELECT metric, b10,
         CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS DOUBLE)
           / 1000000 / COUNT(value) AS v
  FROM e GROUP BY metric, b10
),
hourly AS (
  SELECT metric, CAST((b10 // 3600) * 3600 AS BIGINT) AS bucket_ts,
         MAX(v) AS value
  FROM ten GROUP BY 1, 2
),
cur AS (
  SELECT metric, value AS current FROM (
    SELECT metric, value,
           ROW_NUMBER() OVER (PARTITION BY metric ORDER BY bucket_ts DESC) AS rn
    FROM hourly WHERE value IS NOT NULL) t
  WHERE rn = 1
),
top AS (
  SELECT metric FROM (
    SELECT metric, ROW_NUMBER() OVER (ORDER BY current DESC, metric ASC) AS rk
    FROM cur) t
  WHERE rk <= 3
)
SELECT h.metric, h.bucket_ts, h.value
FROM hourly h JOIN top USING (metric)
"""


QUERIES = {
    "graphite_summarize_top": graphite_summarize_top,
    "source_csv_roundtrip": source_csv_roundtrip,
    "source_json_roundtrip": source_json_roundtrip,
    "window_range_7day_sum": window_range_7day_sum,
    "window_first_last_nth": window_first_last_nth,
    "agg_median_quantity": agg_median_quantity,
}

ORACLE = {
    "graphite_summarize_top": _GRAPHITE_TOP_SQL,
    "source_csv_roundtrip": _CSV_SQL,
    "source_json_roundtrip": _JSONSRC_SQL,
    "window_range_7day_sum": _RANGE7_SQL,
    "window_first_last_nth": _FLN_SQL,
    "agg_median_quantity": _MEDIAN_SQL,
}
