"""Batch-71 query (round 6): the rolling/percentile render tier,
driver-certified.

``graphite_render_rollstats`` drives the round-6 render-catalog additions
through the full consumer stack (Engine store build → target parse →
seriesfns evaluation) for two targets unioned into one frame::

    percentileOfSeries(summarize({click,view,purchase}, '1d', 'avg'), 50)
    movingMedian(summarize({click}, '1d', 'sum'), 3)

i.e. the cross-series daily median panel and a 3-day rolling median — the
two new function families (cross-series percentile with graphite-web's
``_getPercentile`` NIST rank, and the strictly-before rolling window that
round 6 also fixed ``movingAverage`` to use).

The DuckDB oracle replicates the evaluator stage by stage: hourly QAVG
store read over the day-aligned fetch grid → per-stage requantized daily
summarize → (t1) per-day sorted values with the identical
``ceil(0.5·(n+1))`` clamped rank → (t2) a ROWS BETWEEN 3 PRECEDING AND 1
PRECEDING list window, null-filtered, sorted, with graphite's safeMedian
element selection ((a+b)/2 for even counts). A hash match therefore
certifies the NIST rank fix, the strictly-before window convention, and
the median element arithmetic in one driver row.

Scale notes: one Catalyst plan per target over the hourly ladder. The
percentile collect is bounded by the glob's series count per bucket (3
here); the movingMedian collect by the window argument (3) — both
documented bounded-collect contracts in ``operators/seriesfns.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_backup_spark.api import Engine
from kenshin_backup_spark.functions.deterministic import (
    EPOCH_S_SQL,
    QAVG_SQL,
    qfloor_sql,
)
from kenshin_backup_spark.operators.policies import Policy
from kenshin_backup_spark.sources import load_table
from kenshin_backup_spark.sources.tables import staged_path

_ES = EPOCH_S_SQL.format(x="ts")

_T1 = "percentileOfSeries(summarize({click,view,purchase}, '1d', 'avg'), 50)"
_T2 = "movingMedian(summarize({click}, '1d', 'sum'), 3)"


def graphite_render_rollstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store build → rolling/percentile render evaluation (see module
    docstring)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(F.col("event_type").alias("metric"), "ts", "value")
    eng = Engine(
        spark,
        staged_path(sf_dir, "rollstats_store", tables=("events",)),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,))],
    )
    # exact raw bounds from the store-build pass (observe) — kills the
    # second full raw scan the bounds agg used to run (r16, guide §1.1)
    lo_s, hi_s = eng.write(pts, observe_bounds=True)
    lo = lo_s - lo_s % 86400  # day-aligned slot grid
    out = eng.render(_T1, lo, hi_s + 1).unionByName(
        eng.render(_T2, lo, hi_s + 1)
    )
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_ROLLSTATS_SQL = f"""
WITH bounds AS (
  SELECT (MIN({_ES}) - MIN({_ES}) % 86400) AS lo,
         ((MAX({_ES}) + 1) // 3600) * 3600 AS hi
  FROM events
),
grid AS (
  SELECT UNNEST(generate_series(lo, hi, 3600)) AS h FROM bounds
),
dgrid AS (
  SELECT DISTINCT CAST((h // 86400) * 86400 AS BIGINT) AS d FROM grid
),
hourly AS (
  SELECT event_type AS metric, CAST(({_ES} // 3600) * 3600 AS BIGINT) AS h,
         {QAVG_SQL.format(x="value")} AS avg_v
  FROM events WHERE event_type IN ('click', 'view', 'purchase')
  GROUP BY 1, 2
),
-- summarize requantizes the hourly DOUBLE per stage (qfloor)
hq AS (
  SELECT metric, h, {qfloor_sql("avg_v")} AS q FROM hourly
),
daily_avg AS (
  SELECT metric, CAST((h // 86400) * 86400 AS BIGINT) AS d,
         CAST(SUM(q) / 1000000 / COUNT(q) AS DOUBLE) AS v
  FROM hq GROUP BY 1, 2
),
-- percentileOfSeries(p=50): graphite _getPercentile NIST rank over the
-- per-day sorted cross-series values — rank clamp(ceil(0.5*(n+1)), 1, n)
pvals AS (
  SELECT d, v,
         ROW_NUMBER() OVER (PARTITION BY d ORDER BY v) AS rn,
         COUNT(*) OVER (PARTITION BY d) AS n
  FROM daily_avg
),
t1 AS (
  SELECT 'percentileOfSeries' AS metric, g.d AS bucket_ts,
         CAST(MAX(CASE WHEN p.rn = GREATEST(1, LEAST(p.n,
                    CAST(CEIL(0.5 * (p.n + 1)) AS INT)))
                  THEN p.v END) AS DOUBLE) AS value
  FROM dgrid g LEFT JOIN pvals p ON p.d = g.d
  GROUP BY g.d
),
daily_sum AS (
  SELECT g.d,
         CAST(SUM(q) / 1000000 AS DOUBLE) AS v
  FROM dgrid g
  LEFT JOIN hq c ON CAST((c.h // 86400) * 86400 AS BIGINT) = g.d
                AND c.metric = 'click'
  GROUP BY g.d
),
-- movingMedian(3): strictly-before ROWS window, null-filtered sorted
-- list, safeMedian element selection ((a+b)/2 for even counts)
roll AS (
  SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rn,
         list_sort(list_filter(
           list(v) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING),
           x -> x IS NOT NULL)) AS arr
  FROM daily_sum
),
t2 AS (
  SELECT 'click' AS metric, d AS bucket_ts,
         CAST(CASE WHEN rn > 3 THEN
           CASE WHEN len(arr) = 0 THEN NULL
                WHEN len(arr) % 2 = 1 THEN arr[(len(arr) + 1) // 2]
                ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1]) / 2
           END
         END AS DOUBLE) AS value
  FROM roll
)
SELECT metric, bucket_ts, value FROM t1
UNION ALL
SELECT metric, bucket_ts, value FROM t2
"""


QUERIES = {
    "graphite_render_rollstats": graphite_render_rollstats,
}

ORACLE = {
    "graphite_render_rollstats": _ROLLSTATS_SQL,
}
