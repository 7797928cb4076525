"""Batch-57 query (round 4): the EXTENDED render language, driver-certified.

``graphite_render_ratio`` drives the round-4 render-language additions —
two-series ``divideSeries`` and the ``transformNull`` fill tier — through
the full consumer stack (Engine store build → parse → evaluate) for::

    transformNull(divideSeries(
        summarize(sumSeries({purchase}), '1d', 'sum'),
        summarize(sumSeries({click,view}), '1d', 'sum')), 0)

i.e. the daily purchase-per-engagement ratio every product dashboard
plots, with gap days surfaced as 0. The DuckDB oracle replicates the
evaluator's exact quantization sequence (hourly QAVG → per-slot
requantized sumSeries → daily requantized summarize → safeDiv →
COALESCE 0) over the same day-aligned fetch grid, so a hash match
certifies the two-series evaluator arity path, safeDiv's zero/missing
semantics, the fill tier, and the grid coverage in one row.

Scale notes: identical shape to ``graphite_render_pipeline`` — the whole
nested target compiles into ONE Catalyst plan over the hourly ladder;
the divide join is a per-day equi-join of two already-aggregated
single-series frames.
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
_TARGET = (
    "transformNull(divideSeries("
    "summarize(sumSeries({purchase}), '1d', 'sum'), "
    "summarize(sumSeries({click,view}), '1d', 'sum')), 0)"
)


def graphite_render_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store build → extended-render evaluation (see module docstring)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(F.col("event_type").alias("metric"), "ts", "value")
    eng = Engine(
        spark,
        staged_path(sf_dir, "render_ratio_store", tables=("events",)),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,))],
    )
    # exact raw bounds from the store-build pass (observe) — kills the
    # second full raw scan the bounds agg used to run (r16, guide §1.1)
    lo_s, hi_s = eng.write(pts, observe_bounds=True)
    lo = lo_s - lo_s % 86400  # day-aligned slot grid
    out = eng.render(_TARGET, lo, hi_s + 1)
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


# The oracle mirrors the evaluator stage by stage. Requantization at each
# combine/summarize stage (qfloor again on an already-derived double) is
# intentional — it is exactly what _combine/summarize do, and both
# engines run the identical IEEE ops.
_RATIO_SQL = f"""
WITH bounds AS (
  SELECT (MIN({_ES}) - MIN({_ES}) % 86400) AS lo,
         ((MAX({_ES}) + 1) // 3600) * 3600 AS hi
  FROM events
),
grid AS (
  SELECT UNNEST(generate_series(lo, hi, 3600)) AS h FROM bounds
),
hourly AS (
  SELECT event_type AS metric, CAST(({_ES} // 3600) * 3600 AS BIGINT) AS h,
         {QAVG_SQL.format(x="value")} AS avg_v
  FROM events WHERE event_type IN ('purchase', 'click', 'view')
  GROUP BY 1, 2
),
num_h AS (
  SELECT g.h,
         CAST(SUM({qfloor_sql("p.avg_v")}) / 1000000 AS DOUBLE) AS v
  FROM grid g
  LEFT JOIN hourly p ON p.h = g.h AND p.metric = 'purchase'
  GROUP BY g.h
),
den_h AS (
  SELECT g.h,
         CAST(SUM({qfloor_sql("c.avg_v")}) / 1000000 AS DOUBLE) AS v
  FROM grid g
  LEFT JOIN hourly c ON c.h = g.h AND c.metric IN ('click', 'view')
  GROUP BY g.h
),
num_d0 AS (
  SELECT CAST((h // 86400) * 86400 AS BIGINT) AS d,
         CAST(SUM({qfloor_sql("v")}) / 1000000 AS DOUBLE) AS v
  FROM num_h GROUP BY 1
),
den_d0 AS (
  SELECT CAST((h // 86400) * 86400 AS BIGINT) AS d,
         CAST(SUM({qfloor_sql("v")}) / 1000000 AS DOUBLE) AS v
  FROM den_h GROUP BY 1
),
-- divide_series funnels BOTH sides through _combine once more, which
-- requantizes the single daily row (qfloor(v)/1e6) — mirror it.
num_d AS (
  SELECT d, CAST({qfloor_sql("v")} / 1000000 AS DOUBLE) AS v FROM num_d0
),
den_d AS (
  SELECT d, CAST({qfloor_sql("v")} / 1000000 AS DOUBLE) AS v FROM den_d0
)
SELECT 'divideSeries' AS metric, n.d AS bucket_ts,
       CAST(COALESCE(
         CASE WHEN dd.v IS NOT NULL AND dd.v != 0 THEN n.v / dd.v END,
         0) AS DOUBLE) AS value
FROM num_d n LEFT JOIN den_d dd ON dd.d = n.d
"""


_SBT_TARGET = "sumSeries(seriesByTag('src=a', 'name=~^evt\\.'))"


def graphite_render_seriesbytag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 certification of the tagged-catalog render path end-to-end:
    Engine store of TAGGED metrics with DOTTED bare names
    (``evt.<type>;src=<a|b>``) → render ``seriesByTag`` as a leaf-style
    catalog selector (resolves via the match-everything sentinel — the
    round-5 fix; a one-component ``*`` glob would silently drop every
    dotted name) with the reserved ``name`` tag routed through the bare
    series name, collapsed by ``sumSeries``.

    The oracle replays the same chain in SQL (tag probe regexes on the
    metric path, hourly QAVG store read, per-slot requantized sum over
    the day-aligned fetch grid), so a hash match certifies catalog
    resolution, both tag operators, and the combine quantization in one
    driver row. Scale: one Catalyst plan over the hourly ladder; the tag
    probes are scan-side regexps (pushdown-friendly)."""
    ev = load_table(spark, sf_dir, "events")
    src = F.when(F.col("user_id") % 2 == 0, F.lit("a")).otherwise(F.lit("b"))
    pts = ev.select(
        F.concat(
            F.lit("evt."), F.col("event_type"), F.lit(";src="), src
        ).alias("metric"),
        "ts",
        "value",
    )
    eng = Engine(
        spark,
        staged_path(sf_dir, "sbt_store", tables=("events",)),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,))],
    )
    lo_s, hi_s = eng.write(pts, observe_bounds=True)
    lo = lo_s - lo_s % 86400  # day-aligned slot grid
    out = eng.render(_SBT_TARGET, lo, hi_s + 1)
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_SBT_SQL = f"""
WITH bounds AS (
  SELECT (MIN({_ES}) - MIN({_ES}) % 86400) AS lo,
         ((MAX({_ES}) + 1) // 3600) * 3600 AS hi
  FROM events
),
grid AS (
  SELECT UNNEST(generate_series(lo, hi, 3600)) AS h FROM bounds
),
pts AS (
  SELECT 'evt.' || event_type || ';src='
           || CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS metric,
         {_ES} AS es, value
  FROM events
),
-- seriesByTag('src=a', 'name=~^evt\\.'): tag probe + bare-name regex
tagged AS (
  SELECT * FROM pts
  WHERE regexp_extract(metric, '(?:^|;)src=([^;]*)', 1) = 'a'
    AND regexp_matches(split_part(metric, ';', 1), '^evt\\.')
),
hourly AS (
  SELECT metric, CAST((es // 3600) * 3600 AS BIGINT) AS h,
         {QAVG_SQL.format(x="value")} AS avg_v
  FROM tagged GROUP BY 1, 2
),
summed AS (
  SELECT g.h,
         CAST(SUM({qfloor_sql("p.avg_v")}) / 1000000 AS DOUBLE) AS v
  FROM grid g LEFT JOIN hourly p ON p.h = g.h
  GROUP BY g.h
)
SELECT 'sumSeries' AS metric, CAST(h AS BIGINT) AS bucket_ts, v AS value
FROM summed
"""


_BAND_T1 = "rangeOfSeries(summarize({click,view,purchase}, '1d', 'avg'))"
_BAND_T2 = "squareRoot(invert(summarize({click}, '1d', 'sum')))"


def graphite_render_bandmath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-5 catalog-widening certification: the new render functions
    driven end-to-end through the Engine store and hand-mirrored in SQL —
    ``rangeOfSeries`` over daily ``summarize(..,'avg')`` (the new avg
    kernel), and ``squareRoot(invert(..))`` over a daily sum. Two targets
    union into one frame so a single driver hash covers four new
    functions plus the per-stage requantization chain."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(F.col("event_type").alias("metric"), "ts", "value")
    eng = Engine(
        spark,
        staged_path(sf_dir, "bandmath_store", tables=("events",)),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,))],
    )
    lo_s, hi_s = eng.write(pts, observe_bounds=True)
    lo = lo_s - lo_s % 86400
    out = eng.render(_BAND_T1, lo, hi_s + 1).unionByName(
        eng.render(_BAND_T2, lo, hi_s + 1)
    )
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_BAND_SQL = f"""
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
t1 AS (
  SELECT 'rangeOfSeries' AS metric, g.d AS bucket_ts,
         CAST(MAX(x.v) - MIN(x.v) AS DOUBLE) AS value
  FROM dgrid g LEFT JOIN daily_avg x ON x.d = g.d
  GROUP BY g.d
),
daily_sum AS (
  SELECT CAST((h // 86400) * 86400 AS BIGINT) AS d,
         CAST(SUM(q) / 1000000 AS DOUBLE) AS v
  FROM hq WHERE metric = 'click' GROUP BY 1
),
t2 AS (
  SELECT 'click' AS metric, g.d AS bucket_ts,
         CASE WHEN iv >= 0 THEN SQRT(iv) END AS value
  FROM (
    SELECT g.d, CASE WHEN s.v <> 0 THEN CAST(1.0 AS DOUBLE) / s.v END AS iv
    FROM dgrid g LEFT JOIN daily_sum s ON s.d = g.d
  ) g
)
SELECT metric, bucket_ts, CAST(value AS DOUBLE) AS value FROM t1
UNION ALL
SELECT metric, bucket_ts, CAST(value AS DOUBLE) AS value FROM t2
"""


QUERIES = {
    "graphite_render_ratio": graphite_render_ratio,
    "graphite_render_seriesbytag": graphite_render_seriesbytag,
    "graphite_render_bandmath": graphite_render_bandmath,
}

ORACLE = {
    "graphite_render_ratio": _RATIO_SQL,
    "graphite_render_seriesbytag": _SBT_SQL,
    "graphite_render_bandmath": _BAND_SQL,
}
