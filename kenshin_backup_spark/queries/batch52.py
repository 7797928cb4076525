"""Batch-52 query (round 4): the render-target language, driver-certified.

``graphite_render_pipeline`` drives the full consumer stack end-to-end —
Engine store build (per-policy hourly ladder) → render-target parse →
seriesfns evaluation — for the target::

    summarize(sumSeries({click,view}), '1d', 'sum')

and the DuckDB oracle replicates the semantics arithmetically (hourly
quantized averages → per-slot sum across the two metrics → daily sums).
A hash match certifies the parser, the evaluator, the Engine fetch path
(archive routing, grid, gap NULLs), and the seriesfns composition in one
row. The store materializes under a fingerprint-keyed staging dir — the
same pattern as the ladder round-trip query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_backup_spark.api import Engine
from kenshin_backup_spark.functions.deterministic import (
    EPOCH_S_SQL,
    QSUM_SQL,
    qfloor_sql,
)
from kenshin_backup_spark.operators.policies import Policy
from kenshin_backup_spark.sources import load_table
from kenshin_backup_spark.sources.tables import staged_path

_ES = EPOCH_S_SQL.format(x="ts")
_TARGET = "summarize(sumSeries({click,view}), '1d', 'sum')"


def graphite_render_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Store build → render-target evaluation (see module docstring)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(F.col("event_type").alias("metric"), "ts", "value")
    eng = Engine(
        spark,
        staged_path(sf_dir, "render_store", tables=("events",)),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,))],
    )
    # exact raw bounds captured on the store-build pass itself (observe) —
    # no second full scan of the input for two scalars (r16, guide §1.1)
    lo_s, hi_s = eng.write(pts, observe_bounds=True)
    lo = lo_s - lo_s % 86400  # day-aligned slot grid
    out = eng.render(_TARGET, lo, hi_s + 1)
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    ).where(F.col("value").isNotNull())


_RENDER_SQL = f"""
WITH hourly AS (
  SELECT event_type, CAST(({_ES} // 3600) * 3600 AS BIGINT) AS h,
         CAST({QSUM_SQL.format(x="value")} / COUNT(value) AS DOUBLE) AS avg_v
  FROM events WHERE event_type IN ('click', 'view')
  GROUP BY 1, 2
),
-- sumSeries and summarize re-quantize each derived double (qfloor)
summed AS (
  SELECT h, CAST(SUM({qfloor_sql("avg_v")}) AS DOUBLE) / 1000000 AS v
  FROM hourly GROUP BY 1
)
SELECT 'sumSeries' AS metric,
       CAST((h // 86400) * 86400 AS BIGINT) AS bucket_ts,
       CAST(SUM({qfloor_sql("v")}) AS DOUBLE) / 1000000 AS value
FROM summed GROUP BY 2
"""


QUERIES = {
    "graphite_render_pipeline": graphite_render_pipeline,
}

ORACLE = {
    "graphite_render_pipeline": _RENDER_SQL,
}
