"""Batch-80 queries (round 11): the two ADVICE-r10 render fixes
certified end-to-end.

``graphite_render_aspercent_nodes`` drives the asPercent GROUPING form
through ``Engine.render`` with the total given as a SERIES and the
nodes as a KEYWORD — ``asPercent(svc.*.*, cap.*.total, nodes=1)`` is
exactly the call shape ADVICE r10 (medium) found crashing: kwarg
resolution pads the total slot with its ``None`` default ahead of the
node list, and the pre-fix dispatch ran ``int(None)``. The store also
holds a totals series (``cap.refund.total``) whose group key no input
series shares, pinning the OTHER r10 advice item on the same operator:
graphite iterates the UNION of series and total keys and emits a
None-valued series for total-only keys (previously dropped by the left
join). The cert therefore fails pre-fix twice over — a TypeError on
the kwarg form and a row-count mismatch on the missing all-gap series.

``graphite_render_timestack_neg`` drives ``timeStack(series, '-1d',
0, 3)`` through the Engine refetch rail. graphite normalizes a
digit-leading shift unit to ``'-'`` so ``'1d'`` and ``'-1d'`` both
stack into the PAST; the pre-fix signed parse made ``'-1d'`` re-fetch
the FUTURE (mostly past the data's end → gaps) and shift the copies
backward off the render grid, so the hash match certifies the sign
normalization on both the refetch windows and the copy re-gridding.

Determinism: store values are ``floor()``-ed integers, the hourly MAX
rollup keeps them integral, quantization (``qfloor(v)`` BIGINT) is
exact for this range, and the percent is a single double division ×100
mirrored operand-for-operand in DuckDB (every float literal CAST AS
DOUBLE — the engine's quantized-oracle house rules). The timeStack
shift is pure integer timestamp arithmetic.

Scale notes (100 TB): asPercent-nodes is one (key, bucket) aggregation
over the render frame broadcast back (group count ≤ series count) plus
a broadcast anti-join on the input KEY SET for the total-only series —
never data-volume proportional. timeStack issues end−start bounded
archive fetches (argument-bounded, partition-pruned); no new shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_backup_spark.api import Engine
from kenshin_backup_spark.functions.deterministic import EPOCH_S_SQL, qfloor_sql
from kenshin_backup_spark.operators.policies import Policy
from kenshin_backup_spark.sources import load_table
from kenshin_backup_spark.sources.tables import staged_path

_ES = EPOCH_S_SQL.format(x="ts")


def _store_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three metric families derived from events, all integer-valued:
    ``svc.<etype>.a`` (floored value), ``svc.<etype>.b`` (floored half),
    ``cap.<etype>.total`` (3× floored value — the per-key divisor), plus
    ``cap.refund.total`` (click-derived, a key NO input series has)."""
    ev = load_table(spark, sf_dir, "events")
    # One scan + per-row explode instead of a 4-branch UNION (which scanned
    # events 4× — r15, guide §2.4/§6): each event row fans out to its three
    # derived series (plus cap.refund.total for clicks) array-side. Row set
    # is identical to the old union (same metrics, same values, order
    # irrelevant to the rollup that consumes this), so every store-backed
    # oracle is unchanged; the UNION ALL oracle mirror stays valid.
    fa = F.floor("value").cast("double")
    fb = F.floor(F.col("value") / F.lit(2.0)).cast("double")
    ft = (F.floor("value") * F.lit(3)).cast("double")
    base = F.array(
        F.struct(
            F.concat(F.lit("svc."), "event_type", F.lit(".a")).alias("metric"),
            fa.alias("value"),
        ),
        F.struct(
            F.concat(F.lit("svc."), "event_type", F.lit(".b")).alias("metric"),
            fb.alias("value"),
        ),
        F.struct(
            F.concat(F.lit("cap."), "event_type", F.lit(".total")).alias("metric"),
            ft.alias("value"),
        ),
    )
    fam = F.when(
        F.col("event_type") == "click",
        F.concat(
            base,
            F.array(
                F.struct(
                    F.lit("cap.refund.total").alias("metric"),
                    (F.floor("value") + F.lit(7)).cast("double").alias("value"),
                )
            ),
        ),
    ).otherwise(base)
    return ev.select(F.explode(fam).alias("__fx"), "ts").select(
        F.col("__fx.metric").alias("metric"), "ts", F.col("__fx.value").alias("value")
    )


def graphite_render_aspercent_nodes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """asPercent grouping form with a series total + keyword nodes and a
    total-only group key (see module docstring — fails pre-fix on both
    the kwarg TypeError and the dropped all-gap series)."""
    pts = _store_points(spark, sf_dir)
    eng = Engine(
        spark,
        staged_path(sf_dir, "aspct_store", tables=("events",)),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,),
                         agg="max")],
    )
    # exact raw bounds from the store-build pass (observe) — kills the
    # second full raw scan the bounds agg used to run (r16, guide §1.1);
    # every event row fans out to ≥1 store row with its ts verbatim, so
    # the written points' min/max equals the old bounds agg over pts
    lo_s, hi_s = eng.write(pts, observe_bounds=True)
    lo = lo_s - lo_s % 86400
    out = eng.render(
        "asPercent(svc.*.*, cap.*.total, nodes=1)", lo, hi_s + 1
    )
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_ASPCT_SQL = f"""
WITH bounds AS (
  SELECT (MIN({_ES}) - MIN({_ES}) % 86400) AS lo,
         ((MAX({_ES}) + 1) // 3600) * 3600 AS hi
  FROM events
),
mets AS (
  SELECT UNNEST(['click','error','purchase','signup','view']) AS etype
),
hourly AS (
  SELECT event_type AS etype,
         CAST((({_ES}) // 3600) * 3600 AS BIGINT) AS h,
         CAST(MAX(FLOOR(value)) AS DOUBLE) AS va,
         CAST(MAX(FLOOR(value / CAST(2 AS DOUBLE))) AS DOUBLE) AS vb,
         CAST(MAX(FLOOR(value) * 3) AS DOUBLE) AS vt
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT m.etype, CAST(g.h AS BIGINT) AS h, hr.va, hr.vb, hr.vt
  FROM (SELECT UNNEST(generate_series(lo, hi, 3600)) AS h FROM bounds) g
  CROSS JOIN mets m
  LEFT JOIN hourly hr ON hr.h = g.h AND hr.etype = m.etype
),
-- quantized BIGINT numerators/denominator, one double division ×100
-- (the engine's as_percent_nodes arithmetic, operand for operand)
pct AS (
  SELECT etype, h,
         {qfloor_sql("va")} AS qa,
         {qfloor_sql("vb")} AS qb,
         {qfloor_sql("vt")} AS qt
  FROM grid
)
SELECT 'svc.' || etype || '.a' AS metric, h AS bucket_ts,
       CASE WHEN qt IS NOT NULL AND qt <> 0 THEN
         (CAST(qa AS DOUBLE) / CAST(qt AS DOUBLE)) * CAST(100 AS DOUBLE)
       END AS value
FROM pct
UNION ALL
SELECT 'svc.' || etype || '.b' AS metric, h AS bucket_ts,
       CASE WHEN qt IS NOT NULL AND qt <> 0 THEN
         (CAST(qb AS DOUBLE) / CAST(qt AS DOUBLE)) * CAST(100 AS DOUBLE)
       END AS value
FROM pct
UNION ALL
-- total-only key: graphite's key union emits the totals series all-gap
SELECT 'cap.refund.total' AS metric, CAST(g.h AS BIGINT) AS bucket_ts,
       CAST(NULL AS DOUBLE) AS value
FROM (SELECT UNNEST(generate_series(lo, hi, 3600)) AS h FROM bounds) g
ORDER BY 1, 2
"""


def graphite_render_timestack_neg(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """timeStack('-1d', 0, 3) on the Engine refetch rail — graphite's
    digit/'-' normalization means the stack reaches into the PAST (see
    module docstring; the pre-fix signed parse fetched the future)."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_type").alias("metric"),
        "ts",
        F.floor("value").cast("double").alias("value"),
    )
    eng = Engine(
        spark,
        staged_path(sf_dir, "tstack_store", tables=("events",)),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,),
                         agg="max")],
    )
    lo_s, hi_s = eng.write(pts, observe_bounds=True)
    lo = lo_s - lo_s % 86400
    mid = lo + 14 * 86400
    out = eng.render(
        "timeStack({click,error,purchase,signup,view}, '-1d', 0, 3)",
        mid, hi_s + 1,
    )
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_TSTACK_SQL = f"""
WITH bounds AS (
  SELECT (MIN({_ES}) - MIN({_ES}) % 86400) AS lo,
         ((MAX({_ES}) + 1) // 3600) * 3600 AS hi
  FROM events
),
win AS (SELECT lo, lo + 14 * 86400 AS mid, hi FROM bounds),
mets AS (
  SELECT UNNEST(['click','error','purchase','signup','view']) AS metric
),
shifts AS (SELECT UNNEST([0, 1, 2]) AS i),
hourly AS (
  SELECT event_type AS metric,
         CAST((({_ES}) // 3600) * 3600 AS BIGINT) AS h,
         CAST(MAX(FLOOR(value)) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
)
SELECT 'timeShift(' || m.metric || ', -1d, ' || s.i || ')' AS metric,
       CAST(g.h AS BIGINT) AS bucket_ts, hr.v AS value
FROM (SELECT UNNEST(generate_series(mid, hi, 3600)) AS h FROM win) g
CROSS JOIN mets m
CROSS JOIN shifts s
LEFT JOIN hourly hr
  ON hr.h = g.h - s.i * 86400 AND hr.metric = m.metric
ORDER BY 1, 2
"""


QUERIES = {
    "graphite_render_aspercent_nodes": graphite_render_aspercent_nodes,
    "graphite_render_timestack_neg": graphite_render_timestack_neg,
}

ORACLE = {
    "graphite_render_aspercent_nodes": _ASPCT_SQL,
    "graphite_render_timestack_neg": _TSTACK_SQL,
}
