"""Batch-85 queries (round 14): the r13 parity wave + the two ADVICE-r13
negative-prefix fixes, driver-certified end-to-end.

``graphite_negnode_summarize_units`` — VERDICT r13 #1's composite cert
for the r13 parity wave, one hash covering three of its axes::

    summarize(aliasByNode(groupByNode(*.*.*, -2, 'sum'), -1),
              '6hours', 'max')

rendered with ``from='-1mon'`` (the r13 graphite prefix-unit table —
``mon`` = 30 days, resolved against an injected ``now_ts`` chosen so
the window starts exactly at the day-aligned store origin; a wrong
unit parse shifts the whole grid and fails the hash) and
``max_data_points=0`` (graphite's falsy no-consolidation request
value — a regression to "0 is a real budget" raises loudly in the
consolidation kernel and errs the driver row). groupByNode(-2) and
aliasByNode(-1) drive the r13 negative name-node indexing through
``seriesfns._node`` over the batch80 3-part tree (node -2 = the event
type; the grouped 1-part names make -1 the whole name).

``graphite_reduce_apply_negnode`` — the ADVICE-r13 cert (both
mediums, fixed this round)::

    reduceSeries(mapSeries(app.*.*, 1), 'asPercent', -1, 'used', 'total')
    applyByNode(app.*.used, -1, 'sumSeries(%app.*.used)', '%all.used')

The reduceSeries leg passes a NEGATIVE reduceNode: graphite's group
key is ``'.'.join(nodes[0:reduceNode])`` — python drop-from-the-end
slicing, which the pre-fix code fed to ``F.slice`` as a negative
LENGTH (a runtime error; ADVICE r13 medium #2). The applyByNode leg
uses ``nodeNum=-1``, whose prefix is ``parts[:0]`` = the EMPTY string
— ONE re-evaluation with ``%`` → ``''`` (the pre-fix ``node_num >= 0``
branch templated the WHOLE name, yielding five sum series instead of
one; ADVICE r13 medium #1 — a row-count mismatch here, not just a
hash). Store and oracle mirror batch72's certified positive-node
map/reduce tree (``app.<etype>.{used,total}``, hourly QAVG), so the
negative legs certify against the same stage-mirrored arithmetic.

Determinism: batch80's integer-valued MAX store for the first cert
(quantized sums exact); batch72's QAVG discipline for the second
(per-stage requantization, sequential-division order mirrored). The
asPercent division is the same double expression operand-for-operand
on both engines.

Scale notes (100 TB): groupByNode's merge is one hash aggregate on the
coarser (group, bucket) key — the shuffle SHRINKS through it;
summarize stacks a second shrinking aggregate on the same frame.
reduceSeries is an equi-join of two name-filtered sides on (prefix,
bucket) — series-count bounded sides, no theta join. applyByNode's
prefix collect is bounded by the glob's DISTINCT PREFIX count (here
exactly 1 — the empty prefix), never data volume; the one
re-evaluation is a single additional Catalyst plan.
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
from kenshin_backup_spark.queries.batch80 import _store_points
from kenshin_backup_spark.sources import load_table
from kenshin_backup_spark.sources.tables import staged_path

_ES = EPOCH_S_SQL.format(x="ts")

#: 'mon' in graphite's unit-prefix table = 30 days (attime._UNITS).
_MON = 30 * 86400

_T_NEGNODE = (
    "summarize(aliasByNode(groupByNode(*.*.*, -2, 'sum'), -1), "
    "'6hours', 'max')"
)


def graphite_negnode_summarize_units(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """r13 parity-wave composite cert: negative name nodes + the
    'mon'/'hours' prefix units + falsy maxDataPoints, one render (see
    module docstring)."""
    pts = _store_points(spark, sf_dir)
    eng = Engine(
        spark,
        staged_path(sf_dir, "negnode_store", tables=("events",)),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,),
                         agg="max")],
    )
    # exact raw bounds from the store-build pass (observe) — kills the
    # second full raw scan the bounds agg used to run (r16, guide §1.1);
    # every event row fans out to ≥1 store row with its ts verbatim, so
    # the written points' min/max equals the old bounds agg over pts
    lo_s, hi_s = eng.write(pts, observe_bounds=True)
    lo = lo_s - lo_s % 86400
    # now placed so that now - 1mon == lo exactly: the '-1mon' at-time
    # string must resolve through the r13 unit table to land the grid
    # on the day-aligned origin. INVARIANT: the events fixture spans
    # <= 30 days from its first midnight (true for every driver
    # testdata generation, rounds 1-14: Jan 1 - Jan 30), so
    # until = hi+1 <= now and the fetch clamp never bites. Checked
    # (ADVICE r14): a longer future fixture fails HERE with a
    # self-explanatory error instead of an opaque driver hash diff.
    now = lo + _MON
    if hi_s + 1 > now:
        raise AssertionError(
            "graphite_negnode_summarize_units: events fixture spans "
            f"{hi_s - lo} s from its first midnight (> {_MON} s = 1mon) — "
            "the query's '-1mon' window invariant no longer holds; "
            "re-derive `now` for the new fixture span"
        )
    out = eng.render(
        _T_NEGNODE, "-1mon", hi_s + 1, now_ts=now, max_data_points=0
    )
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_NEGNODE_SQL = f"""
WITH bounds AS (
  SELECT (MIN({_ES}) - MIN({_ES}) % 86400) AS lo,
         ((MAX({_ES}) + 1) // 3600) * 3600 AS hi
  FROM events
),
-- the batch80 store: per-metric hourly MAX of integral floors
hourly AS (
  SELECT 'svc.' || event_type || '.a' AS metric,
         CAST((({_ES}) // 3600) * 3600 AS BIGINT) AS h,
         CAST(MAX(FLOOR(value)) AS DOUBLE) AS v
  FROM events GROUP BY 1, 2
  UNION ALL
  SELECT 'svc.' || event_type || '.b',
         CAST((({_ES}) // 3600) * 3600 AS BIGINT),
         CAST(MAX(FLOOR(value / CAST(2 AS DOUBLE))) AS DOUBLE)
  FROM events GROUP BY 1, 2
  UNION ALL
  SELECT 'cap.' || event_type || '.total',
         CAST((({_ES}) // 3600) * 3600 AS BIGINT),
         CAST(MAX(FLOOR(value) * 3) AS DOUBLE)
  FROM events GROUP BY 1, 2
  UNION ALL
  SELECT 'cap.refund.total',
         CAST((({_ES}) // 3600) * 3600 AS BIGINT),
         CAST(MAX(FLOOR(value) + 7) AS DOUBLE)
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
-- groupByNode(-2, 'sum'): node -2 of the 3-part name = the middle
-- component; quantized NULL-ignoring sum per (group, hour)
grouped AS (
  SELECT split_part(metric, '.', 2) AS grp, h,
         CAST(SUM({qfloor_sql("v")}) / 1000000.0 AS DOUBLE) AS v
  FROM hourly GROUP BY 1, 2
),
grps AS (
  SELECT UNNEST(['click','error','purchase','refund','signup','view'])
         AS grp
),
slots AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, 3600)) AS BIGINT) AS h
  FROM bounds
),
ongrid AS (
  SELECT g.grp, s.h, m.v
  FROM grps g CROSS JOIN slots s
  LEFT JOIN grouped m ON m.grp = g.grp AND m.h = s.h
)
-- summarize('6hours', 'max'): epoch-aligned 6h re-bucket, gap-ignoring
-- max; lo is day-aligned so every coarse bucket starts on the grid
SELECT grp AS metric,
       CAST((h // 21600) * 21600 AS BIGINT) AS bucket_ts,
       MAX(v) AS value
FROM ongrid
GROUP BY 1, 2
ORDER BY 1, 2
"""


_T_REDUCE_NEG = (
    "reduceSeries(mapSeries(app.*.*, 1), 'asPercent', -1, "
    "'used', 'total')"
)
_T_APPLY_NEG = (
    "applyByNode(app.*.used, -1, 'sumSeries(%app.*.used)', '%all.used')"
)


def graphite_reduce_apply_negnode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADVICE-r13 cert: reduceSeries with a negative reduceNode +
    applyByNode(-1)'s empty prefix, over batch72's map/reduce tree (see
    module docstring — the first leg errors pre-fix, the second emits
    five series instead of one)."""
    ev = load_table(spark, sf_dir, "events")
    used = ev.select(
        F.concat(F.lit("app."), F.col("event_type"), F.lit(".used"))
        .alias("metric"),
        "ts",
        "value",
    )
    total = ev.select(
        F.concat(F.lit("app."), F.col("event_type"), F.lit(".total"))
        .alias("metric"),
        "ts",
        (F.col("value") * F.lit(2.0)).alias("value"),
    )
    eng = Engine(
        spark,
        staged_path(sf_dir, "negprefix_store", tables=("events",)),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,))],
    )
    # both union branches carry ev's ts verbatim, so the written points'
    # observed min/max equals the old bounds agg over ev (r16, guide §1.1)
    lo_s, hi_s = eng.write(used.unionByName(total), observe_bounds=True)
    lo = lo_s - lo_s % 86400
    # one request-scoped memo across both targets (overlapping app.* leaves)
    memo: dict = {}
    out = eng.render(_T_REDUCE_NEG, lo, hi_s + 1, memo=memo).unionByName(
        eng.render(_T_APPLY_NEG, lo, hi_s + 1, memo=memo)
    )
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_REDUCE_APPLY_NEG_SQL = f"""
WITH bounds AS (
  SELECT (MIN({_ES}) - MIN({_ES}) % 86400) AS lo,
         ((MAX({_ES}) + 1) // 3600) * 3600 AS hi
  FROM events
),
grid AS (
  SELECT CAST(UNNEST(generate_series(lo, hi, 3600)) AS BIGINT) AS h
  FROM bounds
),
-- the store holds hourly QAVG of used (= value) and total (= 2*value)
hourly AS (
  SELECT event_type AS et, CAST(({_ES} // 3600) * 3600 AS BIGINT) AS h,
         {QAVG_SQL.format(x="value")} AS used_v,
         {QAVG_SQL.format(x="value * 2.0")} AS total_v
  FROM events GROUP BY 1, 2
),
mets AS (
  SELECT UNNEST(['click','error','purchase','signup','view']) AS et
),
ongrid AS (
  SELECT m.et, g.h, c.used_v, c.total_v
  FROM grid g CROSS JOIN mets m
  LEFT JOIN hourly c ON c.h = g.h AND c.et = m.et
),
-- reduceSeries(..., 'asPercent', -1, ...): group key = nodes[0:-1]
-- = 'app.<etype>'; used/total*100 where the divisor exists and is
-- nonzero (same kernel the positive-node batch72 cert mirrors)
t1 AS (
  SELECT 'app.' || et AS metric, h AS bucket_ts,
         CAST(CASE WHEN total_v != 0 THEN used_v / total_v * 100.0 END
              AS DOUBLE) AS value
  FROM ongrid
),
-- applyByNode(-1): EMPTY prefix -> ONE evaluation of
-- sumSeries(app.*.used) renamed 'all.used' (quantized NULL-ignoring
-- sum across the five used series; all-gap hour -> NULL row)
t2 AS (
  SELECT 'all.used' AS metric, h AS bucket_ts,
         CAST(SUM({qfloor_sql("used_v")}) / 1000000.0 AS DOUBLE)
           AS value
  FROM ongrid
  GROUP BY h
)
SELECT metric, bucket_ts, value FROM t1
UNION ALL
SELECT metric, bucket_ts, value FROM t2
ORDER BY 1, 2
"""


QUERIES = {
    "graphite_negnode_summarize_units": graphite_negnode_summarize_units,
    "graphite_reduce_apply_negnode": graphite_reduce_apply_negnode,
}

ORACLE = {
    "graphite_negnode_summarize_units": _NEGNODE_SQL,
    "graphite_reduce_apply_negnode": _REDUCE_APPLY_NEG_SQL,
}
