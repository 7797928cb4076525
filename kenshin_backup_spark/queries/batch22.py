"""Batch-22 queries: Graphite series-function breadth (groupByNode /
aliasByNode / exclude / averageSeries / stdev / mostDeviant / sortByTotal),
the bucketed (no-theta-join) embedding near-dup, and the HLL rolling-WAU
scale twin.

The embedding near-dup here is the round-2 answer to the one all-pairs
hole in the dedup tier list: SRP-LSH banding with INTEGER hyperplanes is
deterministic in any engine, so — unlike MinHash/BRP — the bucketed
variant is fully oracle-checkable (candidate generation AND verification
replay exactly in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import EPOCH_S_SQL, qfloor_sql
from kenshin_backup_spark.operators import seriesfns as S
from kenshin_backup_spark.operators.rollup import finalize, rollup_partials
from kenshin_backup_spark.operators.similarity import (
    cosine_near_pairs_bucketed,
    srp_planes,
)
from kenshin_backup_spark.sources import load_table

_ES = EPOCH_S_SQL.format(x="ts")

#: shared 10-min average series frame over the synthetic dotted namespace
#: app.<event_type>.u<user_id%4> (the established metric-tree fixture).
_TEN_SQL = f"""
e AS (
  SELECT 'app.' || event_type || '.u' || CAST(user_id % 4 AS VARCHAR) AS metric,
         value, CAST(({_ES} // 600) * 600 AS BIGINT) AS bucket_ts
  FROM events
),
ten AS (
  SELECT metric, bucket_ts,
         CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS DOUBLE)
           / 1000000 / COUNT(value) AS value
  FROM e GROUP BY metric, bucket_ts
)
"""


def _ten_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    metric = F.concat_ws(
        ".",
        F.lit("app"),
        F.col("event_type"),
        F.concat(F.lit("u"), (F.col("user_id") % 4).cast("string")),
    )
    d = ev.select(metric.alias("metric"), "ts", "value")
    return finalize(
        rollup_partials(d, key_cols=["metric"], step_seconds=600), agg="average"
    ).select("metric", "bucket_ts", "value")


# --- groupByNode + aliasByNode --------------------------------------------

def graphite_groupbynode_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite ``groupByNode(1, 'sum')`` over the app.* tree: merge the 4
    per-user-shard series of each event_type into one summed series. The
    merged key is coarser than the input key — a shrinking, map-side-
    combinable hash aggregate (graphite-web does this per render, row by
    row in Python; here it is one Catalyst plan)."""
    ten = _ten_series(spark, sf_dir)
    g = S.group_by_node(ten, 1, "sum")
    return g.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_GROUPBYNODE_SQL = f"""
WITH {_TEN_SQL}
SELECT str_split(metric, '.')[2] AS metric, bucket_ts,
       CAST(SUM({qfloor_sql("value")}) AS DOUBLE) / 1000000.0 AS value
FROM ten GROUP BY 1, 2
"""


# --- exclude + averageSeries ----------------------------------------------

def graphite_exclude_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite ``averageSeries(exclude(app.*, 'error|signup'))``: drop the
    error/signup shards, then collapse everything to ONE mean series —
    the dashboard "overall rate excluding noise" expression. Composes
    lazily: filter + aggregate is a single plan, no per-function passes."""
    ten = _ten_series(spark, sf_dir)
    out = S.average_series(S.exclude(ten, "error|signup"), name="avgSeries")
    return out.select(
        "metric",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("value").cast("double").alias("value"),
    )


_EXCLUDE_AVG_SQL = f"""
WITH {_TEN_SQL}
SELECT 'avgSeries' AS metric, bucket_ts,
       CAST(SUM({qfloor_sql("value")}) AS DOUBLE)
         / 1000000.0 / COUNT(value) AS value
FROM ten
WHERE NOT regexp_matches(metric, 'error|signup')
GROUP BY 2
"""


# --- stdev + mostDeviant + sortByTotal ------------------------------------

def graphite_deviant_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The volatility dashboard: per-series population stdev (exact
    integer moments), total-based rank, filtered to ``mostDeviant(5)`` of
    the aliased per-type tree. Exercises stdev, sortByTotal, mostDeviant,
    aliasByNode in one composed plan."""
    ten = S.alias_by_node(_ten_series(spark, sf_dir), 1, 2)
    sd = S.series_stdev(ten)
    rk = S.sort_by_total(ten)
    top = S.most_deviant(ten, 5).select("metric").distinct()
    return (
        sd.join(rk, "metric")
        .join(F.broadcast(top), "metric")
        .select(
            "metric",
            F.col("n").cast("long").alias("n"),
            F.col("stdev").cast("double").alias("stdev"),
            F.col("series_total").cast("double").alias("series_total"),
            F.col("rank").cast("long").alias("total_rank"),
        )
    )


_DEVIANT_SQL = f"""
WITH {_TEN_SQL},
aliased AS (
  SELECT str_split(metric, '.')[2] || '.' || str_split(metric, '.')[3] AS metric,
         bucket_ts, value
  FROM ten
),
moments AS (
  SELECT metric,
         COUNT(value) AS n,
         SUM({qfloor_sql("value", 1000)}) AS s1,
         SUM({qfloor_sql("value", 1000)}
             * {qfloor_sql("value", 1000)}) AS s2
  FROM aliased GROUP BY 1
),
sd AS (
  SELECT metric, n,
         CASE WHEN n > 0 THEN
           sqrt(greatest(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE), 0.0))
             / (CAST(n AS DOUBLE) * 1000.0)
         END AS stdev
  FROM moments
),
totals AS (
  SELECT metric,
         CAST(SUM({qfloor_sql("value")}) AS DOUBLE) / 1000000.0 AS series_total
  FROM aliased GROUP BY 1
),
ranked AS (
  SELECT metric, series_total,
         CAST(ROW_NUMBER() OVER (ORDER BY series_total DESC, metric ASC)
              AS BIGINT) AS total_rank
  FROM totals
),
top AS (
  SELECT metric FROM (
    SELECT metric, ROW_NUMBER() OVER (ORDER BY stdev DESC, metric ASC) AS rk
    FROM sd) t
  WHERE rk <= 5
)
SELECT sd.metric, CAST(sd.n AS BIGINT) AS n, sd.stdev,
       ranked.series_total, ranked.total_rank
FROM sd JOIN ranked USING (metric) JOIN top USING (metric)
"""


# --- bucketed embedding near-dup (no theta-join) ---------------------------

_SRP_PLANES = 16
_SRP_BANDS = 4
#: The synthetic embeddings are near-random (measured max pairwise cosine
#: ≈ 0.513 at sf0.01), so a 0.9 threshold can only ever return 0 rows —
#: green but trivial. 0.35 makes the oracle check REAL surviving pairs
#: (banding recall + exact verify both exercised on non-empty output).
_SRP_THRESHOLD = 0.35


def dedup_embedding_cosine_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup WITHOUT the all-pairs theta-join (the 100 TB
    shape): integer-SRP-LSH band equi-join for candidates, exact quantized
    cosine to verify — the two-tier ``dedup_lsh_verified`` pattern applied
    to vectors. Deterministic banding ⇒ full DuckDB oracle, unlike the
    rows-only MinHash/BRP twins."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = cosine_near_pairs_bucketed(
        emb,
        threshold=_SRP_THRESHOLD,
        num_planes=_SRP_PLANES,
        bands=_SRP_BANDS,
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("cosine").cast("double").alias("cosine"),
    )


def _srp_sql() -> str:
    planes = srp_planes(_SRP_PLANES, 64)
    bits_per_band = _SRP_PLANES // _SRP_BANDS
    values = ",\n         ".join(
        f"({i}, {p})" for i, p in enumerate(planes)
    )
    return f"""
WITH q AS (
  SELECT vec_id AS id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
  FROM embeddings
),
planes AS (
  SELECT * FROM (VALUES {values}) AS t(p, comp)
),
bits AS (
  SELECT q.id, planes.p,
         CASE WHEN list_dot_product(q.v, planes.comp) > 0 THEN 1 ELSE 0 END AS b
  FROM q CROSS JOIN planes
),
bands AS (
  SELECT id, p // {bits_per_band} AS band,
         CAST(SUM(b * (1 << (p % {bits_per_band}))) AS BIGINT) AS key
  FROM bits GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.id < b.id
),
-- zero-norm guard (mirrors cosine_near_pairs_bucketed)
n AS (SELECT id, list_dot_product(v, v) AS n2 FROM q WHERE list_dot_product(v, v) > 0)
SELECT c.id_a, c.id_b,
       CAST(list_dot_product(qa.v, qb.v)
            / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
            AS DOUBLE) AS cosine
FROM cand c
JOIN q qa ON qa.id = c.id_a
JOIN q qb ON qb.id = c.id_b
JOIN n na ON na.id = c.id_a
JOIN n nb ON nb.id = c.id_b
WHERE list_dot_product(qa.v, qb.v)
        / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)) >= {_SRP_THRESHOLD}
"""


# --- HLL rolling WAU (scale twin of events_rolling_wau) --------------------

def events_rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users with HyperLogLog++ partial merge — the
    100 TB path the exact ``events_rolling_wau`` anchors: the per-day
    distinct state is a fixed-size sketch, so the contribute-forward
    shuffle carries O(days × sketch) bytes instead of O(days × users).
    Approximate (±2% rsd) → rows-only; an error-bound property test pins
    it to the exact twin."""
    ev = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts").cast("long")
    day_user = ev.select((es / 86400).cast("long").alias("day"), "user_id").distinct()
    days = day_user.select("day").distinct()
    contrib = day_user.select(
        F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("target_day"),
        "user_id",
    )
    wau = contrib.groupBy("target_day").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("wau_approx")
    )
    return (
        days.join(wau, days.day == wau.target_day)
        .select(
            (F.col("day") * 86400).cast("long").alias("day_ts"),
            F.col("wau_approx").cast("long").alias("wau_approx"),
        )
    )


QUERIES = {
    "graphite_groupbynode_sum": graphite_groupbynode_sum,
    "graphite_exclude_average": graphite_exclude_average,
    "graphite_deviant_rank": graphite_deviant_rank,
    "dedup_embedding_cosine_bucketed": dedup_embedding_cosine_bucketed,
    "events_rolling_wau_hll": events_rolling_wau_hll,
}

ORACLE = {
    "graphite_groupbynode_sum": _GROUPBYNODE_SQL,
    "graphite_exclude_average": _EXCLUDE_AVG_SQL,
    "graphite_deviant_rank": _DEVIANT_SQL,
    "dedup_embedding_cosine_bucketed": _srp_sql(),
    # events_rolling_wau_hll: HLL sketch is engine-specific → rows-only;
    # exact twin events_rolling_wau carries the oracle.
}
