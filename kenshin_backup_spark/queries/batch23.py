"""Batch-23 queries: training-data decontamination, sentence-level exact
dedup, and graphite series arithmetic (divideSeries, min/max band).

Decontamination is the missing tier of the dedup story: before training,
every document overlapping an evaluation/benchmark set must be flagged —
the standard method is n-gram collision (the 13-gram rule scaled to this
corpus' short documents). The benchmark side is small by construction, so
the plan is a broadcast gram-set semi-join against the scan — no shuffle
of the corpus at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import EPOCH_S_SQL, qfloor_sql
from kenshin_backup_spark.operators import seriesfns as S
from kenshin_backup_spark.operators.dedup import normalize_text, with_shingles
from kenshin_backup_spark.operators.rollup import finalize, rollup_partials
from kenshin_backup_spark.sources import load_table

_ES = EPOCH_S_SQL.format(x="ts")

#: DuckDB mirror of normalize_text
_NORM = "trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"

#: doc_id % 97 == 0 → a deterministic ~1% pseudo-benchmark slice. In a real
#: pipeline this side is the actual eval-set text; the plan is identical.
_BENCH_PRED = "doc_id % 97 = 0"
_DECON_N = 5


def llm_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    {n}-gram with the (pseudo-)benchmark slice; report the collision count
    per contaminated document.

    Plan shape (the 100 TB gate): the benchmark gram universe is tiny →
    distinct + broadcast; the corpus side explodes grams scan-side and
    equi-joins the broadcast — one pass over the corpus, zero corpus
    shuffle before the per-doc count aggregation.
    """
    docs = load_table(spark, sf_dir, "documents")
    shingled = with_shingles(
        docs.select("doc_id", "text"), text_col="text", n=_DECON_N
    )
    grams = shingled.select("doc_id", F.explode("sh").alias("g"))
    bench_grams = (
        grams.where(F.expr(_BENCH_PRED)).select("g").distinct()
    )
    corpus = grams.where(~F.expr(_BENCH_PRED))
    return (
        corpus.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_collisions"))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_collisions").cast("long").alias("n_collisions"),
        )
    )


_DECON_SQL = f"""
WITH norm AS (
  SELECT doc_id, str_split({_NORM.format(x="text")}, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct(list_transform(
           generate_series(1, greatest(len(w) - {_DECON_N - 1}, 0)),
           i -> array_to_string(w[i:i+{_DECON_N - 1}], ' ')))) AS g
  FROM norm
),
bench AS (
  SELECT DISTINCT g FROM grams WHERE {_BENCH_PRED}
)
SELECT c.doc_id, COUNT(*) AS n_collisions
FROM grams c JOIN bench USING (g)
WHERE NOT ({_BENCH_PRED.replace("doc_id", "c.doc_id")})
GROUP BY 1
"""


# --- sentence-level exact dedup -------------------------------------------

def dedup_sentence_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-level exact dedup: split documents into sentences, count
    how many distinct documents repeat each (normalized, ≥ 4 words)
    sentence — the boilerplate/template detector that document-level
    dedup misses. Reports sentences appearing in ≥ 2 documents.

    Scale: sentences explode scan-side; the only shuffle keys the md5
    fingerprint (32 bytes), not the sentence text.
    """
    docs = load_table(spark, sf_dir, "documents")
    sent = docs.select(
        "doc_id",
        F.explode(F.split("text", r"[.!?]+")).alias("raw"),
    ).select("doc_id", normalize_text(F.col("raw")).alias("s"))
    sent = sent.where(F.size(F.split("s", " ")) >= 4)
    return (
        sent.groupBy(F.md5("s").alias("sent_fp"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
        .select("sent_fp", F.col("n_docs").cast("long").alias("n_docs"), "first_doc")
    )


_SENT_SQL = f"""
WITH raw AS (
  SELECT doc_id, UNNEST(string_split_regex(text, '[.!?]+')) AS r
  FROM documents
),
sent AS (
  SELECT doc_id, {_NORM.format(x="r")} AS s FROM raw
),
kept AS (
  SELECT doc_id, s FROM sent WHERE len(str_split(s, ' ')) >= 4
)
SELECT md5(s) AS sent_fp,
       COUNT(DISTINCT doc_id) AS n_docs,
       MIN(doc_id) AS first_doc
FROM kept GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
"""


# --- graphite series arithmetic -------------------------------------------

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


def graphite_divide_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite ``divideSeries(sumSeries(grep('error')), sumSeries(*))``:
    the per-bucket error *share* — the canonical SLO ratio panel. Both
    numerator and denominator are quantized-exact sums; the ratio is one
    double division. Buckets with no error series yield NULL numerator →
    ratio NULL (graphite's None semantics)."""
    ten = _ten_series(spark, sf_dir)
    num = S.sum_series(S.grep(ten, r"\.error\."), name="err").select(
        "bucket_ts", F.col("value").alias("err_sum")
    )
    den = S.sum_series(ten, name="all").select(
        "bucket_ts", F.col("value").alias("all_sum")
    )
    out = den.join(num, "bucket_ts", "left")
    ratio = F.when(
        F.col("all_sum") != 0.0, F.col("err_sum") / F.col("all_sum")
    ).cast("double")
    return out.select(
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("err_sum").cast("double").alias("err_sum"),
        F.col("all_sum").cast("double").alias("all_sum"),
        ratio.alias("err_ratio"),
    )


_DIVIDE_SQL = f"""
WITH {_TEN_SQL},
num AS (
  SELECT bucket_ts,
         CAST(SUM({qfloor_sql("value")}) AS DOUBLE) / 1000000.0 AS err_sum
  FROM ten WHERE regexp_matches(metric, '\\.error\\.') GROUP BY 1
),
den AS (
  SELECT bucket_ts,
         CAST(SUM({qfloor_sql("value")}) AS DOUBLE) / 1000000.0 AS all_sum
  FROM ten GROUP BY 1
)
SELECT den.bucket_ts, num.err_sum, den.all_sum,
       CASE WHEN den.all_sum <> 0.0 THEN num.err_sum / den.all_sum END AS err_ratio
FROM den LEFT JOIN num ON num.bucket_ts = den.bucket_ts
"""


def graphite_minmax_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graphite ``maxSeries``/``minSeries`` envelope: per bucket, the max
    and min across the per-type summed series plus the band width — the
    capacity-planning spread panel."""
    ten = _ten_series(spark, sf_dir)
    per_type = S.group_by_node(ten, 1, "sum")
    band = per_type.groupBy("bucket_ts").agg(
        F.max("value").alias("band_max"), F.min("value").alias("band_min")
    )
    return band.select(
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("band_max").cast("double").alias("band_max"),
        F.col("band_min").cast("double").alias("band_min"),
        (F.col("band_max") - F.col("band_min")).cast("double").alias("band_width"),
    )


_MINMAX_SQL = f"""
WITH {_TEN_SQL},
per_type AS (
  SELECT str_split(metric, '.')[2] AS metric, bucket_ts,
         CAST(SUM({qfloor_sql("value")}) AS DOUBLE) / 1000000.0 AS value
  FROM ten GROUP BY 1, 2
),
band AS (
  SELECT bucket_ts, MAX(value) AS band_max, MIN(value) AS band_min
  FROM per_type GROUP BY 1
)
SELECT bucket_ts, band_max, band_min, band_max - band_min AS band_width
FROM band
"""


QUERIES = {
    "llm_decontamination": llm_decontamination,
    "dedup_sentence_exact": dedup_sentence_exact,
    "graphite_divide_series": graphite_divide_series,
    "graphite_minmax_band": graphite_minmax_band,
}

ORACLE = {
    "llm_decontamination": _DECON_SQL,
    "dedup_sentence_exact": _SENT_SQL,
    "graphite_divide_series": _DIVIDE_SQL,
    "graphite_minmax_band": _MINMAX_SQL,
}
