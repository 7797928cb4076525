"""Batch-30 queries (round 3): the driver-checkable SCALABLE ANN top-k
(SRP banding + exact verify — closes SURVEY §2.9 X3's last gap, where the
only driver-green top-k was brute force), and the update-mode merge-upsert
sink faced against the oracle end-to-end (S3's write-behind semantic,
previously pytest-only).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import EPOCH_S_SQL, QAVG_SQL, QSUM_SQL
from kenshin_backup_spark.operators.dedup import (
    MINHASH_P,
    minhash_params,
    minhash_portable_pairs,
)
from kenshin_backup_spark.operators.rollup import finalize
from kenshin_backup_spark.operators.similarity import srp_planes, srp_topk
from kenshin_backup_spark.sources import load_table

_ES = EPOCH_S_SQL.format(x="ts")
_NORM = "trim(regexp_replace(lower({x}), '\\s+', ' ', 'g'))"


# --- X3: SRP-banded ANN top-k (the scalable, oracle-checkable top-k) --------

#: 24 planes / 4 bands = 6-bit band keys → expected candidate fraction
#: bands/2^bits = 4/64 ≈ 6% of the corpus per query (vs 25% at 4-bit) —
#: the selectivity a 100 TB top-k actually wants; near-identical vectors
#: still collide on some band w.h.p.
_TOPK_PLANES = 24
_TOPK_BANDS = 4
_TOPK_K = 5


def emb_ann_topk_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via integer-SRP band equi-join + exact quantized-cosine
    verify — the 100 TB top-k plan (no cross join anywhere), yet fully
    DuckDB-oracle-checkable because the banding is integer-deterministic.
    Replaces brute-force ``emb_cosine_topk`` as X3's representative at
    scale; the brute-force twin remains the exact-recall baseline."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 20)
    out = srp_topk(
        queries, emb, k=_TOPK_K, num_planes=_TOPK_PLANES, bands=_TOPK_BANDS
    )
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("neighbor_id").cast("long").alias("neighbor_id"),
        "cosine",
        "rank",
    )


def _srp_topk_sql() -> str:
    planes = srp_planes(_TOPK_PLANES, 64)
    bits_per_band = _TOPK_PLANES // _TOPK_BANDS
    values = ",\n         ".join(f"({i}, {p})" for i, p in enumerate(planes))
    return f"""
WITH q0 AS (
  SELECT vec_id AS id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS v
  FROM embeddings
),
-- zero-norm guard (mirrors srp_topk): NaN cosines rank differently in
-- Spark vs DuckDB, so zero vectors are excluded on both sides
q AS (SELECT id, v FROM q0 WHERE list_dot_product(v, v) > 0),
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
  SELECT DISTINCT qb.id AS query_id, cb.id AS neighbor_id
  FROM bands qb JOIN bands cb ON qb.band = cb.band AND qb.key = cb.key
  WHERE qb.id < 20 AND qb.id != cb.id
),
n AS (SELECT id, list_dot_product(v, v) AS n2 FROM q),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         CAST(list_dot_product(qa.v, qb.v)
              / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))
              AS DOUBLE) AS cosine
  FROM cand c
  JOIN q qa ON qa.id = c.query_id
  JOIN q qb ON qb.id = c.neighbor_id
  JOIN n na ON na.id = c.query_id
  JOIN n nb ON nb.id = c.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (
             PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
           ) AS BIGINT) AS rank
  FROM scored
) t WHERE rank <= {_TOPK_K}
"""


# --- S3: update-mode merge-upsert sink, oracle-faced ------------------------

def streaming_update_sink_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The update-mode write-behind path (S3) end-to-end: the events stream
    is split into 4 files and replayed one file per micro-batch
    (``maxFilesPerTrigger=1`` — T5 backpressure), so the 1h rollup emits
    revised OPEN buckets across four batches and
    :func:`upsert_rollup_partitions` must merge each revision into the
    date-partitioned sink without losing un-revised buckets.

    The watermark is set beyond the data's span so no row is ever dropped
    regardless of file replay order — making the final merged table exactly
    the batch rollup, hence fully oracle-checkable. (Watermark *drop*
    semantics are oracle-faced separately by ``streaming_sharded_rollup``.)
    """
    from kenshin_backup_spark.session import tune
    from kenshin_backup_spark.streaming.ingest import (
        bounded_file_stream,
        start_query,
        streaming_rollup,
        write_rollup_sink,
    )

    tune(spark)
    from kenshin_backup_spark.sources.tables import staged_path

    safe = sf_dir.strip("/").replace("/", "_")
    # Fingerprint-keyed + stale-generation reaping: a path-keyed copy would
    # replay stale data after the driver regenerates testdata, and old
    # fingerprints would leak disk (see sources.tables.staged_path).
    src_dir = staged_path(
        sf_dir, "events_split4", base="/tmp/kenshin_stream_src", tables=("events",)
    )
    if not os.path.exists(os.path.join(src_dir, "_SUCCESS")):
        # Stage once per sf_dir: deterministic input, only layout varies.
        load_table(spark, sf_dir, "events").repartition(4).write.mode(
            "overwrite"
        ).parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema
    stream = bounded_file_stream(spark, src_dir, schema, max_files_per_trigger=1)
    # ts in the staged copy is already TimestampType (normalized at load),
    # but keep the loader-agnostic guard for robustness.
    from kenshin_backup_spark.sources.tables import normalize_event_time

    stream = normalize_event_time(stream)
    rolled = streaming_rollup(
        stream, key_col="event_type", step_seconds=3600, watermark="3650 days"
    )
    path = f"/tmp/kenshin_sink/{safe}/update_rollup"
    chk = f"/tmp/kenshin_sink/{safe}/update_rollup_chk"
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(chk, ignore_errors=True)
    # replay_each_epoch: every micro-batch is applied twice (the
    # at-least-once crash-replay simulation) — the driver hash against the
    # batch oracle therefore certifies the merge-upsert is exactly-once.
    q = start_query(
        write_rollup_sink(rolled, path, chk, replay_each_epoch=True)
        .trigger(availableNow=True)
    )
    q.awaitTermination()
    back = spark.read.parquet(path).drop("date")
    wide = finalize(back)
    return wide.select(
        "event_type",
        F.col("bucket_ts").cast("long").alias("bucket_ts"),
        F.col("cnt").cast("long").alias("n_points"),
        "sum_value",
        "avg_value",
        "min_value",
        "max_value",
        "last_value",
    )


_UPDATE_SINK_SQL = f"""
WITH e AS (
  SELECT event_type, value,
         CAST({_ES} AS BIGINT) AS es,
         CAST(({_ES} // 3600) * 3600 AS BIGINT) AS bucket_ts
  FROM events
),
agg AS (
  SELECT event_type, bucket_ts,
         COUNT(value) AS n_points,
         {QSUM_SQL.format(x="value")} AS sum_value,
         {QAVG_SQL.format(x="value")} AS avg_value,
         MIN(value) AS min_value,
         MAX(value) AS max_value
  FROM e GROUP BY 1, 2
),
lastv AS (
  SELECT event_type, bucket_ts, value AS last_value FROM (
    SELECT event_type, bucket_ts, value,
           ROW_NUMBER() OVER (PARTITION BY event_type, bucket_ts
                              ORDER BY es DESC, value DESC) AS rn
    FROM e WHERE value IS NOT NULL) t
  WHERE rn = 1
)
SELECT a.event_type, a.bucket_ts, a.n_points, a.sum_value, a.avg_value,
       a.min_value, a.max_value, l.last_value
FROM agg a
LEFT JOIN lastv l ON l.event_type = a.event_type AND l.bucket_ts = a.bucket_ts
"""


# --- X2: portable MinHash LSH (the oracle-checkable MinHash) ----------------

_MH_HASHES = 16
_MH_BANDS = 4
_MH_THRESHOLD = 0.5


def dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup dedup with portable integer hashing: universal
    hashes over md5-based shingle ids, 31^j positional band keys, band
    equi-join, exact Jaccard verify — candidate generation AND verification
    reproduce bit-for-bit in DuckDB, upgrading MinHash from rows-only
    (Spark-ML private hashes) to driver-green. The production-scale LSH
    dedup shape, fully oracle-faced."""
    docs = load_table(spark, sf_dir, "documents")
    out = minhash_portable_pairs(
        docs,
        num_hashes=_MH_HASHES,
        bands=_MH_BANDS,
        threshold=_MH_THRESHOLD,
    )
    return out.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("common").cast("long").alias("common"),
        F.col("size_a").cast("long").alias("size_a"),
        F.col("size_b").cast("long").alias("size_b"),
        "jaccard",
    )


def _minhash_sql(threshold: float | None = _MH_THRESHOLD) -> str:
    where = (
        "WHERE CAST(common AS DOUBLE) / (size_a + size_b - common)"
        f" >= {threshold}"
        if threshold is not None
        else ""
    )
    rows_per_band = _MH_HASHES // _MH_BANDS
    params = minhash_params(_MH_HASHES)
    param_values = ",\n         ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(params)
    )
    weight_case = " ".join(
        f"WHEN {j} THEN {31**j}" for j in range(rows_per_band)
    )
    return f"""
WITH norm AS (
  SELECT doc_id, str_split({_NORM.format(x="text")}, ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 2, 0)),
           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM norm WHERE len(w) >= 3
),
posting AS (SELECT doc_id, UNNEST(sh) AS g FROM grams),
hm AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(g), 1, 15) AS BIGINT) % {MINHASH_P} AS h
  FROM posting
),
params AS (SELECT * FROM (VALUES {param_values}) AS t(i, a, b)),
minh AS (
  SELECT hm.doc_id, params.i,
         MIN((params.a * hm.h + params.b) % {MINHASH_P}) AS mh
  FROM hm CROSS JOIN params
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, i // {rows_per_band} AS band,
         CAST(SUM(mh * (CASE i % {rows_per_band} {weight_case} END))
              AS BIGINT) AS key
  FROM minh GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.id_a, c.id_b,
         CAST(len(list_intersect(ga.sh, gb.sh)) AS BIGINT) AS common,
         CAST(len(ga.sh) AS BIGINT) AS size_a,
         CAST(len(gb.sh) AS BIGINT) AS size_b
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b
)
SELECT id_a, id_b, common, size_a, size_b,
       CAST(common AS DOUBLE) / (size_a + size_b - common) AS jaccard
FROM verified
{where}
"""


QUERIES = {
    "emb_ann_topk_srp": emb_ann_topk_srp,
    "streaming_update_sink_rollup": streaming_update_sink_rollup,
    "dedup_minhash_portable": dedup_minhash_portable,
}

ORACLE = {
    "emb_ann_topk_srp": _srp_topk_sql(),
    "streaming_update_sink_rollup": _UPDATE_SINK_SQL,
    "dedup_minhash_portable": _minhash_sql(),
}
