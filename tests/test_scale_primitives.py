"""Exactness tests for the scale primitives: salted rollup == unsalted,
hot/disk merge == rollup over the union, pandas as-of == window as-of."""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kenshin_backup_spark.operators.joins import asof_join
from kenshin_backup_spark.operators.rollup import (
    finalize,
    merge_partials,
    rollup_partials,
    rollup_partials_salted,
)

UTC = dt.timezone.utc


def merge_hot(
    disk: DataFrame, hot: DataFrame, *, key_cols: list[str]
) -> DataFrame:
    """Reference cache-query merge (SURVEY §2.1 S7): union the not-yet-
    flushed streaming partials ("hot") with the materialized disk level
    and re-merge per bucket. Hot and disk partials come from DISJOINT
    point sets, so, as all partial state is associative, the merged
    bucket equals a rollup over the union of the points."""
    cols = [*key_cols, "bucket_ts", "cnt", "sum_q", "min_v", "max_v", "last_ts", "last_v"]
    return merge_partials(
        disk.select(cols).unionByName(hot.select(cols)), key_cols=key_cols
    )


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_col: str,
    suffix: str = "_asof",
) -> DataFrame:
    """As-of join via per-group ``pd.merge_asof`` under ``applyInPandas``
    (backward, inclusive): the oracle ``asof_join``'s union-and-window
    plan is checked against."""
    import pandas as pd

    out_val = f"{value_col}{suffix}"
    out_ts = f"{right_ts}{suffix}_ts"
    l_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in left.schema)
    vt = dict((f.name, f.dataType.simpleString()) for f in right.schema)[value_col]
    schema = f"{l_fields}, {out_val} {vt}, {out_ts} bigint"

    left_names = list(left.columns)

    def _merge(key, lpdf: "pd.DataFrame", rpdf: "pd.DataFrame") -> "pd.DataFrame":
        lpdf = lpdf.sort_values("__lt")
        if rpdf.empty:
            out = lpdf[left_names].copy()
            out[out_val] = None
            out[out_ts] = None
            return out
        rpdf = rpdf.sort_values("__rt")[["__rt", value_col]].rename(
            columns={value_col: "__rv"}
        )
        merged = pd.merge_asof(
            lpdf, rpdf, left_on="__lt", right_on="__rt", direction="backward"
        )
        merged[out_val] = merged["__rv"]
        merged[out_ts] = merged["__rt"]
        return merged[[*left_names, out_val, out_ts]]

    l2 = left.withColumn("__lt", F.unix_timestamp(F.col(left_ts)).cast("long"))
    r2 = right.withColumn("__rt", F.unix_timestamp(F.col(right_ts)).cast("long"))
    return (
        l2.groupBy(on)
        .cogroup(r2.groupBy(on))
        .applyInPandas(_merge, schema)
    )


_PARTIAL_COLS = ["metric", "bucket_ts", "cnt", "sum_q", "min_v", "max_v",
                 "last_ts", "last_v"]


def _points(spark, seed=7, n=800):
    rng = random.Random(seed)
    rows = [
        ("hot.metric" if rng.random() < 0.8 else f"m{rng.randint(0, 5)}",
         dt.datetime.fromtimestamp(rng.randint(0, 50_000), UTC),
         round(rng.uniform(-100, 100), 2))
        for _ in range(n)
    ]
    return spark.createDataFrame(rows, "metric string, ts timestamp, value double")


def test_salted_rollup_equals_unsalted(spark):
    df = _points(spark)
    plain = rollup_partials(df, key_cols=["metric"], step_seconds=600)
    salted = rollup_partials_salted(
        df, key_cols=["metric"], step_seconds=600, salt_buckets=8
    )
    a = sorted(map(tuple, plain.select(_PARTIAL_COLS).collect()))
    b = sorted(map(tuple, salted.select(_PARTIAL_COLS).collect()))
    assert a == b


def test_merge_hot_equals_union_rollup(spark):
    df = _points(spark, seed=11)
    # split points like cache-vs-flushed: disjoint by event time parity
    flushed = df.where(F.unix_timestamp("ts") % 2 == 0)
    hot = df.where(F.unix_timestamp("ts") % 2 == 1)
    disk_parts = rollup_partials(flushed, key_cols=["metric"], step_seconds=600)
    hot_parts = rollup_partials(hot, key_cols=["metric"], step_seconds=600)
    merged = merge_hot(disk_parts, hot_parts, key_cols=["metric"])
    direct = rollup_partials(df, key_cols=["metric"], step_seconds=600)
    a = sorted(map(tuple, merged.select(_PARTIAL_COLS).collect()))
    b = sorted(map(tuple, direct.select(_PARTIAL_COLS).collect()))
    assert a == b


def test_asof_pandas_equals_window(spark):
    rng = random.Random(3)
    lrows = [(i, f"u{rng.randint(0, 4)}", dt.datetime.fromtimestamp(rng.randint(0, 9000), UTC))
             for i in range(120)]
    rrows = [(f"u{rng.randint(0, 5)}", dt.datetime.fromtimestamp(rng.randint(0, 9000), UTC),
              float(rng.randint(0, 100)))
             for _ in range(150)]
    left = spark.createDataFrame(lrows, "id long, user string, ts timestamp")
    # dedupe right per (user, second) so both variants face unique as-of keys
    right = (
        spark.createDataFrame(rrows, "user string, ts timestamp, v double")
        .groupBy("user", "ts").agg(F.max("v").alias("v"))
    )
    w = asof_join(left, right, on=["user"], value_cols=["v"])
    p = asof_join_pandas(left, right, on="user", value_col="v")
    cols = ["id", "user", "v_asof", "ts_asof_ts"]
    a = sorted(map(tuple, w.select(cols).collect()))
    b = sorted(map(tuple, p.select(cols).collect()))
    assert a == b


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling is the engine's runtime answer to hot keys in
    fact-fact joins (SCALE.md): one reducer owning a hot key's entire
    partition is split into parallel slices. Thresholds are lowered so the
    local fixture trips the same code path a 100 TB hot key would."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # hot key 0 carries 2M incompressible-payload rows; 100 cold keys
        payload = F.pmod(F.xxhash64(F.col("id")), F.lit(1_000_000))
        hot = spark.range(0, 2_000_000).select(F.lit(0).alias("k"), payload.alias("x"))
        cold = spark.range(0, 8_000).select(
            (F.col("id") % 100 + 1).alias("k"), payload.alias("x")
        )
        right = spark.range(0, 101).select(F.col("id").alias("k"), (F.col("id") * 10).alias("y"))
        j = hot.union(cold).join(right, "k").agg(
            F.sum("x").alias("sx"), F.sum("y").alias("sy")
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert "skewed" in plan  # AQEShuffleRead ... skewed
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_wau_hll_within_error_bound(spark):
    """The HLL rolling-WAU scale twin must track the exact contribute-forward
    WAU within the sketch's error envelope on every target day."""
    from kenshin_backup_spark.queries.batch21 import events_rolling_wau
    from kenshin_backup_spark.queries.batch22 import events_rolling_wau_hll

    sf = "/root/testdata/sf0.001"
    exact = {r["day_ts"]: r["wau"] for r in events_rolling_wau(spark, sf).collect()}
    approx = {r["day_ts"]: r["wau_approx"]
              for r in events_rolling_wau_hll(spark, sf).collect()}
    assert set(exact) == set(approx)
    for k, v in exact.items():
        assert abs(approx[k] - v) <= max(5, 0.1 * v), (k, v, approx[k])


def test_approx_distinct_parts_error_bound(spark):
    """approx_count_distinct defaults to 5% rsd; each group's HLL estimate
    must land within 3×rsd of the exact distinct count it ships alongside."""
    from kenshin_backup_spark.queries.advanced import approx_distinct_parts

    rows = approx_distinct_parts(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert abs(r["approx_parts"] - r["exact_parts"]) <= max(
            1, 0.15 * r["exact_parts"]
        ), dict(r.asDict())


def test_lsh_verified_pairs_subset_of_exact_with_same_scores(spark):
    """dedup_lsh_verified (rows-only): every verified pair must appear in
    the exhaustive posting-join result with the IDENTICAL exact jaccard —
    LSH affects candidate recall, never the verified score — and the
    obvious near-dup pairs the corpus plants must be recalled."""
    from kenshin_backup_spark.operators.dedup import ngram_jaccard_pairs
    from kenshin_backup_spark.queries.batch18 import dedup_lsh_verified
    from kenshin_backup_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup_lsh_verified(spark, sf).collect()
    }
    docs = load_table(spark, sf, "documents")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()
    }
    assert got  # fixture plants near-duplicates
    for k, v in got.items():
        assert k in exact and v == exact[k], k
    # high-jaccard exact pairs (>=0.9) are near-certain LSH collisions
    strong = {k for k, v in exact.items() if v >= 0.9}
    recalled = strong & set(got)
    assert len(recalled) >= 0.8 * len(strong)


# --- scalepat: scale-safe global idioms == unpartitioned-window results -----

def _kv(spark, seed=23, n=777):
    rng = random.Random(seed)
    rows = [(i, rng.randint(-500, 500)) for i in range(n)]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "id long, v long")


def test_with_global_prefix_matches_unpartitioned_window(spark):
    from pyspark.sql import Window as W

    from kenshin_backup_spark.operators.scalepat import with_global_prefix

    df = _kv(spark)
    order = [F.desc("v"), F.asc("id")]
    got = with_global_prefix(
        df, order, sums={"cum": "v"}, row_number_col="rn", num_partitions=7
    )
    w = W.orderBy(*order)
    want = df.select(
        "id",
        "v",
        F.sum("v").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("cum"),
        F.row_number().over(w).cast("long").alias("rn"),
    )
    a = sorted(map(tuple, got.select("id", "v", "cum", "rn").collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b


def test_ntile_expr_matches_sql_ntile(spark):
    from pyspark.sql import Window as W

    from kenshin_backup_spark.operators.scalepat import (
        ntile_expr,
        with_global_prefix,
        with_global_scalars,
    )

    for n, buckets in [(777, 4), (16, 4), (3, 4), (100, 7)]:
        df = _kv(spark, seed=n, n=n)
        order = [F.asc("v"), F.asc("id")]
        got = with_global_prefix(
            with_global_scalars(df, n=F.count(F.lit(1))), order, row_number_col="rn"
        ).select("id", ntile_expr(F.col("rn"), F.col("n"), buckets).alias("t"))
        want = df.select(
            "id", F.ntile(buckets).over(W.orderBy(*order)).cast("long").alias("t")
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_global_topk_matches_sorted_head(spark):
    from kenshin_backup_spark.operators.scalepat import global_topk

    df = _kv(spark, seed=5)
    got = [tuple(r) for r in global_topk(df, [F.desc("v"), F.asc("id")], 25).collect()]
    want = sorted(map(tuple, df.collect()), key=lambda r: (-r[1], r[0]))[:25]
    assert got == want


def test_tracked_persists_cleared_when_next_query_builds(spark):
    from kenshin_backup_spark import cache

    df = spark.range(10).transform(cache.persist_tracked)
    df.count()
    assert df.is_cached
    cache.clear_tracked()
    assert not df.is_cached
    # registry queries clear the previous query's caches on build
    from kenshin_backup_spark.queries import queries
    from tests.conftest import SF_SMOKE

    qs = queries()
    df2 = spark.range(10).transform(cache.persist_tracked)
    qs["tpch_q1_pricing_summary"](spark, SF_SMOKE)
    assert not df2.is_cached


def test_pca_contracts(spark):
    """PCA algebraic contracts (the rows-only operator's evidence):
    components orthonormal; per-component projection variance equals the
    eigenvalue; explained-variance shares sum below 1; projections
    reproduce numpy's reference PCA up to the canonical sign."""
    import numpy as np

    from kenshin_backup_spark.operators.linalg import pca_fit, pca_project

    rng = np.random.default_rng(11)
    # anisotropic cloud: variance concentrated in two known directions
    base = rng.normal(size=(300, 8)) * np.array([5, 3, 1, 1, 0.5, 0.5, 0.2, 0.1])
    rows = [(i, [float(v) for v in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    comps, evals, mean, total_var = pca_fit(df, k=3)
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(3), atol=1e-8)  # orthonormal
    assert evals[0] >= evals[1] >= evals[2] > 0
    assert sum(evals) <= total_var + 1e-9

    proj = pca_project(df, comps, mean)
    P = np.array(
        [r.proj for r in proj.select("proj").orderBy("vec_id").collect()]
    )
    # projection variance equals the eigenvalue (population convention)
    got_var = P.var(axis=0)
    assert np.allclose(got_var, evals, rtol=1e-6)
    # cross-check against numpy's reference eigensolve on the exact cov
    X = base - base.mean(axis=0)
    ref_cov = (X.T @ X) / len(X)
    ref_evals = np.sort(np.linalg.eigvalsh(ref_cov))[::-1][:3]
    assert np.allclose(evals, ref_evals, rtol=1e-6)
