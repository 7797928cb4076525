"""Rollup (downsample) kernels — the reference's entire compute surface.

Reference semantics (SURVEY.md §2.3, from ``kenshin/agg.py`` +
``kenshin/storage.py propagate`` — public-repo paths; the mount was empty,
see SURVEY.md §0): points are bucketed by ``ts - ts % step`` and reduced by
one of five aggregation kernels {average, sum, last, max, min}; a bucket is
written only if ``known / total >= xFilesFactor``, else it stays a gap;
coarser archives are cascaded from finer ones.

Spark mapping: one ``groupBy(metric, aligned_ts)`` per retention level with
*composable partial state* carried between levels:

    cnt      BIGINT  -- non-null points in bucket
    sum_q    BIGINT  -- exact quantized sum (functions.deterministic.QUANT)
    min_v    DOUBLE
    max_v    DOUBLE
    last_ts  BIGINT  -- epoch seconds of latest point (tie → larger value)
    last_v   DOUBLE

All six compose associatively, so ``cascade(cascade(x, 60), 600)`` equals
``rollup(x, 600)`` exactly — including ``average`` (carried as (sum, count);
never avg-of-avg — SURVEY.md §7 hard-part 1). This is what lets a 100 TB
deployment build the 10-minute level from the 1-minute *table* instead of
re-reading raw data (reference O4), a 10-600× input reduction per level.

Scale notes (100 TB): the groupBy is a single hash-aggregate with map-side
partial aggregation (Spark splits partial/final natively — §2.3 A8); no
UDFs, fully whole-stage-codegen'd. Rollup tables are written partitioned by
``date(bucket)`` so fetch prunes partitions, mirroring the reference's O(1)
ring-buffer seek with partition pruning (§4.1 O2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import QUANT

#: The five reference aggregation kernels (kenshin/agg.py, SURVEY §2.3).
AGG_KERNELS = ("average", "sum", "last", "max", "min")


def align_epoch(ts: Column | str, step_seconds: int | Column) -> Column:
    """Whisper bucket alignment ``ts - ts % step`` → epoch-seconds BIGINT.
    ``step_seconds`` may be a column (a per-row step).

    Floors toward -inf on the epoch integer — identical to DuckDB
    ``(epoch_ms(ts)//1000 // step) * step`` (SURVEY §7 hard-part 6).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    e = F.unix_timestamp(c)
    return ((e - (e % step_seconds))).cast("long")


def rollup_partials(
    df: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    step_seconds: int | Column,
) -> DataFrame:
    """Level-0 rollup: raw points → one bucket row per (keys, bucket_ts)
    carrying the composable partial state described in the module doc.
    ``step_seconds`` may be a column (a per-row step).

    Output: ``key_cols + [bucket_ts, cnt, sum_q, min_v, max_v, last_ts, last_v]``.
    """
    v = F.col(value_col)
    t = F.col(ts_col)
    bucket = align_epoch(t, step_seconds).alias("bucket_ts")
    last_struct = F.max(
        F.when(
            v.isNotNull(),
            F.struct(F.unix_timestamp(t).cast("long").alias("ts"), v.alias("v")),
        )
    )
    return (
        df.groupBy(*key_cols, bucket)
        .agg(
            F.count(v).alias("cnt"),
            F.sum(F.floor(v * QUANT).cast("long")).alias("sum_q"),
            F.min(v).alias("min_v"),
            F.max(v).alias("max_v"),
            last_struct["ts"].alias("last_ts"),
            last_struct["v"].alias("last_v"),
        )
    )


def cascade(
    partials: DataFrame,
    *,
    key_cols: list[str],
    step_seconds: int | Column,
) -> DataFrame:
    """Coarser level from a finer partials table (reference ``propagate``).
    ``step_seconds`` may be a column (a per-row step).

    Exactly equivalent to :func:`rollup_partials` at ``step_seconds`` run
    directly on the raw points (property-tested in tests/test_rollup.py).
    """
    bucket = (
        F.col("bucket_ts") - (F.col("bucket_ts") % step_seconds)
    ).cast("long").alias("bucket_ts")
    last_struct = F.max(
        F.when(
            F.col("last_ts").isNotNull(),
            F.struct(F.col("last_ts").alias("ts"), F.col("last_v").alias("v")),
        )
    )
    return (
        partials.groupBy(*key_cols, bucket)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_q").alias("sum_q"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
            last_struct["ts"].alias("last_ts"),
            last_struct["v"].alias("last_v"),
        )
    )


def merge_partials(partials: DataFrame, *, key_cols: list[str]) -> DataFrame:
    """Re-merge partial rows that share (keys, bucket_ts) — the exactness
    primitive behind salting, hot/disk union, and retry-safe re-aggregation.
    Identical to :func:`cascade` with the bucket left unchanged."""
    return cascade(partials, key_cols=key_cols, step_seconds=1)


def rollup_partials_salted(
    df: DataFrame,
    *,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    step_seconds: int,
    salt_buckets: int = 8,
) -> DataFrame:
    """Skew-resistant level-0 rollup: pre-aggregate on (keys, salt) so one
    hot metric spreads over ``salt_buckets`` reducers, then merge the
    salted partials exactly (all partial state is associative, so the
    result is BIT-IDENTICAL to the unsalted rollup — property-tested).

    100 TB note: use when one metric dominates the key distribution
    (AQE skew handling covers joins; aggregation skew needs salting).
    """
    salt = (F.crc32(F.col(ts_col).cast("string")) % salt_buckets).alias("__salt")
    salted = df.withColumn("__salt", salt)
    parts = rollup_partials(
        salted,
        key_cols=[*key_cols, "__salt"],
        ts_col=ts_col,
        value_col=value_col,
        step_seconds=step_seconds,
    )
    return merge_partials(parts.drop("__salt"), key_cols=key_cols)


def finalize(
    partials: DataFrame,
    *,
    agg: str | None = None,
    xff: float = 0.0,
    total_slots: Column | int | None = None,
) -> DataFrame:
    """Partial state → presentation values, applying the xFilesFactor guard.

    ``total_slots`` is the number of expected finer-level slots per bucket
    (coarse_step / fine_step in the reference's propagate). When given and
    ``cnt / total_slots < xff``, every aggregate for the bucket becomes NULL
    — the reference writes *nothing*, i.e. the bucket reads back as a gap
    (SURVEY §2.3 A6). ``cnt`` itself stays, so callers can observe why.

    With ``agg`` in the five kernels, emits one ``value`` column (reference
    fetch shape); with ``agg=None`` emits all five (the wide rollup shape
    used by the flagship query).
    """
    sum_v = (F.col("sum_q") / F.lit(float(QUANT))).cast("double")
    avg_v = (sum_v / F.col("cnt")).cast("double")
    kernels = {
        "average": avg_v,
        "sum": sum_v,
        "last": F.col("last_v"),
        "max": F.col("max_v"),
        "min": F.col("min_v"),
    }
    if xff > 0.0 and total_slots is not None:
        total = (
            F.lit(total_slots) if isinstance(total_slots, int) else total_slots
        ).cast("double")
        keep = (F.col("cnt").cast("double") / total) >= F.lit(float(xff))
    else:
        keep = F.col("cnt") > 0

    def guard(c: Column) -> Column:
        return F.when(keep, c)

    out = partials
    if agg is not None:
        if agg not in kernels:
            raise ValueError(f"unknown agg kernel {agg!r}; expected one of {AGG_KERNELS}")
        out = out.withColumn("value", guard(kernels[agg]))
    else:
        for name, col in (
            ("sum_value", kernels["sum"]),
            ("avg_value", kernels["average"]),
            ("min_value", kernels["min"]),
            ("max_value", kernels["max"]),
            ("last_value", kernels["last"]),
        ):
            out = out.withColumn(name, guard(col))
    return out.drop("sum_q", "min_v", "max_v", "last_ts", "last_v")
