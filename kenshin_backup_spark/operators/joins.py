"""As-of and range joins (SURVEY.md §2.4 J5/J6).

The reference's only join-like computation is the web layer aligning
fetched series on a shared time grid; the as-of join is the general form
of that alignment (J6) and the one Spark lacks natively.

Two strategies, both shuffle-sane at 100 TB:

- :func:`asof_join` — the union-and-window idiom: tag both sides, union on
  the partition keys, sort by (ts, side), and carry the right side's last
  value forward with ``last(..., ignorenulls=True)``. ONE shuffle on the
  partition key (the window), no range explosion, no skew beyond the key
  skew itself. This is the Graphite series-alignment semantic.
- :func:`range_join_bucketed` — interval join via bucketing: join on a
  coarse time-bucket equi-key first (turning the theta join into an
  equi-join with a small per-bucket fanout), then apply the precise range
  predicate. Avoids the BroadcastNestedLoopJoin blowup for non-broadcast
  sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str],
    direction: str = "backward",
    suffix: str = "_asof",
) -> DataFrame:
    """For each left row, attach the most recent right row at-or-before its
    timestamp (``backward``; ``forward`` = earliest at-or-after), matched
    within the ``on`` keys.

    Equal timestamps match (``<=`` semantics, like pandas merge_asof).
    Output: every left row + ``<value_col><suffix>`` columns (+
    ``<right_ts><suffix>`` epoch-seconds of the matched row, NULL if none).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")

    lt = F.unix_timestamp(F.col(left_ts)).cast("long")
    rt = F.unix_timestamp(F.col(right_ts)).cast("long")
    # The matched row is carried as ONE struct(__rts, values...) so the
    # attached timestamp and values always come from the same right row —
    # carrying columns separately with ignorenulls would skip a genuinely
    # NULL right value and pair it with a newer row's timestamp (pandas
    # merge_asof attaches the matched row's NULL).
    r_struct = F.struct(
        rt.alias("__rts"), *[F.col(c).alias(c) for c in value_cols]
    )
    # side ordering makes right rows sort BEFORE left rows at equal ts for
    # backward (so an equal-ts right row is visible), after for forward.
    r_tag = right.select(
        *on,
        rt.alias("__t"),
        F.lit(0).alias("__side"),
        r_struct.alias("__r"),
    )
    l_tag = left.select(
        *on,
        lt.alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r_tag.schema["__r"].dataType).alias("__r"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
    )
    r_tag = r_tag.withColumn(
        "__l", F.lit(None).cast(l_tag.schema["__l"].dataType)
    )
    unioned = l_tag.unionByName(r_tag)

    if direction == "backward":
        w = (
            W.partitionBy(*on)
            .orderBy(F.asc("__t"), F.asc("__side"))
            .rowsBetween(W.unboundedPreceding, 0)
        )
        carried = F.last("__r", ignorenulls=True).over(w).alias("__c")
    else:
        w = (
            W.partitionBy(*on)
            .orderBy(F.asc("__t"), F.desc("__side"))
            .rowsBetween(0, W.unboundedFollowing)
        )
        carried = F.first("__r", ignorenulls=True).over(w).alias("__c")

    out = unioned.select(*on, "__side", "__l", carried).where(F.col("__side") == 1)
    left_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns]
    return out.select(
        *left_cols,
        *[F.col(f"__c.{c}").alias(f"{c}{suffix}") for c in value_cols],
        F.col("__c.__rts").alias(f"{right_ts}{suffix}_ts"),
    )


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    *,
    left_point: Column,
    right_lo: Column,
    right_hi: Column,
    bucket_width: int,
    extra_cond: Column | None = None,
) -> DataFrame:
    """Interval join ``right_lo <= left_point < right_hi`` via time-bucket
    equi-key prefix (J5): explode each right interval into the coarse
    buckets it overlaps, equi-join on the left point's bucket, then apply
    the exact predicate. Interval length should be O(bucket_width) for a
    small fanout."""
    lb = (left_point / bucket_width).cast("long").alias("__bucket")
    l_b = left.withColumn("__bucket", lb)
    r_b = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (right_lo / bucket_width).cast("long"),
                (right_hi / bucket_width).cast("long"),
            )
        ),
    )
    cond = (left_point >= right_lo) & (left_point < right_hi)
    if extra_cond is not None:
        cond = cond & extra_cond
    return l_b.join(r_b, on="__bucket").where(cond).drop("__bucket")
