"""Fetch API — the reference's entire read surface (SURVEY.md §3.2).

Reference: ``fetch(path, from_ts, until_ts) -> ((start, end, step), values)``
— clamp the range, pick the finest archive whose retention covers the range
start, align bounds down to the step, read the ring buffer, and return one
value per expected slot with gaps as ``None`` (``kenshin/storage.py
Storage.fetch``, public-repo path; SURVEY §2.1 S5).

Spark mapping: archive selection becomes *table routing* over materialized
rollup levels (an engine-API decision, not a Catalyst rule — SURVEY §4.2);
the O(1) ring seek becomes partition pruning + parquet min/max skipping; the
gap semantics become a generated time grid LEFT JOIN (§2.5 W4).

Scale notes (100 TB): the grid side is ``sequence()+explode`` over literal
bounds — a few thousand rows per series per query, broadcast-joined against
the pruned rollup scan. The rollup scan carries ``metric`` + time predicates
that push down to parquet. No collect, no driver loop.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import glob_to_regex


@dataclass(frozen=True)
class Archive:
    """One retention level: (seconds_per_point, point_count) — SURVEY §1.1."""

    step_seconds: int
    points: int

    @property
    def retention_seconds(self) -> int:
        return self.step_seconds * self.points


def select_archive(archives: list[Archive], from_ts: int, now_ts: int) -> Archive:
    """Finest archive whose retention still covers ``from_ts`` (reference
    Storage.fetch archive selection, SURVEY §4.1 O5). Archives must be
    ordered finest→coarsest; falls back to the coarsest."""
    ordered = sorted(archives, key=lambda a: a.step_seconds)
    for a in ordered:
        if now_ts - a.retention_seconds <= from_ts:
            return a
    return ordered[-1]


def time_grid(
    spark: SparkSession, from_ts: int, until_ts: int, step_seconds: int
) -> DataFrame:
    """Aligned slot grid ``[floor(from), floor(until)]`` as epoch-seconds
    BIGINT rows (column ``bucket_ts``). Bounds are floored to the step like
    the reference aligns both fetch bounds down (SURVEY §2.2 P3)."""
    lo = from_ts - (from_ts % step_seconds)
    hi = until_ts - (until_ts % step_seconds)
    return spark.range(1).select(
        F.explode(
            F.sequence(F.lit(lo), F.lit(hi), F.lit(step_seconds))
        ).alias("bucket_ts")
    )


def gap_fill(
    grid: DataFrame,
    series: DataFrame,
    *,
    key_cols: list[str],
    keys: DataFrame | None = None,
) -> DataFrame:
    """LEFT JOIN the slot grid against bucketed series rows; missing slots
    surface as NULLs — the reference's gap semantics (§2.2 P4).

    ``keys`` (distinct key combinations) crossed with the grid yields one
    row per (key, slot); defaults to the distinct keys present in ``series``.
    """
    if keys is None:
        keys = series.select(*key_cols).distinct()
    full = keys.crossJoin(F.broadcast(grid))
    return full.join(series, on=[*key_cols, "bucket_ts"], how="left")


def metric_filter(df: DataFrame, metric_col: str, glob: str | None) -> DataFrame:
    """Graphite glob browse (``a.*.c``) → regex filter (SURVEY §2.2 P2).

    Exact names short-circuit to an equality predicate so Catalyst can push
    it to the parquet scan as an exact match rather than a regex.
    ``glob=None`` is the whole-catalog sentinel (no filter) — used by
    tagged-metric selection, where ``*`` would wrongly exclude any series
    whose bare name contains a dot (one-component glob semantics).
    """
    if glob is None:
        return df
    if not any(ch in glob for ch in "*?{["):
        return df.where(F.col(metric_col) == F.lit(glob))
    return df.where(F.col(metric_col).rlike(glob_to_regex(glob)))


def clamp_range(
    from_ts: int, until_ts: int, now_ts: int, max_retention_seconds: int
) -> tuple[int, int]:
    """Reference fetch bound clamping: ``from >= now - max_retention``,
    ``until <= now`` (SURVEY §2.2 P3)."""
    lo = max(from_ts, now_ts - max_retention_seconds)
    hi = min(until_ts, now_ts)
    if hi < lo:
        raise ValueError(f"empty fetch range after clamping: [{lo}, {hi}]")
    return lo, hi


def route(
    archives: list[Archive], from_ts: int, until_ts: int, now_ts: int
) -> tuple[Archive, int, int]:
    """Clamp the request range and pick its archive: ``(archive, lo,
    hi)`` with ``[lo, hi]`` the clamped (unaligned) bounds."""
    max_ret = max(a.retention_seconds for a in archives)
    lo, hi = clamp_range(from_ts, until_ts, now_ts, max_ret)
    return select_archive(archives, lo, now_ts), lo, hi


def fetch(
    spark: SparkSession,
    levels: dict[int, DataFrame],
    archives: list[Archive],
    *,
    metric_glob: str | None,
    from_ts: int,
    until_ts: int,
    now_ts: int,
    key_cols: list[str],
) -> DataFrame:
    """End-to-end reference fetch over materialized rollup levels.

    ``levels`` maps step_seconds → partials DataFrame (rollup table) with
    columns ``key_cols + [bucket_ts, cnt, sum_q, min_v, max_v, last_ts,
    last_v]``. Returns one row per (key, aligned slot) in the clamped range
    with partial columns (NULL on gaps) — callers apply
    :func:`kenshin_backup_spark.operators.rollup.finalize` to pick a kernel.
    """
    archive, lo, hi = route(archives, from_ts, until_ts, now_ts)
    if archive.step_seconds not in levels:
        raise KeyError(f"no materialized level for step={archive.step_seconds}s")
    table = levels[archive.step_seconds]
    table = metric_filter(table, key_cols[0], metric_glob)
    # Keys come from the metric filter BEFORE the time filter: a known
    # metric with no points in range fetches as all-gaps (reference
    # semantics), not as zero rows.
    keys = table.select(*key_cols).distinct()
    lo_aligned = lo - (lo % archive.step_seconds)
    hi_aligned = hi - (hi % archive.step_seconds)
    in_range = table.where(F.col("bucket_ts").between(lo_aligned, hi_aligned))
    if "date" in table.columns:
        # Materialized levels are parquet-partitioned by date(bucket_ts)
        # (ladder.build_ladder): an explicit date predicate turns the time
        # range into PARTITION pruning — the reference's O(1) ring seek.
        # bucket_ts min/max skipping alone still scans every partition's
        # footers at 100 TB.
        in_range = in_range.where(
            F.col("date").between(
                F.to_date(F.timestamp_seconds(F.lit(lo_aligned))),
                F.to_date(F.timestamp_seconds(F.lit(hi_aligned))),
            )
        )
    grid = time_grid(spark, lo, hi, archive.step_seconds)
    return gap_fill(grid, in_range, key_cols=key_cols, keys=keys)
