"""Rollup-ladder materialization (SURVEY.md §4.2 must-build #1).

The reference eagerly propagates writes down its archive list so reads
never re-aggregate raw data (§4.1 O4). Spark rendering: one physical
rollup table per retention step, built fine→coarse so each level reads the
previous level's partials (10–600× less input than raw), stored as
date-partitioned parquet so the fetch path prunes partitions (O2).

This module is the batch materializer; the streaming twin is
``streaming/ingest.py`` (same partial schema, so a streaming level-0 plus
batch cascade compose exactly).

Scale notes (100 TB): the cascade keeps every level's input
proportional to the *previous level's cardinality*, not raw row count.
:func:`build_ladders` builds level *k* of every ladder in one pass, one
shuffle plus one write. A small round's input is repartitioned by
(ladder, date of the new bucket), so the aggregate needs no further
exchange and each (ladder, date) leaf is one task and one file, as
compaction leaves it. A round whose input is estimated above adaptive
execution's smallest partition is not: the aggregate combines map-side
and spreads each leaf over the shuffle's partitions, a file per task,
so a day of raw points is never one task. Each level is written
partitioned by ``date`` (``mbucket``/``date`` when bucketed) and sorted
by metric within each write task.

Every level write (a build, a compaction, a delete's rewrite) goes to a
sibling temp directory that is then swapped in by :func:`_swap_in`, so a
reader never sees a partly written level, and a write that fails or
produces nothing leaves the old level as it was. The swap is atomic per
level, not per ladder: a build that fails at a coarse level leaves the
finer levels new and that level and the coarser ones old.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from kenshin_backup_spark.operators.fetch import Archive, fetch, route
from kenshin_backup_spark.operators.rollup import (
    align_epoch,
    cascade,
    rollup_partials,
)

#: Column of :func:`build_ladders`' input holding each row's ladder index.
LADDER_COL = "ladder"


@dataclass(frozen=True)
class Ladder:
    """A materialized retention ladder: step_seconds → parquet path.

    ``metric_buckets > 0`` switches every level to the BUCKETED layout
    ``mbucket=<pmod(xxhash64(metric), N)>/date=<day>/``: exact-metric
    fetches and exact-name deletes then touch only 1/N of the files
    (partition pruning on the hash bucket), which is the 100 TB shape —
    a delete rewrites one bucket, not the level. 0 (the default) keeps
    the flat ``date=`` layout."""

    root: str
    archives: tuple[Archive, ...]
    key_cols: tuple[str, ...] = ("metric",)
    metric_buckets: int = 0

    def manifest_path(self) -> str:
        return f"{self.root}/_kenshin_layout.json"

    def _manifest(self) -> dict:
        """The layout manifest's content (``{}`` when it is missing or
        not a JSON object)."""
        try:
            with open(self.manifest_path()) as fh:
                manifest = json.load(fh)
        except (OSError, ValueError):
            return {}
        return manifest if isinstance(manifest, dict) else {}

    def on_disk_metric_buckets(self) -> int | None:
        """The bucket count the data was actually WRITTEN with.

        Read from the layout manifest :func:`build_ladders` drops at the
        ladder root (the root is never swapped, so level rewrites can't
        lose it). For pre-manifest ladders, inferred from the directory
        shape: ``mbucket=`` entries under any level → bucketed with an
        unknowable N (``-1``); only ``date=`` entries → flat (``0``).
        ``None`` = nothing materialized yet."""
        try:
            return int(self._manifest()["metric_buckets"])
        except (KeyError, ValueError, TypeError):
            # TypeError: a manifest with "metric_buckets": null — corrupt
            # manifests of every shape fall through to directory-shape
            # inference rather than hard-failing the read path (ADVICE r8)
            pass
        seen_level = False
        for a in self.archives:
            path = self.level_path(a.step_seconds)
            if not os.path.isdir(path):
                continue
            seen_level = True
            for e in os.listdir(path):
                if e.startswith("mbucket="):
                    return -1
        return 0 if seen_level else None

    def level_schema(self) -> StructType | None:
        """The schema every level was written with, partition columns
        last, as the layout manifest records it; ``None`` when the
        manifest records none (a ladder written before it did) or is
        corrupt."""
        try:
            return StructType.fromJson(self._manifest()["schema"])
        except (KeyError, ValueError, TypeError, AttributeError):
            return None

    def verified_bucketed(self) -> bool:
        """True iff the bucket-pruned fast paths (exact-name fetch /
        delete) are SAFE: the ladder is configured bucketed AND the
        on-disk layout provably used the same N. A recorded mismatch is
        a misconfiguration that would silently miss rows — fail loudly.
        An unverifiable layout (pre-manifest data, or flat-written data
        under a bucketed config) returns False so callers fall back to
        the full-level paths, which are correct for any layout."""
        if self.metric_buckets <= 0:
            return False
        disk = self.on_disk_metric_buckets()
        if disk is None:
            return True  # nothing written yet; this config defines it
        if disk == self.metric_buckets:
            return True
        if disk > 0:
            raise ValueError(
                f"ladder at {self.root} was written with metric_buckets="
                f"{disk} but this Ladder is configured with "
                f"{self.metric_buckets}; bucket-pruned fetch/delete would "
                "silently miss rows — fix the configuration (or rebuild)"
            )
        return False

    def level_path(self, step_seconds: int) -> str:
        return f"{self.root}/step={step_seconds}"

    def bucket_expr(self, col: str | None = None) -> Column:
        """The bucket id of a series key — MUST match on write and read."""
        if self.metric_buckets <= 0:
            raise ValueError("ladder is not bucketed")
        return F.pmod(
            F.xxhash64(F.col(col or self.key_cols[0])),
            F.lit(int(self.metric_buckets)),
        ).cast("int")

    def buckets_for(self, spark: SparkSession, names: list[str]) -> list[int]:
        """Bucket ids for exact series names (computed through the same
        Spark expression as the write side, so they can never drift)."""
        if not names:
            return []
        df = spark.createDataFrame([(n,) for n in names], "k string")
        rows = df.select(
            F.pmod(F.xxhash64("k"), F.lit(int(self.metric_buckets)))
            .cast("int")
            .alias("b")
        ).distinct().collect()
        return sorted(r["b"] for r in rows)

    @property
    def partition_cols(self) -> tuple[str, ...]:
        return ("mbucket", "date") if self.metric_buckets > 0 else ("date",)


def build_ladders(points: DataFrame, ladders: Sequence[Ladder]) -> list[bool]:
    """Materialize every level of every ladder, building level *k* of all
    of them in one pass. ``points`` holds the ladders' ``key_cols``,
    ``ts`` and ``value``, and each row routes to the ladder whose index
    in ``ladders`` its :data:`LADDER_COL` column holds. The ladders must
    share ``key_cols`` and ``metric_buckets``, and their roots one
    filesystem.

    Round 0 reads ``points`` once and runs :func:`rollup_partials` with a
    per-ladder step (a ``CASE`` on the index); round *k* runs
    :func:`cascade` over each ladder's level *k*-1 as just written, so no
    level re-reads raw (reference O4). A level whose step is not a
    multiple of the previous one (legal in the reference too) aggregates
    raw instead. ``date`` is among the grouping keys and a round is one
    exchange and one write. A small round's input is repartitioned by
    (ladder, date of the new bucket), so each (ladder, level, date) leaf
    is one file; a large one is spread over the shuffle's partitions
    (:func:`_by_ladder_date`). The round writes
    ``partitionBy(ladder, …)`` into a staging directory beside the
    ladders; each ladder's part is swapped in whole
    (:func:`_swap_in`) and read back with the written frame's schema,
    which the layout manifest also records, so no read infers a schema.

    Returns, per ladder, whether every level was written. A ladder no
    row routes to stages nothing in round 0: it costs no write, gets no
    coarser level, and any prior ladder at its root stays as it was."""
    if not ladders:
        return []
    first = ladders[0]
    if any(
        (lad.key_cols, lad.metric_buckets)
        != (first.key_cols, first.metric_buckets)
        for lad in ladders
    ):
        raise ValueError(
            "build_ladders: every ladder must share key_cols and "
            "metric_buckets"
        )
    keys = [LADDER_COL, "date", *first.key_cols]
    parts = (LADDER_COL, *first.partition_cols)
    order = "metric" if "metric" in first.key_cols else first.key_cols[0]
    steps = [sorted(a.step_seconds for a in lad.archives) for lad in ladders]
    stage = os.path.join(
        os.path.commonpath([lad.root for lad in ladders]),
        f"_staging_{uuid.uuid4().hex[:8]}",
    )
    live = list(range(len(ladders)))
    done: list[int] = []
    prev: dict[int, DataFrame] = {}
    schema: StructType | None = None
    k = 0
    try:
        while live:
            aligned = [
                i for i in live
                if k > 0 and steps[i][k] % steps[i][k - 1] == 0
            ]
            from_raw = [i for i in live if i not in aligned]
            frames = []
            if aligned:
                step = _per_ladder({i: steps[i][k] for i in aligned})
                inp = functools.reduce(
                    DataFrame.unionByName, [prev[i] for i in aligned]
                )
                bucket = F.col("bucket_ts") - F.col("bucket_ts") % step
                frames.append(
                    cascade(
                        _by_ladder_date(inp, bucket, len(aligned)),
                        key_cols=keys,
                        step_seconds=step,
                    )
                )
            if from_raw:
                step = _per_ladder({i: steps[i][k] for i in from_raw})
                inp = (
                    points
                    if len(from_raw) == len(ladders)
                    else points.where(F.col(LADDER_COL).isin(from_raw))
                )
                frames.append(
                    rollup_partials(
                        _by_ladder_date(
                            inp, align_epoch("ts", step), len(from_raw)
                        ),
                        key_cols=keys,
                        step_seconds=step,
                    )
                )
            level = functools.reduce(DataFrame.unionByName, frames)
            if first.metric_buckets > 0:
                level = level.withColumn("mbucket", first.bucket_expr())
            # sort by metric within each date partition: parquet min/max
            # row-group statistics then prune metric-filtered fetches
            # (SURVEY §4.2 "bucket or Z-order by metric"); the partition
            # columns lead, so the write adds no sort of its own
            out = f"{stage}/{k}"
            level.sortWithinPartitions(*parts, order).write.partitionBy(
                *parts
            ).parquet(out)
            if schema is None:
                # a parquet read types every column nullable
                schema = StructType([
                    StructField(f.name, f.dataType, True)
                    for f in [f for f in level.schema if f.name not in parts]
                    + [level.schema[c] for c in first.partition_cols]
                ])
            staged = []
            for i in live:
                leaf = f"{out}/{LADDER_COL}={i}"
                if not os.path.isdir(leaf):
                    continue
                path = ladders[i].level_path(steps[i][k])
                os.makedirs(ladders[i].root, exist_ok=True)
                if _swap_in(
                    path, lambda tmp, leaf=leaf: os.rename(leaf, tmp)
                ):
                    staged.append(i)
                    prev[i] = (
                        points.sparkSession.read.schema(schema)
                        .parquet(path)
                        .drop("date", "mbucket")
                        .withColumn(LADDER_COL, F.lit(i))
                    )
            k += 1
            done += [i for i in staged if len(steps[i]) == k]
            live = [i for i in staged if len(steps[i]) > k]
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    for i in done:
        _write_layout_manifest(ladders[i], schema)
    return [i in done for i in range(len(ladders))]


def _per_ladder(values: dict[int, int]) -> Column:
    """``values[ladder index]`` as a column."""
    out = None
    for i, v in values.items():
        hit = F.col(LADDER_COL) == i
        out = F.when(hit, v) if out is None else out.when(hit, v)
    return out


def _by_ladder_date(df: DataFrame, bucket: Column, n_ladders: int) -> DataFrame:
    """``df`` (rows of ``n_ladders`` ladders) with the ``date`` of each
    row's new epoch ``bucket``. While ``df`` is estimated no larger than
    the smallest partition adaptive execution coalesces to
    (``spark.sql.adaptive.coalescePartitions.minPartitionSize``), it is
    repartitioned by (ladder, date): an aggregate grouped by both needs
    no further exchange, and the write gets one task, so one file, per
    leaf. A larger ``df`` is left as it is, so the aggregate combines
    map-side and spreads each leaf over the shuffle's partitions: one
    task per (ladder, date) would leave a large write's raw points,
    uncombined, to a single core.

    Rows of one ladder repartition by date alone: their ladder column
    may be a literal, which the optimizer folds out of the grouping keys
    but not out of the partitioning, and the aggregate would then need
    an exchange of its own."""
    dated = df.withColumn("date", F.to_date(F.timestamp_seconds(bucket)))
    spark = df.sparkSession
    one_task = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    )
    estimate = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if estimate > one_task:
        return dated
    cols = [LADDER_COL, "date"] if n_ladders > 1 else ["date"]
    return dated.repartition(*cols)


def build_ladder(
    points: DataFrame,
    ladder: Ladder,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
) -> bool:
    """Materialize one ladder: :func:`build_ladders` with every row
    routed to it. Returns True when every level was written, False when
    the input is empty: nothing is staged then, so nothing coarser is
    built and a prior ladder at the same root stays readable as it
    was."""
    (written,) = build_ladders(
        points.select(
            *ladder.key_cols,
            F.col(ts_col).alias("ts"),
            F.col(value_col).alias("value"),
            F.lit(0).alias(LADDER_COL),
        ),
        [ladder],
    )
    return written


def read_level(spark: SparkSession, ladder: Ladder, path: str) -> DataFrame:
    """Open a level directory, or one ``mbucket=`` directory of it, with
    the schema the layout manifest records, so the read runs no
    schema-inference job. A ladder whose manifest records no schema
    falls back to inference."""
    schema = ladder.level_schema()
    if schema is None:
        return spark.read.parquet(path)
    if os.path.basename(path.rstrip("/")).startswith("mbucket="):
        # a bucket directory's partition column is in its own name
        schema = StructType([f for f in schema if f.name != "mbucket"])
    return spark.read.schema(schema).parquet(path)


def _parquet_files(path: str) -> dict[str, int]:
    """Parquet file count per directory under ``path`` that holds any
    (empty when there is none, or no ``path``)."""
    per_leaf: dict[str, int] = {}
    for root, _, files in os.walk(path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            per_leaf[root] = n
    return per_leaf


def _swap_in(path: str, write: Callable[[str], object] | None) -> bool:
    """Replace the directory ``path`` whole. ``write(tmp)`` writes the new
    content to a sibling temp directory, which then takes ``path``'s place
    (rename the old directory away, rename the new one in, delete the old
    one), so a reader sees the old content or the new, never a mix;
    between the two renames ``path`` is briefly absent.

    A temp directory that holds no parquet file is not swapped in (a
    reader could not infer a schema from it): it is removed, ``path`` is
    left as it was and the result is False. The temp directory is removed
    too when ``write`` raises. ``write=None`` removes ``path``, renamed
    away first so that it is never seen half-deleted."""
    tag = uuid.uuid4().hex[:8]
    tmp, old = f"{path}__new_{tag}", f"{path}__old_{tag}"
    if write is not None:
        try:
            write(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if not _parquet_files(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
            return False
    existed = os.path.isdir(path)
    if existed:
        os.rename(path, old)
    if write is not None:
        os.rename(tmp, path)
    if existed:
        shutil.rmtree(old)
    return True


def _rewrite(
    df: DataFrame, key: str, max_records_per_file: int
) -> Callable[[str], object]:
    """The writer every compaction and delete rewrite shares: one task per
    partition, sorted by series key and time, written partitioned by the
    layout columns the DISK has (partition discovery put them in
    ``df.columns``), never by the configured layout — a misconfigured
    Ladder must not re-shape a level."""
    parts = [c for c in ("mbucket", "date") if c in df.columns]
    return lambda tmp: (
        df.repartition(*parts)
        .sortWithinPartitions(key, "bucket_ts")
        .write.partitionBy(*parts)
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(tmp)
    )


def _write_layout_manifest(ladder: Ladder, schema: StructType) -> None:
    """Record the layout the data was written with (ADVICE r7: the
    bucket-pruned delete/fetch paths must never trust the CONFIGURED
    ``metric_buckets`` over the on-disk truth) and the level schema
    :func:`read_level` reads with. Lives at the ladder root — level
    swaps never touch it."""
    os.makedirs(ladder.root, exist_ok=True)
    tmp = ladder.manifest_path() + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(
            {
                "metric_buckets": int(ladder.metric_buckets),
                "key_cols": list(ladder.key_cols),
                "schema": schema.jsonValue(),
            },
            fh,
        )
    os.replace(tmp, ladder.manifest_path())


def expire_retention(ladder: Ladder, *, now_ts: int) -> dict[int, list[str]]:
    """Reference retention semantics: the ring buffer implicitly forgets
    points older than ``step × points`` — here, DROP the date partitions
    that lie wholly before each level's retention horizon (SURVEY §1.2
    "retention = dropping old partitions"). Returns the dropped partition
    names per step for observability.

    Scale note: this is a pure metadata/file operation (no data rewrite,
    no compaction), exactly why the date-partitioned layout was chosen.
    """
    import datetime as dt

    dropped: dict[int, list[str]] = {}
    for a in ladder.archives:
        cutoff_ts = now_ts - a.retention_seconds
        cutoff_date = dt.datetime.fromtimestamp(cutoff_ts, dt.timezone.utc).date()
        path = ladder.level_path(a.step_seconds)
        gone: list[str] = []
        if os.path.isdir(path):
            # bucketed layout nests date= one level down (mbucket=*/date=*)
            roots = (
                sorted(
                    os.path.join(path, e)
                    for e in os.listdir(path)
                    if e.startswith("mbucket=")
                )
                if ladder.metric_buckets > 0
                else [path]
            )
            for root in roots:
                for entry in sorted(os.listdir(root)):
                    if not entry.startswith("date="):
                        continue
                    part_date = dt.date.fromisoformat(entry.split("=", 1)[1])
                    # a partition holds one UTC day; drop only if the WHOLE
                    # day is older than the horizon
                    if part_date < cutoff_date:
                        shutil.rmtree(os.path.join(root, entry))
                        gone.append(
                            os.path.relpath(os.path.join(root, entry), path)
                        )
        dropped[a.step_seconds] = gone
    return dropped


def compact_level(
    spark: SparkSession,
    ladder: Ladder,
    step_seconds: int,
    *,
    max_records_per_file: int = 2_000_000,
) -> tuple[int, int]:
    """Small-file compaction for one ladder level: streaming upserts leave
    one file per micro-batch per date partition; rewrite each partition
    into O(1) files, re-sorted by metric so parquet row-group min/max
    statistics prune metric-filtered fetches again (SURVEY §4.2).

    Rewrites into a temp directory and swaps it in (:func:`_swap_in`), so
    readers never see a partial level and the job is restart-safe. Returns
    ``(files_before, files_after)``.

    Scale note: ``repartition("date")`` gives one task (→ one file) per
    date; at 100 TB repartition on (date, metric-hash-bucket) instead and
    raise ``max_records_per_file`` so each partition compacts in parallel.
    """
    path = ladder.level_path(step_seconds)
    per_leaf = _parquet_files(path)
    before = sum(per_leaf.values())
    # Short-circuit when there is nothing to merge: every partition dir
    # already holds at most one file (the state build_ladders leaves a
    # freshly built level in — its write lands one file per date, and
    # the metric sort-order compaction would re-establish is already the
    # build's sort order). Rewriting anyway would read and
    # rewrite the whole level for zero layout change; real compactors
    # (e.g. Iceberg's rewrite_data_files) skip-up-to-date the same way.
    # Fragmented levels (streaming upsert debris — >1 file in any leaf)
    # take the rewrite below unchanged.
    # ASSUMPTIONS (ADVICE r15): (a) a single-file leaf is build-ordered —
    # true for every writer in this package (build_ladders and the
    # delete/compact rewrites all sortWithinPartitions on the series key;
    # the streaming upsert sink only ever ADDS files, making the leaf
    # multi-file and ineligible for the skip). A future single-file
    # replace writer must keep that sort order or drop a marker to force
    # the rewrite. (b) The count above is a driver-side local-FS walk —
    # O(files) and local-only, fine for this project's store; a 100 TB
    # deployment gets file counts from the table format's manifest
    # (Iceberg/Delta) instead of listing.
    # An empty level (an expire dropped every date partition) has nothing
    # to rewrite.
    if not per_leaf or max(per_leaf.values()) <= 1:
        return before, before
    df = read_level(spark, ladder, path)
    _swap_in(path, _rewrite(df, ladder.key_cols[0], max_records_per_file))
    return before, sum(_parquet_files(path).values())


def delete_metrics(
    spark: SparkSession,
    ladder: Ladder,
    metric_regex: str | None = None,
    *,
    metrics: list[str] | None = None,
    max_records_per_file: int = 2_000_000,
) -> dict[int, int]:
    """Metric deletion — the reference's ``rm <metric>.wsp`` operational
    surface (and the execute half of the GDPR erasure story whose audit
    is ``gdpr_erasure_audit``): rewrite every ladder level WITHOUT the
    series matching ``metric_regex`` (or the exact names in
    ``metrics``). Each level is rewritten to a temp directory and swapped
    in (:func:`_swap_in`), as in :func:`compact_level` (readers never see
    a partial level; restart-safe). Returns deleted row counts per step
    for the erasure receipt.

    Scale path: with ``metrics`` (exact names — the normal GDPR shape)
    on a BUCKETED ladder (``metric_buckets > 0``), only the hash
    buckets containing the named series are read and rewritten —
    :func:`_delete_exact_bucketed` — so a delete touches ~len(metrics)/N
    of the level instead of all of it, and the per-bucket swap keeps the
    same atomicity. A regex delete (or a flat ladder) rewrites the whole
    level: the regex's matches can live in any bucket.
    """
    if (metric_regex is None) == (metrics is None):
        raise ValueError("exactly one of metric_regex/metrics")
    if metrics is not None and ladder.metric_buckets > 0:
        # the bucket-pruned path only when the on-disk layout provably
        # used this N (manifest check — a mismatch raises; flat-written
        # or pre-manifest data falls through to the full-level rewrite,
        # which is correct for any layout)
        if ladder.verified_bucketed():
            return _delete_exact_bucketed(
                spark, ladder, metrics,
                max_records_per_file=max_records_per_file,
            )

    deleted: dict[int, int] = {}
    for a in ladder.archives:
        path = ladder.level_path(a.step_seconds)
        if not os.path.isdir(path):
            deleted[a.step_seconds] = 0
            continue
        df = read_level(spark, ladder, path)
        hit = (
            F.col(ladder.key_cols[0]).rlike(metric_regex)
            if metric_regex is not None
            else F.col(ladder.key_cols[0]).isin(list(metrics))
        )
        n_total, n_del = df.agg(
            F.count(F.lit(1)), F.sum(hit.cast("long"))
        ).first()
        n_del = int(n_del or 0)
        deleted[a.step_seconds] = n_del
        if n_del == 0:
            continue
        # Every series in the level matched: a partitionBy write of an
        # empty frame leaves zero parquet footers, which the swap refuses
        # (no later read could infer a schema). Write the empty frame
        # UNPARTITIONED instead so one footer carries the schema.
        _swap_in(
            path,
            (lambda tmp: spark.createDataFrame([], df.schema).write.parquet(tmp))
            if n_del == int(n_total)
            else _rewrite(df.where(~hit), ladder.key_cols[0], max_records_per_file),
        )
    return deleted


def _delete_exact_bucketed(
    spark: SparkSession,
    ladder: Ladder,
    metrics: list[str],
    *,
    max_records_per_file: int = 2_000_000,
) -> dict[int, int]:
    """Bucket-pruned exact-name deletion: only the ``mbucket=`` partition
    directories whose hash bucket contains a named series are read and
    rewritten (per-bucket rewrite-to-temp + atomic directory swap). A
    bucket with zero survivors is REMOVED whole (an empty footer inside
    one mbucket dir would sit at a different directory depth than the
    date= leaves of the others, and Spark partition discovery rejects
    mixed depths); if that removes the LAST bucket, the level root gets
    a single-footer empty frame so it stays readable — the same guard
    as the flat path."""
    affected = ladder.buckets_for(spark, list(metrics))
    key = ladder.key_cols[0]
    deleted: dict[int, int] = {}
    for a in ladder.archives:
        path = ladder.level_path(a.step_seconds)
        total = 0
        for b in affected:
            bpath = os.path.join(path, f"mbucket={b}")
            if not os.path.isdir(bpath):
                continue
            bdf = read_level(spark, ladder, bpath)
            hit = F.col(key).isin(list(metrics))
            n_total, n_del = bdf.agg(
                F.count(F.lit(1)), F.sum(hit.cast("long"))
            ).first()
            n_del = int(n_del or 0)
            total += n_del
            if n_del == 0:
                continue
            if n_del == int(n_total):
                schema = bdf.withColumn(
                    "mbucket", F.lit(0).cast("int")
                ).schema
                # a reader must see the bucket whole or gone, never a
                # half-rmtree'd directory (ADVICE r7)
                _swap_in(bpath, None)
            else:
                _swap_in(
                    bpath, _rewrite(bdf.where(~hit), key, max_records_per_file)
                )
        if total and not any(
            e.startswith("mbucket=") for e in os.listdir(path)
        ):
            # every bucket vanished: leave one footer so the level stays
            # readable (mbucket/date become ordinary columns of an empty
            # frame, as in the flat path's all-deleted guard)
            _swap_in(
                path,
                lambda tmp: spark.createDataFrame([], schema).write.parquet(tmp),
            )
        deleted[a.step_seconds] = total
    return deleted


def load_levels(spark: SparkSession, ladder: Ladder) -> dict[int, DataFrame]:
    """Open every materialized level (:func:`read_level`)."""
    return {
        a.step_seconds: read_level(
            spark, ladder, ladder.level_path(a.step_seconds)
        )
        for a in ladder.archives
    }


def window_bytes(
    ladder: Ladder, windows: Iterable[tuple[int, int]], *, now_ts: int
) -> int:
    """Parquet bytes that fetches of ``windows`` ((from, until) pairs of
    one request, whose clock is ``now_ts``) could read: per window, the
    files in the ``date=`` partitions of the level
    :func:`fetch_from_ladder` routes it to that overlap the clamped
    window. One file listing per routed level, no Spark job. A window
    that clamps to nothing adds 0; a day two windows share counts once
    per window, as each fetch reads it."""
    import datetime as dt

    def day(ts: int, step: int) -> str:
        aligned = dt.datetime.fromtimestamp(ts - ts % step, dt.timezone.utc)
        return aligned.date().isoformat()

    spans: dict[int, list[tuple[str, str]]] = {}
    for from_ts, until_ts in windows:
        try:
            archive, lo, hi = route(
                list(ladder.archives), from_ts, until_ts, now_ts
            )
        except ValueError:
            continue
        step = archive.step_seconds
        spans.setdefault(step, []).append((day(lo, step), day(hi, step)))
    total = 0
    for step, days in spans.items():
        sizes: dict[str, int] = {}
        for root, _, files in os.walk(ladder.level_path(step)):
            part = os.path.basename(root)
            if part.startswith("date="):
                d = part[len("date="):]
                sizes[d] = sizes.get(d, 0) + sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if f.endswith(".parquet")
                )
        total += sum(
            size
            for d, size in sizes.items()
            for first, last in days
            if first <= d <= last
        )
    return total


def fetch_from_ladder(
    spark: SparkSession,
    ladder: Ladder,
    *,
    metric_glob: str | None,
    from_ts: int,
    until_ts: int,
    now_ts: int,
) -> DataFrame:
    """End-to-end reference read path over the materialized ladder:
    archive selection → partition-pruned scan → grid gap-fill.

    The archive is routed FIRST and only that level is opened
    (:func:`read_level`, with the recorded schema): a level the route
    does not pick is never read.

    On a bucketed ladder, an EXACT metric name additionally prunes to
    its single ``mbucket=`` partition (hash-bucket pruning — the same
    predicate the write side used), stacking with the date pruning the
    fetch path already does."""
    archives = list(ladder.archives)
    step = route(archives, from_ts, until_ts, now_ts)[0].step_seconds
    level = read_level(spark, ladder, ladder.level_path(step))
    if (
        ladder.metric_buckets > 0
        and metric_glob is not None
        and not any(ch in metric_glob for ch in "*?{[")
        # bucket pruning only when the on-disk layout provably used this
        # N (manifest check; mismatch raises) — pruning with the wrong N
        # would silently fetch an empty series
        and ladder.verified_bucketed()
    ):
        bs = ladder.buckets_for(spark, [metric_glob])
        level = level.where(F.col("mbucket").isin(bs))
    return fetch(
        spark,
        {step: level},
        archives,
        metric_glob=metric_glob,
        from_ts=from_ts,
        until_ts=until_ts,
        now_ts=now_ts,
        key_cols=list(ladder.key_cols),
    )
