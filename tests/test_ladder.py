"""End-to-end ladder tests: materialize levels, route fetches, verify
cascade-vs-direct equality on the materialized tables (SURVEY §5.2.2)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from kenshin_backup_spark.operators.fetch import Archive
from kenshin_backup_spark.operators.ladder import (
    Ladder,
    build_ladder,
    expire_retention,
    fetch_from_ladder,
    load_levels,
)
from kenshin_backup_spark.operators.rollup import finalize, rollup_partials

UTC = dt.timezone.utc
NOW = 100_000


def _points(spark):
    rows = []
    for i in range(2000):
        t = 40 * i + (i % 7)
        rows.append(("srv.web.cpu" if i % 2 else "srv.db.cpu",
                     dt.datetime.fromtimestamp(t, UTC), float((i * 31) % 97)))
    return spark.createDataFrame(rows, "metric string, ts timestamp, value double")


def test_ladder_build_and_fetch(spark, tmp_path):
    ladder = Ladder(
        root=str(tmp_path / "ladder"),
        archives=(Archive(60, 200), Archive(600, 200), Archive(3600, 48)),
    )
    pts = _points(spark)
    build_ladder(pts, ladder)

    levels = load_levels(spark, ladder)
    assert set(levels) == {60, 600, 3600}

    # recent range → finest archive; wide range → coarser
    recent = fetch_from_ladder(
        spark, ladder, metric_glob="srv.web.cpu",
        from_ts=NOW - 3000, until_ts=NOW, now_ts=NOW,
    )
    assert recent.count() == 3000 // 60 + 1

    wide = fetch_from_ladder(
        spark, ladder, metric_glob="srv.*.cpu",
        from_ts=NOW - 90_000, until_ts=NOW, now_ts=NOW,
    )
    # 600s archive covers 120000s > 90000; 90000/600+1 slots × 2 metrics
    assert wide.count() == (90_000 // 600 + 1) * 2


def test_retention_expiry_and_info(spark, tmp_path):
    """Reference ring-buffer expiry: partitions wholly older than a level's
    retention horizon are dropped (file-level, no rewrite), and each
    level's extent shrinks accordingly."""
    ladder = Ladder(
        root=str(tmp_path / "ladder_exp"),
        # 60s × 60 points = 1h retention; 3600s × 48 = 2d retention
        archives=(Archive(60, 60), Archive(3600, 48)),
    )
    # points spanning 4 days
    rows = [
        ("m", dt.datetime.fromtimestamp(86_400 * d + h * 3600, UTC), 1.0)
        for d in range(4)
        for h in range(24)
    ]
    pts = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    build_ladder(pts, ladder)

    now = 4 * 86_400
    dropped = expire_retention(ladder, now_ts=now)
    # fine level keeps only the last day's partition (1h horizon rounds up
    # to whole days); coarse level keeps the last 2 days' partitions + day boundary
    assert len(dropped[60]) == 3
    assert len(dropped[3600]) == 2

    levels = load_levels(spark, ladder)
    fine = levels[60].agg(F.min("bucket_ts"), F.countDistinct("metric")).first()
    assert fine[0] >= 3 * 86_400
    assert fine[1] == 1
    assert levels[3600].agg(F.min("bucket_ts")).first()[0] >= 2 * 86_400


def test_compact_level_preserves_fetch(spark, tmp_path):
    """Compaction: many small files (streaming-upsert debris) are rewritten
    into ~1 file per date partition, and fetch results are unchanged."""
    from kenshin_backup_spark.operators.ladder import compact_level

    ladder = Ladder(
        root=str(tmp_path / "ladder_cmp"),
        archives=(Archive(60, 5000),),
    )
    pts = _points(spark)
    build_ladder(pts, ladder)
    # simulate micro-batch debris: append the level to itself in 6 slices
    # (duplicate partials are legal rollup inputs; we only count files here)
    lvl_path = ladder.level_path(60)
    base = spark.read.parquet(lvl_path).localCheckpoint(eager=True)
    base.repartition(8).write.mode("append").partitionBy("date").parquet(lvl_path)

    want = sorted(
        map(
            tuple,
            fetch_from_ladder(
                spark, ladder, metric_glob="srv.*.cpu",
                from_ts=NOW - 3000, until_ts=NOW, now_ts=NOW,
            ).collect(),
        )
    )
    before, after = compact_level(spark, ladder, 60)
    assert after < before
    # one date partition in this fixture → a single compacted file
    assert after <= 2
    got = sorted(
        map(
            tuple,
            fetch_from_ladder(
                spark, ladder, metric_glob="srv.*.cpu",
                from_ts=NOW - 3000, until_ts=NOW, now_ts=NOW,
            ).collect(),
        )
    )
    assert got == want


def test_compact_level_skips_already_compact(spark, tmp_path):
    """Round-15 regression lock: a level whose every partition dir already
    holds <= 1 file (the state build_ladder leaves it in) must NOT be
    rewritten — compact_level returns (n, n) and the files on disk are
    the same inodes (no read/rewrite/swap job)."""
    import os

    from kenshin_backup_spark.operators.ladder import compact_level

    ladder = Ladder(
        root=str(tmp_path / "ladder_skip"),
        archives=(Archive(60, 5000),),
    )
    build_ladder(_points(spark), ladder)
    path = ladder.level_path(60)

    def _parquet_files(p):
        return sorted(
            os.path.join(r, f)
            for r, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    files = _parquet_files(path)
    assert files, "fixture must materialize at least one file"
    inodes = [os.stat(f).st_ino for f in files]
    before, after = compact_level(spark, ladder, 60)
    assert before == after == len(files)
    assert _parquet_files(path) == files
    assert [os.stat(f).st_ino for f in files] == inodes


def test_fetch_prunes_date_partitions(spark, tmp_path):
    """The routed fetch must carry a date predicate so the partitioned
    level scan prunes partitions (100 TB gate — SCALE.md)."""
    from kenshin_backup_spark.plans import explain_str

    ladder = Ladder(
        root=str(tmp_path / "ladder3"),
        archives=(Archive(60, 5000),),
    )
    build_ladder(_points(spark), ladder)
    out = fetch_from_ladder(
        spark, ladder, metric_glob="srv.web.cpu",
        from_ts=NOW - 3000, until_ts=NOW, now_ts=NOW,
    )
    text = explain_str(out)
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", text)
    assert pf and "date" in pf.group(1), f"no date partition filter in scan: {pf}"


def test_materialized_cascade_equals_direct(spark, tmp_path):
    ladder = Ladder(
        root=str(tmp_path / "ladder2"),
        archives=(Archive(60, 2000), Archive(3600, 100)),
    )
    pts = _points(spark)
    build_ladder(pts, ladder)
    lvl = load_levels(spark, ladder)[3600].drop("date")
    direct = rollup_partials(pts, key_cols=["metric"], step_seconds=3600)
    cols = ["metric", "bucket_ts", "cnt", "sum_q", "min_v", "max_v", "last_ts", "last_v"]
    a = sorted(map(tuple, lvl.select(cols).collect()))
    b = sorted(map(tuple, direct.select(cols).collect()))
    assert a == b


def test_bucketed_ladder_fetch_parity_and_pruned_delete(spark, tmp_path):
    """Round-7 bucketed layout (mbucket=/date=): fetch results are
    IDENTICAL to the flat layout; an exact-name delete rewrites only the
    named series' hash bucket (other bucket dirs untouched on disk); the
    receipt matches the flat path's."""
    import os

    from kenshin_backup_spark.operators.ladder import delete_metrics

    pts = _points(spark)
    flat = Ladder(
        root=str(tmp_path / "flat"),
        archives=(Archive(60, 200), Archive(600, 200)),
    )
    bkt = Ladder(
        root=str(tmp_path / "bkt"),
        archives=(Archive(60, 200), Archive(600, 200)),
        metric_buckets=8,
    )
    build_ladder(pts, flat)
    build_ladder(pts, bkt)

    def grid(ladder, glob):
        out = fetch_from_ladder(
            spark, ladder, metric_glob=glob,
            from_ts=NOW - 3000, until_ts=NOW, now_ts=NOW,
        )
        vals = finalize(out, agg="average")
        return {(r["metric"], r["bucket_ts"]): r["value"]
                for r in vals.collect()}

    # parity: exact fetch (bucket-pruned) and glob fetch (all buckets)
    assert grid(bkt, "srv.web.cpu") == grid(flat, "srv.web.cpu")
    assert grid(bkt, "srv.*.cpu") == grid(flat, "srv.*.cpu")

    # the two metrics land in different buckets with N=8 (xxhash64); if
    # they ever collide this test's pruning assert would be vacuous —
    # guard against that
    b_web = bkt.buckets_for(spark, ["srv.web.cpu"])
    b_db = bkt.buckets_for(spark, ["srv.db.cpu"])
    assert b_web != b_db

    # snapshot the untouched bucket's file listing, then delete web
    lvl = bkt.level_path(60)
    db_dir = os.path.join(lvl, f"mbucket={b_db[0]}")
    before_files = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(db_dir) for f in fs
    )
    receipt_b = delete_metrics(spark, bkt, metrics=["srv.web.cpu"])
    receipt_f = delete_metrics(spark, flat, metrics=["srv.web.cpu"])
    assert receipt_b == receipt_f
    assert receipt_b[60] > 0 and receipt_b[600] > 0
    after_files = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(db_dir) for f in fs
    )
    assert before_files == after_files  # unaffected bucket not rewritten

    # web's bucket is gone whole (it held only that series) and the
    # survivors still fetch identically on both layouts
    assert not os.path.isdir(os.path.join(lvl, f"mbucket={b_web[0]}"))
    assert grid(bkt, "srv.*.cpu") == grid(flat, "srv.*.cpu")

    # deleting the last series empties every bucket; the level must stay
    # readable (single-footer guard) and further ops still work
    receipt2 = delete_metrics(spark, bkt, metrics=["srv.db.cpu"])
    assert receipt2[60] > 0
    assert load_levels(spark, bkt)[60].count() == 0
    receipt3 = delete_metrics(spark, bkt, metrics=["srv.db.cpu"])
    assert receipt3 == {60: 0, 600: 0}


def test_bucketed_ladder_expiry_and_compaction(spark, tmp_path):
    """expire_retention walks the nested mbucket=/date= layout and
    compact_level preserves it (fetch unchanged after both)."""
    from kenshin_backup_spark.operators.ladder import compact_level

    ladder = Ladder(
        root=str(tmp_path / "bexp"),
        archives=(Archive(60, 60), Archive(3600, 48)),
        metric_buckets=4,
    )
    rows = [
        ("m", dt.datetime.fromtimestamp(86_400 * d + h * 3600, UTC), 1.0)
        for d in range(4)
        for h in range(24)
    ]
    pts = spark.createDataFrame(
        rows, "metric string, ts timestamp, value double"
    )
    build_ladder(pts, ladder)
    now = 4 * 86_400
    dropped = expire_retention(ladder, now_ts=now)
    assert len(dropped[60]) == 3 and len(dropped[3600]) == 2
    fine = load_levels(spark, ladder)[60]
    assert fine.agg(F.min("bucket_ts")).first()[0] >= 3 * 86_400

    before, after = compact_level(spark, ladder, 3600)
    assert after <= before
    out = fetch_from_ladder(
        spark, ladder, metric_glob="m",
        from_ts=now - 7200, until_ts=now, now_ts=now,
    )
    assert finalize(out, agg="average").count() == 7200 // 3600 + 1


def test_layout_manifest_guards_bucket_pruning(spark, tmp_path):
    """ADVICE r8: the bucket-pruned delete/fetch fast paths must trust
    the ON-DISK layout, not the configured ``metric_buckets``. A
    recorded N mismatch fails loudly; flat-written data under a
    bucketed config falls back to the full-level rewrite and still
    deletes every row (no silent GDPR-erasure miss)."""
    import json
    import os

    import pytest

    from kenshin_backup_spark.operators.ladder import delete_metrics

    pts = _points(spark)

    # 1) flat-written data, engine later misconfigured with buckets:
    #    delete must FALL BACK and actually erase (receipt > 0)
    flat = Ladder(
        root=str(tmp_path / "flatmis"),
        archives=(Archive(60, 200),),
    )
    build_ladder(pts, flat)
    mis = Ladder(
        root=flat.root, archives=flat.archives, metric_buckets=8
    )
    assert mis.on_disk_metric_buckets() == 0
    assert mis.verified_bucketed() is False
    receipt = delete_metrics(spark, mis, metrics=["srv.web.cpu"])
    assert receipt[60] > 0
    survivors = load_levels(spark, mis)[60]
    assert survivors.where(F.col("metric") == "srv.web.cpu").count() == 0
    assert survivors.count() > 0  # the other series survived
    # the fallback rewrite preserved the FLAT on-disk layout
    entries = os.listdir(flat.level_path(60))
    assert any(e.startswith("date=") for e in entries)
    assert not any(e.startswith("mbucket=") for e in entries)

    # 2) bucketed-written data read with the WRONG N: loud failure on
    #    both the delete and the exact-name fetch prune path
    bkt = Ladder(
        root=str(tmp_path / "bktmis"),
        archives=(Archive(60, 200),),
        metric_buckets=8,
    )
    build_ladder(pts, bkt)
    wrong = Ladder(
        root=bkt.root, archives=bkt.archives, metric_buckets=4
    )
    with pytest.raises(ValueError, match="metric_buckets"):
        delete_metrics(spark, wrong, metrics=["srv.web.cpu"])
    with pytest.raises(ValueError, match="metric_buckets"):
        fetch_from_ladder(
            spark, wrong, metric_glob="srv.web.cpu",
            from_ts=NOW - 3000, until_ts=NOW, now_ts=NOW,
        )

    # 3) pre-manifest bucketed data (manifest lost): fast path declines
    #    (falls back) instead of trusting the configured N
    os.remove(bkt.manifest_path())
    assert bkt.on_disk_metric_buckets() == -1
    assert bkt.verified_bucketed() is False
    receipt2 = delete_metrics(spark, bkt, metrics=["srv.web.cpu"])
    assert receipt2[60] > 0
    # the full-level fallback preserved the BUCKETED on-disk layout
    entries2 = os.listdir(bkt.level_path(60))
    assert any(e.startswith("mbucket=") for e in entries2)

    # 4) manifest round-trip content
    build_ladder(pts, bkt)  # rewrites manifest
    with open(bkt.manifest_path()) as fh:
        assert json.load(fh)["metric_buckets"] == 8

    # 5) corrupt manifests of EVERY shape fall through to directory
    #    inference instead of raising (ADVICE r8: a null metric_buckets
    #    was a TypeError escaping the except tuple)
    for corrupt in (
        '{"metric_buckets": null}',
        '{"metric_buckets": "eight"}',
        "{}",
        "not json",
    ):
        with open(bkt.manifest_path(), "w") as fh:
            fh.write(corrupt)
        assert bkt.on_disk_metric_buckets() == -1  # inferred from mbucket=
        assert bkt.verified_bucketed() is False


def test_levels_read_with_the_recorded_schema(spark, tmp_path):
    """The layout manifest records the schema Spark would infer for
    every level (and, without mbucket, for a bucket directory);
    read_level opens a level with it and runs no Spark job. A manifest
    without a schema falls back to inference."""
    import json
    import uuid

    from kenshin_backup_spark.operators.ladder import read_level

    ladder = Ladder(
        root=str(tmp_path / "schema"),
        archives=(Archive(60, 200), Archive(600, 200)),
        metric_buckets=4,
    )
    build_ladder(_points(spark), ladder)
    sc = spark.sparkContext
    group = f"read-level-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_level")
    try:
        levels = {
            a.step_seconds: read_level(
                spark, ladder, ladder.level_path(a.step_seconds)
            ).schema
            for a in ladder.archives
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    for step, schema in levels.items():
        assert schema == spark.read.parquet(ladder.level_path(step)).schema
    bucket = os.path.join(
        ladder.level_path(60),
        sorted(e for e in os.listdir(ladder.level_path(60))
               if e.startswith("mbucket="))[0],
    )
    assert (
        read_level(spark, ladder, bucket).schema
        == spark.read.parquet(bucket).schema
    )

    with open(ladder.manifest_path()) as fh:
        manifest = json.load(fh)
    del manifest["schema"]
    with open(ladder.manifest_path(), "w") as fh:
        json.dump(manifest, fh)
    assert ladder.level_schema() is None
    assert load_levels(spark, ladder)[60].schema == levels[60]


def test_build_ladders_mixes_cascaded_and_raw_levels(spark, tmp_path):
    """One build of two bucketed ladders, where the second's coarse step
    is not a multiple of its fine one: that level aggregates raw in the
    same round the first ladder's level cascades, and every level of
    both equals rollup_partials run on that ladder's rows alone."""
    from kenshin_backup_spark.operators.ladder import (
        LADDER_COL,
        build_ladders,
    )

    pts = _points(spark)
    web = F.col("metric") == "srv.web.cpu"
    ladders = [
        Ladder(
            root=str(tmp_path / name),
            archives=archives,
            metric_buckets=4,
        )
        for name, archives in (
            ("web", (Archive(60, 200), Archive(600, 200))),
            ("db", (Archive(60, 200), Archive(90, 200), Archive(900, 20))),
        )
    ]
    routed = pts.withColumn(LADDER_COL, F.when(web, 0).otherwise(1))
    assert build_ladders(routed, ladders) == [True, True]

    cols = ["metric", "bucket_ts", "cnt", "sum_q", "min_v", "max_v",
            "last_ts", "last_v"]
    for ladder, rows in zip(ladders, (pts.where(web), pts.where(~web))):
        for a in ladder.archives:
            stored = load_levels(spark, ladder)[a.step_seconds]
            want = rollup_partials(
                rows, key_cols=["metric"], step_seconds=a.step_seconds
            )
            assert sorted(map(tuple, stored.select(*cols).collect())) == (
                sorted(map(tuple, want.select(*cols).collect()))
            ), (ladder.root, a.step_seconds)
        assert all(
            e.startswith("mbucket=")
            for a in ladder.archives
            for e in os.listdir(ladder.level_path(a.step_seconds))
        )


def test_large_round_input_spreads_each_leaf(spark, tmp_path):
    """A round whose input is estimated no larger than adaptive
    execution's smallest partition writes each date leaf as one file; a
    larger one is not repartitioned by (ladder, date), so its leaves
    spread over the shuffle's tasks. Both builds store the same rows."""
    ids = spark.range(4 * 2 * 1440)
    pts = ids.select(
        F.concat(F.lit("srv.h"), (F.col("id") % 4).cast("string")).alias(
            "metric"
        ),
        F.timestamp_seconds((F.col("id") / 4).cast("long") * 60).alias("ts"),
        (F.col("id") % 13).cast("double").alias("value"),
    )
    archives = (Archive(60, 4000), Archive(3600, 100))
    small, large = (
        Ladder(root=str(tmp_path / n), archives=archives)
        for n in ("small", "large")
    )
    key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    build_ladder(pts, small)
    old = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try:
        build_ladder(pts, large)
    finally:
        spark.conf.set(key, old)

    def files_per_leaf(ladder, step):
        path = ladder.level_path(step)
        return [
            len([f for f in os.listdir(f"{path}/{d}") if f.endswith(".parquet")])
            for d in sorted(os.listdir(path))
            if d.startswith("date=")
        ]

    assert files_per_leaf(small, 60) == [1, 1]
    assert max(files_per_leaf(large, 60)) > 1
    cols = ["metric", "bucket_ts", "cnt", "sum_q", "min_v", "max_v",
            "last_ts", "last_v"]
    for a in archives:
        got = [
            sorted(map(tuple, load_levels(spark, lad)[a.step_seconds]
                       .select(*cols).collect()))
            for lad in (small, large)
        ]
        assert got[0] == got[1], a.step_seconds


def _level_rows(spark, ladder):
    return {
        step: lvl.agg(F.sum("cnt")).first()[0]
        for step, lvl in load_levels(spark, ladder).items()
    }


def test_build_ladder_on_empty_input_keeps_prior_ladder(spark, tmp_path):
    """An empty build writes nothing: every level of the prior ladder
    stays readable with its rows, and build_ladder reports False."""
    ladder = Ladder(
        root=str(tmp_path / "empty_rebuild"),
        archives=(Archive(60, 200), Archive(600, 200)),
    )
    pts = _points(spark)
    assert build_ladder(pts, ladder) is True
    before = _level_rows(spark, ladder)
    assert build_ladder(pts.where(F.lit(False)), ladder) is False
    assert _level_rows(spark, ladder) == before
    assert sorted(os.listdir(ladder.root)) == [
        "_kenshin_layout.json", "step=60", "step=600",
    ]


def test_failed_level_write_keeps_prior_level(spark, tmp_path, monkeypatch):
    """A build whose coarse-level write raises leaves that level with its
    prior rows (levels swap in one at a time, so the fine level already
    holds the new build) and no temp directory under the ladder root."""
    import kenshin_backup_spark.operators.ladder as ladder_mod

    ladder = Ladder(
        root=str(tmp_path / "faulty"),
        archives=(Archive(60, 200), Archive(600, 200)),
    )
    pts = _points(spark)
    build_ladder(pts, ladder)
    before = _level_rows(spark, ladder)

    real_cascade = ladder_mod.cascade

    def failing_cascade(prev, **kw):
        return real_cascade(prev, **kw).withColumn(
            "boom", F.raise_error(F.lit("injected level-2 write failure"))
        )

    monkeypatch.setattr(ladder_mod, "cascade", failing_cascade)
    doubled = pts.unionByName(pts)
    with pytest.raises(Exception, match="injected level-2 write failure"):
        build_ladder(doubled, ladder)

    after = _level_rows(spark, ladder)
    assert after[600] == before[600]
    assert after[60] == 2 * before[60]
    leftovers = [
        d for _, dirs, _ in os.walk(ladder.root) for d in dirs if "__" in d
    ]
    assert leftovers == []
