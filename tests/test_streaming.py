"""Streaming ingest tests (SURVEY.md §5.2.5): Graphite line parsing,
batch/stream rollup equivalence, late-data watermark behavior."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kenshin_backup_spark.operators.rollup import finalize, rollup_partials
from kenshin_backup_spark.streaming.ingest import (
    parse_graphite_lines,
    run_stream_to_memory,
    streaming_rollup,
)


def test_parse_graphite_lines(spark):
    lines = spark.createDataFrame(
        [
            ("servers.web01.cpu 3.14 1723500000",),
            ("a.b -1.5 1723500060",),
            ("malformed line",),
            ("noval  1723500000",),
        ],
        "value string",
    )
    parsed = parse_graphite_lines(lines)
    out = parsed.select("metric", "value", F.unix_timestamp("ts").alias("es")).collect()
    assert len(out) == 2
    byname = {r["metric"]: r for r in out}
    assert byname["servers.web01.cpu"]["value"] == 3.14
    assert byname["a.b"]["es"] == 1723500060


def test_foreachbatch_parquet_sink(spark, tmp_path):
    """Production sink path (S3): streaming rollup → foreachBatch dynamic-
    partition-overwrite parquet → read back equals the batch partials."""
    from kenshin_backup_spark.streaming.ingest import write_rollup_sink

    utc = dt.timezone.utc
    rows = [
        ("m1", dt.datetime.fromtimestamp(1_000_000 + 60 * i, utc), float(i))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    src = str(tmp_path / "sinksrc")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    rolled = streaming_rollup(stream, key_col="metric", step_seconds=600, watermark="1 hour")
    out_dir = str(tmp_path / "rollup_out")
    ckpt = str(tmp_path / "ckpt")
    q = write_rollup_sink(rolled, out_dir, ckpt).trigger(availableNow=True).start()
    q.awaitTermination()

    got = spark.read.parquet(out_dir).drop("date")
    want = rollup_partials(df, key_cols=["metric"], step_seconds=600)
    cols = ["metric", "bucket_ts", "cnt", "sum_q", "min_v", "max_v", "last_ts", "last_v"]
    a = sorted(map(tuple, got.select(cols).collect()))
    b = sorted(map(tuple, want.select(cols).collect()))
    assert a == b


def test_upsert_rollup_partitions_multibatch(spark, tmp_path):
    """Update-mode micro-batches emit only the buckets changed in that
    batch; the merge-upsert sink must preserve same-date buckets flushed by
    earlier batches (a plain dynamic-partition overwrite deletes them)."""
    from kenshin_backup_spark.streaming.ingest import upsert_rollup_partitions

    path = str(tmp_path / "out")
    schema = (
        "metric string, bucket_ts long, cnt long, sum_q long, "
        "min_v double, max_v double, last_ts long, last_v double"
    )
    day = 1_000_000 - (1_000_000 % 86_400)
    b1 = spark.createDataFrame(
        [
            ("m1", day, 1, 100, 1.0, 1.0, day, 1.0),
            ("m1", day + 600, 2, 200, 1.0, 2.0, day + 660, 2.0),
            ("m1", day + 86_400, 5, 500, 1.0, 5.0, day + 86_400, 5.0),
        ],
        schema,
    )
    upsert_rollup_partitions(b1, path)
    # Second batch, same date: revises day+600, adds m2; the bucket at
    # `day` is NOT re-emitted and must survive, as must the next-day one.
    b2 = spark.createDataFrame(
        [
            ("m1", day + 600, 3, 350, 1.0, 3.0, day + 700, 3.0),
            ("m2", day + 1200, 1, 50, 0.5, 0.5, day + 1200, 0.5),
        ],
        schema,
    )
    upsert_rollup_partitions(b2, path)
    got = {
        (r["metric"], r["bucket_ts"]): (r["cnt"], r["sum_q"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("m1", day): (1, 100),
        ("m1", day + 600): (3, 350),
        ("m1", day + 86_400): (5, 500),
        ("m2", day + 1200): (1, 50),
    }


def test_policy_join_variant_equals_when_chain(spark):
    """assign_policy (the codegen when-chain) must agree with a plain
    Python first-match scan on overlapping patterns, with and without a
    trailing match-everything '.*' policy; a metric nothing matches, a
    null one included, gets 'default'."""
    import re

    from kenshin_backup_spark.operators.policies import Policy, assign_policy

    overlapping = [
        Policy(name="p0", pattern="^a"),
        Policy(name="p1", pattern="b$"),
        Policy(name="p2", pattern="meta"),
    ]
    names = ["abc", "ab", "zzb", "metal", "none", None]
    df = spark.createDataFrame([(m,) for m in names], "metric string")
    for policies in (overlapping, overlapping + [Policy(name="rest", pattern=".*")]):
        chain = {
            r["metric"]: r["policy"]
            for r in assign_policy(df, policies).collect()
        }
        oracle = {
            m: next(
                (p.name for p in policies
                 if m is not None and re.search(p.pattern, m)),
                "default",
            )
            for m in names
        }
        assert chain == oracle


def test_watermark_drops_late_data(spark, tmp_path):
    """Reference T4 parity: a point older than the watermark horizon is
    DROPPED; in-horizon out-of-order points revise their bucket. Two
    micro-batches forced via maxFilesPerTrigger=1."""
    utc = dt.timezone.utc
    src = tmp_path / "late"
    src.mkdir()
    schema = "metric string, ts timestamp, value double"
    # Watermark advancement lags one batch: batch N's input is filtered by
    # the watermark computed from batches < N. So the too-late point goes
    # in batch 3, two batches after the data that advanced the watermark.
    batches = [
        [("m", dt.datetime.fromtimestamp(10_000, utc), 1.0)],
        [("m", dt.datetime.fromtimestamp(10_060, utc), 2.0)],
        [
            ("m", dt.datetime.fromtimestamp(2_000, utc), 999.0),   # → dropped
            ("m", dt.datetime.fromtimestamp(9_400, utc), 100.0),   # in horizon
        ],
    ]
    import glob
    import os
    import shutil

    for i, rows in enumerate(batches):
        b = spark.createDataFrame(rows, schema)
        staging = str(tmp_path / f"stage{i}")
        b.coalesce(1).write.parquet(staging)
        part = glob.glob(staging + "/part-*.parquet")[0]
        dest = str(src / f"f{i}.parquet")
        shutil.copy(part, dest)
        # mtime drives FileStreamSource batch order
        os.utime(dest, (1000 + i * 100, 1000 + i * 100))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    rolled = streaming_rollup(
        stream, key_col="metric", step_seconds=600, watermark="10 minutes"
    )
    got = run_stream_to_memory(spark, rolled, output_mode="update")
    final = {}
    for r in got.collect():  # update mode re-emits revisions; keep the last
        final[r["bucket_ts"]] = (r["cnt"], r["sum_q"])
    assert 1800 not in final                  # older-than-horizon point dropped
    assert final[9000] == (1, 100_000_000)    # in-horizon late point accepted
    assert final[9600] == (2, 3_000_000)      # 10000 + 10060 both in [9600,10200)


def test_stream_rollup_equals_batch(spark, tmp_path):
    """The streaming rollup over a bounded file source must equal the batch
    rollup_partials over the same rows (reference batch/stream parity)."""
    utc = dt.timezone.utc
    rows = [
        ("m1", dt.datetime.fromtimestamp(100 + 60 * i, utc), float(i)) for i in range(100)
    ] + [("m2", dt.datetime.fromtimestamp(90_000, utc), 7.0)]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    src = str(tmp_path / "pts")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    rolled = streaming_rollup(stream, key_col="metric", step_seconds=600, watermark="1 hour")
    got = run_stream_to_memory(spark, rolled, output_mode="complete")

    want = rollup_partials(df, key_cols=["metric"], step_seconds=600)
    cols = ["metric", "bucket_ts", "cnt", "sum_q", "min_v", "max_v", "last_ts", "last_v"]
    a = sorted(map(tuple, got.select(cols).collect()))
    b = sorted(map(tuple, want.select(cols).collect()))
    assert a == b


def test_cap_points_per_key_keeps_newest(spark):
    """T5 overflow guard: at most max_points NEWEST rows survive per key."""
    from kenshin_backup_spark.streaming.ingest import cap_points_per_key

    utc = dt.timezone.utc
    rows = [
        ("m1", dt.datetime.fromtimestamp(100 + i, utc), float(i)) for i in range(10)
    ] + [("m2", dt.datetime.fromtimestamp(50, utc), 1.0)]
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    capped = cap_points_per_key(df, key_cols=["metric"], max_points=3)
    got = {
        (r.metric, r.value) for r in capped.collect()
    }
    # m1: only the 3 newest (values 7,8,9); m2: under the cap, untouched
    assert got == {("m1", 7.0), ("m1", 8.0), ("m1", 9.0), ("m2", 1.0)}


def test_bounded_file_stream_backpressure(spark, tmp_path):
    """T5 source backpressure: maxFilesPerTrigger=1 over a 3-file source
    must split the work into >= 3 micro-batches with no row loss."""
    from kenshin_backup_spark.streaming.ingest import bounded_file_stream

    utc = dt.timezone.utc
    src = str(tmp_path / "burst")
    total = 0
    for f in range(3):
        rows = [
            ("m", dt.datetime.fromtimestamp(1000 * f + i, utc), float(i))
            for i in range(20)
        ]
        total += len(rows)
        df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
        df.coalesce(1).write.mode("append").parquet(src)

    stream = bounded_file_stream(
        spark, src, "metric string, ts timestamp, value double",
        max_files_per_trigger=1,
    )
    seen: list[tuple[int, int]] = []

    def _collect(batch_df, epoch_id):
        seen.append((epoch_id, batch_df.count()))

    q = (
        stream.writeStream.foreachBatch(_collect)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen) >= 3, seen
    assert sum(n for _, n in seen) == total


def test_complete_mode_skips_nodata_batch_and_restores_conf(spark):
    """r16: run_stream_to_memory disables the trailing no-data micro-batch
    for COMPLETE output (it only advances the watermark, which complete
    mode ignores for emission) and restores the conf afterwards; the
    result still equals the batch rollup."""
    from kenshin_backup_spark.queries.streaming_q import _events_stream
    from kenshin_backup_spark.sources import load_table

    ndb = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(ndb, "true")
    sf_dir = "/root/testdata/sf0.001"
    stream = _events_stream(spark, sf_dir)
    rolled = streaming_rollup(
        stream, key_col="event_type", step_seconds=3600, watermark="1 hour"
    )
    got = run_stream_to_memory(spark, rolled, output_mode="complete")
    assert spark.conf.get(ndb, "true") == before
    ev = load_table(spark, sf_dir, "events")
    want = rollup_partials(ev, key_cols=["event_type"], step_seconds=3600)
    assert got.count() == want.count()
    assert (
        got.exceptAll(want.select(*got.columns)).count() == 0
        and want.select(*got.columns).exceptAll(got).count() == 0
    )


def test_concurrent_append_stream_keeps_its_final_windows(
    spark, tmp_path, monkeypatch
):
    """run_stream_to_memory turns the no-data micro-batch off for a
    COMPLETE query only from set to start(), under the lock every
    start_query takes, and restores the conf right after start(). An
    APPEND stream started on another thread meanwhile still runs the
    trailing no-data batch that closes its windows, so it equals its
    batch oracle. The complete stream (watermarked dropDuplicates under
    a count, the streaming_dedup_slots shape: its dedup state asks for a
    no-data batch once the watermark moves) still skips that batch
    although the conf is back on while it runs, so a started query keeps
    the conf it started with. The control, the same complete query
    started with the conf on, shows the batch it would otherwise run."""
    import threading

    from pyspark.sql.streaming import DataStreamWriter

    from kenshin_backup_spark.streaming.ingest import start_query

    ndb = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(ndb, "true")
    utc = dt.timezone.utc
    t0 = 1_700_006_400  # a UTC midnight
    rows = [("m", dt.datetime.fromtimestamp(t0 + 60 * i, utc), float(i))
            for i in range(211)]  # event times t0 … t0 + 12600 s
    df = spark.createDataFrame(rows, "metric string, ts timestamp, value double")
    src = str(tmp_path / "pts")
    df.coalesce(1).write.parquet(src)

    def stream():
        return spark.readStream.schema(df.schema).parquet(src)

    def deduped_count():
        return (
            stream().withWatermark("ts", "0 seconds")
            .dropDuplicates(["metric", "ts"])
            .groupBy("metric").agg(F.count(F.lit(1)).alias("n"))
        )

    queries = {
        "complete": deduped_count,
        "append": lambda: streaming_rollup(
            stream(), key_col="metric", step_seconds=3600,
            watermark="0 seconds",
        ),
    }
    started = {}
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        started[threading.current_thread().name] = q
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    out, errors = {}, []

    def run(mode):
        try:
            out[mode] = run_stream_to_memory(
                spark, queries[mode](), output_mode=mode
            )
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(m,), name=m)
               for m in queries]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []
    assert spark.conf.get(ndb, "true") == before

    cols = ["metric", "bucket_ts", "cnt", "sum_q", "min_v", "max_v",
            "last_ts", "last_v"]
    want = rollup_partials(df, key_cols=["metric"], step_seconds=3600)
    # the final watermark is the max event time, t0 + 12600 s: it closes
    # the windows that end by then, the first three hours
    closed = want.where(F.col("bucket_ts") + 3600 <= t0 + 12600)
    assert closed.count() == 3
    assert sorted(map(tuple, out["append"].select(cols).collect())) == sorted(
        map(tuple, closed.select(cols).collect()))
    assert [tuple(r) for r in out["complete"].collect()] == [("m", 211)]

    def input_rows(q):
        return [p.numInputRows for p in q.recentProgress]

    assert input_rows(started["append"])[-1] == 0     # the no-data batch
    assert input_rows(started["complete"]) == [211]   # skipped
    control = start_query(
        deduped_count().writeStream.format("memory")
        .queryName("ndb_control").outputMode("complete")
        .trigger(availableNow=True)
    )
    control.awaitTermination()
    assert input_rows(control) == [211, 0]
