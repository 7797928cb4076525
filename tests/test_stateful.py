"""Tests for custom stateful streaming operators (applyInPandasWithState)
and the text-file Graphite ingest end to end."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from kenshin_backup_spark.streaming.ingest import (
    parse_graphite_lines,
    run_stream_to_memory,
    streaming_rollup,
)
from kenshin_backup_spark.streaming.stateful import counter_reset_stream, ewma_stream

UTC = dt.timezone.utc


def _file_stream(spark, tmp_path, rows):
    src = tmp_path / "pts"
    src.mkdir()
    df = spark.createDataFrame(
        rows, "metric string, ts timestamp, event_id long, value double"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src))
    return spark.readStream.schema(df.schema).parquet(str(src))


def test_ewma_stream_matches_reference(spark, tmp_path):
    vals = [10.0, 20.0, 30.0, 10.0]
    rows = [("m", dt.datetime.fromtimestamp(100 + i * 60, UTC), i, v)
            for i, v in enumerate(vals)]
    stream = _file_stream(spark, tmp_path, rows)
    out = run_stream_to_memory(
        spark, ewma_stream(stream, alpha=0.5), output_mode="append"
    )
    got = {r["es"]: r["ewma"] for r in out.collect()}
    # reference: seeded with first value, e_t = 0.5 v + 0.5 e
    want = {100: 10.0, 160: 15.0, 220: 22.5, 280: 16.25}
    assert got == want


def test_counter_reset_stream(spark, tmp_path):
    vals = [5.0, 9.0, 2.0, 4.0]  # drop at t=3 → reset
    rows = [("c", dt.datetime.fromtimestamp(i * 10, UTC), i, v)
            for i, v in enumerate(vals)]
    stream = _file_stream(spark, tmp_path, rows)
    out = run_stream_to_memory(
        spark, counter_reset_stream(stream), output_mode="append"
    )
    got = sorted((r["es"], r["delta"], r["resets"]) for r in out.collect())
    assert got == [(0, None, 0), (10, 4.0, 0), (20, 2.0, 1), (30, 2.0, 1)]


def test_rate_source_synthetic_load(spark):
    """S1 synthetic-load path: rate source → formatted graphite lines →
    parse → rollup, driven live for a couple of micro-batches."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 500)
        .load()
    )
    lines = rate.selectExpr(
        "concat('srv.host', CAST(value % 4 AS STRING), '.cpu ', "
        "CAST(CAST(value AS DOUBLE) / 7 AS STRING), ' ', "
        "CAST(unix_timestamp(timestamp) AS STRING)) AS value"
    )
    parsed = parse_graphite_lines(lines)
    rolled = streaming_rollup(parsed, key_col="metric", step_seconds=1, watermark="10 seconds")
    import uuid

    name = f"rate_out_{uuid.uuid4().hex[:8]}"
    q = (
        rolled.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="1 second")
        .start()
    )
    import time as _t

    deadline = _t.time() + 20
    while _t.time() < deadline:
        if spark.sql(f"SELECT count(*) AS n FROM {name}").first()["n"] > 0:
            break
        _t.sleep(0.5)
    q.stop()
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert rows, "rate-source pipeline produced no rollup rows in 20s"
    metrics = {r["metric"] for r in rows}
    assert metrics <= {f"srv.host{i}.cpu" for i in range(4)}


def test_graphite_text_file_ingest_end_to_end(spark, tmp_path):
    """S1 end to end over a real streaming source: text lines → parse →
    watermarked rollup → memory sink."""
    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    (lines_dir / "batch1.txt").write_text(
        "\n".join(
            [
                "srv.cpu 1.5 1000",
                "srv.cpu 2.5 1030",
                "srv.mem 10.0 1000",
                "garbage line without numbers",
                "srv.cpu 3.0 1090",
            ]
        )
    )
    raw = spark.readStream.format("text").load(str(lines_dir))
    parsed = parse_graphite_lines(raw)
    rolled = streaming_rollup(parsed, key_col="metric", step_seconds=60, watermark="1 hour")
    out = run_stream_to_memory(spark, rolled, output_mode="complete")
    got = {(r["metric"], r["bucket_ts"]): (r["cnt"], r["sum_q"]) for r in out.collect()}
    assert got == {
        ("srv.cpu", 960): (1, 1_500_000),
        ("srv.cpu", 1020): (1, 2_500_000),
        ("srv.cpu", 1080): (1, 3_000_000),
        ("srv.mem", 960): (1, 10_000_000),
    }


def test_drawdown_stream_matches_reference(spark, tmp_path):
    vals = [10.0, 8.0, 12.0, 5.0, 12.0]
    src = tmp_path / "dd"
    src.mkdir()
    df = spark.createDataFrame(
        [("m", dt.datetime.fromtimestamp(100 + i * 60, UTC), i, v)
         for i, v in enumerate(vals)],
        "metric string, ts timestamp, event_id long, value double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(src))
    stream = spark.readStream.schema(df.schema).parquet(str(src))

    from kenshin_backup_spark.streaming.stateful import drawdown_stream

    out = run_stream_to_memory(spark, drawdown_stream(stream), output_mode="append")
    got = sorted((r["es"], r["peak"], r["drawdown"]) for r in out.collect())
    assert got == [
        (100, 10.0, 0.0),
        (160, 10.0, 2.0),
        (220, 12.0, 0.0),
        (280, 12.0, 7.0),
        (340, 12.0, 0.0),
    ]
