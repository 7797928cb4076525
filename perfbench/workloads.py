"""Workload registry and the helpers the workloads share.

A workload object has a ``rotation`` (ops per cycle of its schedule; runs
measure whole rotations) and answers the runner's calls in this order:
``prepare(rep)`` three times (the repeatable set-up: generate the inputs),
``warm()`` once (build any store, run every op shape of a rotation once),
then ``op(i)``
per timed op with
``after_op(i, out)`` outside the timing, and finally ``check()`` (a list
of failure messages) and ``extras(op_seconds)`` (workload-specific
metrics and store counts).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq


def make(name: str, spark, seed: int, data_dir: str, tracer):
    os.makedirs(data_dir, exist_ok=True)
    if name == "dashboard":
        from dashboard import Dashboard as cls
    else:
        from ingest import Ingest as cls
    return cls(spark, seed, data_dir, tracer)


def isolate(spark) -> None:
    """Drop every cached frame so no result is reused across requests."""
    from kenshin_backup_spark.cache import clear_tracked

    clear_tracked()
    spark.catalog.clearCache()


def write_points(path: str, metrics, ts_s, values) -> None:
    """Long (metric, ts, value) points as parquet, ts in microseconds."""
    pq.write_table(
        pa.table({
            "metric": pa.array(metrics, pa.string()),
            "ts": pa.array(ts_s * 1_000_000, pa.timestamp("us")),
            "value": pa.array(values, pa.float64()),
        }),
        path,
    )


def store_stats(root: str) -> tuple[int, int]:
    """(parquet files, parquet bytes) under a store root."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


def close(a, b) -> bool:
    """Equal values or both gaps; 1e-6 absolute plus 1e-9 relative slack
    for the engine's quantized (1e-6) averages."""
    if a is None or b is None or a != a or b != b:
        return (a is None or a != a) and (b is None or b != b)
    return abs(a - b) <= 1e-6 + 1e-9 * abs(b)
