"""``ingest``: the write and maintenance path, no renders.

Each op is one cycle over a fresh seeded batch (35 series × 10 days at
5 min ≈ 101 k points, three name families): ``Engine.write`` (which
replaces the ladders), ``Engine.expire(now_ts=batch end)``,
``Engine.compact()`` and ``Engine.delete(<one exact series>)``. The clock
advances ten days per cycle. The storage schema is carbon style, first
match wins: ``^svc\\.`` (300 s / 1 h / 1 d, average), ``^cap\\.``
(1 h / 1 d, max), a policy whose pattern matches nothing, and a default.
With 1440 points per level the 5 min levels keep five days, so every
expire drops fine partitions.

After each cycle, outside the timed op, DuckDB reads every level back:
Σ``cnt`` per policy and level must equal the generator's count of points
routed there inside that level's retention, minus the deleted series, and
the deleted series must be absent.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import random

import duckdb
import numpy as np

from workloads import isolate, store_stats, write_points

STEP, DAYS, PPL = 300, 10, 1440
T0 = 1_700_006_400  # a UTC midnight
D = 86400
FAMILIES = (  # (policy the names route to, names)
    ("svc", [f"svc.h{h:02d}.m{m}" for h in range(4) for m in range(5)]),
    ("cap", [f"cap.c{i}.total" for i in range(8)]),
    ("default", [f"sys.n{i}.load" for i in range(7)]),
)


def policies():
    from kenshin_backup_spark.operators.policies import Policy

    return [
        Policy("svc", r"^svc\.", steps=(300, 3600, 86400), agg="average"),
        Policy("cap", r"^cap\.", steps=(3600, 86400), agg="max"),
        Policy("unused", r"^zzz\.", steps=(60, 600), agg="sum"),
        Policy("default", r".*", steps=(300, 3600), agg="average"),
    ]


def batch(seed: int, cycle: int):
    """(metric, ts, value, policy) arrays of one cycle's points."""
    rng = np.random.default_rng([seed, cycle + 1])  # the warm-up is cycle -1
    ts = T0 + cycle * DAYS * D + np.arange(DAYS * D // STEP, dtype=np.int64) * STEP
    names = [n for _, ns in FAMILIES for n in ns]
    pol = [p for p, ns in FAMILIES for _ in ns]
    values = rng.integers(0, 1000, size=len(names) * len(ts)).astype(np.float64)
    return (np.repeat(np.array(names), len(ts)), np.tile(ts, len(names)), values,
            np.repeat(np.array(pol), len(ts)))


def expected_counts(points, victim: str, now: int) -> dict:
    """{(policy, step): Σcnt} the store must hold after one cycle."""
    metric, ts, _, pol = points
    keep = metric != victim
    out = {}
    for p in policies():
        if p.name not in set(pol):
            continue
        sel = keep & (pol == p.name)
        for step in p.steps:
            cutoff = dt.datetime.fromtimestamp(now - step * PPL, dt.timezone.utc).date()
            cut_ts = int(dt.datetime(cutoff.year, cutoff.month, cutoff.day,
                                     tzinfo=dt.timezone.utc).timestamp())
            out[(p.name, step)] = int(np.count_nonzero(sel & (ts - ts % step >= cut_ts)))
    return out


def stored_counts(root: str, victim: str) -> tuple[dict, int]:
    """({(policy, step): Σcnt}, rows of the victim) read back with DuckDB."""
    con = duckdb.connect()
    counts, victim_rows = {}, 0
    for level in glob.glob(os.path.join(root, "policy=*", "step=*")):
        files = glob.glob(os.path.join(level, "**", "*.parquet"), recursive=True)
        pol = os.path.basename(os.path.dirname(level)).split("=", 1)[1]
        step = int(os.path.basename(level).split("=", 1)[1])
        if not files:
            counts[(pol, step)] = 0
            continue
        total, hit = con.execute(
            "SELECT COALESCE(SUM(cnt), 0), COUNT(*) FILTER (WHERE metric = $v) "
            "FROM read_parquet($f, union_by_name=true)",
            {"f": files, "v": victim},
        ).fetchone()
        counts[(pol, step)] = int(total)
        victim_rows += int(hit)
    con.close()
    return counts, victim_rows


def check_cycle(root: str, points, victim: str, now: int) -> str | None:
    """What is wrong with the store after one cycle, or None."""
    want = expected_counts(points, victim, now)
    got, victim_rows = stored_counts(root, victim)
    if got == want and not victim_rows:
        return None
    diff = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
    return (f"Σcnt (stored, expected) {diff}, extra levels "
            f"{sorted(set(got) - set(want))}, deleted series rows {victim_rows}")


class Ingest:
    rotation = 1

    def __init__(self, spark, seed, data_dir, tracer) -> None:
        self.spark, self.seed, self.dir, self.tracer = spark, seed, data_dir, tracer
        self.rng = random.Random(seed)
        self.store = os.path.join(data_dir, "store")
        self.failures: list[str] = []
        self.points_written = 0
        self.counts = {"partitions_dropped": 0, "files_before": 0, "files_after": 0,
                       "delete_bytes_rewritten": 0}

    def _stage(self, cycle: int) -> str:
        self.points = batch(self.seed, cycle)
        path = os.path.join(self.dir, f"batch{cycle}.parquet")
        write_points(path, *self.points[:3])
        return path

    def prepare(self, rep: int) -> None:
        self.path = self._stage(0)

    def warm(self) -> None:
        """One whole cycle on the store (the batch before the first timed
        one), so every timed cycle replaces a ladder, as later cycles do,
        and runs code that has run before."""
        from kenshin_backup_spark.api import Engine

        eng = Engine(self.spark, self.store, policies=policies(), points_per_level=PPL)
        warm = self._stage(-1)
        eng.write(self.spark.read.parquet(warm))
        eng.expire(now_ts=int(self.points[1].max()))
        eng.compact()
        eng.delete("svc.h00.m0")
        isolate(self.spark)
        os.remove(warm)
        self.path = self._stage(0)

    def op(self, i: int):
        from kenshin_backup_spark.api import Engine

        now = int(self.points[1].max())
        victim = self.rng.choice(FAMILIES[0][1] + FAMILIES[1][1])
        eng = Engine(self.spark, self.store, policies=policies(), points_per_level=PPL)
        eng.write(self.spark.read.parquet(self.path))
        dropped = eng.expire(now_ts=now)
        compacted = eng.compact()
        deleted = eng.delete(victim)
        isolate(self.spark)
        return now, victim, dropped, compacted, deleted

    def after_op(self, i: int, out) -> None:
        now, victim, dropped, compacted, deleted = out
        self.points_written += len(self.points[0])
        self.counts["partitions_dropped"] += sum(
            len(v) for levels in dropped.values() for v in levels.values())
        for levels in compacted.values():
            for before, after in levels.values():
                self.counts["files_before"] += before
                self.counts["files_after"] += after
        for pol, levels in deleted.items():
            for step, rows in levels.items():
                if rows:
                    self.counts["delete_bytes_rewritten"] += store_stats(
                        os.path.join(self.store, f"policy={pol}", f"step={step}"))[1]
        bad = check_cycle(self.store, self.points, victim, now)
        if bad:
            self.failures.append(f"cycle {i}: {bad}")
        os.remove(self.path)
        self.path = self._stage(i + 1)

    def check(self) -> list[str]:
        return self.failures

    def extras(self, op_seconds: float) -> dict:
        files, size = store_stats(self.store)
        return {
            "points_per_s": self.points_written / op_seconds,
            "store_bytes_per_point": size / len(self.points[0]),
            "ladder.files": files,
            "ladder.bytes": size,
            **self.counts,
        }
