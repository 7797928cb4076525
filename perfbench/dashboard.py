"""``dashboard``: Graphite render requests over a prebuilt rollup ladder.

Set-up writes a seeded ``svc.<host>.<metric>`` namespace (6 hosts × 10
metrics × 14 days at 5 min, integer values) through ``Engine.write`` with
one three-level policy (300 s / 1 h / 1 d, 288 points per level, so 6 h
and 1 d windows read the 5 min level, 7 d the hourly one and 14 d the
daily one). Each op is one ``Engine.render_many`` request whose rows are
collected to the Spark driver, as graphite-web returns them.

The request schedule is a fixed rotation of templates and windows, so
every seed measures the same mix; the seed draws the data and the hosts
and metrics each request names. Every response is compared, after the
timed loop, with a DuckDB leaf fetch over the generated points followed
by the render function's definition in plain Python.
"""

from __future__ import annotations

import os
import random
import re

import duckdb
import numpy as np
import pyarrow as pa

from workloads import close, isolate, store_stats, write_points

HOSTS, METRICS, DAYS, STEP = 6, 10, 14, 300
STEPS = (300, 3600, 86400)
PPL = 288
T0 = 1_700_006_400  # a UTC midnight
H, D = 3600, 86400


def generate(seed: int):
    """(names, ts, values[series, slot]) — integer values around a
    per-series level, so series maxima differ and sorts are stable."""
    rng = np.random.default_rng(seed)
    names = [f"svc.h{h:02d}.m{m}" for h in range(HOSTS) for m in range(METRICS)]
    ts = T0 + np.arange(DAYS * D // STEP, dtype=np.int64) * STEP
    level = rng.integers(10, 1000, size=len(names))
    values = level[:, None] + rng.integers(0, 50, size=(len(names), len(ts)))
    return names, ts, values.astype(np.float64)


# -- reference semantics -----------------------------------------------------

def _glob_regex(glob: str) -> str:
    return "".join("[^.]*" if c == "*" else re.escape(c) for c in glob)


class Oracle:
    """DuckDB leaf fetch (archive routing, clamping, aligned gap-filled
    grid, average kernel) over the raw points."""

    def __init__(self, names, ts, values) -> None:
        self.names = names
        self.con = duckdb.connect()
        self.con.register("raw_points", pa.table({
            "metric": np.repeat(np.array(names), len(ts)),
            "ts": np.tile(ts, len(names)),
            "value": values.ravel(),
        }))

    def leaf(self, glob: str, f: int, u: int, now: int) -> dict:
        lo, hi = max(f, now - max(STEPS) * PPL), min(u, now)
        step = next((s for s in STEPS if now - s * PPL <= lo), STEPS[-1])
        lo, hi = lo - lo % step, hi - hi % step
        rx = _glob_regex(glob)
        out = {
            m: dict.fromkeys(range(lo, hi + 1, step))
            for m in self.names if re.fullmatch(rx, m)
        }
        rows = self.con.execute(
            "SELECT metric, ts - ts % $step AS b, SUM(value) / COUNT(*) "
            "FROM raw_points WHERE regexp_full_match(metric, $rx) "
            "AND ts - ts % $step BETWEEN $lo AND $hi GROUP BY 1, 2",
            {"step": step, "rx": rx, "lo": lo, "hi": hi},
        ).fetchall()
        for m, b, v in rows:
            out[m][b] = v
        return out


def summarize(series: dict, interval: int, func: str) -> dict:
    agg = {"sum": sum, "max": max}[func]
    out = {}
    for k, s in series.items():
        buckets: dict[int, list] = {}
        for t, v in s.items():
            buckets.setdefault(t - t % interval, []).append(v)
        out[k] = {
            b: (agg(x for x in vs if x is not None) if any(x is not None for x in vs) else None)
            for b, vs in buckets.items()
        }
    return out


def moving_average(series: dict, n: int) -> dict:
    """Mean of the non-gap values among the n slots strictly before each
    slot; the first n slots are gaps."""
    out = {}
    for k, s in series.items():
        ts, vs = list(s), list(s.values())
        res = {}
        for i, t in enumerate(ts):
            w = [v for v in vs[max(0, i - n):i] if v is not None]
            res[t] = sum(w) / len(w) if i >= n and w else None
        out[k] = res
    return out


def _smax(s: dict):
    vals = [v for v in s.values() if v is not None]
    return max(vals) if vals else None


def highest_max(series: dict, n: int) -> dict:
    keep = sorted(series, key=lambda k: (-_smax(series[k]), k))[:n]
    return {k: series[k] for k in keep}


def as_percent_nodes(series: dict, node: int) -> dict:
    groups: dict[str, list] = {}
    for k in series:
        groups.setdefault(k.split(".")[node], []).append(k)
    out = {}
    for members in groups.values():
        for k in members:
            res = {}
            for t, v in series[k].items():
                parts = [series[m][t] for m in members if series[m][t] is not None]
                total = sum(parts) if parts else None
                res[t] = v / total * 100 if v is not None and total else None
            out[k] = res
    return out


def limit_sorted_group(first: dict, second: dict, n: int) -> dict:
    """limit(group(sortBy(first, 'max'), second), n)."""
    order = sorted(first, key=lambda k: (_smax(first[k]), k)) + sorted(second)
    both = {**second, **first}
    return {k: both[k] for k in order[:n]}


def consolidate(series: dict, mdp: int) -> dict:
    """maxDataPoints: average runs of ceil(n / mdp) slots on bands aligned
    to epoch multiples of the band width (see seriesfns.consolidate_points)."""
    out = {}
    for k, s in series.items():
        ts = sorted(s)
        n, start, end = len(ts), ts[0], ts[-1]
        step = (end - start) // (n - 1) if n > 1 else 1
        vpp = -(-n // mdp) if mdp < n else 1
        spp = vpp * step
        nstart = start + spp + start % step - start % spp
        if not (vpp > 1 and nstart <= end):
            nstart = start
        bands: dict[int, list] = {}
        for t in ts:
            if t >= nstart:
                bands.setdefault(nstart + (t - nstart) // spp * spp, []).append(s[t])
        out[k] = {
            b: (sum(x for x in vs if x is not None) / sum(x is not None for x in vs)
                if any(x is not None for x in vs) else None)
            for b, vs in bands.items()
        }
    return out


def schedule(seed: int, n: int) -> list[dict]:
    """The first n requests: a fixed rotation of seven (template, window,
    maxDataPoints) slots; the seed names the hosts and metrics."""
    rng = random.Random(seed)
    reqs: list[dict] = []
    while len(reqs) < n:
        a, b = (f"h{x:02d}" for x in rng.sample(range(HOSTS), 2))
        k, k2 = (f"m{x}" for x in rng.sample(range(METRICS), 2))
        L = lambda g: (lambda o, w: o.leaf(g, *w))  # noqa: E731
        reqs += [
            # a plain glob
            dict(window=6 * H, mdp=None, targets=[(f"svc.{a}.*", L(f"svc.{a}.*"))]),
            dict(window=D, mdp=None, targets=[(
                f"summarize(svc.*.{k}, '1h', 'sum')",
                lambda o, w, k=k: summarize(o.leaf(f"svc.*.{k}", *w), H, "sum"))]),
            dict(window=7 * D, mdp=100, targets=[(
                f"aliasByNode(movingAverage(svc.{a}.*, 5), 1, 2)",
                lambda o, w, a=a: moving_average(o.leaf(f"svc.{a}.*", *w), 5))]),
            # the refetch rail: the shifted window routes on its own
            dict(window=D, mdp=None, targets=[(
                f"timeShift(svc.{a}.{k}, '1d')",
                lambda o, w, a=a, k=k: {
                    m: {t + D: v for t, v in s.items()}
                    for m, s in o.leaf(f"svc.{a}.{k}", w[0] - D, w[1] - D, w[2]).items()
                })]),
            # two targets, no shared leaves
            dict(window=14 * D, mdp=None, targets=[
                (f"highestMax(svc.*.{k}, 3)",
                 lambda o, w, k=k: highest_max(o.leaf(f"svc.*.{k}", *w), 3)),
                (f"summarize(svc.{b}.*, '1d', 'max')",
                 lambda o, w, b=b: summarize(o.leaf(f"svc.{b}.*", *w), D, "max"))]),
            dict(window=7 * D, mdp=50, targets=[(
                f"asPercent(svc.*.{k2}, nodes=2)",
                lambda o, w, k2=k2: as_percent_nodes(o.leaf(f"svc.*.{k2}", *w), 2))]),
            # the graphite_render_group_order shape; three targets, two of
            # them on one leaf glob (the render_many memo)
            dict(window=D, mdp=None, targets=[
                (f"limit(group(sortBy(svc.{a}.*, 'max'), svc.{b}.{k}), 3)",
                 lambda o, w, a=a, b=b, k=k: limit_sorted_group(
                     o.leaf(f"svc.{a}.*", *w), o.leaf(f"svc.{b}.{k}", *w), 3)),
                (f"svc.{b}.{k}", L(f"svc.{b}.{k}")),
                (f"svc.{a}.{k2}", L(f"svc.{a}.{k2}"))]),
        ]
    return reqs[:n]


_KEY = re.compile(r"svc\.h\d\d\.m\d|h\d\d\.m\d")


def series_key(name: str) -> str:
    """The source series a response name is about (aliasByNode drops the
    ``svc.`` node)."""
    m = _KEY.search(name)
    if m is None:
        return name
    return m.group(0) if m.group(0).startswith("svc.") else "svc." + m.group(0)


def compare(rows, req: dict, oracle: Oracle, now: int) -> list[str]:
    """Differences between a response (target, metric, bucket_ts, value)
    and the reference; empty when they agree."""
    window = (now - req["window"], now, now)
    got: dict[str, dict] = {}
    for target, metric, ts, value in rows:
        got.setdefault(target, {}).setdefault(series_key(metric), {})[int(ts)] = value
    bad = []
    for target, ref_fn in req["targets"]:
        ref = ref_fn(oracle, window)
        if req["mdp"]:
            ref = consolidate(ref, req["mdp"])
        have = got.pop(target, {})
        if sorted(have) != sorted(ref):
            bad.append(f"{target}: series {sorted(have)} != {sorted(ref)}")
            continue
        for k, s in ref.items():
            if sorted(have[k]) != sorted(s):
                bad.append(f"{target}: {k} timestamps differ")
            elif not all(close(have[k][t], v) for t, v in s.items()):
                t, v = next((t, v) for t, v in s.items() if not close(have[k][t], v))
                bad.append(f"{target}: {k}@{t} = {have[k][t]} != {v}")
    if got:
        bad.append(f"unexpected targets {sorted(got)}")
    return bad


class Dashboard:
    rotation = 7  # requests per schedule rotation

    def __init__(self, spark, seed, data_dir, tracer) -> None:
        from kenshin_backup_spark.operators.policies import Policy

        self.spark, self.seed, self.dir, self.tracer = spark, seed, data_dir, tracer
        self.policy = Policy("svc", r"^svc\.", steps=STEPS, agg="average")
        self.now = T0 + DAYS * D - STEP  # the last written slot
        self.responses: list[tuple[int, list]] = []
        self.reqs: list[dict] = []
        self.raw = os.path.join(data_dir, "raw.parquet")
        self.store = os.path.join(data_dir, "store")

    def prepare(self, rep: int) -> None:
        self.data = generate(self.seed)
        names, ts, values = self.data
        write_points(self.raw, np.repeat(np.array(names), len(ts)),
                     np.tile(ts, len(names)), values.ravel())

    def warm(self) -> None:
        """Build the store once (its first build is mostly JIT warm-up,
        so repeating it would triple set-up), then render one rotation of
        requests whose hosts and metrics come from another seed, so every
        template is past its first execution before the timed ops."""
        from kenshin_backup_spark.api import Engine

        self.engine = Engine(self.spark, self.store, policies=[self.policy],
                             points_per_level=PPL)
        self.engine.write(self.spark.read.parquet(self.raw))
        for req in schedule(-1 - self.seed, self.rotation):
            self._render(req)

    def _render(self, req: dict) -> list:
        df = self.engine.render_many(
            [t for t, _ in req["targets"]], self.now - req["window"], self.now,
            now_ts=self.now, max_data_points=req["mdp"],
        )
        with self.tracer.span("render.exec"):
            rows = [tuple(r) for r in df.collect()]
        isolate(self.spark)
        return rows

    def op(self, i: int) -> list:
        if i >= len(self.reqs):
            self.reqs = schedule(self.seed, i + self.rotation)
        return self._render(self.reqs[i])

    def after_op(self, i: int, rows: list) -> None:
        self.responses.append((i, rows))

    def check(self) -> list[str]:
        oracle = Oracle(*self.data)
        bad = []
        for i, rows in self.responses:
            diff = compare(rows, self.reqs[i], oracle, self.now)
            if diff:
                bad.append(f"request {i}: " + "; ".join(diff[:3]))
        return bad

    def extras(self, op_seconds: float) -> dict:
        files, size = store_stats(self.store)
        return {
            "store_bytes_per_point": size / self.data[2].size,
            "ladder.files": files,
            "ladder.bytes": size,
        }
