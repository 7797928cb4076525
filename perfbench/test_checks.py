"""Each correctness check accepts a right result and rejects a corrupted one.

    python3 -m pytest perfbench/test_checks.py -q -p no:cacheprovider

The checks run without Spark: the "engine" response or store is built
from the reference itself, then corrupted.
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import dashboard  # noqa: E402
import ingest  # noqa: E402


# -- dashboard ---------------------------------------------------------------

@pytest.fixture(scope="module")
def dash():
    oracle = dashboard.Oracle(*dashboard.generate(7))
    now = dashboard.T0 + dashboard.DAYS * dashboard.D - dashboard.STEP
    return oracle, now, dashboard.schedule(7, dashboard.Dashboard.rotation)


def _response(req, oracle, now):
    """The rows a correct engine returns for one request."""
    w = (now - req["window"], now, now)
    rows = []
    for target, ref_fn in req["targets"]:
        ref = ref_fn(oracle, w)
        if req["mdp"]:
            ref = dashboard.consolidate(ref, req["mdp"])
        rows += [(target, m, t, v) for m, s in ref.items() for t, v in s.items()]
    return rows


def test_dashboard_accepts_the_reference(dash):
    oracle, now, reqs = dash
    for req in reqs:
        assert dashboard.compare(_response(req, oracle, now), req, oracle, now) == []


@pytest.mark.parametrize("corrupt", ["value", "gap", "drop_series", "extra_slot"])
def test_dashboard_rejects_a_corrupted_response(dash, corrupt):
    oracle, now, reqs = dash
    for req in reqs:
        rows = _response(req, oracle, now)
        i = next(j for j, r in enumerate(rows) if r[3] is not None)
        t, m, ts, v = rows[i]
        if corrupt == "value":
            rows[i] = (t, m, ts, v + 0.01)
        elif corrupt == "gap":
            rows[i] = (t, m, ts, None)
        elif corrupt == "drop_series":
            rows = [r for r in rows if r[1] != m]
        else:
            rows.append((t, m, ts + 1, v))
        assert dashboard.compare(rows, req, oracle, now), (corrupt, req["targets"][0][0])


# -- ingest ------------------------------------------------------------------

def _store(root, points, victim, now, *, keep_victim=False, drop_day=False):
    """Write the ladder a correct cycle leaves: per policy and level, the
    (metric, bucket_ts, cnt) partials of the routed points inside
    retention, partitioned by date."""
    metric, ts, _, pol = points
    con = duckdb.connect()
    con.register("pts", pa.table({"metric": metric, "ts": ts, "pol": pol}))
    for p in ingest.policies():
        if p.name not in set(pol):
            continue
        for step in p.steps:
            level = os.path.join(root, f"policy={p.name}", f"step={step}")
            os.makedirs(level)
            con.execute(
                f"COPY (SELECT metric, ts - ts % {step} AS bucket_ts, COUNT(*) AS cnt, "
                f"CAST(to_timestamp(ts - ts % {step}) AS DATE) AS date FROM pts "
                f"WHERE pol = '{p.name}' AND (metric <> '{victim}' OR {keep_victim}) "
                f"GROUP BY 1, 2, 4) "
                f"TO '{level}' (FORMAT parquet, PARTITION_BY (date))")
    # retention, as expire applies it: drop whole days before each horizon
    for p in ingest.policies():
        for step in p.steps:
            level = os.path.join(root, f"policy={p.name}", f"step={step}")
            parts = sorted(glob.glob(os.path.join(level, "date=*")))
            cutoff = str(np.datetime64(now - step * ingest.PPL, "s").astype("datetime64[D]"))
            for part in parts:
                if part.rsplit("=", 1)[1] < cutoff:
                    shutil.rmtree(part)
            if drop_day and p.name == "svc" and step == 3600:
                shutil.rmtree(sorted(glob.glob(os.path.join(level, "date=*")))[-1])


@pytest.fixture()
def cycle():
    points = ingest.batch(3, 0)
    return points, "svc.h01.m2", int(points[1].max())


def test_ingest_accepts_a_correct_store(tmp_path, cycle):
    points, victim, now = cycle
    _store(str(tmp_path), points, victim, now)
    assert ingest.check_cycle(str(tmp_path), points, victim, now) is None


@pytest.mark.parametrize("corrupt", ["keep_victim", "drop_day"])
def test_ingest_rejects_a_corrupted_store(tmp_path, cycle, corrupt):
    points, victim, now = cycle
    _store(str(tmp_path), points, victim, now, **{corrupt: True})
    assert ingest.check_cycle(str(tmp_path), points, victim, now)

