"""Spans around the benchmark's calls into the engine, and the Spark jobs
each span caused.

A span records name, start, end, parent and op id. While a span is open
its id is the Spark job group of the calling thread, so every job Spark
submits is attributed to the innermost open span. Spans stay in memory;
:meth:`Tracer.harvest` reads the jobs and stages back from Spark's status
store once the timed phase is over.

:func:`install` wraps the engine's public functions where they are looked
up: ``api.py`` imports ``build_ladder``, ``fetch_from_ladder`` … by name,
so every ``kenshin_backup_spark`` module global bound to the original
function is rebound to the wrapper. Wrappers return the wrapped function's
result unchanged, so laziness is untouched.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager

#: (module, attribute, span name) of every traced module-level function.
FUNCTIONS = (
    ("kenshin_backup_spark.operators.policies", "assign_policy", "policies.assign"),
    ("kenshin_backup_spark.operators.ladder", "build_ladder", "ladder.build"),
    ("kenshin_backup_spark.operators.ladder", "expire_retention", "ladder.expire"),
    ("kenshin_backup_spark.operators.ladder", "compact_level", "ladder.compact"),
    ("kenshin_backup_spark.operators.ladder", "delete_metrics", "ladder.delete"),
    ("kenshin_backup_spark.operators.ladder", "fetch_from_ladder", "ladder.fetch"),
    ("kenshin_backup_spark.render", "render", "render.eval"),
    ("kenshin_backup_spark.cache", "persist_tracked", "cache.persist"),
    ("kenshin_backup_spark.cache", "clear_tracked", "cache.clear"),
)

#: Engine methods traced as ``api.<method>``.
ENGINE_METHODS = ("write", "expire", "compact", "delete", "fetch", "render", "render_many")

_GROUP_PREFIX = "pb"


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op_id: int | str | None = None
        self.jobs: list[dict] = []

    def _set_group(self) -> None:
        gid = f"{_GROUP_PREFIX}{self.stack[-1]}" if self.stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self.stack[-1] if self.stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self.stack.append(sid)
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            self._set_group()

    @contextmanager
    def op(self, op_id: int | str, name: str = "op"):
        """Span of one benchmark operation; inner spans carry its id."""
        self.op_id = op_id
        try:
            with self.span(name) as rec:
                yield rec
        finally:
            self.op_id = None

    def harvest(self) -> None:
        """Read every job of a traced span, with its stages' task
        metrics, from Spark's status store."""
        if not self.enabled:
            return
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stage_cache: dict[int, dict] = {}
        for i in range(jobs.length()):
            j = jobs.apply(i)
            grp = j.jobGroup()
            gid = grp.get() if grp.isDefined() else None
            if not gid or not gid.startswith(_GROUP_PREFIX):
                continue
            stage_ids = [int(s) for s in str(j.stageIds().mkString(",")).split(",") if s]
            stages = []
            for sid in stage_ids:
                if sid not in stage_cache:
                    stage_cache[sid] = _stage(store, sid)
                stages.append(stage_cache[sid])
            self.jobs.append(
                {
                    "job": int(j.jobId()),
                    "span": int(gid[len(_GROUP_PREFIX):]),
                    "stages": stages,
                }
            )
        self.jobs.sort(key=lambda r: r["job"])


def _stage(store, sid: int) -> dict:
    from py4j.protocol import Py4JJavaError

    try:
        s = store.lastStageAttempt(sid)
    except Py4JJavaError:  # a stage the store never saw
        return {"stage": sid, "ran": False, "tasks": 0, "run_s": 0.0,
                "cpu_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    return {
        "stage": sid,
        "ran": str(s.status().toString()) != "SKIPPED",
        "tasks": int(s.numCompleteTasks()),
        "run_s": int(s.executorRunTime()) / 1e3,
        "cpu_s": int(s.executorCpuTime()) / 1e9,
        "shuffle_write_bytes": int(s.shuffleWriteBytes()),
        "spill_bytes": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
    }


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def install(tracer: Tracer) -> None:
    """Wrap every traced engine function and method (see module doc)."""
    import importlib

    from kenshin_backup_spark.api import Engine

    for mod_name, attr, span_name in FUNCTIONS:
        orig = getattr(importlib.import_module(mod_name), attr)
        wrapped = _wrap(tracer, span_name, orig)
        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("kenshin_backup_spark")
                and getattr(mod, attr, None) is orig
            ):
                setattr(mod, attr, wrapped)
    for meth in ENGINE_METHODS:
        setattr(Engine, meth, _wrap(tracer, f"api.{meth}", getattr(Engine, meth)))
