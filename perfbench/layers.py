"""Per-layer metrics from a traced run's spans and Spark jobs.

Only the timed ops count (spans whose op id is an int). Values marked
``/op`` are totals over the timed ops divided by the op count, so runs of
different lengths compare. A job counts toward a span's ``jobs`` when it
was submitted while that span or one of its descendants was innermost.
"""

from __future__ import annotations

import statistics

#: The per-layer metrics on the result line (BENCHMARK.json ``per_layer``):
#: the session, Spark's totals, and the layer counts. A count reads 0 on a
#: workload that never enters its layer. The layer timings (``api.write.s``
#: …) are in the record line only: they would read a constant 0 on the
#: workload that skips their layer.
REPORTED = (
    "session.start_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_run_s",
    "spark.task_cpu_s", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "api.write.jobs", "api.fetch.calls",
    "ladder.build.calls", "ladder.build.jobs", "ladder.files", "ladder.bytes",
    "ladder.expire.partitions_dropped", "ladder.compact.files_before",
    "ladder.compact.files_after", "ladder.delete.jobs",
    "ladder.delete.bytes_rewritten", "ladder.fetch.jobs",
    "render.calls", "render.plan_jobs", "render.exec_jobs",
    "render.jobs_per_request.p50", "render.jobs_per_request.max",
    "cache.persists_per_request",
)


def layer_metrics(tracer, extras: dict, session_s: float) -> dict:
    spans = tracer.spans
    n_ops = sum(1 for s in spans if s["name"] == "op" and isinstance(s["op"], int)) or 1
    timed = [s for s in spans if isinstance(s["op"], int)]

    incl_jobs = {s["id"]: 0 for s in spans}
    for job in tracer.jobs:
        sid = job["span"]
        while sid is not None:
            incl_jobs[sid] += 1
            sid = spans[sid]["parent"]

    def named(name):
        return [s for s in timed if s["name"] == name]

    def secs(name):
        return sum(s["end"] - s["start"] for s in named(name))

    def jobs(name):
        return sum(incl_jobs[s["id"]] for s in named(name))

    def per_op(x):
        return x / n_ops

    out: dict[str, tuple[float, str]] = {"session.start_s": (session_s, "s")}

    # Spark totals over the jobs of timed ops
    timed_ids = {s["id"] for s in timed}
    tjobs = [j for j in tracer.jobs if j["span"] in timed_ids]
    ran = [st for j in tjobs for st in j["stages"] if st["ran"]]
    out["spark.jobs"] = (per_op(len(tjobs)), "1/op")
    out["spark.stages"] = (per_op(len(ran)), "1/op")
    out["spark.tasks"] = (per_op(sum(st["tasks"] for st in ran)), "1/op")
    out["spark.task_run_s"] = (per_op(sum(st["run_s"] for st in ran)), "s/op")
    out["spark.task_cpu_s"] = (per_op(sum(st["cpu_s"] for st in ran)), "s/op")
    out["spark.shuffle_write_bytes"] = (
        per_op(sum(st["shuffle_write_bytes"] for st in ran)), "B/op")
    out["spark.spill_bytes"] = (per_op(sum(st["spill_bytes"] for st in ran)), "B/op")

    # api (Engine) write/maintenance/fetch
    child_s = sum(
        s["end"] - s["start"]
        for s in timed
        if s["name"] in ("policies.assign", "ladder.build")
        and s["parent"] is not None
        and spans[s["parent"]]["name"] == "api.write"
    )
    out["api.write.s"] = (per_op(secs("api.write")), "s/op")
    out["api.write.self_s"] = (per_op(secs("api.write") - child_s), "s/op")
    out["api.write.jobs"] = (per_op(jobs("api.write")), "1/op")
    for m in ("expire", "compact", "delete"):
        out[f"api.{m}.s"] = (per_op(secs(f"api.{m}")), "s/op")
    out["api.fetch.calls"] = (per_op(len(named("api.fetch"))), "1/op")
    out["api.fetch.plan_s"] = (per_op(secs("api.fetch")), "s/op")

    # operators.policies / operators.ladder
    out["policies.assign.s"] = (per_op(secs("policies.assign")), "s/op")
    out["ladder.build.calls"] = (per_op(len(named("ladder.build"))), "1/op")
    out["ladder.build.s"] = (per_op(secs("ladder.build")), "s/op")
    out["ladder.build.jobs"] = (per_op(jobs("ladder.build")), "1/op")
    out["ladder.files"] = (extras.get("ladder.files", 0), "count")
    out["ladder.bytes"] = (extras.get("ladder.bytes", 0), "B")
    out["ladder.expire.partitions_dropped"] = (
        per_op(extras.get("partitions_dropped", 0)), "1/op")
    out["ladder.compact.s"] = (per_op(secs("ladder.compact")), "s/op")
    out["ladder.compact.files_before"] = (per_op(extras.get("files_before", 0)), "1/op")
    out["ladder.compact.files_after"] = (per_op(extras.get("files_after", 0)), "1/op")
    out["ladder.delete.s"] = (per_op(secs("ladder.delete")), "s/op")
    out["ladder.delete.jobs"] = (per_op(jobs("ladder.delete")), "1/op")
    out["ladder.delete.bytes_rewritten"] = (
        per_op(extras.get("delete_bytes_rewritten", 0)), "B/op")
    out["ladder.fetch.plan_s"] = (per_op(secs("ladder.fetch")), "s/op")
    out["ladder.fetch.jobs"] = (per_op(jobs("ladder.fetch")), "1/op")

    # render + operators.seriesfns, cache
    requests = named("api.render_many")
    req_ops = {s["op"] for s in requests}
    per_request = [
        incl_jobs[s["id"]] for s in timed if s["name"] == "op" and s["op"] in req_ops
    ] or [0]
    n_req = len(requests) or 1
    out["render.calls"] = (per_op(len(named("api.render"))), "1/op")
    out["render.plan_s"] = (per_op(secs("api.render_many")), "s/op")
    out["render.plan_jobs"] = (per_op(jobs("api.render_many")), "1/op")
    out["render.exec_s"] = (per_op(secs("render.exec")), "s/op")
    out["render.exec_jobs"] = (per_op(jobs("render.exec")), "1/op")
    out["render.jobs_per_request.p50"] = (statistics.median(per_request), "count")
    out["render.jobs_per_request.max"] = (max(per_request), "count")
    out["cache.persists_per_request"] = (
        len(named("cache.persist")) / n_req if requests else 0, "count")
    out["cache.clear_s"] = (per_op(secs("cache.clear")), "s/op")
    return out


def counters(tracer, extras: dict) -> dict:
    """The counts two traced runs of one seed must repeat exactly: jobs,
    stages and tasks per op, spans per name, and the store's files and
    bytes."""
    per_op: dict[str, dict] = {}
    span_op = {s["id"]: s["op"] for s in tracer.spans}
    for job in tracer.jobs:
        op = str(span_op[job["span"]])
        rec = per_op.setdefault(op, {"jobs": 0, "stages": 0, "tasks": 0})
        rec["jobs"] += 1
        rec["stages"] += sum(1 for st in job["stages"] if st["ran"])
        rec["tasks"] += sum(st["tasks"] for st in job["stages"] if st["ran"])
    spans: dict[str, int] = {}
    for s in tracer.spans:
        spans[s["name"]] = spans.get(s["name"], 0) + 1
    return {
        "per_op": per_op,
        "spans": spans,
        "store": {k: v for k, v in extras.items() if isinstance(v, int)},
    }
