#!/usr/bin/env python3
"""Benchmark of the engine's public API: one workload per run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads (see README.md):

- ``dashboard``: Graphite render requests over a prebuilt rollup ladder;
- ``ingest``: ladder write + expire + compact + delete cycles.

Each run starts one Spark session (``get_spark`` on ``local[<cpus>]``),
prepares its workload's inputs three times (``setup_s`` is the median
plus the one-off session start and warm-up, which builds any store and
runs every op shape of the schedule once), then runs a closed loop with
one client: whole rotations of the workload's op schedule until at least
``--seconds`` have passed (or exactly ``--ops`` ops), timing each op's
wall and CPU seconds (the CPU of the whole process tree: this Python
process and the Spark driver JVM) and, in a thread, how fast the host
runs a fixed reference loop meanwhile (``HostSpeed``). Timings are
medians per slot of the rotation (see ``summarize``). Results are
checked against oracles outside the timed ops. Every intermediate file
lives under ``.perfbench_work/`` in the current directory and is removed
at exit.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it is the full record: every metric of
both kinds that applies, the tail percentile, the session sizing and the
per-layer timings. ``--trace 1`` also writes the spans and jobs to
``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

SETUP_REPS = 3
# the bounded metrics: CPU seconds per op scaled to a host on which
# reference_cpu_s() takes REF_HOST_S, because on a shared host the time an
# op takes, wall or CPU, follows the other guests' load (see README.md)
END_TO_END = ("setup_s", "op_cpu_ref_s", "op_tail_cpu_ref_s")
REF_HOST_S = 0.008
REF_PERIOD_S = 0.25


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 8.0


def configure(work: str) -> dict:
    """Size the session to the host it runs on and keep every temp file in
    ``work``. Must run before pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    driver_gb = int(max(1, min(4, _mem_total_gb() // 6)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # C1 only, and the whole heap from the start: with C2, or with a heap
    # that grows from small, the driver JVM keeps compiling (on the cores
    # the ops run on) or collecting and gets faster for minutes, longer
    # than a run can warm up, so each run would time another point of
    # that curve
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
        f'-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -Xms{driver_gb}g" '
        "--conf spark.ui.retainedJobs=100000 "
        "--conf spark.ui.retainedStages=100000 "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "pyspark-shell"
    )
    return {"cpus": cpus, "driver_memory": f"{driver_gb}g", "initial_heap": f"{driver_gb}g",
            "jit": "C1 (TieredStopAtLevel=1)"}


class MemoryPeak:
    """Peak memory of the timed ops: the Spark driver JVM's peak heap and
    non-heap use (the sum over its memory pools of each pool's peak, reset
    on entry) plus the peak resident set of this Python process, sampled
    every 20 ms while :attr:`active` is set (during ops, not between them).
    """

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self.pools = list(mf.getMemoryPoolMXBeans())
        self.active = threading.Event()
        self.python_kb = 0
        self.jvm_bytes: dict[str, int] = {}  # peak per memory pool
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _rss_kb() -> int:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
        return 0

    def _run(self) -> None:
        while not self._stop.is_set():
            if self.active.is_set():
                self.python_kb = max(self.python_kb, self._rss_kb())
            self._stop.wait(0.02)

    @property
    def mb(self) -> float:
        return (sum(self.jvm_bytes.values()) + self.python_kb * 1024) / 2**20

    def __enter__(self):
        for pool in self.pools:
            pool.resetPeakUsage()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        for pool in self.pools:
            self.jvm_bytes[str(pool.getName())] = int(pool.getPeakUsage().getUsed())


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests (all CPUs, since boot):
    a run that reads slow on a shared host shows it here."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds() -> float:
    """User plus system CPU seconds of this process and every process
    under it (the Spark driver JVM and any Python workers), all threads."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        ticks[pid] = int(fields[11]) + int(fields[12])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def reference_cpu_s() -> float:
    """CPU seconds this thread takes for a fixed pure-Python loop (8 ms
    on a quiet 4-core guest): how fast the host runs code right now,
    apart from the program under test."""
    t = time.thread_time()
    acc, table = 0, {}
    for n in range(50_000):
        table[n & 1023] = table.get(n & 1023, 0) + n
        acc ^= n * 7
    return time.thread_time() - t


class HostSpeed:
    """Times :func:`reference_cpu_s` every ``REF_PERIOD_S`` while
    :attr:`active` is set (during the ops), so the samples show how fast
    the host ran while the ops did. :attr:`spent` is the CPU seconds the
    samples took, which the runner takes out of the ops' CPU seconds."""

    def __init__(self, active: threading.Event) -> None:
        self.active = active
        self.samples: list[float] = []
        self.spent = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(REF_PERIOD_S):
            if self.active.is_set():
                t = reference_cpu_s()
                self.samples.append(t)
                self.spent += t

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def summarize(latencies: list[float], rotation: int) -> dict:
    """Op timings robust to a slow rotation: each slot of the rotation
    (op i is slot i % rotation) gets the median of its latencies.

    ``ops_per_s`` is the slots ÷ the sum of their medians (the ops per
    second of a median rotation), ``op_p50_s`` the median of all
    latencies, and ``op_tail_s`` the latency at the highest of
    p99.9/p99/p95/p90/p75 that leaves at least ten ops beyond it, or, when
    the run has too few ops for any, the slowest slot's median."""
    slots: dict[int, list[float]] = {}
    for i, t in enumerate(latencies):
        slots.setdefault(i % rotation, []).append(t)
    medians = [statistics.median(v) for v in slots.values()]
    xs = sorted(latencies)
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        rank = math.ceil(p / 100 * n)
        if n - rank >= 10:
            tail_p, tail_s = str(p), xs[rank - 1]
            break
    else:
        tail_p, tail_s = "slowest slot median", max(medians)
    return {
        "ops_per_s": len(medians) / sum(medians),
        "op_p50_s": statistics.median(latencies),
        "op_tail_s": tail_s,
        "op_tail_percentile": tail_p,
        "slot_median_s": medians,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the Spark driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, never leave it running
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("dashboard", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", type=int, default=None,
                    help="run exactly this many ops instead of --seconds")
    ap.add_argument("--trace-out", default=None,
                    help="where --trace 1 writes spans and jobs (JSON)")
    args = ap.parse_args(argv)

    base = os.path.abspath(".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


def _run(args, work: str) -> int:
    sizing = configure(work)
    # imported after configure(): the engine's import starts nothing, but
    # pyspark must see the environment before it launches the JVM
    import workloads
    from kenshin_backup_spark.session import get_spark
    from layers import REPORTED, counters, layer_metrics
    from spans import Tracer, install

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            install(tracer)
        wl = workloads.make(args.workload, spark, args.seed, os.path.join(work, "data"), tracer)
        boot_s = time.perf_counter() - T_PROCESS

        reps = []
        for rep in range(SETUP_REPS):
            t = time.perf_counter()
            with tracer.op(f"setup{rep}", "setup"):
                wl.prepare(rep)
            reps.append(time.perf_counter() - t)
        t = time.perf_counter()
        with tracer.op("warm", "setup"):
            wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = boot_s + statistics.median(reps) + warm_s

        failed = 0
        i = 0
        lat: list[float] = []
        cpu: list[float] = []
        steal0 = steal_seconds()
        start = time.perf_counter()
        with MemoryPeak(spark) as mem, HostSpeed(mem.active) as speed:
            # whole rotations of the workload's schedule, so every run
            # measures the same mix of ops whatever the machine's speed
            while (i < args.ops) if args.ops is not None else (
                not lat or i % wl.rotation or time.perf_counter() - start < args.seconds
            ):
                c = tree_cpu_seconds() - speed.spent
                t = time.perf_counter()
                mem.active.set()
                try:
                    with tracer.op(i):
                        out = wl.op(i)
                except Exception as exc:  # noqa: BLE001 - count, keep going
                    failed += 1
                    out = None
                    print(f"op {i} failed: {type(exc).__name__}: {exc}"[:500], file=sys.stderr)
                mem.active.clear()
                lat.append(time.perf_counter() - t)
                cpu.append(tree_cpu_seconds() - speed.spent - c)
                if out is not None:
                    wl.after_op(i, out)  # outside the timed op
                i += 1
            secs = time.perf_counter() - start
        steal = (steal_seconds() - steal0) / (secs * sizing["cpus"])
        ref = speed.samples or [reference_cpu_s()]
        scale = REF_HOST_S / statistics.median(ref)
        tracer.harvest()
        bad = wl.check()
        for msg in bad[:10]:
            print(f"check failed: {msg}"[:500], file=sys.stderr)
        attempted = i
        n_failed = failed + len(bad)

        timing = summarize(lat, wl.rotation)
        cpu_timing = summarize(cpu, wl.rotation)
        e2e = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (timing["ops_per_s"], "1/s"),
            "op_p50_s": (timing["op_p50_s"], "s"),
            "op_tail_s": (timing["op_tail_s"], "s"),
            "op_cpu_s": (1 / cpu_timing["ops_per_s"], "s"),
            "op_tail_cpu_s": (cpu_timing["op_tail_s"], "s"),
            "op_cpu_ref_s": (scale / cpu_timing["ops_per_s"], "s"),
            "op_tail_cpu_ref_s": (scale * cpu_timing["op_tail_s"], "s"),
            "peak_mem_mb": (mem.mb, "MB"),
            "error_rate": (n_failed / attempted, "ratio"),
        }
        extras = wl.extras(sum(lat))
        for name, unit in (("points_per_s", "points/s"), ("store_bytes_per_point", "B")):
            if name in extras:
                e2e[name] = (extras[name], unit)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "session": sizing,
            "ops": attempted,
            "op_tail_percentile": timing["op_tail_percentile"],
            "setup": {"boot_s": boot_s, "reps_s": reps, "warm_s": warm_s},
            "latencies_s": lat,
            "slot_median_s": timing["slot_median_s"],
            "cpu_s": cpu,
            "cpu_slot_median_s": cpu_timing["slot_median_s"],
            "reference_cpu_s": ref,
            "host_speed": 1 / scale,
            "wall_s": secs,
            # CPU time the hypervisor gave to other guests during the timed
            # ops, as a share of this run's CPUs: a slow run on a shared
            # host shows it here
            "host_steal_share": steal,
            "memory": {"jvm_pool_peak_bytes": mem.jvm_bytes, "python_peak_rss_kb": mem.python_kb},
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        }
        if args.trace:
            layers = layer_metrics(tracer, extras, session_s)
            record["per_layer"] = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            record["counters"] = counters(tracer, extras)
            out_path = args.trace_out or os.path.join(
                ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
            os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
            with open(out_path, "w") as fh:
                json.dump({"record": record, "spans": tracer.spans, "jobs": tracer.jobs}, fh)
            metrics = {n: record["per_layer"][n] for n in REPORTED}
        else:
            metrics = {n: record["end_to_end"][n] for n in END_TO_END}
    finally:
        stop_spark(spark)

    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
