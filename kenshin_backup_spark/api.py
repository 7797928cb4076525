"""User-facing engine facade — the reference's whole lifecycle in one
object, so a user of the reference TSDB can switch without learning the
operator modules first.

The reference workflow is: configure storage schemas → send datapoints →
fetch ranges → inspect metric headers. ``Engine`` maps it 1:1:

=================  ===========================================
reference          Engine
=================  ===========================================
storage-schemas    ``policies=[Policy(...), ...]`` (ordered,
                   first match wins — carbon semantics)
send datapoints    :meth:`Engine.write` (any long frame)
fetch(m, t0, t1)   :meth:`Engine.fetch` → long (metric, ts,
                   value) frame, gap-filled, archive-routed
info(metric)       :meth:`Engine.info` → header dict
list metrics       :meth:`Engine.metrics` (glob)
retention expiry   :meth:`Engine.expire`
=================  ===========================================

Storage is one retention ladder PER POLICY under ``root/policy=<name>``
(the reference keeps one file per metric; per-policy parquet ladders are
the Spark-shaped equivalent — metrics co-partition by date with
metric-sorted row groups, so a fetch prunes to the partitions and row
groups it needs). Everything delegates to the operator modules; the
facade adds no semantics of its own.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kenshin_backup_spark.functions.deterministic import glob_to_regex
from kenshin_backup_spark.operators.fetch import Archive, metric_filter
from kenshin_backup_spark.operators.ladder import (
    LADDER_COL,
    Ladder,
    build_ladders,
    compact_level,
    delete_metrics,
    expire_retention,
    fetch_from_ladder,
    read_level,
    window_bytes,
)
from kenshin_backup_spark.operators.policies import (
    DEFAULT_POLICY,
    Policy,
    policy_index,
)
from kenshin_backup_spark.operators.rollup import finalize
from kenshin_backup_spark.session import RENDER_CONFS, tune

#: Key of a render memo's entry that holds the request's session.
_SESSION = "session"


class Engine:
    """Facade over the rollup-ladder store (see module docstring)."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        policies: list[Policy] | None = None,
        points_per_level: int = 10_000,
        metric_buckets: int = 0,
    ) -> None:
        self.spark = tune(spark)
        self.root = root.rstrip("/")
        self.policies = list(policies) if policies else [DEFAULT_POLICY]
        self._ppl = points_per_level
        # > 0 → hash-bucketed ladder layout (mbucket=/date=): exact-name
        # fetches and deletes prune to their bucket — the 100 TB layout
        self._metric_buckets = int(metric_buckets)
        self._written: set[str] = set()
        self._render_spark: SparkSession | None = None

    # -- storage-schema plumbing --------------------------------------------

    def _ladder(self, policy: Policy) -> Ladder:
        archives = tuple(
            Archive(step_seconds=s, points=self._ppl) for s in policy.steps
        )
        return Ladder(
            root=f"{self.root}/policy={policy.name}",
            archives=archives,
            key_cols=("metric",),
            metric_buckets=self._metric_buckets,
        )

    def policy_for(self, metric: str) -> Policy:
        """The policy :meth:`write` routes one metric name to: the first
        whose pattern matches (carbon semantics), else the policy named
        ``default``. Raises ``ValueError`` for a metric that routes to
        neither, as ``write`` stores none of its points. Patterns match
        with ``java.util.regex`` ``find()``, exactly as ``write``'s
        ``rlike`` does (Python's ``re`` rejects some Java patterns, such
        as ``\\p{Lower}``, and reads others differently)."""
        pattern = self.spark._jvm.java.util.regex.Pattern
        for p in self.policies:
            if pattern.compile(p.pattern).matcher(metric).find():
                return p
        for p in self.policies:
            if p.name == DEFAULT_POLICY.name:
                return p
        raise ValueError(
            f"metric {metric!r} matches no policy pattern and there is no "
            f"{DEFAULT_POLICY.name!r} policy, so write stores none of its "
            "points"
        )

    def _written_ladders(self) -> Iterator[tuple[Policy, Ladder]]:
        """``(policy, ladder)`` of every policy a write stored points for,
        in policy order."""
        for p in self.policies:
            if p.name in self._written:
                yield p, self._ladder(p)

    def _catalog(self) -> DataFrame | None:
        """The ``metric`` column of every written ladder's finest level,
        unioned into one scan (``None`` before any write)."""
        cat = None
        for _, lad in self._written_ladders():
            finest = min(a.step_seconds for a in lad.archives)
            scan = read_level(
                self.spark, lad, lad.level_path(finest)
            ).select("metric")
            cat = scan if cat is None else cat.unionByName(scan)
        return cat

    # -- write path -----------------------------------------------------------

    def write(
        self,
        points: DataFrame,
        *,
        metric_col: str = "metric",
        ts_col: str = "ts",
        value_col: str = "value",
        observe_bounds: bool = False,
    ) -> tuple[int, int] | None:
        """Materialize the retention ladder(s) for a long points frame.

        :func:`policy_index` tags each point with the index of its
        metric's policy (first match, else ``default``; carbon
        semantics), and one :func:`build_ladders` call builds every
        policy's ladder from the tagged rows: one raw pass, then one
        exchange and one write per
        level rank, each level cascaded from the one before (never
        re-reading raw) and swapped in beside the old one. Re-writing a
        policy's ladder replaces it (the batch equivalent of the
        streaming update sink). A policy no row routes to stages
        nothing: it costs no write, is not marked written, and any
        ladder it had stays as it was.

        ``observe_bounds=True`` additionally returns the EXACT
        ``(min, max)`` epoch seconds of the written points' timestamps,
        captured with one ``DataFrame.observe`` on the build's raw pass
        itself — the store-backed render queries need the raw bounds to
        frame their request window, and a separate ``agg(min, max)``
        would be a second full pass over the raw input for two scalars
        the build already reads (guide §1.1). The observation is read
        only when something was written: under adaptive execution an
        observation on an empty aggregated write is never delivered.
        With ``observe_bounds=True`` an input that writes nothing
        (empty, or no row matches a policy) raises ``ValueError`` naming
        the store root — there are no bounds to return. Without it the
        method returns ``None``."""
        from pyspark.sql import Observation

        pts = points.select(
            F.col(metric_col).alias("metric"),
            F.col(ts_col).alias("ts"),
            F.col(value_col).alias("value"),
        )
        # a row that matches no pattern routes to the 'default' policy;
        # without a policy of that name it routes nowhere
        routed = pts.withColumn(
            LADDER_COL, policy_index(self.policies)
        ).where(F.col(LADDER_COL).isNotNull())
        ob = None
        if observe_bounds:
            ob = Observation()
            es = F.unix_timestamp(F.col("ts")).cast("long")
            routed = routed.observe(
                ob, F.min(es).alias("lo"), F.max(es).alias("hi")
            )
        written = build_ladders(
            routed, [self._ladder(p) for p in self.policies]
        )
        self._written.update(
            p.name for p, w in zip(self.policies, written) if w
        )
        if ob is None:
            return None
        got = ob.get if any(written) else {"lo": None}
        if got["lo"] is None:
            raise ValueError(
                f"Engine.write(observe_bounds=True) on {self.root}: "
                "nothing was written (empty input), so there are no "
                "bounds to return"
            )
        return int(got["lo"]), int(got["hi"])

    def write_events(
        self,
        events: DataFrame,
        *,
        when_col: str = "when",
        what_col: str = "what",
        tags_col: str = "tags",
    ) -> None:
        """Record operational EVENTS (deploys, incidents — graphite's
        events API): rows of (when: timestamp-or-epoch-seconds, what:
        free text, tags: array<string>). Stored date-partitioned next to
        the metric ladders; the ``events(*tags)`` render function reads
        them back. Re-writing replaces the store (same contract as
        :meth:`write`)."""
        when = F.col(when_col)
        # accept timestamps or epoch seconds
        when_s = (
            F.unix_timestamp(when).cast("long")
            if dict(events.dtypes)[when_col].startswith("timestamp")
            else when.cast("long")
        )
        (
            events.select(
                when_s.alias("when"),
                F.col(what_col).cast("string").alias("what"),
                F.col(tags_col).cast("array<string>").alias("tags"),
            )
            .withColumn(
                "date", F.to_date(F.timestamp_seconds(F.col("when")))
            )
            .write.mode("overwrite")
            .partitionBy("date")
            .parquet(f"{self.root}/_events")
        )

    def _events_fn(self, spark: SparkSession, tags: list[str]) -> DataFrame:
        """Events matching ALL requested tags (graphite find_events
        semantics), as ``when`` epoch-seconds rows read on ``spark``."""
        import os

        path = f"{self.root}/_events"
        if not os.path.isdir(path):
            raise ValueError(
                "no event store written — call Engine.write_events first"
            )
        ev = spark.read.parquet(path)
        for t in tags:
            ev = ev.where(F.array_contains(F.col("tags"), t))
        return ev.select("when")

    # -- read path ------------------------------------------------------------

    @staticmethod
    def _resolve_window(
        from_ts: int | str, until_ts: int | str, now_ts: int | None
    ) -> tuple[int, int]:
        """Resolve graphite at-time strings to epoch seconds (ints pass
        through untouched). Relative forms need the injected ``now_ts`` —
        :func:`kenshin_backup_spark.attime.parse_at_time` raises a clear
        error otherwise, keeping the engine clock-free."""
        from kenshin_backup_spark.attime import parse_at_time

        return parse_at_time(from_ts, now_ts), parse_at_time(until_ts, now_ts)

    def fetch(
        self,
        metric_glob: str | None,
        from_ts: int | str,
        until_ts: int | str,
        *,
        now_ts: int | None = None,
        kernel: str | None = None,
    ) -> DataFrame:
        """Reference ``fetch``: archive-routed, range-clamped, gap-filled
        values for every metric matching the glob, as one long frame
        ``(metric, bucket_ts, value, n_points)``. ``kernel`` defaults to
        each policy's configured aggregation. ``metric_glob=None`` fetches
        the whole catalog (tagged-metric selection needs this: ``*`` is a
        one-component glob and would drop dotted bare names).
        ``from_ts``/``until_ts`` also accept graphite's at-time strings
        (``'-24h'``, ``'now'``, ``'midnight'``, ``'17:00_20240115'`` … —
        see :mod:`kenshin_backup_spark.attime`); relative forms resolve
        against the injected ``now_ts``."""
        return self._fetch(
            self.spark, metric_glob, from_ts, until_ts, now_ts, kernel
        )

    def _fetch(
        self,
        spark: SparkSession,
        metric_glob: str | None,
        from_ts: int | str,
        until_ts: int | str,
        now_ts: int | None,
        kernel: str | None,
    ) -> DataFrame:
        """:meth:`fetch`, with every frame built on ``spark``."""
        from_ts, until_ts = self._resolve_window(from_ts, until_ts, now_ts)
        if now_ts is None:
            now_ts = until_ts
        out: DataFrame | None = None
        for p, lad in self._written_ladders():
            raw = fetch_from_ladder(
                spark,
                lad,
                metric_glob=metric_glob,
                from_ts=from_ts,
                until_ts=until_ts,
                now_ts=now_ts,
            )
            wide = finalize(raw, agg=kernel or p.agg, xff=p.xff)
            part = wide.select(
                "metric",
                F.col("bucket_ts").cast("long").alias("bucket_ts"),
                F.col("value"),
                F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n_points"),
            )
            out = part if out is None else out.unionByName(part)
        if out is None:
            raise ValueError("fetch before any write")
        return out

    def render(
        self,
        target: str,
        from_ts: int | str,
        until_ts: int | str,
        *,
        now_ts: int | None = None,
        max_data_points: int | None = None,
        x_files_factor: float | None = None,
        memo: dict | None = None,
    ) -> DataFrame:
        """Evaluate a graphite render-target expression (the reference
        consumers' query language) over this store — e.g.
        ``summarize(scale({click,view}, 0.001), '1h', 'max')``. Leaves
        fetch through :meth:`fetch`; the whole nested expression compiles
        into one Catalyst plan (see :mod:`kenshin_backup_spark.render`).
        ``max_data_points`` applies graphite's pixel-budget consolidation
        (the ``maxDataPoints`` request parameter every Grafana panel
        sends; kernel and gap tolerance come from the target's
        ``consolidateBy``/``cumulative``/``xFilesFactor`` calls,
        threaded as evaluator state that survives renames — default
        average — see seriesfns.consolidate_points). ``from_ts``/
        ``until_ts`` also accept graphite at-time strings (``'-24h'``,
        ``'now'``, ``'midnight'`` …) resolved against ``now_ts`` — the
        full request-parameter surface a graphite consumer sends.

        The frame belongs to the request's session
        (:meth:`_request_session`): the engine's render session for a
        dashboard-sized input, else the engine's own session."""
        from kenshin_backup_spark.cache import persist_tracked
        from kenshin_backup_spark.render import render as _render

        from_ts, until_ts = self._resolve_window(from_ts, until_ts, now_ts)

        # Memoize + persist each distinct (glob, window, now) leaf fetch for
        # the request. A rank-then-join function references its input
        # twice, and the persist point lets Spark's cache manager put one
        # InMemoryRelation under every copy; the memo also pays each
        # fetch's plan build (file listing, py4j round-trips) once per
        # distinct leaf. A multi-target request (render_many, or a caller
        # unioning several renders of one panel) passes ONE ``memo``
        # through every render, so targets that name the same leaf share
        # one fetch and one persist. The memo also holds the request's
        # session, chosen by the first render that sees it, so every frame
        # of the request is built on one session. Nothing outlives the
        # request: the registry wrapper and ``clear_tracked()`` release the
        # persists.
        if memo is None:
            memo = {}
        spark = self._request_session(
            memo, [target], from_ts, until_ts, now_ts, x_files_factor
        )

        def _fetch_cached(glob: str | None, f: int, u: int, now: int | None) -> DataFrame:
            # the key includes the fetch's effective now, so a refetch
            # under another clock never reuses a frame fetched under this
            # one
            key = (glob, f, u, now if now is not None else u)
            if key not in memo:
                memo[key] = self._fetch(spark, glob, f, u, now, None).select(
                    "metric", "bucket_ts", "value"
                ).transform(persist_tracked)
            return memo[key]

        def fetch_fn(glob: str | None) -> DataFrame:
            return _fetch_cached(glob, from_ts, until_ts, now_ts)

        # the request's effective "now": adjusted-window re-fetches must
        # clamp and route archives against the REAL request now, not the
        # sub-window's end (graphite's shifted requestContext copies keep
        # the true now; a past timeShift would otherwise route to a finer
        # archive than the original request could see)
        eff_now = now_ts if now_ts is not None else until_ts

        def refetch_fn(glob: str | None, f: int, u: int) -> DataFrame:
            # adjusted-window re-fetch for hitcount(alignToInterval),
            # linearRegression source windows, smartSummarize alignTo,
            # timeShift/timeStack and the holtWinters bootstrap — same
            # rail as fetch_fn, different bounds; shares the memo
            # keyed on the adjusted window
            return _fetch_cached(glob, f, u, eff_now)

        # the request window also feeds the generator functions
        # (time/sin/randomWalk/constantLine/threshold) and events()
        return _render(
            target, fetch_fn,
            from_ts=from_ts, until_ts=until_ts,
            events_fn=lambda tags: self._events_fn(spark, tags),
            max_data_points=max_data_points,
            refetch_fn=refetch_fn,
            x_files_factor=x_files_factor,
            spark=spark,
        )

    def _render_session(self) -> SparkSession:
        """The engine's render session, made on first use: a
        ``newSession()`` of the engine's session (shared SparkContext and
        cache manager), tuned, given every SQL conf the engine's session
        holds with another value (so a conf the caller set, such as
        ``spark.sql.caseSensitive``, means the same on both sides of the
        gate), then :data:`~kenshin_backup_spark.session.RENDER_CONFS`,
        which :func:`tune` would reset. The confs are copied once: a conf
        the caller changes later reaches only its own session. Two
        threads that race here make two equivalent sessions; each
        request still records one in its memo."""
        if self._render_spark is None:
            small = tune(self.spark.newSession())
            own = small.conf.getAll
            for k, v in self.spark.conf.getAll.items():
                if own.get(k) != v:
                    small.conf.set(k, v)
            for k, v in RENDER_CONFS.items():
                small.conf.set(k, v)
            self._render_spark = small
        return self._render_spark

    def _request_session(
        self,
        memo: dict,
        targets: list[str],
        from_ts: int | str,
        until_ts: int | str,
        now_ts: int | None,
        x_files_factor: float | None,
    ) -> SparkSession:
        """The session every frame of one render request is built on,
        recorded in the request's ``memo`` by the first call that sees
        it. It is the render session when the request's input is
        dashboard-sized: the parquet bytes that the fetches of
        ``targets`` could read, summed over the written ladders, fit in
        one scan partition of the engine's session (its
        ``spark.sql.files.maxPartitionBytes``, 128 MB by default). The
        windows are the request window and every window a refetching
        call reads (:func:`~kenshin_backup_spark.render.read_windows`:
        timeShift, timeStack, linearRegression's source window, the
        holtWinters bootstrap …); the bytes come from a file listing
        (:func:`window_bytes`). Otherwise it is the engine's own session.
        :meth:`render_many` and :meth:`render_pie_many` size all their
        targets here before the first is built; a caller that shares one
        memo across :meth:`render` calls gets the session its first call
        sized for.

        The bound is read through ``SQLConf.filesMaxPartitionBytes``,
        the typed accessor the file scan itself splits by: PySpark's
        public ``conf.get`` returns the unparsed byte string
        (``'128MB'``). On 4 cores, the dashboard request mix renders
        faster in the render session up to 68 MB of window bytes and
        slower at 188 MB (CHANGES.md), so the default bound lies inside
        the measured crossover; requests over a wide glob cross earlier."""
        spark = memo.get(_SESSION)
        if spark is None:
            from kenshin_backup_spark.render import read_windows

            f, u = self._resolve_window(from_ts, until_ts, now_ts)
            windows = {(f, u)}
            for t in targets:
                windows |= read_windows(t, f, u, x_files_factor)
            now = now_ts if now_ts is not None else u
            size = sum(
                window_bytes(lad, windows, now_ts=now)
                for _, lad in self._written_ladders()
            )
            small = size <= self.spark._jconf.filesMaxPartitionBytes()
            spark = memo[_SESSION] = (
                self._render_session() if small else self.spark
            )
        return spark

    def render_many(
        self,
        targets: list[str] | tuple[str, ...],
        from_ts: int | str,
        until_ts: int | str,
        *,
        now_ts: int | None = None,
        max_data_points: int | None = None,
        x_files_factor: float | None = None,
    ) -> DataFrame:
        """Evaluate SEVERAL render targets in one call — the shape of a
        real graphite render request (``&target=a&target=b...``); every
        dashboard panel sends one. Returns the union of the canonical
        frames with a ``target`` column carrying each row's source
        expression (graphite keys the response JSON the same way — two
        targets can legitimately emit the same series name, so the
        column is the disambiguator, mirroring graphite's per-target
        response entries).

        Cost: the union is ONE lazy plan, but it does not run as one
        Spark job — each persisted frame, leaf schema read and sort
        sample adds jobs. Every target is built on one session, the
        engine's render session for a dashboard-sized input (see
        :meth:`render`). There, on a 3-level single-policy store, a plain
        glob request runs 3 jobs and the 3-target
        ``limit(group(sortBy(a.*,'max'), b), 3)`` request 12
        (``tests/test_api.py`` pins both; on the engine's own session,
        with adaptive execution on, they run 5 and 40). Two mechanisms
        keep every subtree computed once per request: the leaf memo
        (targets referencing the same (glob, window) leaf share ONE fetch
        plan + persist) and the persisted intermediate frames of nested
        calls (:func:`kenshin_backup_spark.render.render`). Both live for
        this request only and are released by ``clear_tracked()``."""
        if not targets:
            raise ValueError("render_many: need at least one target")
        memo: dict = {}
        self._request_session(
            memo, list(targets), from_ts, until_ts, now_ts, x_files_factor
        )
        out: DataFrame | None = None
        for t in targets:
            part = self.render(
                t, from_ts, until_ts,
                now_ts=now_ts, max_data_points=max_data_points,
                x_files_factor=x_files_factor, memo=memo,
            ).select(
                F.lit(t).alias("target"), "metric", "bucket_ts", "value"
            )
            out = part if out is None else out.unionByName(part)
        return out

    def render_pie(
        self,
        target: str,
        from_ts: int | str,
        until_ts: int | str,
        *,
        pie_mode: str = "average",
        now_ts: int | None = None,
        x_files_factor: float | None = None,
        include_empty: bool = True,
        memo: dict | None = None,
    ) -> DataFrame:
        """graphite's PIE render — ``&graphType=pie&pieMode=...``
        collapses each series of the evaluated target to ONE number,
        the per-slice value of the pie chart (graphite-web
        render/views.py's pie branch over render/functions.py's
        ``PieFunctions``: average / maximum / minimum — the last
        render-API surface next to the line graph). Returns a
        ``(metric, value)`` frame, one row per series of the evaluated
        target.

        Kernels (gaps are the frame's NULL slots):

        - ``average`` — graphite's ``safeDiv(safeSum, safeLen)``, the
          sum added in time order (``seriesfns.ordered_sum``): gaps
          ignored; an all-gap series yields a NULL slice (graphite emits
          ``None`` and the pie renderer skips it — the row is kept here
          by default so the caller sees the series existed; pass
          ``include_empty=False`` for graphite's skip-None rendering).
          CALLERS COMPUTING SLICE FRACTIONS (value / sum of values) must
          either pass ``include_empty=False`` or NULL-filter first — a
          NULL slice nulls a plain SUM total (ADVICE r11).
        - ``maximum`` / ``minimum`` — gap-ignoring max/min. Documented
          deviation: graphite-web 1.1's ``pieMinimum`` is python-2
          ``min()``, where ``None`` sorts below every number, so any
          single gap collapses the slice to None; here gaps are ignored
          (the safe semantics ``pieMaximum`` already has, and what the
          py3 line of graphite settled on).

        Literal slices: graphite's pie endpoint also accepts constant
        ``target=name:value`` slices — views.py treats ANY pie target
        containing ``:`` as a literal, splitting on the FIRST colon and
        raising on a non-numeric value; mirrored here (the row is a
        1-row plan on the request's session that never touches the
        store).

        Scale: the reduction is one gap-ignoring aggregate per series
        keyed on the series name — a map-side-combined groupBy stacked
        on the render plan; no new shuffle beyond the render's own."""
        if pie_mode not in ("average", "maximum", "minimum"):
            raise ValueError(
                f"render_pie: unknown pieMode {pie_mode!r} "
                "(graphite accepts average, maximum, minimum)"
            )
        if ":" in target:
            name, _, raw = target.partition(":")
            try:
                value = float(raw)
            except ValueError:
                raise ValueError(
                    f"render_pie: invalid literal pie target {target!r} "
                    "(expected name:value)"
                ) from None
            spark = self._request_session(
                {} if memo is None else memo, [], from_ts, until_ts,
                now_ts, x_files_factor,
            )
            return spark.range(1).select(
                F.lit(name).alias("metric"),
                F.lit(value).cast("double").alias("value"),
            )
        frame = self.render(
            target, from_ts, until_ts,
            now_ts=now_ts, x_files_factor=x_files_factor, memo=memo,
        )
        from kenshin_backup_spark.operators.seriesfns import ordered_sum

        kernel = {
            "average": ordered_sum() / F.count("value"),
            "maximum": F.max("value"),
            "minimum": F.min("value"),
        }[pie_mode]
        slices = frame.groupBy("metric").agg(
            kernel.cast("double").alias("value")
        )
        if not include_empty:
            slices = slices.where(F.col("value").isNotNull())
        return slices

    def render_pie_many(
        self,
        targets: list[str] | tuple[str, ...],
        from_ts: int | str,
        until_ts: int | str,
        *,
        pie_mode: str = "average",
        now_ts: int | None = None,
        x_files_factor: float | None = None,
        include_empty: bool = True,
    ) -> DataFrame:
        """SEVERAL pie targets in one call — the shape of a real graphite
        pie request (``&graphType=pie&target=a&target=b...``): views.py
        walks the target list and appends every target's slices to ONE
        data list, so expression targets and literal ``name:value``
        slices mix freely and duplicate slice names are kept (graphite's
        pie data is a list, not a dict). Returns the union of the
        per-target ``(metric, value)`` frames — one lazy plan sharing the
        request-scoped leaf memo and session, like :meth:`render_many`.

        NULL slices: unions AMPLIFY the all-gap case — one all-gap
        series in ANY target nulls a plain ``SUM(value)`` over the
        combined slice list. Pass ``include_empty=False`` (graphite's
        skip-None pie rendering, applied per target) or NULL-filter
        before totaling (ADVICE r11)."""
        if not targets:
            raise ValueError("render_pie_many: need at least one target")
        memo: dict = {}
        # literal name:value slices read nothing
        self._request_session(
            memo, [t for t in targets if ":" not in t], from_ts, until_ts,
            now_ts, x_files_factor,
        )
        out: DataFrame | None = None
        for t in targets:
            part = self.render_pie(
                t, from_ts, until_ts,
                pie_mode=pie_mode, now_ts=now_ts,
                x_files_factor=x_files_factor,
                include_empty=include_empty,
                memo=memo,
            )
            out = part if out is None else out.unionByName(part)
        return out

    # -- maintenance ----------------------------------------------------------

    def delete(self, glob: str) -> dict[str, dict[int, int]]:
        """Delete every series matching ``glob`` from every written
        policy ladder — the reference's ``rm <metric>.wsp`` surface and
        the execute half of the GDPR erasure flow (``gdpr_erasure_audit``
        is the dry-run). Atomic per level (rewrite-to-temp + swap, same
        discipline as compaction); returns
        ``{policy: {step_seconds: rows_deleted}}`` as the erasure
        receipt. An exact name can only be stored in the ladder of the
        policy it routes to (:meth:`policy_for`), so only that ladder is
        read and rewritten; every other written policy reports 0 rows per
        level without a Spark job."""
        receipt: dict[str, dict[int, int]] = {}
        if any(ch in glob for ch in "*?{["):
            regex = glob_to_regex(glob)
            for p, lad in self._written_ladders():
                receipt[p.name] = delete_metrics(self.spark, lad, regex)
            return receipt
        try:
            home = self.policy_for(glob).name
        except ValueError:
            home = None
        for p, lad in self._written_ladders():
            # exact-name deletes take the bucket-pruned path on a
            # bucketed ladder (and a plain isin rewrite on a flat one)
            receipt[p.name] = (
                delete_metrics(self.spark, lad, metrics=[glob])
                if p.name == home
                else {a.step_seconds: 0 for a in lad.archives}
            )
        return receipt

    # -- header / catalog -----------------------------------------------------

    def info(self, metric: str) -> dict:
        """Reference header read: the metric's policy and archive table."""
        p = self.policy_for(metric)
        return {
            "metric": metric,
            "policy": p.name,
            "aggregation": p.agg,
            "xff": p.xff,
            "archives": [
                {
                    "step_seconds": s,
                    "points": self._ppl,
                    "retention_seconds": s * self._ppl,
                }
                for s in p.steps
            ],
        }

    def metrics(self, glob: str = "*", *, limit: int = 100_000) -> list[str]:
        """Metric browse over everything written, filtered by glob.

        ONE unioned job across all written policies: the ``rlike`` filter
        sits under the distinct so Catalyst pushes it to each parquet scan,
        partial-aggregates dedupe map-side, and the driver materializes at
        most ``limit`` names (the graphite-finder contract returns a name
        list, so a driver-side list is inherent — the cap bounds it; raise
        ``limit`` or narrow the glob for bigger catalogs). Exact globs
        short-circuit to an equality predicate."""
        cat = self._catalog()
        if cat is None:
            return []
        cat = metric_filter(cat, "metric", glob)
        rows = cat.distinct().limit(limit).collect()
        return sorted(r.metric for r in rows)

    def _tag_pairs(self):
        """Distinct (tag, value) pairs across every written series'
        graphite-1.1 path (``name;tag=value;...``). One job: the catalog
        scan dedupes names map-side, tags explode from the tiny distinct
        name set — never from the point data."""
        cat = self._catalog()
        if cat is None:
            return None
        names = cat.distinct()
        pair = F.split(F.col("__kv"), "=", 2)
        return (
            names.select(
                F.explode(
                    F.slice(
                        F.split(F.col("metric"), ";"),
                        2,
                        F.greatest(
                            F.size(F.split(F.col("metric"), ";")) - 1,
                            F.lit(0),
                        ),
                    )
                ).alias("__kv")
            )
            .where(F.col("__kv").contains("="))
            .select(
                pair[0].alias("tag"),
                F.coalesce(pair[1], F.lit("")).alias("value"),
            )
            .distinct()
        )

    def tags(self, *, limit: int = 10_000) -> list[str]:
        """Graphite ``/tags`` catalog: the distinct tag KEYS present in
        any written series path (graphite-1.1 ``name;tag=value`` form).
        Untagged catalogs return ``[]``. Driver list bounded by
        ``limit`` (the graphite API returns a list; same inherent-list
        contract as :meth:`metrics`)."""
        pairs = self._tag_pairs()
        if pairs is None:
            return []
        rows = pairs.select("tag").distinct().limit(limit).collect()
        return sorted(r.tag for r in rows)

    def tag_values(self, tag: str, *, limit: int = 10_000) -> list[str]:
        """Graphite ``/tags/<tag>``: the distinct values recorded for one
        tag key across the catalog (driver list bounded by ``limit``)."""
        pairs = self._tag_pairs()
        if pairs is None:
            return []
        rows = (
            pairs.where(F.col("tag") == tag)
            .select("value")
            .distinct()
            .limit(limit)
            .collect()
        )
        return sorted(r.value for r in rows)

    def find(
        self, query: str = "*", *, limit: int = 100_000
    ) -> list[tuple[str, bool, bool]]:
        """graphite ``/metrics/find`` tree browse: expand ``query`` ONE
        level and return ``(node_path, is_leaf, expandable)`` per distinct
        node — the finder contract graphite-web's tree UI actually calls
        (``metrics()`` is the flat-name variant). A node is a leaf when a
        metric with exactly the query's component count matches, and
        expandable when deeper metrics continue under it; both can be
        true (``cpu`` the metric and ``cpu.load`` coexisting).

        One job: the prefix regex is pushed into every written ladder's
        scan (same unioned-scan shape as :meth:`metrics`), the node path
        derives scan-side from the first N name components, and the two
        flags are a boolean aggregate per node. Driver materialization is
        ``limit``-capped like :meth:`metrics`."""
        depth = len(query.split("."))
        # full-name glob regex is ^...$; prefix form = same body, with the
        # tail anchored to "end of name OR a deeper component"
        body = glob_to_regex(query)[1:-1]
        prefix_rx = f"^(?:{body})(?:$|\\.)"
        cat = self._catalog()
        if cat is None:
            return []
        parts = F.split(F.col("metric"), r"\.")
        nodes = (
            cat.where(F.col("metric").rlike(prefix_rx))
            .select(
                F.concat_ws(".", F.slice(parts, 1, depth)).alias("node"),
                (F.size(parts) == depth).alias("leaf"),
                (F.size(parts) > depth).alias("expandable"),
            )
            .groupBy("node")
            .agg(
                F.max("leaf").alias("leaf"),
                F.max("expandable").alias("expandable"),
            )
            .limit(limit)
            .collect()
        )
        return sorted((r.node, bool(r.leaf), bool(r.expandable)) for r in nodes)

    # -- maintenance ----------------------------------------------------------

    def expire(self, *, now_ts: int) -> dict[str, dict[int, list[str]]]:
        """Drop date partitions older than each level's retention."""
        return {
            p.name: expire_retention(lad, now_ts=now_ts)
            for p, lad in self._written_ladders()
        }

    def compact(self) -> dict[str, dict[int, tuple[int, int]]]:
        """Compact every written level's small files; returns per-policy
        per-step (files_before, files_after)."""
        return {
            p.name: {
                a.step_seconds: compact_level(self.spark, lad, a.step_seconds)
                for a in lad.archives
            }
            for p, lad in self._written_ladders()
        }
