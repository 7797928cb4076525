"""Render-target expression language tests: parse correctness, evaluator
parity with direct seriesfns composition, Engine integration, errors."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kenshin_backup_spark.operators import seriesfns as sf
from kenshin_backup_spark.render import (
    SUPPORTED_FUNCTIONS,
    _Parser,
    _tokenize,
    parse_interval,
    read_windows,
    render,
)


def _series(spark):
    rows = [
        (m, 3600 * i, float(v))
        for m, vals in (
            ("cpu.load", [1, 4, 2, 8, 5, 3]),
            ("cpu.idle", [9, 6, 7, 1, 2, 4]),
            ("mem.used", [5, 5, 5, 5, 5, 5]),
        )
        for i, v in enumerate(vals)
    ]
    return spark.createDataFrame(rows, "metric string, bucket_ts long, value double")


def _fetch_fn(spark):
    base = _series(spark)

    def fetch(glob: str):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex

        return base.where(F.col("metric").rlike(glob_to_regex(glob)))

    return fetch


def test_parse_interval():
    assert parse_interval("1h") == 3600
    assert parse_interval("10min") == 600
    assert parse_interval("2d") == 172800
    assert parse_interval(90) == 90
    assert parse_interval("90") == 90
    # graphite getUnitString parity (r13): units resolve by PREFIX,
    # months/years exist, and a bare 'm' is ambiguous → rejected
    assert parse_interval("2hours") == 7200
    assert parse_interval("3minutes") == 180
    assert parse_interval("1mon") == 30 * 86400
    assert parse_interval("1month") == 30 * 86400
    assert parse_interval("10y") == 10 * 365 * 86400
    assert parse_interval("5seconds") == 5
    with pytest.raises(ValueError):
        parse_interval("1parsec")
    with pytest.raises(ValueError):
        parse_interval("5m")


def test_parse_shapes():
    ast = _Parser(_tokenize("summarize(scale(cpu.*, 0.5), '1h', 'max')")).parse()
    assert ast == (
        "call",
        "summarize",
        [("call", "scale", [("leaf", "cpu.*"), ("num", 0.5)]), ("str", "1h"),
         ("str", "max")],
    )
    # brace alternation commas stay inside the leaf token
    ast2 = _Parser(_tokenize("sumSeries({cpu.load,mem.used})")).parse()
    assert ast2 == ("call", "sumSeries", [("leaf", "{cpu.load,mem.used}")])


def test_render_matches_direct_composition(spark):
    fetch = _fetch_fn(spark)
    got = render(
        "summarize(scale(cpu.*, 2), '2h', 'max')", fetch
    ).collect()
    want = sf.summarize(sf.scale(fetch("cpu.*"), 2), 7200, "max").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))

    got2 = render("highestCurrent(cpu.*, 1)", fetch).collect()
    want2 = sf.highest(fetch("cpu.*"), 1, "current").collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want2))

    got3 = render("movingAverage(absolute(offset(mem.used, -10)), 2)", fetch)
    want3 = sf.moving_average(
        sf.absolute(sf.offset(fetch("mem.used"), -10)), 2
    )
    assert sorted(map(tuple, got3.collect())) == sorted(
        map(tuple, want3.collect())
    )

    # round-6 rolling family: dual dispatch (count vs interval) and the
    # cross-series percentile / name sort / weighted average
    got4 = render("movingMedian(cpu.*, 2)", fetch)
    want4 = sf.moving_median(fetch("cpu.*"), 2)
    assert sorted(map(tuple, got4.collect())) == sorted(
        map(tuple, want4.collect())
    )
    got5 = render("movingSum(cpu.*, '2h')", fetch)
    want5 = sf.moving_sum(fetch("cpu.*"), window_seconds=7200)
    assert sorted(map(tuple, got5.collect())) == sorted(
        map(tuple, want5.collect())
    )
    got6 = render("percentileOfSeries(cpu.*, 50)", fetch)
    want6 = sf.percentile_of_series(fetch("cpu.*"), 50)
    assert sorted(map(tuple, got6.collect())) == sorted(
        map(tuple, want6.collect())
    )
    got7 = render("limit(sortByName(cpu.*), 1)", fetch)
    assert {r.metric for r in got7.select("metric").distinct().collect()} == {
        "cpu.idle"
    }
    # node-0 keys match ("cpu" on both sides) → paired series
    got8 = render("weightedAverage(cpu.load, cpu.idle, 0)", fetch)
    rows8 = {r.bucket_ts: r.value for r in got8.collect()}
    assert set(got8.columns) == {"metric", "bucket_ts", "value"}
    # bucket 0: product 1*9=9, weight 9 → 1.0 (avg=cpu.load, weight=cpu.idle)
    assert rows8[0] == 1.0
    assert {r.metric for r in got8.select("metric").distinct().collect()} == {
        "weightedAverage"
    }


def test_render_brace_glob_and_alias(spark):
    fetch = _fetch_fn(spark)
    out = render("alias(sumSeries({cpu.load,cpu.idle}), 'cpu.total')", fetch)
    rows = {r.bucket_ts: r.value for r in out.collect()}
    assert rows[0] == 10.0  # 1 + 9
    assert all(r.metric == "cpu.total" for r in out.collect())


def test_render_errors(spark):
    fetch = _fetch_fn(spark)
    with pytest.raises(ValueError, match="unsupported function"):
        render("frobnicate(cpu.*)", fetch)
    with pytest.raises(ValueError):
        render("scale(cpu.*, 2", fetch)  # unbalanced paren
    with pytest.raises(ValueError):
        render("scale(cpu.*, 2) trailing", fetch)
    assert "summarize" in SUPPORTED_FUNCTIONS


def test_engine_render_end_to_end(spark, tmp_path):
    from kenshin_backup_spark.api import Engine
    from kenshin_backup_spark.sources import load_table

    from kenshin_backup_spark.operators.policies import Policy

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    pts = ev.select(F.col("event_type").alias("metric"), "ts", "value")
    # single hourly archive: the default 3-level ladder would (correctly)
    # route this month-long range to its 600 s archive, and the direct
    # cross-check below is written at the hourly grain
    eng = Engine(
        spark,
        str(tmp_path / "store"),
        policies=[Policy(name="hourly", pattern=".*", steps=(3600,))],
    )
    eng.write(pts)
    es = F.unix_timestamp("ts").cast("long")
    lo = pts.agg(F.min(es)).collect()[0][0]
    hi = pts.agg(F.max(es)).collect()[0][0]
    lo = lo - lo % 86400  # day-align so grid and direct agree on slot 0
    out = eng.render(
        "summarize(sumSeries({click,view}), '1d', 'sum')", lo, hi + 1
    ).collect()
    assert out and all(r.metric == "sumSeries" for r in out)
    # cross-check against direct aggregation: the default policy fetches
    # HOURLY AVERAGES, so the target sums hourly averages per day
    hourly = (
        pts.where(F.col("metric").isin("click", "view"))
        .select(
            "metric",
            ((es / 3600).cast("long") * 3600).alias("h"),
            "value",
        )
        .groupBy("metric", "h")
        .agg(
            (
                (F.sum(F.floor(F.col("value") * 1000000).cast("long")) / F.lit(1e6))
                / F.count("value")
            ).alias("avg")
        )
    )
    want = (
        hourly.select(((F.col("h") / 86400).cast("long") * 86400).alias("d"), "avg")
        .groupBy("d")
        .agg(F.sum("avg").alias("s"))
        .collect()
    )
    got = {r.bucket_ts: r.value for r in out}
    for r in want:
        assert r.d in got
        assert abs(got[r.d] - r.s) < 1e-6


def test_render_two_series_functions(spark):
    fetch = _fetch_fn(spark)
    out = render("divideSeries(cpu.load, cpu.idle)", fetch)
    rows = {r.bucket_ts: r.value for r in out.collect()}
    assert abs(rows[0] - 1.0 / 9.0) < 1e-12
    diff = render("diffSeries(cpu.load, cpu.idle)", fetch)
    drows = {r.bucket_ts: r.value for r in diff.collect()}
    assert drows[0] == -8.0  # 1 - 9
    with pytest.raises(ValueError, match="expected 2..2"):
        render("divideSeries(cpu.load)", fetch)


def test_render_filter_and_fill_functions(spark):
    fetch = _fetch_fn(spark)
    kept = render("averageAbove(cpu.*, 4)", fetch)
    assert {r.metric for r in kept.collect()} == {"cpu.idle"}  # mean 29/6
    filled = render("transformNull(removeAboveValue(mem.used, 4), 0)", fetch)
    assert {r.value for r in filled.collect()} == {0.0}  # all 5.0 → gap → 0
    top = render("maxSeries(cpu.*)", fetch)
    assert {r.bucket_ts: r.value for r in top.collect()}[0] == 9.0


def test_render_series_by_tag_leaf(spark):
    base = spark.createDataFrame(
        [("req;dc=east;app=a", 0, 1.0),
         ("req;dc=east;app=b", 0, 2.0),
         ("req;dc=west;app=a", 0, 4.0)],
        "metric string, bucket_ts long, value double")

    def fetch(glob):
        return base  # '*' catalog

    out = render("sumSeries(seriesByTag('dc=east'))", fetch)
    assert {r.value for r in out.collect()} == {3.0}
    out2 = render(
        "groupByTags(seriesByTag('dc=east'), 'sum', 'app')", fetch
    )
    got = {r.metric: r.value for r in out2.collect()}
    assert got == {"req;app=a": 1.0, "req;app=b": 2.0}
    import pytest as _p
    with _p.raises(ValueError):
        render("seriesByTag(cpu.load)", fetch)  # df arg not allowed


def test_render_fuzz_random_compositions(spark):
    """Parser/evaluator fuzz: 40 deterministic random nested targets over
    the single- and two-series template set must all parse, evaluate, and
    produce the canonical (metric, bucket_ts, value) frame with sane
    types. Guards arity handling, scalar coercion, and quoting across the
    whole registry grammar — not just the handwritten cases above."""
    import random

    templates = [
        "scale({X}, 2.5)",
        "offset({X}, -1)",
        "absolute({X})",
        "derivative({X})",
        "integral({X})",
        "keepLastValue({X}, 2)",
        "movingAverage({X}, '2h')",
        "summarize({X}, '2h', 'max')",
        "timeShift({X}, '1h')",
        "alias({X}, 'a b')",
        "transformNull({X}, 0)",
        "removeAboveValue({X}, 3)",
        "removeBelowValue({X}, 1)",
        "sumSeries({X})",
        "averageSeries({X})",
        "minSeries({X})",
        "maxSeries({X})",
        "countSeries({X})",
        "exclude({X}, 'idle')",
        "grep({X}, 'cpu')",
        "limit({X}, 2)",
        "sortByTotal({X})",
        "asPercent({X})",
        "diffSeries({X}, {X})",
        "divideSeries({X}, {X})",
        "averageAbove({X}, 0)",
        "currentBelow({X}, 100)",
        "highestCurrent({X}, 2)",
        "mostDeviant({X}, 2)",
        "sortByMaxima({X})",
        "aliasByNode({X}, 0)",
        "groupByNode({X}, 0, 'sum')",
        "keepLastValue({X})",
        "nonNegativeDerivative({X})",
        "perSecond({X})",
        "movingAverage({X}, 3)",
        "summarize({X}, '2h')",
        "aliasByTags({X}, 'name')",
        "groupByTags({X}, 'sum', 'dc')",
        "invert({X})",
        "squareRoot({X})",
        "pow({X}, 2)",
        "offsetToZero({X})",
        "rangeOfSeries({X})",
        "stddevSeries({X})",
        "multiplySeries({X})",
        "lowestCurrent({X}, 2)",
        "highestAverage({X}, 2)",
        "minimumAbove({X}, -100)",
        "maximumBelow({X}, 100)",
        "nPercentile({X}, 75)",
        "removeAbovePercentile({X}, 90)",
        "removeBelowPercentile({X}, 10)",
        "timeSlice({X}, 0, '2h')",
        # round-6 additions
        "movingSum({X}, 2)",
        "movingMin({X}, '2h')",
        "movingMax({X}, 2)",
        "movingMedian({X}, 3)",
        "movingMedian({X}, '2h')",
        "percentileOfSeries({X}, 50)",
        "sortByName({X})",
        "weightedAverage({X}, {X}, 0)",
        # round-6 wave 2
        "aliasSub({X}, 'cpu', 'core')",
        "scaleToSeconds({X}, 60)",
        "removeEmptySeries({X})",
        "isNonNull({X})",
        "changed({X})",
        "delay({X}, 1)",
        "hitcount({X}, '2h')",
        "integralByInterval({X}, '2h')",
        "averageOutsidePercentile({X}, 75)",
        "group({X}, {X})",
        # round-7 wave 3
        "linearRegression({X})",
        "timeStack({X}, '1d', 0, 2)",
        "stdev({X}, 3)",
        "stdev({X}, 3, 0.5)",
        "sumSeriesWithWildcards({X}, 0)",
        "averageSeriesWithWildcards({X}, 1)",
        "substr({X}, 0, 1)",
        "logarithm({X})",
        "sortByMinima({X})",
        "maximumAbove({X}, 0.5)",
        "minimumBelow({X}, 100)",
        "interpolate({X})",
        "interpolate({X}, 2)",
        "useSeriesAbove({X}, 0.5, 'cpu', 'mem')",
        "exponentialMovingAverage({X}, 3)",
        "aggregateLine({X}, 'avg')",
        "aggregateLine({X}, 'last')",
        "minMax({X})",
        "sigmoid({X})",
        "logit({X})",
        "exp({X})",
        "round({X}, 1)",
        "add({X}, 5)",
        "groupByNodes({X}, 'sum', 0)",
        "smartSummarize({X}, '2h', 'max')",
        "consolidateBy({X}, 'max')",
        "cactiStyle({X})",
        "alpha({X}, 0.5)",
        "areaBetween({X}, {X})",
        "dashed({X})",
        "drawAsInfinite({X})",
        "secondYAxis({X})",
        "color({X}, 'red')",
        "lineWidth({X}, 2)",
        # round-8 wave 4: the generic family
        "aggregate({X}, 'median')",
        "aggregate({X}, 'range')",
        "aggregate({X}, 'diff')",
        "aggregate({X}, 'last')",
        "groupByNode({X}, 0, 'median')",
        "groupByNodes({X}, 'stddev', 0)",
        "aggregateWithWildcards({X}, 'sum', 0)",
        "multiplySeriesWithWildcards({X}, 1)",
        "movingWindow({X}, 2, 'sum')",
        "movingWindow({X}, '2h', 'max')",
        "highest({X}, 2, 'max')",
        "lowest({X}, 2)",
        "highestMax({X}, 2)",
        "sortBy({X}, 'total', true)",
        "sortBy({X})",
        "filterSeries({X}, 'average', '>', -100)",
        "removeBetweenPercentile({X}, 80)",
        "unique({X}, {X})",
        "aliasByMetric({X})",
        "fallbackSeries({X}, {X})",
        "cumulative({X})",
        "stacked({X})",
        "legendValue({X}, 'avg', 'max')",
        "powSeries({X})",
        "sumSeriesLists({X}, {X})",
        "diffSeriesLists({X}, {X})",
        "multiplySeriesLists({X}, {X})",
        "divideSeriesLists({X}, {X})",
        "aggregateSeriesLists({X}, {X}, 'sum')",
        # round-9: consolidation-state carriers (hints are render-time
        # state; here they must at least parse, evaluate and pass data)
        "xFilesFactor({X}, 0.5)",
        "setXFilesFactor(alias({X}, 'xf'), 0.25)",
        "sortByName(consolidateBy({X}, 'first'))",
        "group(consolidateBy({X}, 'max'), consolidateBy({X}, 'max'))",
        # round-9: optional-parameter tail
        "percentileOfSeries({X}, 75, true)",
        "removeAbovePercentile({X}, 80, 'true')",
        "removeBelowPercentile({X}, 20, true)",
        "summarize({X}, '2h', 'avg', true)",
        "movingAverage({X}, 2, 0.5)",
        "movingSum({X}, '2h', 0.5)",
        "movingMedian({X}, 3, 1.0)",
        "movingWindow({X}, 2, 'max', 0.5)",
        "nonNegativeDerivative({X}, 100)",
        "perSecond({X}, 100, 0)",
        "removeEmptySeries({X}, 0.5)",
        "sortByName({X}, true, true)",
        "asPercent({X}, 100)",
        "asPercent({X}, {X})",
        "groupByNode({X}, 0)",
        # round-9: keyword-argument forms
        "summarize({X}, '2h', alignToFrom=true)",
        "movingMax({X}, 2, xFilesFactor=0.5)",
        "sortBy({X}, reverse=true)",
        "highest({X}, func='max')",
        # round-10: full-catalog keyword forms (every spec family:
        # scalar-required, defaulted, variadic-as-single, dual-kind)
        "scale({X}, factor=2)",
        "offset({X}, factor=-1)",
        "alias({X}, newName='kw')",
        "aliasByNode({X}, nodes=0)",
        "groupByNodes({X}, callback='sum', nodes=0)",
        "timeShift({X}, timeShift='1h')",
        "scaleToSeconds({X}, seconds=60)",
        "delay({X}, steps=1)",
        "hitcount({X}, intervalString='2h')",
        "integralByInterval({X}, intervalUnit='2h')",
        "mostDeviant({X}, n=2)",
        "limit({X}, n=2)",
        "nPercentile({X}, n=75)",
        "removeAboveValue({X}, n=100)",
        "maximumBelow({X}, n=100)",
        "averageAbove({X}, n=-100)",
        "pow({X}, factor=2)",
        "substr({X}, start=0, stop=1)",
        "logarithm({X}, base=2)",
        "round({X}, precision=1)",
        "dashed({X}, dashLength=2)",
        "lineWidth({X}, width=2)",
        "alpha({X}, alpha=0.5)",
        "aggregateLine({X}, func='last')",
        "stacked({X}, stackName='s')",
        "asPercent({X}, total=100)",
        "timeStack({X})",
        "timeStack({X}, timeShiftUnit='1h', timeShiftEnd=2)",
        "filterSeries({X}, 'average', operator='>', threshold=-100)",
        "aggregate({X}, func='median')",
        "sumSeriesWithWildcards({X}, position=0)",
        "aggregateWithWildcards({X}, func='sum', positions=0)",
        "legendValue({X}, valueTypes='avg')",
        "mapSeries({X}, mapNodes=0)",
        "weightedAverage({X}, {X}, nodes=0)",
        "aliasByTags({X}, tags='name')",
        "groupByTags({X}, callback='sum', tags='name')",
        "exponentialMovingAverage({X}, windowSize=3)",
        "highestCurrent({X}, n=2)",
        "exclude({X}, pattern='zz')",
        "grep({X}, pattern='.')",
        "aggregate({X}, 'sum', 0.5)",
        "aggregate({X}, 'max', xFilesFactor=0.25)",
        "asPercent({X}, None, 0)",
        "asPercent({X}, nodes=0)",
        # round-10: graphite short aliases + *seriesLists combines
        "sum({X})",
        "avg({X})",
        "pct({X}, 100)",
        "log({X}, 2)",
        "sumSeries({X}, {X})",
        "maxSeries({X}, {X})",
    ]
    rng = random.Random(20260814)
    fetch = _fetch_fn(spark)
    for _ in range(40):
        target = rng.choice(("cpu.*", "{cpu,mem}.*", "mem.used"))
        for _ in range(rng.randint(1, 4)):
            target = rng.choice(templates).replace("{X}", target)
        df = render(target, fetch)
        assert set(df.columns) == {"metric", "bucket_ts", "value"}, target
        rows = df.collect()
        for r in rows:
            assert isinstance(r.metric, str), target
            assert isinstance(r.bucket_ts, int), target
            assert r.value is None or isinstance(r.value, float), target


def test_render_limit_composes_with_sort_order(spark):
    """graphite's top-N idiom: limit(sortByTotal(x), 1) keeps the series
    with the LARGEST total (order-aware), not the first by name; without
    a sort upstream, limit falls back to name order. The internal
    __series_order column never reaches the final result."""
    fetch = _fetch_fn(spark)
    top = render("limit(sortByTotal(cpu.*), 1)", fetch)
    assert set(top.columns) == {"metric", "bucket_ts", "value"}
    names = {r.metric for r in top.select("metric").distinct().collect()}
    # cpu.idle total 29 > cpu.load total 23 → idle wins despite name order
    assert names == {"cpu.idle"}
    byname = render("limit(cpu.*, 1)", fetch)
    assert {r.metric for r in byname.select("metric").distinct().collect()} == {
        "cpu.idle"
    }
    maxima = render("limit(sortByMaxima(cpu.*), 1)", fetch)
    # cpu.load max 8 > cpu.idle max 9? idle max is 9 → idle first
    assert {r.metric for r in maxima.select("metric").distinct().collect()} == {
        "cpu.idle"
    }


def test_render_wave2_functions(spark):
    fetch = _fetch_fn(spark)
    g = render("group(cpu.load, mem.used)", fetch)
    assert {r.metric for r in g.select("metric").distinct().collect()} == {
        "cpu.load", "mem.used"
    }
    hc = render("hitcount(mem.used, '2h')", fetch)
    # mem.used = 5.0 at 6 hourly slots, step 3600 → v*step = 18000/slot,
    # two slots per 2 h bucket → 36000
    rows = {r.bucket_ts: r.value for r in hc.collect()}
    assert rows[0] == 36000.0
    sub = render("aliasSub(cpu.*, '^cpu', 'core')", fetch)
    assert {r.metric for r in sub.select("metric").distinct().collect()} == {
        "core.load", "core.idle"
    }
    ii = render("integralByInterval(mem.used, '2h')", fetch)
    vals = {r.bucket_ts: r.value for r in ii.collect()}
    assert vals[0] == 5.0 and vals[3600] == 10.0 and vals[7200] == 5.0


def test_render_wave3_functions(spark):
    fetch = _fetch_fn(spark)

    # useSeriesAbove: cpu.load max 8 > 5 qualifies → substituted name is
    # fetched instead; substitutions that resolve to nothing contribute
    # no rows (cpu→mem turns cpu.* into mem.load/mem.idle, neither exists)
    out = render("useSeriesAbove(cpu.load, 5, 'cpu.load', 'mem.used')", fetch)
    assert {r.metric for r in out.collect()} == {"mem.used"}
    empty = render("useSeriesAbove(cpu.*, 5, 'cpu', 'mem')", fetch)
    assert empty.count() == 0

    # linearRegression over the constant series reproduces it exactly
    lr = {r.bucket_ts: r.value
          for r in render("linearRegression(mem.used)", fetch).collect()}
    assert all(abs(v - 5.0) < 1e-9 for v in lr.values())

    # display-only functions: values untouched, graphite renames applied
    d = render("dashed(mem.used)", fetch).collect()
    assert {r.metric for r in d} == {"dashed(mem.used,5)"}
    assert sorted(r.value for r in d) == [5.0] * 6
    c = render("color(mem.used, 'red')", fetch).collect()
    assert {r.metric for r in c} == {"mem.used"}

    # sumSeriesWithWildcards merges cpu.load+cpu.idle after dropping node 1
    sw = {r.bucket_ts: r.value
          for r in render("sumSeriesWithWildcards(cpu.*, 1)", fetch).collect()}
    assert sw[0] == 10.0 and sw[3 * 3600] == 9.0

    # timeStack names and shifts (legend unit normalized to '-' — r11)
    ts = render("timeStack(mem.used, '1h', 0, 2)", fetch)
    names = {r.metric for r in ts.collect()}
    assert names == {"timeShift(mem.used, -1h, 0)",
                     "timeShift(mem.used, -1h, 1)"}
    assert ts.count() == 12


def test_generator_functions(spark):
    """wave 4b: time/sin/randomWalk/constantLine/threshold synthesize
    series from the request window passed to render()."""
    import math

    import pytest

    from kenshin_backup_spark.render import render

    fetch = _fetch_fn(spark)

    t = render("time('t', 120)", fetch, from_ts=0, until_ts=600)
    got = {r.bucket_ts: r.value for r in t.collect()}
    assert got == {0: 0.0, 120: 120.0, 240: 240.0, 360: 360.0, 480: 480.0}

    i = render("identity('i')", fetch, from_ts=0, until_ts=180)
    assert {r.metric for r in i.collect()} == {"i"}
    assert {r.bucket_ts: r.value for r in i.collect()} == {
        0: 0.0, 60: 60.0, 120: 120.0}

    s = render("sin('s', 2)", fetch, from_ts=0, until_ts=180).collect()
    for r in s:
        assert abs(r.value - 2 * math.sin(r.bucket_ts)) < 1e-12

    rw = render("randomWalk('rw')", fetch, from_ts=0, until_ts=600)
    vals = [r.value for r in
            sorted(rw.collect(), key=lambda r: r.bucket_ts)]
    assert vals[0] == 0.0  # the walk starts at zero
    assert all(abs(b - a) <= 0.5 + 1e-12
               for a, b in zip(vals, vals[1:]))  # |increment| < 0.5
    rw2 = render("randomWalk('rw')", fetch, from_ts=0, until_ts=600)
    assert [r.value for r in
            sorted(rw2.collect(), key=lambda r: r.bucket_ts)] == vals

    cl = render("constantLine(3.5)", fetch, from_ts=0, until_ts=400)
    assert sorted((r.metric, r.bucket_ts, r.value) for r in cl.collect()) \
        == [("3.5", 0, 3.5), ("3.5", 200, 3.5), ("3.5", 400, 3.5)]
    th = render("threshold(5, 'limit')", fetch, from_ts=0, until_ts=400)
    assert {r.metric for r in th.collect()} == {"limit"}
    assert {r.value for r in th.collect()} == {5.0}

    # composable with fetched series (union via group)
    both = render("group(mem.used, constantLine(7))", fetch,
                  from_ts=0, until_ts=400)
    assert {r.metric for r in both.collect()} == {"mem.used", "7.0"}

    # without the window the generator raises a clear error
    with pytest.raises(ValueError, match="request window"):
        render("time('x')", fetch)


def test_holt_winters_render_wiring(spark):
    from kenshin_backup_spark.render import render

    fetch = _fetch_fn(spark)
    f = render("holtWintersForecast(mem.used)", fetch)
    assert {r.metric for r in f.collect()} == {
        "holtWintersForecast(mem.used)"}
    assert f.count() == 6
    b = render("holtWintersConfidenceBands(mem.used)", fetch)
    assert {r.metric for r in b.collect()} == {
        "holtWintersConfidenceUpper(mem.used)",
        "holtWintersConfidenceLower(mem.used)",
    }
    a = render("holtWintersAberration(mem.used, 3)", fetch)
    assert {r.metric for r in a.collect()} == {
        "holtWintersAberration(mem.used)"}
    # the flat mem.used series never leaves its own band
    assert {r.value for r in a.collect()} == {0.0}


def test_map_reduce_apply_by_node(spark):
    from kenshin_backup_spark.functions.deterministic import glob_to_regex
    from kenshin_backup_spark.render import render as _render

    rows = [
        ("srv.s1.disk.used", 0, 30.0), ("srv.s1.disk.total", 0, 100.0),
        ("srv.s2.disk.used", 0, 10.0), ("srv.s2.disk.total", 0, 40.0),
        ("srv.s1.disk.used", 60, 50.0), ("srv.s1.disk.total", 60, 100.0),
        ("srv.s3.disk.used", 0, 7.0),  # no total → group drops (graphite)
    ]
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    fetch = lambda g: df.where(  # noqa: E731
        F.col("metric").rlike(glob_to_regex(g)))

    red = _render(
        "reduceSeries(mapSeries(srv.*.disk.*, 1), 'asPercent', 3, "
        "'used', 'total')",
        fetch,
    )
    got = sorted((r.metric, r.bucket_ts, r.value) for r in red.collect())
    assert got == [
        ("srv.s1.disk", 0, 30.0), ("srv.s1.disk", 60, 50.0),
        ("srv.s2.disk", 0, 25.0),
    ]

    div = _render(
        "reduceSeries(srv.*.disk.*, 'divideSeries', 3, 'used', 'total')",
        fetch,
    )
    dgot = {(r.metric, r.bucket_ts): r.value for r in div.collect()}
    assert dgot[("srv.s1.disk", 0)] == 0.3

    ab = _render(
        "applyByNode(srv.{s1,s2}.disk.used, 1, 'sumSeries(%.disk.*)', "
        "'%.disk.combined')",
        fetch,
    )
    agot = sorted((r.metric, r.bucket_ts, r.value) for r in ab.collect())
    assert agot == [
        ("srv.s1.disk.combined", 0, 130.0),
        ("srv.s1.disk.combined", 60, 150.0),
        ("srv.s2.disk.combined", 0, 50.0),
    ]

    with pytest.raises(ValueError, match="reduceSeries"):
        _render(
            "reduceSeries(srv.*.disk.*, 'mod', 3, 'used', 'total')", fetch
        )


# --- round-9 ADVICE fixes ----------------------------------------------------


def test_sortby_quoted_false_is_false(spark):
    """ADVICE r8: graphite's param parser treats the STRING 'false' as
    False — sortBy(x,'max','false') must sort ascending, same as the
    bare-token false and the omitted default."""
    fetch = _fetch_fn(spark)
    for target in (
        "limit(sortBy(cpu.*, 'max', 'false'), 1)",
        "limit(sortBy(cpu.*, 'max', '0'), 1)",
        "limit(sortBy(cpu.*, 'max', false), 1)",
        "limit(sortBy(cpu.*, 'max'), 1)",
    ):
        kept = {r.metric for r in render(target, fetch).collect()}
        assert kept == {"cpu.load"}, target  # max 8 < cpu.idle's 9
    # and a TRUE (quoted or bare) still reverses
    for target in (
        "limit(sortBy(cpu.*, 'max', 'true'), 1)",
        "limit(sortBy(cpu.*, 'max', true), 1)",
    ):
        kept = {r.metric for r in render(target, fetch).collect()}
        assert kept == {"cpu.idle"}, target


def test_consolidation_hint_survives_rename(spark):
    """ADVICE r8 (medium): the consolidateBy kernel is evaluator state —
    it survives renames/sorts/filters the way graphite's series-object
    hint does, instead of being re-parsed off the legend text."""
    fetch = _fetch_fn(spark)
    # cpu.load = [1,4,2,8,5,3] hourly; mdp=2 → vpp=3, spp=10800,
    # nstart=10800 → one band over [8,5,3]: max=8, avg would be 16/3
    for target in (
        "aliasSub(consolidateBy(cpu.load,'max'),'^cpu','box')",
        "alias(consolidateBy(cpu.load,'max'),'box.load')",
        "sortByName(consolidateBy(cpu.load,'max'))",
        "limit(sortBy(consolidateBy(cpu.load,'max'),'average'),1)",
    ):
        got = render(target, fetch, max_data_points=2).collect()
        assert len(got) == 1, target
        assert got[0].bucket_ts == 10800 and got[0].value == 8.0, target
    # cumulative sets the sum hint (graphite: consolidateBy(x,'sum'))
    got = render("alias(cumulative(cpu.load),'x')", fetch,
                 max_data_points=2).collect()
    assert len(got) == 1 and got[0].value == 16.0
    # graphite's scale mutates the series IN PLACE, so the hint
    # survives it — and it survives a rename stacked on top, where the
    # legend wrap is no longer outermost and the fallback parse would
    # have averaged
    for target in ("scale(consolidateBy(cpu.load,'max'),1)",
                   "alias(scale(consolidateBy(cpu.load,'max'),1),'x')"):
        got = render(target, fetch, max_data_points=2).collect()
        assert len(got) == 1 and got[0].value == 8.0, target
    # a NEW-TimeSeries function (summarize/moving*/derivative family)
    # resets the hint exactly as graphite does; delay() shifts values
    # by one slot ([_,1,4,2,8,5] → band [2,8,5]) and its rename erases
    # the wrap → default average
    got = render("alias(delay(consolidateBy(cpu.load,'max'),1),'x')",
                 fetch, max_data_points=2).collect()
    assert len(got) == 1 and abs(got[0].value - 5.0) < 1e-12
    # no rename at all: the legend-wrap parse still dispatches max
    got = render("consolidateBy(cpu.load,'max')", fetch,
                 max_data_points=2).collect()
    assert len(got) == 1 and got[0].value == 8.0


def test_xfilesfactor_render_hint(spark):
    """Render-time xFilesFactor (SCALE.md r8 non-goal, closed r9): the
    hint rides the same evaluator state as the consolidateBy kernel —
    a maxDataPoints band below the non-gap fraction becomes a gap, and
    the hint survives renames and composes with consolidateBy in either
    order."""
    rows = [("g.a", 3600 * i, v)
            for i, v in enumerate([1.0, None, None, 8.0, None, 3.0])]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    def fetch(glob):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        return base.where(F.col("metric").rlike(glob_to_regex(glob)))

    # mdp=2 → vpp=3, spp=10800, nstart=10800 → ONE band over
    # [8, None, 3]: slots=3, non-gap=2
    got = render("xFilesFactor(g.a, 0.5)", fetch, max_data_points=2).collect()
    assert [(r.bucket_ts, r.value) for r in got] == [(10800, 5.5)]
    # 2 < 0.7*3 → the band gaps out; the hint survives an alias
    for target in ("xFilesFactor(g.a, 0.7)",
                   "alias(xFilesFactor(g.a, 0.7), 'x')"):
        got = render(target, fetch, max_data_points=2).collect()
        assert [(r.bucket_ts, r.value) for r in got] == [(10800, None)], target
    # composes with consolidateBy in either order (state merges)
    got = render("xFilesFactor(consolidateBy(g.a,'max'), 0.5)", fetch,
                 max_data_points=2).collect()
    assert [(r.bucket_ts, r.value) for r in got] == [(10800, 8.0)]
    got = render("consolidateBy(xFilesFactor(g.a, 0.7),'max')", fetch,
                 max_data_points=2).collect()
    assert [(r.bucket_ts, r.value) for r in got] == [(10800, None)]
    # no budget → full-resolution passthrough regardless of xff
    got = render("xFilesFactor(g.a, 0.99)", fetch).collect()
    assert len(got) == 6
    with pytest.raises(ValueError, match="xFilesFactor"):
        render("xFilesFactor(g.a, 1.5)", fetch)


def test_consolidation_hint_group_all_equal_rule(spark):
    """Multi-input passthroughs (group/unique) keep a hint only when
    EVERY branch carries the same one — graphite's per-series hints can
    differ across branches, so a frame-level state must not guess."""
    fetch = _fetch_fn(spark)
    # both branches max → the union consolidates with max.
    # cpu.load band [8,5,3] → 8; cpu.idle = [9,6,7,1,2,4] → band
    # [1,2,4] → 4. aliasSub erases the legend wrap on both.
    got = render(
        "aliasSub(group(consolidateBy(cpu.load,'max'),"
        "consolidateBy(cpu.idle,'max')),'$','.r')",
        fetch, max_data_points=2,
    ).collect()
    vals = {r.metric: r.value for r in got}
    assert vals == {
        'consolidateBy(cpu.load,"max").r': 8.0,
        'consolidateBy(cpu.idle,"max").r': 4.0,
    }
    # mixed hints → the frame-level state drops; the legend fallback
    # still dispatches per series (wraps are outermost here)
    got2 = render(
        "group(consolidateBy(cpu.load,'max'),consolidateBy(cpu.idle,'min'))",
        fetch, max_data_points=2,
    ).collect()
    vals2 = {r.metric: r.value for r in got2}
    assert vals2 == {
        'consolidateBy(cpu.load,"max")': 8.0,
        'consolidateBy(cpu.idle,"min")': 1.0,
    }
    # mixed hints + a rename: frame state is empty and the wrap is
    # gone → documented average fallback
    got3 = render(
        "aliasSub(group(consolidateBy(cpu.load,'max'),"
        "consolidateBy(cpu.idle,'min')),'$','.r')",
        fetch, max_data_points=2,
    ).collect()
    vals3 = {r.metric: round(r.value, 9) for r in got3}
    assert vals3 == {
        'consolidateBy(cpu.load,"max").r': round(16.0 / 3.0, 9),
        'consolidateBy(cpu.idle,"min").r': round(7.0 / 3.0, 9),
    }


def test_percentile_interpolate_and_summarize_aligntofrom(spark):
    """Round-9 optional-param parity: the interpolate flag on the
    percentile family and summarize's alignToFrom (→ window-start
    aligned buckets, smartSummarize's frame-model semantics); quoted
    and bare booleans both work."""
    fetch = _fetch_fn(spark)
    # cross-series p50 at bucket 0 over [1,5,9]: NIST rank picks 5;
    # interpolated: fr=2.0, rank=2, frac=0 → 5 too; use p=75 for a
    # visible blend: fr=3.0 → rank 3 → 9 (frac 0); p=60: fr=2.4,
    # rank=2, frac=0.4 → 5 + 0.4*(9-5) = 6.6
    got = render("percentileOfSeries(*.*, 60, true)", fetch).collect()
    vals = {r.bucket_ts: r.value for r in got}
    assert abs(vals[0] - 6.6) < 1e-12
    ni = render("percentileOfSeries(*.*, 60)", fetch).collect()
    nvals = {r.bucket_ts: r.value for r in ni}
    assert nvals[0] == 9.0  # ceil(2.4)=3 → el 3 of [1,5,9]
    # removeAbovePercentile with interpolation: cpu.load sorted
    # [1,2,3,4,5,8], p=50 → fr=3.5, rank=3, frac=0.5 → 3+0.5*(4-3)=3.5;
    # values >3.5 gap out (NIST rank would keep 4: ceil(3.5)=4 → pv=4)
    kept = render(
        "removeAbovePercentile(cpu.load, 50, 'true')", fetch
    ).collect()
    assert sorted(r.value for r in kept if r.value is not None) == [
        1.0, 2.0, 3.0]
    kept_n = render("removeAbovePercentile(cpu.load, 50)", fetch).collect()
    assert sorted(r.value for r in kept_n if r.value is not None) == [
        1.0, 2.0, 3.0, 4.0]
    # summarize alignToFrom: mem.used starts at ts 0 (epoch-aligned), so
    # shift the series via timeShift? simpler: both agree at aligned
    # start — assert equality to smartSummarize on an unaligned window
    a = render("summarize(cpu.load, '2h', 'max', true)", fetch).collect()
    b = sf.smart_summarize(fetch("cpu.load"), 7200, "max").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    c = render("summarize(cpu.load, '2h', 'max', 'false')", fetch).collect()
    d = sf.summarize(fetch("cpu.load"), 7200, "max").collect()
    assert sorted(map(tuple, c)) == sorted(map(tuple, d))


def test_round9_param_tail_two(spark):
    """removeEmptySeries(xFilesFactor), sortByName(natural, reverse),
    asPercent(total), and groupByNode's graphite default callback
    (average, not sum)."""
    rows = [
        ("web.s2", 0, 1.0), ("web.s2", 60, None),
        ("web.s10", 0, 3.0), ("web.s10", 60, 4.0),
        ("web.gap", 0, None), ("web.gap", 60, None),
    ]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    def fetch(glob):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        return base.where(F.col("metric").rlike(glob_to_regex(glob)))

    # removeEmptySeries default drops only the all-gap series
    kept = {r.metric for r in render("removeEmptySeries(web.*)", fetch)
            .select("metric").distinct().collect()}
    assert kept == {"web.s2", "web.s10"}
    # xff=1.0 keeps only fully-populated series; xff=0 still drops
    # all-gap series (graphite's xff helper short-circuits
    # `if not nonNull: return False` before the fraction compare —
    # r10 ADVICE fix; the old pin kept web.gap here)
    kept1 = {r.metric for r in render("removeEmptySeries(web.*, 1.0)", fetch)
             .select("metric").distinct().collect()}
    assert kept1 == {"web.s10"}
    kept0 = {r.metric for r in render("removeEmptySeries(web.*, 0)", fetch)
             .select("metric").distinct().collect()}
    assert kept0 == {"web.s2", "web.s10"}

    # sortByName natural: s2 < s10 numerically, s10 < s2 lexically
    lex = render("limit(sortByName(web.s*), 1)", fetch)
    assert {r.metric for r in lex.collect()} == {"web.s10"}
    nat = render("limit(sortByName(web.s*, true), 1)", fetch)
    assert {r.metric for r in nat.collect()} == {"web.s2"}
    natrev = render("limit(sortByName(web.s*, true, true), 1)", fetch)
    assert {r.metric for r in natrev.collect()} == {"web.s10"}

    # asPercent with a constant total
    pc = {(r.metric, r.bucket_ts): r.value
          for r in render("asPercent(web.s10, 8)", fetch).collect()}
    assert pc[("web.s10", 0)] == 37.5 and pc[("web.s10", 60)] == 50.0
    # asPercent with a SINGLE total series divides every input series
    ps = {(r.metric, r.bucket_ts): r.value
          for r in render("asPercent(web.s2, web.s10)", fetch).collect()}
    assert abs(ps[("web.s2", 0)] - 100.0 / 3.0) < 1e-9  # 1/3 * 100
    assert ps[("web.s2", 60)] is None  # gap stays a gap
    # same-count totals pair by sorted name (graphite matchSeries):
    # each series against itself -> 100 everywhere a value exists
    pm = {(r.metric, r.bucket_ts): r.value
          for r in render("asPercent(web.s*, web.s*)", fetch).collect()}
    assert pm[("web.s2", 0)] == 100.0 and pm[("web.s10", 60)] == 100.0
    assert pm[("web.s2", 60)] is None
    # any other count raises, exactly as graphite does
    with pytest.raises(ValueError, match="asPercent second argument"):
        render("asPercent(web.s2, web.s*)", fetch).collect()
    # unsupported forms fail LOUDLY (r10 ADVICE fix) instead of
    # silently dropping arguments: 3+ series expressions, and a
    # constant total combined with nodes (graphite rejects it too).
    # The *nodes grouping form itself is implemented (r10 late — see
    # test_as_percent_nodes_grouping).
    with pytest.raises(ValueError, match="at most one total series"):
        render("asPercent(web.s2, web.s10, web.gap)", fetch)
    with pytest.raises(ValueError, match="None or a seriesList"):
        render("asPercent(web.s2, 8, 1)", fetch)

    # groupByNode default callback = average (graphite parity)
    g = {r.bucket_ts: r.value
         for r in render("groupByNode(web.s*, 0)", fetch).collect()}
    assert g[0] == 2.0  # avg(1,3), not sum 4


def test_vertical_line_and_hw_confidence_area(spark):
    """verticalLine: an at-time marker inside the window (1.0 at the
    resolved ts; outside-window timestamps raise like graphite);
    holtWintersConfidenceArea returns the bands' data (display-only
    fill difference, documented)."""
    fetch = _fetch_fn(spark)
    got = render("verticalLine('-1h', 'deploy')", fetch,
                 from_ts=0, until_ts=7200).collect()
    assert [(r.metric, r.bucket_ts, r.value) for r in got] == [
        ("deploy", 3600, 1.0)]
    got2 = render("verticalLine('01/01/1970', 'epoch')", fetch,
                  from_ts=0, until_ts=7200).collect()
    assert got2[0].bucket_ts == 0 and got2[0].metric == "epoch"
    with pytest.raises(ValueError, match="before start"):
        render("verticalLine('-10h')", fetch, from_ts=7200, until_ts=10800)
    with pytest.raises(ValueError, match="window"):
        render("verticalLine('-1h')", fetch)  # no request window

    area = render("holtWintersConfidenceArea(mem.used)", fetch).collect()
    bands = render("holtWintersConfidenceBands(mem.used)", fetch).collect()
    assert sorted(map(tuple, area)) == sorted(map(tuple, bands))


def test_keyword_arguments(spark):
    """graphite URL targets accept keyword arguments; kwargs resolve to
    the positional scalar list with graphite defaults for skipped
    positions (python-style rules: no positional-after-keyword, no
    duplicate, unknown names rejected)."""
    fetch = _fetch_fn(spark)
    pairs = [
        ("summarize(cpu.load, '2h', alignToFrom=true)",
         "summarize(cpu.load, '2h', 'sum', true)"),
        ("summarize(cpu.load, '2h', func='max')",
         "summarize(cpu.load, '2h', 'max')"),
        ("movingAverage(cpu.load, 2, xFilesFactor=0.5)",
         "movingAverage(cpu.load, 2, 0.5)"),
        ("movingWindow(cpu.load, 2, xFilesFactor=1.0)",
         "movingWindow(cpu.load, 2, 'average', 1.0)"),
        ("percentileOfSeries(cpu.*, 60, interpolate=true)",
         "percentileOfSeries(cpu.*, 60, true)"),
        ("sortByName(cpu.*, reverse=true)",
         "sortByName(cpu.*, false, true)"),
        ("nonNegativeDerivative(cpu.load, maxValue=100)",
         "nonNegativeDerivative(cpu.load, 100)"),
        ("groupByNode(cpu.*, 0, callback='sum')",
         "groupByNode(cpu.*, 0, 'sum')"),
        ("keepLastValue(cpu.load, limit=1)",
         "keepLastValue(cpu.load, 1)"),
    ]
    for kw_target, pos_target in pairs:
        a = sorted(map(tuple, render(kw_target, fetch).collect()))
        b = sorted(map(tuple, render(pos_target, fetch).collect()))
        assert a == b, kw_target
    # errors: unknown name, duplicate-with-positional, positional after
    # keyword, series-valued keyword, function without kwarg support
    with pytest.raises(ValueError, match="no parameter"):
        render("summarize(cpu.load, '1h', frobnicate=true)", fetch)
    with pytest.raises(ValueError, match="both positionally"):
        render("summarize(cpu.load, '1h', intervalString='2h')", fetch)
    with pytest.raises(ValueError, match="missing required"):
        render("summarize(cpu.load, func='max')", fetch)
    with pytest.raises(ValueError, match="after a keyword"):
        render("summarize(cpu.load, func='max', '1h')", fetch)
    with pytest.raises(ValueError, match="must be a scalar"):
        render("summarize(cpu.load, intervalString=cpu.idle)", fetch)
    # r10: scale() takes kwargs now (full-catalog sweep); only genuinely
    # series-only signatures keep the explicit-reject path
    with pytest.raises(ValueError, match="keyword arguments"):
        render("absolute(cpu.load, foo=2)", fetch)


def test_keyword_arguments_full_catalog(spark):
    """Round-10 full-catalog sweep: every registry function with at
    least one scalar parameter has a _KW_PARAMS spec; the remainder is
    exactly the pinned series-only set. Variadic (*nodes-style) params
    accept a single value as a keyword."""
    import re as _re

    import kenshin_backup_spark.render as R

    src_text = open(R.__file__.rstrip("c")).read()
    body = _re.search(
        r"def _registry\(\).*?\n    return \{(.*?)\n    \}\n", src_text, _re.S
    ).group(1)
    registry_names = set(_re.findall(r'"([A-Za-z0-9]+)":', body))
    series_only = {
        "absolute", "aliasByMetric", "areaBetween", "averageSeries",
        "cactiStyle", "changed", "countSeries", "cumulative",
        "derivative", "diffSeries", "diffSeriesLists", "divideSeries",
        "divideSeriesLists", "drawAsInfinite", "exp", "fallbackSeries",
        "group", "integral", "invert",
        "isNonNull", "logit", "maxSeries", "minMax", "minSeries",
        "multiplySeries", "multiplySeriesLists", "offsetToZero",
        "powSeries", "rangeOfSeries", "secondYAxis", "sigmoid",
        "sortByMaxima", "sortByMinima", "sortByTotal", "squareRoot",
        "stddevSeries", "sumSeries", "sumSeriesLists", "unique",
    }
    assert registry_names - set(R._KW_PARAMS) == series_only
    assert set(R._KW_PARAMS) <= registry_names

    fetch = _fetch_fn(spark)
    # keyword == positional across the newly-covered table, including
    # single-value variadic binds and generator/special-case functions
    pairs = [
        ("scale(cpu.load, factor=2)", "scale(cpu.load, 2)"),
        ("alias(cpu.load, newName='x')", "alias(cpu.load, 'x')"),
        ("aliasByNode(cpu.*, nodes=1)", "aliasByNode(cpu.*, 1)"),
        ("groupByNodes(cpu.*, 'sum', nodes=0)",
         "groupByNodes(cpu.*, 'sum', 0)"),
        ("groupByNodes(cpu.*, callback='sum', nodes=0)",
         "groupByNodes(cpu.*, 'sum', 0)"),
        ("highestCurrent(cpu.*, n=1)", "highestCurrent(cpu.*, 1)"),
        ("exclude(cpu.*, pattern='idle')", "exclude(cpu.*, 'idle')"),
        ("timeShift(cpu.load, timeShift='1h')",
         "timeShift(cpu.load, '1h')"),
        ("pow(cpu.load, factor=2)", "pow(cpu.load, 2)"),
        ("substr(cpu.load, start=1)", "substr(cpu.load, 1)"),
        ("logarithm(cpu.load, base=2)", "logarithm(cpu.load, 2)"),
        ("round(cpu.load, precision=1)", "round(cpu.load, 1)"),
        ("hitcount(cpu.load, intervalString='2h')",
         "hitcount(cpu.load, '2h')"),
        ("filterSeries(cpu.*, 'average', operator='>', threshold=3)",
         "filterSeries(cpu.*, 'average', '>', 3)"),
        ("aggregate(cpu.*, func='median')", "aggregate(cpu.*, 'median')"),
        ("stacked(cpu.*, stackName='s1')", "stacked(cpu.*, 's1')"),
        ("aggregateLine(cpu.load, func='last')",
         "aggregateLine(cpu.load, 'last')"),
        ("sumSeriesWithWildcards(cpu.*, position=0)",
         "sumSeriesWithWildcards(cpu.*, 0)"),
        ("aggregateWithWildcards(cpu.*, 'sum', positions=0)",
         "aggregateWithWildcards(cpu.*, 'sum', 0)"),
        ("legendValue(cpu.*, valueTypes='avg')",
         "legendValue(cpu.*, 'avg')"),
        ("mapSeries(cpu.*, mapNodes=0)", "mapSeries(cpu.*, 0)"),
        ("weightedAverage(cpu.*, cpu.*, nodes=0)",
         "weightedAverage(cpu.*, cpu.*, 0)"),
        ("aliasByTags(cpu.load, tags='name')",
         "aliasByTags(cpu.load, 'name')"),
        ("groupByTags(cpu.*, callback='sum', tags='name')",
         "groupByTags(cpu.*, 'sum', 'name')"),
        ("timeStack(cpu.load, '1h', timeShiftStart=0, timeShiftEnd=2)",
         "timeStack(cpu.load, '1h', 0, 2)"),
        ("timeStack(cpu.load)", "timeStack(cpu.load, '1d', 0, 7)"),
        ("useSeriesAbove(cpu.load, 0.5, 'cpu', replace='mem')",
         "useSeriesAbove(cpu.load, 0.5, 'cpu', 'mem')"),
        ("asPercent(cpu.load, total=8)", "asPercent(cpu.load, 8)"),
        # the ADVICE-r10 crash shape: a SERIES total with keyword nodes
        # (kwarg padding leaves a None in the total slot)
        ("asPercent(cpu.*, cpu.load, nodes=0)",
         "asPercent(cpu.*, cpu.load, 0)"),
        # '-1h' and '1h' are identical post-normalization, legend included
        ("timeStack(cpu.load, '-1h', 0, 2)",
         "timeStack(cpu.load, '1h', 0, 2)"),
    ]
    for kw_target, pos_target in pairs:
        a = sorted(map(tuple, render(kw_target, fetch).collect()))
        b = sorted(map(tuple, render(pos_target, fetch).collect()))
        assert a == b, kw_target
    # generator kwargs need the request window; compare against the
    # positional form over the same window
    gen_pairs = [
        ("time('t', step=120)", "time('t', 120)"),
        ("sin('s', amplitude=2)", "sin('s', 2, 60)"),
        ("randomWalk('r', step=120)", "randomWalk('r', 120)"),
        ("constantLine(value=4)", "constantLine(4)"),
        ("threshold(4, label='lim')", "threshold(4, 'lim')"),
        ("threshold(4, color='red')", "threshold(4)"),
    ]
    for kw_target, pos_target in gen_pairs:
        a = sorted(map(tuple, render(
            kw_target, fetch, from_ts=0, until_ts=3600).collect()))
        b = sorted(map(tuple, render(
            pos_target, fetch, from_ts=0, until_ts=3600).collect()))
        assert a == b, kw_target
    # reduceSeries needs exactly two matchers; a single-value variadic
    # keyword binds but then fails the SAME arity check as positional
    for t in (
        "reduceSeries(mapSeries(cpu.*, 0), 'sum', reduceNode=1, "
        "reduceMatchers='load')",
        "reduceSeries(mapSeries(cpu.*, 0), 'sum', 1, 'load')",
    ):
        with pytest.raises(ValueError, match="exactly two reduceMatchers"):
            render(t, fetch)
    # a variadic keyword repeated positionally-and-by-name still rejects
    with pytest.raises(ValueError, match="both positionally"):
        render("aliasByNode(cpu.*, 0, nodes=1)", fetch)
    # skipping a required earlier position still rejects
    with pytest.raises(ValueError, match="missing required"):
        render("groupByNodes(cpu.*, nodes=0)", fetch)


# --- round-10: request-refetching parameters ---------------------------------


def _windowed_fetch(base):
    """Emulate Engine.render's fetch pair over a wide in-memory frame:
    fetch_fn clamps to the request window, refetch_fn to given bounds."""
    def clamp(a, b):
        return base.where(
            (F.col("bucket_ts") >= a) & (F.col("bucket_ts") < b)
        )
    return clamp


def test_hitcount_align_to_interval(spark):
    """hitcount(…, alignToInterval=true) re-fetches from the
    interval-truncated request start and anchors the bucket grid there
    (graphite adjusts requestContext['startTime'] and re-evaluates the
    target); without it the epoch-anchored deviation stands."""
    rows = [("c.m", t, 1.0) for t in range(10800, 18000, 60)]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    clamp = _windowed_fetch(base)
    fetch = lambda glob: clamp(10900, 18000)  # noqa: E731
    refetch = lambda glob, a, b: clamp(a, b)  # noqa: E731

    # plain form: request window [10900, 18000), epoch-aligned 2h grid
    plain = {r.bucket_ts: r.value for r in render(
        "hitcount(c.m, '2h')", fetch,
        from_ts=10900, until_ts=18000, refetch_fn=refetch,
    ).collect()}
    assert plain == {7200: 3480.0, 14400: 3600.0}

    # aligned: '2h' >= 1h → start truncates to the hour (10800), the
    # subtree re-fetches from there, and ALL 120 slots land in the
    # single bucket anchored at 10800
    for target in (
        "hitcount(c.m, '2h', true)",
        "hitcount(c.m, '2h', alignToInterval=true)",
        "hitcount(c.m, intervalString='2h', alignToInterval=true)",
    ):
        aligned = {r.bucket_ts: r.value for r in render(
            target, fetch,
            from_ts=10900, until_ts=18000, refetch_fn=refetch,
        ).collect()}
        assert aligned == {10800: 7200.0}, target

    # quoted 'false' must NOT align (the _to_bool rail)
    off = {r.bucket_ts: r.value for r in render(
        "hitcount(c.m, '2h', 'false')", fetch,
        from_ts=10900, until_ts=18000, refetch_fn=refetch,
    ).collect()}
    assert off == plain

    # loud failure without the refetch callback / request window
    with pytest.raises(ValueError, match="refetch_fn"):
        render("hitcount(c.m, '2h', true)", fetch,
               from_ts=10900, until_ts=18000)
    with pytest.raises(ValueError, match="request"):
        render("hitcount(c.m, '2h', true)", fetch, refetch_fn=refetch)



def test_read_windows_match_the_evaluator(spark):
    """read_windows names exactly the windows the evaluator fetches
    under: the request window for leaves, and every adjusted window of
    a refetching call, nested ones and applyByNode templates included
    (the engine sizes a request with it before choosing its session)."""
    day = 86400
    base = spark.createDataFrame(
        [("c.m", t, 1.0) for t in range(0, 40 * day, 3600)],
        "metric string, bucket_ts long, value double",
    )
    lo, hi = 30 * day + 5000, 31 * day + 5000
    seen: set = set()

    def fetch(glob):
        seen.add((lo, hi))
        return base

    def refetch(glob, a, b):
        seen.add((a, b))
        return base

    for target in (
        "c.m",
        "group(c.m, constantLine(1))",
        "seriesByTag('name=c.m')",
        "timeShift(c.m, '1d')",
        "timeShift(c.m, '+2h', false)",
        "timeStack(c.m, '1d', 0, 3)",
        "timeStack(c.m, '+1h', 1, 3)",
        "timeStack(c.m, '1d', 2, 2)",
        "linearRegression(c.m, '-3d')",
        "linearRegression(c.m, '-3d', '-1d')",
        "holtWintersForecast(c.m)",
        "holtWintersConfidenceBands(c.m, 2, '3d')",
        "hitcount(c.m, '1d', true)",
        "smartSummarize(c.m, '1d', 'sum', 'days')",
        "timeShift(timeStack(c.m, '1d', 0, 2), '2d')",
        "sumSeries(c.m, timeShift(c.m, '1h'))",
        "holtWintersAberration(timeShift(c.m, '1d'), 3, '2d')",
        "applyByNode(c.*, 0, 'timeShift(%.m, \"1d\")')",
    ):
        seen.clear()
        render(target, fetch, from_ts=lo, until_ts=hi, refetch_fn=refetch)
        assert read_windows(target, lo, hi) == seen, target

def test_align_request_start_units():
    from kenshin_backup_spark.render import _align_request_start

    day, hour = 86400, 3600
    ts = 3 * day + 5 * hour + 23 * 60 + 41
    assert _align_request_start(ts, 2 * day) == 3 * day
    assert _align_request_start(ts, day) == 3 * day
    assert _align_request_start(ts, 2 * hour) == 3 * day + 5 * hour
    assert _align_request_start(ts, 90 * 60) == 3 * day + 5 * hour
    assert _align_request_start(ts, 5 * 60) == 3 * day + 5 * hour + 23 * 60
    assert _align_request_start(ts, 30) == ts  # sub-minute: unchanged


def test_linear_regression_source_window(spark):
    """linearRegression(startSourceAt, endSourceAt): the OLS fit comes
    from the separately-fetched SOURCE window; the fitted line projects
    over the render window (graphite's sourceContext re-evaluation).
    The render-window data is deliberately different from the source
    trend, so any fit-on-render fallback fails the exact values."""
    rows = [("m.a", t, 2.0 * t) for t in range(0, 6000, 60)]
    rows += [("m.a", t, 5.0) for t in range(6000, 12000, 60)]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    clamp = _windowed_fetch(base)
    fetch = lambda glob: clamp(6000, 12000)  # noqa: E731
    refetch = lambda glob, a, b: clamp(a, b)  # noqa: E731

    for target in (
        "linearRegression(m.a, 0, 6000)",
        "linearRegression(m.a, startSourceAt=0, endSourceAt=6000)",
    ):
        got = {r.bucket_ts: r.value for r in render(
            target, fetch,
            from_ts=6000, until_ts=12000, refetch_fn=refetch,
        ).collect()}
        # exact: integer-valued sums make the perfect-line fit exact
        assert got == {t: 2.0 * t for t in range(6000, 12000, 60)}, target

    # default form still fits on the render window (constant 5)
    dflt = {r.bucket_ts: r.value for r in render(
        "linearRegression(m.a)", fetch,
        from_ts=6000, until_ts=12000, refetch_fn=refetch,
    ).collect()}
    assert dflt == {t: 5.0 for t in range(6000, 12000, 60)}

    # startSourceAt alone: source = [0, until) — both segments
    mixed = {r.bucket_ts: r.value for r in render(
        "linearRegression(m.a, startSourceAt=0)", fetch,
        from_ts=6000, until_ts=12000, refetch_fn=refetch,
    ).collect()}
    assert mixed != dflt and mixed != {
        t: 2.0 * t for t in range(6000, 12000, 60)
    }

    with pytest.raises(ValueError, match="refetch_fn"):
        render("linearRegression(m.a, 0, 6000)", fetch,
               from_ts=6000, until_ts=12000)


def test_align_to_calendar_unit():
    """smartSummarize alignTo truncation: graphite's unit switch in UTC;
    weeks align to SUNDAY (isoweekday % 7). Epoch 0 = Thu 1970-01-01."""
    from kenshin_backup_spark.render import _align_to_calendar_unit as al

    day, hour = 86400, 3600
    # Thu 1970-01-15 13:27:41
    ts = 14 * day + 13 * hour + 27 * 60 + 41
    assert al(ts, "seconds") == ts
    assert al(ts, "minutes") == ts - 41
    assert al(ts, "hours") == 14 * day + 13 * hour
    assert al(ts, "days") == 14 * day
    # Thu → previous Sunday is 1970-01-11 = day 10
    assert al(ts, "weeks") == 10 * day
    assert al(ts, "months") == 0
    assert al(ts, "years") == 0
    # prefixes accepted, like graphite's getUnitString
    assert al(ts, "day") == 14 * day
    assert al(ts, "week") == 10 * day
    with pytest.raises(ValueError, match="alignTo"):
        al(ts, "fortnights")
    # a Sunday (1970-01-11 = day 10) aligns to its own midnight
    assert al(10 * day + 5, "weeks") == 10 * day


def test_smart_summarize_align_to_refetches(spark):
    """smartSummarize(…, alignTo='hours') truncates the request start,
    re-fetches from there, and buckets from the aligned start — slots
    before the original request start join the first bucket."""
    rows = [("c.m", t, 1.0) for t in range(10800, 18000, 60)]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    clamp = _windowed_fetch(base)
    fetch = lambda glob: clamp(10900, 18000)  # noqa: E731
    refetch = lambda glob, a, b: clamp(a, b)  # noqa: E731

    # without alignTo: buckets anchor at the fetched frame's first slot
    # (10920 — the first grid slot >= 10900)
    plain = {r.bucket_ts: r.value for r in render(
        "smartSummarize(c.m, '2h', 'sum')", fetch,
        from_ts=10900, until_ts=18000, refetch_fn=refetch,
    ).collect()}
    assert min(plain) == 10920

    for target in (
        "smartSummarize(c.m, '2h', 'sum', 'hours')",
        "smartSummarize(c.m, '2h', 'sum', alignTo='hours')",
        "smartSummarize(c.m, '2h', alignTo='hour')",
    ):
        got = {r.bucket_ts: r.value for r in render(
            target, fetch,
            from_ts=10900, until_ts=18000, refetch_fn=refetch,
        ).collect()}
        # aligned start 10800; 120 slots of 1.0 summed into one 2h
        # bucket anchored there
        assert got == {10800: 120.0}, target

    with pytest.raises(ValueError, match="refetch_fn"):
        render("smartSummarize(c.m, '2h', 'sum', 'hours')", fetch,
               from_ts=10900, until_ts=18000)


def test_aggregate_xfilesfactor(spark):
    """aggregate(func, xFilesFactor): graphite's per-bucket gate — keep
    the aggregate only when ≥1 value exists AND the non-gap fraction
    across member series is >= xff."""
    rows = [
        ("a.x", 0, 1.0), ("a.x", 60, 2.0), ("a.x", 120, None),
        ("a.y", 0, 3.0), ("a.y", 60, None), ("a.y", 120, None),
    ]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    def fetch(glob):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        return base.where(F.col("metric").rlike(glob_to_regex(glob)))

    # no xff: every bucket with ≥1 value aggregates (slot 120 all-gap)
    plain = {r.bucket_ts: r.value
             for r in render("aggregate(a.*, 'sum')", fetch).collect()}
    assert plain == {0: 4.0, 60: 2.0, 120: None}
    # xff=1.0: only fully-populated buckets survive
    full = {r.bucket_ts: r.value for r in render(
        "aggregate(a.*, 'sum', 1.0)", fetch).collect()}
    assert full == {0: 4.0, 60: None, 120: None}
    # keyword form binds the same
    kw = {r.bucket_ts: r.value for r in render(
        "aggregate(a.*, 'sum', xFilesFactor=1.0)", fetch).collect()}
    assert kw == full
    # xff=0.5: slot 60 (1 of 2) survives
    half = {r.bucket_ts: r.value for r in render(
        "aggregate(a.*, 'sum', 0.5)", fetch).collect()}
    assert half == {0: 4.0, 60: 2.0, 120: None}


def test_holt_winters_bootstrap_refetch(spark):
    """holtWinters family with refetch_fn: bootstrapInterval of extra
    history is re-fetched and analyzed, and only the render window's
    predictions are emitted (graphite's _fetchWithBootstrap +
    predictions[windowPoints:]). Without refetch_fn the frame-only
    fallback stands."""
    import math

    day, hour = 86400, 3600
    rows = [
        ("h.m", t, 50.0 + 10.0 * math.sin(2 * math.pi * (t % day) / day))
        for t in range(0, 4 * day, hour)
    ]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    clamp = _windowed_fetch(base)
    ren_lo, ren_hi = 2 * day, 4 * day
    fetch = lambda glob: clamp(ren_lo, ren_hi)  # noqa: E731
    refetch = lambda glob, a, b: clamp(a, b)  # noqa: E731

    got = {r.bucket_ts: r.value for r in render(
        "holtWintersForecast(h.m, '2d')", fetch,
        from_ts=ren_lo, until_ts=ren_hi, refetch_fn=refetch,
    ).collect()}
    # output trimmed to the render window only
    assert set(got) == set(range(ren_lo, ren_hi, hour))

    # exact equality with the manually composed bootstrap pipeline
    want = {r.bucket_ts: r.value for r in sf.trim_to_window_start(
        sf.holt_winters_forecast(clamp(ren_lo - 2 * day, ren_hi)), ren_lo
    ).collect()}
    assert got == want

    # the fallback (no refetch_fn) analyzes the window itself — its
    # first prediction seeds from the first actual, so the two forms
    # genuinely differ early in the window
    bare = {r.bucket_ts: r.value for r in render(
        "holtWintersForecast(h.m, '2d')", fetch,
        from_ts=ren_lo, until_ts=ren_hi,
    ).collect()}
    assert set(bare) == set(got) and bare != got

    # bands: kwarg seasonality + bootstrap; two series, window-trimmed
    bands = render(
        "holtWintersConfidenceBands(h.m, 3, bootstrapInterval='1d', "
        "seasonality='1d')", fetch,
        from_ts=ren_lo, until_ts=ren_hi, refetch_fn=refetch,
    )
    mets = {r.metric for r in bands.select("metric").distinct().collect()}
    assert mets == {
        "holtWintersConfidenceUpper(h.m)", "holtWintersConfidenceLower(h.m)",
    }
    assert bands.agg(F.min("bucket_ts")).collect()[0][0] == ren_lo


def test_as_percent_nodes_grouping(spark):
    """asPercent(series, total, *nodes) — the grouping form (r10):
    series group by their name nodes; each divides by its group's
    per-bucket total (safeSum / safeDiv)."""
    rows = [
        ("dc1.web.a", 0, 1.0), ("dc1.web.b", 0, 3.0),
        ("dc2.web.a", 0, 5.0), ("dc2.web.b", 0, None),
        ("dc1.web.a", 60, None), ("dc1.web.b", 60, None),
        ("dc2.web.a", 60, 2.0), ("dc2.web.b", 60, 6.0),
    ]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    tot_rows = [
        ("dc1.cap.x", 0, 8.0), ("dc2.cap.x", 0, 10.0),
        ("dc1.cap.x", 60, 4.0), ("dc2.cap.x", 60, 16.0),
    ]
    tot = spark.createDataFrame(
        tot_rows, "metric string, bucket_ts long, value double"
    )
    both = base.unionByName(tot)

    def fetch(glob):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        return both.where(F.col("metric").rlike(glob_to_regex(glob)))

    # None total: group (node 0) sums are the divisors
    got = {(r.metric, r.bucket_ts): r.value for r in render(
        "asPercent(*.web.*, None, 0)", fetch).collect()}
    assert got[("dc1.web.a", 0)] == 25.0      # 1 / (1+3)
    assert got[("dc1.web.b", 0)] == 75.0
    assert got[("dc2.web.a", 0)] == 100.0     # gap member skipped: 5/5
    assert got[("dc2.web.b", 0)] is None      # gap value stays a gap
    assert got[("dc1.web.a", 60)] is None     # all-gap group → gap
    assert got[("dc2.web.a", 60)] == 25.0     # 2 / (2+6)

    # explicit total series list grouped by the same node
    gt = {(r.metric, r.bucket_ts): r.value for r in render(
        "asPercent(*.web.*, *.cap.*, 0)", fetch).collect()}
    assert gt[("dc1.web.a", 0)] == 12.5       # 1 / 8
    assert gt[("dc2.web.b", 60)] == 37.5      # 6 / 16
    assert gt[("dc2.web.b", 0)] is None

    # keyword variadic binds one node; None total pads
    kw = {(r.metric, r.bucket_ts): r.value for r in render(
        "asPercent(*.web.*, nodes=0)", fetch).collect()}
    assert kw == got

    # input keys absent from the totals emit all-gap series
    missing = {(r.metric, r.bucket_ts): r.value for r in render(
        "asPercent(*.web.*, dc1.cap.x, 0)", fetch).collect()}
    assert missing[("dc1.web.a", 0)] == 12.5
    assert missing[("dc2.web.a", 0)] is None

    # keyword nodes with a SERIES total (ADVICE r10: the padded None
    # total slot must not crash the node conversion) == positional form
    gt_kw = {(r.metric, r.bucket_ts): r.value for r in render(
        "asPercent(*.web.*, *.cap.*, nodes=0)", fetch).collect()}
    assert gt_kw == gt

    # total-only keys emit the total frame's series, all values gaps
    # (graphite's key-union None series; ADVICE r10 — were dropped)
    only = {(r.metric, r.bucket_ts): r.value for r in render(
        "asPercent(dc1.web.*, *.cap.*, 0)", fetch).collect()}
    assert only[("dc1.web.a", 0)] == 12.5
    assert {k for k in only if k[0] == "dc2.cap.x"} == {
        ("dc2.cap.x", 0), ("dc2.cap.x", 60)}
    assert only[("dc2.cap.x", 0)] is None
    assert only[("dc2.cap.x", 60)] is None

    # explicit None with no nodes == the bare all-series form
    bare = sorted(map(tuple, render("asPercent(*.web.*)", fetch).collect()))
    none = sorted(map(tuple, render(
        "asPercent(*.web.*, None)", fetch).collect()))
    assert bare == none


def test_exp_and_alias_query(spark):
    """r11 catalog closure vs graphite-web 1.1: ``exp()`` (e^x per
    value, gaps stay gaps) and ``aliasQuery()`` (each series name
    regex-substituted into a NEW target whose last value sprintfs into
    newName — graphite's per-series re-query)."""
    import math

    rows = [
        ("channel.power.1", 0, 1.0), ("channel.power.1", 3600, 2.0),
        ("channel.power.2", 0, 3.0), ("channel.power.2", 3600, None),
        ("channel.freq.1", 0, 100.0), ("channel.freq.1", 3600, 101.0),
        ("channel.freq.2", 0, 200.0), ("channel.freq.2", 3600, None),
    ]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    def fetch(glob):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        return base.where(F.col("metric").rlike(glob_to_regex(glob)))

    # exp: e^x per point, gaps stay gaps (approx: the JVM's Math.exp
    # and CPython's libm differ by up to 1 ulp)
    got = {(r.metric, r.bucket_ts): r.value
           for r in render("exp(channel.power.*)", fetch).collect()}
    assert got[("channel.power.1", 0)] == pytest.approx(
        math.exp(1.0), rel=1e-15)
    assert got[("channel.power.1", 3600)] == pytest.approx(
        math.exp(2.0), rel=1e-15)
    assert got[("channel.power.2", 3600)] is None

    # aliasQuery: power.N -> freq.N; the last NON-GAP value of the
    # queried series feeds the sprintf (freq.2's 3600 slot is a gap,
    # so its last value is 200 at slot 0)
    out = render(
        "aliasQuery(channel.power.*, 'power', 'freq', 'Channel %d MHz')",
        fetch,
    ).collect()
    assert {r.metric for r in out} == {"Channel 101 MHz", "Channel 200 MHz"}
    vals = {(r.metric, r.bucket_ts): r.value for r in out}
    assert vals[("Channel 101 MHz", 3600)] == 2.0  # values unchanged

    # keyword form binds through _KW_PARAMS
    kw = render(
        "aliasQuery(channel.power.*, 'power', 'freq', "
        "newName='Channel %d MHz')", fetch,
    ).collect()
    assert sorted(map(tuple, kw)) == sorted(map(tuple, out))

    # graphite raises when the substituted query matches nothing
    with pytest.raises(ValueError, match="no series found"):
        render(
            "aliasQuery(channel.power.*, 'power', 'nosuch', 'x %d')",
            fetch,
        )


def test_time_shift_refetch(spark):
    """timeShift with refetch_fn follows graphite exactly: evaluate the
    target over the shifted request window, move timestamps back onto
    the render grid; an unsigned offset implies MINUS (into the past).
    '+' shifts forward; resetEnd clamps to the request end."""
    rows = [("t.m", t, float(t)) for t in range(0, 4 * 3600, 60)]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    clamp = _windowed_fetch(base)
    lo, hi = 2 * 3600, 3 * 3600
    fetch = lambda glob: clamp(lo, hi)  # noqa: E731
    refetch = lambda glob, a, b: clamp(a, b)  # noqa: E731

    # '1h' = one hour into the past: yesterday's value at today's slot
    for target in ("timeShift(t.m, '1h')", "timeShift(t.m, '-1h')",
                   "timeShift(t.m, timeShift='1h')"):
        got = {r.bucket_ts: r.value for r in render(
            target, fetch,
            from_ts=lo, until_ts=hi, refetch_fn=refetch,
        ).collect()}
        assert got == {t: float(t - 3600) for t in range(lo, hi, 60)}, target

    # '+1h' shifts forward: next hour's value at this slot
    fwd = {r.bucket_ts: r.value for r in render(
        "timeShift(t.m, '+1h')", fetch,
        from_ts=lo, until_ts=hi, refetch_fn=refetch,
    ).collect()}
    assert fwd == {t: float(t + 3600) for t in range(lo, hi, 60)}

    # resetEnd=true (default) clamps the output to the request end
    assert max(fwd) <= hi

    # the no-refetch fallback keeps the in-frame composition shift,
    # sign-consistent with graphite: '1h' and '-1h' both show the past
    # value (timestamps move forward), '+1h' the future one (r10
    # review fix — '-1h' previously moved the frame backward)
    for t_bare in ("timeShift(t.m, '1h')", "timeShift(t.m, '-1h')"):
        bare = {r.bucket_ts: r.value for r in render(
            t_bare, fetch, from_ts=lo, until_ts=hi,
        ).collect()}
        assert bare == {t + 3600: float(t) for t in range(lo, hi, 60)}, t_bare
    bare_fwd = {r.bucket_ts: r.value for r in render(
        "timeShift(t.m, '+1h')", fetch, from_ts=lo, until_ts=hi,
    ).collect()}
    assert bare_fwd == {t - 3600: float(t) for t in range(lo, hi, 60)}


def test_hitcount_anchor_slot_before_anchor(spark):
    """A grid slot BEFORE the anchor (archive step coarser than the
    alignment unit) buckets into the floor-consistent band below the
    anchor instead of a sign-broken one (r10 review fix)."""
    from kenshin_backup_spark.operators.seriesfns import hitcount

    rows = [("m", t, 1.0) for t in (3000, 3600, 4200, 4800)]
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    got = {r.bucket_ts: r.value
           for r in hitcount(df, 1800, anchor_ts=3300).collect()}
    # step=600; slot 3000 < anchor 3300 → band [1500, 3300); slots
    # 3600/4200/4800 → band [3300, 5100)
    assert got == {1500: 600.0, 3300: 1800.0}


def test_time_stack_refetch(spark):
    """timeStack with refetch_fn re-fetches each shift from the past and
    every copy covers the FULL render window (the in-frame fallback's
    copies only cover the fetched range)."""
    rows = [("t.m", t, float(t)) for t in range(0, 4 * 3600, 60)]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    clamp = _windowed_fetch(base)
    lo, hi = 2 * 3600, 3 * 3600
    fetch = lambda glob: clamp(lo, hi)  # noqa: E731
    refetch = lambda glob, a, b: clamp(a, b)  # noqa: E731

    got = {(r.metric, r.bucket_ts): r.value for r in render(
        "timeStack(t.m, '1h', 0, 3)", fetch,
        from_ts=lo, until_ts=hi, refetch_fn=refetch,
    ).collect()}
    slots = range(lo, hi, 60)
    for i in range(3):
        # graphite normalizes the unit to '-' BEFORE naming the copies
        # (r11) — the legend shows '-1h' even for input '1h'
        name = f"timeShift(t.m, -1h, {i})"
        for t in slots:
            # copy i plots the value from i hours earlier at slot t
            assert got[(name, t)] == float(t - i * 3600), (name, t)
    # every copy spans the whole render window
    assert len(got) == 3 * len(list(slots))

    # '-1h' means the past too — graphite normalizes digit-leading units
    # to '-', so both spellings stack backward (ADVICE r10: the signed
    # parse previously shifted '-1h' into the FUTURE) and, post-
    # normalization, produce IDENTICAL output including the legend
    neg = {(r.metric, r.bucket_ts): r.value for r in render(
        "timeStack(t.m, '-1h', 0, 3)", fetch,
        from_ts=lo, until_ts=hi, refetch_fn=refetch,
    ).collect()}
    assert neg == got

    # explicit '+1h' stacks into the future (graphite leaves '+' alone)
    fwd = {(r.metric, r.bucket_ts): r.value for r in render(
        "timeStack(t.m, '+1h', 0, 2)", fetch,
        from_ts=lo, until_ts=hi, refetch_fn=refetch,
    ).collect()}
    for t in slots:
        assert fwd[("timeShift(t.m, +1h, 1)", t)] == float(t + 3600)

    # fallback (no refetch): shifted copies only cover the fetched range
    bare = {(r.metric, r.bucket_ts): r.value for r in render(
        "timeStack(t.m, '1h', 0, 3)", fetch, from_ts=lo, until_ts=hi,
    ).collect()}
    in_window = [k for k in bare
                 if k[0] == "timeShift(t.m, -1h, 2)" and lo <= k[1] < hi]
    assert len(in_window) < len(list(slots))

    # fallback sign parity: '-1h' is identical to '1h' post-normalization
    bare_neg = {(r.metric, r.bucket_ts): r.value for r in render(
        "timeStack(t.m, '-1h', 0, 3)", fetch, from_ts=lo, until_ts=hi,
    ).collect()}
    assert bare_neg == bare


def test_engine_render_time_shift_refetch(spark, tmp_path):
    """Engine.render wires refetch_fn: timeShift('2h') pulls data from
    before the render window out of the store (the in-frame fallback
    would leave the window empty), clamped against the real request
    now."""
    from kenshin_backup_spark.api import Engine
    from kenshin_backup_spark.operators.policies import Policy

    pts = spark.createDataFrame(
        [("m", t, float(t)) for t in range(0, 6 * 3600, 600)],
        "metric string, ts long, value double",
    ).select("metric", F.col("ts").cast("timestamp").alias("ts"), "value")
    eng = Engine(
        spark,
        str(tmp_path / "shift_store"),
        policies=[Policy(name="h", pattern=".*", steps=(3600,), agg="max")],
    )
    eng.write(pts)
    lo, hi = 4 * 3600, 6 * 3600
    got = {r.bucket_ts: r.value
           for r in eng.render("timeShift(m, '2h')", lo, hi).collect()}
    # hourly MAX of values = t; slot h holds max t in [h, h+3600) = h+3000
    # timeShift('2h') = two hours into the past, plotted at render slots
    want = {h: float(h - 2 * 3600 + 3000) for h in range(lo, hi + 1, 3600)
            if h - 2 * 3600 + 3000 < 6 * 3600}
    assert got == want


def test_request_level_xfilesfactor_default(spark):
    """render(x_files_factor=…) is graphite's request-level
    &xFilesFactor= default: optional xFilesFactor parameters left unset
    inherit it; explicit per-call values win; required xFilesFactor
    positions (the hint functions) are never auto-filled."""
    rows = [
        ("a.x", 0, 1.0), ("a.x", 60, 2.0), ("a.x", 120, None),
        ("a.y", 0, 3.0), ("a.y", 60, None), ("a.y", 120, None),
    ]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    def fetch(glob):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        return base.where(F.col("metric").rlike(glob_to_regex(glob)))

    # aggregate inherits the request default (xff=1.0 → slot 60 gaps)
    got = {r.bucket_ts: r.value for r in render(
        "aggregate(a.*, 'sum')", fetch, x_files_factor=1.0).collect()}
    assert got == {0: 4.0, 60: None, 120: None}
    # explicit per-call value wins over the request default
    over = {r.bucket_ts: r.value for r in render(
        "aggregate(a.*, 'sum', 0.5)", fetch, x_files_factor=1.0).collect()}
    assert over == {0: 4.0, 60: 2.0, 120: None}
    # removeEmptySeries inherits (xff=0.5: a.x is 2/3 populated → kept,
    # a.y is 1/3 → dropped)
    kept = {r.metric for r in render(
        "removeEmptySeries(a.*)", fetch, x_files_factor=0.5)
        .select("metric").distinct().collect()}
    assert kept == {"a.x"}
    # moving family inherits: windowSize positional, xff padded in
    mv = {(r.metric, r.bucket_ts): r.value for r in render(
        "movingSum(a.*, 2)", fetch, x_files_factor=1.0).collect()}
    # a.x slot 120: window {1.0, 2.0} full → 3.0; a.y slot 120: window
    # {3.0, None} fails xff=1.0 → gap
    assert mv[("a.x", 120)] == 3.0
    assert mv[("a.y", 120)] is None
    # the REQUIRED xFilesFactor positions (hint functions) still demand
    # their argument — the default never auto-fills them
    with pytest.raises((ValueError, IndexError)):
        render("xFilesFactor(a.*)", fetch, x_files_factor=0.5)
    # consolidation: the request default reaches maxDataPoints when no
    # series-level hint is set — the band containing the gap slot gaps
    # out under xff=1.0 and keeps its average without it
    vals = [1.0, 2.0, 3.0, None, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    wide = spark.createDataFrame(
        [("b.z", 60 * i, v) for i, v in enumerate(vals)],
        "metric string, bucket_ts long, value double",
    )

    def fetch_wide(glob):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        return wide.where(F.col("metric").rlike(glob_to_regex(glob)))

    cp = {r.bucket_ts: r.value for r in render(
        "b.z", fetch_wide, max_data_points=5, x_files_factor=1.0
    ).collect()}
    cp0 = {r.bucket_ts: r.value for r in render(
        "b.z", fetch_wide, max_data_points=5).collect()}
    assert cp[120] is None and cp0[120] == 3.0
    assert cp[240] == cp0[240] == 5.5


def test_resolve_kwargs_matches_python_binding():
    """Property: _resolve_kwargs implements Python's binding rules over
    every _KW_PARAMS spec — each resolved position equals what
    inspect.Signature.bind produces for the same call (variadic specs
    behave as a positional-or-keyword slot taking one value; required
    markers bind like parameters without defaults). Error cases
    (missing required, double-given, unknown name) must raise exactly
    when Python's bind raises."""
    import inspect
    import itertools
    import random

    from kenshin_backup_spark.render import (
        _KW_PARAMS,
        _Required,
        _Variadic,
        _resolve_kwargs,
    )

    rng = random.Random(20260815)
    _MISS = object()  # required-after-default (asPercent's total,nodes):
    # Python signatures can't express it, so those get a sentinel
    # default — it can never leak into a compared position because the
    # resolver's output stops at the last provided index
    for name, params in sorted(_KW_PARAMS.items()):
        sig_params, seen_default = [], False
        for pname, pdefault in params:
            required = pdefault in (_Required, _Variadic)
            if required and seen_default:
                default = _MISS
            elif required:
                default = inspect.Parameter.empty
            else:
                default = pdefault
                seen_default = True
            sig_params.append(inspect.Parameter(
                pname, inspect.Parameter.POSITIONAL_OR_KEYWORD,
                default=default,
            ))
        sig = inspect.Signature(sig_params)
        names = [p for p, _ in params]
        for trial in range(20):
            n_pos = rng.randint(0, len(params))
            pos = list(range(100, 100 + n_pos))
            kw_pool = [p for p in names]
            kw_names = rng.sample(kw_pool, rng.randint(0, len(kw_pool)))
            kwargs = {k: 200 + i for i, k in enumerate(kw_names)}
            if rng.random() < 0.15:
                kwargs["zzz_bogus"] = 1
            try:
                bound = sig.bind(*pos, **kwargs)
                py_ok = True
            except TypeError:
                py_ok = False
            try:
                resolved = _resolve_kwargs(name, pos, kwargs)
                ours_ok = True
            except ValueError:
                ours_ok = False
            if not py_ok:
                if ours_ok:
                    # the resolver is a kwarg FOLDER, not an arity
                    # validator: python's bind failure must be ONLY
                    # missing required params OUTSIDE the padding range
                    # (the registry lambdas enforce those) — never an
                    # unknown name, a duplicate, or a required gap the
                    # padding had to cross
                    pad_hi = max(
                        (names.index(k) for k in kwargs if k in names),
                        default=-1,
                    )
                    assert "zzz_bogus" not in kwargs, (name, pos, kwargs)
                    assert all(
                        names.index(k) >= len(pos)
                        for k in kwargs if k in names
                    ), (name, pos, kwargs)
                    for i, (p, d) in enumerate(params):
                        if (
                            d in (_Required, _Variadic)
                            and i >= len(pos)
                            and p not in kwargs
                        ):
                            assert i > pad_hi, (name, pos, kwargs)
                continue
            if not ours_ok:
                # the one divergence we allow: python tolerates a
                # missing tail REQUIRED param at bind time only when it
                # was never needed for padding — our resolver raises
                # when padding past it. Verify that's the case.
                missing = [
                    i for i, (p, d) in enumerate(params)
                    if d in (_Required, _Variadic)
                    and i >= len(pos) and p not in kwargs
                ]
                needed = [names.index(k) for k in kwargs if k in names]
                assert missing and needed and max(needed) > min(missing), (
                    name, pos, kwargs)
                continue
            bound.apply_defaults()
            expect = [bound.arguments[p] for p, _ in params]
            assert resolved == expect[:len(resolved)], (name, pos, kwargs)
            # everything past the resolved tail must be pure defaults
            for i in range(len(resolved), len(params)):
                pname, pdefault = params[i]
                assert pname not in kwargs, (name, pos, kwargs)


def test_aliases_and_multiarg_combines(spark):
    """graphite short aliases (sum/avg/pct/log) share their target's
    evaluator, and the combine family accepts *seriesLists — several
    series expressions union before combining."""
    fetch = _fetch_fn(spark)
    pairs = [
        ("sum(cpu.*)", "sumSeries(cpu.*)"),
        ("avg(cpu.*)", "averageSeries(cpu.*)"),
        ("pct(cpu.load, 8)", "asPercent(cpu.load, 8)"),
        ("log(mem.used, 2)", "logarithm(mem.used, 2)"),
        ("pct(cpu.load, total=8)", "asPercent(cpu.load, 8)"),
        # *seriesLists: two expressions == one brace glob
        ("sumSeries(cpu.load, cpu.idle)", "sumSeries({cpu.load,cpu.idle})"),
        ("maxSeries(cpu.load, mem.used)", "maxSeries({cpu.load,mem.used})"),
        ("countSeries(cpu.*, mem.used)", "countSeries({cpu,mem}.*)"),
        ("sum(cpu.load, mem.used)", "sumSeries({cpu.load,mem.used})"),
    ]
    for a_t, b_t in pairs:
        a = sorted(map(tuple, render(a_t, fetch).collect()))
        b = sorted(map(tuple, render(b_t, fetch).collect()))
        assert a == b, a_t
    assert "sum" in SUPPORTED_FUNCTIONS and "pct" in SUPPORTED_FUNCTIONS


def test_alias_preserves_consolidation_hint(spark):
    """log() must carry a consolidateBy hint exactly like logarithm()
    (aliases normalize before the hint rail — r10 review fix)."""
    rows = [("c.m", 60 * i, float(2 ** i)) for i in range(8)]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    def fetch(glob):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        return base.where(F.col("metric").rlike(glob_to_regex(glob)))

    a = sorted(map(tuple, render(
        "log(consolidateBy(c.m, 'max'), 2)", fetch, max_data_points=2,
    ).collect()))
    b = sorted(map(tuple, render(
        "logarithm(consolidateBy(c.m, 'max'), 2)", fetch, max_data_points=2,
    ).collect()))
    assert a == b and a


def test_scientific_notation_numbers(spark):
    """graphite's grammar accepts scientific-notation numbers
    (grammar.py sciNumber: (float|int) 'e' int, exponent sign '-' only)
    — found by the r11 extended fuzz: maximumBelow(x, 9e9) was a parse
    error. Sci numbers are floats, like graphite's."""
    from kenshin_backup_spark.render import _Parser, _tokenize

    ast = _Parser(_tokenize("scale(cpu.*, 1e3)")).parse()
    assert ast == ("call", "scale", [("leaf", "cpu.*"), ("num", 1000.0)])
    ast = _Parser(_tokenize("offset(cpu.*, -2.5e-2)")).parse()
    assert ast[2][1] == ("num", -0.025)

    fetch = _fetch_fn(spark)
    rows = render("maximumBelow(cpu.*, 9e9)", fetch).collect()
    assert rows  # everything is below 9e9 — nothing filtered
    sc = {(r.metric, r.bucket_ts): r.value
          for r in render("scale(mem.used, 1e2)", fetch).collect()}
    base = {(r.metric, r.bucket_ts): r.value
            for r in render("scale(mem.used, 100)", fetch).collect()}
    assert sc == base


def test_combine_boundaries_reset_sort_bookkeeping(spark):
    """Frame-combining functions must accept a sortBy*-decorated branch
    next to a plain one (r11 fuzz find: the __series_order bookkeeping
    column crashed unionByName with a schema mismatch). group()/unique()
    now carry graphite's concatenation order across the boundary (see
    test_group_unique_concat_order); at the OTHER combine boundaries
    (aggregations, fallbackSeries) the rank resets — documented; the
    sort-then-limit idiom wraps the sort directly and keeps composing."""
    fetch = _fetch_fn(spark)
    for t in (
        "group(sortByMaxima(cpu.*), mem.used)",
        "sumSeries(sortByTotal(cpu.*), mem.used)",
        "unique(sortByMaxima(cpu.*), mem.used)",
        "fallbackSeries(sortByMaxima(cpu.*), constantLine(1))",
        # fallback branch taken: primary sorted-then-emptied
        "fallbackSeries(sortByMaxima(exclude(cpu.*, '.')), constantLine(1))",
    ):
        df = render(t, fetch, from_ts=0, until_ts=600)
        assert set(df.columns) == {"metric", "bucket_ts", "value"}, t
        df.collect()
    # the sort-then-limit idiom is unaffected by the boundary reset
    lim = render("limit(sortByMaxima(cpu.*), 1)", fetch).collect()
    mx = render("sortByMaxima(cpu.*)", fetch).collect()
    best = max(
        {r.metric for r in mx},
        key=lambda m: max(r.value for r in mx if r.metric == m
                          and r.value is not None),
    )
    assert {r.metric for r in lim} == {best}


def test_keep_last_value_limit_duplicate_timestamps(spark):
    """keepLastValue(limit) over a frame with duplicate (metric,
    bucket_ts) rows — graphite's group(x, x) produces the same series
    twice — must not divide by zero estimating the slot step (r11 fuzz
    find: the min step diff included the duplicates' 0). The fill
    values must match the single-series form slot-for-slot."""
    fetch = _fetch_fn(spark)
    dup = render("keepLastValue(group(cpu.*, cpu.*), 2)", fetch).collect()
    one = {
        (r.metric, r.bucket_ts): r.value
        for r in render("keepLastValue(cpu.*, 2)", fetch).collect()
    }
    assert dup
    for r in dup:
        assert r.value == one[(r.metric, r.bucket_ts)], (r.metric, r.bucket_ts)


def test_series_step_duplicate_timestamps(spark):
    """Every _series_step consumer must survive duplicate (metric,
    bucket_ts) rows — graphite's group(x, x) — without the ANSI
    DIVIDE_BY_ZERO the plain-min step estimate produced (r11 fuzz,
    second wave: interpolate(limit), perSecond, integralByInterval,
    holtWinters' season fold)."""
    fetch = _fetch_fn(spark)
    for t in (
        "interpolate(group(mem.used, mem.used), 2)",
        "perSecond(group(mem.used, mem.used))",
        "integralByInterval(group(mem.used, mem.used), '1h')",
        "holtWintersForecast(areaBetween(log(mem.used, 2), log(mem.used, 2)))",
    ):
        out = render(t, fetch, from_ts=0, until_ts=600).collect()
        assert out, t


def test_average_outside_percentile_all_gap_band(spark):
    """averageOutsidePercentile over an all-gap input must not crash on
    the empty percentile band (r11-judge fresh-seed fuzz find:
    element_at on the empty collect_list of per-series means threw
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT under ANSI). graphite parity:
    _getPercentile returns None on an empty list and the py2 chained
    compare keeps EVERY series when any operand is None — so all-gap
    series survive, with and without a real band."""
    fetch = _fetch_fn(spark)
    # the judge's minimal repro: every series all-gap → empty band
    rows = render(
        "averageOutsidePercentile(removeBelowValue(mem.used, 9e9), 90)",
        fetch,
    ).collect()
    assert {r.metric for r in rows} == {"mem.used"}
    assert all(r.value is None for r in rows)
    # the original fuzz composition parses and evaluates too
    render(
        "averageOutsidePercentile(limit(legendValue(removeBelowValue("
        "rangeOfSeries(mem.used), 1), valueTypes='avg'), 5), 90)",
        fetch,
    ).collect()
    # mixed case: a real band exists AND one series is all-gap — the
    # NULL-mean series is kept (graphite: low < None is False in py2)
    mixed = render(
        "averageOutsidePercentile(group(cpu.*, removeBelowValue("
        "mem.used, 9e9)), 90)",
        fetch,
    ).collect()
    kept = {r.metric for r in mixed}
    assert "mem.used" in kept
    # band over means {29/6, 29/6-ish…}: both cpu series sit on the
    # 2-element band edges (NIST rank clamps) → everything kept here;
    # the non-degenerate selection semantics are pinned in
    # test_wave2_average_outside_percentile_and_group
    assert {"cpu.load", "cpu.idle"} <= kept


def test_remove_between_percentile_all_gap_bucket(spark):
    """removeBetweenPercentile must survive buckets where every series
    is a gap (empty per-bucket band — the same unguarded element_at
    pattern as averageOutsidePercentile, audited with the r12 fix)."""
    fetch = _fetch_fn(spark)
    # all-gap everywhere: no non-null point is ever "outside" → empty
    out = render(
        "removeBetweenPercentile(removeBelowValue(cpu.*, 9e9), 80)",
        fetch,
    ).collect()
    assert out == []
    # one all-gap bucket among real ones: must not crash, and the kept
    # set matches the plain form (the gap bucket contributes nothing)
    base = {r.metric for r in render(
        "removeBetweenPercentile(cpu.*, 80)", fetch).collect()}
    masked = {r.metric for r in render(
        "removeBetweenPercentile(timeSlice(cpu.*, '1h', '6h'), 80)",
        fetch,
    ).collect()}
    # the gap bucket contributes nothing, so the kept set is a subset
    # of the plain form (ADVICE r12: the old `<= base or masked` form
    # was a tautology)
    assert masked <= base


def test_group_unique_concat_order(spark):
    """group()/unique() carry graphite's CONCATENATION order through the
    union (ADVICE r11): branch index first, each branch's own sortBy*
    rank (name order for unsorted branches) within it — so
    limit(group(sortBy(a), b), n) selects graphite's first n, not the
    union's name order. Fixture maxima: cpu.load 8, cpu.idle 9,
    mem.used 5."""
    fetch = _fetch_fn(spark)
    # within-branch sortBy rank survives: sortBy('max') ascending puts
    # cpu.load (8) before cpu.idle (9) — name order would pick cpu.idle
    got = {r.metric for r in render(
        "limit(group(sortBy(cpu.*, 'max'), mem.used), 1)", fetch
    ).collect()}
    assert got == {"cpu.load"}
    # branch priority: the first list's series come first even when a
    # later branch sorts earlier by name
    got = {r.metric for r in render(
        "limit(group(mem.used, sortByMaxima(cpu.*)), 1)", fetch
    ).collect()}
    assert got == {"mem.used"}
    got = {r.metric for r in render(
        "limit(group(mem.used, sortByMaxima(cpu.*)), 2)", fetch
    ).collect()}
    assert got == {"mem.used", "cpu.idle"}
    # unique: first occurrence wins (keep rule == order rule)
    got = {r.metric for r in render(
        "limit(unique(mem.used, cpu.*, mem.used), 1)", fetch
    ).collect()}
    assert got == {"mem.used"}
    # duplicate name across group branches: first occurrence keys the
    # order, rows stay duplicated (graphite's list holds it twice)
    rows = render(
        "limit(group(mem.used, mem.used, cpu.*), 1)", fetch
    ).collect()
    assert {r.metric for r in rows} == {"mem.used"}
    assert len(rows) == 12  # 6 slots × the two branch copies


def test_group_by_node_full_kernel_set(spark):
    """groupByNode / groupByNodes / groupByTags accept graphite's full
    aggFuncName set (r12 fuzz find: 'median' was a loud 4-kernel
    reject). The fast sum/avg/max/min path is untouched; the rest routes
    through _combine_grouped's quantized kernels."""
    fetch = _fetch_fn(spark)
    med = {r.bucket_ts: r.value for r in render(
        "groupByNode(cpu.*, 0, 'median')", fetch).collect()}
    # cpu.load [1,4,2,8,5,3] ∥ cpu.idle [9,6,7,1,2,4] → pairwise medians
    assert med == {0: 5.0, 3600: 5.0, 7200: 4.5, 10800: 4.5,
                   14400: 3.5, 18000: 3.5}
    rng = {r.bucket_ts: r.value for r in render(
        "groupByNodes(cpu.*, 'range', 0)", fetch).collect()}
    assert rng == {0: 8.0, 3600: 2.0, 7200: 5.0, 10800: 7.0,
                   14400: 3.0, 18000: 1.0}
    cnt = {r.value for r in render(
        "groupByNode(cpu.*, 0, 'count')", fetch).collect()}
    assert cnt == {2.0}
    # metric name stays the selected node
    assert {r.metric for r in render(
        "groupByNode(cpu.*, 0, 'median')", fetch).collect()} == {"cpu"}
    # order-dependent kernels follow the documented name-order stand-in:
    # safeLast = the lexically-last member's non-gap value, safeDiff =
    # first minus the rest (cpu.idle sorts first, cpu.load last)
    last = {r.bucket_ts: r.value for r in render(
        "groupByNode(cpu.*, 0, 'last')", fetch).collect()}
    assert last == {0: 1.0, 3600: 4.0, 7200: 2.0, 10800: 8.0,
                    14400: 5.0, 18000: 3.0}
    diff = {r.bucket_ts: r.value for r in render(
        "groupByNode(cpu.*, 0, 'diff')", fetch).collect()}
    assert diff == {0: 8.0, 3600: 2.0, 7200: 5.0, 10800: -7.0,
                    14400: -3.0, 18000: 1.0}
    # unknown kernels stay loud
    with pytest.raises(ValueError, match="nosuch"):
        render("groupByNode(cpu.*, 0, 'nosuch')", fetch).collect()


def test_stdev_overflow_gaps_not_crash(spark):
    """The Σq² second-moment DECIMAL(38,0) sums must GAP (try_sum →
    NULL), not raise ANSI ARITHMETIC_OVERFLOW, when an upstream function
    escalates magnitudes past the quantized envelope (r12 fuzz find:
    stddevSeries over the product of two 1e12-scaled series — each
    saturated q² is ~8.5e37, two of them overflow the decimal sum).
    graphite degrades to float imprecision there; we degrade to a gap —
    documented deviation. In-envelope results are bit-identical."""
    fetch = _fetch_fn(spark)
    big = ("multiplySeriesLists(scale({cpu,mem}.*, 1e12), "
           "scale({cpu,mem}.*, 1e12))")
    out = render(f"stddevSeries({big})", fetch).collect()
    assert out and all(r.value is None for r in out)
    # per-series moment (mostDeviant/stdev ranking) and the sortBy key
    # path survive the same inputs
    dev = render(f"mostDeviant({big}, 2)", fetch).collect()
    assert len({r.metric for r in dev}) == 2
    render(f"highest({big}, 1, 'stddev')", fetch).collect()
    render(f"groupByNode({big}, 0, 'stddev')", fetch).collect()
    render(f"stdev({big}, 3)", fetch).collect()
    # in-envelope stdev still computes real numbers (no behavior change)
    sd = {r.value for r in render(
        "stddevSeries(scale(mem.used, 1e9))", fetch).collect()}
    assert sd == {0.0}  # constant series → zero deviation, not NULL


def test_aliasquery_tagged_requery_and_empty_set(spark):
    """The two r12-judge fresh-seed fuzz finds, pinned (VERDICT r12):

    1. TAGGED-NAME re-query — aliasQuery rebuilds a target string from
       each input series NAME and re-parses it, so a graphite-1.1
       tagged name (``req;dc=east;app=a`` — exactly what seriesByTag
       yields) must be a parseable leaf. The glob token now carries
       ``;tag=value`` suffixes and the bare tagged name resolves as an
       exact-match fetch (graphite's tagdb resolves it directly).
    2. EMPTY SERIES SET — aliasQuery over an empty input returns the
       empty frame like graphite's empty list; a zero-entry
       ``create_map`` would type as map<void,void> and fail analysis.
    """
    # tokenizer: a bare tagged name is ONE leaf token
    ast = _Parser(_tokenize("mem.used;dc=east;app=a")).parse()
    assert ast == ("leaf", "mem.used;dc=east;app=a")
    # ... and keyword arguments still tokenize as glob '=' value
    kw = _Parser(_tokenize("summarize(m, '1h', alignToFrom=true)")).parse()
    assert kw[2][2] == ("kw", "alignToFrom", ("bool", True))

    rows = [
        ("req;dc=east;app=a", 0, 1.0),
        ("req;dc=east;app=a", 3600, 2.0),
        ("req;dc=east;app=a", 7200, 7.0),
        ("req;dc=east;app=b", 0, 3.0),
        ("req;dc=east;app=b", 3600, None),
        ("req;dc=east;app=b", 7200, 4.0),
        ("mem.used", 0, 5.0),
        ("mem.used", 3600, 5.0),
    ]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    def fetch(glob):
        # the Engine contract: None → whole catalog (seriesByTag);
        # glob-free → exact match (how a tagged leaf resolves)
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        if glob is None:
            return base
        if not any(ch in glob for ch in "*?{["):
            return base.where(F.col("metric") == glob)
        return base.where(F.col("metric").rlike(glob_to_regex(glob)))

    # judge repro 1: search matches nothing → the re-query IS the
    # tagged name; last non-gap values 7 and 4 sprintf into newName
    out = render(
        "squareRoot(aliasQuery(seriesByTag('dc=east'), "
        "'used', 'used', 'same %d'))",
        fetch,
    ).collect()
    assert {r.metric for r in out} == {"same 7", "same 4"}
    got = {(r.metric, r.bucket_ts): r.value for r in out}
    assert got[("same 7", 7200)] == pytest.approx(7.0 ** 0.5)
    assert got[("same 4", 3600)] is None  # gaps stay gaps

    # a bare tagged name is a valid render target on its own
    direct = render("req;dc=east;app=b", fetch).collect()
    assert sorted((r.bucket_ts, r.value) for r in direct) == [
        (0, 3.0), (3600, None), (7200, 4.0)
    ]

    # judge repro 2: empty input set → empty output, no analysis error
    empty = render(
        "dashed(keepLastValue(aliasQuery(exclude(mem.used, '.'), "
        "'used', 'used', 'same %d'), 2))",
        fetch,
    ).collect()
    assert empty == []


def test_empty_target_raises_a_named_error(spark):
    """An empty target is a named error, not the parser's internal
    ``expected None, got None``. aliasQuery builds one from a series
    named '' (sumSeriesWithWildcards over tagged names at node 0; fuzz
    seed 61843 case 625)."""
    base = spark.createDataFrame(
        [("req;dc=east;app=a", 0, 1.0), ("req;dc=east;app=b", 0, 3.0)],
        "metric string, bucket_ts long, value double",
    )
    with pytest.raises(ValueError, match="render: empty target expression"):
        render(
            "aliasQuery(sumSeriesWithWildcards(seriesByTag('dc=east'), 0), "
            "'used', 'used', 'same %d')",
            lambda glob: base,
        ).collect()
    for target in ("", "  "):
        with pytest.raises(ValueError, match="empty target expression"):
            _Parser(_tokenize(target)).parse()


def test_negative_node_indices(spark):
    """graphite's node arguments are PYTHON list indices (aggKey does
    parts[node]), so negatives count from the end — aliasByNode(x, -1)
    renames to the LAST name component, a staple of real dashboards.
    The old n+1 mapping sent -1 to the always-invalid element_at(arr, 0)
    (r13 probe find). Positive-node expressions are unchanged;
    out-of-range indices stay loud on both engines (python IndexError ↔
    ANSI INVALID_ARRAY_INDEX)."""
    rows = [("svc.cpu.load", 0, 1.0), ("svc.cpu.idle", 0, 2.0),
            ("app.mem.load", 0, 4.0)]
    base = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )

    def fetch(glob):
        from kenshin_backup_spark.functions.deterministic import glob_to_regex
        return base.where(F.col("metric").rlike(glob_to_regex(glob)))

    got = sorted({r.metric for r in render(
        "aliasByNode(*.*.*, -1)", fetch).collect()})
    assert got == ["idle", "load"]
    summed = sorted((r.metric, r.value) for r in render(
        "groupByNode(*.*.*, -1, 'sum')", fetch).collect())
    assert summed == [("idle", 2.0), ("load", 5.0)]
    mixed = sorted({r.metric for r in render(
        "aliasByNode(*.*.*, 0, -2)", fetch).collect()})
    assert mixed == ["app.mem", "svc.cpu"]
    multi = sorted((r.metric, r.value) for r in render(
        "groupByNodes(*.*.*, 'max', -1, 0)", fetch).collect())
    assert multi == [("idle.svc", 2.0), ("load.app", 4.0),
                     ("load.svc", 1.0)]
    # out-of-range stays loud, like graphite's IndexError
    with pytest.raises(Exception):
        render("aliasByNode(*.*.*, 9)", fetch).collect()
    # asPercent's node grouping takes the same python indices
    asp = sorted((r.metric, round(r.value, 6)) for r in render(
        "asPercent(*.*.*, None, -1)", fetch).collect())
    assert asp == [("app.mem.load", 80.0), ("svc.cpu.idle", 100.0),
                   ("svc.cpu.load", 20.0)]
    # applyByNode: prefix = '.'.join(parts[:nodeNum+1]) — python slice,
    # so -2 drops the last component (graphite parity; F.slice rejects
    # a negative length, the render layer derives it from size)
    abn = sorted((r.metric, r.value) for r in render(
        "applyByNode(*.*.*, -2, 'sumSeries(%.*)')", fetch).collect())
    assert abn == [("sumSeries", 3.0), ("sumSeries", 4.0)]
    # ... and over a DOTLESS name the prefix is EMPTY, so the template
    # yields 'sumSeries(.*)' — a leading-dot glob is a valid leaf that
    # fetches nothing (graphite's permissive grammar + empty finder),
    # never a tokenizer error (r13 fuzz find, seed 777001)
    ast = _Parser(_tokenize("sumSeries(.*)")).parse()
    assert ast == ("call", "sumSeries", [("leaf", ".*")])
    dotless = spark.createDataFrame(
        [("req", 0, 1.0)], "metric string, bucket_ts long, value double"
    )

    def fetch_dotless(glob):
        from kenshin_backup_spark.functions.deterministic import (
            glob_to_regex,
        )
        if glob is None:
            return dotless
        if not any(ch in glob for ch in "*?{["):
            return dotless.where(F.col("metric") == glob)
        return dotless.where(F.col("metric").rlike(glob_to_regex(glob)))

    assert render(
        "applyByNode(req, -2, 'sumSeries(%.*)')", fetch_dotless
    ).collect() == []


def test_timestack_empty_shift_range(spark):
    """timeStack with start >= end: graphite's range(start, end) is
    empty, so it returns the empty list — not an error (r13
    loud-to-empty parity, same class as aliasQuery/applyByNode over
    empty sets)."""
    fetch = _fetch_fn(spark)
    assert render(
        "timeStack(cpu.*, '1d', 0, 0)", fetch, from_ts=0, until_ts=3600
    ).collect() == []
    assert render(
        "timeStack(cpu.*, '1d', 3, 1)", fetch, from_ts=0, until_ts=3600
    ).collect() == []
    # the normal stacked form still stacks
    assert render(
        "timeStack(cpu.*, '1d', 0, 2)", fetch, from_ts=0, until_ts=3600
    ).collect()


def test_max_data_points_zero_is_no_op(spark):
    """graphite's renderView gates consolidation on `if maxDataPoints:`
    — a 0 (or negative) request value is falsy and means NO
    consolidation, not an error (r13 parity). The kernel itself stays
    loud on a direct < 1 call."""
    fetch = _fetch_fn(spark)
    plain = sorted(map(tuple, render("cpu.*", fetch).collect()))
    zeroed = sorted(map(tuple, render(
        "cpu.*", fetch, max_data_points=0).collect()))
    assert zeroed == plain
    neg = sorted(map(tuple, render(
        "cpu.*", fetch, max_data_points=-5).collect()))
    assert neg == plain
    with pytest.raises(ValueError, match="maxDataPoints"):
        sf.consolidate_points(fetch("cpu.*"), 0)


def test_bare_number_target_is_a_path(spark):
    """graphite's grammar has no top-level scalar: a whole target that
    is a bare number is a pathExpression fetched as a METRIC NAME.
    constantLine names its series by value ("4.0"), so aliasQuery's
    re-query rail rebuilds exactly such targets — the leaf fetches
    nothing and aliasQuery raises graphite's 'No series found' (r13
    fuzz find, seed 999003; the old parser errored with 'expected
    expression' before the fetch). Argument-position numbers are
    unaffected."""
    fetch = _fetch_fn(spark)
    ast = _Parser(_tokenize("4.0")).parse()
    assert ast == ("leaf", "4.0")
    assert render("42", fetch).collect() == []
    with pytest.raises(ValueError, match="no series found with query"):
        render(
            "aliasQuery(scale(constantLine(4), -1e12), 'cpu', 'nope', "
            "'x %d')",
            fetch, from_ts=0, until_ts=3600,
        )
    # argument numbers still parse as scalars
    assert _Parser(_tokenize("scale(a.b, 4.0)")).parse() == (
        "call", "scale", [("leaf", "a.b"), ("num", 4.0)]
    )


def test_negative_prefix_nodes_apply_reduce(spark):
    """ADVICE r13, both mediums, pinned:

    1. applyByNode(x, -1, ...): graphite's prefix is
       ``'.'.join(parts[:nodeNum+1])`` = ``parts[:0]`` = the EMPTY
       string — ONE re-evaluation with '%' substituted by ''. The old
       ``node_num >= 0`` branch sent -1 to the size-derived slice and
       templated the WHOLE name (three evaluations here).
    2. reduceSeries(x, fn, -1, ...): graphite's group key is
       ``'.'.join(nodes[0:reduceNode])`` — a negative reduceNode drops
       components from the end. The old code passed the negative value
       as F.slice's LENGTH, a runtime error.
    """
    from kenshin_backup_spark.functions.deterministic import glob_to_regex

    rows = [
        ("srv.s1.disk.used", 0, 30.0), ("srv.s1.disk.total", 0, 100.0),
        ("srv.s2.disk.used", 0, 10.0), ("srv.s2.disk.total", 0, 40.0),
        ("srv.s1.disk.used", 60, 50.0), ("srv.s1.disk.total", 60, 100.0),
        ("srv.s3.disk.used", 0, 7.0),  # no total → group drops (graphite)
    ]
    df = spark.createDataFrame(
        rows, "metric string, bucket_ts long, value double"
    )
    fetch = lambda g: df.where(  # noqa: E731
        F.col("metric").rlike(glob_to_regex(g)))

    # -1 → the -1 leg of reduceSeries matches node 3's answer exactly
    # (4-part names: nodes[0:-1] == nodes[0:3])
    red = render(
        "reduceSeries(mapSeries(srv.*.disk.*, 1), 'asPercent', -1, "
        "'used', 'total')",
        fetch,
    )
    got = sorted((r.metric, r.bucket_ts, r.value) for r in red.collect())
    assert got == [
        ("srv.s1.disk", 0, 30.0), ("srv.s1.disk", 60, 50.0),
        ("srv.s2.disk", 0, 25.0),
    ]
    # deeper-negative group key: nodes[0:-2] == nodes[0:2]
    d2 = render(
        "reduceSeries(srv.*.{used,total}.*, 'divideSeries', -2, "
        "'used', 'total')",
        lambda g: spark.createDataFrame(
            [("srv.s1.used.disk", 0, 30.0),
             ("srv.s1.total.disk", 0, 100.0)],
            "metric string, bucket_ts long, value double",
        ).where(F.col("metric").rlike(glob_to_regex(g))),
    ).collect()
    assert [(r.metric, r.bucket_ts, r.value) for r in d2] == [
        ("srv.s1", 0, 0.3)
    ]

    # applyByNode -1 → EMPTY prefix → exactly ONE re-evaluation
    ab = render(
        "applyByNode(srv.*.disk.used, -1, 'sumSeries(%srv.*.disk.used)', "
        "'%all.used')",
        fetch,
    )
    agot = sorted((r.metric, r.bucket_ts, r.value) for r in ab.collect())
    assert agot == [("all.used", 0, 47.0), ("all.used", 60, 50.0)]


def test_loud_parity_reduce_apply_degenerate_names(spark):
    """r14 fuzz finds, pinned as GRAPHITE-PARITY LOUD (not bugs):

    1. reduceSeries with an out-of-range reduceNode — a dotless
       graphite-1.1 tagged name splits to ONE part, so graphite's
       ``nodes[1]`` / ``nodes[-2]`` raise IndexError; the engine's ANSI
       element_at raises INVALID_ARRAY_INDEX on the same input (the
       aliasByNode(x, 9) contract). ``nodes[-1]`` does NOT raise in
       python — and must not here: it yields the whole name, matches
       neither matcher, and the result is EMPTY.
    2. applyByNode over function-generated names containing parens
       (sumSeriesLists' 'sumSeries(a,b)'): the prefix substitution
       yields an unbalanced template and graphite's evaluateTarget
       re-parse raises the same way.
    """
    from kenshin_backup_spark.functions.deterministic import glob_to_regex

    tagged = spark.createDataFrame(
        [("req;dc=east;app=a", 0, 1.0), ("req;dc=east;app=b", 0, 2.0)],
        "metric string, bucket_ts long, value double",
    )

    def fetch(glob):
        if glob is None:
            return tagged
        if not any(ch in glob for ch in "*?{["):
            return tagged.where(F.col("metric") == glob)
        return tagged.where(F.col("metric").rlike(glob_to_regex(glob)))

    # out-of-range node → loud, like python's IndexError
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        render(
            "reduceSeries(seriesByTag('dc=east'), 'diffSeries', 1, "
            "'used', 'total')", fetch,
        ).collect()
    with pytest.raises(Exception, match="INVALID_ARRAY_INDEX"):
        render(
            "reduceSeries(seriesByTag('dc=east'), 'asPercent', -2, "
            "'used', 'total')", fetch,
        ).collect()
    # -1 is IN range for a 1-part name (python nodes[-1]) → empty, quiet
    assert render(
        "reduceSeries(seriesByTag('dc=east'), 'asPercent', -1, "
        "'used', 'total')", fetch,
    ).collect() == []

    # paren-bearing generated name → template re-parse fails loudly,
    # matching graphite's evaluateTarget ParseError class
    plain = spark.createDataFrame(
        [("mem.used", 0, 5.0)], "metric string, bucket_ts long, value double"
    )

    def fetch2(glob):
        if not any(ch in glob for ch in "*?{["):
            return plain.where(F.col("metric") == glob)
        return plain.where(F.col("metric").rlike(glob_to_regex(glob)))

    with pytest.raises(ValueError, match="expected rparen"):
        render(
            "applyByNode(sumSeriesLists(mem.used, mem.used), 0, "
            "'sumSeries(%)', 'total.%')", fetch2,
        ).collect()
    # ... same re-query-rail class for SPACE-bearing display aliases
    # (aliasQuery re-parses 'a b' — graphite's evaluateTarget resolves
    # only the leading token and its aliasQuery raises 'No series
    # found'; loud on both engines) and for timeStack's generated
    # 'timeShift(x, -1d, 0)' names (unquoted interval — not a valid
    # target on either parser). r14 fuzz seed 880014.
    with pytest.raises(ValueError, match="trailing input"):
        render(
            "aliasQuery(alias(mem.used, 'a b'), 'a', 'a', 'n %d')",
            fetch2,
        ).collect()
    # (the Engine refetch rail's '-1d' names hit 'bad token'; the bare
    # render fallback's re-parse trips 'expected rparen' — same class)
    with pytest.raises(ValueError, match="bad token|expected rparen"):
        render(
            "applyByNode(timeStack(mem.used, '1d', 0, 2), 0, "
            "'sumSeries(%)', 'total.%')", fetch2,
            from_ts=0, until_ts=3600,
        ).collect()


def test_loud_parity_numeric_generated_names(spark):
    """r15 judge fuzz find (VERDICT r14 #1, seed 471103 case 550),
    pinned as GRAPHITE-PARITY LOUD: the re-query rail (applyByNode /
    aliasQuery) over a ``threshold()``/``constantLine()``-generated
    NUMERIC series name. ``threshold(3)`` names its series "3.0"; the
    node-0 prefix is "3" and the rebuilt target ``sumSeries(3)`` parses
    the bare number as a SCALAR argument → the combiner raises 'needs a
    series argument'. graphite raises on the same input: its
    evaluateTarget re-parse yields an int, sumSeries passes it to
    ``normalize()``, and ``[s.step for s in seriesList]`` raises
    TypeError (functions.py transcription — recorded in COVERAGE.md's
    loud-parity table). The fuzz whitelists exactly this class:
    ``(applyByNode|aliasQuery) × 'needs a series argument'`` anchored to
    a function-generated first argument."""
    from kenshin_backup_spark.functions.deterministic import glob_to_regex

    plain = spark.createDataFrame(
        [("mem.used", 0, 5.0), ("mem.used", 60, 7.0)],
        "metric string, bucket_ts long, value double",
    )

    def fetch(glob):
        if glob is None:
            return plain
        if not any(ch in glob for ch in "*?{["):
            return plain.where(F.col("metric") == glob)
        return plain.where(F.col("metric").rlike(glob_to_regex(glob)))

    # the judge's exact composition
    with pytest.raises(ValueError, match="needs a series argument"):
        render(
            "applyByNode(removeEmptySeries(threshold(3)), 0, "
            "'sumSeries(%)', 'total.%')",
            fetch, from_ts=0, until_ts=120,
        ).collect()
    # constantLine's bare numeric name hits the same rail class
    with pytest.raises(ValueError, match="needs a series argument"):
        render(
            "applyByNode(constantLine(2.5), 0, 'sumSeries(%)')",
            fetch, from_ts=0, until_ts=120,
        ).collect()


def test_loud_parity_events_generated_names(spark):
    """r15 builder probe find (the generator-base wave), pinned as
    GRAPHITE-PARITY LOUD: the re-query rail over an
    ``events(tag)``-generated name. The series is named
    "events(deploy)" — dotless, so the node-0 prefix is the whole name
    and the rail rebuilds ``sumSeries(events(deploy))`` (applyByNode)
    or re-queries ``events(deploy)`` (aliasQuery re-subs EVERY name,
    matching or not, like graphite). The re-parse reads the bare word
    ``deploy`` as a PATH expression, fetches it, and the engine's
    events() raises 'events takes only tag strings' on the series
    argument. graphite is loud on the same input: its evaluateTarget
    resolves ``deploy`` to a (possibly empty) seriesList and events'
    ``", ".join(tags)`` raises TypeError — render 500 (functions.py
    transcription recorded in COVERAGE.md). Whitelisted as
    ``(applyByNode|aliasQuery) × 'events takes only tag strings'``
    anchored to a function-generated first argument. ``events()`` with
    NO tags re-parses cleanly (name "events()") and stays QUIET — the
    same split as threshold's numeric name vs a parenless plain name."""
    from kenshin_backup_spark.functions.deterministic import glob_to_regex

    plain = spark.createDataFrame(
        [("mem.used", 0, 5.0), ("mem.used", 60, 7.0)],
        "metric string, bucket_ts long, value double",
    )

    def fetch(glob):
        if glob is None:
            return plain
        if not any(ch in glob for ch in "*?{["):
            return plain.where(F.col("metric") == glob)
        return plain.where(F.col("metric").rlike(glob_to_regex(glob)))

    def events_fn(tags):
        return spark.createDataFrame([(30,), (90,)], "when long")

    with pytest.raises(ValueError, match="events takes only tag strings"):
        render(
            "applyByNode(events('deploy'), 0, 'sumSeries(%)')",
            fetch, from_ts=0, until_ts=120, events_fn=events_fn,
        ).collect()
    with pytest.raises(ValueError, match="events takes only tag strings"):
        render(
            "aliasQuery(events('deploy'), 'x', 'x', 'n %d')",
            fetch, from_ts=0, until_ts=120, events_fn=events_fn,
        ).collect()
    # the tagless name "events()" round-trips through the rail's
    # re-parse — quiet, full window back
    assert (
        render(
            "applyByNode(events(), 0, 'sumSeries(%)')",
            fetch, from_ts=0, until_ts=120, events_fn=events_fn,
        ).count()
        == 120
    )


def test_holt_winters_point_bound_is_loud(spark):
    """r15 engine guard (VERDICT r14 #2), DOCUMENTED DEVIATION: the
    holtWinters fold refuses series with more than
    ``seriesfns.HW_MAX_POINTS`` window points — graphite computes any
    length (slowly, in python); here one single task would own an O(n²)
    fold (~40 min at a per-second day grid, r14 deep-fuzz find). The
    guard checks ``size(__pts)`` BEFORE the fold, so the refusal is
    milliseconds with an actionable 'consolidate first' message. Below
    the bound the fold is untouched (byte-identical expression on the
    small branch)."""
    import time as _time

    # below the bound: folds normally
    small = spark.range(120).select(
        F.lit("cpu.load").alias("metric"),
        (F.col("id") * 60).alias("bucket_ts"),
        F.col("id").cast("double").alias("value"),
    )
    rows = sf.holt_winters_analysis(small).collect()
    assert len(rows) == 120

    # above the bound: loud, fast, names the series and the limit
    big = spark.range(sf.HW_MAX_POINTS + 1).select(
        F.lit("evt.sec").alias("metric"),
        F.col("id").alias("bucket_ts"),
        F.col("id").cast("double").alias("value"),
    )
    t0 = _time.time()
    with pytest.raises(Exception, match=r"holtWinters: series .*points > "):
        sf.holt_winters_analysis(big).collect()
    assert _time.time() - t0 < 60  # refusal is pre-fold, not post-stall

    # the whole family inherits the guard through the shared kernel
    with pytest.raises(Exception, match="holtWinters: series"):
        sf.holt_winters_confidence_bands(big).collect()
