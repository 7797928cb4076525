"""Unit tests for the graphite-web series-function catalog."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from kenshin_backup_spark.operators import seriesfns as S
from kenshin_backup_spark.render import _registry, render


def _series(spark, rows):
    return spark.createDataFrame(rows, "metric string, bucket_ts long, value double")


def _g(name, df, *scalars):
    """The render registry's graphite function ``name`` applied to one
    series frame (internal columns such as ``__series_order`` kept)."""
    return _registry()[name]([df], list(scalars))


def test_scale_offset_absolute_alias(spark):
    df = _series(spark, [("m", 0, -2.0), ("m", 60, 3.0)])
    out = S.alias_series(S.absolute(S.offset(S.scale(df, 2.0), 1.0)), "x")
    got = sorted((r["metric"], r["bucket_ts"], r["value"]) for r in out.collect())
    assert got == [("x", 0, 3.0), ("x", 60, 7.0)]


def test_time_shift(spark):
    df = _series(spark, [("m", 3600, 1.0)])
    assert S.time_shift(df, -3600).first()["bucket_ts"] == 0


def test_derivative_and_per_second(spark):
    df = _series(spark, [("m", 0, 10.0), ("m", 60, 25.0), ("m", 120, 5.0)])
    d = {r["bucket_ts"]: r["value"] for r in S.derivative(df).collect()}
    assert d == {0: None, 60: 15.0, 120: -20.0}
    ps = {r["bucket_ts"]: r["value"] for r in S.per_second(df).collect()}
    assert ps == {0: None, 60: 0.25, 120: None}  # negative diff → gap


def test_integral_and_moving_average(spark):
    df = _series(spark, [("m", 0, 1.0), ("m", 60, 2.0), ("m", 120, 3.0)])
    i = {r["bucket_ts"]: r["value"] for r in S.integral(df).collect()}
    assert i == {0: 1.0, 60: 3.0, 120: 6.0}
    # graphite movingWindow: series[i-n:i], current point EXCLUDED; points
    # without a full preceding window are gaps (round-6 ADVICE fix)
    ma = {r["bucket_ts"]: r["value"] for r in S.moving_average(df, 2).collect()}
    assert ma == {0: None, 60: None, 120: 1.5}
    mat = {r["bucket_ts"]: r["value"]
           for r in S.moving_average_time(df, 120).collect()}
    assert mat == {0: None, 60: None, 120: 1.5}


def test_keep_last_value(spark):
    df = _series(spark, [("m", 0, 5.0), ("m", 60, None), ("m", 120, None), ("m", 180, 7.0)])
    filled = {r["bucket_ts"]: r["value"] for r in S.keep_last_value(df).collect()}
    assert filled == {0: 5.0, 60: 5.0, 120: 5.0, 180: 7.0}
    limited = {r["bucket_ts"]: r["value"] for r in S.keep_last_value(df, limit=1).collect()}
    assert limited == {0: 5.0, 60: 5.0, 120: None, 180: 7.0}


def test_summarize(spark):
    df = _series(spark, [("m", 0, 1.0), ("m", 60, 2.0), ("m", 3600, 4.0)])
    s = {r["bucket_ts"]: r["value"] for r in S.summarize(df, 3600, "sum").collect()}
    assert s == {0: 3.0, 3600: 4.0}
    mx = {r["bucket_ts"]: r["value"] for r in S.summarize(df, 3600, "max").collect()}
    assert mx == {0: 2.0, 3600: 4.0}
    last = {r["bucket_ts"]: r["value"] for r in S.summarize(df, 3600, "last").collect()}
    assert last == {0: 2.0, 3600: 4.0}


def test_highest_current_and_sort_by_maxima(spark):
    df = _series(
        spark,
        [("a", 0, 1.0), ("a", 60, 9.0),
         ("b", 0, 50.0), ("b", 60, 2.0),
         ("c", 0, 1.0), ("c", 60, 5.0)],
    )
    top = _g("highestCurrent", df, 2)
    assert {r["metric"] for r in top.collect()} == {"a", "c"}  # current: a=9, c=5, b=2
    ranks = {r["metric"]: r["rank"] for r in S.sort_by_maxima(df).collect()}
    assert ranks == {"b": 1, "a": 2, "c": 3}


def test_as_percent_shares_and_zero_total(spark):
    df = _series(
        spark,
        [("a", 0, 1.0), ("b", 0, 3.0),       # bucket 0 total 4
         ("a", 3600, 0.0), ("b", 3600, 0.0)],  # bucket 3600 total 0 → NULL pct
    )
    out = {(r["metric"], r["bucket_ts"]): r["value"] for r in S.as_percent(df).collect()}
    assert out[("a", 0)] == 25.0
    assert out[("b", 0)] == 75.0
    assert out[("a", 3600)] is None and out[("b", 3600)] is None


def test_group_by_node_and_alias_by_node(spark):
    df = _series(spark, [
        ("app.click.u0", 0, 1.0), ("app.click.u1", 0, 2.0),
        ("app.view.u0", 0, 10.0), ("app.view.u0", 60, 4.0),
    ])
    g = {(r["metric"], r["bucket_ts"]): r["value"]
         for r in S.group_by_node(df, 1, "sum").collect()}
    assert g == {("click", 0): 3.0, ("view", 0): 10.0, ("view", 60): 4.0}
    al = sorted(set(r["metric"] for r in S.alias_by_node(df, 1, 2).collect()))
    assert al == ["click.u0", "click.u1", "view.u0"]


def test_sum_and_average_series(spark):
    df = _series(spark, [("a", 0, 1.0), ("b", 0, 2.0), ("a", 60, 5.0)])
    s = {r["bucket_ts"]: r["value"] for r in S.sum_series(df).collect()}
    assert s == {0: 3.0, 60: 5.0}
    a = {r["bucket_ts"]: r["value"] for r in S.average_series(df).collect()}
    assert a == {0: 1.5, 60: 5.0}


def test_one_point_sums_are_exact_on_the_quantum_grid(spark):
    """A value already on the 1e-6 grid survives re-quantization: in
    double, 133.26 * 1e6 is 133259999.99999999, so a bare FLOOR would
    drop one quantum and return 133.259999."""
    df = _series(spark, [("m", 0, 133.26)])
    assert S.sum_series(df).first()["value"] == 133.26
    assert S.average_series(df).first()["value"] == 133.26
    for func in ("sum", "avg"):
        assert S.summarize(df, 3600, func).first()["value"] == 133.26


def test_exclude_and_grep(spark):
    df = _series(spark, [("web.cpu", 0, 1.0), ("db.cpu", 0, 2.0), ("web.mem", 0, 3.0)])
    assert sorted(set(r["metric"] for r in S.exclude(df, "^web").collect())) == ["db.cpu"]
    assert sorted(set(r["metric"] for r in S.grep(df, "cpu$").collect())) == [
        "db.cpu", "web.cpu"]


def test_series_stdev_and_most_deviant(spark):
    df = _series(spark, [
        ("flat", 0, 5.0), ("flat", 60, 5.0), ("flat", 120, 5.0),
        ("wild", 0, 0.0), ("wild", 60, 10.0), ("wild", 120, 20.0),
    ])
    sd = {r["metric"]: r["stdev"] for r in S.series_stdev(df).collect()}
    assert sd["flat"] == 0.0
    assert abs(sd["wild"] - 8.16496580927726) < 1e-9  # pop stdev of 0,10,20
    top = sorted(set(r["metric"] for r in S.most_deviant(df, 1).collect()))
    assert top == ["wild"]


def test_sort_by_total_and_limit(spark):
    df = _series(spark, [
        ("a", 0, 1.0), ("a", 60, 1.0), ("b", 0, 5.0), ("c", 0, 3.0),
    ])
    ranks = {r["metric"]: r["rank"] for r in S.sort_by_total(df).collect()}
    assert ranks == {"b": 1, "c": 2, "a": 3}
    lim = sorted(set(r["metric"] for r in S.limit_series(df, 2).collect()))
    assert lim == ["a", "b"]


def test_min_max_count_series(spark):
    df = _series(spark, [("a", 0, 1.0), ("b", 0, 3.0), ("a", 60, 2.0)])
    mn = {r.bucket_ts: r.value for r in _g("minSeries", df).collect()}
    mx = {r.bucket_ts: r.value for r in _g("maxSeries", df).collect()}
    ct = {r.bucket_ts: r.value for r in _g("countSeries", df).collect()}
    assert mn == {0: 1.0, 60: 2.0}
    assert mx == {0: 3.0, 60: 2.0}
    assert ct == {0: 2.0, 60: 1.0}


def test_diff_and_divide_series(spark):
    a = _series(spark, [("a", 0, 10.0), ("a", 60, 6.0), ("a", 120, 4.0)])
    b = _series(spark, [("b", 0, 4.0), ("b", 60, 0.0)])
    d = {r.bucket_ts: r.value for r in S.diff_series(a, b).collect()}
    # missing subtrahend bucket (120) counts as 0 (safeDiff)
    assert d == {0: 6.0, 60: 6.0, 120: 4.0}
    q = {r.bucket_ts: r.value for r in S.divide_series(a, b).collect()}
    # divisor 0 and missing divisor → gap (safeDiv)
    assert q == {0: 2.5, 60: None, 120: None}


def test_remove_above_below_transform_null(spark):
    df = _series(spark, [("m", 0, 1.0), ("m", 60, 5.0), ("m", 120, 9.0)])
    above = {r.bucket_ts: r.value for r in S.remove_above_value(df, 5.0).collect()}
    assert above == {0: 1.0, 60: 5.0, 120: None}
    below = {r.bucket_ts: r.value for r in S.remove_below_value(df, 5.0).collect()}
    assert below == {0: None, 60: 5.0, 120: 9.0}
    filled = {r.bucket_ts: r.value
              for r in S.transform_null(S.remove_above_value(df, 5.0), -1.0).collect()}
    assert filled == {0: 1.0, 60: 5.0, 120: -1.0}


def test_average_and_current_filters(spark):
    df = _series(spark, [("hot", 0, 10.0), ("hot", 60, 20.0),
                         ("cold", 0, 1.0), ("cold", 60, 2.0)])
    assert {r.metric for r in _g("averageAbove", df, 5.0).collect()} == {"hot"}
    assert {r.metric for r in _g("averageBelow", df, 5.0).collect()} == {"cold"}
    assert {r.metric for r in _g("currentAbove", df, 5.0).collect()} == {"hot"}
    assert {r.metric for r in _g("currentBelow", df, 5.0).collect()} == {"cold"}


def test_series_by_tag_operators(spark):
    df = spark.createDataFrame(
        [("cpu;dc=east;tier=t0", 0, 1.0),
         ("cpu;dc=west;tier=t1", 0, 2.0),
         ("cpu;dc=east;tier=t9", 0, 3.0),
         ("mem;tier=t0", 0, 4.0)],
        "metric string, bucket_ts long, value double")
    got = {r.metric for r in S.series_by_tag(df, "dc=east").collect()}
    assert got == {"cpu;dc=east;tier=t0", "cpu;dc=east;tier=t9"}
    got = {r.metric for r in S.series_by_tag(df, "tier=~t[01]$").collect()}
    assert got == {"cpu;dc=east;tier=t0", "cpu;dc=west;tier=t1", "mem;tier=t0"}
    got = {r.metric for r in S.series_by_tag(df, "dc!=east").collect()}
    # absent tag yields '' which also != 'east' (graphite semantics)
    assert got == {"cpu;dc=west;tier=t1", "mem;tier=t0"}
    got = {r.metric for r in S.series_by_tag(df, "tier!=~t[09]$").collect()}
    assert got == {"cpu;dc=west;tier=t1"}
    import pytest as _pytest
    with _pytest.raises(ValueError):
        S.series_by_tag(df, "nonsense")
    assert S.series_name(F.lit("cpu;dc=east")) is not None


def test_alias_and_group_by_tags(spark):
    df = spark.createDataFrame(
        [("req;dc=east;app=a", 0, 1.0),
         ("req;dc=east;app=b", 0, 2.0),
         ("req;dc=west;app=a", 0, 4.0)],
        "metric string, bucket_ts long, value double")
    out = {r.metric: r.value
           for r in S.group_by_tags(df, "sum", "dc").collect()}
    assert out == {"req;dc=east": 3.0, "req;dc=west": 4.0}
    named = {r.metric for r in S.alias_by_tags(df, "dc", "app").collect()}
    assert named == {"east.a", "east.b", "west.a"}


def test_series_by_tag_regex_anchored_at_start(spark):
    """graphite evaluates tag regexes with re.match (start-anchored):
    type=~click matches 'click'/'clicks' but NOT 'misclick'."""
    from kenshin_backup_spark.operators.seriesfns import series_by_tag

    rows = [
        ("cpu;type=click", 0, 1.0),
        ("cpu;type=clicks", 0, 1.0),
        ("cpu;type=misclick", 0, 1.0),
    ]
    df = spark.createDataFrame(rows, "metric string, bucket_ts long, value double")
    got = {r.metric for r in series_by_tag(df, "type=~click").collect()}
    assert got == {"cpu;type=click", "cpu;type=clicks"}
    neg = {r.metric for r in series_by_tag(df, "type!=~click").collect()}
    assert neg == {"cpu;type=misclick"}


def test_summarize_avg_means_present_slots(spark):
    """summarize(.., 'avg') = mean of PRESENT slot values per coarse
    bucket (graphite's rendered-points average; gaps excluded from the
    denominator)."""
    df = _series(
        spark,
        [("m", 0, 1.0), ("m", 3600, 2.0),       # bucket 0: avg 1.5
         ("m", 7200, None), ("m", 10800, 9.0)],  # bucket 7200: avg 9 (gap out)
    )
    out = {
        r["bucket_ts"]: r["value"]
        for r in S.summarize(df, 7200, "avg").collect()
    }
    assert out == {0: 1.5, 7200: 9.0}


def test_round5_catalog_functions(spark):
    """invert/squareRoot/offsetToZero/rangeOfSeries/stddevSeries/
    multiplySeries/nPercentile/filter twins — exact semantics on a tiny
    hand-checked frame."""
    df = _series(
        spark,
        [("a", 0, 4.0), ("a", 3600, 0.0), ("a", 7200, 16.0),
         ("b", 0, 2.0), ("b", 3600, 8.0), ("b", 7200, 4.0)],
    )
    inv = {(r["metric"], r["bucket_ts"]): r["value"] for r in S.invert(df).collect()}
    assert inv[("a", 0)] == 0.25 and inv[("a", 3600)] is None

    sq = {(r["metric"], r["bucket_ts"]): r["value"] for r in S.square_root(df).collect()}
    assert sq[("a", 7200)] == 4.0

    otz = {(r["metric"], r["bucket_ts"]): r["value"] for r in S.offset_to_zero(df).collect()}
    assert otz[("a", 0)] == 4.0 and otz[("b", 0)] == 0.0  # mins 0 and 2

    rng = {r["bucket_ts"]: r["value"] for r in _g("rangeOfSeries", df).collect()}
    assert rng == {0: 2.0, 3600: 8.0, 7200: 12.0}

    sd = {r["bucket_ts"]: r["value"] for r in _g("stddevSeries", df).collect()}
    assert sd[0] == 1.0  # {4,2}: pop stdev 1
    assert sd[3600] == 4.0  # {0,8}

    mul = {r["bucket_ts"]: r["value"] for r in S.multiply_series(df).collect()}
    assert mul == {0: 8.0, 3600: 0.0, 7200: 64.0}

    # nPercentile(50), NIST rank ceil(0.5*(3+1))=2 → 2nd sorted element = 4
    npc = {(r["metric"], r["bucket_ts"]): r["value"] for r in S.n_percentile(df, 50).collect()}
    assert npc[("a", 0)] == 4.0 and npc[("a", 7200)] == 4.0
    assert npc[("b", 0)] == 4.0  # b={2,4,8} → 2nd = 4

    # filter twins
    assert {r.metric for r in _g("lowestCurrent", df, 1).collect()} == {"b"}  # current a=16 b=4
    assert {r.metric for r in _g("highestAverage", df, 1).collect()} == {"a"}  # means 20/3 vs 14/3
    assert {r.metric for r in _g("lowestAverage", df, 1).collect()} == {"b"}
    assert {r.metric for r in _g("minimumAbove", df, 1).collect()} == {"b"}  # min a=0 b=2
    assert {r.metric for r in _g("maximumBelow", df, 10).collect()} == {"b"}  # max a=16 b=8


def test_percentile_clips_and_timeslice(spark):
    df = _series(
        spark,
        [("a", 0, 1.0), ("a", 3600, 2.0), ("a", 7200, 3.0), ("a", 10800, 4.0)],
    )
    # graphite _getPercentile: fr = 0.5*(4+1) = 2.5 → rank ceil(2.5) = 3
    # → p50 over {1,2,3,4} is 3.0 (the NIST even-length case the round-6
    # ADVICE fix corrects; the old ceil(n*p/100) rank gave 2.0)
    above = {r["bucket_ts"]: r["value"]
             for r in S.remove_above_percentile(df, 50).collect()}
    assert above == {0: 1.0, 3600: 2.0, 7200: 3.0, 10800: None}
    below = {r["bucket_ts"]: r["value"]
             for r in S.remove_below_percentile(df, 50).collect()}
    assert below == {0: None, 3600: None, 7200: 3.0, 10800: 4.0}
    sliced = {r["bucket_ts"]: r["value"]
              for r in S.time_slice(df, 3600, 7200).collect()}
    assert sliced == {0: None, 3600: 2.0, 7200: 3.0, 10800: None}


def test_multiply_series_safemul_gap(spark):
    """safeMul: a bucket where ANY constituent series has a gap (or no
    row at all) is NULL — the round-6 ADVICE fix (partial products no
    longer leak through)."""
    df = _series(
        spark,
        [("a", 0, 2.0), ("a", 3600, None),
         ("b", 0, 3.0), ("b", 3600, 5.0), ("b", 7200, 4.0)],
    )
    mul = {r["bucket_ts"]: r["value"] for r in S.multiply_series(df).collect()}
    assert mul[0] == 6.0
    assert mul[3600] is None      # a has a gap slot
    assert mul[7200] is None      # a has no row at all


def test_limit_reranks_surviving_series(spark):
    """limit(n) after a series-dropping function takes the first n of the
    REMAINING list (graphite), not the survivors of the stale rank."""
    df = _series(spark, [
        ("a", 0, 10.0), ("b", 0, 8.0), ("c", 0, 5.0),
    ])
    ordered = _g("sortByTotal", df)               # a=1, b=2, c=3
    survivors = S.exclude(ordered, "^a$")         # ranks now 2, 3
    lim = sorted(set(r["metric"] for r in S.limit_series(survivors, 2).collect()))
    assert lim == ["b", "c"]                      # stale-rank filter gave only b


def test_moving_family_strictly_before(spark):
    df = _series(spark, [
        ("m", 0, 1.0), ("m", 60, 5.0), ("m", 120, 3.0),
        ("m", 180, None), ("m", 240, 2.0),
    ])
    mn = {r["bucket_ts"]: r["value"] for r in S.moving_min(df, 2).collect()}
    assert mn == {0: None, 60: None, 120: 1.0, 180: 3.0, 240: 3.0}
    mx = {r["bucket_ts"]: r["value"] for r in S.moving_max(df, 2).collect()}
    assert mx == {0: None, 60: None, 120: 5.0, 180: 5.0, 240: 3.0}
    ms = {r["bucket_ts"]: r["value"] for r in S.moving_sum(df, 2).collect()}
    assert ms == {0: None, 60: None, 120: 6.0, 180: 8.0, 240: 3.0}
    # median window 3: ts180 → sorted [1,3,5] → 3; ts240 → [3,5] → 4.0
    md = {r["bucket_ts"]: r["value"] for r in S.moving_median(df, 3).collect()}
    assert md == {0: None, 60: None, 120: None, 180: 3.0, 240: 4.0}
    # time form matches the point form on a regular grid
    ms_t = {r["bucket_ts"]: r["value"]
            for r in S.moving_sum(df, window_seconds=120).collect()}
    assert ms_t == ms


def test_percentile_of_series(spark):
    df = _series(spark, [
        ("a", 0, 1.0), ("b", 0, 2.0), ("c", 0, 3.0), ("d", 0, 4.0),
        ("a", 3600, 7.0),
    ])
    p50 = {r["bucket_ts"]: r["value"]
           for r in S.percentile_of_series(df, 50).collect()}
    # NIST rank over {1,2,3,4}: ceil(0.5*5) = 3 → 3.0
    assert p50 == {0: 3.0, 3600: 7.0}
    p95 = {r["bucket_ts"]: r["value"]
           for r in S.percentile_of_series(df, 95).collect()}
    assert p95[0] == 4.0  # rank ceil(4.75)=5 clamped to 4
    assert p95[3600] == 7.0


def test_weighted_average(spark):
    avg = _series(spark, [
        ("s1.x", 0, 10.0), ("s2.x", 0, 20.0),
        ("s1.x", 60, None), ("s2.x", 60, 30.0),
        ("s1.x", 120, 5.0),
    ])
    wgt = _series(spark, [
        ("s1.w", 0, 1.0), ("s2.w", 0, 3.0),
        ("s1.w", 60, 2.0), ("s2.w", 60, 0.0),
        ("s1.w", 120, None),
    ])
    out = {r["bucket_ts"]: r["value"]
           for r in S.weighted_average(avg, wgt, 0).collect()}
    assert out[0] == 17.5     # (10*1 + 20*3) / (1+3)
    assert out[60] == 0.0     # products: s2 30*0=0; weights 2+0
    assert out[120] is None   # weight sum NULL → safeDiv gap
    names = {r["metric"] for r in S.weighted_average(avg, wgt, 0).collect()}
    assert names == {"weightedAverage"}


def test_sort_by_name_and_stacked_sort(spark):
    df = _series(spark, [("b", 0, 9.0), ("a", 0, 1.0), ("c", 0, 5.0)])
    lim = sorted(set(
        r["metric"]
        for r in S.limit_series(S.sort_by_name_series(df), 2).collect()
    ))
    assert lim == ["a", "b"]
    # stacking sortBy* replaces the previous order (no column collision)
    restacked = S.sort_by_name_series(_g("sortByTotal", df))
    orders = {r["metric"]: r["__series_order"]
              for r in restacked.select("metric", "__series_order")
              .distinct().collect()}
    assert orders == {"a": 1, "b": 2, "c": 3}


def test_stdev_large_values_no_overflow(spark):
    """|value| ~4e6 squares past int64 at the 1e3 quantization — the
    DECIMAL(38,0) second moment keeps the round-6 fix exact (ANSI mode
    errored here before)."""
    df = _series(spark, [("m", 0, 0.0), ("m", 60, 4.0e6),
                         ("n", 0, 0.0), ("n", 60, 0.0)])
    sd = {r["metric"]: r["stdev"] for r in S.series_stdev(df).collect()}
    assert sd["m"] == 2.0e6 and sd["n"] == 0.0
    sds = {r["bucket_ts"]: r["value"] for r in _g(
        "stddevSeries",
        _series(spark, [("a", 0, 0.0), ("b", 0, 4.0e6)])).collect()}
    assert sds[0] == 2.0e6


def test_wave2_transform_functions(spark):
    df = _series(spark, [
        ("web.cpu", 0, 2.0), ("web.cpu", 60, 2.0),
        ("web.cpu", 120, 5.0), ("web.cpu", 180, None),
        ("db.mem", 0, None), ("db.mem", 60, None),
    ])
    al = set(r.metric for r in S.alias_sub(df, "^web", "w").collect())
    assert al == {"w.cpu", "db.mem"}

    sc = {(r.metric, r.bucket_ts): r.value
          for r in S.scale_to_seconds(df, 120).collect()}
    assert sc[("web.cpu", 0)] == 4.0 and sc[("web.cpu", 120)] == 10.0
    assert sc[("db.mem", 0)] is None

    kept = set(r.metric for r in S.remove_empty_series(df).collect())
    assert kept == {"web.cpu"}

    nn = {(r.metric, r.bucket_ts): r.value for r in S.is_non_null(df).collect()}
    assert nn[("web.cpu", 120)] == 1.0 and nn[("web.cpu", 180)] == 0.0
    assert nn[("db.mem", 0)] == 0.0

    ch = {r.bucket_ts: r.value
          for r in S.changed(df).collect() if r.metric == "web.cpu"}
    assert ch == {0: 0.0, 60: 0.0, 120: 1.0, 180: 0.0}

    # graphite carries the last non-gap value across gaps: [2, None, 5]
    # emits 1 at the 5 (round-7 ADVICE fix — lag() would emit 0)
    gappy = _series(spark, [
        ("g.m", 0, 2.0), ("g.m", 60, None), ("g.m", 120, 5.0),
        ("g.m", 180, 5.0), ("g.m", 240, None), ("g.m", 300, 5.0),
    ])
    chg = {r.bucket_ts: r.value for r in S.changed(gappy).collect()}
    assert chg == {0: 0.0, 60: 0.0, 120: 1.0, 180: 0.0, 240: 0.0, 300: 0.0}

    dl = {r.bucket_ts: r.value
          for r in S.delay(df, 1).collect() if r.metric == "web.cpu"}
    assert dl == {0: None, 60: 2.0, 120: 2.0, 180: 5.0}
    lead = {r.bucket_ts: r.value
            for r in S.delay(df, -1).collect() if r.metric == "web.cpu"}
    assert lead == {0: 2.0, 60: 5.0, 120: None, 180: None}


def test_wave2_hitcount_and_integral_by_interval(spark):
    df = _series(spark, [
        ("m", 0, 2.0), ("m", 60, 2.0), ("m", 120, 5.0), ("m", 180, None),
    ])
    # step 60 → per-slot hits v*60: 120, 120, 300, gap
    hc = {r.bucket_ts: r.value for r in S.hitcount(df, 120).collect()}
    assert hc == {0: 240.0, 120: 300.0}
    # running total resets at each 120 s boundary; the gap slot carries
    # the interval's running value (graphite appends `current` at gaps)
    ii = {r.bucket_ts: r.value
          for r in S.integral_by_interval(df, 120).collect()}
    assert ii == {0: 2.0, 60: 4.0, 120: 5.0, 180: 5.0}


def test_wave2_average_outside_percentile_and_group(spark):
    df = _series(spark, [
        ("a", 0, 10.0), ("b", 0, 20.0), ("c", 0, 30.0),
        ("d", 0, 40.0), ("e", 0, 50.0),
    ])
    # means 10..50; n=80 → band (p20, p80) = (20, 50) via NIST ranks
    # ceil(0.2*6)=2 → 20 and ceil(0.8*6)=5 → 50; keep avg<=20 or >=50
    kept = sorted(set(
        r.metric for r in S.average_outside_percentile(df, 80).collect()
    ))
    assert kept == ["a", "b", "e"]
    # n<50 mirrors (graphite): n=20 ≡ n=80
    kept2 = sorted(set(
        r.metric for r in S.average_outside_percentile(df, 20).collect()
    ))
    assert kept2 == kept

    g = S.group_series([df.where(F.col("metric") == "a"),
                        df.where(F.col("metric") == "e")])
    assert sorted(set(r.metric for r in g.collect())) == ["a", "e"]


# --- wave 3 (round 7) -------------------------------------------------------


def test_linear_regression_exact_line_fills_gaps(spark):
    # a perfect line: the fit reproduces it exactly AND projects the
    # fitted value into the gap slot (graphite emits the line everywhere)
    df = _series(spark, [
        ("m", 0, 2.0), ("m", 60, 5.0), ("m", 120, None), ("m", 180, 11.0),
        ("flat", 0, 7.0), ("flat", 60, 7.0),
    ])
    got = {(r.metric, r.bucket_ts): r.value
           for r in S.linear_regression(df).collect()}
    assert abs(got[("m", 0)] - 2.0) < 1e-9
    assert abs(got[("m", 60)] - 5.0) < 1e-9
    assert abs(got[("m", 120)] - 8.0) < 1e-9   # the gap, filled by the fit
    assert abs(got[("m", 180)] - 11.0) < 1e-9
    assert abs(got[("flat", 0)] - 7.0) < 1e-9
    assert abs(got[("flat", 60)] - 7.0) < 1e-9
    # a single-point series has no fit → NULL everywhere
    one = _series(spark, [("p", 0, 3.0)])
    assert S.linear_regression(one).first().value is None


def test_use_series_above(spark):
    df = _series(spark, [
        ("a.reqs", 0, 20.0), ("a.reqs", 60, 1.0),
        ("b.reqs", 0, 5.0),
    ])
    store = {
        "a.time": _series(spark, [("a.time", 0, 0.25)]),
        "b.time": _series(spark, [("b.time", 0, 0.75)]),
    }

    def fetch(name):
        return store[name]

    out = S.use_series_above(df, 10.0, "reqs", "time", fetch)
    got = [(r.metric, r.bucket_ts, r.value) for r in out.collect()]
    assert got == [("a.time", 0, 0.25)]  # only a.* qualified (max 20 > 10)
    # nothing qualifies → empty frame with the canonical schema
    none = S.use_series_above(df, 100.0, "reqs", "time", fetch)
    assert none.count() == 0 and set(none.columns) == {
        "metric", "bucket_ts", "value"}


def test_time_stack(spark):
    df = _series(spark, [("m", 86400, 1.0), ("m", 86460, 2.0)])
    out = S.time_stack(df, 86400, 0, 2)
    got = {(r.metric, r.bucket_ts): r.value for r in out.collect()}
    # graphite's literal name format includes the shift UNIT:
    # 'timeShift(%s, %s, %s)' % (name, timeShiftUnit, shift)
    assert got == {
        ("timeShift(m, 1d, 0)", 86400): 1.0,
        ("timeShift(m, 1d, 0)", 86460): 2.0,
        ("timeShift(m, 1d, 1)", 172800): 1.0,
        ("timeShift(m, 1d, 1)", 172860): 2.0,
    }
    lbl = S.time_stack(df, 3600, 0, 1, unit_label="1h")
    assert {r.metric for r in lbl.collect()} == {"timeShift(m, 1h, 0)"}


def test_stdev_window(spark):
    df = _series(spark, [
        ("m", 0, 2.0), ("m", 60, 4.0), ("m", 120, 4.0), ("m", 180, None),
        ("m", 240, 6.0),
    ])
    got = {r.bucket_ts: r.value for r in S.stdev_series_window(df, 2).collect()}
    assert got[0] == 0.0                       # bootstrap window [2] → sd 0
    assert abs(got[60] - 1.0) < 1e-9           # [2,4] → 1
    assert abs(got[120] - 0.0) < 1e-9          # [4,4] → 0
    # windows containing the gap: 1 valid of 2 → 0.5 >= tolerance 0.1,
    # graphite still emits (stddev of the single value = 0)
    assert got[180] == 0.0 and got[240] == 0.0
    # a tolerance demanding >half valid suppresses those slots
    strict = {r.bucket_ts: r.value
              for r in S.stdev_series_window(df, 2, 0.6).collect()}
    assert strict[180] is None and strict[240] is None
    assert abs(strict[60] - 1.0) < 1e-9


def test_series_with_wildcards_and_substr(spark):
    df = _series(spark, [
        ("a.x.c", 0, 1.0), ("a.y.c", 0, 2.0), ("b.x.c", 0, 10.0),
    ])
    s = {(r.metric, r.bucket_ts): r.value
         for r in S.sum_series_with_wildcards(df, 1).collect()}
    assert s == {("a.c", 0): 3.0, ("b.c", 0): 10.0}
    a = {(r.metric, r.bucket_ts): r.value
         for r in S.average_series_with_wildcards(df, 1).collect()}
    assert a == {("a.c", 0): 1.5, ("b.c", 0): 10.0}

    sub = _series(spark, [("a.b.c.d", 0, 1.0)])
    assert S.substr_series(sub, 1, 3).first().metric == "b.c"
    assert S.substr_series(sub, 1).first().metric == "b.c.d"
    assert S.substr_series(sub, 0, -1).first().metric == "a.b.c"
    assert S.substr_series(sub, -2).first().metric == "c.d"


def test_logarithm(spark):
    df = _series(spark, [
        ("m", 0, 100.0), ("m", 60, 1.0), ("m", 120, 0.0), ("m", 180, -5.0),
        ("m", 240, None),
    ])
    got = {r.bucket_ts: r.value for r in S.logarithm(df).collect()}
    assert abs(got[0] - 2.0) < 1e-9 and abs(got[60]) < 1e-9
    assert got[120] is None and got[180] is None and got[240] is None
    two = {r.bucket_ts: r.value for r in S.logarithm(df, 2).collect()}
    assert abs(two[0] - 6.643856189774724) < 1e-9


def test_sort_by_minima_and_threshold_filters(spark):
    df = _series(spark, [
        ("neg", 0, -3.0), ("neg", 60, -1.0),       # max <= 0 → dropped
        ("lo", 0, 1.0), ("lo", 60, 9.0),
        ("hi", 0, 5.0), ("hi", 60, 9.0),
    ])
    out = S.limit_series(_g("sortByMinima", df), 1)
    assert {r.metric for r in out.collect()} == {"lo"}  # smallest min first

    assert {r.metric for r in _g("maximumAbove", df, 8.0).collect()} == {
        "lo", "hi"}
    assert {r.metric for r in _g("minimumBelow", df, 0.0).collect()} == {"neg"}


def test_interpolate(spark):
    df = _series(spark, [
        ("m", 0, None), ("m", 60, 2.0), ("m", 120, None), ("m", 180, None),
        ("m", 240, 5.0), ("m", 300, None),
    ])
    got = {r.bucket_ts: r.value for r in S.interpolate(df).collect()}
    assert got[0] is None and got[300] is None     # leading/trailing stay
    assert abs(got[120] - 3.0) < 1e-9 and abs(got[180] - 4.0) < 1e-9
    # run length 2 > limit 1 → untouched
    lim = {r.bucket_ts: r.value for r in S.interpolate(df, 1).collect()}
    assert lim[120] is None and lim[180] is None
    short = _series(spark, [("m", 0, 2.0), ("m", 60, None), ("m", 120, 4.0)])
    lim1 = {r.bucket_ts: r.value for r in S.interpolate(short, 1).collect()}
    assert abs(lim1[60] - 3.0) < 1e-9


def test_display_only_renames(spark):
    df = _series(spark, [("m", 0, 1.0)])
    # graphite's literal format: 'dashed(%s,%g)' — no space
    assert S.dashed(df).first().metric == "dashed(m,5)"
    assert S.dashed(df, 2.5).first().metric == "dashed(m,2.5)"
    assert S.draw_as_infinite(df).first().metric == "drawAsInfinite(m)"
    assert S.second_y_axis(df).first().metric == "secondYAxis(m)"
    assert S.draw_as_infinite(df).first().value == 1.0


def test_exponential_moving_average(spark):
    # w=3, c=0.5: seed = avg(1,2,3)=2 at slot 120; then
    # ema(180) = .5*4 + .5*2 = 3; gap at 240 emits NULL, carries ema;
    # ema(300) = .5*5 + .5*3 = 4
    df = _series(spark, [
        ("m", 0, 1.0), ("m", 60, 2.0), ("m", 120, 3.0), ("m", 180, 4.0),
        ("m", 240, None), ("m", 300, 5.0),
    ])
    got = {r.bucket_ts: r.value
           for r in S.exponential_moving_average(df, 3).collect()}
    assert got[0] is None and got[60] is None
    assert abs(got[120] - 2.0) < 1e-9
    assert abs(got[180] - 3.0) < 1e-9
    assert got[240] is None
    assert abs(got[300] - 4.0) < 1e-9
    # series shorter than the window → all gaps
    short = _series(spark, [("s", 0, 1.0), ("s", 60, 2.0)])
    vals = [r.value for r in S.exponential_moving_average(short, 3).collect()]
    assert vals == [None, None]


def test_exponential_moving_average_all_gap_seed(spark):
    # ADVICE r7: an all-gap seed window must NOT seed the EMA at 0.0 —
    # graphite's `if ema is None: ema = value` seeds from the first
    # non-null value instead.
    df = _series(spark, [
        ("m", 0, None), ("m", 60, None), ("m", 120, None),
        ("m", 180, 4.0), ("m", 240, 8.0),
    ])
    got = {r.bucket_ts: r.value
           for r in S.exponential_moving_average(df, 3).collect()}
    assert got[0] is None and got[60] is None and got[120] is None
    assert abs(got[180] - 4.0) < 1e-9           # seeded from the value
    assert abs(got[240] - (0.5 * 8.0 + 0.5 * 4.0)) < 1e-9


def test_exponential_moving_average_chunked_long_series(spark):
    # cross several fold chunks (K=64) and pin to a pure-Python
    # transcription of graphite-web's exponentialMovingAverage loop
    import random

    rnd = random.Random(7)
    n, w = 300, 10
    pts = [(i * 60, None if rnd.random() < 0.15 else rnd.uniform(-50, 50))
           for i in range(n)]
    df = _series(spark, [("m", t, v) for t, v in pts])

    c = 2.0 / (w + 1.0)
    vals = [v for _, v in pts]
    head = [v for v in vals[:w] if v is not None]
    ema = sum(head) / len(head) if head else None
    expect = [None] * (w - 1) + [ema]
    for v in vals[w:]:
        if v is None:
            expect.append(None)
            continue
        ema = v if ema is None else c * v + (1 - c) * ema
        expect.append(ema)

    got = {r.bucket_ts: r.value
           for r in S.exponential_moving_average(df, w).collect()}
    assert len(got) == n
    for i, e in enumerate(expect):
        g = got[i * 60]
        if e is None:
            assert g is None, (i, g)
        else:
            assert g is not None and abs(g - e) < 1e-9, (i, g, e)


def test_aggregate_line_and_min_max(spark):
    df = _series(spark, [
        ("m", 0, 1.0), ("m", 60, 3.0), ("m", 120, None), ("m", 180, 5.0),
    ])
    line = {r.bucket_ts: r.value for r in S.aggregate_line(df, "avg").collect()}
    assert line == {0: 3.0, 60: 3.0, 120: 3.0, 180: 3.0}
    last = {r.bucket_ts: r.value for r in S.aggregate_line(df, "last").collect()}
    assert last == {0: 5.0, 60: 5.0, 120: 5.0, 180: 5.0}

    mm = {r.bucket_ts: r.value for r in S.min_max(df).collect()}
    assert mm == {0: 0.0, 60: 0.5, 120: None, 180: 1.0}
    flat = _series(spark, [("f", 0, 7.0), ("f", 60, 7.0)])
    assert {r.value for r in S.min_max(flat).collect()} == {0.0}


def test_sigmoid_logit_round(spark):
    df = _series(spark, [("m", 0, 0.0), ("m", 60, 0.5), ("m", 120, 2.0),
                         ("m", 180, None)])
    sg = {r.bucket_ts: r.value for r in S.sigmoid_series(df).collect()}
    assert abs(sg[0] - 0.5) < 1e-12
    assert abs(sg[60] - 0.6224593312018546) < 1e-12
    assert sg[180] is None
    lg = {r.bucket_ts: r.value for r in S.logit_series(df).collect()}
    assert lg[0] is None and lg[120] is None and lg[180] is None
    assert abs(lg[60]) < 1e-12  # logit(.5) = 0
    rd = _series(spark, [("m", 0, 2.5), ("m", 60, 3.5), ("m", 120, 2.44)])
    got = {r.bucket_ts: r.value for r in S.round_series(rd).collect()}
    assert got == {0: 2.0, 60: 4.0, 120: 2.0}  # half-even, like python round
    got1 = {r.bucket_ts: r.value for r in S.round_series(rd, 1).collect()}
    assert got1 == {0: 2.5, 60: 3.5, 120: 2.4}


def test_group_by_nodes_and_smart_summarize(spark):
    df = _series(spark, [
        ("app.click.us.h1", 0, 1.0), ("app.click.eu.h2", 0, 2.0),
        ("app.view.us.h3", 0, 10.0),
    ])
    g = {(r.metric, r.bucket_ts): r.value
         for r in S.group_by_nodes(df, "sum", 1, 2).collect()}
    assert g == {("click.us", 0): 1.0, ("click.eu", 0): 2.0,
                 ("view.us", 0): 10.0}
    g2 = {(r.metric, r.bucket_ts): r.value
          for r in S.group_by_nodes(df, "sum", 1).collect()}
    assert g2 == {("click", 0): 3.0, ("view", 0): 10.0}

    # smartSummarize aligns to the window start (min bucket_ts), not epoch:
    # frame starting at 30 with 60s slots, 120s buckets → [30,150), [150,270)
    sm = _series(spark, [
        ("m", 30, 1.0), ("m", 90, 2.0), ("m", 150, 4.0), ("m", 210, 8.0),
    ])
    got = {r.bucket_ts: r.value
           for r in S.smart_summarize(sm, 120, "sum").collect()}
    assert got == {30: 3.0, 150: 12.0}
    # epoch-aligned summarize would split differently
    ep = {r.bucket_ts: r.value for r in S.summarize(sm, 120, "sum").collect()}
    assert ep == {0: 3.0, 120: 12.0}  # same sums here but epoch buckets


def test_consolidate_by_and_cacti_style(spark):
    df = _series(spark, [("web.cpu", 0, 1.0), ("web.cpu", 60, 3.5)])
    cb = S.consolidate_by(df, "max")
    # graphite's literal format: 'consolidateBy(%s,"%s")' — no space
    assert {r.metric for r in cb.collect()} == {'consolidateBy(web.cpu,"max")'}
    assert sorted(r.value for r in cb.collect()) == [1.0, 3.5]
    import pytest as _p
    with _p.raises(ValueError):
        S.consolidate_by(df, "median")

    cs = S.cacti_style(df).collect()
    assert {r.metric for r in cs} == {
        "web.cpu Current:3.50 Max:3.50 Min:1.00"}
    assert sorted(r.value for r in cs) == [1.0, 3.5]

    # >= 1000: plain '%.2f' like graphite — NO thousands separators
    big = _series(spark, [("m", 0, 1234.567), ("m", 60, 999.994)])
    bs = S.cacti_style(big).collect()
    assert {r.metric for r in bs} == {
        "m Current:999.99 Max:1234.57 Min:999.99"}


# --- round-8 wave 4: generic family -----------------------------------------


def test_generic_highest_lowest_sortby_filter(spark):
    df = _series(spark, [
        ("a", 0, 1.0), ("a", 60, 3.0),      # avg 2, max 3, cur 3
        ("b", 0, 8.0), ("b", 60, None),     # avg 8, max 8, cur 8
        ("c", 0, 2.0), ("c", 60, 6.0),      # avg 4, max 6, cur 6
    ])
    assert {r.metric for r in S.highest(df, 1, "max").collect()} == {"b"}
    assert {r.metric for r in S.highest(df, 2, "average").collect()} == {
        "b", "c"}
    assert {r.metric for r in S.lowest(df, 1, "current").collect()} == {"a"}
    assert {r.metric for r in _g("highestMax", df, 2).collect()} == {"b", "c"}
    # sortBy default ASCENDING by average: a(2) < c(4) < b(8)
    order = {r["metric"]: r["__series_order"]
             for r in S.sort_by(df, "average").collect()}
    assert order == {"a": 1, "c": 2, "b": 3}
    rev = {r["metric"]: r["__series_order"]
           for r in S.sort_by(df, "average", reverse=True).collect()}
    assert rev == {"b": 1, "c": 2, "a": 3}
    # filterSeries
    assert {r.metric
            for r in S.filter_series(df, "max", ">=", 6.0).collect()} == {
        "b", "c"}
    assert {r.metric
            for r in S.filter_series(df, "count", "=", 1.0).collect()} == {
        "b"}
    import pytest as _p
    with _p.raises(ValueError):
        S.filter_series(df, "max", "~", 1.0)
    with _p.raises(ValueError):
        S.highest(df, 1, "bogus")


#: graphite's shorthands and their generic spellings. The sorts sit under
#: limit(), because the order they attach is the only thing they change
#: and the rendered result drops the order column.
_SHORTHANDS = [
    ("highestCurrent(x, 2)", "highest(x, 2, 'current')"),
    ("lowestCurrent(x, 2)", "lowest(x, 2, 'current')"),
    ("highestAverage(x, 2)", "highest(x, 2, 'average')"),
    ("lowestAverage(x, 2)", "lowest(x, 2, 'average')"),
    ("highestMax(x, 2)", "highest(x, 2, 'max')"),
    ("averageAbove(x, 2.5)", "filterSeries(x, 'average', '>', 2.5)"),
    ("averageBelow(x, 3)", "filterSeries(x, 'average', '<', 3)"),
    ("currentAbove(x, 3)", "filterSeries(x, 'current', '>', 3)"),
    ("currentBelow(x, 3)", "filterSeries(x, 'current', '<', 3)"),
    ("minimumAbove(x, 0)", "filterSeries(x, 'min', '>', 0)"),
    ("minimumBelow(x, 1)", "filterSeries(x, 'min', '<', 1)"),
    ("maximumAbove(x, 5)", "filterSeries(x, 'max', '>', 5)"),
    ("maximumBelow(x, 5)", "filterSeries(x, 'max', '<', 5)"),
    ("limit(sortByMaxima(x), 3)", "limit(sortBy(x, 'max', true), 3)"),
    ("limit(sortByTotal(x), 3)", "limit(sortBy(x, 'total', true), 3)"),
    ("limit(sortByMinima(x), 3)",
     "limit(sortBy(filterSeries(x, 'max', '>', 0), 'min'), 3)"),
    ("minSeries(x)", "aggregate(x, 'min')"),
    ("maxSeries(x)", "aggregate(x, 'max')"),
    ("countSeries(x)", "aggregate(x, 'count')"),
    ("rangeOfSeries(x)", "alias(aggregate(x, 'rangeOf'), 'rangeOfSeries')"),
    ("stddevSeries(x)", "aggregate(x, 'stddev')"),
]


@pytest.mark.parametrize("shorthand,generic", _SHORTHANDS)
def test_shorthand_equals_generic_spelling(spark, shorthand, generic):
    """Every selector, filter, sort and combine shorthand returns the
    rows of its generic spelling. Keys tie (average 3 for a-d, max 5 for
    a/b/e, min 1 for a/b, total 6 for a/b/d, current 5 for a/e), there
    are gap slots, bucket 180 is a gap in every series and z is all gap,
    so null ordering and tie breaks are exercised."""
    df = _series(spark, [
        ("a", 0, 1.0), ("a", 60, 5.0), ("a", 120, None), ("a", 180, None),
        ("b", 0, 5.0), ("b", 60, None), ("b", 120, 1.0), ("b", 180, None),
        ("c", 0, 3.0), ("c", 60, 3.0), ("c", 120, 3.0), ("c", 180, None),
        ("d", 0, -2.0), ("d", 60, None), ("d", 120, 8.0), ("d", 180, None),
        ("e", 0, None), ("e", 60, 0.0), ("e", 120, 5.0), ("e", 180, None),
        ("z", 0, None), ("z", 60, None), ("z", 120, None), ("z", 180, None),
    ])

    def rows(target):
        return Counter(map(tuple, render(target, lambda glob: df).collect()))

    got = rows(shorthand)
    assert got and got == rows(generic)


def test_generic_aggregate_and_wildcards(spark):
    df = _series(spark, [
        ("x.a", 0, 1.0), ("x.a", 60, 3.0),
        ("x.b", 0, 2.0), ("x.b", 60, None),
        ("y.a", 0, 10.0), ("y.a", 60, 20.0),
    ])
    med = {r.bucket_ts: r.value
           for r in S.aggregate_series(df, "median").collect()}
    assert med == {0: 2.0, 60: 11.5}  # [1,2,10] → 2; [3,20] → 11.5
    cnt = {r.bucket_ts: r.value
           for r in S.aggregate_series(df, "count").collect()}
    assert cnt == {0: 3.0, 60: 2.0}
    rng = {r.bucket_ts: r.value
           for r in S.aggregate_series(df, "range").collect()}
    assert rng == {0: 9.0, 60: 17.0}
    # multiply with a gap member → NULL bucket (safeMul)
    mul = {r.bucket_ts: r.value
           for r in S.aggregate_series(df, "multiply").collect()}
    assert mul[0] == 20.0 and mul[60] is None
    # aggregateWithWildcards drops node 0: groups (a: x.a+y.a, b: x.b)
    g = {(r.metric, r.bucket_ts): r.value
         for r in S.aggregate_with_wildcards(df, "sum", 0).collect()}
    assert g[("a", 0)] == 11.0 and g[("a", 60)] == 23.0
    assert g[("b", 0)] == 2.0 and g[("b", 60)] is None
    # multiply honors PER-GROUP membership (a has 2 members, b has 1)
    m = {(r.metric, r.bucket_ts): r.value
         for r in S.multiply_series_with_wildcards(df, 0).collect()}
    assert m[("a", 0)] == 10.0 and m[("a", 60)] == 60.0
    assert m[("b", 0)] == 2.0 and m[("b", 60)] is None
    # r12: diff/last join the kernel set over the documented name-order
    # stand-in (safeDiff = first non-gap member minus the rest; safeLast
    # = lexically-last member's non-gap value); unknown kernels stay loud
    d = {r.bucket_ts: r.value
         for r in S.aggregate_series(df, "diff").collect()}
    assert d == {0: -11.0, 60: -17.0}  # 1-(2+10); 3-20 (gap skipped)
    lst = {r.bucket_ts: r.value
           for r in S.aggregate_series(df, "last").collect()}
    assert lst == {0: 10.0, 60: 20.0}
    import pytest as _p
    with _p.raises(ValueError):
        S.aggregate_series(df, "nosuch")


def test_generic_moving_window_and_pow(spark):
    df = _series(spark, [
        ("m", 0, 1.0), ("m", 60, 2.0), ("m", 120, 3.0), ("m", 180, 4.0),
    ])
    mw = {r.bucket_ts: r.value for r in S.moving_window(df, 2, "sum").collect()}
    assert mw[0] is None and mw[60] is None
    assert mw[120] == 3.0 and mw[180] == 5.0
    mt = {r.bucket_ts: r.value
          for r in S.moving_window(df, "2min", "max").collect()}
    assert mt[120] == 2.0 and mt[180] == 3.0
    # powSeries: name-ordered fold a^b per bucket
    two = _series(spark, [
        ("a", 0, 2.0), ("a", 60, 3.0), ("b", 0, 3.0), ("b", 60, None),
    ])
    pw = {r.bucket_ts: r.value for r in S.pow_series_combine(two).collect()}
    assert pw[0] == 8.0 and pw[60] is None


def test_remove_between_percentile_and_unique(spark):
    # 5 series, constant values 1..5: NIST rank gives p20 → rank 2 (lo=2)
    # and p80 → rank 5 (hi=5); series entirely strictly inside (2,5)
    # vanish — graphite's `not low < val < high` keeps the band EDGES
    df = _series(spark, [
        (f"s{i}", t, float(i)) for i in range(1, 6) for t in (0, 60)
    ])
    kept = {r.metric for r in S.remove_between_percentile(df, 80).collect()}
    assert kept == {"s1", "s2", "s5"}  # 1,2 <= lo=2; 5 >= hi=5; 3,4 inside
    assert kept == {
        r.metric for r in S.remove_between_percentile(df, 20).collect()}

    a = _series(spark, [("m", 0, 1.0), ("n", 0, 2.0)])
    b = _series(spark, [("n", 0, 99.0), ("o", 0, 3.0)])
    u = {(r.metric, r.value) for r in S.unique_series([a, b]).collect()}
    assert u == {("m", 1.0), ("n", 2.0), ("o", 3.0)}  # first-list n wins


def test_alias_by_metric_fallback_stacked_legend(spark):
    df = _series(spark, [("web01.cpu.load", 0, 1.5)])
    assert S.alias_by_metric(df).first().metric == "load"

    empty = df.where("1=0")
    fb = S.fallback_series(empty, df)
    assert [r.metric for r in fb.collect()] == ["web01.cpu.load"]
    keep = S.fallback_series(df, _series(spark, [("fb", 0, 9.0)]))
    assert {r.metric for r in keep.collect()} == {"web01.cpu.load"}

    assert S.stacked_series(df).first().metric == "stacked(web01.cpu.load)"
    assert S.stacked_series(df, "mystack").first().metric == "web01.cpu.load"
    assert S.cumulative(df).first().metric == (
        'consolidateBy(web01.cpu.load,"sum")')

    lv = S.legend_value(df, "avg", "last")
    assert lv.first().metric == "web01.cpu.load (avg: 1.5) (last: 1.5)"
    gap = _series(spark, [("g", 0, None)])
    assert S.legend_value(gap, "max").first().metric == "g (max: None)"
    import pytest as _p
    with _p.raises(ValueError):
        S.legend_value(df, "si")


def test_combine_series_lists(spark):
    a = _series(spark, [("a1", 0, 6.0), ("a1", 60, None),
                        ("a2", 0, 10.0)])
    b = _series(spark, [("b1", 0, 2.0), ("b1", 60, 5.0),
                        ("b2", 0, 4.0)])
    s = {(r.metric, r.bucket_ts): r.value
         for r in S.combine_series_lists(a, b, "sum").collect()}
    assert s[("sumSeries(a1,b1)", 0)] == 8.0
    assert s[("sumSeries(a1,b1)", 60)] == 5.0  # safeSum: gap treated absent
    assert s[("sumSeries(a2,b2)", 0)] == 14.0
    d = {(r.metric, r.bucket_ts): r.value
         for r in S.combine_series_lists(a, b, "divide").collect()}
    assert d[("divideSeries(a1,b1)", 0)] == 3.0
    assert d[("divideSeries(a1,b1)", 60)] is None
    m = {(r.metric, r.bucket_ts): r.value
         for r in S.combine_series_lists(a, b, "multiply").collect()}
    assert m[("multiplySeries(a1,b1)", 60)] is None
    import pytest as _p
    with _p.raises(ValueError):
        S.combine_series_lists(a, b, "mod")


def test_consolidate_points_tiny_budget_clamp(spark):
    """ADVICE r8: a band nudge past the last point must not erase the
    series — mdp=1 on an spp-aligned start clamps back to the raw start
    and keeps ONE consolidated point (start-aligned; documented
    deviation from graphite's differently-phased del-loop point)."""
    df = _series(spark, [("m", 3600 * i, float(v))
                         for i, v in enumerate([1, 4, 2, 8, 5, 3])])
    # mdp=1: vpp=6, spp=21600, raw nstart=21600 > last ts 18000 → clamp
    got = S.consolidate_points(df, 1).collect()
    assert len(got) == 1
    assert got[0].bucket_ts == 0
    assert abs(got[0].value - 23.0 / 6.0) < 1e-12
    # mdp=2 stays on the graphite nudge (no clamp): nstart=10800 ≤ end
    got2 = S.consolidate_points(df, 2).collect()
    assert [(r.bucket_ts, r.value) for r in got2] == [(10800, 16.0 / 3.0)]
    # the func_hint parameter dispatches the kernel for unwrapped names
    got3 = S.consolidate_points(df, 2, func_hint="max").collect()
    assert [(r.bucket_ts, r.value) for r in got3] == [(10800, 8.0)]
    got4 = S.consolidate_points(df, 1, func_hint="sum").collect()
    assert [(r.bucket_ts, r.value) for r in got4] == [(0, 23.0)]
    import pytest as _p
    with _p.raises(ValueError):
        S.consolidate_points(df, 2, func_hint="median")



def test_consolidate_points_adds_in_time_order(spark):
    """sum and average add a band's values in time order, as graphite's
    sum(usable) does, whatever order the rows reach the aggregate: the
    band of 0.1, 0.2, 0.3 is (0.1 + 0.2) + 0.3, one ULP above
    0.1 + (0.2 + 0.3), fed forwards, backwards or spread over
    partitions."""
    rows = [
        ("m", 60 * i, v) for i, v in enumerate([1.0, 1.0, 1.0, 0.1, 0.2, 0.3])
    ]
    band = (0.1 + 0.2) + 0.3
    assert band != 0.3 + 0.2 + 0.1
    for order in (rows, rows[::-1]):
        for parts in (1, 3):
            df = _series(spark, order).coalesce(1).repartition(parts)
            # mdp=2: vpp=3, bands nudge to 180 → slots 180, 240, 300
            got = S.consolidate_points(df, 2).collect()
            assert [(r.bucket_ts, r.value) for r in got] == [(180, band / 3)]
            got = S.consolidate_points(df, 2, func_hint="sum").collect()
            assert [(r.bucket_ts, r.value) for r in got] == [(180, band)]

def test_moving_family_xfilesfactor_gate(spark):
    """graphite 1.1 moving*(…, xFilesFactor): windows whose non-gap
    count is below xff·windowSize become gaps (float compare; gap slots
    count toward windowSize). Checked against a hand-rolled strictly-
    before window walk on a gappy series."""
    vals = [1.0, None, None, 4.0, None, 6.0, 7.0, None, 9.0, 10.0]
    df = _series(spark, [("m", 60 * i, v) for i, v in enumerate(vals)])
    n = 4
    for xff in (0.0, 0.5, 0.75, 1.0):
        got = {
            r.bucket_ts: r.value
            for r in S.moving_sum(
                df, window_points=n, x_files_factor=xff
            ).collect()
        }
        for i in range(len(vals)):
            if i < n:
                assert got[60 * i] is None
                continue
            window = vals[i - n:i]
            usable = [v for v in window if v is not None]
            if not usable or len(usable) < xff * n:
                assert got[60 * i] is None, (i, xff)
            else:
                assert got[60 * i] == float(sum(usable)), (i, xff)
    # time-interval form applies the same gate
    got_t = {
        r.bucket_ts: r.value
        for r in S.moving_sum(
            df, window_seconds=240, x_files_factor=1.0
        ).collect()
    }
    assert all(v is None for v in got_t.values())  # every window has gaps
    import pytest as _p
    with _p.raises(ValueError):
        S.moving_average(df, 2, x_files_factor=1.5)


def test_counter_wrap_max_min_values(spark):
    """graphite _nonNegativeDelta transcription: wrap math with a known
    ceiling (max+1+new−old, NO minValue term even when a floor is also
    given — r10 ADVICE fix), reset-to-min with a floor, out-of-range
    new values gap, and the bare form keeps negatives as gaps."""
    vals = [250.0, 253.0, 2.0, 300.0, 1.0]
    df = _series(spark, [("c", 60 * i, v) for i, v in enumerate(vals)])
    by_ts = lambda rows: [rows.get(60 * i) for i in range(5)]  # noqa: E731

    bare = {r.bucket_ts: r.value
            for r in S.non_negative_derivative(df).collect()}
    assert by_ts(bare) == [None, 3.0, None, 298.0, None]

    mx = {r.bucket_ts: r.value
          for r in S.non_negative_derivative(df, max_value=255).collect()}
    # 253→2 wraps: 255+1+2-253 = 5; 2→300 exceeds max → gap (out of
    # range); 300→1: previous value out of range but NEW value legal:
    # graphite compares new>=old → 1 < 300 → wrap: 255+1+1-300 = -43?
    # graphite doesn't guard old — transcribed faithfully: -43.0
    assert by_ts(mx) == [None, 3.0, 5.0, None, -43.0]

    both = {
        r.bucket_ts: r.value
        for r in S.non_negative_derivative(
            df, max_value=255, min_value=1
        ).collect()
    }
    # wrap with a floor too: identical to max-only — minValue is a
    # range check only, NO term in the wrap delta (255+1+2-253 = 5;
    # 300 out of range → gap; 300→1: 255+1+1-300 = -43)
    assert by_ts(both) == [None, 3.0, 5.0, None, -43.0]

    mn = {
        r.bucket_ts: r.value
        for r in S.non_negative_derivative(df, min_value=1).collect()
    }
    # no ceiling: negative delta = reset to floor → new - min
    assert by_ts(mn) == [None, 3.0, 1.0, 298.0, 0.0]

    ps = {r.bucket_ts: r.value
          for r in S.per_second(df, max_value=255).collect()}
    assert ps[120] == 5.0 / 60.0 and ps[180] is None


def test_sort_by_name_natural_matches_graphite_padded_key(spark):
    """The natural key mirrors graphite's '{0:010}'.format(int(run)):
    short runs pad to 10, 10+-digit runs stay whole (no truncation),
    leading zeros strip like int() — including the 11-vs-12-digit
    ordering the padded-to-12 key got wrong (r9 review fix)."""
    names = ["m.99999999999", "m.111111111111", "m.2", "m.10",
             "m.007", "m.0000000000012"]
    df = _series(spark, [(n, 0, 1.0) for n in names])

    def graphite_key(name):
        import re
        return re.sub(r"\d+", lambda m: "{0:010}".format(int(m.group())),
                      name)

    want = sorted(names, key=graphite_key)
    got = [
        r.metric
        for r in S.sort_by_name_series(df, natural=True)
        .select("metric", "__series_order").distinct()
        .orderBy("__series_order").collect()
    ]
    assert got == want


def test_quantized_sums_survive_large_magnitudes(spark):
    """Every quantized SUM aggregate must survive realistic large
    magnitudes: a bytes-scale counter (1e12) over 200 points overflowed
    the int64 quantized total under ANSI mode (r11 fuzz find — the sums
    now accumulate in DECIMAL(38,0), exactly like DuckDB's HUGEINT
    SUM(BIGINT)). Values must equal the plain-double expectation to
    1e-6-quantization precision."""
    from kenshin_backup_spark.render import render

    rows = [("m", t * 60, 1.0e12 + t) for t in range(200)]
    df = spark.createDataFrame(rows, ["metric", "bucket_ts", "value"])

    def fetch(glob):
        return df

    # aggregate paths: per-series totals/means, banded sums, windows
    for target in (
        "sortByTotal(m)", "averageAbove(m, 0)", "summarize(m, '1h', 'sum')",
        "integral(m)", "movingSum(m, 5)", "aggregateLine(m, 'sum')",
        "weightedAverage(m, m, 0)", "hitcount(m, '1h')",
    ):
        out = render(target, fetch, from_ts=0, until_ts=12000).collect()
        assert out, target

    # value spot-check: the quantized series total is exact
    tot = render("aggregateLine(m, 'sum')", fetch,
                 from_ts=0, until_ts=12000).collect()
    expected = sum(1.0e12 + t for t in range(200))
    assert abs(tot[0].value - expected) < 1.0, tot[0].value
