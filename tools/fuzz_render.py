"""Extended render-grammar fuzz — the standing per-round program.

Drives ``Engine.render`` end-to-end (refetch_fn wired), so the
re-fetching functions — ``hitcount(alignToInterval=true)``,
``smartSummarize(alignTo=...)``, ``timeShift``/``timeStack``, the
holtWinters family, ``linearRegression`` source windows — are
first-class fuzz targets instead of whitelisted noise (the r11 judge
run drowned one real bug under 16 copies of the by-design bare-rail
``hitcount`` error; VERDICT r11 #2).

Two generation dimensions:

1. **Random compositions** over the full supported template grammar
   (depth ≤ ``--depth``), seeded and reproducible.
2. **Degenerate-input wrappers** (VERDICT r11 #4): with probability
   ~0.35 a composition step is wrapped in one of the degenerate
   transforms — all-gap (``removeBelowValue(x, 9e9)``), empty series
   set (``exclude(x, '.')``), duplicate timestamps (``group(x, x)``),
   extreme magnitude (``scale(x, 1e12)``) — AND every degenerate
   wrapper is crossed with every sensitive-family template once,
   deterministically, so the percentile / step-estimate / quantized-sum
   paths see the degenerate case by construction, not by luck. The
   r11 fix wave (sci-notation, sortBy bookkeeping, keepLastValue step,
   int64 sum overflow, duplicate-ts step) and the r12
   averageOutsidePercentile empty-band fix all live in this class.
   r13 adds the NAME-degenerate axes: every name-sensitive family
   (re-query / re-parse / name-split functions — aliasQuery,
   applyByNode, asPercent, weightedAverage, …) crossed with tagged
   graphite-1.1 names and the empty series set, the two combinations
   the r12-judge fresh seed drew that the r12 grid did not construct.

Differential check: every target that renders is rendered again on a
second ``Engine`` over the same store, whose session has a scan
partition (``spark.sql.files.maxPartitionBytes``) smaller than any
window of the store. The first engine renders in its render session
(adaptive execution off, one shuffle partition); the second is above
that gate and renders on its own session with the package's confs. A
difference in the row set is a failure: the render session's confs may
change the plan, never the rows.

Acceptable failure count: ZERO. The only tolerated outcomes are the
documented graphite-parity LOUD errors listed in ``EXPECTED_ERRORS``
(graphite itself raises there — a loud match is parity, not a bug).

Usage::

    python tools/fuzz_render.py [--seed N] [--count N] [--depth N]

Exit code 0 iff no unexpected failure. Prints one line per failure
with the exact target string for reproduction.
"""

from __future__ import annotations

import argparse
import math
import os
import random
import re
import sys
import tempfile
import time
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Sensitive families: every degenerate wrapper crosses each of these
# once, deterministically (the by-construction grid). Chosen because
# they pick from collected arrays, estimate slot steps, or accumulate
# quantized sums — the three code paths every degenerate-input bug so
# far has lived in.
SENSITIVE = [
    "averageOutsidePercentile({X}, 90)",
    "nPercentile({X}, 75)",
    "percentileOfSeries({X}, 50)",
    "percentileOfSeries({X}, 50, true)",
    "removeAbovePercentile({X}, 90)",
    "removeBelowPercentile({X}, 10, true)",
    "removeBetweenPercentile({X}, 80)",
    "movingMedian({X}, 3)",
    "aggregate({X}, 'median')",
    "aggregate({X}, 'diff')",
    "aggregate({X}, 'last')",
    "groupByNode({X}, 0, 'median')",
    "groupByNode({X}, 0, 'stddev')",
    "groupByNodes({X}, 'diff', 0)",
    "groupByTags({X}, 'last', 'name')",
    "keepLastValue({X}, 2)",
    "interpolate({X}, 2)",
    "perSecond({X})",
    "integralByInterval({X}, '2h')",
    "scaleToSeconds({X}, 60)",
    "sortByTotal({X})",
    "averageAbove({X}, 0)",
    "weightedAverage({X}, {X}, 0)",
    "asPercent({X})",
    "stddevSeries({X})",
    "stdev({X}, 3)",
    "exponentialMovingAverage({X}, 3)",
    "holtWintersForecast({X})",
    "linearRegression({X})",
    "aggregateLine({X}, 'avg')",
    "mostDeviant({X}, 2)",
    "summarize({X}, '2h', 'last')",
    "smartSummarize({X}, '2h', 'sum')",
    "hitcount({X}, '2h', true)",
]

# Degenerate wrappers (the new fuzz dimension).
DEGENERATE = [
    "removeBelowValue({X}, 9e9)",   # every value → gap
    "removeAboveValue({X}, -9e9)",  # every value → gap (other edge)
    "exclude({X}, '.')",            # empty series set
    "group({X}, {X})",              # duplicate (metric, ts) rows
    "scale({X}, 1e12)",             # extreme magnitude (quantized sums)
    "scale({X}, -1e12)",            # extreme negative magnitude
    "transformNull({X}, 9.9e12)",   # gaps → extreme constant
    "timeSlice({X}, 0, 0)",         # window masked to (at most) one slot
]

# Documented graphite-parity LOUD errors: graphite-web raises on the
# same input, so raising is the correct behavior, not a failure. Keep
# this list SHORT and exact — anything unlisted is a bug. Message
# patterns are anchored to the SPECIFIC loud-parity errors (ADVICE r12:
# matching the bare function name would also swallow unrelated crashes
# whose message merely echoes the target string). Entries are
# (target_pattern, message_pattern, context_pattern|None): the optional
# THIRD pattern must ALSO match the target (ADVICE r14 — the broad
# classes used to swallow any matching message in any target naming the
# function; the context anchors them to the degenerate-name shapes that
# were actually adjudicated, so a regression over PLAIN fetched names
# still fails loudly).
#
# Context anchor for the re-query/name-split classes: the rail
# function's FIRST ARGUMENT is itself a function call (``rail(\w+(``) —
# i.e. the series names are function-GENERATED (seriesByTag's tagged
# store, combiner names like 'sumSeries(a,b)', threshold's numerics).
# Real dashboards apply these rails to plainly FETCHED names, where the
# rebuilt target is valid; a parser/indexing regression on that path
# produces the same message WITHOUT the context and is NOT swallowed.
_GENERATED_FIRST_ARG = (
    r"(applyByNode|aliasQuery|reduceSeries)\(\s*[A-Za-z_]\w*\("
)
EXPECTED_ERRORS = [
    # aliasQuery: rewritten query matched nothing / matched an all-gap
    # series — graphite's functions.py raises Exception('No series...')
    # on both (operator-specific messages: no context needed)
    (r"aliasQuery", r"aliasQuery: no series found with query", None),
    (r"aliasQuery", r"aliasQuery: cannot get last value of series", None),
    # reduceSeries with an out-of-range reduceNode (e.g. node 1 or -2
    # over a DOTLESS graphite-1.1 tagged name — one split part):
    # graphite's ``nodes[reduceNode]`` raises IndexError on the same
    # input; ANSI element_at's INVALID_ARRAY_INDEX is the engine's loud
    # parity (same contract as aliasByNode(x, 9); r14 grid find —
    # note nodes[-1] does NOT raise and those grid cases pass green).
    (r"reduceSeries", r"INVALID_ARRAY_INDEX", _GENERATED_FIRST_ARG),
    # The RE-QUERY RAIL (aliasQuery / applyByNode) re-parses target
    # strings BUILT FROM SERIES NAMES. Function-generated or
    # display-aliased names — 'sumSeries(a,b)' (parens), 'a b'
    # (spaces), timeStack's 'timeShift(x, -1d, 0)' (unquoted
    # intervals) — are not valid targets, and graphite's
    # evaluateTarget re-parse fails loudly on the same inputs (r14
    # random-dimension finds; real dashboards apply these functions to
    # FETCHED names, where the rebuilt target is valid). Anchored to
    # the parser's three specific loud messages + the generated-name
    # context.
    (r"applyByNode|aliasQuery", r"expected rparen", _GENERATED_FIRST_ARG),
    (r"applyByNode|aliasQuery", r"bad token", _GENERATED_FIRST_ARG),
    (r"applyByNode|aliasQuery", r"trailing input", _GENERATED_FIRST_ARG),
    # A generated EMPTY name (sumSeriesWithWildcards(seriesByTag(...), 0)
    # names its series '') rebuilds the empty target; graphite's
    # evaluateTarget('') fails to parse it too. Pinned:
    # test_render.py::test_empty_target_raises_a_named_error.
    (r"applyByNode|aliasQuery", r"render: empty target expression",
     _GENERATED_FIRST_ARG),
    # r15 (VERDICT r14 #1, judge seed 471103 case 550): the rail over a
    # threshold()/constantLine()-generated NUMERIC name ("3.0") rebuilds
    # 'sumSeries(3)' — the bare number parses as a SCALAR argument and
    # the combiner raises 'needs a series argument'. graphite is loud on
    # the same input: its evaluateTarget parses 3 as an int, sumSeries
    # feeds it into normalize(), and ``[s.step for s in seriesList]``
    # raises TypeError (transcription check recorded in COVERAGE.md).
    # Pinned: tests/test_render.py::test_loud_parity_numeric_generated_names.
    (r"applyByNode|aliasQuery", r"needs a series argument",
     _GENERATED_FIRST_ARG),
    # r15 builder probe find (the generator-base wave): the rail over an
    # events(tag)-generated name. "events(deploy)" is dotless, so the
    # rebuilt/re-queried target is 'events(deploy)' — the re-parse reads
    # the bare word as a PATH expression, fetches it, and events()
    # raises on the series argument. graphite is loud on the same input:
    # evaluateTarget resolves 'deploy' to a seriesList and events'
    # ``", ".join(tags)`` raises TypeError (transcription in
    # COVERAGE.md). events() with NO tags re-parses cleanly and stays
    # quiet. Pinned: test_render.py::test_loud_parity_events_generated_names.
    (r"applyByNode|aliasQuery", r"events takes only tag strings",
     _GENERATED_FIRST_ARG),
    # r15 (VERDICT r14 #2): the engine's DOCUMENTED loud bound on the
    # holtWinters fold — >HW_MAX_POINTS window points per series raises
    # instead of running a single-task O(n²) fold for ~minutes.
    # DELIBERATE DEVIATION from graphite (which computes any length,
    # slowly); ledger row in COVERAGE.md, pin in test_render.py. The
    # message is operator-specific — no extra context needed.
    (r"holtWinters", r"holtWinters: series .* points > \d+", None),
]


def general_templates() -> list[str]:
    """The random-composition grammar: the committed test's template
    set (tests/test_render.py) plus the Engine-rail re-fetch forms the
    bare-render fuzz could not express."""
    return SENSITIVE + DEGENERATE + NAME_SENSITIVE + [
        "scale({X}, 2.5)", "offset({X}, -1)", "absolute({X})",
        "derivative({X})", "integral({X})", "keepLastValue({X})",
        "movingAverage({X}, '2h')", "movingAverage({X}, 3)",
        "movingSum({X}, 2)", "movingMin({X}, '2h')", "movingMax({X}, 2)",
        "movingWindow({X}, 2, 'sum')", "movingWindow({X}, '2h', 'max')",
        "summarize({X}, '2h')", "summarize({X}, '2h', 'max')",
        "summarize({X}, '2h', alignToFrom=true)",
        "timeShift({X}, '1h')", "timeShift({X}, '-1d')",
        "timeStack({X}, '1d', 0, 2)", "timeStack({X}, '-1d', 0, 2)",
        "alias({X}, 'a b')", "aliasByNode({X}, 0)", "aliasByMetric({X})",
        "aliasSub({X}, 'cpu', 'core')", "aliasByTags({X}, 'name')",
        "transformNull({X}, 0)", "removeAboveValue({X}, 3)",
        "removeBelowValue({X}, 1)", "removeEmptySeries({X})",
        "removeEmptySeries({X}, 0.5)", "isNonNull({X})", "changed({X})",
        "delay({X}, 1)", "sumSeries({X})", "averageSeries({X})",
        "minSeries({X})", "maxSeries({X})", "countSeries({X})",
        "rangeOfSeries({X})", "multiplySeries({X})", "powSeries({X})",
        "diffSeries({X}, {X})", "divideSeries({X}, {X})",
        "sumSeriesLists({X}, {X})", "diffSeriesLists({X}, {X})",
        "multiplySeriesLists({X}, {X})", "divideSeriesLists({X}, {X})",
        "aggregateSeriesLists({X}, {X}, 'sum')",
        "exclude({X}, 'idle')", "grep({X}, 'cpu')", "limit({X}, 2)",
        "currentBelow({X}, 9e9)", "currentAbove({X}, -9e9)",
        "highestCurrent({X}, 2)", "lowestCurrent({X}, 2)",
        "highestAverage({X}, 2)", "highestMax({X}, 2)",
        "highest({X}, 2, 'max')", "lowest({X}, 2)",
        "minimumAbove({X}, -9e9)", "maximumBelow({X}, 9e9)",
        "maximumAbove({X}, 0.5)", "minimumBelow({X}, 9e9)",
        "averageBelow({X}, 9e9)", "filterSeries({X}, 'max', '>', -9e9)",
        "sortByMaxima({X})", "sortByMinima({X})", "sortByName({X})",
        "sortByName({X}, true, true)", "sortBy({X}, 'total', true)",
        "sortBy({X})", "unique({X}, {X})", "fallbackSeries({X}, {X})",
        "fallbackSeries({X}, constantLine(1))",
        "groupByNode({X}, 0, 'sum')", "groupByNode({X}, 0)",
        "groupByNodes({X}, 'sum', 0)", "groupByTags({X}, 'sum', 'dc')",
        "aggregate({X}, 'range')", "aggregate({X}, 'sum', 0.5)",
        "aggregateWithWildcards({X}, 'sum', 0)",
        "sumSeriesWithWildcards({X}, 0)",
        "averageSeriesWithWildcards({X}, 1)",
        "multiplySeriesWithWildcards({X}, 1)",
        "mapSeries({X}, 0)", "pow({X}, 2)", "invert({X})",
        "squareRoot({X})", "logarithm({X})", "logarithm({X}, 2)",
        "exp({X})", "sigmoid({X})", "logit({X})", "round({X}, 1)",
        "add({X}, 5)", "offsetToZero({X})", "minMax({X})",
        "nonNegativeDerivative({X})", "nonNegativeDerivative({X}, 100)",
        "perSecond({X}, 100, 0)", "substr({X}, 0, 1)",
        "cumulative({X})", "stacked({X})", "cactiStyle({X})",
        "legendValue({X}, 'avg', 'max')", "legendValue({X}, valueTypes='avg')",
        "consolidateBy({X}, 'max')", "xFilesFactor({X}, 0.5)",
        "setXFilesFactor({X}, 0.25)", "alpha({X}, 0.5)", "dashed({X})",
        "drawAsInfinite({X})", "secondYAxis({X})", "color({X}, 'red')",
        "lineWidth({X}, 2)", "areaBetween({X}, {X})",
        "useSeriesAbove({X}, 0.5, 'cpu', 'mem')",
        "aggregateLine({X}, 'last')", "interpolate({X})",
        "hitcount({X}, '2h')", "hitcount({X}, intervalString='2h')",
        "smartSummarize({X}, '2h', 'max', alignTo='hours')",
        "holtWintersConfidenceBands({X})", "holtWintersAberration({X})",
        "events('deploy')", "sin('s', 2)", "time('t')",
        "randomWalk('r')", "constantLine(4)", "threshold(3)",
        "identity('i')",
        # per-series re-query (the expected-loud surface: a rewrite that
        # resolves is fine, one that matches nothing raises like graphite)
        "aliasQuery({X}, 'used', 'used', 'same %d')",
        "aliasQuery({X}, 'cpu', 'nope', 'x %d')",
    ]


BASE_TARGETS = (
    "cpu.*", "{cpu,mem}.*", "mem.used",
    # the tagged-store selector: compositions then exercise every
    # wrapper over graphite-1.1 tagged names (";dc=...;app=...")
    "seriesByTag('dc=east')",
)

# Name-sensitive families: functions that RE-QUERY, re-parse, split, or
# group on the series NAME itself — the r12-judge finds (tagged-name ×
# aliasQuery, empty-set × aliasQuery) both lived here, drawn by the
# random dimension only. The name-degenerate grid crosses each with
# every NAME_DEGENERATE base deterministically (VERDICT r12 #2).
NAME_SENSITIVE = [
    "aliasQuery({X}, 'used', 'used', 'same %d')",
    "aliasQuery({X}, 'req', 'req', 'n %d')",
    "applyByNode({X}, 0, 'sumSeries(%)')",
    "applyByNode({X}, 0, 'sumSeries(%)', 'total.%')",
    "asPercent({X})",
    "asPercent({X}, None, 0)",
    "weightedAverage({X}, {X}, 0)",
    "aliasByNode({X}, 0)",
    "aliasByTags({X}, 'name', 'dc')",
    "groupByTags({X}, 'sum', 'dc')",
    "groupByNode({X}, 0, 'median')",
    "useSeriesAbove({X}, 0.5, 'req', 'mem')",
    "sortByName({X}, natural=true)",
    "aggregateWithWildcards({X}, 'sum', 0)",
    # negative node indices — graphite's python list indexing (r13 fix:
    # -1 used to hit the always-invalid element_at(arr, 0))
    "aliasByNode({X}, -1)",
    "groupByNode({X}, -1, 'sum')",
    "groupByNodes({X}, 'max', -1, 0)",
    "applyByNode({X}, -2, 'sumSeries(%.*)')",
    "asPercent({X}, None, -1)",
    "timeStack({X}, '1d', 0, 0)",
    # r14 (ADVICE r13): applyByNode(-1) = the EMPTY prefix (parts[:0]),
    # and reduceSeries' group key with a negative reduceNode — both
    # were absent from the r13 grid and both had real bugs.
    "applyByNode({X}, -1, 'sumSeries(%cpu.*)')",
    "reduceSeries(mapSeries({X}, 0), 'sumSeries', -1, 'load', 'idle')",
    "reduceSeries({X}, 'diffSeries', 1, 'load', 'idle')",
    "reduceSeries({X}, 'asPercent', -2, 'used', 'total')",
]

# Name-degenerate bases: tagged graphite-1.1 names (what seriesByTag
# yields) and the empty series set — the two axes the r12 degenerate
# grid did not cross with the name-sensitive families. r15 (VERDICT r14
# #1): constant-generator bases whose series NAMES are bare numbers
# ("3.0", "2.5") — the judge's fresh seed drew applyByNode over
# threshold()'s numeric name, which the grid could not construct.
# r15 second wave (VERDICT r14 #5 spirit): the REMAINING generator
# families, pre-adjudicated by a full 24-family × 4-base probe (96
# cases, 86 green + 10 already-anchored loud, zero unexpected):
# aggregateLine exercises the documented names-KEPT legend deviation
# downstream of every name-node function; identity/sin/timeFunction
# yield caller-chosen plain names (incl. dotless single-node names,
# the INVALID_ARRAY_INDEX parity class for out-of-range reduceNodes).
NAME_DEGENERATE = (
    "seriesByTag('dc=east')",                 # multi-series tagged
    "seriesByTag('app=a')",                   # tagged incl. sparse
    "exclude(mem.used, '.')",                 # empty set, plain names
    "exclude(seriesByTag('dc=east'), 'req')", # empty set, tagged store
    "removeEmptySeries(threshold(3))",        # NUMERIC generated name
    "constantLine(2.5)",                      # numeric name, bare leaf
    "aggregateLine(mem.used, 'avg')",         # names-kept generator
    "identity('id.x')",                       # caller-named, dotted
    "sin('s', 2)",                            # caller-named, dotless
    "timeFunction('t')",                      # caller-named, dotless
    "events('deploy')",                       # paren name, rail-loud
    "events()",                               # paren name, re-parses OK
)


#: REQUEST-dimension values crossed with the name-degenerate grid
#: (VERDICT r13 #3): graphite's maxDataPoints pixel consolidation and
#: the request-level xFilesFactor default, over tagged and empty-set
#: targets — by construction, not luck. 0 is the falsy no-op value.
_GRID_REQUEST = (
    (None, None), (0, None), (7, None), (None, 0.5), (31, 0.0),
)

#: At-time STRING request windows rotated through the name-degenerate
#: grid (VERDICT r14 #5: previously random-only at p≈0.15 — the grid now
#: CONSTRUCTS the attime × degenerate-name cross). (None, None) keeps
#: the epoch-int default in rotation so both rails stay covered.
_GRID_WINDOWS = (
    (None, None), ("-1d", "now"), ("midnight", "now"),
    ("-2hours", "-30min"),
)

def degenerate_grid() -> list:
    """Every degenerate wrapper × every sensitive family, once, over a
    rotating base selection. (r12 harness fix: the first cut left the
    ``{X}`` placeholder unsubstituted, so grid cases fetched an empty
    series set instead of degenerate DATA — caught because the grid then
    failed to reproduce the one overflow the random composer found.)
    Each case carries its request params: plain wrappers run bare; the
    name-degenerate axes rotate through ``_GRID_REQUEST`` (r14) and
    ``_GRID_WINDOWS`` (r15 — coprime cycle lengths 5 and 4, so the k-th
    case draws combination (k mod 5, k mod 4) and all 20 pairs appear)."""
    out: list = []
    for i, deg in enumerate(DEGENERATE):
        for j, fam in enumerate(SENSITIVE):
            base = BASE_TARGETS[(i + j) % len(BASE_TARGETS)]
            out.append(
                (fam.replace("{X}", deg).replace("{X}", base),
                 None, None, None, None)
            )
    # name-degenerate axes (r13): every name-sensitive family over
    # every tagged / empty-set / numeric-name base, once — by
    # construction, not luck; r14 adds the rotating request dimension,
    # r15 the rotating at-time-string window dimension on top
    k = 0
    for fam in NAME_SENSITIVE:
        for base in NAME_DEGENERATE:
            mdp, xff = _GRID_REQUEST[k % len(_GRID_REQUEST)]
            fw, uw = _GRID_WINDOWS[k % len(_GRID_WINDOWS)]
            out.append((fam.replace("{X}", base), mdp, xff, fw, uw))
            k += 1
    return out


def is_expected(target: str, err: BaseException) -> bool:
    msg = f"{type(err).__name__}: {err}"
    for fn_pat, msg_pat, ctx_pat in EXPECTED_ERRORS:
        if (
            re.search(fn_pat, target)
            and re.search(msg_pat, msg)
            and (ctx_pat is None or re.search(ctx_pat, target))
        ):
            return True
    return False


def _row_set(df) -> Counter:
    """The rows of ``df`` as a multiset, NaN made comparable."""
    return Counter(
        tuple("NaN" if isinstance(v, float) and math.isnan(v) else v for v in r)
        for r in df.collect()
    )


def build_engine(spark, root: str):
    """``(engine, above, now)``: a store under ``root`` written through
    ``engine``, and ``above``, an engine over the same store on a new
    session whose 1 KB scan partition puts every non-empty request
    window above the render-session gate. Each engine writes the same
    points, so each knows the store's policies as written."""
    from pyspark.sql import functions as F

    from kenshin_backup_spark.api import Engine
    from kenshin_backup_spark.operators.policies import Policy

    eng = Engine(
        spark, root,
        policies=[Policy(name="p", pattern=".*", steps=(600, 3600),
                         agg="average")],
    )
    # 2 days of 10-min points for three plain series with distinct
    # shapes PLUS three graphite-1.1 tagged series (the seriesByTag /
    # groupByTags / aliasByTags surface), ending at a fixed "now"
    # (no Date.now — reproducibility)
    now = 1_700_000_000 - (1_700_000_000 % 3600)
    rows = []
    for i in range(288):
        ts = now - (288 - i) * 600
        rows.append(("cpu.load", ts, float((i * 7) % 23)))
        if i % 3 != 0:  # gappy series
            rows.append(("cpu.idle", ts, float(100 - (i % 50))))
        rows.append(("mem.used", ts, 5.0))
        rows.append(("req;dc=east;app=a", ts, float(i % 11)))
        rows.append(("req;dc=east;app=b", ts, float((i * 3) % 17)))
        if i % 4 == 0:  # sparse tagged series
            rows.append(("req;dc=west;app=a", ts, float(i % 7)))
    pts = spark.createDataFrame(
        rows, "metric string, ts long, value double"
    ).select("metric", F.col("ts").cast("timestamp").alias("ts"), "value")
    above_session = spark.newSession()
    above_session.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    above = Engine(above_session, root, policies=eng.policies)
    above.write(pts)
    eng.write(pts)
    ev = spark.createDataFrame(
        [(now - 3600, "deploy web", ["deploy"]),
         (now - 7200, "incident db", ["incident", "db"])],
        "when long, what string, tags array<string>",
    )
    eng.write_events(ev)
    return eng, above, now


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=None,
                    help="RNG seed (default: time-derived, printed)")
    ap.add_argument("--count", type=int, default=300,
                    help="random compositions (the degenerate grid "
                         "always runs in full first)")
    # r15: depth-6 default (VERDICT r14 #5) — affordable now that the
    # engine's holtWinters bound answers the one pathological deep
    # composition in milliseconds instead of ~40 min.
    ap.add_argument("--depth", type=int, default=6)
    ap.add_argument("--skip-grid", action="store_true",
                    help="skip the deterministic degenerate grid")
    args = ap.parse_args()
    seed = args.seed if args.seed is not None else int(time.time()) % 100000
    print(f"fuzz_render: seed={seed} count={args.count} depth={args.depth}")

    from kenshin_backup_spark.cache import clear_tracked
    from kenshin_backup_spark.session import get_spark

    spark = get_spark("fuzz-render")
    tmp = tempfile.mkdtemp(prefix="fuzz_render_store_")
    eng, above, now = build_engine(spark, tmp)
    from_ts, until_ts = now - 86400, now

    templates = general_templates()
    rng = random.Random(seed)
    # (kind, targets, max_data_points, request xFilesFactor): the grid
    # carries its own request params (the r14 name-grid × request
    # cross); random compositions draw the request dimension with
    # p≈0.25 each, so consolidate_points sees every composition shape.
    # kind ∈ {render, many, pie, pie_many}: the multi-target render and
    # PIE endpoints (VERDICT r13 #3 — surfaces the grid didn't draw)
    # each get ~6% of the random budget, reusing the last compositions
    # so the unioned plans are as adversarial as the single-target ones.
    # at-time STRING request windows (r14 axis): graphite consumers
    # send '-1d'/'now'/'midnight' style bounds, resolved against the
    # injected now — drawn with p≈0.15 in the random dimension so the
    # attime rail crosses the composition grammar (previously the fuzz
    # only ever passed epoch ints).
    WINDOWS = (
        ("-1d", "now"), ("-2hours", "now"), ("-1d2h", "-1h"),
        ("midnight", "now"), ("-90min", "-30min"), ("-1w", "now"),
    )
    cases: list[
        tuple[str, tuple[str, ...], int | None, float | None, object, object]
    ] = [
        ("render", (t,), mdp, xff, fw, uw)
        for (t, mdp, xff, fw, uw)
        in ([] if args.skip_grid else degenerate_grid())
    ]
    recent: list[str] = []
    for _ in range(args.count):
        target = rng.choice(BASE_TARGETS)
        for _ in range(rng.randint(1, args.depth)):
            # ~35%: force a degenerate wrapper into the chain
            pool = DEGENERATE if rng.random() < 0.35 else templates
            target = rng.choice(pool).replace("{X}", target)
        # 0 is graphite's falsy no-consolidation request value (r13)
        mdp = rng.choice((0, 5, 17, 64)) if rng.random() < 0.25 else None
        xff = rng.choice((0.0, 0.25, 0.9)) if rng.random() < 0.25 else None
        # (r15: the r14 events()+holtWinters cost gate is REMOVED — the
        # engine now bounds the fold itself: >HW_MAX_POINTS points per
        # series raises in milliseconds with an actionable message, so
        # the composition is fuzzable again and lands expected-loud via
        # the anchored holtWinters bound class above.)
        recent.append(target)
        fw, uw = (rng.choice(WINDOWS) if rng.random() < 0.15
                  else (None, None))
        draw = rng.random()
        if draw < 0.06 and len(recent) >= 2:
            cases.append(
                ("many", tuple(rng.sample(recent, rng.choice((2, 3))))
                 if len(recent) >= 3 else tuple(recent[-2:]),
                 mdp, xff, fw, uw)
            )
        elif draw < 0.12:
            kind = "pie" if rng.random() < 0.5 else "pie_many"
            ts = (target,) if kind == "pie" else (
                target, rng.choice(("lit:3.5", "mem.used")))
            cases.append((kind, ts, None, xff, fw, uw))
        else:
            cases.append(("render", (target,), mdp, xff, fw, uw))

    def request(e, kind, targets, f_req, u_req, mdp, xff, pie_mode):
        if kind == "render":
            return e.render(
                targets[0], f_req, u_req, now_ts=now,
                max_data_points=mdp, x_files_factor=xff,
            )
        if kind == "many":
            # r15 (ADVICE r14): render_many runs the DRAWN window —
            # it used to draw one and then always pass epoch ints
            return e.render_many(
                list(targets), f_req, u_req, now_ts=now,
                max_data_points=mdp, x_files_factor=xff,
            )
        if kind == "pie":
            return e.render_pie(
                targets[0], f_req, u_req, now_ts=now,
                pie_mode=pie_mode, x_files_factor=xff,
            )
        # pie_many — mixes an expression with a literal slice
        return e.render_pie_many(
            list(targets), f_req, u_req, now_ts=now,
            x_files_factor=xff, include_empty=False,
        )

    want_cols = {
        "render": {"metric", "bucket_ts", "value"},
        "many": {"target", "metric", "bucket_ts", "value"},
        "pie": {"metric", "value"},
        "pie_many": {"metric", "value"},
    }
    failures = 0
    expected = 0
    mismatches = 0
    t0 = time.time()
    for i, (kind, targets, mdp, xff, fw, uw) in enumerate(cases):
        # each case is one request: release the previous case's persisted
        # leaf and intermediate frames, as a request-serving caller does
        clear_tracked()
        target = "; ".join(targets)
        f_req = fw if fw is not None else from_ts
        u_req = uw if uw is not None else until_ts
        pie_mode = (rng.choice(("average", "maximum", "minimum"))
                    if kind == "pie" else None)
        # r15 (ADVICE r14): include the drawn at-time window so
        # window-dependent failures reproduce straight from the log
        req = "".join([
            f" (maxDataPoints={mdp}, xff={xff})" if (mdp or xff) else "",
            f" [window {fw!r}..{uw!r}]" if (fw is not None
                                            or uw is not None) else "",
        ])
        try:
            df = request(eng, kind, targets, f_req, u_req, mdp, xff, pie_mode)
            want = want_cols[kind]
            cols = set(df.columns)
            assert cols == want, cols
            _t_case = time.time()
            got = _row_set(df)
            # Pathological-but-correct compositions exist (r14 deep run:
            # a '-1w' request window puts events()' per-second grid at
            # 600k slots, and a '2h' moving window over THAT is O(n·w)
            # — graphite computes the same shape even slower in python).
            # Surface them so a stalled-looking run is diagnosable and
            # future grids can pin the worst offenders.
            if time.time() - _t_case > 60:
                win = (f" [window {fw!r}..{uw!r}]"
                       if (fw is not None or uw is not None) else "")
                print(f"SLOW [{i}] {time.time() - _t_case:.0f}s: "
                      f"{target}{win}")
        except KeyboardInterrupt:
            raise
        except BaseException as e:  # noqa: BLE001 — report and continue
            if is_expected(target, e):
                expected += 1
                continue
            got = None
            failures += 1
            print(f"FAIL [{i}] {kind}: {target}{req}")
            print("  " + traceback.format_exception_only(type(e), e)[-1].strip())
        if got is not None:
            clear_tracked()
            try:
                ref = _row_set(request(
                    above, kind, targets, f_req, u_req, mdp, xff, pie_mode
                ))
            except KeyboardInterrupt:
                raise
            except Exception as e:  # noqa: BLE001 — reported below
                ref = e
            if ref != got:
                mismatches += 1
                failures += 1
                print(f"MISMATCH [{i}] {kind}: {target}{req}")
                if isinstance(ref, BaseException):
                    print("  above the gate: " + traceback.format_exception_only(
                        type(ref), ref)[-1].strip())
                else:
                    print(f"  only below the gate: {list((got - ref).elements())[:3]}")
                    print(f"  only above the gate: {list((ref - got).elements())[:3]}")
        if (i + 1) % 50 == 0:
            print(f"  ... {i + 1}/{len(cases)} "
                  f"({failures} fail, {mismatches} mismatched, "
                  f"{expected} expected-loud, "
                  f"{time.time() - t0:.0f}s)")
    print(f"fuzz_render: {len(cases)} cases, {failures} failures "
          f"({mismatches} differential mismatches), "
          f"{expected} expected-loud errors, {time.time() - t0:.0f}s")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
