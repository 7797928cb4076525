"""Graphite render-target expression language over the series catalog.

The reference's users don't call Python functions — they write render
targets like ``summarize(scale(cpu.*, 0.001), '1h', 'max')`` against
graphite-web, which evaluates them over fetched series. This module is
that consumer surface for the Spark engine: a recursive-descent parser
for the target grammar plus an evaluator that maps every function call
onto :mod:`kenshin_backup_spark.operators.seriesfns`. Because each
function is a lazy DataFrame transform, an arbitrarily nested target
still compiles into ONE Catalyst plan — graphite-web re-walks Python
lists per function. The evaluated argument of every nested call is
persisted through :func:`kenshin_backup_spark.cache.persist_tracked`, so
a subtree that a rank-then-join function references twice runs once and
the plan grows linearly with nesting depth; callers release those frames
with ``clear_tracked()`` when the request ends.

Grammar (graphite target subset)::

    expr   := call | leaf
    call   := NAME '(' arg (',' arg)* ')'
    arg    := expr | NUMBER | STRING
    leaf   := metric glob (dots, *, ?, {a,b}, [...])

Leaves resolve through a caller-supplied ``fetch_fn(glob) -> DataFrame``
returning the canonical series frame ``(metric, bucket_ts, value)`` —
storage-agnostic, so targets run equally over an :class:`Engine` store,
a rollup table, or a test fixture.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from kenshin_backup_spark.attime import _unit_seconds
from kenshin_backup_spark.cache import persist_tracked
from kenshin_backup_spark.operators import seriesfns as sf

# --- interval strings -------------------------------------------------------

def parse_interval(text: str | int | float) -> int:
    """``'1h'`` → 3600; bare numbers are seconds (graphite semantics).

    Units resolve by PREFIX exactly like graphite's ``getUnitString``
    (attime's shared table): ``seconds/minutes/hours/days/weeks/
    months(=30d)/years(=365d)`` all by their leading letters, so
    ``'2hours'``, ``'1mon'`` and ``'10y'`` are valid intervals —
    graphite's summarize/hitcount/moving* call parseTimeOffset on the
    same strings (r13; the old exact-key table rejected mon/y and the
    long spellings, and ACCEPTED a bare ``'m'`` graphite rejects as
    ambiguous min/month)."""
    if isinstance(text, (int, float)):
        return int(text)
    m = re.fullmatch(r"\s*(-?\d+)\s*([a-zA-Z]*)\s*", text)
    if not m:
        raise ValueError(f"bad interval {text!r}")
    n, unit = int(m.group(1)), m.group(2).lower()
    if not unit:
        return n
    try:
        return n * _unit_seconds(unit)
    except ValueError:
        raise ValueError(f"bad interval unit {unit!r} in {text!r}") from None


# --- tokenizer / parser -----------------------------------------------------

# The glob token's trailing ``(?:;tag=value)*`` arm makes a BARE TAGGED
# NAME (``mem.used;dc=east;app=a`` — what seriesByTag yields and what
# graphite-1.1's tagdb resolves directly) a parseable leaf: it reaches
# fetch as an exact-match (or glob) metric predicate like any other
# name. Required by every function that RE-QUERIES a series name
# (aliasQuery) over a tagged store — r12 fuzz find #1. A glob may also
# START with ``.`` (graphite's Word-of-printables grammar accepts
# ``.*``): templating functions build such targets from EMPTY prefixes
# (applyByNode(x, -2, 'f(%.*)') over a dotless name), and the leaf then
# fetches nothing — graceful-empty, like graphite's finder.
_TOKEN = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<string>'[^']*'|"[^"]*")
    | (?P<number>-?\d+(?:\.\d+)?[eE]-?\d+(?![\w.*{])|-?\d+\.\d+|-?\d+(?![\w.*{]))
    | (?P<lparen>\()
    | (?P<rparen>\))
    | (?P<comma>,)
    | (?P<eq>=)
    | (?P<glob>(?:\{[^}]*\}|[A-Za-z_*?\[\].])(?:\{[^}]*\}|[\w.\-*?\[\]])*
                (?:;[\w.\-]+=[\w.\-*?:/%+]*)*)
    """,
    re.VERBOSE,
)


@dataclass
class _Tok:
    kind: str
    text: str


def _tokenize(target: str) -> list[_Tok]:
    out, pos = [], 0
    while pos < len(target):
        m = _TOKEN.match(target, pos)
        if not m:
            raise ValueError(f"bad token at {target[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(_Tok(kind, m.group()))
    return out


class _Parser:
    """Recursive descent over the target grammar.

    Ambiguity note: a glob token followed by ``(`` is a function CALL;
    otherwise it is a metric leaf. ``{a,b}`` alternation braces contain
    commas — the tokenizer keeps them inside the glob token, so argument
    splitting never sees them."""

    def __init__(self, toks: list[_Tok]):
        self.toks = toks
        self.i = 0

    def peek(self) -> _Tok | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self, kind: str | None = None) -> _Tok:
        t = self.peek()
        if t is None or (kind and t.kind != kind):
            raise ValueError(f"expected {kind}, got {t}")
        self.i += 1
        return t

    def expr(self):
        t = self.take()
        if t.kind == "glob":
            nxt = self.peek()
            if nxt and nxt.kind == "lparen":
                self.take("lparen")
                args = []
                if self.peek() and self.peek().kind != "rparen":
                    args.append(self.arg())
                    while self.peek() and self.peek().kind == "comma":
                        self.take("comma")
                        args.append(self.arg())
                self.take("rparen")
                return ("call", t.text, args)
            return ("leaf", t.text)
        raise ValueError(f"expected expression, got {t}")

    def arg(self):
        t = self.peek()
        # keyword argument (graphite URL-target form):
        #   summarize(x, '1h', alignToFrom=true)
        # a glob token immediately followed by '=' is a parameter name
        if (
            t is not None
            and t.kind == "glob"
            and self.i + 1 < len(self.toks)
            and self.toks[self.i + 1].kind == "eq"
        ):
            self.take()  # name
            self.take("eq")
            value = self.arg()
            if value[0] == "kw":
                raise ValueError(f"nested keyword argument after {t.text}=")
            return ("kw", t.text, value)
        if t.kind == "string":
            self.take()
            return ("str", t.text[1:-1])
        if t.kind == "number":
            self.take()
            # scientific notation is a FLOAT, like graphite's sciNumber
            # (grammar.py: (float|int) 'e' int — exponent sign '-' only)
            is_float = "." in t.text or "e" in t.text.lower()
            return ("num", float(t.text) if is_float else int(t.text))
        # graphite booleans (sortBy(x, 'avg', true)) — a bare true/false
        # NOT followed by '(' is a literal, never a metric leaf
        if (
            t.kind == "glob"
            and t.text.lower() in ("true", "false")
            and not (
                self.i + 1 < len(self.toks)
                and self.toks[self.i + 1].kind == "lparen"
            )
        ):
            self.take()
            return ("bool", t.text.lower() == "true")
        # graphite None (asPercent(x, None, 1) — the explicit no-total
        # placeholder before *nodes): same literal rule as booleans
        if (
            t.kind == "glob"
            and t.text.lower() == "none"
            and not (
                self.i + 1 < len(self.toks)
                and self.toks[self.i + 1].kind == "lparen"
            )
        ):
            self.take()
            return ("none", None)
        return self.expr()

    def parse(self):
        # graphite's grammar has no top-level scalar: a WHOLE target
        # that is a bare number is a pathExpression (Word-of-printables)
        # fetched as a metric name. constantLine-derived series names
        # ("4.0") re-query exactly this way through aliasQuery — the
        # leaf then fetches nothing and aliasQuery raises graphite's
        # 'no series found' (r13 fuzz find, seed 999003). Numbers in
        # ARGUMENT position are unaffected (arg() consumes them first).
        if len(self.toks) == 1 and self.toks[0].kind == "number":
            return ("leaf", self.toks[0].text)
        # an empty target: aliasQuery re-queries a series named '' (the
        # name sumSeriesWithWildcards(seriesByTag(...), 0) gives) as one
        if not self.toks:
            raise ValueError("render: empty target expression")
        node = self.expr()
        if self.peek() is not None:
            raise ValueError(f"trailing input at {self.peek()}")
        return node


# --- evaluator --------------------------------------------------------------

#: functions that graphite-web implements by returning / mutating the
#: SAME TimeSeries objects — renames, display attributes, sorts,
#: filters, and the in-place per-point value mutators — so the series'
#: consolidationFunc / xFilesFactor hints survive them. The evaluator
#: threads consolidateBy/cumulative/xFilesFactor state through these
#: to consolidate_points (ADVICE r8: alias(consolidateBy(m,"max"),'x')
#: must keep the max kernel). Functions that CONSTRUCT new TimeSeries
#: in graphite (derivative/perSecond/moving*/summarize/timeShift and
#: every multi-series combine) reset the hint to default exactly as
#: graphite does.
_HINT_PRESERVING = frozenset({
    "alias", "aliasByMetric", "aliasByNode", "aliasByTags", "aliasSub",
    "substr", "legendValue", "cactiStyle",
    "alpha", "color", "dashed", "drawAsInfinite", "lineWidth",
    "secondYAxis", "stacked", "areaBetween",
    "sortBy", "sortByMaxima", "sortByMinima", "sortByName", "sortByTotal",
    "limit",
    "averageAbove", "averageBelow", "averageOutsidePercentile",
    "currentAbove", "currentBelow", "exclude", "grep", "filterSeries",
    "highest", "highestAverage", "highestCurrent", "highestMax",
    "lowest", "lowestAverage", "lowestCurrent",
    "maximumAbove", "maximumBelow", "minimumAbove", "minimumBelow",
    "mostDeviant", "removeEmptySeries",
    # graphite's in-place per-point value mutators (functions.py writes
    # series[i] = ... on the same object and only renames it)
    "scale", "scaleToSeconds", "offset", "offsetToZero", "absolute",
    "invert", "logarithm", "squareRoot", "sigmoid", "logit", "exp", "pow",
    "round", "add", "minMax", "transformNull", "keepLastValue",
    "interpolate", "isNonNull",
    "removeAboveValue", "removeBelowValue",
    "removeAbovePercentile", "removeBelowPercentile",
    "removeBetweenPercentile",
    # multi-input passthroughs: graphite returns the same series
    # objects through these, so the hint survives when EVERY input
    # branch carries the same one (the all-equal rule in _hinted);
    # mixed/partial hints drop to the per-series legend fallback
    "group", "unique",
})


def _to_bool(x) -> bool:
    """Coerce a parsed scalar to bool the way graphite's param parser
    does: the STRINGS 'false'/'0'/'' (any case) are False — a quoted
    'false' in ``sortBy(x,'avg','false')`` must not reverse the sort
    (ADVICE r8). Bare-token true/false literals arrive as real bools."""
    if isinstance(x, str):
        return x.strip().lower() not in ("false", "0", "")
    return bool(x)


def _need(args, n_min, n_max, name):
    if not (n_min <= len(args) <= n_max):
        raise ValueError(f"{name}: expected {n_min}..{n_max} args, got {len(args)}")


def _as_percent_target(d, s):
    """``asPercent(series[, total[, *nodes]])`` dispatch. Forms:
    no args → all-series total; a numeric scalar → constant total; a
    second series expression → graphite's matchSeries rules; ``None``
    or a total series followed by integer nodes → the GROUPING form
    (r10, :func:`seriesfns.as_percent_nodes`). The one form graphite
    itself rejects — a constant total combined with nodes — raises,
    as does any 3+-series call (ADVICE r10: never silently drop
    arguments)."""
    if len(d) > 2:
        raise ValueError(
            "asPercent: at most one total series expression is "
            f"supported, got {len(d)} series arguments"
        )
    # nodes forms: scalars beyond the total slot must be integers
    if (len(d) > 1 and s) or len(s) > 1:
        if len(d) == 1 and s[0] is not None:
            raise ValueError(
                "asPercent: total must be None or a seriesList when "
                "*nodes are given (graphite rejects a constant total "
                "with nodes)"
            )
        # kwarg resolution pads the total slot with its None default when
        # the total arrived as a SERIES (asPercent(a.*, b.total, nodes=1)
        # resolves scalars to [None, 1]) — drop padded Nones before
        # converting; every remaining scalar is a node index (ADVICE r10)
        raw = s if len(d) > 1 else s[1:]
        nodes = [int(x) for x in raw if x is not None]
        if not nodes:
            return sf.as_percent(d[0], d[1] if len(d) > 1 else None)
        return sf.as_percent_nodes(
            d[0], nodes, d[1] if len(d) > 1 else None
        )
    if s and s[0] is None:
        # explicit None total, no nodes — same as the bare form
        return sf.as_percent(d[0], None)
    return sf.as_percent(
        d[0], d[1] if len(d) > 1 else (float(s[0]) if s else None)
    )


#: graphite function name → evaluator(df_args, scalar_args) (scalars keep
#: their parse kinds so interval strings can be distinguished from counts)
def _registry() -> dict[str, Callable]:
    return {
        "alias": lambda d, s: sf.alias_series(d[0], str(s[0])),
        "scale": lambda d, s: sf.scale(d[0], float(s[0])),
        "offset": lambda d, s: sf.offset(d[0], float(s[0])),
        "absolute": lambda d, s: sf.absolute(d[0]),
        # fallback (no refetch) frame shift — sign-consistent with
        # graphite and the refetch path: '1h' and '-1h' both show the
        # PAST value at each slot (timestamps move forward), '+1h' the
        # future one (r10 review fix — '-1h' previously moved the
        # frame backward, the opposite of graphite)
        "timeShift": lambda d, s: sf.time_shift(
            d[0], _time_shift_frame_delta(s[0])
        ),
        "keepLastValue": lambda d, s: sf.keep_last_value(
            d[0], int(s[0]) if s else None
        ),
        "derivative": lambda d, s: sf.derivative(d[0]),
        "nonNegativeDerivative": lambda d, s: sf.non_negative_derivative(
            d[0],
            float(s[0]) if len(s) > 0 and s[0] is not None else None,
            float(s[1]) if len(s) > 1 and s[1] is not None else None,
        ),
        "perSecond": lambda d, s: sf.per_second(
            d[0],
            float(s[0]) if len(s) > 0 and s[0] is not None else None,
            float(s[1]) if len(s) > 1 and s[1] is not None else None,
        ),
        "integral": lambda d, s: sf.integral(d[0]),
        # graphite accepts a point count OR a quoted interval ('2h') —
        # strings route to the RANGE-frame time variant (fuzz-found gap)
        "movingAverage": lambda d, s: (
            sf.moving_average_time(d[0], parse_interval(s[0]), _xff(s, 1))
            if isinstance(s[0], str)
            else sf.moving_average(d[0], int(s[0]), _xff(s, 1))
        ),
        # round-6: the rest of the rolling family, same dual dispatch
        "movingSum": lambda d, s: _moving(sf.moving_sum, d[0], s[0],
                                          _xff(s, 1)),
        "movingMin": lambda d, s: _moving(sf.moving_min, d[0], s[0],
                                          _xff(s, 1)),
        "movingMax": lambda d, s: _moving(sf.moving_max, d[0], s[0],
                                          _xff(s, 1)),
        "movingMedian": lambda d, s: _moving(sf.moving_median, d[0], s[0],
                                             _xff(s, 1)),
        "percentileOfSeries": lambda d, s: sf.percentile_of_series(
            d[0], float(s[0]),
            interpolate=_to_bool(s[1]) if len(s) > 1 else False,
        ),
        "weightedAverage": lambda d, s: sf.weighted_average(
            d[0], d[1], *[int(x) for x in s]
        ),
        "sortByName": lambda d, s: sf.sort_by_name_series(
            d[0],
            _to_bool(s[0]) if len(s) > 0 else False,
            _to_bool(s[1]) if len(s) > 1 else False,
        ),
        # round-6 wave 2
        "aliasSub": lambda d, s: sf.alias_sub(d[0], str(s[0]), str(s[1])),
        "scaleToSeconds": lambda d, s: sf.scale_to_seconds(d[0], int(s[0])),
        "removeEmptySeries": lambda d, s: sf.remove_empty_series(
            d[0], float(s[0]) if s else None
        ),
        "isNonNull": lambda d, s: sf.is_non_null(d[0]),
        "changed": lambda d, s: sf.changed(d[0]),
        "delay": lambda d, s: sf.delay(d[0], int(s[0])),
        "hitcount": lambda d, s: sf.hitcount(d[0], parse_interval(s[0])),
        "integralByInterval": lambda d, s: sf.integral_by_interval(
            d[0], parse_interval(s[0])
        ),
        "averageOutsidePercentile": lambda d, s: sf.average_outside_percentile(
            d[0], float(s[0])
        ),
        "group": lambda d, s: sf.group_series(d),
        # graphite summarize(series, interval, func, alignToFrom=false):
        # alignToFrom buckets from the window start instead of the epoch
        # — exactly smartSummarize's frame-model semantics
        "summarize": lambda d, s: (
            sf.smart_summarize if len(s) > 2 and _to_bool(s[2])
            else sf.summarize
        )(d[0], parse_interval(s[0]), str(s[1]) if len(s) > 1 else "sum"),
        # graphite-web's selector, filter, sort and combine shorthands
        # are one-line calls into the generic highest/lowest,
        # filterSeries, sortBy and aggregate; so are these. The sorts
        # attach __series_order, so limit() composes (the
        # top-N-by-total idiom)
        "highestCurrent": lambda d, s: sf.highest(d[0], int(s[0]), "current"),
        "sortByMaxima": lambda d, s: sf.sort_by(d[0], "max", reverse=True),
        "sortByTotal": lambda d, s: sf.sort_by(d[0], "total", reverse=True),
        "aliasByNode": lambda d, s: sf.alias_by_node(d[0], *[int(x) for x in s]),
        # default callback is graphite's "average" (r9 fix)
        "groupByNode": lambda d, s: sf.group_by_node(
            d[0], int(s[0]), str(s[1]) if len(s) > 1 else "average"
        ),
        # graphite's combine functions take *seriesLists — several
        # series expressions union before combining (r10; single-arg
        # calls keep their exact previous plan)
        "sumSeries": lambda d, s: sf.sum_series(_union(d)),
        "averageSeries": lambda d, s: sf.average_series(_union(d)),
        "exclude": lambda d, s: sf.exclude(d[0], str(s[0])),
        "grep": lambda d, s: sf.grep(d[0], str(s[0])),
        "mostDeviant": lambda d, s: sf.most_deviant(d[0], int(s[0])),
        "limit": lambda d, s: sf.limit_series(d[0], int(s[0])),
        # asPercent(series[, total[, *nodes]]): total is a second series
        # expression, a numeric constant, or None; trailing integer
        # nodes select the grouping form (r10). The forms graphite
        # rejects fail LOUDLY rather than silently dropping arguments
        # (r10 ADVICE fix).
        "asPercent": lambda d, s: _as_percent_target(d, s),
        "minSeries": lambda d, s: sf.aggregate_series(_union(d), "min"),
        "maxSeries": lambda d, s: sf.aggregate_series(_union(d), "max"),
        "countSeries": lambda d, s: sf.aggregate_series(_union(d), "count"),
        "diffSeries": lambda d, s: sf.diff_series(d[0], d[1]),
        "divideSeries": lambda d, s: sf.divide_series(d[0], d[1]),
        "removeAboveValue": lambda d, s: sf.remove_above_value(d[0], float(s[0])),
        "removeBelowValue": lambda d, s: sf.remove_below_value(d[0], float(s[0])),
        "transformNull": lambda d, s: sf.transform_null(
            d[0], float(s[0]) if s else 0.0
        ),
        # round-5 catalog widening
        "invert": lambda d, s: sf.invert(d[0]),
        "squareRoot": lambda d, s: sf.square_root(d[0]),
        "pow": lambda d, s: sf.pow_series(d[0], float(s[0])),
        "offsetToZero": lambda d, s: sf.offset_to_zero(d[0]),
        "rangeOfSeries": lambda d, s: sf.aggregate_series(
            _union(d), "range", name="rangeOfSeries"
        ),
        "stddevSeries": lambda d, s: sf.aggregate_series(_union(d), "stddev"),
        "multiplySeries": lambda d, s: sf.multiply_series(_union(d)),
        "lowestCurrent": lambda d, s: sf.lowest(d[0], int(s[0]), "current"),
        "highestAverage": lambda d, s: sf.highest(d[0], int(s[0]), "average"),
        "lowestAverage": lambda d, s: sf.lowest(d[0], int(s[0]), "average"),
        "minimumAbove": lambda d, s: sf.filter_series(
            d[0], "min", ">", float(s[0])
        ),
        "maximumBelow": lambda d, s: sf.filter_series(
            d[0], "max", "<", float(s[0])
        ),
        "nPercentile": lambda d, s: sf.n_percentile(d[0], float(s[0])),
        "removeAbovePercentile": lambda d, s: sf.remove_above_percentile(
            d[0], float(s[0]),
            interpolate=_to_bool(s[1]) if len(s) > 1 else False,
        ),
        "removeBelowPercentile": lambda d, s: sf.remove_below_percentile(
            d[0], float(s[0]),
            interpolate=_to_bool(s[1]) if len(s) > 1 else False,
        ),
        "timeSlice": lambda d, s: sf.time_slice(
            d[0], parse_interval(s[0]), parse_interval(s[1])
        ),
        "averageAbove": lambda d, s: sf.filter_series(
            d[0], "average", ">", float(s[0])
        ),
        "averageBelow": lambda d, s: sf.filter_series(
            d[0], "average", "<", float(s[0])
        ),
        "currentAbove": lambda d, s: sf.filter_series(
            d[0], "current", ">", float(s[0])
        ),
        "currentBelow": lambda d, s: sf.filter_series(
            d[0], "current", "<", float(s[0])
        ),
        # leaf-style call — intercepted in render()'s evaluator before
        # this entry is ever invoked; present here so the name resolves
        # and SUPPORTED_FUNCTIONS lists it
        "seriesByTag": None,
        "aliasByTags": lambda d, s: sf.alias_by_tags(d[0], *[str(x) for x in s]),
        "groupByTags": lambda d, s: sf.group_by_tags(
            d[0], str(s[0]), *[str(x) for x in s[1:]]
        ),
        # --- wave 3 (round 7) -----------------------------------------------
        "linearRegression": lambda d, s: sf.linear_regression(d[0]),
        # graphite defaults: timeShiftUnit='1d', start=0, end=7 (r10 —
        # previously all three were required). Sign rules via
        # _time_shift_frame_delta: graphite normalizes digit-leading
        # units to '-', so '1d' and '-1d' both stack into the PAST;
        # '+1d' into the future (ADVICE r10 — parse_interval('-1d')
        # alone inverted this). The legend carries the NORMALIZED unit,
        # as graphite's does (r11 — _time_stack_label).
        "timeStack": lambda d, s: sf.time_stack(
            d[0],
            _time_shift_frame_delta(s[0]) if s else 86400,
            int(s[1]) if len(s) > 1 else 0,
            int(s[2]) if len(s) > 2 else 7,
            unit_label=_time_stack_label(s[0]) if s else "-1d",
        ),
        "stdev": lambda d, s: sf.stdev_series_window(
            d[0], int(s[0]), float(s[1]) if len(s) > 1 else 0.1
        ),
        "sumSeriesWithWildcards": lambda d, s: sf.sum_series_with_wildcards(
            d[0], *[int(x) for x in s]
        ),
        "averageSeriesWithWildcards": (
            lambda d, s: sf.average_series_with_wildcards(
                d[0], *[int(x) for x in s]
            )
        ),
        "substr": lambda d, s: sf.substr_series(
            d[0],
            int(s[0]) if s else 0,
            int(s[1]) if len(s) > 1 else 0,
        ),
        "logarithm": lambda d, s: sf.logarithm(
            d[0], float(s[0]) if s else 10.0
        ),
        # graphite-web's own definition: drop series whose max is not
        # positive, then sort ascending by min
        "sortByMinima": lambda d, s: sf.sort_by(
            sf.filter_series(d[0], "max", ">", 0), "min"
        ),
        "maximumAbove": lambda d, s: sf.filter_series(
            d[0], "max", ">", float(s[0])
        ),
        "minimumBelow": lambda d, s: sf.filter_series(
            d[0], "min", "<", float(s[0])
        ),
        "interpolate": lambda d, s: sf.interpolate(
            d[0], int(s[0]) if s else None
        ),
        # display-only functions: data passes through; dashed /
        # drawAsInfinite / secondYAxis rename the series exactly as
        # graphite-web does, color / lineWidth change nothing data-side
        "dashed": lambda d, s: sf.dashed(
            d[0], float(s[0]) if s else 5.0
        ),
        "drawAsInfinite": lambda d, s: sf.draw_as_infinite(d[0]),
        "secondYAxis": lambda d, s: sf.second_y_axis(d[0]),
        "color": lambda d, s: d[0],
        "lineWidth": lambda d, s: d[0],
        "exponentialMovingAverage": lambda d, s: (
            sf.exponential_moving_average(d[0], int(s[0]))
        ),
        "aggregateLine": lambda d, s: sf.aggregate_line(
            d[0], str(s[0]) if s else "avg"
        ),
        "minMax": lambda d, s: sf.min_max(d[0]),
        "sigmoid": lambda d, s: sf.sigmoid_series(d[0]),
        "logit": lambda d, s: sf.logit_series(d[0]),
        "exp": lambda d, s: sf.exp_series(d[0]),
        "round": lambda d, s: sf.round_series(
            d[0], int(s[0]) if s else 0
        ),
        "add": lambda d, s: sf.offset(d[0], float(s[0])),
        "groupByNodes": lambda d, s: sf.group_by_nodes(
            d[0], str(s[0]), *[int(x) for x in s[1:]]
        ),
        "smartSummarize": lambda d, s: sf.smart_summarize(
            d[0], parse_interval(s[0]), str(s[1]) if len(s) > 1 else "sum"
        ),
        "consolidateBy": lambda d, s: sf.consolidate_by(d[0], str(s[0])),
        # render-time xFilesFactor hint: passthrough here, carried as
        # evaluator state to consolidate_points (same rail as the
        # consolidateBy kernel — closes the SCALE.md r8 non-goal)
        "xFilesFactor": lambda d, s: sf.set_xfiles_factor(
            d[0], float(s[0])
        ),
        "setXFilesFactor": lambda d, s: sf.set_xfiles_factor(
            d[0], float(s[0])
        ),
        "cactiStyle": lambda d, s: sf.cacti_style(d[0]),
        # display-only passthroughs (opacity / paired-area fill hints)
        "alpha": lambda d, s: d[0],
        "areaBetween": lambda d, s: sf.group_series(d),
        # evaluator special-case like seriesByTag: needs fetch_fn to
        # pull the substituted metric names
        "useSeriesAbove": None,
        # generator special-case: at-time marker, handled in gen()
        "verticalLine": None,
        # --- wave 4 (round 8): the generic family -------------------------
        # graphite aggregate(func, xFilesFactor=None): the per-bucket
        # non-gap-fraction gate (r10)
        "aggregate": lambda d, s: sf.aggregate_series(
            d[0], str(s[0]),
            x_files_factor=(
                float(s[1]) if len(s) > 1 and s[1] is not None else None
            ),
        ),
        "aggregateWithWildcards": lambda d, s: sf.aggregate_with_wildcards(
            d[0], str(s[0]), *[int(x) for x in s[1:]]
        ),
        "multiplySeriesWithWildcards": (
            lambda d, s: sf.multiply_series_with_wildcards(
                d[0], *[int(x) for x in s]
            )
        ),
        "movingWindow": lambda d, s: sf.moving_window(
            d[0], s[0], str(s[1]) if len(s) > 1 else "average",
            _xff(s, 2),
        ),
        "highest": lambda d, s: sf.highest(
            d[0], int(s[0]) if s else 1,
            str(s[1]) if len(s) > 1 else "average",
        ),
        "lowest": lambda d, s: sf.lowest(
            d[0], int(s[0]) if s else 1,
            str(s[1]) if len(s) > 1 else "average",
        ),
        "highestMax": lambda d, s: sf.highest(d[0], int(s[0]), "max"),
        "sortBy": lambda d, s: sf.sort_by(
            d[0], str(s[0]) if s else "average",
            _to_bool(s[1]) if len(s) > 1 else False,
        ),
        "filterSeries": lambda d, s: sf.filter_series(
            d[0], str(s[0]), str(s[1]), float(s[2])
        ),
        "removeBetweenPercentile": (
            lambda d, s: sf.remove_between_percentile(d[0], float(s[0]))
        ),
        "unique": lambda d, s: sf.unique_series(d),
        "aliasByMetric": lambda d, s: sf.alias_by_metric(d[0]),
        "fallbackSeries": lambda d, s: sf.fallback_series(d[0], d[1]),
        "cumulative": lambda d, s: sf.cumulative(d[0]),
        "stacked": lambda d, s: sf.stacked_series(
            d[0], str(s[0]) if s else "__DEFAULT__"
        ),
        "legendValue": lambda d, s: sf.legend_value(
            d[0], *[str(x) for x in s]
        ),
        "powSeries": lambda d, s: sf.pow_series_combine(
            sf.group_series(d)
        ),
        "aggregateSeriesLists": lambda d, s: sf.combine_series_lists(
            d[0], d[1], str(s[0])
        ),
        "sumSeriesLists": lambda d, s: sf.combine_series_lists(
            d[0], d[1], "sum"
        ),
        "diffSeriesLists": lambda d, s: sf.combine_series_lists(
            d[0], d[1], "diff"
        ),
        "multiplySeriesLists": lambda d, s: sf.combine_series_lists(
            d[0], d[1], "multiply"
        ),
        "divideSeriesLists": lambda d, s: sf.combine_series_lists(
            d[0], d[1], "divide"
        ),
        # Holt-Winters forecasting family (wave 4c). These lambdas are
        # the NO-REFETCH fallback (bare render() without refetch_fn):
        # bootstrapInterval is ignored there (documented frame-only
        # deviation), seasonality is honored. With refetch_fn the ev()
        # special case re-fetches the bootstrap history instead (r10).
        "holtWintersForecast": lambda d, s: sf.holt_winters_forecast(
            d[0], season_seconds=_hw_season(s, 1)
        ),
        "holtWintersConfidenceBands": (
            lambda d, s: sf.holt_winters_confidence_bands(
                d[0],
                float(s[0]) if len(s) > 0 and s[0] is not None else 3.0,
                season_seconds=_hw_season(s, 2),
            )
        ),
        "holtWintersAberration": (
            lambda d, s: sf.holt_winters_aberration(
                d[0],
                float(s[0]) if len(s) > 0 and s[0] is not None else 3.0,
                season_seconds=_hw_season(s, 2),
            )
        ),
        # graphite's confidence AREA is the bands with a filled display
        # — identical data, names kept as the bands emit them (the fill
        # is a UI concern; documented display-only deviation)
        "holtWintersConfidenceArea": (
            lambda d, s: sf.holt_winters_confidence_bands(
                d[0],
                float(s[0]) if len(s) > 0 and s[0] is not None else 3.0,
                season_seconds=_hw_season(s, 2),
            )
        ),
        # map/reduce over name nodes (wave 4d). mapSeries is an identity
        # in the frame model — the grouping key is derived from the
        # names, which the frame keeps (see seriesfns.reduce_series)
        "mapSeries": lambda d, s: d[0],
        "reduceSeries": lambda d, s: sf.reduce_series(
            d[0], str(s[0]), int(s[1]), *[str(x) for x in s[2:]]
        ),
        # evaluator special-case: re-renders a template per name prefix
        "applyByNode": None,
        "aliasQuery": None,
        # generator functions (wave 4b) — leaf-style, no series argument;
        # intercepted in render() because they need the request window
        "time": None,
        "timeFunction": None,
        "identity": None,
        "sin": None,
        "sinFunction": None,
        "randomWalk": None,
        "randomWalkFunction": None,
        "constantLine": None,
        "threshold": None,
        # events(*tags): needs the request window AND the caller's event
        # store (events_fn) — intercepted in render()
        "events": None,
    }


#: graphite-web's short aliases (SeriesFunctions maps several names to
#: the same callable): real dashboard URLs use sum(x.*) / avg(x.*) /
#: pct(a, b) / log(x, 2). Added to the registry after construction so
#: every alias shares its target's lambda exactly (r10).
_ALIASES = {
    "sum": "sumSeries",
    "avg": "averageSeries",
    "pct": "asPercent",
    "log": "logarithm",
}


def _xff(scalars, i) -> float | None:
    """Optional trailing xFilesFactor scalar for the moving family."""
    return float(scalars[i]) if len(scalars) > i else None


def _time_shift_frame_delta(txt) -> int:
    """Net FRAME timestamp shift for the timeShift fallback — graphite's
    sign rules mapped onto the in-frame form: an unsigned or '-' offset
    shows the past value at each slot (timestamps move FORWARD by the
    magnitude), '+' shows the future one. Matches the refetch path's
    fetch-then-unshift arithmetic exactly. Also the timeStack interval
    (ADVICE r10): graphite normalizes a digit-leading unit to '-', so
    '1d' and '-1d' both stack into the past, '+1d' into the future."""
    t = str(txt).strip()
    if t.startswith("+"):
        return -parse_interval(t[1:])
    if t[:1].isdigit():
        return parse_interval(t)
    return -parse_interval(t)  # '-1h' → parse gives −3600 → +3600


def _time_stack_label(txt) -> str:
    """graphite timeStack normalizes a digit-leading unit to '-' BEFORE
    formatting the legend — ``timeStack(x, '1d')`` names its copies
    ``timeShift(x, -1d, i)`` (r11; previously the literal text)."""
    t = str(txt).strip()
    return t if t[:1] in "+-" else "-" + t


def _time_stack_range(scalars) -> tuple[int, int, int]:
    """timeStack's (interval, start, end): copy ``i`` for ``i`` in
    ``range(start, end)`` is the series ``i·interval`` seconds back (a
    negative interval stacks into the future); defaults '1d', 0, 7."""
    interval = (
        _time_shift_frame_delta(scalars[0])
        if len(scalars) > 0 and scalars[0] is not None else 86400
    )
    t_start = (
        int(scalars[1]) if len(scalars) > 1 and scalars[1] is not None else 0
    )
    t_end = (
        int(scalars[2]) if len(scalars) > 2 and scalars[2] is not None else 7
    )
    return interval, t_start, t_end


def _linreg_source(scalars, wfrom: int, wuntil: int) -> tuple[int, int]:
    """linearRegression's source window: startSourceAt/endSourceAt
    at-time strings resolved against the request end, each defaulting
    to the request's own bound."""
    from kenshin_backup_spark.attime import parse_at_time

    src_from = (
        parse_at_time(scalars[0], now_ts=wuntil)
        if len(scalars) > 0 and scalars[0] is not None else wfrom
    )
    src_until = (
        parse_at_time(scalars[1], now_ts=wuntil)
        if len(scalars) > 1 and scalars[1] is not None else wuntil
    )
    return src_from, src_until


def _hw_bootstrap(name: str, scalars) -> int:
    """holtWinters' bootstrapInterval in seconds (graphite default '7d');
    it is the first scalar of holtWintersForecast, the second of the
    others (after delta)."""
    i = 0 if name == "holtWintersForecast" else 1
    if len(scalars) > i and scalars[i] is not None:
        return parse_interval(scalars[i])
    return parse_interval("7d")


def _union(d: list) -> "DataFrame":
    """graphite's *seriesLists: several series expressions union before
    a combine function; a single argument passes through untouched (so
    one-arg calls keep their exact previous plan)."""
    return sf.group_series(d) if len(d) > 1 else d[0]


def _hw_season(scalars, i) -> int:
    """Optional holtWinters seasonality scalar (graphite default '1d')."""
    if len(scalars) > i and scalars[i] is not None:
        return parse_interval(scalars[i])
    return 86400


def _moving(fn, df, window, x_files_factor=None):
    """Dual dispatch shared by the rolling family: a quoted interval
    ('2h') routes to the RANGE-frame time variant, a bare number to the
    point-count variant (graphite accepts both)."""
    if isinstance(window, str):
        return fn(df, window_seconds=parse_interval(window),
                  x_files_factor=x_files_factor)
    return fn(df, window_points=int(window),
              x_files_factor=x_files_factor)


def _align_to_calendar_unit(ts: int, unit: str) -> int:
    """graphite ``smartSummarize(…, alignTo=…)`` start truncation: the
    request start truncates down to the named calendar unit before the
    re-fetch (graphite's getUnitString accepts any prefix of the unit
    name; weeks align to SUNDAY via ``isoweekday() % 7``). UTC
    throughout — the engine is clock-free (graphite uses the request
    timezone; documented deviation, same as _align_request_start)."""
    import datetime as _dt

    u = str(unit)
    s = _dt.datetime.fromtimestamp(int(ts), _dt.timezone.utc)
    if u.startswith("year"):
        n = s.replace(month=1, day=1, hour=0, minute=0, second=0,
                      microsecond=0)
    elif u.startswith("month"):
        n = s.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    elif u.startswith("week"):
        n = s.replace(hour=0, minute=0, second=0, microsecond=0)
        n = n - _dt.timedelta(days=s.isoweekday() % 7)
    elif u.startswith("day"):
        n = s.replace(hour=0, minute=0, second=0, microsecond=0)
    elif u.startswith("hour"):
        n = s.replace(minute=0, second=0, microsecond=0)
    elif u.startswith("minute"):
        n = s.replace(second=0, microsecond=0)
    elif u.startswith("second"):
        n = s.replace(microsecond=0)
    else:
        raise ValueError(
            f"smartSummarize: bad alignTo unit {unit!r} (expected a "
            "prefix of seconds/minutes/hours/days/weeks/months/years)"
        )
    return int(n.timestamp())


def _align_request_start(ts: int, interval: int) -> int:
    """graphite ``hitcount(alignToInterval=true)`` start truncation: a
    ≥1-day interval aligns the request start down to midnight, ≥1 h to
    the hour, ≥1 min to the minute; smaller intervals leave it
    unchanged. UTC throughout — the engine is clock-free (graphite uses
    the request timezone; documented deviation)."""
    for unit in (86400, 3600, 60):
        if interval >= unit:
            return ts - ts % unit
    return ts


class _Required:
    """Sentinel for a parameter that has no graphite default."""


class _Variadic:
    """Sentinel for a trailing ``multiple=True`` graphite parameter
    (``*nodes``-style). As a keyword it accepts ONE value — graphite URL
    kwargs bind a single token per name, so ``aliasByNode(x, nodes=1)``
    works but a multi-node call must stay positional. Always the last
    position, so it never participates in default padding."""


#: Keyword-argument support (graphite URL targets accept kwargs, e.g.
#: ``summarize(x,'1h',alignToFrom=true)``): each entry lists the
#: function's SCALAR parameters in positional order with their graphite
#: defaults. Kwargs are resolved back to the positional scalar list,
#: padding skipped positions with the defaults — which must therefore
#: equal what the registry lambda does when the position is absent.
#: Round 10: the table covers the FULL catalog — every function with at
#: least one scalar parameter (VERDICT r9 item 2); only genuinely
#: series-only signatures (absolute, sumSeries, cactiStyle, …) remain on
#: the explicit-reject path.
_KW_PARAMS: dict[str, tuple[tuple[str, object], ...]] = {
    "summarize": (
        ("intervalString", _Required), ("func", "sum"),
        ("alignToFrom", False),
    ),
    "smartSummarize": (
        ("intervalString", _Required), ("func", "sum"), ("alignTo", None),
    ),
    "movingAverage": (("windowSize", _Required), ("xFilesFactor", None)),
    "movingSum": (("windowSize", _Required), ("xFilesFactor", None)),
    "movingMin": (("windowSize", _Required), ("xFilesFactor", None)),
    "movingMax": (("windowSize", _Required), ("xFilesFactor", None)),
    "movingMedian": (("windowSize", _Required), ("xFilesFactor", None)),
    "movingWindow": (
        ("windowSize", _Required), ("func", "average"),
        ("xFilesFactor", None),
    ),
    "percentileOfSeries": (("n", _Required), ("interpolate", False)),
    "removeAbovePercentile": (("n", _Required), ("interpolate", False)),
    "removeBelowPercentile": (("n", _Required), ("interpolate", False)),
    "nonNegativeDerivative": (("maxValue", None), ("minValue", None)),
    "perSecond": (("maxValue", None), ("minValue", None)),
    "sortBy": (("func", "average"), ("reverse", False)),
    "sortByName": (("natural", False), ("reverse", False)),
    "removeEmptySeries": (("xFilesFactor", None),),
    "keepLastValue": (("limit", None),),
    "transformNull": (("default", 0),),
    "groupByNode": (("nodeNum", _Required), ("callback", "average")),
    "consolidateBy": (("consolidationFunc", _Required),),
    "xFilesFactor": (("xFilesFactor", _Required),),
    "setXFilesFactor": (("xFilesFactor", _Required),),
    "highest": (("n", 1), ("func", "average")),
    "lowest": (("n", 1), ("func", "average")),
    "stdev": (("points", _Required), ("windowTolerance", 0.1)),
    # holtWinters family (r10): bootstrapInterval re-fetches extra
    # history on the refetch rail; seasonality sets the season length
    "holtWintersForecast": (
        ("bootstrapInterval", "7d"), ("seasonality", "1d"),
    ),
    "holtWintersConfidenceBands": (
        ("delta", 3.0), ("bootstrapInterval", "7d"), ("seasonality", "1d"),
    ),
    "holtWintersConfidenceArea": (
        ("delta", 3.0), ("bootstrapInterval", "7d"), ("seasonality", "1d"),
    ),
    "holtWintersAberration": (
        ("delta", 3.0), ("bootstrapInterval", "7d"), ("seasonality", "1d"),
    ),
    "verticalLine": (("ts", _Required), ("label", "verticalLine")),
    "aliasSub": (("search", _Required), ("replace", _Required)),
    "interpolate": (("limit", None),),
    # --- round-10 full-catalog sweep (param names are graphite-web's
    # Param declarations; defaults mirror the registry lambdas) --------
    "alias": (("newName", _Required),),
    "scale": (("factor", _Required),),
    "offset": (("factor", _Required),),
    "add": (("constant", _Required),),
    "timeShift": (
        ("timeShift", _Required), ("resetEnd", True), ("alignDST", False),
    ),
    "scaleToSeconds": (("seconds", _Required),),
    "delay": (("steps", _Required),),
    "hitcount": (("intervalString", _Required), ("alignToInterval", False)),
    "integralByInterval": (("intervalUnit", _Required),),
    "averageOutsidePercentile": (("n", _Required),),
    "highestCurrent": (("n", _Required),),
    "lowestCurrent": (("n", _Required),),
    "highestAverage": (("n", _Required),),
    "lowestAverage": (("n", _Required),),
    "highestMax": (("n", _Required),),
    "mostDeviant": (("n", _Required),),
    "limit": (("n", _Required),),
    "nPercentile": (("n", _Required),),
    "removeBetweenPercentile": (("n", _Required),),
    "removeAboveValue": (("n", _Required),),
    "removeBelowValue": (("n", _Required),),
    "minimumAbove": (("n", _Required),),
    "minimumBelow": (("n", _Required),),
    "maximumAbove": (("n", _Required),),
    "maximumBelow": (("n", _Required),),
    "averageAbove": (("n", _Required),),
    "averageBelow": (("n", _Required),),
    "currentAbove": (("n", _Required),),
    "currentBelow": (("n", _Required),),
    "exclude": (("pattern", _Required),),
    "grep": (("pattern", _Required),),
    "pow": (("factor", _Required),),
    "exponentialMovingAverage": (("windowSize", _Required),),
    "substr": (("start", 0), ("stop", 0)),
    "logarithm": (("base", 10),),
    "round": (("precision", 0),),
    "dashed": (("dashLength", 5.0),),
    "color": (("theColor", _Required),),
    "lineWidth": (("width", _Required),),
    "alpha": (("alpha", _Required),),
    "aggregateLine": (("func", "avg"),),
    "stacked": (("stackName", "__DEFAULT__"),),
    "asPercent": (("total", None), ("nodes", _Variadic)),
    "timeSlice": (("startSliceAt", _Required), ("endSliceAt", _Required)),
    "timeStack": (
        ("timeShiftUnit", "1d"), ("timeShiftStart", 0),
        ("timeShiftEnd", 7),
    ),
    "linearRegression": (("startSourceAt", None), ("endSourceAt", None)),
    "filterSeries": (
        ("func", _Required), ("operator", _Required),
        ("threshold", _Required),
    ),
    "aggregate": (("func", _Required), ("xFilesFactor", None)),
    "aggregateSeriesLists": (("func", _Required),),
    "useSeriesAbove": (
        ("value", _Required), ("search", _Required),
        ("replace", _Required),
    ),
    "applyByNode": (
        ("nodeNum", _Required), ("templateFunction", _Required),
        ("newName", None),
    ),
    "aliasQuery": (
        ("search", _Required), ("replace", _Required),
        ("newName", _Required),
    ),
    "reduceSeries": (
        ("reduceFunction", _Required), ("reduceNode", _Required),
        ("reduceMatchers", _Variadic),
    ),
    "mapSeries": (("mapNodes", _Variadic),),
    "aliasByNode": (("nodes", _Variadic),),
    "weightedAverage": (("nodes", _Variadic),),
    "groupByNodes": (("callback", _Required), ("nodes", _Variadic)),
    "aliasByTags": (("tags", _Variadic),),
    "groupByTags": (("callback", _Required), ("tags", _Variadic)),
    "sumSeriesWithWildcards": (("position", _Variadic),),
    "averageSeriesWithWildcards": (("position", _Variadic),),
    "multiplySeriesWithWildcards": (("position", _Variadic),),
    "aggregateWithWildcards": (
        ("func", _Required), ("positions", _Variadic),
    ),
    "legendValue": (("valueTypes", _Variadic),),
    "seriesByTag": (("tagExpressions", _Variadic),),
    "events": (("tags", _Variadic),),
    # generator functions (leaf-style; scalars feed gen())
    "time": (("name", _Required), ("step", 60)),
    "timeFunction": (("name", _Required), ("step", 60)),
    "identity": (("name", _Required),),
    "sin": (("name", _Required), ("amplitude", 1), ("step", 60)),
    "sinFunction": (("name", _Required), ("amplitude", 1), ("step", 60)),
    "randomWalk": (("name", _Required), ("step", 60)),
    "randomWalkFunction": (("name", _Required), ("step", 60)),
    "constantLine": (("value", _Required),),
    "threshold": (("value", _Required), ("label", None), ("color", None)),
}


def _resolve_kwargs(
    name: str, scalars: list, kwargs: dict[str, object]
) -> list:
    """Fold parsed keyword arguments back into the positional scalar
    list using :data:`_KW_PARAMS` (python-style: kwargs may not repeat
    a positionally-given parameter; skipped positions take the graphite
    default; a skipped REQUIRED position is an error)."""
    if not kwargs:
        return scalars
    name = _ALIASES.get(name, name)  # pct/log share their target's spec
    if name not in _KW_PARAMS:
        raise ValueError(
            f"{name} does not accept keyword arguments "
            f"(supported for: {', '.join(sorted(_KW_PARAMS))})"
        )
    params = _KW_PARAMS[name]
    names = [n for n, _ in params]
    for k in kwargs:
        if k not in names:
            raise ValueError(
                f"{name} has no parameter {k!r}; parameters: "
                f"{', '.join(names)}"
            )
        if names.index(k) < len(scalars):
            raise ValueError(
                f"{name}: parameter {k!r} given both positionally "
                "and as a keyword"
            )
    last = max(names.index(k) for k in kwargs)
    full = list(scalars)
    for idx in range(len(scalars), last + 1):
        pname, default = params[idx]
        if pname in kwargs:
            full.append(kwargs[pname])
        elif default is _Required or default is _Variadic:
            raise ValueError(f"{name}: missing required parameter {pname!r}")
        else:
            full.append(default)
    return full


def _call_args(
    name: str, args: list, x_files_factor: float | None
) -> tuple[list, list]:
    """Split a parsed call's arguments into its series nodes and its
    scalar list, keywords folded in (:func:`_resolve_kwargs`) and the
    request-level ``x_files_factor`` default applied."""
    series_nodes, scalars, kwargs = [], [], {}
    for a in args:
        if a[0] == "kw":
            if a[2][0] in ("leaf", "call"):
                raise ValueError(
                    f"{name}: keyword argument {a[1]}= must be a "
                    "scalar (series-valued keywords are not "
                    "supported — pass the series positionally)"
                )
            if a[1] in kwargs:
                raise ValueError(f"{name}: duplicate keyword {a[1]!r}")
            kwargs[a[1]] = a[2][1]
        elif a[0] in ("leaf", "call"):
            if kwargs:
                raise ValueError(
                    f"{name}: positional argument after a keyword"
                )
            series_nodes.append(a)
        else:
            if kwargs:
                raise ValueError(
                    f"{name}: positional argument after a keyword"
                )
            scalars.append(a[1])
    scalars = _resolve_kwargs(name, scalars, kwargs)
    # request-level xFilesFactor default (graphite's &xFilesFactor=):
    # fills any OPTIONAL xFilesFactor parameter (spec default None)
    # the call left unset; explicit values — including explicit
    # None — at that position are never overridden by padding an
    # earlier-required gap (those fail later with their own error)
    if x_files_factor is not None and name in _KW_PARAMS:
        params = _KW_PARAMS[name]
        for idx, (pname, pdefault) in enumerate(params):
            if pname != "xFilesFactor" or pdefault is not None:
                continue
            if idx < len(scalars):
                if scalars[idx] is None:
                    scalars[idx] = x_files_factor
            else:
                pad, ok = [], True
                for j in range(len(scalars), idx):
                    dj = params[j][1]
                    if dj is _Required or dj is _Variadic:
                        ok = False
                        break
                    pad.append(dj)
                if ok:
                    scalars = scalars + pad + [x_files_factor]
            break
    return series_nodes, scalars


def _refetch_windows(
    name: str, scalars: list, wfrom: int, wuntil: int
) -> list[tuple[int, int]] | None:
    """The windows a request-refetching call evaluates its series
    argument under when :func:`render` has a ``refetch_fn``, from the
    helpers its evaluator uses; None for any other call, whose series
    arguments see the window it is called under."""
    if name == "hitcount":
        if (
            len(scalars) > 1
            and scalars[1] is not None
            and _to_bool(scalars[1])
        ):
            aligned = _align_request_start(wfrom, parse_interval(scalars[0]))
            return [(aligned, wuntil)]
        return None
    if name == "linearRegression":
        if any(s is not None for s in scalars):
            return [(wfrom, wuntil), _linreg_source(scalars, wfrom, wuntil)]
        return None
    if name == "smartSummarize":
        if len(scalars) > 2 and scalars[2] is not None:
            aligned = _align_to_calendar_unit(wfrom, str(scalars[2]))
            return [(aligned, wuntil)]
        return None
    if name == "timeShift":
        delta = -_time_shift_frame_delta(scalars[0])
        return [(wfrom + delta, wuntil + delta)]
    if name == "timeStack":
        interval, t_start, t_end = _time_stack_range(scalars)
        return [
            (wfrom - i * interval, wuntil - i * interval)
            for i in range(t_start, t_end)
        ] or None
    if name in _HW_FAMILY:
        return [(wfrom - _hw_bootstrap(name, scalars), wuntil)]
    return None


def read_windows(
    target: str,
    from_ts: int,
    until_ts: int,
    x_files_factor: float | None = None,
) -> set[tuple[int, int]]:
    """The (from, until) windows whose store fetches ``Engine.render``
    makes for ``target`` over the request window: the request window of
    every leaf and tag query, and the adjusted windows of the
    refetching calls (hitcount's alignToInterval, linearRegression's
    source window, smartSummarize's alignTo, timeShift, every timeStack
    copy, the holtWinters bootstrap), composed through nested calls and
    applyByNode templates. No Spark: the engine sizes a request with it
    before it picks the request's session. A call whose arguments do not
    parse is walked under its own window; the evaluator reports it. The
    targets aliasQuery builds from series names at evaluation time are
    not known here; they read the window aliasQuery is called under."""
    out: set[tuple[int, int]] = set()

    def walk(node, wfrom: int, wuntil: int) -> None:
        if node[0] == "leaf":
            out.add((wfrom, wuntil))
            return
        _, name, args = node
        try:
            series, scalars = _call_args(name, args, x_files_factor)
            subs = _refetch_windows(name, scalars, wfrom, wuntil)
        except (ValueError, TypeError, IndexError):
            series = [a for a in args if a[0] in ("leaf", "call")]
            scalars, subs = [], None
        if name == "seriesByTag":
            out.add((wfrom, wuntil))
        if subs is not None and series:
            for f, u in subs:
                walk(series[0], f, u)
            return
        for sn in series:
            walk(sn, wfrom, wuntil)
        if name == "applyByNode" and len(scalars) > 1:
            template = str(scalars[1]).replace("%", "x")
            try:
                walk(_Parser(_tokenize(template)).parse(), wfrom, wuntil)
            except ValueError:
                pass

    walk(_Parser(_tokenize(target)).parse(), from_ts, until_ts)
    return out

#: holtWinters family — bootstrapInterval re-fetches on the r10 rail.
_HW_FAMILY = frozenset({
    "holtWintersForecast", "holtWintersConfidenceBands",
    "holtWintersConfidenceArea", "holtWintersAberration",
})

#: Functions taking TWO series expressions (minuend/dividend first).
_TWO_SERIES = frozenset({
    "diffSeries", "divideSeries", "weightedAverage", "fallbackSeries",
    "aggregateSeriesLists", "sumSeriesLists", "diffSeriesLists",
    "multiplySeriesLists", "divideSeriesLists",
})

#: Functions taking ANY number of series expressions (≥ 1).
_MULTI_SERIES = frozenset({
    "group", "areaBetween", "unique", "powSeries", "asPercent", "pct",
    # graphite *seriesLists combine family (r10)
    "sumSeries", "sum", "averageSeries", "avg", "minSeries", "maxSeries",
    "countSeries", "multiplySeries", "stddevSeries", "rangeOfSeries",
})


SUPPORTED_FUNCTIONS = tuple(sorted(set(_registry()) | set(_ALIASES)))


#: generator functions synthesize series from the REQUEST WINDOW instead
#: of fetching (graphite carries it in requestContext; render() takes it
#: as from_ts/until_ts/step keywords)
_GENERATORS = frozenset({
    "time", "timeFunction", "identity", "sin", "sinFunction",
    "randomWalk", "randomWalkFunction", "constantLine", "threshold",
    "verticalLine",
})


def render(
    target: str,
    fetch_fn: Callable[[str | None], DataFrame],
    *,
    from_ts: int | None = None,
    until_ts: int | None = None,
    events_fn: Callable[[list[str]], DataFrame] | None = None,
    max_data_points: int | None = None,
    refetch_fn: Callable[[str | None, int, int], DataFrame] | None = None,
    x_files_factor: float | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Parse and evaluate one render target; leaves resolve via
    ``fetch_fn(glob)`` → canonical series frame. ``fetch_fn(None)`` must
    return the WHOLE catalog (used by ``seriesByTag``). ``divideSeries``
    note: a multi-series divisor is summed per bucket (documented
    deviation — graphite-web raises; see seriesfns.divide_series).
    ``from_ts``/``until_ts`` carry the request window the generator
    functions (time/sin/randomWalk/constantLine/threshold) synthesize
    over; targets without generators don't need them.
    ``max_data_points`` applies graphite's pixel-budget consolidation to
    the evaluated result (every Grafana request sends it; see
    seriesfns.consolidate_points for the transcribed semantics). The
    consolidation kernel set by ``consolidateBy``/``cumulative`` is
    threaded through the name-only/sort/filter wrappers in
    :data:`_HINT_PRESERVING` as evaluator state — like graphite's
    series-object hint, it survives a rename such as
    ``alias(consolidateBy(m,"max"),'x')`` (ADVICE r8).
    ``refetch_fn(glob, from_ts, until_ts)`` (Engine.render supplies it)
    enables the two request-refetching graphite parameters:
    ``hitcount(…, alignToInterval=true)`` re-fetches from the
    interval-truncated request start, and ``linearRegression(…,
    startSourceAt, endSourceAt)`` fits on a separately-fetched source
    window and projects the line over the render window (r10 — closes
    the two documented frame-model deviations).
    ``x_files_factor`` is graphite's request-level ``&xFilesFactor=``
    default (requestContext['xFilesFactor']): any catalog function with
    an ``xFilesFactor`` parameter left unset inherits it — an explicit
    per-call value always wins (r10).
    ``spark`` is the session the generator and ``events()`` frames are
    built on — the session of the leaf frames, so that one request never
    mixes frames of two sessions (Engine.render passes its request
    session); it defaults to the active session."""
    reg = _registry()
    for alias, target_name in _ALIASES.items():
        reg[alias] = reg[target_name]
    # consolidation state (kernel + xFilesFactor) keyed by the frame
    # OBJECT (id); _keepalive pins every evaluated frame so an id is
    # never recycled mid-parse
    hints: dict[int, dict] = {}
    _keepalive: list[DataFrame] = []

    def _hinted(name, scalars, dfs, result: DataFrame) -> DataFrame:
        # aliases behave exactly like their targets — log() must
        # preserve a consolidation hint iff logarithm() does
        name = _ALIASES.get(name, name)
        _keepalive.append(result)
        states = [hints.get(id(d), {}) for d in dfs]
        # single input: its state; several: only a state EVERY branch
        # shares survives (graphite's per-series hints can differ across
        # branches — a frame-level state must not guess)
        parent = (
            states[0]
            if states and all(s == states[0] for s in states)
            else {}
        )
        if name == "consolidateBy":
            f = str(scalars[0])
            hints[id(result)] = dict(
                parent, func="average" if f == "avg" else f
            )
        elif name == "cumulative":
            # graphite: cumulative(series) == consolidateBy(series,'sum')
            hints[id(result)] = dict(parent, func="sum")
        elif name in ("xFilesFactor", "setXFilesFactor"):
            hints[id(result)] = dict(parent, xff=float(scalars[0]))
        elif name in _HINT_PRESERVING and parent:
            hints[id(result)] = parent
        return result

    def session() -> SparkSession:
        s = spark if spark is not None else SparkSession.getActiveSession()
        if s is None:
            raise RuntimeError("no active SparkSession for a generator function")
        return s

    def gen(name: str, scalars: list, wfrom, wuntil) -> DataFrame:
        if wfrom is None or wuntil is None:
            raise ValueError(
                f"{name} is a generator function and needs the request "
                "window: render(..., from_ts=, until_ts=)"
            )
        s = session()
        if name in ("time", "timeFunction"):
            return sf.time_function(
                s, str(scalars[0]), wfrom, wuntil,
                int(scalars[1]) if len(scalars) > 1 else 60,
            )
        if name == "identity":
            return sf.identity_function(s, str(scalars[0]), wfrom, wuntil)
        if name in ("sin", "sinFunction"):
            return sf.sin_function(
                s, str(scalars[0]), wfrom, wuntil,
                float(scalars[1]) if len(scalars) > 1 else 1.0,
                int(scalars[2]) if len(scalars) > 2 else 60,
            )
        if name in ("randomWalk", "randomWalkFunction"):
            return sf.random_walk_function(
                s, str(scalars[0]), wfrom, wuntil,
                int(scalars[1]) if len(scalars) > 1 else 60,
            )
        if name == "constantLine":
            return sf.constant_line(s, float(scalars[0]), wfrom, wuntil)
        if name == "verticalLine":
            # the timestamp is a graphite at-time string resolved against
            # the window end (the injected "now" of the request)
            from kenshin_backup_spark.attime import parse_at_time

            ts = parse_at_time(scalars[0], now_ts=wuntil)
            label = str(scalars[1]) if len(scalars) > 1 else "verticalLine"
            return sf.vertical_line(s, ts, label, wfrom, wuntil)
        # label may arrive as a padded None when only color= is given
        # as a keyword — guard, don't stringify it
        label = scalars[1] if len(scalars) > 1 else None
        return sf.threshold_series(
            s, float(scalars[0]), wfrom, wuntil,
            str(label) if label is not None else None,
        )

    def ev(node, wctx=None) -> DataFrame:
        # window context: (leaf fetch, request start, request end).
        # Sub-evaluations under an ADJUSTED window (hitcount's
        # alignToInterval, linearRegression's source window) thread a
        # replacement tuple so every leaf, generator and special case in
        # the subtree sees the adjusted request — graphite's
        # requestContext.copy() re-evaluation, in the frame model.
        wfetch, wfrom, wuntil = wctx if wctx is not None else (
            fetch_fn, from_ts, until_ts
        )
        w = (wfetch, wfrom, wuntil)
        if node[0] == "leaf":
            return wfetch(node[1])
        _, name, args = node
        if name not in reg:
            raise ValueError(
                f"unsupported function {name!r}; supported: "
                f"{', '.join(SUPPORTED_FUNCTIONS)}"
            )
        series_nodes, scalars = _call_args(name, args, x_files_factor)

        def sub_window(new_from, new_until):
            if refetch_fn is None:
                raise ValueError(
                    f"{name}: re-fetching with adjusted bounds needs "
                    "render(..., refetch_fn=) — Engine.render provides it"
                )
            return (
                lambda glob: refetch_fn(glob, new_from, new_until),
                new_from,
                new_until,
            )

        # --- request-refetching parameters (r10, VERDICT r9 item 3) ---
        if (
            name == "hitcount"
            and len(scalars) > 1
            and scalars[1] is not None
            and _to_bool(scalars[1])
        ):
            # graphite truncates the request START to the interval's
            # natural unit (≥1d → midnight, ≥1h → hour, ≥1m → minute;
            # UTC — the engine is clock-free), re-fetches the series
            # with the widened window, and buckets from that aligned
            # start.
            if wfrom is None or wuntil is None:
                raise ValueError(
                    "hitcount(alignToInterval=true) needs the request "
                    "window: render(..., from_ts=, until_ts=)"
                )
            _need(series_nodes, 1, 1, name)
            interval = parse_interval(scalars[0])
            aligned = _align_request_start(wfrom, interval)
            sub = ev(series_nodes[0], sub_window(aligned, wuntil))
            return sf.hitcount(sub, interval, anchor_ts=aligned)
        if name == "linearRegression" and any(
            s is not None for s in scalars
        ):
            # graphite fits on a SEPARATE source window (at-time
            # strings resolved against the request end) and projects
            # the fitted line over the render window
            if wfrom is None or wuntil is None:
                raise ValueError(
                    "linearRegression with a source window needs the "
                    "request window: render(..., from_ts=, until_ts=)"
                )
            _need(series_nodes, 1, 1, name)
            src_from, src_until = _linreg_source(scalars, wfrom, wuntil)
            base = ev(series_nodes[0], w)
            source = ev(series_nodes[0], sub_window(src_from, src_until))
            return sf.linear_regression(base, source_df=source)
        if (
            name == "smartSummarize"
            and len(scalars) > 2
            and scalars[2] is not None
        ):
            # graphite alignTo: truncate the request start to the named
            # calendar unit, re-fetch the series from there, bucket from
            # that aligned start (smart_summarize anchors at the frame's
            # first slot, which IS the aligned start after the re-fetch)
            if wfrom is None or wuntil is None:
                raise ValueError(
                    "smartSummarize(alignTo=...) needs the request "
                    "window: render(..., from_ts=, until_ts=)"
                )
            _need(series_nodes, 1, 1, name)
            aligned = _align_to_calendar_unit(wfrom, str(scalars[2]))
            sub = ev(series_nodes[0], sub_window(aligned, wuntil))
            return sf.smart_summarize(
                sub,
                parse_interval(scalars[0]),
                str(scalars[1]) if scalars[1] is not None else "sum",
            )
        if (
            name == "timeShift"
            and refetch_fn is not None
            and wfrom is not None
            and wuntil is not None
        ):
            # graphite timeShift is a REFETCH: evaluate the target over
            # the shifted request window, then move the timestamps back
            # onto the render grid. An unsigned offset implies MINUS
            # (into the past — 'if timeShift[0].isdigit(): "-"+...').
            # resetEnd (default true) clamps the unshifted series to
            # the request end. alignDST is accepted and is a no-op: the
            # engine is clock-free UTC, which has no DST (documented
            # deviation). Without refetch_fn the registry lambda's
            # in-frame shift stands (the period-over-period composition
            # form — documented).
            _need(series_nodes, 1, 1, name)
            delta = -_time_shift_frame_delta(scalars[0])
            reset_end = (
                _to_bool(scalars[1])
                if len(scalars) > 1 and scalars[1] is not None
                else True
            )
            sub = ev(
                series_nodes[0], sub_window(wfrom + delta, wuntil + delta)
            )
            out = sf.time_shift(sub, -delta)
            if reset_end:
                out = out.where(f"bucket_ts <= {int(wuntil)}")
            return out
        if (
            name == "timeStack"
            and refetch_fn is not None
            and wfrom is not None
            and wuntil is not None
        ):
            # graphite timeStack re-fetches EACH shift i intervals into
            # the past and plots it at render time; the i=0 copy is the
            # render fetch itself. Same legend/grid as the in-frame
            # fallback (sf.time_stack_copy is shared), but each copy
            # covers the full render window instead of only the
            # already-fetched range. end−start is a small literal, so
            # the fetch count is argument-bounded. Sign rules shared
            # with the fallback via _time_shift_frame_delta: '1d' and
            # '-1d' both mean the past, '+1d' the future (ADVICE r10).
            _need(series_nodes, 1, 1, name)
            interval, t_start, t_end = _time_stack_range(scalars)
            unit = (
                _time_stack_label(scalars[0])
                if len(scalars) > 0 and scalars[0] is not None else "-1d"
            )
            if t_end <= t_start:
                # graphite: range(start, end) is empty → the empty list
                return ev(series_nodes[0], w).limit(0)
            out = None
            for i in range(t_start, t_end):
                sub = ev(series_nodes[0], w) if i == 0 else ev(
                    series_nodes[0],
                    sub_window(wfrom - i * interval, wuntil - i * interval),
                )
                copy = sf.time_stack_copy(sub, interval, i, unit)
                out = copy if out is None else out.unionByName(copy)
            return out
        if (
            name in _HW_FAMILY
            and refetch_fn is not None
            and wfrom is not None
            and wuntil is not None
        ):
            # graphite's _fetchWithBootstrap: analyze bootstrapInterval
            # of EXTRA history before the render window, then emit only
            # the render window's predictions. Without refetch_fn the
            # registry lambda's frame-only analysis stands (documented
            # deviation).
            _need(series_nodes, 1, 1, name)
            if name == "holtWintersForecast":
                season_i, delta = 1, None
            else:
                season_i = 2
                delta = (
                    float(scalars[0])
                    if len(scalars) > 0 and scalars[0] is not None
                    else 3.0
                )
            boot = _hw_bootstrap(name, scalars)
            season = _hw_season(scalars, season_i)
            sub = ev(series_nodes[0], sub_window(wfrom - boot, wuntil))
            if name == "holtWintersForecast":
                full = sf.holt_winters_forecast(sub, season_seconds=season)
            elif name == "holtWintersAberration":
                full = sf.holt_winters_aberration(
                    sub, delta, season_seconds=season
                )
            else:
                full = sf.holt_winters_confidence_bands(
                    sub, delta, season_seconds=season
                )
            return sf.trim_to_window_start(full, wfrom)

        dfs = [ev(sn, w) for sn in series_nodes]
        # Persist every evaluated CALL argument (leaves are already
        # persisted by Engine.render's memo). sortBy/group/limit and other
        # rank-then-join functions reference their input twice, so without
        # a persist point each nesting level copies the whole upstream
        # subtree — range-exchange sampling jobs and broadcasts included —
        # and the plan doubles per level. Spark's cache manager substitutes
        # one InMemoryRelation for every copy. persist() returns the same
        # object, so the id()-keyed hints still apply; the frames are
        # request-scoped and released by clear_tracked().
        for sn, d in zip(series_nodes, dfs):
            if sn[0] == "call":
                persist_tracked(d)
        if name == "events":
            # graphite events(*tags): per-second event-count series from
            # the caller's event store; '*' (or no args) matches all
            if dfs:
                raise ValueError("events takes only tag strings")
            if events_fn is None or wfrom is None or wuntil is None:
                raise ValueError(
                    "events needs an event store and the request window: "
                    "render(..., from_ts=, until_ts=, events_fn=)"
                )
            tags = [str(s) for s in scalars if str(s) != "*"]
            label = ", ".join(str(s) for s in scalars)
            return sf.events_series(
                session(), events_fn(tags), f"events({label})", wfrom, wuntil
            )
        if name in _GENERATORS:
            if dfs or not scalars:
                raise ValueError(
                    f"{name} takes only scalar arguments (it generates "
                    "its series from the request window)"
                )
            return gen(name, scalars, wfrom, wuntil)
        if name == "applyByNode":
            # graphite applyByNode(series, nodeNum, template, newName):
            # one template evaluation per distinct name PREFIX, '%'
            # substituted. The prefix list is a bounded collect — at most
            # the selection glob's series count, never data-proportional
            # (same contract as useSeriesAbove's qualifying names).
            if len(dfs) != 1 or not (2 <= len(scalars) <= 3):
                raise ValueError(
                    "applyByNode(series, nodeNum, templateFunction"
                    "[, newName])"
                )
            node_num = int(scalars[0])
            template = str(scalars[1])
            new_name = str(scalars[2]) if len(scalars) > 2 else None
            from pyspark.sql import functions as _F

            # graphite: prefix = '.'.join(parts[:nodeNum+1]) — python
            # slice semantics via the shared sf.python_slice_len helper
            # (r13 fix; de-mirrored r15 so the property sweep asserts
            # THIS code path). The stop is nodeNum+1, so -1 means
            # parts[:0] = the EMPTY prefix (constant length 0), not a
            # size-derived full-name slice (ADVICE r13 — the old
            # `node_num >= 0` gate templated the whole name for -1).
            _parts = _F.split(_F.col("metric"), r"\.")
            prefix_col = _F.array_join(
                _F.slice(
                    _parts, 1, sf.python_slice_len(_parts, node_num + 1)
                ),
                ".",
            )
            prefixes = sorted(
                r["p"]
                for r in dfs[0].select(prefix_col.alias("p"))
                .distinct().collect()
            )
            out = None
            for p in prefixes:
                sub = ev(
                    _Parser(_tokenize(template.replace("%", p))).parse(), w
                )
                if new_name:
                    sub = sub.withColumn(
                        "metric", _F.lit(new_name.replace("%", p))
                    )
                out = sub if out is None else out.unionByName(sub)
            if out is None:
                # graphite: no prefixes → the loop never runs → []
                # (same empty-set parity class as aliasQuery, r13)
                return dfs[0]
            return out
        if name == "aliasQuery":
            # graphite aliasQuery(series, search, replace, newName): each
            # series name is regex-substituted into a NEW target, that
            # target evaluated, and the LAST value of its first series
            # sprintf'd into newName. One bounded evaluation per distinct
            # input name (the applyByNode contract — series count, never
            # data-proportional). Deviation: "first series" is the
            # alphabetically-first metric (graphite takes fetch order's
            # first; identical when the query resolves to one series —
            # the intended use).
            if len(dfs) != 1 or len(scalars) != 3:
                raise ValueError(
                    "aliasQuery(series, search, replace, newName)"
                )
            import re as _re

            from pyspark.sql import functions as _F

            search, replace, new_name = (str(x) for x in scalars)
            names = sorted(
                r["metric"]
                for r in dfs[0].select("metric").distinct().collect()
            )
            if not names:
                # graphite: aliasQuery over an empty list returns the
                # empty list — and a zero-entry create_map would type as
                # map<void,void> and fail analysis (r12 fuzz find #2)
                return dfs[0]
            renames: dict[str, str] = {}
            for nm in names:
                new_query = _re.sub(search, replace, nm)
                sub = ev(_Parser(_tokenize(new_query)).parse(), w)
                first = sub.agg(_F.min("metric").alias("m")).collect()[0]
                if first.m is None:
                    raise ValueError(
                        f"aliasQuery: no series found with query: "
                        f"{new_query}"
                    )
                last = (
                    sub.where(
                        (_F.col("metric") == first.m)
                        & _F.col("value").isNotNull()
                    )
                    .orderBy(_F.col("bucket_ts").desc())
                    .select("value")
                    .limit(1)
                    .collect()
                )
                if not last:
                    raise ValueError(
                        f"aliasQuery: cannot get last value of series: "
                        f"{first.m}"
                    )
                renames[nm] = new_name % last[0].value
            mapping = _F.create_map(
                *[x for k, v in renames.items()
                  for x in (_F.lit(k), _F.lit(v))]
            )
            return dfs[0].withColumn("metric", mapping[_F.col("metric")])
        if name == "seriesByTag":
            # leaf-style call (graphite 1.1): no series argument — the
            # tag predicates select from the whole catalog. The catalog
            # resolves via the None sentinel (match everything), NOT the
            # glob "*": globs are one-component ([^.]*) and would drop
            # any tagged series whose bare name contains a dot
            # (disk.used;dc=east — the normal graphite form).
            if dfs or not scalars:
                raise ValueError(
                    "seriesByTag takes only tag-expression strings"
                )
            return sf.series_by_tag(
                wfetch(None), *[str(s) for s in scalars]
            )
        if name == "useSeriesAbove":
            # needs the fetch callback: qualifying series' names are
            # regex-substituted and the RESULTING metrics fetched
            if len(dfs) != 1 or len(scalars) != 3:
                raise ValueError(
                    "useSeriesAbove(series, value, search, replace)"
                )
            return sf.use_series_above(
                dfs[0],
                float(scalars[0]),
                str(scalars[1]),
                str(scalars[2]),
                wfetch,
            )
        if not dfs:
            raise ValueError(f"{name}: needs a series argument")
        if name in _TWO_SERIES:
            _need(dfs, 2, 2, name)
        elif name in _MULTI_SERIES:
            _need(dfs, 1, len(dfs), name)
        else:
            _need(dfs, 1, 1, name)
        return _hinted(name, scalars, dfs, reg[name](dfs, scalars))

    out = ev(_Parser(_tokenize(target)).parse())
    # graphite's renderView gates on `if maxDataPoints:` — 0 is falsy,
    # meaning NO consolidation, not an error (r13 parity). Treating
    # NEGATIVE values as absent too is a DELIBERATE DEVIATION: in
    # python -5 is truthy, so graphite would pass it into its
    # consolidation arithmetic and produce nonsense/crash; the engine
    # no-ops instead (pinned: test_max_data_points_zero_is_no_op; the
    # kernel itself stays loud on < 1).
    if max_data_points is not None and int(max_data_points) < 1:
        max_data_points = None
    if max_data_points is not None:
        state = hints.get(id(out), {})
        # series-level hint wins; the request default fills its absence
        # (graphite: series.xFilesFactor defaults to the requestContext
        # value)
        xff_hint = state.get("xff")
        out = sf.consolidate_points(
            out,
            int(max_data_points),
            func_hint=state.get("func"),
            x_files_factor=(
                xff_hint if xff_hint is not None else x_files_factor
            ),
        )
    # internal bookkeeping columns (e.g. sortBy*'s __series_order) exist
    # for downstream composition only — never in the final result
    internal = [c for c in out.columns if c.startswith("__")]
    return out.drop(*internal) if internal else out
