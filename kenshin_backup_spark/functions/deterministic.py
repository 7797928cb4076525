"""Deterministic, oracle-matchable expression helpers.

The driver compares every declared query against DuckDB by order-insensitive
value hash (``__spark_entry__.py`` contract). Floating-point *sums* are not
associative, so a raw ``SUM(double)`` can differ between Spark and DuckDB in
the last ulp purely from aggregation order — enough to break a hash.

Convention used by every query in this engine (and mirrored in its oracle
SQL):

- **Quantized sums** — ``qsum(x) = SUM(CAST(FLOOR(x * 1e6) AS BIGINT)) / 1e6``.
  ``FLOOR(x * 1e6)`` is a deterministic IEEE-754 operation that both engines
  evaluate identically per row; the BIGINT sum is exact and associative, so
  aggregation order stops mattering. The result is bit-identical in both
  engines. (Quantization error ≤ 1e-6 per row is applied identically on both
  sides, so it cancels for comparison purposes.) The write side (rollup
  ``sum_q``, :func:`qsum`) quantizes raw values so.
- **Grid-exact re-quantization** — the render tier's series functions
  re-quantize doubles that an upstream stage derived as ``k / 1e6``; there
  ``FLOOR(x * 1e6)`` is off by one quantum whenever ``k * 1e6`` rounds down
  in double (``133.26 * 1e6`` = 133259999.99999999). They use
  :func:`qfloor` instead — the largest ``k`` with ``k / 1e6 <= x``, in
  double — whose error is zero on values already on the 1e-6 grid and
  below one quantum otherwise (mirror :func:`qfloor_sql`).
- **Averages** — derived as ``qsum / count`` with one double division, again
  bit-identical.
- **min/max/count/count distinct** — order-insensitive already; used raw.
- **Timestamps** — exported as epoch *seconds* BIGINT (never TimestampType)
  to sidestep ns-vs-µs precision and tz-normalization differences between
  Spark (session-tz instants) and DuckDB (naive TIMESTAMP_NS).
- **arg-max ("last")** — deterministic tie-break via struct ordering:
  ``max(struct(ts, value))`` = value at max ts, ties broken by max value
  (SURVEY.md §7 hard-part 3).

SQL mirror templates (DuckDB dialect) are provided as format strings so the
Spark expression and the oracle expression are maintained side by side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Quantization scale: 6 decimal digits. BIGINT overflow headroom: values up
#: to ~1e6 × 1e6 quant = 1e12 per row, 9.2e18 cap → safe beyond 1e6 rows of
#: the largest testdata magnitudes; at true 100 TB scale widen to DECIMAL(38).
QUANT = 1_000_000


def qsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-insensitive, oracle-exact sum of a double column (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    out = (F.sum(F.floor(c * QUANT).cast("long")) / F.lit(float(QUANT))).cast("double")
    return out.alias(alias) if alias else out


def qavg(col: Column | str, alias: str | None = None) -> Column:
    """Order-insensitive mean: quantized sum / count of non-nulls."""
    c = F.col(col) if isinstance(col, str) else col
    out = (qsum(c) / F.count(c)).cast("double")
    return out.alias(alias) if alias else out


#: DuckDB SQL fragments mirroring qsum/qavg. Usage: QSUM_SQL.format(x="value").
#: Self-parenthesized: the fragment ends in a division, so embedding it in
#: larger arithmetic (e.g. share = QSUM/QSUM) would otherwise left-associate
#: into A/1e6/B/1e6 — a silent 1e12 error (bitten once; see batch7 Q8).
QSUM_SQL = "(CAST(SUM(CAST(FLOOR(({x}) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000)"
QAVG_SQL = f"CAST({QSUM_SQL} / COUNT({{x}}) AS DOUBLE)"


#: Doubles hold every integer exactly below 2**53: the ±1 steps of qfloor
#: stay exact there, and beyond it FLOOR(x·scale) is x·scale itself.
_EXACT_INT = 2**53


def qfloor(col: Column | str, scale: int = QUANT) -> Column:
    """Grid-exact quantizer of the render tier: the largest integer ``k``
    with ``k / scale <= x``, evaluated in double (``k`` as BIGINT).

    ``FLOOR(x * scale)`` alone is not idempotent on its own grid:
    ``133.26 * 1e6`` is 133259999.99999999 in double, so a value that
    ``k / 1e6`` produced quantizes back to ``k - 1`` and one quantum is
    lost each time a series function re-quantizes an upstream result.
    Starting from ``k = FLOOR(x * scale)``, ``k + 1`` is taken when
    ``(k + 1) / scale <= x`` and ``k - 1`` when ``k / scale > x``. For
    ``|x * scale| < 2**52`` (``|x| < 4.5e9`` at scale 1e6) that is the
    exact answer: zero error on a value already on the grid, below one
    quantum otherwise. Where ``|x * scale| >= 2**53`` (or it is NaN) ``k``
    stays ``FLOOR(x * scale)``. Mirrored by :func:`qfloor_sql`; both
    engines evaluate it identically per row.
    """
    x = F.col(col) if isinstance(col, str) else col
    s = F.lit(float(scale))
    y = x * s
    k = F.floor(y)
    kd = k.cast("double")
    exact = F.abs(y) < F.lit(float(_EXACT_INT))
    return (
        F.when(exact & ((kd + F.lit(1.0)) / s <= x), k + F.lit(1))
        .when(exact & (kd / s > x), k - F.lit(1))
        .otherwise(k)
        .cast("long")
    )


def qfloor_sql(x: str, scale: int = QUANT) -> str:
    """DuckDB mirror of :func:`qfloor`: a BIGINT per row for the DOUBLE
    expression ``x`` at ``scale``. DuckDB's FLOOR(DOUBLE) is a DOUBLE, so
    the ±1 steps are taken in double, exact below 2**53."""
    y = f"(({x}) * {scale})"
    k = f"FLOOR{y}"
    return (
        f"CAST(CASE WHEN ABS{y} < {_EXACT_INT} AND ({k} + 1) / {scale} <= ({x})"
        f" THEN {k} + 1"
        f" WHEN ABS{y} < {_EXACT_INT} AND {k} / {scale} > ({x})"
        f" THEN {k} - 1 ELSE {k} END AS BIGINT)"
    )


def epoch_seconds(col: Column | str, alias: str | None = None) -> Column:
    """TimestampType → epoch seconds BIGINT (UTC session tz assumed)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.unix_timestamp(c).cast("long")
    return out.alias(alias) if alias else out


#: DuckDB mirror of epoch_seconds (TIMESTAMP_NS-safe integer division).
EPOCH_S_SQL = "CAST(epoch_ms(CAST({x} AS TIMESTAMP)) // 1000 AS BIGINT)"


def last_by_ts(value: Column | str, ts: Column | str, alias: str | None = None) -> Column:
    """Reference ``last`` rollup kernel (SURVEY.md §2.3 A3): value at the max
    timestamp in the group, ties broken by max value — deterministic in both
    engines (oracle mirror: row_number() OVER (ORDER BY ts DESC, value DESC)).
    """
    v = F.col(value) if isinstance(value, str) else value
    t = F.col(ts) if isinstance(ts, str) else ts
    out = F.max(F.struct(t.alias("ts"), v.alias("v")))["v"]
    return out.alias(alias) if alias else out


def glob_to_regex(glob: str) -> str:
    """Graphite metric glob → anchored regex (SURVEY.md §2.2 P2).

    Supports ``*`` (one name component: no dots), ``?`` (single char),
    ``{a,b}`` alternation, and ``[...]`` char classes — the Graphite
    glob dialect used by the reference's web layer for metric browse.
    """
    out = []
    i = 0
    while i < len(glob):
        ch = glob[i]
        if ch == "*":
            out.append(r"[^.]*")
        elif ch == "?":
            out.append(r"[^.]")
        elif ch == "{":
            j = glob.find("}", i)
            if j < 0:  # unbalanced '{' → literal character (fnmatch-style)
                out.append(_escape(ch))
            else:
                alts = glob[i + 1 : j].split(",")
                out.append("(" + "|".join(_escape(a) for a in alts) + ")")
                i = j
        elif ch == "[":
            # fnmatch-style char class: leading '!' negates, ']' may appear
            # first as a literal; unbalanced '[' falls back to a literal.
            j = i + 1
            if j < len(glob) and glob[j] == "!":
                j += 1
            if j < len(glob) and glob[j] == "]":
                j += 1
            j = glob.find("]", j)
            if j < 0:
                out.append(_escape(ch))
            else:
                inner = glob[i + 1 : j].replace("\\", "\\\\")
                if inner.startswith("!"):
                    inner = "^" + inner[1:]
                elif inner.startswith("^"):
                    inner = "\\" + inner
                out.append("[" + inner + "]")
                i = j
        else:
            out.append(_escape(ch))
        i += 1
    return "^" + "".join(out) + "$"


def _escape(s: str) -> str:
    import re

    return re.escape(s)
