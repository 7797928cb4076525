"""Custom stateful streaming operators via applyInPandasWithState
(SURVEY.md §2.7; the operator class the reference cannot express at all —
its cache is flush-only state, while these maintain *computational* state
across micro-batches).

Implemented: per-metric EWMA (exponentially weighted moving average) and
counter-reset detection (the Graphite ``nonNegativeDerivative`` semantic
for monotonic counters that wrap/reset) — both classic TSDB stream
operators.

Scale notes (100 TB): state is O(#metrics) — a few doubles per key, far
smaller than windowed-agg state; the GroupStateTimeout reaps idle metrics.
A key's rows within a micro-batch may arrive split across SEVERAL Arrow
chunks in arbitrary post-shuffle order (chunk size is
``spark.sql.execution.arrow.maxRecordsPerBatch``), so every operator here
materializes the full group (``pd.concat``) and sorts it ONCE by event
time before folding — sorting each chunk independently would compute the
running state out of order whenever a key exceeds one chunk per batch.
Cross-batch order is guaranteed by the engine feeding batches in trigger
order.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

EWMA_OUTPUT_SCHEMA = (
    "metric string, es long, event_id long, value double, ewma double"
)
EWMA_STATE_SCHEMA = "ewma double"


def ewma_stream(
    stream: DataFrame,
    *,
    alpha: float = 0.3,
    key_col: str = "metric",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-metric EWMA over an event stream, state = one double per metric.

    ``ewma_t = alpha * v_t + (1 - alpha) * ewma_{t-1}`` (seeded with the
    first value). Emits one row per input point with the running EWMA.

    Rows fold in total (es, id) order, so although the float accumulation
    makes per-row EWMA non-SQL-expressible, the fold SEQUENCE is
    deterministic — the terminal state per key is exactly a left fold over
    the ordered values and is oracle-checked via DuckDB ``list_reduce``
    (``streaming_ewma_final``).
    """
    import pandas as pd

    k, t, v, i = key_col, ts_col, value_col, id_col

    def _update(
        key, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (ewma,) = state.get if state.exists else (None,)
        out = []
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks).sort_values(["__es", i])
            for es, eid, val in zip(pdf["__es"], pdf[i], pdf[v]):
                ewma = val if ewma is None else alpha * val + (1 - alpha) * ewma
                out.append((key[0], int(es), int(eid), float(val), float(ewma)))
        if ewma is not None:
            state.update((float(ewma),))
        yield pd.DataFrame(
            out, columns=["metric", "es", "event_id", "value", "ewma"]
        )

    prepped = stream.withColumn("__es", F.unix_timestamp(F.col(t)).cast("long"))
    return (
        prepped.groupBy(F.col(k))
        .applyInPandasWithState(
            _update,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


RESET_OUTPUT_SCHEMA = (
    "metric string, es long, event_id long, value double, delta double, "
    "resets long"
)
RESET_STATE_SCHEMA = "last double, resets long"


def counter_reset_stream(
    stream: DataFrame,
    *,
    key_col: str = "metric",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Monotonic-counter derivative with reset detection: when a counter
    drops (restart/wrap), emit delta = new value (counter restarted from
    zero) and count the reset — graphite ``nonNegativeDerivative`` +
    ``resetCount`` in one stateful pass.

    Rows fold in (es, id) order — a TOTAL order — and each output is one
    float subtraction plus an integer counter (no accumulation), so the
    result is EXACTLY the batch windows ``value - lag(value)`` /
    ``sum(is_drop)`` over the same order: a stateful streaming query with
    a full SQL oracle (cf. :func:`drawdown_stream`)."""
    import pandas as pd

    k, t, v, i = key_col, ts_col, value_col, id_col

    def _update(
        key, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        last, resets = state.get if state.exists else (None, 0)
        out = []
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks).sort_values(["__es", i])
            for es, eid, val in zip(pdf["__es"], pdf[i], pdf[v]):
                if last is None:
                    delta = None
                elif val >= last:
                    delta = val - last
                else:
                    resets += 1
                    delta = val  # counter restarted from zero
                out.append((key[0], int(es), int(eid), float(val),
                            None if delta is None else float(delta), int(resets)))
                last = val
        if last is not None:
            state.update((float(last), int(resets)))
        yield pd.DataFrame(
            out, columns=["metric", "es", "event_id", "value", "delta", "resets"]
        )

    prepped = stream.withColumn("__es", F.unix_timestamp(F.col(t)).cast("long"))
    return (
        prepped.groupBy(F.col(k))
        .applyInPandasWithState(
            _update,
            outputStructType=RESET_OUTPUT_SCHEMA,
            stateStructType=RESET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DRAWDOWN_OUTPUT_SCHEMA = (
    "metric string, es long, event_id long, value double, peak double, "
    "drawdown double"
)


def drawdown_stream(
    stream: DataFrame,
    *,
    key_col: str = "metric",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-metric running peak + drawdown (peak − current): the classic
    "how far below the high-water mark" monitoring operator, state = one
    double per metric, kept with applyInPandasWithState.

    Rows are processed in (es, event_id) order inside each batch, and
    max/subtract involve no float accumulation, so the output is EXACTLY
    the batch window ``max() OVER (ORDER BY es, event_id ROWS UNBOUNDED
    PRECEDING)`` — a stateful streaming query with a full SQL oracle.
    """
    import pandas as pd

    k, t, v, i = key_col, ts_col, value_col, id_col

    def _update(
        key, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        (peak,) = state.get if state.exists else (None,)
        out = []
        chunks = list(pdfs)
        if chunks:
            pdf = pd.concat(chunks).sort_values(["__es", i])
            for es, eid, val in zip(pdf["__es"], pdf[i], pdf[v]):
                peak = val if peak is None or val > peak else peak
                out.append(
                    (key[0], int(es), int(eid), float(val), float(peak),
                     float(peak - val))
                )
        if peak is not None:
            state.update((float(peak),))
        yield pd.DataFrame(
            out, columns=["metric", "es", "event_id", "value", "peak", "drawdown"]
        )

    prepped = stream.withColumn("__es", F.unix_timestamp(F.col(t)).cast("long"))
    return (
        prepped.groupBy(F.col(k))
        .applyInPandasWithState(
            _update,
            outputStructType=DRAWDOWN_OUTPUT_SCHEMA,
            stateStructType="peak double",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
