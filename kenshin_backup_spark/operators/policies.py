"""Storage-schema policy assignment (SURVEY.md §3.3).

Reference: ``storage-schemas.conf`` is an *ordered* list of sections
``[name] pattern=<regex> retentions=<archives>``; the first regex that
matches a new metric's name assigns its retention ladder, aggregation
kernel, and xFilesFactor (``rurouni/storage.py loadStorageSchemas``,
public-repo path; SURVEY §2.2 P2).

Spark mapping: policy assignment is a deterministic expression evaluated at
ingest — a ``coalesce(when-chain)`` over the ordered patterns. The policy
list is driver-side config (tens of entries), so a when-chain is strictly
better than a join: it inlines into whole-stage codegen with zero shuffle
and zero broadcast.

Scale notes (100 TB): the when-chain evaluates per input row inside the scan
stage; regex matching is the only cost. On a real deployment the assignment
is computed once per *new* metric (a tiny distinct set), then the
metric→policy mapping is itself a broadcast dimension.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kenshin_backup_spark.operators.rollup import AGG_KERNELS


@dataclass(frozen=True)
class Policy:
    """One storage-schema section (ordered; first match wins)."""

    name: str
    pattern: str  # regex over the metric name (un-anchored, like carbon)
    steps: tuple[int, ...] = (60, 600, 3600)  # retention ladder, finest first
    agg: str = "average"
    xff: float = 0.0

    def __post_init__(self) -> None:
        if self.agg not in AGG_KERNELS:
            raise ValueError(
                f"policy {self.name!r}: unknown agg {self.agg!r}; "
                f"expected one of {AGG_KERNELS}"
            )


DEFAULT_POLICY = Policy(name="default", pattern=".*")


def _first_match(
    col: Column, policies: list[Policy], values: list[Column], fallback: Column
) -> Column:
    """``values[i]`` of the first policy ``i`` whose pattern matches
    ``col``, else ``fallback``: a cascaded ``when`` chain, which Catalyst
    evaluates top-down exactly like the reference's ordered regex scan.
    The match-everything pattern ``.*`` is spelled ``col IS NOT NULL``
    (the same rows), so a filter on its value folds to that predicate
    instead of a regex."""
    acc = None
    for p, v in zip(policies, values):
        cond = col.isNotNull() if p.pattern == ".*" else col.rlike(p.pattern)
        acc = F.when(cond, v) if acc is None else acc.when(cond, v)
    return fallback if acc is None else acc.otherwise(fallback)


def assign_policy(
    df: DataFrame,
    policies: list[Policy],
    *,
    metric_col: str = "metric",
    out_col: str = "policy",
) -> DataFrame:
    """Add ``out_col`` = name of the first policy whose pattern matches
    (first match wins over the *ordered* list). A row no pattern matches
    (a null metric included) gets ``'default'``.
    """
    name = _first_match(
        F.col(metric_col),
        policies,
        [F.lit(p.name) for p in policies],
        F.lit(DEFAULT_POLICY.name),
    )
    return df.withColumn(out_col, name)


def policy_index(policies: list[Policy]) -> Column:
    """Index in ``policies`` of the policy :func:`assign_policy` names for
    each row's ``metric`` (the first policy of that name); null when it
    names ``'default'`` and no policy has that name."""
    names = [p.name for p in policies]
    fallback = (
        F.lit(names.index(DEFAULT_POLICY.name))
        if DEFAULT_POLICY.name in names
        else F.lit(None).cast("int")
    )
    return _first_match(
        F.col("metric"),
        policies,
        [F.lit(names.index(p.name)) for p in policies],
        fallback,
    )
