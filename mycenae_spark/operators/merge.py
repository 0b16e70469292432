"""Series merge — the OpenTSDB "aggregator" (SURVEY.md §2.3).

Reference semantics (upstream ``lib/plot`` merge math): group the resolved
series by the requested groupBy tags; within each group, align points on
timestamp and apply the aggregator across series at each timestamp; tag keys
grouped away are reported as ``aggregateTags``.

In Spark the whole align-and-aggregate machinery collapses into one hash
aggregation ``groupBy(group_cols + [time]).agg(...)`` with automatic
partial (map-side) aggregation — no alignment code at all.  The stage is
SQL on a :class:`~mycenae_spark.operators.statement.Statement`
(:func:`merge_stage`): the planner chains it into a served read's one
statement, and :func:`merge` runs it alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from mycenae_spark.operators.statement import Statement, ident

#: OpenTSDB aggregator → its SQL aggregate over the ``{}`` column.  The
#: five mycenae core ones plus the wider OpenTSDB set, each a one-liner
#: (SURVEY.md §2.3 note).  The one definition: the planner splices it into
#: its statement and :func:`agg_expr` derives the Column form.
AGGREGATORS: dict[str, str] = {
    "sum": "sum({})",
    "avg": "avg({})",
    "min": "min({})",
    "max": "max({})",
    "count": "count({})",
    "dev": "stddev_samp({})",
    "zimsum": "sum({})",  # zero-if-missing sum == sum under hash-agg alignment
    "mimmin": "min({})",
    "mimmax": "max({})",
    "p50": "percentile_approx({}, 0.5D, 10000)",
    "p90": "percentile_approx({}, 0.9D, 10000)",
    "p95": "percentile_approx({}, 0.95D, 10000)",
    "p99": "percentile_approx({}, 0.99D, 10000)",
}


def agg_expr(name: str, col: str = "value") -> Column:
    """The Column form of aggregator ``name`` over column ``col``."""
    if name not in AGGREGATORS:
        raise ValueError(f"unknown aggregator: {name!r}")
    return F.expr(AGGREGATORS[name].format(f"`{col}`"))


def merge_stage(
    st: Statement,
    aggregator: str,
    group_cols: list[str],
    time_col: str = "bucket_ms",
    value_col: str = "value",
    out_col: str = "value",
) -> None:
    """Merge series on ``st``: one row per (group, time) with the
    aggregated value as ``out_col``."""
    if aggregator not in AGGREGATORS:
        raise ValueError(f"unknown aggregator: {aggregator!r}")
    st.group([*group_cols, time_col],
             AGGREGATORS[aggregator].format(ident(value_col)), out_col)


def merge(
    df: DataFrame,
    aggregator: str,
    group_cols: list[str],
    time_col: str = "bucket_ms",
    value_col: str = "value",
    out_col: str = "value",
) -> DataFrame:
    """Merge series: one row per (group, time) with the aggregated value
    (:func:`merge_stage` alone)."""
    st = Statement(df)
    merge_stage(st, aggregator, group_cols, time_col, value_col, out_col)
    return st.run()
