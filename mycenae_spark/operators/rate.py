"""Rate / counter-rate (SURVEY.md §2.4 W5–W6).

Reference semantics (upstream ``lib/plot`` rate math, OpenTSDB contract):
per-series first derivative ``(v_t − v_{t−1}) / Δt_seconds``; in counter mode
a negative delta means the counter wrapped — add ``counterMax`` when
configured — and a result exceeding ``resetValue`` (>0) is emitted as 0.

Spark mapping: ``lag`` over ``Window.partitionBy(series).orderBy(ts)``.
One shuffle on the series key; within a partition the window is a single
sorted pass — the reference's per-series loop, minus the loop.  The stage
is SQL on a :class:`~mycenae_spark.operators.statement.Statement`
(:func:`rate_stage`): the planner chains it into a served read's one
statement, and :func:`rate` runs it alone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mycenae_spark.operators.statement import Statement, ident


def rate_stage(
    st: Statement,
    series_cols: list[str],
    ts_us_col: str = "ts_us",
    counter: bool = False,
    counter_max: float | None = None,
    reset_value: float | None = None,
    value_col: str = "value",
    out_col: str = "value",
    order_cols: list[str] | None = None,
) -> None:
    """First derivative per series on ``st``, as ``out_col``; the first
    point of each series has no predecessor and is dropped.  The counter
    options are parameters of the statement."""
    part = (f"PARTITION BY {', '.join(map(ident, series_cols))} "
            if series_cols else "")
    order = ", ".join(map(ident, order_cols or [ts_us_col]))
    w = f"OVER ({part}ORDER BY {order})"
    v, ts = ident(value_col), ident(ts_us_col)
    prev_ts = f"lag({ts}) {w}"
    delta = f"({v} - lag({v}) {w})"
    if counter:
        # Wrap handling before division, reset check after (W6 order).
        wrapped = ("0.0D" if counter_max is None
                   else f"{delta} + {st.bind(float(counter_max))}")
        delta = f"CASE WHEN {delta} < 0 THEN {wrapped} ELSE {delta} END"
    r = f"({delta}) / (({ts} - {prev_ts}) / 1000000.0D)"
    if counter and reset_value is not None and reset_value > 0:
        r = (f"CASE WHEN {r} > {st.bind(float(reset_value))} "
             f"THEN 0.0D ELSE {r} END")
    st.with_column("_prev_ts", prev_ts)
    st.with_column(out_col, r)
    st.select([(c, None) for c in st.cols if c != "_prev_ts"],
              where="`_prev_ts` IS NOT NULL")


def rate(
    df: DataFrame,
    series_cols: list[str],
    value_col: str = "value",
    ts_us_col: str = "ts_us",
    out_col: str = "value",
    counter: bool = False,
    counter_max: float | None = None,
    reset_value: float | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """First derivative per series; first point of each series is dropped
    (it has no predecessor — reference emits N−1 rates for N points).

    ``order_cols`` adds deterministic tie-breaks after the timestamp (used
    when duplicate timestamps within a series are possible)."""
    st = Statement(df)
    rate_stage(st, series_cols, ts_us_col, counter, counter_max,
               reset_value, value_col, out_col, order_cols)
    return st.run()
