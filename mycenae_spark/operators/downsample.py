"""Downsample + fill policies (SURVEY.md §2.4 W1–W4) — the TSDB core.

Reference semantics (upstream ``lib/plot`` downsample math): per-series
tumbling buckets ``<interval>-<agg>[-<fill>]``; agg ∈ {avg,sum,min,max,count,
first,last}; fill ∈ {none,null,nan,zero}.  The reference loops per series
over in-memory point arrays; in Spark the whole machinery is one hash
aggregation on (series, bucket) — partial aggregation map-side, so the
shuffle carries pre-combined buckets, not raw points.  That is the property
that survives a 100 TB scan: shuffle volume ∝ #buckets, not #points.

Buckets are epoch-aligned (floor of epoch time to the interval) and carried
as BIGINT epoch-milliseconds — mycenae's native unit, and an arithmetic
representation identical across engines (no timezone/units ambiguity in the
correctness oracle).

Each stage is SQL on a :class:`~mycenae_spark.operators.statement.Statement`
(:func:`downsample_stage`, :func:`fill_stage`): the planner chains them
into a served read's one statement, and :func:`downsample` runs them alone.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
import pyspark.sql.functions as F

from mycenae_spark.operators.statement import Statement, ident

#: Downsample aggregator name → its SQL aggregate over the ``{}`` column
#: (SURVEY.md §2.4 W1).  The one definition: the planner splices it into
#: its statement and :func:`downsample_agg` derives the Column form.
DOWNSAMPLE_AGGS = {
    "avg": "avg({})",
    "sum": "sum({})",
    "min": "min({})",
    "max": "max({})",
    "count": "count({})",
    "first": "first({}, true)",
    "last": "last({}, true)",
    # OpenTSDB pNN downsampler family.  Exact interpolated percentile so the
    # result is oracle-checkable (DuckDB quantile_cont); `percentile` is a
    # hash-aggregate (sorts only within each (series, bucket) group — bounded
    # by points-per-bucket, never a global sort).  At 100 TB swap for
    # `percentile_approx` (mergeable single-pass sketch) when ±ε is fine.
    "p50": "percentile({}, 0.5D, 1)",
    "p90": "percentile({}, 0.9D, 1)",
    "p95": "percentile({}, 0.95D, 1)",
    "p99": "percentile({}, 0.99D, 1)",
}


def downsample_agg(agg: str, col: str) -> Column:
    """The Column form of downsample aggregator ``agg`` over column ``col``."""
    return F.expr(DOWNSAMPLE_AGGS[agg].format(f"`{col}`"))


FILL_POLICIES = ("none", "null", "nan", "zero")


def bucket_ms_long(ts_us: Column, interval_ms: int) -> Column:
    """Epoch-aligned tumbling bucket start (BIGINT ms) from a µs column.

    Pure integer arithmetic (`x - x % iv`) so the result is bit-identical to
    the DuckDB oracle's ``(epoch_us(ts) // iv_us) * iv_ms`` — no float floor.
    """
    iv_us = interval_ms * 1000
    start_us = ts_us - (ts_us % F.lit(iv_us))
    return (start_us / F.lit(1000)).cast("long")


def bucket_sql(st: Statement, ts_us_col: str, interval_ms: int) -> str:
    """:func:`bucket_ms_long` as SQL on ``st``: the bucket start of the µs
    column ``ts_us_col``, the interval a parameter."""
    ts = ident(ts_us_col)
    iv_us = st.bind(interval_ms * 1000)
    return f"CAST(({ts} - ({ts} % {iv_us})) / 1000 AS BIGINT)"


def downsample_stage(
    st: Statement,
    series_cols: list[str],
    bucket: str,
    agg: str,
    interval_ms: int,
    fill: str,
    out_col: str = "value",
) -> None:
    """Tumbling buckets on ``st``: ``bucket`` (SQL, epoch ms) per row as
    ``bucket_ms``, ``agg`` (SQL) per (series, bucket) as ``out_col``, then
    the fill policy (:func:`fill_stage`)."""
    st.with_column("bucket_ms", bucket)
    st.group([*series_cols, "bucket_ms"], agg, out_col)
    fill_stage(st, series_cols, interval_ms, out_col, fill)


def fill_stage(
    st: Statement, series_cols: list[str], interval_ms: int, out_col: str,
    fill: str,
) -> None:
    """Left-join each series onto its own dense bucket spine.

    The spine is ``sequence(min_bucket, max_bucket, interval)`` exploded —
    generated per series from the (already tiny) aggregated relation, so
    its cost is ∝ #buckets.  The join key (series, bucket) is
    co-partitioned with the aggregation output; AQE turns it into a local
    join after the same shuffle at scale.
    """
    if fill == "none":
        return
    agged, agged_cols = st.text, st.cols
    keys = [*series_cols, "bucket_ms"]
    st.select([*((c, None) for c in series_cols),
               ("_lo", "min(`bucket_ms`)"), ("_hi", "max(`bucket_ms`)")],
              group_by=series_cols)
    st.select([
        *((c, None) for c in series_cols),
        ("bucket_ms",
         f"explode(sequence(`_lo`, `_hi`, {st.bind(interval_ms)}))"),
    ])
    st.text = (f"(SELECT * FROM {st.text} LEFT JOIN {agged} "
               f"USING ({', '.join(map(ident, keys))}))")
    st.cols = [*keys, *(c for c in agged_cols if c not in keys)]
    if fill == "zero":
        st.with_column(out_col, f"coalesce({ident(out_col)}, 0.0D)")
    # fill in ("null", "nan"): empty buckets stay NULL internally.  OpenTSDB
    # NaN-fill semantics skip NaN buckets in downstream aggregation, which is
    # exactly what NULL gives Spark's sum/avg for free; a literal NaN here
    # would instead poison every merged group containing a missing bucket.
    # NaN is rendered only at the JSON edge (shape_response nan_fill).


def check_downsample(agg: str, fill: str) -> None:
    """Refuse an unknown downsample aggregator or fill policy."""
    if agg not in DOWNSAMPLE_AGGS:
        raise ValueError(f"unknown downsample agg: {agg!r}")
    if fill not in FILL_POLICIES:
        raise ValueError(f"unknown fill policy: {fill!r}")


def downsample(
    df: DataFrame,
    series_cols: list[str],
    interval_ms: int,
    agg: str,
    value_col: str = "value",
    ts_us_col: str = "ts_us",
    out_col: str = "value",
    fill: str = "none",
) -> DataFrame:
    """Per-series tumbling-bucket aggregation with a fill policy.

    Returns ``series_cols + [bucket_ms, out_col]``.  With ``fill != 'none'``
    empty buckets inside each series' own [min,max] bucket extent are emitted
    (SURVEY.md §7.2 M2 decision: per-series extent) as null / NaN / 0.
    """
    check_downsample(agg, fill)
    st = Statement(df)
    downsample_stage(
        st, series_cols, bucket_sql(st, ts_us_col, interval_ms),
        DOWNSAMPLE_AGGS[agg].format(ident(value_col)), interval_ms, fill,
        out_col,
    )
    return st.run()


def _fill(
    agged: DataFrame, series_cols: list[str], interval_ms: int, out_col: str, fill: str
) -> DataFrame:
    """:func:`fill_stage` alone on an aggregated frame."""
    st = Statement(agged)
    fill_stage(st, series_cols, interval_ms, out_col, fill)
    return st.run()


def fill_linear(
    agged: DataFrame,
    series_cols: list[str],
    interval_ms: int,
    value_col: str = "value",
) -> DataFrame:
    """Linear-interpolation fill over a dense spine (beyond-reference
    extension; the SURVEY §2.11 U5 'exotic interpolation' example done as
    pure window composition — no pandas needed, so it stays codegen'd and
    oracle-checkable).

    Empty buckets between two observed buckets get the time-weighted
    interpolation; leading/trailing gaps stay null (no extrapolation).
    Cost: the spine join + two window passes over #buckets rows.
    """
    from pyspark.sql import Window

    dense = _fill(agged, series_cols, interval_ms, value_col, "null")
    w_past = (
        Window.partitionBy(*series_cols)
        .orderBy("bucket_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_future = (
        Window.partitionBy(*series_cols)
        .orderBy("bucket_ms")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    obs_bucket = F.when(v.isNotNull(), F.col("bucket_ms"))
    prev_v = F.last(v, ignorenulls=True).over(w_past)
    prev_b = F.last(obs_bucket, ignorenulls=True).over(w_past)
    next_v = F.first(v, ignorenulls=True).over(w_future)
    next_b = F.first(obs_bucket, ignorenulls=True).over(w_future)
    lerp = prev_v + (next_v - prev_v) * (
        (F.col("bucket_ms") - prev_b) / (next_b - prev_b)
    )
    filled = (
        F.when(v.isNotNull(), v)
        .when(prev_v.isNotNull() & next_v.isNotNull(), lerp)
        .otherwise(F.lit(None))
    )
    return dense.withColumn(value_col, filled)
