"""``TsdbQuery`` IR and the ~100-line planner (SURVEY.md §3.2).

The reference's query lifecycle (upstream ``lib/plot``): parse the OpenTSDB
JSON into query structs; resolve tag filters to series in Solr; fetch points
from Cassandra; then per sub-query apply, in the order given by the mycenae
``order`` extension, any of {downsample, aggregation, rate, filterValue};
finally group by tags and serialize.

Here the planner lowers a query into ONE Spark SQL statement
(operators/statement.py): one nested SELECT level per step, in that order,
analysed by one ``sparkSession.sql`` call.  A DataFrame chain would be a
separately analysed Dataset per step, hundreds of py4j round trips per
request; the statement is one.  Each step is the operator module's own
stage (``merge_stage``, ``downsample_stage``, ``rate_stage``,
``tag_filter_sql``), the same SQL the operators' DataFrame forms run, so
the optimized plan is theirs — Catalyst then fuses the filters into the
scan (pushdown), prunes columns, and picks physical operators; §4 of
SURVEY.md documents why zero custom optimizer rules are needed.

The parameter rule: every request value — metric, time bounds, intervals,
filter values and patterns, counter options, the filterValue operand — is a
named parameter of the statement, never part of its text.  The text holds
only the stages' own SQL, the aggregator tables' SQL (the one definition
of each aggregator, operators/merge.py, operators/downsample.py,
streaming/rollup.py) and tag column names taken from the frame's schema,
backtick-quoted.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from mycenae_spark.operators import filters as flt
from mycenae_spark.operators.downsample import (
    DOWNSAMPLE_AGGS,
    bucket_sql,
    check_downsample,
    downsample_stage,
)
from mycenae_spark.operators.merge import merge_stage
from mycenae_spark.operators.rate import rate_stage
from mycenae_spark.operators.statement import Statement, ident
from mycenae_spark.streaming.rollup import _MERGE_EXPRS
from mycenae_spark.schema import (
    FINE_ROLLUP_MS,
    parse_interval_ms,
    parse_relative_time,
)

#: mycenae's default pipeline order when the query carries no ``order`` field
#: (SURVEY.md §2.4 W7).
DEFAULT_ORDER = ("downsample", "aggregation", "rate", "filterValue")


@dataclass
class TagFilter:
    tagk: str
    type: str  # literal_or | not_literal_or | iliteral_or | wildcard | iwildcard | regexp
    filter: str | list
    group_by: bool = False


@dataclass
class TsdbQuery:
    """One OpenTSDB sub-query, mycenae-extended (SURVEY.md §3.2 step 1)."""

    metric: str
    start_ms: int
    end_ms: int
    aggregator: str = "sum"
    downsample: str | None = None  # "<interval>-<agg>[-<fill>]"
    rate: bool = False
    counter: bool = False
    counter_max: float | None = None
    reset_value: float | None = None
    filters: list[TagFilter] = field(default_factory=list)
    filter_value: str | None = None
    order: tuple[str, ...] = DEFAULT_ORDER

    @classmethod
    def from_opentsdb(cls, q: dict, sub: dict, now_ms: int) -> "TsdbQuery":
        """Lower one sub-query of an OpenTSDB/mycenae query dict.

        The legacy OpenTSDB ``tags`` map is refused, not ignored: dropping
        it would answer the unfiltered series (and share their cache
        entry) while the client believes its tag constraint applied."""
        if sub.get("tags"):
            raise ValueError(
                f"sub-query for {sub.get('metric')!r} uses the legacy "
                "'tags' field; express tag constraints as 'filters' "
                "([{tagk, type, filter, groupBy}])"
            )
        start = parse_relative_time(q["start"], now_ms)
        end = parse_relative_time(q.get("end", now_ms), now_ms)
        return cls(
            metric=sub["metric"],
            start_ms=start,
            end_ms=end,
            aggregator=sub.get("aggregator", "sum"),
            downsample=sub.get("downsample"),
            rate=bool(sub.get("rate", False)),
            counter=bool((sub.get("rateOptions") or {}).get("counter", False)),
            counter_max=(sub.get("rateOptions") or {}).get("counterMax"),
            reset_value=(sub.get("rateOptions") or {}).get("resetValue"),
            filters=[
                TagFilter(f["tagk"], f["type"], f["filter"], bool(f.get("groupBy")))
                for f in sub.get("filters", [])
            ],
            filter_value=sub.get("filterValue"),
            order=tuple(sub.get("order", DEFAULT_ORDER)),
        )


#: Downsample aggregators recoverable exactly from rollup partials.
_ROLLUP_AGGS = ("avg", "sum", "min", "max", "count")


def rollup_routable(q: TsdbQuery, rollup_interval_ms: int) -> bool:
    """True iff serving ``q``'s downsample from the rollup lake is EXACT:

    * a downsample with a mergeable agg, on a bucket grid the rollup
      interval divides;
    * start/end aligned to the downsample interval (otherwise the edge
      buckets would include points the time range excludes);
    * no math stage ordered before the downsample (a rate or filterValue
      applied to raw points cannot be reconstructed from partials).
    """
    if not q.downsample:
        return False
    parts = q.downsample.split("-")
    interval_ms = parse_interval_ms(parts[0])
    if parts[1] not in _ROLLUP_AGGS or interval_ms % rollup_interval_ms:
        return False
    if q.start_ms % interval_ms or q.end_ms % interval_ms:
        return False
    for stage in q.order:
        if stage == "downsample":
            return True
        if (
            stage == "aggregation"
            or (stage == "rate" and q.rate)
            or (stage == "filterValue" and q.filter_value)
        ):
            return False
    return False


#: pNN downsample aggregators servable from bottom-k value-sample rungs
#: (not mergeable as algebraic partials like _ROLLUP_AGGS; mergeable as
#: samples: union + re-take-k, exact under k points per bucket).
QSAMPLE_AGGS = ("p50", "p90", "p95", "p99")


def qsample_routable(q: TsdbQuery, rung_interval_ms: int) -> bool:
    """True iff ``q``'s percentile downsample can be served from a
    quantile-sample rung: same alignment and stage-order gates as
    ``rollup_routable``, for the pNN family.  Serving is EXACT when the
    bucket's point count is ≤ the sample k (the sample then IS the
    bucket), O(1/√k)-banded beyond — the Engine routes either way and
    records the rung class it served from."""
    if not q.downsample:
        return False
    parts = q.downsample.split("-")
    try:
        interval_ms = parse_interval_ms(parts[0])
    except ValueError:
        return False
    if len(parts) < 2 or parts[1] not in QSAMPLE_AGGS:
        return False
    if interval_ms % rung_interval_ms:
        return False
    if q.start_ms % interval_ms or q.end_ms % interval_ms:
        return False
    for stage in q.order:
        if stage == "downsample":
            return True
        if (
            stage == "aggregation"
            or (stage == "rate" and q.rate)
            or (stage == "filterValue" and q.filter_value)
        ):
            return False
    return False


def plan(
    points: DataFrame,
    q: TsdbQuery,
    rollup: DataFrame | None = None,
    rollup_interval_ms: int = FINE_ROLLUP_MS,
) -> DataFrame:
    """Lower a TsdbQuery onto a points frame as ONE Spark SQL statement.

    ``points`` must carry columns ``metric``, per-tag columns named
    ``tag_<k>``, ``ts_us`` (BIGINT epoch µs) and ``value``.  Output:
    group-by tag columns + ``bucket_ms`` + ``value``.

    Metric + tag + time predicates go first regardless of ``order`` — they
    are scan predicates (the reference's Solr resolution + Cassandra
    clustering-range read); ``order`` only permutes the math stages, exactly
    as mycenae's ``order`` field does (SURVEY.md §2.4 W7).

    ``rollup`` (streaming/rollup.py `read_rollup_series` frame) routes the
    downsample stage onto pre-aggregated partials whenever that is exact
    (`rollup_routable`) — long-range dashboard queries then never scan raw
    points; non-routable queries silently use the point path.

    One statement, one ``sparkSession.sql`` call: a nested SELECT per
    step, each the operator module's own stage, so the optimized plan is
    the operators'.  Every request value is a named parameter, never SQL
    text (the module doc's parameter rule).
    """
    downsample_done = False
    group_tags = [f"tag_{f.tagk}" for f in q.filters if f.group_by]
    routed = rollup is not None and rollup_routable(q, rollup_interval_ms)
    st = Statement(rollup if routed else points)

    # Tag values are strings in the data model (SURVEY.md §1.1); sources
    # that surface typed tag columns (events.user_id) are normalized here
    # so every filter type (wildcard/regexp/...) applies uniformly.
    casts = {
        f.name for f in st.schema.fields
        if f.name.startswith("tag_") and f.dataType.simpleString() != "string"
    }
    if casts:
        st.select([(c, f"CAST({ident(c)} AS STRING)" if c in casts else None)
                   for c in st.cols])
    tcol, scale = ("bucket_ms", 1) if routed else ("ts_us", 1000)
    # one WHERE level per predicate, as Catalyst then combines them
    st.where(f"`metric` = {st.bind(q.metric)}")
    st.where(f"`{tcol}` >= {st.bind(q.start_ms * scale)} "
             f"AND `{tcol}` < {st.bind(q.end_ms * scale)}")
    for f in q.filters:
        st.where(flt.tag_filter_sql(
            ident(f"tag_{f.tagk}"), f.type, f.filter, st.bind))
    series_cols = ["metric"] + sorted(c for c in st.cols if c.startswith("tag_"))

    if routed:
        parts = q.downsample.split("-")
        interval_ms = parse_interval_ms(parts[0])
        downsample_stage(
            st, series_cols,
            f"`bucket_ms` - (`bucket_ms` % {st.bind(interval_ms)})",
            _MERGE_EXPRS[parts[1]], interval_ms,
            parts[2] if len(parts) > 2 else "none",
        )
        st.with_column("bucket_us", "`bucket_ms` * 1000")
        downsample_done = True

    merged = False
    for stage in q.order:
        if stage == "downsample" and q.downsample and not downsample_done:
            parts = q.downsample.split("-")
            interval_ms = parse_interval_ms(parts[0])
            agg = parts[1]
            fill = parts[2] if len(parts) > 2 else "none"
            check_downsample(agg, fill)
            downsample_stage(
                st, series_cols if not merged else ["metric", *group_tags],
                bucket_sql(st, "ts_us" if not merged else "bucket_us",
                           interval_ms),
                DOWNSAMPLE_AGGS[agg].format("`value`"), interval_ms, fill,
            )
            # Re-derive the µs bucket column on BOTH branches: the merged-path
            # downsample also drops bucket_us, and a later rate stage (e.g.
            # order = aggregation → downsample → rate) resolves its ts column
            # from it.
            st.with_column("bucket_us", "`bucket_ms` * 1000")
        elif stage == "aggregation" and not merged:
            _merge(st, q.aggregator, group_tags)
            st.with_column("bucket_us", "`bucket_ms` * 1000")
            merged = True
        elif stage == "rate" and q.rate:
            rate_stage(
                st, ["metric", *group_tags] if merged else series_cols,
                "bucket_us" if "bucket_us" in st.cols else "ts_us",
                q.counter, q.counter_max, q.reset_value,
            )
        elif stage == "filterValue" and q.filter_value:
            op, x = flt.parse_filter_value(q.filter_value)
            st.where(f"`value` {op} {st.bind(x)}")

    if not merged:
        # No aggregation stage requested: still merge duplicate timestamps
        # per group with the aggregator (OpenTSDB always merges).
        _merge(st, q.aggregator, group_tags)

    return st.run([c for c in ["metric", *group_tags, "bucket_ms", "value"]
                   if c in st.cols])


def _merge(st: Statement, aggregator: str, group_tags: list[str]) -> None:
    """The aggregation stage (``merge_stage``): one row per (group,
    timestamp); a raw-point timestamp becomes ``bucket_ms``."""
    time_col = "bucket_ms" if "bucket_ms" in st.cols else "ts_us"
    merge_stage(st, aggregator, ["metric", *group_tags], time_col)
    if time_col == "ts_us":
        st.with_column("bucket_ms", "`ts_us` div 1000")
        st.select([(c, None) for c in st.cols if c != "ts_us"])
