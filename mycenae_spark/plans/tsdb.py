"""``TsdbQuery`` IR and the ~100-line planner (SURVEY.md §3.2).

The reference's query lifecycle (upstream ``lib/plot``): parse the OpenTSDB
JSON into query structs; resolve tag filters to series in Solr; fetch points
from Cassandra; then per sub-query apply, in the order given by the mycenae
``order`` extension, any of {downsample, aggregation, rate, filterValue};
finally group by tags and serialize.

Here the planner composes DataFrame stages in that order.  Stage composition
*is* the plan — Catalyst then fuses the filters into the scan (pushdown),
prunes columns, and picks physical operators; §4 of SURVEY.md documents why
zero custom optimizer rules are needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from mycenae_spark.operators import filters as flt
from mycenae_spark.operators.downsample import downsample
from mycenae_spark.operators.merge import merge
from mycenae_spark.operators.rate import rate
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
    """Lower a TsdbQuery onto a points frame.

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
    """
    downsample_done = False
    group_tags = [f"tag_{f.tagk}" for f in q.filters if f.group_by]

    if rollup is not None and rollup_routable(q, rollup_interval_ms):
        parts = q.downsample.split("-")
        interval_ms = parse_interval_ms(parts[0])
        agg = parts[1]
        fill = parts[2] if len(parts) > 2 else "none"
        r = rollup
        for c, dt in r.dtypes:
            if c.startswith("tag_") and dt != "string":
                r = r.withColumn(c, F.col(c).cast("string"))
        r = r.filter(F.col("metric") == q.metric).filter(
            (F.col("bucket_ms") >= q.start_ms) & (F.col("bucket_ms") < q.end_ms)
        )
        for f in q.filters:
            r = r.filter(
                flt.build_tag_filter(F.col(f"tag_{f.tagk}"), f.type, f.filter)
            )
        series_cols = ["metric"] + sorted(
            {c for c in r.columns if c.startswith("tag_")}
        )
        from mycenae_spark.operators.downsample import _fill
        from mycenae_spark.streaming.rollup import _MERGE_EXPRS

        df = (
            r.withColumn(
                "bucket_ms",
                F.col("bucket_ms") - (F.col("bucket_ms") % F.lit(interval_ms)),
            )
            .groupBy(*series_cols, "bucket_ms")
            .agg(_MERGE_EXPRS[agg]().alias("value"))
        )
        if fill != "none":
            df = _fill(df, series_cols, interval_ms, "value", fill)
        df = df.withColumn("bucket_us", F.col("bucket_ms") * 1000)
        downsample_done = True
    else:
        # Tag values are strings in the data model (SURVEY.md §1.1); sources
        # that surface typed tag columns (events.user_id) are normalized here
        # so every filter type (wildcard/regexp/...) applies uniformly.
        for c, dt in points.dtypes:
            if c.startswith("tag_") and dt != "string":
                points = points.withColumn(c, F.col(c).cast("string"))
        df = points.filter(F.col("metric") == q.metric).filter(
            flt.time_range(F.col("ts_us"), q.start_ms * 1000, q.end_ms * 1000)
        )
        for f in q.filters:
            df = df.filter(
                flt.build_tag_filter(F.col(f"tag_{f.tagk}"), f.type, f.filter)
            )
        series_cols = ["metric"] + sorted(
            {c for c in df.columns if c.startswith("tag_")}
        )

    merged = False
    for stage in q.order:
        if stage == "downsample" and q.downsample and not downsample_done:
            parts = q.downsample.split("-")
            interval_ms = parse_interval_ms(parts[0])
            agg = parts[1]
            fill = parts[2] if len(parts) > 2 else "none"
            df = downsample(
                df,
                series_cols if not merged else ["metric", *group_tags],
                interval_ms,
                agg,
                ts_us_col="ts_us" if not merged else "bucket_us",
                fill=fill,
            )
            # Re-derive the µs bucket column on BOTH branches: the merged-path
            # downsample also drops bucket_us, and a later rate stage (e.g.
            # order = aggregation → downsample → rate) resolves its ts column
            # from it.
            df = df.withColumn("bucket_us", F.col("bucket_ms") * 1000)
        elif stage == "aggregation" and not merged:
            time_col = "bucket_ms" if "bucket_ms" in df.columns else "ts_us"
            df = merge(df, q.aggregator, ["metric", *group_tags], time_col=time_col)
            if time_col == "ts_us":
                df = df.withColumn("bucket_ms", F.expr("ts_us div 1000")).drop("ts_us")
            df = df.withColumn("bucket_us", F.col("bucket_ms") * 1000)
            merged = True
        elif stage == "rate" and q.rate:
            cols = (["metric", *group_tags]) if merged else series_cols
            ts_col = "bucket_us" if "bucket_us" in df.columns else "ts_us"
            df = rate(
                df,
                cols,
                ts_us_col=ts_col,
                counter=q.counter,
                counter_max=q.counter_max,
                reset_value=q.reset_value,
            )
        elif stage == "filterValue" and q.filter_value:
            df = df.filter(flt.filter_value(F.col("value"), q.filter_value))

    if not merged:
        # No aggregation stage requested: still merge duplicate timestamps
        # per group with the aggregator (OpenTSDB always merges).
        time_col = "bucket_ms" if "bucket_ms" in df.columns else "ts_us"
        df = merge(df, q.aggregator, ["metric", *group_tags], time_col=time_col)
        if time_col == "ts_us":
            df = df.withColumn("bucket_ms", F.expr("ts_us div 1000")).drop("ts_us")

    keep = ["metric", *group_tags, "bucket_ms", "value"]
    return df.select(*[c for c in keep if c in df.columns])
