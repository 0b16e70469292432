"""OpenTSDB planner end-to-end (SURVEY.md §5 item 2 style): JSON query dict
→ TsdbQuery IR → DataFrame program → golden checks against DuckDB."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mycenae_spark.api import parse_query_request, shape_response
from mycenae_spark.plans.tsdb import TsdbQuery, plan
from mycenae_spark.sources.tables import events_as_points

from tests.conftest import SF_DIR

NOW = 1706745600000  # 2024-02-01, after all event timestamps


def _points(spark):
    return events_as_points(spark, SF_DIR)


def test_plan_downsample_merge(spark, ddb):
    qs = parse_query_request(
        {
            "start": 1704067200000,
            "end": NOW,
            "queries": [
                {"metric": "click", "aggregator": "sum", "downsample": "1h-avg"}
            ],
        },
        NOW,
    )
    out = plan(_points(spark), qs[0])
    got = {(r["bucket_ms"], round(r["value"], 4)) for r in out.collect()}
    exp = {
        (r[0], round(r[1], 4))
        for r in ddb.sql(
            """
            WITH ds AS (
              SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000 AS b,
                     avg(value) AS v
              FROM events WHERE event_type = 'click' GROUP BY 1, 2
            ) SELECT b, sum(v) FROM ds GROUP BY b
            """
        ).fetchall()
    }
    assert got == exp


def test_plan_percentile_downsampler(spark, ddb):
    """OpenTSDB pNN downsample family flows through the spec parser
    (`1h-p95`) down to the exact-percentile hash aggregate."""
    qs = parse_query_request(
        {
            "start": 1704067200000,
            "end": NOW,
            "queries": [
                {"metric": "click", "aggregator": "sum", "downsample": "1h-p95"}
            ],
        },
        NOW,
    )
    out = plan(_points(spark), qs[0])
    got = {(r["bucket_ms"], round(r["value"], 4)) for r in out.collect()}
    exp = {
        (r[0], round(r[1], 4))
        for r in ddb.sql(
            """
            WITH ds AS (
              SELECT user_id, (epoch_us(ts) // 3600000000) * 3600000 AS b,
                     quantile_cont(value, 0.95) AS v
              FROM events WHERE event_type = 'click' GROUP BY 1, 2
            ) SELECT b, sum(v) FROM ds GROUP BY b
            """
        ).fetchall()
    }
    assert got == exp


def test_plan_order_controls_stage_composition(spark):
    base = dict(metric="click", start_ms=0, end_ms=NOW, aggregator="sum", rate=True)
    q_default = TsdbQuery(**base, downsample="1h-avg")
    q_rate_first = TsdbQuery(
        **base, downsample="1h-avg", order=("rate", "downsample", "aggregation")
    )
    p = _points(spark)
    a = plan(p, q_default).collect()
    b = plan(p, q_rate_first).collect()
    assert a and b
    assert {r["bucket_ms"] for r in a} and a != b


def test_plan_tag_filter_and_group_by(spark):
    from mycenae_spark.plans.tsdb import TagFilter

    q = TsdbQuery(
        metric="view",
        start_ms=0,
        end_ms=NOW,
        aggregator="count",
        downsample="1d-count",
        filters=[TagFilter("user", "literal_or", ["1", "2", "3"], group_by=True)],
    )
    p = _points(spark).withColumn("tag_user", F.col("tag_user").cast("string"))
    out = plan(p, q)
    rows = out.collect()
    assert set(out.columns) == {"metric", "tag_user", "bucket_ms", "value"}
    assert {r["tag_user"] for r in rows} <= {"1", "2", "3"}


def test_filter_value_stage(spark):
    q = TsdbQuery(
        metric="error", start_ms=0, end_ms=NOW, aggregator="max", filter_value=">100"
    )
    out = plan(_points(spark), q)
    assert all(r["value"] > 100 for r in out.collect())


def test_response_shaping(spark):
    q = TsdbQuery(metric="click", start_ms=0, end_ms=NOW, aggregator="sum",
                  downsample="1d-sum")
    out = plan(_points(spark), q)
    payload = shape_response(out, q)
    assert len(payload) == 1
    obj = payload[0]
    assert obj["metric"] == "click"
    assert obj["aggregateTags"] == []
    assert len(obj["dps"]) > 0
    # keys are epoch-second strings in ascending order
    keys = [int(k) for k in obj["dps"]]
    assert keys == sorted(keys)


def test_response_shaping_nan_fill(spark):
    import math

    from mycenae_spark.api import render_json

    q = TsdbQuery(
        metric="purchase", start_ms=0, end_ms=NOW, aggregator="sum",
        downsample="1h-avg-null",
    )
    out = plan(_points(spark), q)
    payload = shape_response(out, q, nan_fill=True)
    gaps = [v for g in payload for v in g["dps"].values()
            if isinstance(v, float) and math.isnan(v)]
    assert gaps, "expected empty buckets rendered as NaN"
    text = render_json(payload)
    assert "NaN" in text and "null" not in text


def test_nan_fill_does_not_poison_merge(spark):
    """ADVICE r1: fill='nan' must stay NULL internally so the merge stage
    skips empty buckets (OpenTSDB semantics) instead of propagating NaN."""
    import math

    q_nan = TsdbQuery(metric="purchase", start_ms=0, end_ms=NOW, aggregator="sum",
                      downsample="1h-avg-nan")
    q_null = TsdbQuery(metric="purchase", start_ms=0, end_ms=NOW, aggregator="sum",
                       downsample="1h-avg-null")
    p = _points(spark)
    got_nan = {(r["bucket_ms"], r["value"]) for r in plan(p, q_nan).collect()}
    got_null = {(r["bucket_ms"], r["value"]) for r in plan(p, q_null).collect()}
    assert got_nan == got_null
    assert not any(isinstance(v, float) and math.isnan(v) for _, v in got_nan)


def test_order_downsample_after_aggregation_with_rate(spark):
    """ADVICE r1: order=(aggregation, downsample, rate) must re-derive the
    µs bucket column after the post-merge downsample for the rate stage."""
    q = TsdbQuery(
        metric="click", start_ms=0, end_ms=NOW, aggregator="sum", rate=True,
        downsample="1h-avg", order=("aggregation", "downsample", "rate"),
    )
    rows = plan(_points(spark), q).collect()
    assert rows and all(r["bucket_ms"] is not None for r in rows)


def test_multi_subquery_request(spark):
    qs = parse_query_request(
        {
            "start": 1704067200000,
            "queries": [
                {"metric": "click", "aggregator": "count", "downsample": "1d-count"},
                {"metric": "error", "aggregator": "max", "filterValue": ">100"},
            ],
        },
        NOW,
    )
    assert len(qs) == 2
    outs = [plan(_points(spark), q) for q in qs]
    payloads = [shape_response(o, q) for o, q in zip(outs, qs)]
    assert payloads[0][0]["metric"] == "click"
    assert payloads[1][0]["metric"] == "error"
    assert all(v > 100 for v in payloads[1][0]["dps"].values())


def test_legacy_subquery_tags_fail_closed():
    """A sub-query's legacy ``tags`` map raises a ValueError naming
    ``filters`` instead of being dropped (which would answer the
    unfiltered series); an empty map is no constraint and parses."""
    body = {"start": 0, "end": 60_000,
            "queries": [{"metric": "m", "tags": {"dc": "eu"}}]}
    with pytest.raises(ValueError, match="'filters'"):
        parse_query_request(body, 60_000)
    body["queries"][0]["tags"] = {}
    (q,) = parse_query_request(body, 60_000)
    assert q.filters == []
