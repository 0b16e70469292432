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


# -- the planner matrix: every stage and route against DuckDB ---------------
#
# Each case runs ``plan()`` on the events points (``raw``) or on a
# rollup-partials frame built from them (``fine``: 1m partials,
# ``rung``: 1h partials) and compares the answer with an independent
# DuckDB lowering of the same stages.  Routed cases also assert that the
# partials route applies, so a silent fall-back to points cannot pass.

from mycenae_spark.plans.tsdb import TagFilter, rollup_routable  # noqa: E402

JAN1, FEB1 = 1704067200000, 1706745600000
_ROUTE_MS = {"fine": 60_000, "rung": 3_600_000}

_DUCK_AGG = {
    "sum": "sum(value)", "avg": "avg(value)", "min": "min(value)",
    "max": "max(value)", "count": "count(value)", "dev": "stddev_samp(value)",
    "zimsum": "sum(value)", "mimmin": "min(value)", "mimmax": "max(value)",
    # Spark's percentile_approx answers the nearest-rank element at
    # these group sizes: quantile_disc
    **{f"p{p}": f"quantile_disc(value, 0.{p})" for p in (50, 90, 95, 99)},
}
_DUCK_DS = {
    **{a: f"{a}(value)" for a in ("avg", "sum", "min", "max", "count")},
    # the events file is in ts order, so first/last are the bucket's
    # earliest/latest point
    "first": "arg_min(value, t)", "last": "arg_max(value, t)",
    **{f"p{p}": f"quantile_cont(value, 0.{p})" for p in (50, 90, 95, 99)},
}


def _glob(pattern: str):
    import re

    rx = re.compile(".*".join(re.escape(p) for p in pattern.split("*")))
    return lambda v: rx.fullmatch(v) is not None


def _tag_pred(f: TagFilter):
    import re

    vals = f.filter if isinstance(f.filter, list) else str(f.filter).split("|")
    return {
        "literal_or": lambda v: v in vals,
        "not_literal_or": lambda v: v not in vals,
        "iliteral_or": lambda v: v.lower() in [x.lower() for x in vals],
        "wildcard": _glob(str(f.filter)),
        "iwildcard": lambda v: _glob(str(f.filter).lower())(v.lower()),
        "regexp": lambda v: re.search(str(f.filter), v) is not None,
    }[f.type]


def _duck_answer(ddb, q: TsdbQuery) -> dict:
    """{(group tag values, bucket_ms): value} for ``q`` over the events
    points, one CTE per stage in ``q.order``."""
    users = [r[0] for r in ddb.sql(
        "SELECT DISTINCT CAST(user_id AS VARCHAR) FROM events").fetchall()]
    keep = [u for u in users if all(_tag_pred(f)(u) for f in q.filters)]
    group = ["metric"] + [f"tag_{f.tagk}" for f in q.filters if f.group_by]
    series = ["metric", "tag_user"]
    ctes = [(
        "s0",
        "SELECT event_type AS metric, CAST(user_id AS VARCHAR) AS tag_user, "
        "epoch_us(ts) AS t, value FROM events "
        f"WHERE event_type = '{q.metric}' "
        f"AND epoch_us(ts) >= {q.start_ms * 1000} "
        f"AND epoch_us(ts) < {q.end_ms * 1000} "
        "AND CAST(user_id AS VARCHAR) IN "
        f"({', '.join(repr(u) for u in keep) or 'NULL'})",
    )]

    def add(sql):
        ctes.append((f"s{len(ctes)}", sql.format(prev=ctes[-1][0])))

    def aggregation(keys):
        k = ", ".join(keys)
        add(f"SELECT {k}, t, {_DUCK_AGG[q.aggregator]} AS value "
            f"FROM {{prev}} GROUP BY {k}, t")
        # the planner carries the merged time as whole milliseconds
        add(f"SELECT {k}, (t // 1000) * 1000 AS t, value FROM {{prev}}")

    merged = False
    for stage in q.order:
        keys = group if merged else series
        k = ", ".join(keys)
        if stage == "downsample" and q.downsample:
            iv, agg, *fill = q.downsample.split("-")
            fill = fill[0] if fill else "none"
            from mycenae_spark.schema import parse_interval_ms

            iv_ms = parse_interval_ms(iv)
            add(f"SELECT {k}, (t // {iv_ms * 1000}) * {iv_ms} AS b, "
                f"{_DUCK_DS[agg]} AS value FROM {{prev}} GROUP BY {k}, b")
            if fill != "none":
                agged = ctes[-1][0]
                add(f"SELECT {k}, unnest(range(lo, hi + {iv_ms}, {iv_ms})) AS b "
                    f"FROM (SELECT {k}, min(b) AS lo, max(b) AS hi "
                    f"FROM {{prev}} GROUP BY {k})")
                value = ("coalesce(a.value, 0.0)" if fill == "zero"
                         else "a.value")
                add(f"SELECT s.*, {value} AS value FROM {{prev}} s "
                    f"LEFT JOIN {agged} a USING ({k}, b)")
            add(f"SELECT {k}, b * 1000 AS t, value FROM {{prev}}")
        elif stage == "aggregation" and not merged:
            aggregation(group)
            merged = True
        elif stage == "rate" and q.rate:
            w = f"OVER (PARTITION BY {k} ORDER BY t)"
            d = f"(value - lag(value) {w})"
            if q.counter:
                d = (f"(CASE WHEN {d} < 0 THEN {d} + {q.counter_max} "
                     f"ELSE {d} END)" if q.counter_max is not None
                     else f"greatest({d}, 0.0)")
            add(f"SELECT {k}, t, {d} / ((t - lag(t) {w}) / 1e6) AS value, "
                f"lag(t) {w} AS pt FROM {{prev}}")
            reset = q.reset_value if q.counter and q.reset_value else None
            value = ("value" if reset is None else
                     f"CASE WHEN value > {reset} THEN 0.0 ELSE value END")
            add(f"SELECT {k}, t, {value} AS value FROM {{prev}} "
                "WHERE pt IS NOT NULL")
        elif stage == "filterValue" and q.filter_value:
            op = q.filter_value.strip().rstrip("0123456789.-")
            x = q.filter_value.strip()[len(op):]
            add(f"SELECT * FROM {{prev}} WHERE value "
                f"{ {'==': '='}.get(op, op)} {x}")
    if not merged:
        aggregation(group)
    sql = ("WITH " + ", ".join(f"{n} AS ({s})" for n, s in ctes)
           + f" SELECT {', '.join(group[1:] + ['t // 1000', 'value'])} "
           f"FROM {ctes[-1][0]}")
    n = len(group) - 1
    return {(tuple(r[:n]), r[n]): r[n + 1] for r in ddb.sql(sql).fetchall()}


def _partials(spark, interval_ms: int):
    """Rollup partials in ``read_rollup_series``' layout over the events
    points (the tag column stays BIGINT, so the planner's cast runs)."""
    b = F.expr(f"(ts_us div {interval_ms * 1000}) * {interval_ms}")
    return (
        _points(spark).groupBy("metric", "tag_user", b.alias("bucket_ms"))
        .agg(F.sum("value").alias("p_sum"), F.count("value").alias("p_count"),
             F.min("value").alias("p_min"), F.max("value").alias("p_max"))
        .select("metric", "bucket_ms", "p_sum", "p_count", "p_min", "p_max",
                "tag_user")
    )


def _by_user(ftype: str, arg) -> list:
    return [TagFilter("user", ftype, arg, group_by=True)]


_ORDER_CASES = {
    "order-agg-ds-rate": dict(
        aggregator="sum", downsample="1d-avg", rate=True,
        order=("aggregation", "downsample", "rate", "filterValue")),
    "order-rate-ds-agg": dict(
        aggregator="max", downsample="1d-sum", rate=True,
        order=("rate", "downsample", "aggregation", "filterValue")),
    "order-fv-agg-ds": dict(
        aggregator="sum", downsample="1d-avg", filter_value=">100",
        order=("filterValue", "aggregation", "downsample", "rate")),
}

PLANNER_MATRIX = {
    **{f"agg-{a}": ("raw", dict(aggregator=a, downsample="1d-avg"))
       for a in _DUCK_AGG},
    **{f"ds-{d}": ("raw", dict(aggregator="sum", downsample=f"1d-{d}"))
       for d in _DUCK_DS},
    **{f"fill-{f}": ("raw", dict(aggregator="avg", downsample=f"6h-max-{f}"))
       for f in ("none", "null", "nan", "zero")},
    "rate": ("raw", dict(aggregator="sum", downsample="1d-avg", rate=True)),
    "rate-counter": ("raw", dict(aggregator="sum", downsample="1d-avg",
                                 rate=True, counter=True)),
    "rate-counter-max": ("raw", dict(aggregator="sum", downsample="1d-avg",
                                     rate=True, counter=True,
                                     counter_max=500.0)),
    "rate-reset-value": ("raw", dict(aggregator="sum", downsample="1d-avg",
                                     rate=True, counter=True,
                                     reset_value=0.001)),
    "rate-raw-points": ("raw", dict(aggregator="sum", rate=True,
                                    filters=_by_user("wildcard", "*"))),
    "filter-value": ("raw", dict(aggregator="max", downsample="1d-max",
                                 filter_value=">=200")),
    "filter-value-ne": ("raw", dict(aggregator="count", filter_value="!= 5.5")),
    "tag-literal_or": ("raw", dict(downsample="1d-sum",
                                   filters=_by_user("literal_or", "1|2|3"))),
    "tag-not_literal_or": ("raw", dict(
        downsample="1d-sum",
        filters=[TagFilter("user", "not_literal_or", ["1", "2"])])),
    "tag-iliteral_or": ("raw", dict(downsample="1d-sum",
                                    filters=_by_user("iliteral_or", "4|5"))),
    "tag-wildcard": ("raw", dict(downsample="1d-sum",
                                 filters=_by_user("wildcard", "1*"))),
    "tag-iwildcard": ("raw", dict(downsample="1d-sum",
                                  filters=_by_user("iwildcard", "*2"))),
    "tag-regexp": ("raw", dict(downsample="1d-sum",
                               filters=_by_user("regexp", "^1[0-4]$"))),
    **{k: ("raw", v) for k, v in _ORDER_CASES.items()},
    **{f"fine-{a}": ("fine", dict(aggregator="sum", downsample=f"1h-{a}"))
       for a in ("avg", "sum", "min", "max", "count")},
    "fine-by-user": ("fine", dict(aggregator="avg", downsample="10m-max",
                                  filters=_by_user("literal_or", "1|2"))),
    "fine-fill-zero-rate": ("fine", dict(aggregator="avg",
                                         downsample="6h-sum-zero", rate=True)),
    "rung-max": ("rung", dict(aggregator="max", downsample="1d-max")),
    "rung-avg-by-user": ("rung", dict(aggregator="sum", downsample="1d-avg",
                                      filters=_by_user("regexp", "[13]"))),
    "rung-fill-null": ("rung", dict(aggregator="min",
                                    downsample="6h-count-null")),
}


@pytest.mark.parametrize("case", sorted(PLANNER_MATRIX))
def test_planner_matrix_matches_duckdb(spark, ddb, case):
    source, kw = PLANNER_MATRIX[case]
    q = TsdbQuery(metric="click", start_ms=JAN1, end_ms=FEB1, **kw)
    if source == "raw":
        out = plan(_points(spark), q)
    else:
        assert rollup_routable(q, _ROUTE_MS[source])
        out = plan(_points(spark), q, rollup=_partials(spark, _ROUTE_MS[source]),
                   rollup_interval_ms=_ROUTE_MS[source])
    tags = [c for c in out.columns if c.startswith("tag_")]
    got = {(tuple(r[c] for c in tags), r["bucket_ms"]): r["value"]
           for r in out.collect()}
    want = _duck_answer(ddb, q)
    assert got, case
    assert got.keys() == want.keys()
    for k, v in want.items():
        if v is None:
            assert got[k] is None, k
        else:
            assert got[k] == pytest.approx(v, rel=1e-9, abs=1e-12), k


# -- the parameter rule: request values never become SQL text --------------

#: One character class each that would change a statement's meaning if a
#: request value were spliced into SQL text or a LIKE pattern unescaped.
HOSTILE = ["a'b", "a\\b", "a%b", "a_b", "a*b", "a`b", "a--b", "a;b"]
#: Values a spliced or unescaped pattern would wrongly match.
DECOYS = ["axb", "ab", "a", "b"]


def _hostile_points(spark):
    rows = [(f"m{v}", "h", 1.0) for v in HOSTILE + DECOYS] + [
        ("m", v, float(2 ** i)) for i, v in enumerate(HOSTILE + DECOYS)
    ]
    return spark.createDataFrame(
        [(m, h, JAN1 * 1000, x) for m, h, x in rows],
        "metric string, tag_host string, ts_us bigint, value double",
    )


def _answer(out) -> float | None:
    rows = out.collect()
    assert len(rows) <= 1
    return rows[0]["value"] if rows else None


def test_request_values_never_become_sql_text(spark):
    """Metric names and filter values holding quotes, backslashes, LIKE
    wildcards, a backtick, a comment and a statement separator answer
    exactly as literal matching does: only ``*`` globs."""
    pts = _hostile_points(spark)
    values = HOSTILE + DECOYS
    weight = {v: float(2 ** i) for i, v in enumerate(values)}

    def ask(**kw):
        kw.setdefault("metric", "m")
        return _answer(plan(pts, TsdbQuery(start_ms=JAN1, end_ms=FEB1, **kw)))

    def want(match):
        hit = [weight[v] for v in values if match(v)]
        return sum(hit) if hit else None

    for v in HOSTILE:
        assert ask(metric=f"m{v}") == 1.0, v
        by = lambda t: [TagFilter("host", t, v)]  # noqa: E731
        assert ask(filters=by("literal_or")) == weight[v], v
        assert ask(filters=by("not_literal_or")) == want(lambda x: x != v), v
        assert ask(filters=[TagFilter("host", "iliteral_or", v.upper())]) \
            == weight[v], v
        assert ask(filters=by("wildcard")) == want(_glob(v)), v
        assert ask(filters=[TagFilter("host", "iwildcard", v.upper())]) \
            == want(_glob(v)), v
    assert ask(metric="m%b") is None  # no LIKE on the metric


def test_filter_column_forms_spell_values_as_literals(spark):
    """The filter Column forms run the same SQL as the planner, values
    spelled by ``sql_literal``: hostile values match literally there too."""
    from mycenae_spark.operators.filters import build_tag_filter

    pts = _hostile_points(spark).where("metric = 'm'").cache()
    values = HOSTILE + DECOYS
    try:
        for v in HOSTILE:
            for ftype, arg, match in (
                ("literal_or", [v], lambda x: x == v),
                ("not_literal_or", [v], lambda x: x != v),
                ("iliteral_or", [v.upper()], lambda x: x == v),
                ("wildcard", v, _glob(v)),
                ("iwildcard", v.upper(), _glob(v)),
            ):
                got = {r.tag_host for r in pts.where(
                    build_tag_filter("`tag_host`", ftype, arg)).collect()}
                assert got == {x for x in values if match(x)}, (ftype, v)
    finally:
        pts.unpersist()


def test_plan_leaves_a_persisted_frame_cached(spark):
    """The frame enters the statement as a temp view; dropping that view
    must not uncache the frame (a served read would otherwise evict the
    Engine's persisted memo frame)."""
    from pyspark import StorageLevel

    pts = _points(spark).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        q = TsdbQuery(metric="click", start_ms=JAN1, end_ms=FEB1,
                      downsample="1d-avg")
        out = plan(pts, q)
        assert pts.storageLevel != StorageLevel.NONE
        assert "InMemoryRelation" in (
            out._jdf.queryExecution().optimizedPlan().toString())
    finally:
        pts.unpersist()


#: The served-read benchmark's sub-query shapes (perfbench/tsdb_read.py)
#: and the frame each one plans on.
SERVED_SHAPES = {
    "ladder_1h_avg": ("rung", dict(aggregator="sum", downsample="1h-avg")),
    "fine_5m_max": ("fine", dict(aggregator="max", downsample="5m-max")),
    "fine_1m_avg_rate": ("fine", dict(aggregator="avg", downsample="1m-avg",
                                      rate=True)),
    "fine_10m_avg_by_dc": ("fine", dict(
        aggregator="avg", downsample="10m-avg",
        filters=_by_user("literal_or", "1|2"))),
    "raw_15m_p95": ("raw", dict(aggregator="max", downsample="15m-p95")),
    "raw_wildcard": ("raw", dict(aggregator="sum",
                                 filters=_by_user("wildcard", "1*"))),
    "expression": ("raw", None),
}


def test_plan_is_one_statement_per_served_shape(spark, monkeypatch):
    """plan() analyses each served shape as ONE SparkSession.sql call and
    builds no DataFrame transformation on the way."""
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from mycenae_spark.plans.expression import parse_expression

    frames = {"raw": _points(spark),
              **{s: _partials(spark, iv) for s, iv in _ROUTE_MS.items()}}
    for f in frames.values():
        f.schema  # noqa: B018 — resolved before the guard, as a memo frame is
    calls = []
    real_sql = SparkSession.sql
    monkeypatch.setattr(SparkSession, "sql", lambda self, *a, **kw: (
        calls.append(a[0]), real_sql(self, *a, **kw))[1])

    def refuse(name):
        def raiser(*_a, **_kw):
            raise AssertionError(f"plan() called DataFrame.{name}")
        return raiser

    for name in ("filter", "where", "select", "selectExpr", "withColumn",
                 "withColumns", "withColumnRenamed", "drop", "groupBy",
                 "groupby", "agg", "join", "crossJoin", "union",
                 "unionByName", "distinct", "dropDuplicates", "orderBy",
                 "sort", "alias", "limit", "repartition", "toDF"):
        monkeypatch.setattr(DataFrame, name, refuse(name))
    outs = {}
    for shape, (source, kw) in SERVED_SHAPES.items():
        if kw is None:
            q = parse_expression(
                "merge(max, downsample(1h, avg, query(click, {user=3}, "
                f"{JAN1})))", FEB1)
        else:
            q = TsdbQuery(metric="click", start_ms=JAN1, end_ms=FEB1, **kw)
        calls.clear()
        if source == "raw":
            outs[shape] = plan(frames["raw"], q)
        else:
            assert rollup_routable(q, _ROUTE_MS[source]), shape
            outs[shape] = plan(frames["raw"], q, rollup=frames[source],
                               rollup_interval_ms=_ROUTE_MS[source])
        assert len(calls) == 1, shape
        # the parameter rule: no request value is in the statement text
        assert "click" not in calls[0] and str(JAN1) not in calls[0], shape
    monkeypatch.undo()
    assert all(out.collect() for out in outs.values())
