"""HTTP façade end-to-end over real sockets: put → query → suggest →
expression, mirroring the reference's golden-response test style."""

from __future__ import annotations

import json
import urllib.request

import pytest

from mycenae_spark.server import serve

BASE_TS = 1704067200000


def _req(base, path, body=None, method=None):
    url = f"{base}{path}"
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json"}, method=method
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("httplake")
    httpd, _ = serve(spark, str(d / "lake"), str(d / "catalog"))
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    yield base
    httpd.shutdown()


def test_put_then_query_roundtrip(server):
    points = [
        {"metric": "cpu.usage", "tags": {"ksid": "k1", "host": f"h{i % 2}"},
         "timestamp": BASE_TS + i * 60_000, "value": float(i)}
        for i in range(10)
    ] + [
        {"metric": "bad metric!", "tags": {"ksid": "k1"},
         "timestamp": BASE_TS, "value": 1.0}
    ]
    code, resp = _req(server, "/api/put", points)
    assert code == 200
    assert resp == {"success": 10, "failed": 1}

    code, out = _req(
        server,
        "/keysets/k1/api/query",
        {
            "start": BASE_TS,
            "end": BASE_TS + 3_600_000,
            "queries": [
                {
                    "metric": "cpu.usage",
                    "aggregator": "sum",
                    "downsample": "5m-avg",
                    "filters": [
                        {"tagk": "host", "type": "literal_or", "filter": "h0",
                         "groupBy": True}
                    ],
                }
            ],
        },
    )
    assert code == 200
    assert len(out) == 1
    g = out[0]
    assert g["metric"] == "cpu.usage" and g["tags"] == {"host": "h0"}
    # h0 = even minutes 0,2,4,6,8 → 5m buckets: {0,2,4}→avg 2, {6,8}→avg 7
    assert list(g["dps"].values()) == [pytest.approx(2.0), pytest.approx(7.0)]


def test_suggest_and_static_endpoints(server):
    code, metrics = _req(server, "/api/suggest?type=metrics&q=cpu&max=5")
    assert code == 200 and metrics == ["cpu.usage"]
    code, aggs = _req(server, "/api/aggregators")
    assert code == 200 and "sum" in aggs and "p99" in aggs
    code, filters = _req(server, "/api/config/filters")
    assert code == 200 and "iwildcard" in filters


def test_expression_endpoints(server):
    code, out = _req(
        server,
        "/keysets/k1/api/query/expression?exp="
        f"merge(max,downsample(5m,avg,query(cpu.usage,{{host=*}},{BASE_TS})))"
        .replace(" ", "%20"),
    )
    assert code == 200
    assert out and out[0]["metric"] == "cpu.usage"
    assert out[0]["dps"]

    code, resp = _req(server, "/api/expression/check",
                      {"exp": "merge(sum, query(m, {a=b}, 1h-ago))"})
    assert code == 200 and resp["errors"] == []
    code, resp = _req(server, "/api/expression/check", {"exp": "merge("})
    assert code == 400 and resp["errors"]


def test_error_paths(server):
    code, resp = _req(server, "/api/nope")
    assert code == 404
    code, resp = _req(server, "/keysets/k1/api/query", {"bad": "shape"})
    assert code == 400 and "error" in resp


def test_query_values_are_parameters_over_http(server):
    """A hostile metric name is a value, not SQL: it answers no series
    (200, empty); an unknown filter tagk is the typed analysis 400 that
    names the column."""
    code, resp = _req(server, "/api/put", [
        {"metric": "param.probe", "tags": {"ksid": "k1", "probe": "p"},
         "timestamp": BASE_TS, "value": 1.0}])
    assert (code, resp) == (200, {"success": 1, "failed": 0})
    hostile = "param.probe' OR '1'='1`; -- %_*\\"
    code, out = _req(server, "/keysets/k1/api/query", {
        "start": BASE_TS, "end": BASE_TS + 3_600_000,
        "queries": [{"metric": hostile, "aggregator": "sum"}]})
    assert (code, out) == (200, [])
    code, resp = _req(server, "/keysets/k1/api/query", {
        "start": BASE_TS, "end": BASE_TS + 3_600_000,
        "queries": [{"metric": "param.probe", "aggregator": "sum",
                     "filters": [{"tagk": "nosuch", "type": "literal_or",
                                  "filter": "x"}]}]})
    assert code == 400
    assert "UNRESOLVED_COLUMN" in resp["error"] and "tag_nosuch" in resp["error"]


def test_engine_serves_reads_on_its_own_interpreted_session(spark, tmp_path):
    """A served read's statement runs on a session of the Engine's own:
    code generation off, the caller's runtime confs copied in.  The
    caller is left untouched and stays the session of everything else,
    and a frame persisted there answers the serving statement from its
    cached rows."""
    from mycenae_spark.server import Engine, _on_session

    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/Sao_Paulo")
    eng = Engine(caller, str(tmp_path / "lake"), str(tmp_path / "catalog"))
    whole_stage = "spark.sql.codegen.wholeStage"
    factory = "spark.sql.codegen.factoryMode"
    assert eng.spark is caller
    assert caller.conf.get(whole_stage) == "true"
    assert caller.conf.get(factory) == "FALLBACK"
    serving = eng._serving
    assert serving is not caller
    assert serving.conf.get(whole_stage) == "false"
    assert serving.conf.get(factory) == "NO_CODEGEN"
    assert serving.conf.get("spark.sql.session.timeZone") == (
        "America/Sao_Paulo")
    frame = caller.range(10).withColumnRenamed("id", "v").persist()
    try:
        served = _on_session(serving, frame).where("v > 6")
        assert served.sparkSession is serving
        assert "InMemoryRelation" in (
            served._jdf.queryExecution().optimizedPlan().toString())
        assert sorted(r.v for r in served.collect()) == [7, 8, 9]
    finally:
        frame.unpersist(blocking=True)
    Engine(spark, str(tmp_path / "lake2"), str(tmp_path / "catalog2"))
    assert spark.conf.get(whole_stage) == "true"


def test_keyspace_rest_crud(server):
    code, resp = _req(server, "/keyspaces/ks_rest", {"ttl_days": 30})
    assert code == 201 and resp["ksid"] == "ks_rest"
    # duplicate create → error
    code, resp = _req(server, "/keyspaces/ks_rest", {"ttl_days": 30})
    assert code == 400 and "exists" in resp["error"]
    code, resp = _req(server, "/keyspaces")
    assert code == 200 and "ks_rest" in resp
    code, resp = _req(server, "/keyspaces/ks_rest")
    assert code == 200 and resp["ttl_days"] == 30
    code, resp = _req(server, "/keyspaces/ks_rest", {"ttl_days": 7}, method="PUT")
    assert code == 200 and resp["ttl_days"] == 7
    code, resp = _req(server, "/keyspaces/ks_rest", method="DELETE")
    assert code == 200 and resp["dropped"]
    code, resp = _req(server, "/keyspaces/ks_rest")
    assert code == 404
    code, resp = _req(server, "/keyspaces/ks_rest", {"ttl_days": 7}, method="PUT")
    assert code == 404  # updating a dropped keyspace
    code, resp = _req(server, "/keyspaces/other", {"bad": 1}, method="PUT")
    assert code == 400  # ttl_days missing from body


def test_gzip_put_and_gzip_response(server):
    import gzip

    points = [
        {"metric": "gz.metric", "tags": {"ksid": "k1", "host": "zq"},
         "timestamp": BASE_TS + i * 1000, "value": float(i)}
        for i in range(5)
    ]
    data = gzip.compress(json.dumps(points).encode())
    req = urllib.request.Request(
        f"{server}/api/put",
        data=data,
        headers={"Content-Type": "application/json",
                 "Content-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        assert resp.status == 200
        assert json.loads(resp.read()) == {"success": 5, "failed": 0}

    req = urllib.request.Request(
        f"{server}/api/suggest?type=metrics&q=gz&max=5",
        headers={"Accept-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req, timeout=120) as resp:
        assert resp.status == 200
        assert resp.headers.get("Content-Encoding") == "gzip"
        assert json.loads(gzip.decompress(resp.read())) == ["gz.metric"]


def test_concurrent_queries(server):
    """ThreadingHTTPServer + one shared SparkSession: concurrent reads must
    all succeed (Spark sessions are thread-safe for job submission)."""
    from concurrent.futures import ThreadPoolExecutor

    body = {
        "start": BASE_TS,
        "end": BASE_TS + 3_600_000,
        "queries": [{"metric": "cpu.usage", "aggregator": "sum"}],
    }
    with ThreadPoolExecutor(max_workers=4) as pool:
        results = list(
            pool.map(lambda _: _req(server, "/keysets/k1/api/query", body), range(4))
        )
    assert all(code == 200 and out for code, out in results)


def test_suggest_tagv_any_tag(server):
    # data from test_put_then_query_roundtrip: tags host=h0/h1 (+ksid)
    code, vals = _req(server, "/api/suggest?type=tagv&q=h&max=10")
    assert code == 200 and set(vals) >= {"h0", "h1"}
    code, vals = _req(server, "/api/suggest?type=tagv&q=h&max=10&tagk=host")
    assert code == 200 and set(vals) == {"h0", "h1"}
    code, keys = _req(server, "/api/suggest?type=tagk&q=&max=10")
    assert code == 200 and "host" in keys


def test_meta_delete_rest(server):
    """M4 over REST: metadata delete removes the series from suggest but
    the points survive (TTL owns point expiry, not this endpoint).

    Runs last in the module: earlier tests assert on the catalog this
    mutates."""
    code, resp = _req(
        server, "/keysets/k1/api/meta?metric=gz.metric", method="DELETE"
    )
    assert code == 200 and resp["deleted"] == 1 and resp["remaining"] >= 2
    code, metrics = _req(server, "/api/suggest?type=metrics&q=gz&max=5")
    assert code == 200 and metrics == []
    # tag-scoped delete: only host=h0 of cpu.usage goes
    code, resp = _req(
        server, "/keysets/k1/api/meta?metric=cpu.usage&tag_host=h0",
        method="DELETE",
    )
    assert code == 200 and resp["deleted"] == 1
    code, vals = _req(server, "/api/suggest?type=tagv&q=h&max=10&tagk=host")
    assert code == 200 and vals == ["h1"]


def test_rollup_backed_server(spark, tmp_path_factory):
    """A façade started with rollup_dir: puts maintain partials, an aligned
    downsample query routes onto them and matches the point-path answer."""
    d = tmp_path_factory.mktemp("rolllake")
    httpd, _ = serve(spark, str(d / "lake"), str(d / "catalog"),
                     rollup_dir=str(d / "rollup"))
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        pts = [{"metric": "cpu.r", "tags": {"ksid": "k1", "host": f"h{i % 2}"},
                "timestamp": BASE_TS + i * 60_000, "value": float(i)}
               for i in range(10)]
        code, resp = _req(base, "/api/put", pts)
        assert code == 200 and resp == {"success": 10, "failed": 0}
        import os
        assert os.path.isdir(str(d / "rollup"))  # partials written

        body = {
            "start": BASE_TS, "end": BASE_TS + 600_000,
            "queries": [{"metric": "cpu.r", "aggregator": "sum",
                         "downsample": "5m-avg"}],
        }
        code, out = _req(base, f"/keysets/k1/api/query", body)
        assert code == 200 and len(out) == 1
        # per-series 5m-avg then sum across the two host series:
        # bucket 0: h0 avg(0,2,4)=2 + h1 avg(1,3)=2 → 4
        # bucket 1: h0 avg(6,8)=7 + h1 avg(5,7,9)=7 → 14
        assert list(out[0]["dps"].values()) == [pytest.approx(4.0),
                                                pytest.approx(14.0)]
    finally:
        httpd.shutdown()


def test_engine_ladder_routing(spark, tmp_path_factory):
    """Engine(ladder=...): an aligned coarse downsample is served from the
    cascaded rung (the physical plan reads the rung dir, not the fine
    rollup or the lake), the answer matches the point path exactly, and a
    later ingest makes the rung STALE — the engine falls back to the fine
    rung (fresh answer, no silent under-report) until the cascade is
    rebuilt."""
    import pyspark.sql.functions as F

    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import cascade_is_current, cascade_rollup

    d = tmp_path_factory.mktemp("ladder")
    lake, catalog, roll, rung1h = (
        str(d / n) for n in ("lake", "catalog", "rollup", "rollup_1h")
    )
    eng = Engine(spark, lake, catalog, rollup_dir=roll,
                 ladder={3_600_000: rung1h})
    # 26 hours of points at 20-min spacing → ingest maintains the 1m rung
    pts = [{"metric": "lad.s", "tags": {"ksid": "k1", "host": "h0"},
            "timestamp": BASE_TS + i * 1_200_000, "value": float(i)}
           for i in range(78)]
    eng.put(pts)
    cascade_rollup(spark, roll, rung1h, 3_600_000, lake_dir=lake)
    assert cascade_is_current(lake, rung1h)

    body = {
        "start": BASE_TS, "end": BASE_TS + 24 * 3_600_000,
        "queries": [{"metric": "lad.s", "aggregator": "sum",
                     "downsample": "2h-avg"}],
    }
    out = eng.query(body)
    assert len(out) == 1 and len(out[0]["dps"]) == 12
    # exact vs closed form: bucket b holds i in [6b, 6b+6) → avg = 6b + 2.5
    for b, (ts, v) in enumerate(sorted(out[0]["dps"].items(),
                                       key=lambda kv: int(kv[0]))):
        assert v == pytest.approx(6 * b + 2.5)

    # the rung, not the fine rollup, backs the plan
    from mycenae_spark.api import parse_query_request

    rollup_frame, iv = eng._pick_rung(
        parse_query_request(body, BASE_TS + 30 * 3_600_000)[0],
        eng.spark.read.parquet(roll),
    )
    assert iv == 3_600_000
    plan_str = rollup_frame._jdf.queryExecution().executedPlan().toString()
    assert "rollup_1h" in plan_str

    # new ingest → rung stale → fallback still answers, with the new point
    eng.put([{"metric": "lad.s", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + 100, "value": 1000.0}])
    assert not cascade_is_current(lake, rung1h)
    out2 = eng.query(body)
    first = sorted(out2[0]["dps"].items(), key=lambda kv: int(kv[0]))[0]
    assert first[1] == pytest.approx((0 + 1 + 2 + 3 + 4 + 5 + 1000) / 7)

    # rebuild → current again, and the refreshed rung serves the new value
    cascade_rollup(spark, roll,
                   str(d / "rollup_1h_v2"), 3_600_000, lake_dir=lake)
    eng.ladder = {3_600_000: str(d / "rollup_1h_v2")}
    assert cascade_is_current(lake, str(d / "rollup_1h_v2"))
    out3 = eng.query(body)
    assert sorted(out3[0]["dps"].items(), key=lambda kv: int(kv[0]))[0][1] == \
        pytest.approx((0 + 1 + 2 + 3 + 4 + 5 + 1000) / 7)


def test_engine_fine_foreign_tail_falls_back_to_points(
    spark, tmp_path_factory
):
    """The fine rollup frame's currency-class gate (r19 review pass 7):
    a bridge-pinned coverage marker (``kind="bridge-fine"``, ``as_of``
    at the last drain head) plus a LATER sketch-less points-append must
    route fine-grain queries to raw points — before the fix the engine
    routed on the coverage marker alone, silently omitting the foreign
    points until the bridge's next NON-EMPTY drain demoted the marker
    (a zero-batch drain never reaches the detection at all)."""
    from mycenae_spark.server import Engine
    from mycenae_spark.streaming import commitlog
    from mycenae_spark.streaming.ingest import (
        decode_json_lines,
        prepare_points,
        write_points_batch,
    )
    from mycenae_spark.streaming.rollup import mark_rollup_coverage

    d = tmp_path_factory.mktemp("foreigntail")
    lake, catalog, roll = (str(d / n) for n in ("lake", "catalog", "roll"))
    eng = Engine(spark, lake, catalog, rollup_dir=roll)
    eng.put([{"metric": "ft.s", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + i * 60_000, "value": float(i)}
             for i in range(10)])

    body = {
        "start": BASE_TS, "end": BASE_TS + 3_600_000,
        "queries": [{"metric": "ft.s", "aggregator": "sum",
                     "downsample": "10m-avg"}],
    }
    # unpinned marker (ingest-maintained lake): gate is idle by design
    out1 = eng.query(body)
    assert out1[0]["dps"][str(BASE_TS // 1000)] == pytest.approx(4.5)
    assert eng._fine_foreign_memo is None

    # simulate the bridge's drain-time re-pin at the current head
    # (checked_to_seq, NOT as_of_seq — the algebraic fine stays
    # as_of-less so cascade pin arithmetic is untouched)
    mark_rollup_coverage(roll, True,
                         checked_to_seq=commitlog.latest_seq(lake),
                         kind="bridge-fine")
    eng._result_cache.clear()
    assert eng.query(body)[0]["dps"][str(BASE_TS // 1000)] == \
        pytest.approx(4.5)
    assert eng._fine_foreign_memo[2] is False  # clean tail, memoized

    # a foreign writer lands a point WITHOUT rollup partials
    rows = [(json.dumps({"metric": "ft.s",
                         "tags": {"ksid": "k1", "host": "h0"},
                         "timestamp": BASE_TS + 30_000,
                         "value": 1000.0}),)]
    write_points_batch(
        prepare_points(decode_json_lines(
            spark.createDataFrame(rows, ["value"])))[0],
        lake, catalog, batch_id="foreign-put")
    # the fine partials provably LACK the point the answer must carry
    import pyspark.sql.functions as F

    bucket0 = spark.read.parquet(roll).where(
        F.col("bucket_ms") == BASE_TS).agg(F.sum("p_sum")).collect()[0][0]
    assert bucket0 == pytest.approx(0.0)  # the foreign 1000.0 is absent

    out2 = eng.query(body)
    assert eng._fine_foreign_memo[2] is True
    assert out2[0]["dps"][str(BASE_TS // 1000)] == pytest.approx(
        (0 + 1 + 2 + 3 + 4 + 5 + 6 + 7 + 8 + 9 + 1000) / 11
    )


def test_engine_refuses_fine_grain_below_retention(spark, tmp_path_factory):
    """After prune_sketch_lake ages out fine partials: a rung-grain query
    over the full range answers IDENTICALLY from the rung, a fine-grain
    query within the retained span still serves, and a fine-grain query
    reaching below the horizon refuses loudly (ValueError -> the HTTP
    edge's typed 400) instead of silently under-reading pruned partials
    (r17 VERDICT "what's missing" #1)."""
    import datetime as _dt

    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import (
        prune_sketch_lake,
        refresh_ladder,
        sketch_retained_from,
    )

    d = tmp_path_factory.mktemp("retention")
    lake, catalog, roll, rung1h = (
        str(d / n) for n in ("lake", "catalog", "rollup", "rollup_1h")
    )
    ladder = {3_600_000: rung1h}
    eng = Engine(spark, lake, catalog, rollup_dir=roll, ladder=ladder)
    DAY = 86_400_000
    # three days (2024-01-01..03), hourly points: value = day*100 + hour
    eng.put([{"metric": "ret.s", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + day * DAY + h * 3_600_000,
              "value": float(day * 100 + h)}
             for day in range(3) for h in range(24)])
    refresh_ladder(spark, lake, roll, ladder)

    def q(downsample, start, end):
        return eng.query({
            "start": start, "end": end,
            "queries": [{"metric": "ret.s", "aggregator": "sum",
                         "downsample": downsample}],
        })

    full_1h_before = q("1h-avg", BASE_TS, BASE_TS + 3 * DAY)[0]["dps"]
    assert len(full_1h_before) == 72

    out = prune_sketch_lake(
        lake, roll, ladder, keep_days=2, floor_days=1,
        today=_dt.date(2024, 1, 4),  # horizon 2024-01-02: day 1 drops
    )
    assert out["pruned"] == ["ksid=k1/date=2024-01-01"]
    assert sketch_retained_from(roll) == BASE_TS + DAY

    # rung grain over the full range: identical after the drop
    assert q("1h-avg", BASE_TS, BASE_TS + 3 * DAY)[0]["dps"] == \
        full_1h_before
    assert eng.last_routes()[-1] == "ladder:3600000"
    # fine grain within the retained span: still served
    fine_ok = q("1m-avg", BASE_TS + DAY, BASE_TS + 3 * DAY)[0]["dps"]
    assert len(fine_ok) == 48  # one occupied 1m bucket per hour
    # fine grain below the horizon: loud refusal, never an under-read
    with pytest.raises(ValueError, match="retention horizon"):
        q("1m-avg", BASE_TS, BASE_TS + 3 * DAY)

    # swap race AFTER retention (r18 review): the memoized rung frame
    # dies mid-read when a swap replaces the generation WITHOUT moving
    # the log (pin unchanged, so _pick_rung hands back the stale frame
    # and the failure surfaces mid-plan) — the retry must RE-PICK the
    # fresh rung (which still answers the full range), not 400 a
    # perfectly answerable rung-grain query via the fine guard.  The
    # new generation gets the OLD marker verbatim: same pin, new part
    # files, old files gone.
    import uuid as _uuid
    from pathlib import Path

    from mycenae_spark.streaming.rollup import cascade_rollup, _swap_in

    assert rung1h in eng._frames  # the rung frame is memoized
    marker = (Path(rung1h) / "_coverage_complete").read_bytes()
    tmp = rung1h + f"_new_{_uuid.uuid4().hex[:8]}"
    cascade_rollup(spark, roll, tmp, 3_600_000, lake_dir=lake,
                   carry_dir=rung1h, carry_below_ms=BASE_TS + DAY)
    (Path(tmp) / "_coverage_complete").write_bytes(marker)
    _swap_in(tmp, rung1h)  # old generation's files vanish, pin unchanged
    eng._result_cache.clear()
    assert q("1h-avg", BASE_TS, BASE_TS + 3 * DAY)[0]["dps"] == \
        full_1h_before
    assert eng.last_routes()[-1] == "ladder:3600000"


def test_engine_double_swap_race_degrades_to_guarded_fine(
    spark, tmp_path_factory, monkeypatch
):
    """The bounded end of the retry ladder (r18 review pass 3): when a
    SECOND generation swap races the re-picked rung read, the engine
    degrades to the fine path behind the retention guard — a query the
    fine lake can serve answers there (route 'fine'); a pre-horizon
    rung-grain query gets the typed retryable refusal, never a silent
    under-read or a raw read error.  Simulated by failing every
    ladder-routed plan (rollup_interval_ms != fine) via monkeypatch."""
    import datetime as _dt

    import mycenae_spark.server as srv
    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import (
        prune_sketch_lake,
        refresh_ladder,
    )

    d = tmp_path_factory.mktemp("doublerace")
    lake, catalog, roll, rung1h = (
        str(d / n) for n in ("lake", "catalog", "rollup", "rollup_1h")
    )
    ladder = {3_600_000: rung1h}
    eng = Engine(spark, lake, catalog, rollup_dir=roll, ladder=ladder)
    DAY = 86_400_000
    eng.put([{"metric": "dr.s", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + day * DAY + h * 3_600_000,
              "value": float(day * 100 + h)}
             for day in range(3) for h in range(24)])
    refresh_ladder(spark, lake, roll, ladder)
    prune_sketch_lake(lake, roll, ladder, keep_days=2, floor_days=1,
                      today=_dt.date(2024, 1, 4))

    real_plan = srv.plan

    def failing_ladder_plan(pts, q, rollup=None, rollup_interval_ms=60_000,
                            **kw):
        if rollup_interval_ms != 60_000:
            raise RuntimeError("simulated generation swap mid-read")
        return real_plan(pts, q, rollup=rollup,
                         rollup_interval_ms=rollup_interval_ms, **kw)

    monkeypatch.setattr(srv, "plan", failing_ladder_plan)

    def q(downsample, start):
        return eng.query({
            "start": start, "end": BASE_TS + 3 * DAY,
            "queries": [{"metric": "dr.s", "aggregator": "sum",
                         "downsample": downsample}],
        })

    # within the retained span: both ladder reads fail, the guarded
    # fine path serves the answer
    out = q("1h-avg", BASE_TS + DAY)
    assert len(out[0]["dps"]) == 48
    assert eng.last_routes()[-1] == "fine"
    # below the horizon: the guard refuses loudly (fine cannot serve) —
    # a typed retryable 400, not a silent under-read or a read error
    eng._result_cache.clear()
    with pytest.raises(ValueError, match="retention horizon"):
        q("1h-avg", BASE_TS)


def test_engine_ladder_swap_race_retries_on_fine_path(spark, tmp_path_factory):
    """ADVICE r7: a query that passes _pick_rung's coverage/currency checks
    just before refresh_ladder's atomic swap can fail mid-read (old rung
    files deleted).  Engine.query must catch the ladder-routed read
    failure and retry once via the fine rollup/points path instead of
    surfacing a request error.  Simulated by deleting the rung's parquet
    data (keeping the marker, so routing still picks it) after the frame
    is memoized, and then the frame's cached rows."""
    import glob
    import os

    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import cascade_rollup

    d = tmp_path_factory.mktemp("ladderrace")
    lake, catalog, roll, rung1h = (
        str(d / n) for n in ("lake", "catalog", "rollup", "rollup_1h")
    )
    eng = Engine(spark, lake, catalog, rollup_dir=roll,
                 ladder={3_600_000: rung1h})
    pts = [{"metric": "race.s", "tags": {"ksid": "k1", "host": "h0"},
            "timestamp": BASE_TS + i * 1_200_000, "value": float(i)}
           for i in range(12)]
    eng.put(pts)
    cascade_rollup(spark, roll, rung1h, 3_600_000, lake_dir=lake)

    body = {
        "start": BASE_TS, "end": BASE_TS + 4 * 3_600_000,
        "queries": [{"metric": "race.s", "aggregator": "sum",
                     "downsample": "1h-avg"}],
    }
    out = eng.query(body)  # memoizes the rung frame; serves from the rung
    want = {k: pytest.approx(v) for k, v in out[0]["dps"].items()}
    assert rung1h in eng._frames  # routed + memoized

    # the swap: old rung data vanishes; the marker survives so the
    # coverage/currency checks still pass (checks-then-read race window)
    for p in glob.glob(os.path.join(rung1h, "**", "*.parquet"),
                       recursive=True):
        os.remove(p)
    # the memoized frame is persisted: its cached rows still answer
    assert eng.query(body)[0]["dps"] == want
    assert eng.last_routes() == ["ladder:3600000"]
    # once they are gone too (as an executor loss drops them), the read
    # goes back to the vanished files
    spark.catalog.clearCache()
    # drop the generation-scoped RESULT cache so the re-issued request
    # actually replans (a cache hit here would be CORRECT — same log
    # generation, a rung refresh never changes answers — but this test
    # exists to drive the ladder-read retry path, not the cache)
    eng._result_cache.clear()
    out2 = eng.query(body)  # must retry on the fine rollup path
    assert {k: v for k, v in out2[0]["dps"].items()} == want
    assert rung1h not in eng._frames  # the stale memoized frame was dropped


def test_query_result_cache_generation_scoped(spark, tmp_path_factory,
                                              monkeypatch):
    """The memcached tier: a fully time-pinned query's shaped response is
    cached per commit-log generation.  Proven behaviorally: (0) WITHOUT a
    checkpoint nothing caches — directory reads can race a batch's
    append-then-move commit order, and a cache would pin that torn answer
    for a whole generation; (1) with log-gated reads a repeat query
    answers WITHOUT re-planning (the planner is broken between the two
    calls and the second still succeeds, byte-identical); (2) ANY write
    advances the log head, so the next query misses into a fresh plan and
    sees the new point; (3) relative-time requests bypass the cache
    entirely — their answers depend on the wall clock, not only on
    (request, generation)."""
    import mycenae_spark.server as srv
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("qcache")
    eng = Engine(spark, str(d / "lake"), str(d / "catalog"))
    eng.put([{"metric": "qc.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + i * 60_000, "value": float(i)}
             for i in range(3)])
    body = {
        "start": BASE_TS, "end": BASE_TS + 600_000,
        "queries": [{"metric": "qc.m", "aggregator": "sum"}],
    }
    eng.query(body)
    assert not eng._result_cache  # no checkpoint -> torn-window guard

    eng.checkpoint()  # log-gated reads from here on: caching is safe
    first = eng.query(body)
    assert len(eng._result_cache) == 1

    real_plan = srv.plan
    def broken(*a, **k):
        raise AssertionError("planner must not run on a cache hit")
    monkeypatch.setattr(srv, "plan", broken)
    assert eng.query(body) == first  # served from cache, planner untouched

    monkeypatch.setattr(srv, "plan", real_plan)
    eng.put([{"metric": "qc.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + 1, "value": 100.0}])
    fresh = eng.query(body)  # head advanced → miss → replan
    assert fresh != first
    assert sum(v for v in fresh[0]["dps"].values()) == pytest.approx(103.0)

    n_before = len(eng._result_cache)
    rel = dict(body, start="1h-ago")
    del rel["end"]
    eng.query(rel)
    assert len(eng._result_cache) == n_before  # relative time: never cached


def test_result_cache_is_per_subquery_and_per_metric(spark, tmp_path_factory,
                                                     monkeypatch):
    """r8 VERDICT item 4: OpenTSDB dashboards batch many subqueries per
    request, and the r8 whole-request key made ANY write evict ALL of
    them.  Keys are now (canonical subquery, per-metric generation) —
    proven behaviorally: a two-subquery request caches two entries; after
    a write that touches ONLY metric B, the metric-A subquery still
    serves from cache (the planner is broken and the request succeeds,
    even batched in a request whose OTHER subquery changed shape), while
    a metric-B subquery must replan (the broken planner raises).  Also:
    the same subquery batched in DIFFERENT request bodies shares one
    cache entry (canonicalization), and a non-footprint commit (catalog
    rewrite kind) raises the wildcard floor, invalidating everything."""
    import mycenae_spark.server as srv
    import mycenae_spark.streaming.commitlog as cl
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("qsubcache")
    lake = str(d / "lake")
    eng = Engine(spark, lake, str(d / "catalog"))
    for m in ("sub.a", "sub.b"):
        eng.put([{"metric": m, "tags": {"ksid": "k1", "host": "h0"},
                  "timestamp": BASE_TS + i * 60_000, "value": float(i)}
                 for i in range(3)])
    eng.checkpoint()
    both = {
        "start": BASE_TS, "end": BASE_TS + 600_000,
        "queries": [{"metric": "sub.a", "aggregator": "sum"},
                    {"metric": "sub.b", "aggregator": "sum"}],
    }
    first = eng.query(both)
    assert len(eng._result_cache) == 2  # one entry PER SUBQUERY

    # write touching ONLY sub.b
    eng.put([{"metric": "sub.b", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + 1, "value": 100.0}])

    real_plan = srv.plan
    def broken(*a, **k):
        raise AssertionError("planner ran for an unchanged-metric subquery")
    monkeypatch.setattr(srv, "plan", broken)
    # sub.a alone: must serve from cache across the sub.b write —
    # byte-identical to its slice of the batched first response (this
    # also proves canonicalization: a different request BODY shares the
    # same subquery entry)
    only_a = dict(both, queries=[{"metric": "sub.a", "aggregator": "sum"}])
    a_expected = [r for r in first if r["metric"] == "sub.a"]
    assert eng.query(only_a) == a_expected
    # sub.b alone: stale generation -> must replan -> broken planner raises
    only_b = dict(both, queries=[{"metric": "sub.b", "aggregator": "sum"}])
    with pytest.raises(AssertionError, match="planner ran"):
        eng.query(only_b)

    # batched WITH the changed subquery, the unchanged one still hits:
    # only sub.b's replan trips the broken planner
    with pytest.raises(AssertionError, match="planner ran"):
        eng.query(both)

    monkeypatch.setattr(srv, "plan", real_plan)
    fresh = eng.query(both)
    a_rows = [r for r in fresh if r["metric"] == "sub.a"]
    b_rows = [r for r in fresh if r["metric"] == "sub.b"]
    assert sum(a_rows[0]["dps"].values()) == pytest.approx(3.0)
    assert sum(b_rows[0]["dps"].values()) == pytest.approx(103.0)

    # a commit with NO metric footprint (maintenance kinds) raises the
    # wildcard floor: everything invalidates
    cl.append(lake, {"kind": "catalog-rewrite"})
    monkeypatch.setattr(srv, "plan", broken)
    with pytest.raises(AssertionError, match="planner ran"):
        eng.query(only_a)


def test_degraded_frame_build_never_caches(spark, tmp_path_factory,
                                           monkeypatch):
    """r9 review finding: the degraded-reads flag must be armed BEFORE
    frame resolution — the NoBaseline directory fallback fires inside
    _build_frames (via the catalog/points snapshot readers), and a reset
    after the build would launder the degraded answer into the cache for
    a whole generation.  Simulated with a catalog snapshot that raises
    NoBaseline (directory fallback engaged): the query must succeed AND
    nothing may cache."""
    import mycenae_spark.streaming.snapshot as snap
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("qdegrade")
    eng = Engine(spark, str(d / "lake"), str(d / "catalog"))
    eng.put([{"metric": "dg.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + i * 60_000, "value": float(i)}
             for i in range(3)])
    eng.checkpoint()

    def no_baseline(*a, **k):
        raise snap.NoBaseline("checkpoint lacks a catalog section")
    monkeypatch.setattr(snap, "read_catalog_snapshot", no_baseline)

    body = {
        "start": BASE_TS, "end": BASE_TS + 600_000,
        "queries": [{"metric": "dg.m", "aggregator": "sum"}],
    }
    out = eng.query(body)  # served via the directory fallback
    assert sum(out[0]["dps"].values()) == pytest.approx(3.0)
    assert not eng._result_cache, (
        "degraded-read rows were laundered into the result cache"
    )


def test_metric_generation_never_exceeds_pinned_head(spark,
                                                     tmp_path_factory,
                                                     monkeypatch):
    """r9 review finding: when the per-metric memo has advanced PAST a
    request's pinned head (concurrent writer + query raced in between),
    the generation lookup must refuse (None → uncached) rather than
    return a generation newer than the snapshot being read — caching
    pre-write rows under the post-write generation would serve stale
    answers after the write."""
    import mycenae_spark.streaming.commitlog as cl
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("qmemoahead")
    lake = str(d / "lake")
    eng = Engine(spark, lake, str(d / "catalog"))
    eng.put([{"metric": "ma.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + i * 60_000, "value": float(i)}
             for i in range(3)])
    eng.checkpoint()
    head_s = cl.latest_seq(lake)

    # concurrent write + a query at the NEW head advance the memo past S
    eng.put([{"metric": "ma.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + 1, "value": 100.0}])
    assert eng._metric_generation("ma.m", cl.latest_seq(lake)) > head_s

    # the racing request still holds head S: generation must refuse
    assert eng._metric_generation("ma.m", head_s) is None

    # end-to-end: with the head frozen at S the request computes the
    # pinned (pre-write) answer and caches NOTHING
    monkeypatch.setattr(cl, "latest_seq", lambda p: head_s)
    n_before = len(eng._result_cache)
    body = {
        "start": BASE_TS, "end": BASE_TS + 600_000,
        "queries": [{"metric": "ma.m", "aggregator": "sum"}],
    }
    out = eng.query(body)
    assert sum(out[0]["dps"].values()) == pytest.approx(3.0)
    assert len(eng._result_cache) == n_before


def test_result_cache_pins_reads_to_key_generation(spark, tmp_path_factory,
                                                   monkeypatch):
    """The purity invariant behind the cache: an answer cached under
    generation S must be computed FROM generation S even if a write lands
    mid-query.  Simulated by freezing the head the key reads at S after a
    later batch has really committed: the pinned snapshot read must
    exclude the newer batch (an unpinned read would resolve to the live
    head and leak it into the S-keyed cache entry)."""
    import mycenae_spark.streaming.commitlog as cl
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("qpin")
    lake = str(d / "lake")
    eng = Engine(spark, lake, str(d / "catalog"))
    eng.put([{"metric": "qp.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + i * 60_000, "value": float(i)}
             for i in range(3)])
    eng.checkpoint()
    head_s = cl.latest_seq(lake)

    # a newer batch really commits (advances the true head past S)
    eng.put([{"metric": "qp.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + 1, "value": 100.0}])

    # freeze the head the cache key observes at S — the race window where
    # the key was computed just before the write landed
    real_latest = cl.latest_seq
    monkeypatch.setattr(cl, "latest_seq", lambda p: head_s)
    body = {
        "start": BASE_TS, "end": BASE_TS + 600_000,
        "queries": [{"metric": "qp.m", "aggregator": "sum"}],
    }
    out = eng.query(body)
    # pinned at S: the 100.0 point must be INVISIBLE to this answer
    assert sum(out[0]["dps"].values()) == pytest.approx(3.0)

    # with the real head restored the same request misses (new key) and
    # sees the newer batch
    monkeypatch.setattr(cl, "latest_seq", real_latest)
    fresh = eng.query(body)
    assert sum(fresh[0]["dps"].values()) == pytest.approx(103.0)


def _count_calls(monkeypatch, module, name):
    """Wrap ``module.name`` with a call counter; returns the count list."""
    calls = []
    real = getattr(module, name)

    def counted(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(module, name, counted)
    return calls


def test_frame_memo_reused_across_requests_at_one_generation(
    spark, tmp_path_factory, monkeypatch
):
    """Serving frames depend only on the commit-log head between two
    commits: two DIFFERENT cache-missing queries at one generation build
    the points snapshot frame and the fine rollup series frame once in
    total, and the expression and gaps reads at that generation reuse
    them too.  Every answer stays exact."""
    import mycenae_spark.streaming.rollup as rollup
    import mycenae_spark.streaming.snapshot as snap
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("framememo")
    eng = Engine(spark, str(d / "lake"), str(d / "catalog"),
                 rollup_dir=str(d / "rollup"))
    eng.put([{"metric": "fm.m", "tags": {"ksid": "k1", "host": f"h{i % 2}"},
              "timestamp": BASE_TS + i * 60_000, "value": float(i)}
             for i in range(10)])
    eng.checkpoint()
    points = _count_calls(monkeypatch, snap, "read_points_snapshot")
    series = _count_calls(monkeypatch, rollup, "read_rollup_series")

    def query(**sub):
        return eng.query({
            "start": BASE_TS, "end": BASE_TS + 600_000,
            "queries": [dict(metric="fm.m", **sub)],
        })

    out1 = query(aggregator="sum", downsample="5m-avg")
    assert list(out1[0]["dps"].values()) == [pytest.approx(4.0),
                                             pytest.approx(14.0)]
    out2 = query(aggregator="max")
    assert sum(out2[0]["dps"].values()) == pytest.approx(45.0)
    assert eng.last_routes() == ["raw"]  # a miss, not a cache hit
    assert (len(points), len(series)) == (1, 1)

    exp = eng.query_expression(
        f"merge(sum,query(fm.m,{{host=*}},{BASE_TS}))"
    )
    assert sum(exp[0]["dps"].values()) == pytest.approx(45.0)
    gaps = eng.query_gaps({"metric": "fm.m"})
    assert sorted(r["n_points"] for r in gaps) == [5, 5]
    assert (len(points), len(series)) == (1, 1)
    assert set(eng._frames) == {"points", "catalog", "rollup", "tag_keys"}


def test_frame_memo_rebuilds_on_generation_advance(spark, tmp_path_factory):
    """A put advances the log head: the next query misses the frame memo,
    rebuilds, sees the new point, and the memo keeps only the newest
    generation's frames."""
    import mycenae_spark.streaming.commitlog as cl
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("framegen")
    lake = str(d / "lake")
    eng = Engine(spark, lake, str(d / "catalog"))
    eng.put([{"metric": "fg.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + i * 60_000, "value": float(i)}
             for i in range(3)])
    eng.checkpoint()
    body = {
        "start": BASE_TS, "end": BASE_TS + 600_000,
        "queries": [{"metric": "fg.m", "aggregator": "sum"}],
    }
    eng.query(body)
    head_s = cl.latest_seq(lake)
    assert {stamp for stamp, _in, _v in eng._frames.values()} == {head_s}

    eng.put([{"metric": "fg.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + 1, "value": 100.0}])
    out = eng.query(body)
    assert sum(out[0]["dps"].values()) == pytest.approx(103.0)
    head_s2 = cl.latest_seq(lake)
    assert head_s2 > head_s
    assert {stamp for stamp, _in, _v in eng._frames.values()} == {head_s2}


def test_degraded_frame_build_never_memoizes(spark, tmp_path_factory,
                                             monkeypatch):
    """A request whose reads degraded to a directory fallback (catalog
    snapshot raising NoBaseline, as in the result-cache test above)
    stores no serving frame: the fallback is not a pure function of the
    generation."""
    import mycenae_spark.streaming.snapshot as snap
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("framedegrade")
    eng = Engine(spark, str(d / "lake"), str(d / "catalog"))
    eng.put([{"metric": "fd.m", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + i * 60_000, "value": float(i)}
             for i in range(3)])
    eng.checkpoint()

    def no_baseline(*a, **k):
        raise snap.NoBaseline("checkpoint lacks a catalog section")
    monkeypatch.setattr(snap, "read_catalog_snapshot", no_baseline)

    out = eng.query({
        "start": BASE_TS, "end": BASE_TS + 600_000,
        "queries": [{"metric": "fd.m", "aggregator": "sum"}],
    })
    assert sum(out[0]["dps"].values()) == pytest.approx(3.0)
    # only the tag keys are kept: they are column names, stored from a
    # directory read too, as on a lake with no checkpoint
    assert set(eng._frames) == {"tag_keys"}


def test_frame_memo_survives_files_moved_by_compaction(
    spark, tmp_path_factory, monkeypatch
):
    """Compaction moves the superseded point files into _retained/<seq>.
    A request still pinned at the old head S (latest_seq frozen at S)
    hits the memoized frame, whose cached rows answer.  Once those are
    gone too, the frame's file list is gone: the read fails, the
    generation is evicted, and the rebuilt snapshot read (which finds the
    files under _retained) answers correctly."""
    import os

    import mycenae_spark.streaming.commitlog as cl
    from mycenae_spark.maintenance import compact_partition
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("framemoved")
    lake = str(d / "lake")
    eng = Engine(spark, lake, str(d / "catalog"))
    for i in range(3):
        eng.put([{"metric": "mv.m", "tags": {"ksid": "k1", "host": "h0"},
                  "timestamp": BASE_TS + i * 60_000, "value": float(i)}])
    eng.checkpoint()
    head_s = cl.latest_seq(lake)
    body = {
        "start": BASE_TS, "end": BASE_TS + 600_000,
        "queries": [{"metric": "mv.m", "aggregator": "sum"}],
    }
    assert sum(eng.query(body)[0]["dps"].values()) == pytest.approx(3.0)
    memoized = dict(eng._frames)
    assert memoized

    compact_partition(spark, lake, "k1", "2024-01-01")
    assert os.path.isdir(os.path.join(lake, "_retained"))
    monkeypatch.setattr(cl, "latest_seq", lambda p: head_s)
    eng._result_cache.clear()
    # the memoized frame is persisted: its cached rows still answer
    assert sum(eng.query(body)[0]["dps"].values()) == pytest.approx(3.0)
    assert eng._frames["points"][2] is memoized["points"][2]
    # once they are gone too (as an executor loss drops them), the read
    # goes back to the moved files
    spark.catalog.clearCache()
    eng._result_cache.clear()
    out = eng.query(body)
    assert sum(out[0]["dps"].values()) == pytest.approx(3.0)
    assert eng._frames["points"][2] is not memoized["points"][2]  # rebuilt


def test_memo_keeps_newest_stamp_under_concurrent_builds(tmp_path):
    """Sixteen threads build one memo slot at interleaved stamps: every
    call gets the value for its own stamp, and once it returns the slot
    holds that stamp or a newer one — a straggler's older build never
    replaces a newer one (a check-then-store outside the lock would)."""
    import sys
    import threading

    from mycenae_spark.server import Engine

    eng = Engine(None, str(tmp_path / "lake"), str(tmp_path / "catalog"))
    wrong = []

    def worker(i):
        for stamp in range(i, 4000, 16):
            got = eng._memo("tag_keys", stamp, (), lambda: ["k", stamp])
            if got != ["k", stamp] or eng._frames["tag_keys"][0] < stamp:
                wrong.append((stamp, got))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not wrong
    assert eng._frames["tag_keys"][0] == 3999


def test_rebuilt_rung_frame_serves_the_swapped_generation(
    spark, tmp_path_factory
):
    """refresh_ladder publishes a rung's new generation under the same
    directory.  Spark matches cached data to a plan by ``sameResult``, and
    a directory read compares by its root path, so the old rung frame must
    be unpersisted before its rebuild: one Engine throughout, the second
    rung-routed read carries the new value, from a rebuilt frame that is
    itself persisted."""
    from pyspark import StorageLevel

    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import refresh_ladder

    d = tmp_path_factory.mktemp("stalerung")
    lake, catalog, roll, rung1h = (
        str(d / n) for n in ("lake", "catalog", "rollup", "rollup_1h")
    )
    ladder = {3_600_000: rung1h}
    eng = Engine(spark, lake, catalog, rollup_dir=roll, ladder=ladder)
    eng.put([{"metric": "sr.s", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + i * 1_200_000, "value": 1.0}
             for i in range(6)])
    body = {
        "start": BASE_TS, "end": BASE_TS + 2 * 3_600_000,
        "queries": [{"metric": "sr.s", "aggregator": "sum",
                     "downsample": "1h-sum"}],
    }
    hour0, hour1 = str(BASE_TS // 1000), str(BASE_TS // 1000 + 3600)

    refresh_ladder(spark, lake, roll, ladder)
    out = eng.query(body)
    assert eng.last_routes() == ["ladder:3600000"]
    assert out[0]["dps"] == {hour0: pytest.approx(3.0),
                             hour1: pytest.approx(3.0)}
    first = eng._frames[rung1h]

    eng.put([{"metric": "sr.s", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + 600_000, "value": 4.0}])
    refresh_ladder(spark, lake, roll, ladder)
    out = eng.query(body)
    assert eng.last_routes() == ["ladder:3600000"]
    assert out[0]["dps"] == {hour0: pytest.approx(7.0),
                             hour1: pytest.approx(3.0)}
    rebuilt = eng._frames[rung1h]
    assert rebuilt[0] > first[0]
    assert rebuilt[2].storageLevel != StorageLevel.NONE


def test_memo_persists_stored_frames_and_unpersists_dropped_ones(
    spark, tmp_path_factory
):
    """Every DataFrame the memo stores (the points, catalog and fine
    rollup serving frames and a ladder rung's frame) is persisted; a
    frame replaced by a newer stamp, or evicted, is unpersisted."""
    from pyspark import StorageLevel

    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import refresh_ladder

    d = tmp_path_factory.mktemp("memopersist")
    lake, catalog, roll, rung1h = (
        str(d / n) for n in ("lake", "catalog", "rollup", "rollup_1h")
    )
    ladder = {3_600_000: rung1h}
    eng = Engine(spark, lake, catalog, rollup_dir=roll, ladder=ladder)
    eng.put([{"metric": "mp.s", "tags": {"ksid": "k1", "host": f"h{i % 2}"},
              "timestamp": BASE_TS + i * 600_000, "value": float(i)}
             for i in range(12)])
    eng.checkpoint()
    refresh_ladder(spark, lake, roll, ladder)

    def query(downsample):
        eng.query({
            "start": BASE_TS, "end": BASE_TS + 2 * 3_600_000,
            "queries": [{"metric": "mp.s", "aggregator": "sum",
                         "downsample": downsample}],
        })
        return eng.last_routes()

    assert query("1h-avg") == ["ladder:3600000"]
    assert query("10m-avg") == ["fine"]
    slots = ("points", "catalog", "rollup", rung1h)
    frames = {slot: eng._frames[slot][2] for slot in slots}
    for slot, frame in frames.items():
        assert frame.storageLevel != StorageLevel.NONE, slot

    eng.put([{"metric": "mp.s", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + 1, "value": 100.0}])
    assert query("10m-avg") == ["fine"]
    for slot in ("points", "catalog", "rollup"):
        assert eng._frames[slot][2] is not frames[slot]
        assert frames[slot].storageLevel == StorageLevel.NONE, slot
        assert eng._frames[slot][2].storageLevel != StorageLevel.NONE, slot

    eng._evict(rung1h)
    assert rung1h not in eng._frames
    assert frames[rung1h].storageLevel == StorageLevel.NONE


def test_unstored_frame_builds_persist_nothing(spark, tmp_path_factory,
                                               monkeypatch):
    """Only stored frames are persisted: an unpinned read (no checkpoint)
    and a degraded read (a catalog snapshot raising NoBaseline) return
    their frames as built, so the session's persistent RDDs are the same
    before and after each of them."""
    import mycenae_spark.streaming.snapshot as snap
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("unstored")
    eng = Engine(spark, str(d / "lake"), str(d / "catalog"),
                 rollup_dir=str(d / "rollup"))
    eng.put([{"metric": "un.s", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + i * 60_000, "value": float(i)}
             for i in range(10)])
    body = {
        "start": BASE_TS, "end": BASE_TS + 600_000,
        "queries": [{"metric": "un.s", "aggregator": "sum",
                     "downsample": "5m-avg"}],
    }
    persistent = spark.sparkContext._jsc.getPersistentRDDs

    n_before = persistent().size()
    assert sum(eng.query(body)[0]["dps"].values()) == pytest.approx(45 / 5)
    assert persistent().size() == n_before
    assert set(eng._frames) == {"tag_keys"}

    eng.checkpoint()

    def no_baseline(*a, **k):
        raise snap.NoBaseline("checkpoint lacks a catalog section")
    monkeypatch.setattr(snap, "read_catalog_snapshot", no_baseline)
    eng._result_cache.clear()
    n_before = persistent().size()
    assert sum(eng.query(body)[0]["dps"].values()) == pytest.approx(45 / 5)
    assert persistent().size() == n_before
    assert set(eng._frames) == {"tag_keys"}


def test_cache_missing_read_is_one_spark_job(spark, tmp_path_factory):
    """On memoized frames a result-cache miss is ONE Spark job, for every
    /api/query shape of the served-read benchmark: rung-routed, fine,
    fine with rate, tag group-by, raw percentile and raw wildcard.  The
    memo's frames are hash-partitioned by ``metric``, which every serving
    plan groups by, so no exchange is left above the cached scan.  Each
    shape is served once to warm the memo, then a fresh window of each
    runs under its own job group."""
    import uuid

    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import refresh_ladder

    H = 3_600_000
    d = tmp_path_factory.mktemp("onejob")
    lake, catalog, roll, rung1h = (
        str(d / n) for n in ("lake", "catalog", "rollup", "rollup_1h")
    )
    ladder = {H: rung1h}
    eng = Engine(spark, lake, catalog, rollup_dir=roll, ladder=ladder)
    eng.put([{"metric": m, "tags": {"ksid": "k1", "host": f"h{h}",
                                    "dc": f"dc{h % 2}"},
              "timestamp": BASE_TS + i * 300_000, "value": float(i + h)}
             for m in ("oj.a", "oj.b") for h in range(4) for i in range(96)])
    eng.checkpoint()
    refresh_ladder(spark, lake, roll, ladder)

    #: shape → (its route, its sub-query)
    shapes = {
        "rung": ("ladder:3600000",
                 {"aggregator": "sum", "downsample": "1h-avg"}),
        "fine": ("fine", {"aggregator": "max", "downsample": "5m-max"}),
        "rate": ("fine", {"aggregator": "avg", "downsample": "1m-avg",
                          "rate": True}),
        "group-by": ("fine", {"aggregator": "avg", "downsample": "10m-avg",
                              "filters": [{"type": "literal_or",
                                           "tagk": "dc", "filter": "dc0|dc1",
                                           "groupBy": True}]}),
        "raw p95": ("raw", {"aggregator": "max",
                            "downsample": "15m-p95"}),
        "raw wildcard": ("raw", {"aggregator": "sum",
                                 "filters": [{"type": "wildcard",
                                              "tagk": "host",
                                              "filter": "h1*",
                                              "groupBy": True}]}),
    }

    def query(shape, metric, start):
        route, sub = shapes[shape]
        out = eng.query({
            "start": start, "end": start + 2 * H,
            "queries": [{"metric": metric, **sub}],
        })
        assert out and all(r["dps"] for r in out), shape
        assert eng.last_routes() == [route], shape

    for shape in shapes:
        query(shape, "oj.a", BASE_TS)
    sc = spark.sparkContext
    jobs = {}
    for shape in shapes:
        group = f"one-job-{uuid.uuid4().hex}"
        sc.setJobGroup(group, shape)
        try:
            query(shape, "oj.b", BASE_TS + 4 * H)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[shape] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == {shape: 1 for shape in shapes}


def test_tag_key_discovery_reads_catalog_not_lake(spark, tmp_path_factory):
    """_points()/suggest tag-key discovery must come from the #series-bounded
    catalog, never a full scan of the point lake's tags column (a per-request
    100 TB read at scale).  Proven behaviorally: a tag key present only in
    lake rows (never cataloged) is invisible, and the key set is memoized
    until a commit advances the log head."""
    import pyspark.sql.functions as F

    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("tagkeys")
    lake, catalog = str(d / "lake"), str(d / "catalog")
    eng = Engine(spark, lake, catalog)
    eng.put([
        {"metric": "m.a", "tags": {"ksid": "k1", "host": "h0"},
         "timestamp": BASE_TS, "value": 1.0},
    ])

    # plant a lake-only rogue tag key, bypassing ingest (so it never reaches
    # the catalog) — discovery must NOT see it
    rogue = (
        spark.read.parquet(lake)
        .withColumn("tags", F.map_concat("tags", F.create_map(
            F.lit("rogue"), F.lit("x"))))
    )
    rogue.write.mode("append").partitionBy("ksid", "date").parquet(lake)

    eng._evict("tag_keys")
    assert eng._tag_keys() == ["host"]
    assert [c for c in eng._points().columns if c.startswith("tag_")] == ["tag_host"]

    # memoized: poisoning the memo entry proves later reads don't
    # recompute…
    stamp, inputs, _keys = eng._frames["tag_keys"]
    eng._frames["tag_keys"] = (stamp, inputs, ["sentinel"])
    assert eng._tag_keys() == ["sentinel"]
    # …and a write advances the log head, picking up genuinely new
    # cataloged keys
    eng.put([
        {"metric": "m.b", "tags": {"ksid": "k1", "dc": "eu"},
         "timestamp": BASE_TS, "value": 2.0},
    ])
    assert eng._tag_keys() == ["dc", "host"]


def test_tag_key_committed_by_another_writer_is_queryable(
    spark, tmp_path_factory
):
    """Two engines share one lake.  A tag key that engine B commits is
    queryable through engine A at the next generation, with no restart
    and no write of A's own: the tag keys are stamped by the log head,
    so a commit from any writer refreshes them."""
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("twowriters")
    lake, catalog = str(d / "lake"), str(d / "catalog")
    a, b = Engine(spark, lake, catalog), Engine(spark, lake, catalog)
    a.put([{"metric": "m.a", "tags": {"ksid": "k1", "host": "h0"},
            "timestamp": BASE_TS, "value": 1.0}])
    a.checkpoint()
    span = {"start": BASE_TS, "end": BASE_TS + 600_000}
    out = a.query({**span, "queries": [{"metric": "m.a",
                                        "aggregator": "sum"}]})
    assert sum(out[0]["dps"].values()) == pytest.approx(1.0)

    b.put([{"metric": "m.b", "tags": {"ksid": "k1", "dc": dc},
            "timestamp": BASE_TS, "value": v}
           for dc, v in (("eu", 2.0), ("us", 3.0))])
    eu = {**span, "queries": [{
        "metric": "m.b", "aggregator": "sum",
        "filters": [{"tagk": "dc", "type": "literal_or", "filter": "eu"}],
    }]}
    assert sum(b.query(eu)[0]["dps"].values()) == pytest.approx(2.0)
    assert sum(a.query(eu)[0]["dps"].values()) == pytest.approx(2.0)


def test_engine_log_gated_reads_after_checkpoint(spark, tmp_path_factory):
    """Engine.checkpoint() switches the query path to log-gated snapshot
    reads: a foreign parquet file dropped into the lake outside the commit
    protocol is invisible to queries, while a later committed put IS
    visible (manifest replay).  Without a checkpoint the engine keeps the
    availability-first directory-read fallback."""
    import glob
    import shutil

    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("loggated")
    lake, catalog = str(d / "lake"), str(d / "catalog")
    eng = Engine(spark, lake, catalog)
    eng.put([
        {"metric": "lg.m", "tags": {"ksid": "k1", "host": f"h{i}"},
         "timestamp": BASE_TS + i * 1000, "value": 1.0}
        for i in range(4)
    ])

    def n_rows():
        return eng._points().filter("metric = 'lg.m'").count()

    assert n_rows() == 4
    eng.checkpoint()

    part_dir = glob.glob(f"{lake}/ksid=k1/date=*/")[0]
    src = glob.glob(f"{part_dir}*.parquet")[0]
    shutil.copy(src, part_dir + "part-foreign.c000.parquet")

    # directory read would double-count; the log-gated read does not
    assert n_rows() == 4
    assert spark.read.parquet(lake).count() > 4

    # a committed put after the checkpoint is visible via its manifest
    eng.put([
        {"metric": "lg.m", "tags": {"ksid": "k1", "host": "h9"},
         "timestamp": BASE_TS + 9000, "value": 1.0},
    ])
    assert n_rows() == 5


def test_engine_routes_pnn_onto_qsample_ladder(spark, tmp_path_factory):
    """r9 VERDICT item 2: percentile downsamples consult the
    quantile-sample ladder under the same coverage/currency gates as the
    algebraic rungs — exact (bit-for-bit vs the fine path's
    F.percentile) when buckets hold <= k points — and the engine records
    which rung class served.  Staleness (a put after the backfill) must
    fall back to the fine path, and a refreshed rung must route again."""
    import pytest as _pytest

    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import backfill_qsample

    d = tmp_path_factory.mktemp("qsroute")
    lake, catalog, qs1h = str(d / "lake"), str(d / "cat"), str(d / "qs1h")

    eng = Engine(spark, lake, catalog, qsample_ladder={3_600_000: qs1h})
    # 2 series x 2 hours x 60 points/hour (60 <= k=64: sample == bucket)
    pts = [
        {"metric": "qs.route", "tags": {"ksid": "k1", "host": "h0"},
         "timestamp": BASE_TS + b * 3_600_000 + j * 60_000,
         "value": float(100 * b + j)}
        for b in range(2) for j in range(60)
    ] + [
        {"metric": "qs.route", "tags": {"ksid": "k1", "host": "h1"},
         "timestamp": BASE_TS + b * 3_600_000 + j * 60_000,
         "value": float(1000 + 100 * b + 2 * j)}
        for b in range(2) for j in range(60)
    ]
    eng.put(pts)
    backfill_qsample(spark, lake, qs1h, interval_ms=3_600_000)

    body = {"start": BASE_TS, "end": BASE_TS + 2 * 3_600_000,
            "queries": [{"metric": "qs.route", "aggregator": "sum",
                         "downsample": "1h-p95"}]}
    out = eng.query(body)
    assert eng.last_routes() == ["qsample:3600000"]
    dps = {int(k) * 1000: v for k, v in out[0]["dps"].items()}
    # closed form: per-bucket interpolated p95 of 60 values
    # h0: 100b + 56.05 ; h1: 1000 + 100b + 112.1 ; summed across series
    assert dps[BASE_TS] == _pytest.approx(1168.15)
    assert dps[BASE_TS + 3_600_000] == _pytest.approx(1368.15)

    # the fine path (no ladder) computes the identical answer
    eng_fine = Engine(spark, lake, catalog)
    out_fine = eng_fine.query(body)
    assert eng_fine.last_routes() == ["raw"]
    assert out_fine[0]["dps"] == out[0]["dps"]

    # per-series grouping routes too (tags joined from the catalog)
    body_g = {"start": BASE_TS, "end": BASE_TS + 2 * 3_600_000,
              "queries": [{"metric": "qs.route", "aggregator": "sum",
                           "downsample": "1h-p95",
                           "filters": [{"type": "wildcard", "tagk": "host",
                                        "filter": "*", "groupBy": True}]}]}
    out_g = eng.query(body_g)
    assert eng.last_routes() == ["qsample:3600000"]
    by_host = {o["tags"]["host"]: o["dps"] for o in out_g}
    assert {int(k) * 1000: v for k, v in by_host["h0"].items()}[BASE_TS] == \
        _pytest.approx(56.05)
    assert {int(k) * 1000: v for k, v in by_host["h1"].items()}[BASE_TS] == \
        _pytest.approx(1112.1)

    # a write stales the rung -> falls back to the fine path
    eng.put([{"metric": "qs.route", "tags": {"ksid": "k1", "host": "h0"},
              "timestamp": BASE_TS + 30_000, "value": 1e6}])
    out_stale = eng.query(body)
    assert eng.last_routes() == ["raw"]
    # p95 of h0's bucket now spans 61 values (h=57 exactly -> 57.0):
    # 57.0 + 1112.1 = 1169.1 -- the new point IS in the fine answer
    assert {int(k) * 1000: v for k, v in out_stale[0]["dps"].items()}[
        BASE_TS] == _pytest.approx(1169.1)

    # refresh re-pins -> routes again, with the new point in the sample
    backfill_qsample(spark, lake, qs1h, interval_ms=3_600_000)
    out_new = eng.query(body)
    assert eng.last_routes() == ["qsample:3600000"]
    assert out_new[0]["dps"] == out_stale[0]["dps"]

    # misaligned range / pre-downsample rate: never routed
    body_mis = {"start": BASE_TS + 60_000, "end": BASE_TS + 2 * 3_600_000,
                "queries": [{"metric": "qs.route", "aggregator": "sum",
                             "downsample": "1h-p95"}]}
    eng.query(body_mis)
    assert eng.last_routes() == ["raw"]


def test_funnel_and_retention_endpoints(server):
    """The analytics verbs are reachable through the served engine (r10
    VERDICT item 3): POST funnel/retention bodies compile onto
    operators/funnel.py and return summary JSON."""
    DAY = 86_400_000
    evs = []

    def ev(u, m, ts):
        evs.append({"metric": m, "tags": {"ksid": "k1", "user": u},
                    "timestamp": ts, "value": 1.0})

    # f1 completes view->click->purchase inside 1d windows
    ev("f1", "view", BASE_TS)
    ev("f1", "click", BASE_TS + 3_600_000)
    ev("f1", "purchase", BASE_TS + 7_200_000)
    # f2 clicks, but purchases 3 days after the click (outside window)
    ev("f2", "view", BASE_TS)
    ev("f2", "click", BASE_TS + 3_600_000)
    ev("f2", "purchase", BASE_TS + 3 * DAY)
    # f3 views on day 0 and again on day 1 (retention signal)
    ev("f3", "view", BASE_TS)
    ev("f3", "view", BASE_TS + DAY)
    code, resp = _req(server, "/api/put", evs)
    assert code == 200 and resp["failed"] == 0

    code, fr = _req(
        server, "/keysets/k1/api/query/funnel",
        {"steps": ["view", "click", "purchase"], "window": "1d",
         "user_tag": "user", "start": BASE_TS - DAY,
         "end": BASE_TS + 10 * DAY, "limit": 5},
    )
    assert code == 200
    assert fr["reached"] == [3, 2, 1]
    assert fr["rate"][0] == 1.0 and abs(fr["rate"][2] - 1 / 3) < 1e-9
    top = fr["sample"][0]
    assert top["user_id"] == "f1" and top["stage"] == 3

    code, rr = _req(
        server, "/keysets/k1/api/query/retention",
        {"bucket": "1d", "user_tag": "user", "metric": "view"},
    )
    assert code == 200
    cells = {c["offset"]: c for c in rr["cells"]}
    assert cells[0]["cohort_size"] == 3 and cells[0]["n_active"] == 3
    assert cells[1]["n_active"] == 1 and abs(cells[1]["rate"] - 1 / 3) < 1e-9

    # unknown user tag is a 400, not an empty funnel
    code, err = _req(
        server, "/keysets/k1/api/query/funnel",
        {"steps": ["view", "click"], "window": "1d", "user_tag": "nosuch"},
    )
    assert code == 400 and "unknown user tag" in err["error"]


def test_rung_pinned_head_gate(spark, tmp_path_factory):
    """r10 ADVICE: a rung re-backfilled AFTER a request pinned its head
    must not serve that request — its rows may reflect commits newer than
    the pinned generation and would be cached under the older key.  Both
    routing paths (qsample + algebraic ladder) gate the rung marker's
    as_of_seq against the request's pinned head and fall through."""
    from mycenae_spark.api import parse_query_request
    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import (
        _read_marker_as_of,
        backfill_qsample,
    )

    d = tmp_path_factory.mktemp("pingate")
    lake, catalog, qs1h = str(d / "lake"), str(d / "cat"), str(d / "qs1h")
    eng = Engine(spark, lake, catalog, qsample_ladder={3_600_000: qs1h})
    eng.put([
        {"metric": "pin.g", "tags": {"ksid": "k1", "host": "h0"},
         "timestamp": BASE_TS + j * 60_000, "value": float(j)}
        for j in range(60)
    ])
    backfill_qsample(spark, lake, qs1h, interval_ms=3_600_000)
    rung_pin = _read_marker_as_of(qs1h)
    assert rung_pin is not None and rung_pin >= 1

    body = {"start": BASE_TS, "end": BASE_TS + 3_600_000,
            "queries": [{"metric": "pin.g", "aggregator": "sum",
                         "downsample": "1h-p95"}]}
    (q,) = parse_query_request(body, BASE_TS + 3_600_000)

    try:
        # request pinned AT (or after) the rung's build head: routes
        eng._read_pin.as_of = rung_pin
        assert eng._pick_qsample(q) is not None
        # request pinned BEFORE the rung was built: must fall through
        eng._read_pin.as_of = rung_pin - 1
        assert eng._pick_qsample(q) is None
        # unpinned request (no checkpoint/log gate): routes as before
        eng._read_pin.as_of = None
        assert eng._pick_qsample(q) is not None
    finally:
        eng._read_pin.as_of = None


def test_gaps_endpoint(server):
    """POST /api/query/gaps: per-series heartbeat report over the served
    lake — a 2h-threshold scan must flag g2's 1-day silent window and
    report the single-point series with the -1 sentinels."""
    DAY = 86_400_000
    pts = [
        {"metric": "hb.sig", "tags": {"ksid": "k1", "node": "g1"},
         "timestamp": BASE_TS, "value": 1.0},
        {"metric": "hb.sig", "tags": {"ksid": "k1", "node": "g2"},
         "timestamp": BASE_TS, "value": 1.0},
        {"metric": "hb.sig", "tags": {"ksid": "k1", "node": "g2"},
         "timestamp": BASE_TS + DAY, "value": 1.0},
    ]
    code, resp = _req(server, "/api/put", pts)
    assert code == 200 and resp["failed"] == 0
    code, rows = _req(
        server, "/keysets/k1/api/query/gaps",
        {"metric": "hb.sig", "threshold": "2h"},
    )
    assert code == 200
    by_node = {r["tags"].get("node"): r for r in rows
               if r["metric"] == "hb.sig"}
    # g2 reported at BASE_TS and BASE_TS+1d: one 24h gap over threshold
    assert by_node["g2"]["n_points"] == 2
    assert by_node["g2"]["max_gap_us"] == DAY * 1000
    assert by_node["g2"]["n_large_gaps"] == 1
    assert by_node["g2"]["mean_gap_us"] == DAY * 1000
    # g1 reported once: no interval exists
    assert by_node["g1"]["n_points"] == 1
    assert by_node["g1"]["max_gap_us"] == -1
    assert by_node["g1"]["mean_gap_us"] == -1


def test_funnel_endpoint_bad_bodies(server):
    """Malformed analytics bodies are 400s with actionable messages, not
    empty results or 500 stack traces."""
    code, err = _req(server, "/keysets/k1/api/query/funnel",
                     {"window": "1d", "user_tag": "user"})
    assert code == 400 and "steps" in err["error"]
    code, err = _req(server, "/keysets/k1/api/query/funnel",
                     {"steps": ["view"], "window": "1d"})
    assert code == 400 and "steps" in err["error"]
    code, err = _req(server, "/keysets/k1/api/query/funnel",
                     {"steps": ["view", "click"], "window": "bogus"})
    assert code == 400
    code, err = _req(server, "/keysets/k1/api/query/gaps",
                     {"threshold": "not-an-interval"})
    assert code == 400


def test_analytics_generation_cache(spark, tmp_path_factory, monkeypatch):
    """Analytics responses cache per commit-log generation under query()'s
    gates: a repeated funnel body recomputes nothing, any write advances
    the head and the next request misses into a fresh plan, and without a
    checkpoint (no log-gated reads) nothing is cached."""
    from mycenae_spark.operators import funnel as funnel_mod
    from mycenae_spark.server import Engine

    d = tmp_path_factory.mktemp("anacache")
    eng = Engine(spark, str(d / "lake"), str(d / "cat"))
    evs = [
        {"metric": m, "tags": {"ksid": "k1", "user": u},
         "timestamp": BASE_TS + off, "value": 1.0}
        for u, m, off in [("c1", "view", 0), ("c1", "click", 60_000)]
    ]
    eng.put(evs)

    calls = {"n": 0}
    real = funnel_mod.funnel_stages

    def counted(*a, **k):
        calls["n"] += 1
        return real(*a, **k)

    monkeypatch.setattr(funnel_mod, "funnel_stages", counted)
    body = {"steps": ["view", "click"], "window": "1d", "user_tag": "user"}

    # no checkpoint yet -> reads aren't log-gated -> no caching
    assert eng.query_funnel(body)["reached"] == [1, 1]
    assert eng.query_funnel(body)["reached"] == [1, 1]
    assert calls["n"] == 2

    eng.checkpoint()
    first = eng.query_funnel(body)
    assert eng.query_funnel(body) == first
    assert calls["n"] == 3  # second served from the generation cache
    # served copies must not poison the cached entry
    hit = eng.query_funnel(body)
    hit["reached"][0] = 999
    assert eng.query_funnel(body)["reached"] == first["reached"]
    assert calls["n"] == 3

    # canonicalized keys: explicit defaults and unknown fields share the
    # entry with the bare body — no recompute, no FIFO churn
    assert eng.query_funnel(
        {**body, "user_tag": "user", "ignored_field": 1}
    ) == first
    assert calls["n"] == 3

    # any write advances the head -> next request recomputes
    eng.put([{"metric": "view", "tags": {"ksid": "k1", "user": "c2"},
              "timestamp": BASE_TS, "value": 1.0}])
    out = eng.query_funnel(body)
    assert out["reached"] == [2, 1]
    assert calls["n"] == 4


def test_last_endpoint(server):
    """POST /api/query/last: newest datapoint per series — the OpenTSDB
    current-value read, over the heartbeat test's series."""
    code, rows = _req(
        server, "/keysets/k1/api/query/last", {"metric": "hb.sig"},
    )
    assert code == 200
    by_node = {r["tags"].get("node"): r for r in rows
               if r["metric"] == "hb.sig"}
    assert by_node["g1"]["timestamp"] == BASE_TS
    assert by_node["g2"]["timestamp"] == BASE_TS + 86_400_000
    assert by_node["g2"]["value"] == 1.0

def test_series_cap_and_pagination(spark, tmp_path_factory):
    """MaxTimeseries (SURVEY §2.3 L2) wired into the served engine
    (VERDICT r11 item 1): a query / unbounded gaps / unbounded last
    resolving MORE series than the cap is REJECTED pre-flight (400 —
    the reference rejects rather than truncates), an under-cap request
    answers, and a ``limit``-bounded gaps/last request pages an
    over-cap catalog keyset-style via the returned ``key`` cursor with
    no row lost or repeated."""
    d = tmp_path_factory.mktemp("caplake")
    httpd, _ = serve(spark, str(d / "lake"), str(d / "catalog"),
                     max_series=3)
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        pts = [
            {"metric": "m.big", "tags": {"ksid": "k1", "u": f"u{i}"},
             "timestamp": BASE_TS + i, "value": float(i)}
            for i in range(5)
        ] + [
            {"metric": "m.small", "tags": {"ksid": "k1", "u": f"u{i}"},
             "timestamp": BASE_TS, "value": 1.0}
            for i in range(2)
        ]
        code, resp = _req(base, "/api/put", pts)
        assert code == 200 and resp["failed"] == 0

        q = {"start": BASE_TS - 1000, "end": BASE_TS + 60_000,
             "queries": [{"metric": "m.big", "aggregator": "sum"}]}
        code, err = _req(base, "/keysets/k1/api/query", q)
        assert code == 400 and "MaxTimeseries" in err["error"]

        # a tag filter narrowing below the cap answers
        q["queries"][0]["filters"] = [
            {"tagk": "u", "type": "literal_or", "filter": "u0|u1"}]
        code, out = _req(base, "/keysets/k1/api/query", q)
        assert code == 200 and len(out) == 1

        # under-cap metric answers
        q2 = {"start": BASE_TS - 1000, "end": BASE_TS + 60_000,
              "queries": [{"metric": "m.small", "aggregator": "sum"}]}
        code, out = _req(base, "/keysets/k1/api/query", q2)
        assert code == 200 and len(out) == 1

        # unbounded gaps/last over 7 series (cap 3): rejected
        code, err = _req(base, "/keysets/k1/api/query/gaps", {})
        assert code == 400 and "MaxTimeseries" in err["error"]
        code, err = _req(base, "/keysets/k1/api/query/last", {})
        assert code == 400 and "MaxTimeseries" in err["error"]

        # bounded pages walk the whole over-cap catalog exactly once
        seen, after, pages = [], None, 0
        while True:
            body = {"limit": 3}
            if after is not None:
                body["after_key"] = after
            code, rows = _req(base, "/keysets/k1/api/query/last", body)
            assert code == 200 and len(rows) <= 3
            if not rows:
                break
            assert [r["key"] for r in rows] == sorted(r["key"] for r in rows)
            seen.extend(r["key"] for r in rows)
            after = rows[-1]["key"]
            pages += 1
            assert pages <= 5
        assert len(seen) == 7 and len(set(seen)) == 7

        # gaps pages too, and a metric-filtered page restricts
        code, rows = _req(base, "/keysets/k1/api/query/gaps",
                          {"metric": "m.big", "limit": 2})
        assert code == 200 and len(rows) == 2
        code, rows2 = _req(base, "/keysets/k1/api/query/gaps",
                           {"metric": "m.big", "limit": 9,
                            "after_key": rows[-1]["key"]})
        assert code == 200 and len(rows2) == 3
        assert not {r["key"] for r in rows} & {r["key"] for r in rows2}

        # funnel/retention pre-flight the cap on their resolved series
        code, err = _req(base, "/keysets/k1/api/query/funnel",
                         {"steps": ["m.big", "m.small"], "window": "1d",
                          "user_tag": "u"})
        assert code == 400 and "MaxTimeseries" in err["error"]
        code, out = _req(base, "/keysets/k1/api/query/retention",
                         {"metric": "m.small", "user_tag": "u"})
        assert code == 200
    finally:
        httpd.shutdown()
        httpd.server_close()

def test_attribution_endpoint(server):
    """POST /api/query/attribution: first/last-touch conversion credit
    over the funnel test's events — f1's purchase attributes to its
    click (last) and to its view... no: touch metric is explicit, so
    mode=last picks f1's click at +1h and mode=first the same single
    click; f2's purchase at day 3 has no click inside its 1d window."""
    body = {"conversion": "purchase", "touch": "click", "window": "1d",
            "user_tag": "user", "mode": "last", "limit": 5}
    code, out = _req(server, "/keysets/k1/api/query/attribution", body)
    assert code == 200
    assert out["conversions"] == 2 and out["attributed"] == 1
    assert abs(out["rate"] - 0.5) < 1e-9
    # f1: purchase at +2h, click at +1h -> 1h latency
    assert out["mean_latency_ms"] == 3_600_000.0
    samp = {s["user_id"]: s for s in out["sample"]}
    assert samp["f1"]["attributed"] is True
    assert samp["f2"]["attributed"] is False

    body["mode"] = "first"
    code, out = _req(server, "/keysets/k1/api/query/attribution", body)
    assert code == 200 and out["attributed"] == 1

    code, err = _req(server, "/keysets/k1/api/query/attribution",
                     {"touch": "click"})
    assert code == 400 and "conversion" in err["error"]
    code, err = _req(server, "/keysets/k1/api/query/attribution",
                     {"conversion": "purchase", "touch": "click",
                      "mode": "bogus"})
    assert code == 400 and "mode" in err["error"]


def test_funnel_attribution_cursor_pagination(spark, tmp_path_factory):
    """r12 VERDICT item 4 (twice-carried, closed r14): the funnel and
    attribution per-user samples page keyset-style beyond ``limit`` via
    ``after_key`` — every row's ``key`` is the typed cursor, pages walk
    the whole frame with no row lost or repeated, ordering holds across
    page boundaries (including the non-null → null latency boundary in
    attribution), and a malformed cursor is a 400."""
    HOUR = 3_600_000
    d = tmp_path_factory.mktemp("pagelake")
    httpd, _ = serve(spark, str(d / "lake"), str(d / "catalog"))
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        evs = []

        def ev(u, m, ts):
            evs.append({"metric": m, "tags": {"ksid": "k1", "user": u},
                        "timestamp": ts, "value": 1.0})

        # stages: u0,u6 → 3; u1,u2 → 2; u3,u4,u5 → 1
        for u in ("u0", "u1", "u2", "u3", "u4", "u5", "u6"):
            ev(u, "view", BASE_TS)
        for u, dt in (("u0", HOUR), ("u1", HOUR), ("u2", HOUR),
                      ("u6", HOUR // 2)):
            ev(u, "click", BASE_TS + dt)
        # purchases: u0 latency 1h, u6 1.5h, u2 10min; u1/u3 purchase
        # with NO click in window → attributed=False, null latency
        ev("u0", "purchase", BASE_TS + 2 * HOUR)
        ev("u6", "purchase", BASE_TS + 2 * HOUR)
        ev("u2", "purchase", BASE_TS + HOUR + 600_000)
        ev("u1", "purchase", BASE_TS + 3 * 86_400_000)
        ev("u3", "purchase", BASE_TS + 4 * 86_400_000)
        code, resp = _req(base, "/api/put", evs)
        assert code == 200 and resp["failed"] == 0

        # ---- funnel: pages of 3 over 7 users, (stage DESC, user ASC)
        fbody = {"steps": ["view", "click", "purchase"], "window": "1d",
                 "user_tag": "user", "limit": 3}
        seen, after = [], None
        for _ in range(4):
            b = dict(fbody)
            if after is not None:
                b["after_key"] = after
            code, fr = _req(base, "/keysets/k1/api/query/funnel", b)
            assert code == 200
            # the summary is page-invariant
            assert fr["reached"] == [7, 4, 3]
            if not fr["sample"]:
                break
            seen.extend((s["stage"], s["user_id"]) for s in fr["sample"])
            after = fr["sample"][-1]["key"]
        expect = [(3, "u0"), (3, "u2"), (3, "u6"), (2, "u1"),
                  (1, "u3"), (1, "u4"), (1, "u5")]
        # ordering within the walk is (stage desc, user asc) end-to-end
        assert seen == sorted(seen, key=lambda t: (-t[0], t[1]))
        assert sorted(seen) == sorted(expect)
        assert len(set(seen)) == 7

        code, err = _req(base, "/keysets/k1/api/query/funnel",
                         {**fbody, "after_key": "bogus"})
        assert code == 400 and "after_key" in err["error"]

        # ---- attribution: pages of 2 over 5 conversions, latency DESC
        # NULLS LAST — the walk crosses the non-null → null boundary
        abody = {"conversion": "purchase", "touch": "click",
                 "window": "1d", "user_tag": "user", "limit": 2}
        rows, after = [], None
        for _ in range(4):
            b = dict(abody)
            if after is not None:
                b["after_key"] = after
            code, ar = _req(base, "/keysets/k1/api/query/attribution", b)
            assert code == 200
            assert ar["conversions"] == 5 and ar["attributed"] == 3
            if not ar["sample"]:
                break
            rows.extend(ar["sample"])
            after = ar["sample"][-1]["key"]
        got = [(r["latency_ms"], r["user_id"]) for r in rows]
        assert got == [(5_400_000.0, "u6"), (3_600_000.0, "u0"),
                       (600_000.0, "u2"), (None, "u1"), (None, "u3")]
        assert all(r["attributed"] is (r["latency_ms"] is not None)
                   for r in rows)

        code, err = _req(base, "/keysets/k1/api/query/attribution",
                         {**abody, "after_key": [1, 2]})
        assert code == 400 and "after_key" in err["error"]
        # wrong-typed cursor elements are the documented 400, not a raw
        # float()/AnalysisException message (review finding)
        code, err = _req(base, "/keysets/k1/api/query/attribution",
                         {**abody, "after_key": ["abc", "u0", 0]})
        assert code == 400 and "after_key" in err["error"]
        code, err = _req(base, "/keysets/k1/api/query/funnel",
                         {**fbody, "after_key": [2, None]})
        assert code == 400 and "after_key" in err["error"]
        # JSON booleans are NOT integers: bool subclasses int in Python,
        # so [true, "u1"] used to pass the isinstance(int) check and run
        # as stage 1 instead of the documented 400 (advice r14)
        code, err = _req(base, "/keysets/k1/api/query/funnel",
                         {**fbody, "after_key": [True, "u1"]})
        assert code == 400 and "after_key" in err["error"]
        code, err = _req(base, "/keysets/k1/api/query/attribution",
                         {**abody, "after_key": [True, "u0", 0]})
        assert code == 400 and "after_key" in err["error"]
        code, err = _req(base, "/keysets/k1/api/query/attribution",
                         {**abody, "after_key": [None, "u0", False]})
        assert code == 400 and "after_key" in err["error"]

        # exact duplicate conversions (client retry) collapse to one
        # cursor-unique sample row with n_dup — a page boundary between
        # twins can no longer drop one (review finding)
        ev("u6", "purchase", BASE_TS + 2 * HOUR)  # exact twin of u6's
        code, resp = _req(base, "/api/put", [evs[-1]])
        assert code == 200 and resp["failed"] == 0
        rows, after = [], None
        for _ in range(5):
            b = {**abody, "limit": 1}
            if after is not None:
                b["after_key"] = after
            code, ar = _req(base, "/keysets/k1/api/query/attribution", b)
            assert code == 200
            if not ar["sample"]:
                break
            rows.extend(ar["sample"])
            after = ar["sample"][-1]["key"]
        by_user = {r["user_id"]: r for r in rows}
        assert by_user["u6"]["n_dup"] == 2  # collapsed, not dropped
        assert len(rows) == 5 and ar["conversions"] == 6
    finally:
        httpd.shutdown()
        httpd.server_close()


def test_media_dups_endpoint(server):
    """POST /keysets/{ks}/api/query/media_dups (r15, r14 VERDICT item 8):
    the perceptual dedup family served over HTTP.  Two brightness
    triples + a cross-container GIF re-encode collapse into two groups
    (the GIF joins its triple — md5-invisible, dHash-visible); a garbage
    payload decodes to null and never pairs; keyset paging walks groups;
    malformed bodies are the documented 400."""
    import base64

    from mycenae_spark.functions.multimodal import (
        _GRAY_PALETTE,
        encode_gif,
        encode_png,
        pixel_corpus_image,
    )

    items = []
    for d in (30, 31, 32, 600, 601, 602):  # two brightness triples
        w, h, ct, gray, px = pixel_corpus_image(d)
        b = encode_png(px, ct, row_filters=lambda y: y % 5, n_idat=2)
        items.append({"id": d, "payload": base64.b64encode(b).decode()})
    # GIF re-encode of id 30's pixels: different bytes, same dHash
    w, h, ct, gray, px = pixel_corpus_image(30)
    gif = encode_gif(gray, _GRAY_PALETTE)
    items.append({"id": 9000, "payload": base64.b64encode(gif).decode()})
    items.append({"id": 9001, "payload": base64.b64encode(b"junk").decode()})

    code, resp = _req(server, "/keysets/k1/api/query/media_dups",
                      {"items": items, "max_hamming": 0})
    assert code == 200
    assert resp["n_items"] == 8 and resp["n_undecodable"] == 1
    assert resp["n_no_signature"] == 1 and resp["n_capped_buckets"] == 0
    assert resp["n_groups"] == 2 and resp["n_duplicates"] == 5
    by_keep = {g["keep"]: g for g in resp["groups"]}
    assert by_keep[30]["members"] == [30, 31, 32, 9000]  # GIF joins
    assert by_keep[600]["members"] == [600, 601, 602]
    assert all(g["n_members"] == len(g["members"]) for g in resp["groups"])

    # keyset paging: limit=1 walks both groups via the cluster_id cursor
    seen = []
    after = None
    for _ in range(3):
        body = {"items": items, "max_hamming": 0, "limit": 1}
        if after is not None:
            body["after_key"] = after
        code, page = _req(server, "/keysets/k1/api/query/media_dups", body)
        assert code == 200 and page["n_groups"] == 2  # page-invariant
        if not page["groups"]:
            break
        seen.extend(g["cluster_id"] for g in page["groups"])
        after = page["groups"][-1]["key"]
    assert seen == [30, 600]

    # aHash family answers too (triples are brightness-invariant there)
    code, resp = _req(server, "/keysets/k1/api/query/media_dups",
                      {"items": items[:3], "family": "ahash"})
    assert code == 200 and resp["n_groups"] == 1

    # MASS duplicates beyond the corpus-scale valve (review finding):
    # 520 copies of one image used to hit the 512 hot-bucket cap and come
    # back as 520 "unique" assets with no warning; signature cliques now
    # group driver-side, so the valve cannot zero the answer
    many = [{"id": 20000 + i, "payload": items[0]["payload"]}
            for i in range(520)]
    code, resp = _req(server, "/keysets/k1/api/query/media_dups",
                      {"items": many, "max_hamming": 0})
    assert code == 200
    assert resp["n_groups"] == 1 and resp["n_duplicates"] == 519
    assert resp["groups"][0]["keep"] == 20000
    assert resp["n_capped_buckets"] == 0  # one DISTINCT signature

    # decodable-but-too-small (8x8 < the 9x8 dHash grid): NOT undecodable,
    # but contributes no signature
    import numpy as np

    from mycenae_spark.functions.multimodal import encode_png as _ep

    tiny = _ep(np.zeros((8, 8), dtype=np.uint8), 0)
    code, resp = _req(server, "/keysets/k1/api/query/media_dups",
                      {"items": [{"id": 1, "payload":
                                  base64.b64encode(tiny).decode()}]})
    assert code == 200
    assert resp["n_undecodable"] == 0 and resp["n_no_signature"] == 1

    # audio family: a WAV volume triple (1x/2x/3x of one waveform) is
    # md5-distinct but collapses under the energy-envelope fingerprint
    from mycenae_spark.functions.multimodal import (
        afp_corpus_samples,
        encode_wav,
    )

    wav_items = [
        {"id": 7000 + i,
         "payload": base64.b64encode(
             encode_wav(afp_corpus_samples(30 + i))).decode()}
        for i in range(3)
    ]
    code, resp = _req(server, "/keysets/k1/api/query/media_dups",
                      {"items": wav_items, "family": "afp"})
    assert code == 200 and resp["n_groups"] == 1
    assert resp["groups"][0]["members"] == [7000, 7001, 7002]

    # malformed bodies: each is the documented 400, never a 500
    bad = [
        {},  # items missing
        {"items": []},
        {"items": [{"id": True, "payload": "AA=="}]},  # bool id
        {"items": [{"id": 1, "payload": "not-b64!!"}]},
        {"items": [{"id": 1, "payload": "AA=="},
                   {"id": 1, "payload": "AA=="}]},  # dup id
        {"items": items[:1], "family": "md5"},
        {"items": items[:1], "family": "AFP"},  # families are lowercase
        {"items": items[:1], "max_hamming": 9},
        {"items": items[:1], "max_hamming": True},
        {"items": items[:1], "after_key": True},
        {"items": items[:1], "limit": 0},
    ]
    for body in bad:
        code, err = _req(server, "/keysets/k1/api/query/media_dups", body)
        assert code == 400 and "error" in err, body


# ------------------------------------------------- similarity endpoint (r16)

@pytest.fixture(scope="module")
def sim_server(spark, tmp_path_factory):
    """A façade constructed WITH a similarity corpus (the testdata
    embeddings table) — serving the committed IVFPQ artifact."""
    from tests.conftest import SF_DIR

    d = tmp_path_factory.mktemp("simlake")
    httpd, _ = serve(
        spark, str(d / "lake"), str(d / "catalog"), sim_dir=SF_DIR
    )
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    yield base
    httpd.shutdown()


def _corpus_vec(spark, vec_id):
    from tests.conftest import SF_DIR

    row = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(f"vec_id = {vec_id}")
        .collect()[0]
    )
    return [float(x) for x in row["embedding"]]


def test_similar_unconfigured_is_typed_400(server):
    code, err = _req(
        server, "/keysets/k1/api/query/similar",
        {"queries": [{"id": 1, "vector": [0.1] * 64}]},
    )
    assert code == 400 and "not configured" in err["error"]


def test_similar_exact_finds_identical_vector(spark, sim_server):
    v7 = _corpus_vec(spark, 7)
    code, resp = _req(
        sim_server, "/keysets/k1/api/query/similar",
        {"queries": [{"id": 1, "vector": v7}], "k": 3, "method": "exact"},
    )
    assert code == 200
    assert resp["n_queries"] == 1 and resp["method"] == "exact"
    (res,) = resp["results"]
    assert res["id"] == 1
    nb = res["neighbors"]
    assert len(nb) == 3 and [n["rk"] for n in nb] == [1, 2, 3]
    # no self-exclusion: the identical corpus vector IS the top hit
    assert nb[0]["n_id"] == 7 and nb[0]["cos"] == pytest.approx(1.0, abs=1e-5)


def test_similar_ivfpq_matches_exact_top1_and_recall(spark, sim_server):
    """The recall-vs-exact extra: the served IVFPQ answers agree with the
    exact baseline on top-1 for identical-vector probes and overlap on
    top-3 (the ann_ivfpq_recall_at3 discipline, socket-side)."""
    qs = [{"id": i, "vector": _corpus_vec(spark, vid)}
          for i, vid in enumerate([3, 7, 20])]
    code, ex = _req(
        sim_server, "/keysets/k1/api/query/similar",
        {"queries": qs, "k": 3, "method": "exact"},
    )
    assert code == 200
    code, iv = _req(
        sim_server, "/keysets/k1/api/query/similar",
        {"queries": qs, "k": 3, "nprobe": 4},
    )
    assert code == 200 and iv["method"] == "ivfpq" and iv["nprobe"] == 4
    ex_by = {r["id"]: r["neighbors"] for r in ex["results"]}
    iv_by = {r["id"]: r["neighbors"] for r in iv["results"]}
    hits = total = 0
    for q in ex_by:
        assert iv_by[q][0]["n_id"] == ex_by[q][0]["n_id"]  # top-1 agrees
        es = {n["n_id"] for n in ex_by[q]}
        hits += sum(1 for n in iv_by[q] if n["n_id"] in es)
        total += len(es)
    assert hits / total >= 2 / 3  # IVFPQ recall@3 vs exact, served


def test_similar_label_filter_prefilters_candidates(spark, sim_server):
    """The tenant/collection filter (r16): candidates are PRE-filtered
    to the requested label on BOTH methods — every returned neighbor
    carries it, k survivors appear whenever k matches exist, and the
    identical-vector probe's twin is excluded when its label differs."""
    from tests.conftest import SF_DIR

    rows = {
        r["vec_id"]: r["label"]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "label").collect()
    }
    v7, lab7 = _corpus_vec(spark, 7), rows[7]
    other = next(l for l in set(rows.values()) if l != lab7)

    for body_extra in ({"method": "exact"}, {"nprobe": 8}):
        code, resp = _req(
            sim_server, "/keysets/k1/api/query/similar",
            {"queries": [{"id": 1, "vector": v7}], "k": 3,
             "label": lab7, **body_extra},
        )
        assert code == 200 and resp["label"] == lab7
        nb = resp["results"][0]["neighbors"]
        assert nb and all(rows[n["n_id"]] == lab7 for n in nb)
        assert nb[0]["n_id"] == 7  # own label: the identical vector wins

        code, resp = _req(
            sim_server, "/keysets/k1/api/query/similar",
            {"queries": [{"id": 1, "vector": v7}], "k": 3,
             "label": other, **body_extra},
        )
        assert code == 200
        nb = resp["results"][0]["neighbors"]
        # the identical vector is OUTSIDE the filter — excluded even
        # though its cosine is 1.0; everything returned matches the label
        assert all(n["n_id"] != 7 and rows[n["n_id"]] == other for n in nb)

    code, err = _req(
        sim_server, "/keysets/k1/api/query/similar",
        {"queries": [{"id": 1, "vector": v7}], "label": True},
    )
    assert code == 400 and "label" in err["error"]


def test_similar_validation_is_typed_400(sim_server):
    ok_vec = [0.1] * 64
    bad = [
        {},  # queries missing
        {"queries": []},
        {"queries": [{"id": True, "vector": ok_vec}]},  # bool id
        {"queries": [{"id": 1, "vector": [0.1] * 63}]},  # wrong dim
        {"queries": [{"id": 1, "vector": [True] + [0.1] * 63}]},  # bool elem
        {"queries": [{"id": 1, "vector": ["x"] + [0.1] * 63}]},
        {"queries": [{"id": 1, "vector": [0.0] * 64}]},  # zero vector
        {"queries": [{"id": 1, "vector": [1e-200] * 64}]},  # norm underflow
        {"queries": [{"id": 1, "vector": [1e308] * 64}]},  # norm overflow
        {"queries": [{"id": 1, "vector": ok_vec},
                     {"id": 1, "vector": ok_vec}]},  # dup id
        {"queries": [{"id": 1, "vector": ok_vec}], "k": 0},
        {"queries": [{"id": 1, "vector": ok_vec}], "k": True},
        {"queries": [{"id": 1, "vector": ok_vec}], "k": 101},
        {"queries": [{"id": 1, "vector": ok_vec}], "nprobe": 0},
        {"queries": [{"id": 1, "vector": ok_vec}], "nprobe": 33},
        {"queries": [{"id": 1, "vector": ok_vec}], "method": "IVFPQ"},
        {"queries": [{"id": 1, "vector": ok_vec}], "method": "hnsw"},
    ]
    for body in bad:
        code, err = _req(sim_server, "/keysets/k1/api/query/similar", body)
        assert code == 400 and "error" in err, body


@pytest.fixture(scope="module")
def dedup_daily_server(spark, tmp_path_factory):
    """A server over a bridge-layout verdict lake (two crawl days in the
    batch_<day>/ layout both dedup bridges write — the endpoint reads it
    with the same read_bridge_output the bridges' own tests pin)."""
    from mycenae_spark.streaming.assimilate import VERDICT_SCHEMA

    d = tmp_path_factory.mktemp("dduplake")
    vdir = d / "verdicts"
    for day, rows in (
        (1, [(1000, 1, 0, 3, 1), (1001, 1, -1, 0, 0), (1002, 1, -1, 0, 0)]),
        (2, [(2000, 2, 1001, 3, 1), (2001, 2, 7, 1, 1), (2002, 2, -1, 0, 0)]),
    ):
        spark.createDataFrame(rows, VERDICT_SCHEMA).coalesce(1).write.parquet(
            str(vdir / f"batch_{day}")
        )
    httpd, _ = serve(
        spark, str(d / "lake"), str(d / "catalog"),
        dedup_verdicts_dir=str(vdir),
    )
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    yield base
    httpd.shutdown()


def test_dedup_daily_unconfigured_is_typed_400(server):
    code, err = _req(server, "/keysets/k1/api/query/dedup_daily")
    assert code == 400 and "not configured" in err["error"]


def test_dedup_daily_reports_per_day_and_total(dedup_daily_server):
    code, out = _req(dedup_daily_server, "/keysets/k1/api/query/dedup_daily")
    assert code == 200
    assert out["days"] == [
        {"day": 1, "n_items": 3, "n_dups": 1, "n_keeps": 2,
         "dup_rate": 0.3333},
        {"day": 2, "n_items": 3, "n_dups": 2, "n_keeps": 1,
         "dup_rate": 0.6667},
    ]
    assert out["total"] == {"n_items": 6, "n_dups": 3, "dup_rate": 0.5}


def test_dedup_daily_wrong_lake_is_typed_400(spark, tmp_path):
    """dedup_verdicts_dir mis-pointed at an ANN bridge's result lake
    (same batch_<day>/ layout, no is_dup column): the schema-ful read
    yields null is_dup rows, which must answer a typed 400 instead of
    500-ing on int(None) (r16 VERDICT)."""
    from mycenae_spark.streaming.assimilate import ANN_RESULT_SCHEMA

    vdir = tmp_path / "annlake"
    spark.createDataFrame(
        [(1, 10, 20, 1, 0.9)], ANN_RESULT_SCHEMA
    ).coalesce(1).write.parquet(str(vdir / "batch_1"))
    httpd, _ = serve(
        spark, str(tmp_path / "lake"), str(tmp_path / "catalog"),
        dedup_verdicts_dir=str(vdir),
    )
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        code, err = _req(base, "/keysets/k1/api/query/dedup_daily")
        assert code == 400 and "verdict lake" in err["error"]
        # the guard must hold even when ?day= names an ABSENT day — a
        # filtered-first aggregation would answer an empty 200 and hide
        # the misconfiguration (second review pass r17)
        code, err = _req(base, "/keysets/k1/api/query/dedup_daily?day=99")
        assert code == 400 and "verdict lake" in err["error"]
    finally:
        httpd.shutdown()


def test_dedup_daily_day_filter_and_validation(dedup_daily_server):
    code, out = _req(
        dedup_daily_server, "/keysets/k1/api/query/dedup_daily?day=2"
    )
    assert code == 200 and len(out["days"]) == 1
    assert out["days"][0]["day"] == 2 and out["days"][0]["n_dups"] == 2
    # an unknown day is an empty answer, not an error
    code, out = _req(
        dedup_daily_server, "/keysets/k1/api/query/dedup_daily?day=9"
    )
    assert code == 200 and out["days"] == [] and out["total"]["n_items"] == 0
    # a non-integer day is a typed 400
    code, err = _req(
        dedup_daily_server, "/keysets/k1/api/query/dedup_daily?day=x"
    )
    assert code == 400 and "must be an integer" in err["error"]


# ------------------------------------------------- served operator dials


def test_dedup_valve_unconfigured_is_typed_400(server):
    code, err = _req(server, "/keysets/k1/api/query/dedup_valve")
    assert code == 400 and "not configured" in err["error"]


def test_ann_drift_unconfigured_is_typed_400(server):
    code, err = _req(server, "/keysets/k1/api/query/ann_drift")
    assert code == 400 and "not configured" in err["error"]


def test_chain_status_unconfigured_is_typed_400(server):
    code, err = _req(server, "/keysets/k1/api/query/chain_status")
    assert code == 400 and "not configured" in err["error"]


def test_chain_status_serves_manifest_dial(spark, tmp_path):
    """The chain-lifetime dial (r17 VERDICT "what's missing" #4): depth,
    per-day generations with on-disk flags (a swept released generation
    reads False), horizon/pruned refusal sets, and a manifest
    fingerprint that moves exactly when the manifest does; a dir with
    no manifest and a torn manifest answer typed 400s."""
    import json as _json

    from mycenae_spark.server import serve

    vdir = tmp_path / "verdicts"
    vdir.mkdir()
    g0, g1 = tmp_path / "gen0", tmp_path / "gen1"
    g0.mkdir()
    g1.mkdir()
    gone = str(tmp_path / "gen_gone")  # released + already swept
    manifest = {
        "base": str(g0),
        "events": [
            {"day": 3, "grown": str(g1)},
            {"day": 4, "grown": None},  # all-dup day
            {"day": 5, "grown": gone},
        ],
        "horizon_days": [2, 1],
        "pruned_days": [3],
    }
    with open(vdir / "_chain.json", "w") as fh:
        _json.dump(manifest, fh)

    lake, cat = str(tmp_path / "lake"), str(tmp_path / "cat")
    httpd, _ = serve(spark, lake, cat, chain_dir=str(vdir))
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        code, out = _req(base, "/keysets/k1/api/query/chain_status")
        assert code == 200
        assert out["base"] == str(g0) and out["base_on_disk"]
        assert out["head"] == gone and out["head_on_disk"] is False
        assert out["n_generations"] == 3  # base + two grown events
        assert out["days"] == [
            {"day": 3, "grown": str(g1), "on_disk": True},
            {"day": 4, "grown": None, "on_disk": False},
            {"day": 5, "grown": gone, "on_disk": False},
        ]
        assert out["horizon_days"] == [1, 2]
        assert out["pruned_days"] == [3]
        md5 = out["manifest_md5"]
        assert len(md5) == 32
        # stable across polls, moves when the manifest moves
        assert _req(base, "/keysets/k1/api/query/chain_status")[1][
            "manifest_md5"] == md5
        manifest["pruned_days"] = [3, 4]
        with open(vdir / "_chain.json", "w") as fh:
            _json.dump(manifest, fh)
        code, out2 = _req(base, "/keysets/k1/api/query/chain_status")
        assert out2["manifest_md5"] != md5 and out2["pruned_days"] == [3, 4]

        # torn manifest: typed 400 naming corruption, not a JSON 500
        with open(vdir / "_chain.json", "w") as fh:
            fh.write("{ not json")
        code, err = _req(base, "/keysets/k1/api/query/chain_status")
        assert code == 400 and "corruption" in err["error"]

        # no manifest at all: typed 400 with the remedy
        (vdir / "_chain.json").unlink()
        code, err = _req(base, "/keysets/k1/api/query/chain_status")
        assert code == 400 and "at least one day" in err["error"]
    finally:
        httpd.shutdown()


def test_dedup_valve_serves_excision_report(spark, tmp_path, monkeypatch):
    """The valve dial over a REAL committed band index whose corpus
    exceeds the cap: per-band excision counts match the judged
    band_index_valve_report, and the total records a non-zero excised
    fraction — the number an operator alerts on."""
    from mycenae_spark.functions import dedup
    from tests.conftest import SF_DIR

    monkeypatch.setenv("MYCENAE_INDEX_ROOT", str(tmp_path / "pqidx"))
    boiler = "the same boilerplate text repeated everywhere forever"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "alpha beta gamma delta epsilon zeta"),
         (10, boiler), (11, boiler),
         (20, "fresh words never seen before anywhere")],
        "doc_id long, text string",
    )
    idx = dedup.ensure_band_index(
        spark, SF_DIR, docs, "doc_id", "text",
        pred_desc="valve-dial-test", n_bands=4, max_bucket_size=2,
    )
    httpd, _ = serve(
        spark, str(tmp_path / "lake"), str(tmp_path / "catalog"),
        band_index_dir=idx,
    )
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        code, out = _req(base, "/keysets/k1/api/query/dedup_valve")
        assert code == 200 and len(out["bands"]) == 4
        want = {
            r["band"]: (r["n_buckets_capped"], r["n_ids_capped"],
                        r["n_rows_kept"])
            for r in dedup.band_index_valve_report(spark, idx).collect()
        }
        got = {b["band"]: (b["n_buckets_capped"], b["n_ids_capped"],
                           b["n_rows_kept"]) for b in out["bands"]}
        assert got == want
        assert out["total"]["n_ids_capped"] >= 4  # the alpha triple excised
        assert 0 < out["total"]["excised_frac"] < 1
    finally:
        httpd.shutdown()


def test_ann_drift_serves_lake_and_guards_wrong_lake(spark, tmp_path):
    """The re-train dial over a drift lake: ordered generations, latest
    recall, drift-since-base; a mis-pointed lake (an ANN bridge's
    result table) answers the typed 400, not a null-cast 500."""
    drift = tmp_path / "drift"
    spark.createDataFrame(
        [(2, 450, 18, 0.857), (0, 350, 21, 0.952), (1, 400, 20, 0.952)],
        "generation long, n_corpus long, n_matches long, recall_at_3 double",
    ).coalesce(1).write.parquet(str(drift))
    wrong = tmp_path / "wrong"
    from mycenae_spark.streaming.assimilate import ANN_RESULT_SCHEMA

    spark.createDataFrame(
        [(1, 10, 20, 1, 0.9)], ANN_RESULT_SCHEMA
    ).coalesce(1).write.parquet(str(wrong))

    httpd, _ = serve(
        spark, str(tmp_path / "lake"), str(tmp_path / "catalog"),
        ann_drift_dir=str(drift),
    )
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        code, out = _req(base, "/keysets/k1/api/query/ann_drift")
        assert code == 200
        assert [g["generation"] for g in out["generations"]] == [0, 1, 2]
        assert out["latest_recall"] == 0.857
        assert abs(out["drift_since_base"] - (-0.095)) < 1e-9
    finally:
        httpd.shutdown()

    httpd, _ = serve(
        spark, str(tmp_path / "lake2"), str(tmp_path / "catalog2"),
        ann_drift_dir=str(wrong),
    )
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        code, err = _req(base, "/keysets/k1/api/query/ann_drift")
        assert code == 400 and "drift lake" in err["error"]
    finally:
        httpd.shutdown()


def test_ladder_status_reports_routing_gates(spark, tmp_path):
    """The routing dial: rung coverage/currency/pin flags flip exactly
    when the gates _pick_rung consults flip — current after a refresh,
    stale after a write, current again after re-refresh; an engine
    without ladders answers empty lists (valid deployment, 200).  The
    fine block carries the retention horizon + configured floor (r18
    VERDICT missing #2), flipping from (0, None) after a prune — the
    dashboard explanation for the retention guard's typed 400."""
    import datetime as _dt

    from mycenae_spark.server import Engine
    from mycenae_spark.streaming.rollup import (
        prune_sketch_lake,
        refresh_ladder,
    )

    HOUR = 3_600_000
    lake, cat = str(tmp_path / "lake"), str(tmp_path / "cat")
    r1m, r1h = str(tmp_path / "r1m"), str(tmp_path / "r1h")
    eng = Engine(spark, lake, cat, rollup_dir=r1m, ladder={HOUR: r1h})

    def put(ts_off, v):
        eng.put([{"metric": "ls.m", "tags": {"ksid": "k1", "host": "h0"},
                  "timestamp": BASE_TS + ts_off, "value": v}])

    put(0, 1.0)
    put(60_000, 2.0)
    httpd, _ = serve(spark, lake, cat, rollup_dir=r1m, ladder={HOUR: r1h})
    try:
        base = f"http://127.0.0.1:{httpd.server_address[1]}"
        code, out = _req(base, "/keysets/k1/api/query/ladder_status")
        assert code == 200
        assert out["fine_rollup"] == {"built": True,
                                      "coverage_complete": True,
                                      "retained_from_ms": 0,
                                      "retention_floor_days": None}
        rung = out["ladder"][0]
        assert rung["interval_ms"] == HOUR
        assert rung["built"] is False and rung["current"] is False
        assert rung["retained_from_ms"] == 0

        refresh_ladder(spark, lake, r1m, {HOUR: r1h})
        code, out = _req(base, "/keysets/k1/api/query/ladder_status")
        rung = out["ladder"][0]
        assert rung["built"] and rung["coverage_complete"] and rung["current"]
        assert rung["as_of_seq"] == out["head_seq"]

        put(120_000, 3.0)  # stales the rung
        code, out = _req(base, "/keysets/k1/api/query/ladder_status")
        rung = out["ladder"][0]
        assert rung["built"] and not rung["current"]
        assert out["head_seq"] > rung["as_of_seq"]

        refresh_ladder(spark, lake, r1m, {HOUR: r1h})
        code, out = _req(base, "/keysets/k1/api/query/ladder_status")
        assert out["ladder"][0]["current"]

        # prune the fine lake: the dial's retention fields flip, so the
        # guard's typed 400 is explainable from the dashboard
        prune_sketch_lake(
            lake, r1m, {HOUR: r1h}, keep_days=1, floor_days=1,
            today=_dt.date(2024, 1, 4),  # horizon 2024-01-03 > BASE_TS day
        )
        code, out = _req(base, "/keysets/k1/api/query/ladder_status")
        assert code == 200
        assert out["fine_rollup"]["retained_from_ms"] == BASE_TS + 2 * (
            24 * HOUR)
        assert out["fine_rollup"]["retention_floor_days"] == 1
        assert out["ladder"][0]["retained_from_ms"] == 0  # real rung
    finally:
        httpd.shutdown()


def test_ladder_status_without_ladders_is_empty_200(server):
    code, out = _req(server, "/keysets/k1/api/query/ladder_status")
    assert code == 200
    assert out["ladder"] == [] and out["qsample"] == []
    assert out["fine_rollup"] is None


def test_text_put_endpoint(server):
    """``/api/text/put`` shares ``/api/put``'s decode and validation: a
    text point lands, and a point carrying both ``value`` and ``text``
    fails the value-XOR-text rule."""
    point = {"metric": "log.events", "tags": {"ksid": "k1", "host": "t0"},
             "timestamp": BASE_TS, "text": "disk full"}
    code, resp = _req(server, "/api/text/put", [point])
    assert code == 200 and resp == {"success": 1, "failed": 0}
    code, resp = _req(server, "/api/text/put", [{**point, "value": 1.0}])
    assert code == 200 and resp == {"success": 0, "failed": 1}


_EXPRESSION = (
    "merge(max,downsample(5m,avg,query(route.contract,{host=*},"
    f"{BASE_TS})))"
)

#: The series every data-reading contract case reads; ``route_series``
#: puts it, so each case passes whichever tests ran before it.
_ROUTE_POINT = {"metric": "route.contract",
                "tags": {"ksid": "k1", "host": "r0"},
                "timestamp": BASE_TS, "value": 1.0}

#: (method, path, body, expected status) for every endpoint of the
#: module docstring, plus known paths under the wrong method and unknown
#: verbs, which answer 404.  ``{ks}`` is a keyspace created for the case.
_ROUTE_CONTRACT = [
    ("POST", "/api/put", [_ROUTE_POINT], 200),
    ("POST", "/api/text/put", [{"metric": "route.contract",
                                "tags": {"ksid": "k1"},
                                "timestamp": BASE_TS, "text": "x"}], 200),
    ("POST", "/keysets/k1/api/query",
     {"start": BASE_TS, "end": BASE_TS + 60_000,
      "queries": [{"metric": "route.contract", "aggregator": "sum"}]}, 200),
    # the legacy OpenTSDB ``tags`` map is refused, never silently dropped
    ("POST", "/keysets/legacy_tags/api/query",
     {"start": BASE_TS, "end": BASE_TS + 60_000,
      "queries": [{"metric": "route.contract", "aggregator": "sum",
                   "tags": {"ksid": "k1"}}]}, 400),
    ("GET", f"/keysets/k1/api/query/expression?exp={_EXPRESSION}", None, 200),
    ("POST", "/keysets/k1/api/query/funnel", {}, 400),
    ("POST", "/keysets/k1/api/query/retention", {"user_tag": "nope"}, 400),
    ("POST", "/keysets/k1/api/query/attribution", {}, 400),
    ("POST", "/keysets/k1/api/query/gaps", {"metric": "route.contract"},
     200),
    ("POST", "/keysets/k1/api/query/last", {"metric": "route.contract"},
     200),
    ("POST", "/keysets/k1/api/query/media_dups", {}, 400),
    ("POST", "/keysets/k1/api/query/similar", {}, 400),
    ("GET", "/keysets/k1/api/query/ladder_status", None, 200),
    ("GET", "/keysets/k1/api/query/dedup_valve", None, 400),
    ("GET", "/keysets/k1/api/query/ann_drift", None, 400),
    ("GET", "/keysets/k1/api/query/chain_status", None, 400),
    ("GET", "/keysets/k1/api/query/dedup_daily?day=1", None, 400),
    ("POST", "/api/expression/check", {"exp": _EXPRESSION}, 200),
    ("GET", "/api/suggest?type=metrics&q=route&max=5", None, 200),
    ("GET", "/api/aggregators", None, 200),
    ("GET", "/api/config/filters", None, 200),
    ("GET", "/keyspaces", None, 200),
    ("POST", "/keyspaces/{ks}_new", {"ttl_days": 3}, 201),
    ("GET", "/keyspaces/{ks}", None, 200),
    ("PUT", "/keyspaces/{ks}", {"ttl_days": 2}, 200),
    ("DELETE", "/keyspaces/{ks}", None, 200),
    ("DELETE", "/keysets/k1/api/meta?metric=route.none", None, 200),
    ("GET", "/keysets/k1/api/query", None, 404),
    ("POST", "/keysets/k1/api/query/nonexistent", {}, 404),
    ("PUT", "/api/put", [], 404),
    ("DELETE", "/keyspaces", None, 404),
    ("GET", "/api/put", None, 404),
    ("POST", "/api/aggregators", {}, 404),
    ("GET", "/keysets/k1/api/query/funnel", None, 404),
    ("POST", "/keysets/k1/api/query/ladder_status", {}, 404),
]


@pytest.fixture(scope="module")
def route_series(server):
    """Put the series the contract's data-reading cases read."""
    assert _req(server, "/api/put", [_ROUTE_POINT]) == (
        200, {"success": 1, "failed": 0}
    )


@pytest.mark.usefixtures("route_series")
@pytest.mark.parametrize(
    "method,path,body,want", _ROUTE_CONTRACT,
    ids=[f"{m} {p.split('?')[0]}" for m, p, _b, _w in _ROUTE_CONTRACT],
)
def test_route_contract(server, method, path, body, want):
    """Each endpoint answers on its method; a known path under another
    method, and an unknown verb, answer 404."""
    import uuid

    ks = f"ks_route_{uuid.uuid4().hex[:8]}"
    if "/keyspaces/{ks}" in path and not path.endswith("_new"):
        assert _req(server, f"/keyspaces/{ks}", {"ttl_days": 1})[0] == 201
    code, _resp = _req(server, path.replace("{ks}", ks), body, method=method)
    assert code == want


def test_perfbench_hook_names_exist(spark):
    """The traced benchmark patches engine methods and module globals by
    name; a renamed or removed hook must fail here rather than silently
    zero a per-layer metric."""
    import mycenae_spark.server as srv
    from mycenae_spark.streaming import rollup
    from perfbench.trace import Tracer
    from perfbench.tsdb_read import Workload

    before = (srv.Engine.query, srv.plan, rollup.read_rollup_series)
    tracer = Tracer(spark)
    try:
        Workload.instrument(None, tracer)
        assert srv.Engine.query is not before[0]
    finally:
        tracer.unwrap_all()
    assert (srv.Engine.query, srv.plan, rollup.read_rollup_series) == before
