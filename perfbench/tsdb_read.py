"""``tsdb_read``: dashboard reads over HTTP against a served lake, no writes.

Set-up bulk-loads the seeded lake through ``start_ingest`` (with the 1m
rollup), writes a checkpoint, cascades a 1h ladder rung and serves the lake
with ``serve(..., rollup_dir, ladder)``.  One op is one time-pinned request
from a single client; every answer is checked against ``lakegen``.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import urllib.parse

from perfbench import lakegen
from perfbench.common import run_closed_loop

H = 3_600_000
M = 60_000
RUNG_MS = H

#: name → (minutes in the window, alignment in minutes, sub-query template)
QUERY_SHAPES = {
    "ladder_1h_avg": (12 * 60, 60, {"aggregator": "sum", "downsample": "1h-avg"}),
    "fine_5m_max": (6 * 60, 5, {"aggregator": "max", "downsample": "5m-max"}),
    "fine_1m_avg_rate": (
        3 * 60, 1, {"aggregator": "avg", "downsample": "1m-avg", "rate": True}),
    "fine_10m_avg_by_dc": (12 * 60, 10, {"aggregator": "avg", "downsample": "10m-avg"}),
    "raw_15m_p95": (12 * 60, 15, {"aggregator": "max", "downsample": "15m-p95"}),
    "raw_wildcard": (60, 1, {"aggregator": "sum"}),
}
OTHER_SHAPES = ("expression", "last", "gaps")
SHAPES = (*QUERY_SHAPES, *OTHER_SHAPES)
#: One block of ops: every /api/query shape twice and every other shape
#: once, each with its own seeded request, plus ``REPEATS_PER_BLOCK``
#: repeats of earlier cacheable requests (5 of 20 ops = 25 %).  The
#: cheap shapes and the cache hits stay below the median, so
#: ``latency_p50_ms`` always lands among the /api/query misses.
BLOCK_SHAPES = (*QUERY_SHAPES, *QUERY_SHAPES, *OTHER_SHAPES)
REPEATS_PER_BLOCK = 5
#: One block per this many ``--seconds``.
SECONDS_PER_BLOCK = 15


def _window(rng: random.Random, minutes: int, align: int) -> tuple[int, int]:
    slots = (lakegen.N_STEPS - minutes) // align
    start = lakegen.BASE_MS + rng.randint(0, slots) * align * M
    return start, start + minutes * M


def make_op(rng: random.Random, shape: str) -> dict:
    """One request of ``shape`` with seeded metric, window and tags."""
    metric = rng.choice(lakegen.METRICS)
    if shape in QUERY_SHAPES:
        minutes, align, tmpl = QUERY_SHAPES[shape]
        start, end = _window(rng, minutes, align)
        sub = {"metric": metric, **tmpl}
        if shape == "fine_10m_avg_by_dc":
            pick = sorted(rng.sample(["dc0", "dc1", "dc2"], 2))
            sub["filters"] = [{"type": "literal_or", "tagk": "dc",
                               "filter": "|".join(pick), "groupBy": True}]
        elif shape == "raw_wildcard":
            sub["filters"] = [{"type": "wildcard", "tagk": "host",
                               "filter": f"h{rng.randint(0, 1)}*", "groupBy": True}]
        return {"shape": shape, "method": "POST", "path": "/keysets/k1/api/query",
                "body": {"start": start, "end": end, "queries": [sub]}}
    if shape == "expression":
        hours = rng.randint(6, 24)
        h = lakegen.host(rng.randrange(lakegen.N_HOSTS))
        start = lakegen.END_MS - hours * H
        exp = f"merge(max, downsample(1h, avg, query({metric}, {{host={h}}}, {start})))"
        return {"shape": shape, "method": "GET",
                "path": "/keysets/k1/api/query/expression?"
                + urllib.parse.urlencode({"exp": exp}),
                "expect_args": {"metric": metric, "host": h, "start": start}}
    if shape == "last":
        return {"shape": shape, "method": "POST", "path": "/keysets/k1/api/query/last",
                "body": {"metric": metric}}
    start, end = _window(rng, 6 * 60, 1)
    return {"shape": shape, "method": "POST", "path": "/keysets/k1/api/query/gaps",
            "body": {"metric": metric, "threshold": "6h", "start": start, "end": end}}


def _request_key(op: dict) -> str:
    return op["path"] + json.dumps(op.get("body"), sort_keys=True)


def make_ops(seed: int, seconds: int) -> list[dict]:
    """The run's op sequence: a fixed count (one block per
    ``SECONDS_PER_BLOCK`` seconds), a fixed shape mix per block, and
    seeded order, windows and repeats.  Only the planned repeats ask for
    a request twice."""
    rng = random.Random(seed)
    ops: list[dict] = []
    seen: set[str] = set()
    for _ in range(max(1, round(seconds / SECONDS_PER_BLOCK))):
        block = []
        for shape in BLOCK_SHAPES:
            op = make_op(rng, shape)
            while _request_key(op) in seen:
                op = make_op(rng, shape)
            seen.add(_request_key(op))
            block.append(op)
        rng.shuffle(block)
        for _ in range(REPEATS_PER_BLOCK):
            while True:
                at = rng.randint(1, len(block))
                earlier = [o for o in ops + block[:at] if o["shape"] != "expression"]
                if earlier:
                    break
            block.insert(at, {**rng.choice(earlier), "repeat": True})
        ops.extend(block)
    return ops


def warmup_ops(seed: int) -> list[dict]:
    """One request of every shape, from a stream of its own."""
    rng = random.Random(f"warmup-{seed}")
    return [make_op(rng, s) for s in SHAPES]


def expected(vals, op: dict):
    if op["shape"] in QUERY_SHAPES:
        b = op["body"]
        return lakegen.expected_query(vals, b["start"], b["end"], b["queries"][0])
    if op["shape"] == "expression":
        a = op["expect_args"]
        sub = {"metric": a["metric"], "aggregator": "max", "downsample": "1h-avg",
               "filters": [{"type": "literal_or", "tagk": "host", "filter": a["host"]}]}
        return lakegen.expected_query(vals, a["start"], lakegen.END_MS, sub)
    if op["shape"] == "last":
        return lakegen.expected_last(vals, op["body"]["metric"])
    return lakegen.expected_gaps(op["body"]["start"], op["body"]["end"])


def check(op: dict, got, want) -> str | None:
    """None when the response equals the reference answer."""
    if op["shape"] == "last":
        seen = {(r["tags"]["host"], r["tags"]["dc"]): (r["timestamp"], r["value"])
                for r in got}
        return None if seen == want else f"last: {len(seen)} series differ"
    if op["shape"] == "gaps":
        if len(got) != lakegen.N_HOSTS:
            return f"gaps: {len(got)} series"
        for r in got:
            if {k: r[k] for k in want} != want:
                return f"gaps: {r}"
        return None
    return lakegen.same_groups(got, want)


class Client:
    """The single closed-loop client.  The server speaks HTTP/1.0, so each
    request is one short-lived connection, opened by this one object."""

    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def send(self, op: dict):
        body = json.dumps(op["body"]) if "body" in op else None
        headers = {"Content-Type": "application/json"} if body else {}
        self.conn.request(op["method"], op["path"], body=body, headers=headers)
        resp = self.conn.getresponse()
        data = resp.read()
        self.conn.close()
        if resp.status != 200:
            raise RuntimeError(f"HTTP {resp.status}: {data[:200]!r}")
        return json.loads(data)


class Workload:
    """The lake, its ladder rung, the HTTP server over them and the client.
    Construction is the whole set-up, warm-up pass included."""

    def __init__(self, spark, ctx):
        from mycenae_spark.server import serve
        from mycenae_spark.streaming.ingest import start_ingest
        from mycenae_spark.streaming.rollup import cascade_rollup

        self.vals = ctx.vals
        spool, lake, cat, ck, roll, rung = (
            os.path.join(ctx.run_dir, d)
            for d in ("spool", "lake", "catalog", "ingest_ck", "rollup", "rollup_1h")
        )
        job = start_ingest(spark, spool, lake, cat, ck, rollup_dir=roll)
        if not job.awaitTermination(600):
            job.stop()
            raise TimeoutError("bulk load did not finish")
        self.httpd, self.thread = serve(
            spark, lake, cat, rollup_dir=roll, ladder={RUNG_MS: rung})
        try:
            self.engine = self.httpd.RequestHandlerClass.engine
            self.engine.checkpoint()
            cascade_rollup(spark, roll, rung, RUNG_MS, lake_dir=lake)
            self.client = Client(self.httpd.server_address[1])

            self.ops = warmup_ops(ctx.seed)
            self.want = [expected(self.vals, o) for o in self.ops]
            warm = run_closed_loop(enumerate(self.ops), self.do_op)
            if warm.failed:
                raise RuntimeError(f"warm-up failed: {warm.errors}")
        except BaseException:
            self.close()
            raise
        self.ops = make_ops(ctx.seed, ctx.seconds)
        self.want = [expected(self.vals, o) for o in self.ops]

    @staticmethod
    def prepare(ctx) -> None:
        """The seeded values and their spool files; needs no Spark, so it
        runs while the JVM starts."""
        ctx.vals = lakegen.values(ctx.seed)
        lakegen.write_spool(ctx.vals, os.path.join(ctx.run_dir, "spool"))

    def do_op(self, item, tracer=None):
        i, op = item
        if tracer is None:
            got = self.client.send(op)
        else:
            with tracer.op(i, op["shape"]):
                got = self.client.send(op)
        err = check(op, got, self.want[i])
        return err is None, err

    def reset(self) -> None:
        """Evict every cached answer, so each pass starts from the same
        cache state whatever ran before it."""
        with self.engine._result_cache_lock:
            self.engine._result_cache.clear()

    def instrument(self, tracer) -> None:
        import mycenae_spark.server as server
        from mycenae_spark.streaming import rollup, snapshot

        for entry in ("query", "query_expression", "query_last", "query_gaps"):
            tracer.wrap(server.Engine, entry, "server", job_phase=entry)
        for compute in ("_last_compute", "_gaps_compute"):
            tracer.wrap(server.Engine, compute, "server")
        tracer.observe(server.Engine, "_note_route",
                       lambda _engine, route: tracer.note_route(route))
        tracer.wrap(server, "parse_query_request", "api")
        tracer.wrap(server, "shape_response", "api")
        tracer.wrap(server, "plan", "plans")
        tracer.wrap(server, "parse_expression", "plans")
        tracer.wrap(snapshot, "resolve", "streaming")
        tracer.wrap(rollup, "read_rollup_series", "streaming")

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)
