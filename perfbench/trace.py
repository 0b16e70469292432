"""In-memory span tracer for the ``--trace 1`` runs.

It wraps public functions of the engine at runtime (nothing in
``mycenae_spark`` is edited), keeps one span per call with its op id and
parent span, and counts the Spark jobs, stages and tasks each op ran through
a per-op Spark job group read back from ``statusTracker``.  Untraced runs
never construct a Tracer, so they wrap nothing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    layer: str
    t0: float
    t1: float = 0.0

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


@dataclass
class OpTrace:
    op: int
    kind: str
    root: int
    latency_s: float = 0.0
    jobs: dict[str, int] = field(default_factory=dict)
    stages: dict[str, int] = field(default_factory=dict)
    tasks: dict[str, int] = field(default_factory=dict)
    routes: list[str] = field(default_factory=list)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.ops: list[OpTrace] = []
        self._patches: list[tuple[object, str, object]] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._current: OpTrace | None = None

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        op = self._current
        parent = stack[-1] if stack else (op.root if op else None)
        with self._lock:
            s = Span(len(self.spans), parent, op.op if op else None, name,
                     layer, time.perf_counter())
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            stack.pop()

    def self_seconds(self) -> dict[int, float]:
        """Span id → its time minus the time of its direct children."""
        out = {s.id: s.seconds for s in self.spans}
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.seconds
        return out

    # -- ops -----------------------------------------------------------------

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str):
        """One closed-loop op: a root span on the client thread, under which
        every wrapped call (on any thread) nests."""
        with self.span(f"op:{kind}", "client") as root:
            rec = OpTrace(op_id, kind, root.id)
            self._current = rec
            try:
                yield rec
            finally:
                self._current = None
        rec.latency_s = root.seconds
        self.ops.append(rec)
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        for group in list(rec.jobs):
            self._count_jobs(rec, group)

    def job_group(self, phase: str) -> None:
        """Tag the Spark jobs this thread runs from now on with the current
        op and ``phase``; counted when the op ends."""
        rec = self._current
        if rec is None:
            return
        group = f"perfbench-op{rec.op}-{phase}"
        rec.jobs.setdefault(group, 0)
        self.sc.setJobGroup(group, f"{rec.kind} {phase}")

    def _count_jobs(self, rec: OpTrace, group: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        ran, tasks = 0, 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                ran += 1
                tasks += info.numCompletedTasks
        rec.jobs[group] = len(jobs)
        rec.stages[group] = ran
        rec.tasks[group] = tasks

    def note_route(self, route: str) -> None:
        rec = self._current
        if rec is not None:
            rec.routes.append(route)

    # -- wrapping --------------------------------------------------------------

    def wrap(self, owner, attr: str, layer: str, job_phase: str | None = None):
        """Replace ``owner.attr`` with a spanned wrapper; ``job_phase`` also
        opens the op's Spark job group on the calling thread."""
        orig = getattr(owner, attr)
        name = f"{getattr(owner, '__name__', owner)}.{attr}"

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if job_phase is not None:
                self.job_group(job_phase)
            with self.span(name, layer):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def observe(self, owner, attr: str, hook):
        """Call ``hook(*args)`` before ``owner.attr`` without a span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            hook(*args, **kwargs)
            return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- output ----------------------------------------------------------------

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        own = self.self_seconds()
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {**asdict(s), "self_s": own[s.id]} for s in self.spans
                    ],
                    "ops": [asdict(o) for o in self.ops],
                },
                f,
            )


def per_layer_metrics(tracer: Tracer, ids: tuple[str, ...]) -> dict[str, dict]:
    """Every per-layer metric, from one traced pass of any workload.  A
    layer the workload never enters reads 0."""
    ops = tracer.ops
    n = max(len(ops), 1)
    own = tracer.self_seconds()
    by_op: dict[int, list[Span]] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)

    def ms_per_op(match) -> dict:
        total = sum(own[s.id] for s in tracer.spans if match(s))
        return {"value": total * 1000.0 / n, "unit": "ms"}

    hits = routed = ladder = 0
    http_s = 0.0
    phases = {"construct": "registry.construct", "execute": "spark.execute"}
    per_id = {f"{p}_{k}": {q: [] for q in ids}
              for p in phases.values() for k in ("ms", "jobs")}
    for rec in ops:
        spans = by_op.get(rec.op, [])
        entry = [s for s in spans if s.layer == "server" and s.parent == rec.root]
        if entry:
            http_s += rec.latency_s - sum(s.seconds for s in entry)
        if rec.kind in ("last", "gaps"):
            hits += not any(s.name.endswith("_compute") for s in spans)
        elif rec.routes:
            hits += all(r == "cache" for r in rec.routes)
        for r in rec.routes:
            if r != "cache":
                routed += 1
                ladder += r.startswith("ladder:")
        for s in spans:
            phase, _, qid = s.name.partition(":")
            if phase in phases and qid in ids:
                key = phases[phase]
                per_id[f"{key}_ms"][qid].append(s.seconds * 1000.0)
                per_id[f"{key}_jobs"][qid].append(
                    rec.jobs.get(f"perfbench-op{rec.op}-{phase}", 0))

    out = {
        "server.query_ms": ms_per_op(lambda s: s.layer == "server"),
        "server.http_overhead_ms": {"value": http_s * 1000.0 / n, "unit": "ms"},
        "server.cache_hit_ratio": {"value": hits / n, "unit": "ratio"},
        "server.ladder_route_ratio": {"value": ladder / max(routed, 1), "unit": "ratio"},
        "api.parse_ms": ms_per_op(lambda s: s.name.endswith(".parse_query_request")),
        "api.shape_ms": ms_per_op(lambda s: s.name.endswith(".shape_response")),
        "plans.plan_ms": ms_per_op(lambda s: s.layer == "plans"),
        "streaming.snapshot_resolve_ms": ms_per_op(
            lambda s: s.name.endswith("snapshot.resolve")),
        "streaming.read_rollup_series_ms": ms_per_op(
            lambda s: s.name.endswith(".read_rollup_series")),
    }
    for kind in ("jobs", "stages", "tasks"):
        total = sum(sum(getattr(o, kind).values()) for o in ops)
        out[f"spark.{kind}_per_op"] = {"value": total / n, "unit": "count"}
    for key, by_id in per_id.items():
        unit = "ms" if key.endswith("_ms") else "count"
        out[key] = {"value": sum(map(sum, by_id.values())) / n, "unit": unit}
        for qid, vals in by_id.items():
            out[f"{key}.{qid}"] = {
                "value": sum(vals) / len(vals) if vals else 0.0, "unit": unit}
    return out

