"""Shared pieces of the benchmark: the per-run sandbox, the Spark session,
the closed-loop timer and the statistics the result line reports."""

from __future__ import annotations

import os
import shlex
import statistics
import tempfile
import time
from dataclasses import dataclass, field

#: Cores of the local Spark master every workload runs against.
CPUS = 4


def enter_sandbox(run_dir: str, repo_root: str) -> None:
    """Point every file a run writes under ``run_dir``: Python and JVM temp
    files, Spark shuffle/spill dirs, the index-artifact root and the SQL
    warehouse.  Call before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "MYCENAE_INDEX_ROOT": os.path.join(run_dir, "index"),
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEM": "3g",
        # no hsperfdata file in the system /tmp, from the launcher JVM
        # here and from the driver JVM below
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            *(f"--conf {shlex.quote(c)}" for c in (
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
                "spark.ui.showConsoleProgress=false",
            )),
            "pyspark-shell",
        ]),
    }
    for d in (tmp, env["SPARK_LOCAL_DIRS"], env["MYCENAE_INDEX_ROOT"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = tmp


def start_spark():
    """The engine's own session defaults (``mycenae_spark.get_spark``) on
    ``local[CPUS]``."""
    from mycenae_spark.session import get_spark

    spark = get_spark("mycenae-perfbench", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


@dataclass
class OpLog:
    """Closed-loop op results: one latency per attempted op, and the
    number that failed (raised, or returned a wrong answer)."""

    latencies_s: list[float] = field(default_factory=list)
    failed_ops: set[int] = field(default_factory=set)
    errors: list[str] = field(default_factory=list)
    wall_s: float = 0.0

    def record(self, seconds: float, ok: bool, error: str | None = None) -> None:
        if not ok:
            self.failed_ops.add(len(self.latencies_s))
            if error and len(self.errors) < 5:
                self.errors.append(error)
        self.latencies_s.append(seconds)

    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    @property
    def attempted(self) -> int:
        return len(self.latencies_s)


def run_closed_loop(ops, do_op) -> OpLog:
    """Run ``ops`` one after another from this thread; ``do_op(op)``
    returns ``(ok, error)``.  An op that raises counts as failed."""
    log = OpLog()
    t0 = time.perf_counter()
    for op in ops:
        s = time.perf_counter()
        try:
            ok, err = do_op(op)
        except Exception as exc:  # noqa: BLE001 — a failed op is data
            ok, err = False, f"{type(exc).__name__}: {exc}"
        log.record(time.perf_counter() - s, ok, err)
    log.wall_s = time.perf_counter() - t0
    return log


def end_to_end_metrics(log: OpLog, setup_s: float) -> dict[str, dict]:
    """The ``--trace 0`` metrics.  Failed ops rank as the slowest op, so a
    failure can only raise the median, never lower it."""
    worst = max(log.latencies_s)
    ranked = [
        worst if i in log.failed_ops else s
        for i, s in enumerate(log.latencies_s)
    ]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "ops_per_s": {"value": log.attempted / log.wall_s, "unit": "ops/s"},
        "latency_p50_ms": {
            "value": statistics.median(ranked) * 1000.0,
            "unit": "ms",
        },
    }
