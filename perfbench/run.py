"""mycenae-spark benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload tsdb_read --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  A run sets up its workload (data, Spark
``local[4]``, an untimed warm-up pass over every op shape), then times a
fixed, seeded op sequence from one client thread.  ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` runs the same timed pass, then a traced
pass of the same ops, and prints the per-layer metrics.  Every file a run
writes lives under ``.perfbench/`` in the checkout and is removed at exit,
except the span dump of traced runs (``.perfbench/traces/``).  The design
and the metric definitions are in perfbench/DESIGN.md.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from types import SimpleNamespace  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tsdb_read", "analytics_batch")


def measure(spark, module, ctx) -> dict:
    from perfbench.common import end_to_end_metrics, run_closed_loop

    wl = module.Workload(spark, ctx)
    try:
        wl.reset()
        setup_s = time.time() - ctx.t_start
        log = run_closed_loop(enumerate(wl.ops), wl.do_op)
        if not ctx.trace:
            return {"attempted": log.attempted, "failed": log.failed,
                    "errors": log.errors, "metrics": end_to_end_metrics(log, setup_s)}
        from perfbench.analytics_batch import IDS
        from perfbench.trace import Tracer, per_layer_metrics

        wl.reset()
        tracer = Tracer(spark)
        wl.instrument(tracer)
        try:
            tlog = run_closed_loop(
                enumerate(wl.ops), lambda op: wl.do_op(op, tracer))
        finally:
            tracer.unwrap_all()
        tracer.write(ctx.trace_path)
        metrics = per_layer_metrics(tracer, IDS)
        metrics["trace.overhead_ratio"] = {
            "value": (tlog.attempted / tlog.wall_s) / (log.attempted / log.wall_s),
            "unit": "ratio"}
        return {"attempted": log.attempted + tlog.attempted,
                "failed": log.failed + tlog.failed,
                "errors": log.errors + tlog.errors, "metrics": metrics}
    finally:
        wl.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # A terminated run still stops its JVM and removes its sandbox.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "mycenae_spark", "server.py")):
        print(f"no mycenae_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import common

    run_dir = os.path.join(
        ROOT, ".perfbench", f"run-{os.getpid()}-{args.workload}-{args.seed}")
    ctx = SimpleNamespace(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        run_dir=run_dir, t_start=T_START,
        trace_path=os.path.join(
            ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json"),
    )
    spark = None
    try:
        common.enter_sandbox(run_dir, ROOT)
        module = importlib.import_module(f"perfbench.{args.workload}")
        with ThreadPoolExecutor(max_workers=1) as pool:
            prepared = pool.submit(module.Workload.prepare, ctx)
            spark = common.start_spark()
            prepared.result()
        result = measure(spark, module, ctx)
    finally:
        if spark is not None:
            common.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for err in result.pop("errors"):
        print(f"failed op: {err}", file=sys.stderr)
    print(json.dumps({"correct": result["failed"] == 0, **result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
