"""Interleaved A/B probe for a module-level boolean flag (r20: the Arrow
pair-dot kernel), same methodology as tools/ab_spread.py.

    python tools/ab_flag.py <module>:<attr> <queries> [cycles] [sf_dir]

ON arm = attr True, OFF arm = attr False.  Arm order alternates per cycle;
per-query per-arm report = min / median over cycles.  One untimed warm pass
(ON) first amortizes ensure_* artifact builds.  Session:
``local[$SPARK_GRAFT_CPUS]`` (default 32).
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    mod_name, attr = sys.argv[1].split(":")
    queries = sys.argv[2].split(",")
    cycles = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    mod = importlib.import_module(mod_name)

    from mycenae_spark.registry import QUERIES
    from mycenae_spark.session import get_spark

    spark = get_spark("ab_flag")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    def run(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).count()
        return time.perf_counter() - t0

    sc.setJobDescription("ab_flag: warm pass")
    for q in queries:
        run(q)

    results: dict[str, dict[str, list[float]]] = {
        q: {"on": [], "off": []} for q in queries
    }
    orig = getattr(mod, attr)
    try:
        for c in range(cycles):
            arms = ["on", "off"] if c % 2 == 0 else ["off", "on"]
            for arm in arms:
                setattr(mod, attr, arm == "on")
                for q in queries:
                    sc.setJobDescription(f"ab_flag c{c} {arm} {q}")
                    results[q][arm].append(run(q))
    finally:
        setattr(mod, attr, orig)

    print(f"\n=== A/B {mod_name}:{attr} cycles={cycles} sf={sf_dir} ===")
    print(f"{'query':34s} {'on_min':>7s} {'off_min':>7s} {'on_med':>7s} "
          f"{'off_med':>7s} {'off/on':>7s} verdict")
    for q in queries:
        on, off = results[q]["on"], results[q]["off"]
        r = statistics.median(off) / statistics.median(on)
        verdict = ("OFF wins" if r < 0.93 else
                   "ON wins" if r > 1.08 else "flat")
        print(f"{q:34s} {min(on):7.2f} {min(off):7.2f} "
              f"{statistics.median(on):7.2f} {statistics.median(off):7.2f} "
              f"{r:7.2f} {verdict}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
