"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The first four tests are quick.  The others run the benchmark itself:
each workload once untraced and twice traced with the same seed (six
runs, about seven minutes on a 4-core host).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import analytics_batch, lakegen, tablegen, tsdb_read  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
#: Exact counts a traced run must repeat to the last digit.
EXACT = (
    "spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
    "registry.construct_jobs", "spark.execute_jobs",
    "server.cache_hit_ratio", "server.ladder_route_ratio",
)


def test_same_seed_gives_byte_identical_ops():
    dump = lambda ops: json.dumps(ops, sort_keys=True).encode()  # noqa: E731
    assert dump(tsdb_read.make_ops(7, 15)) == dump(tsdb_read.make_ops(7, 15))
    assert dump(tsdb_read.make_ops(7, 15)) != dump(tsdb_read.make_ops(8, 15))
    assert dump(tsdb_read.warmup_ops(7)) == dump(tsdb_read.warmup_ops(7))
    assert analytics_batch.make_ops(15) == analytics_batch.make_ops(15)


def test_same_seed_gives_byte_identical_data(tmp_path):
    def files(d):
        return {p.name: p.read_bytes() for p in sorted(d.iterdir())}

    for run in ("a", "b"):
        lakegen.write_spool(lakegen.values(3), str(tmp_path / run / "spool"))
        tablegen.write_tables(3, str(tmp_path / run / "tables"))
    for sub in ("spool", "tables"):
        assert files(tmp_path / "a" / sub) == files(tmp_path / "b" / sub)


def test_op_mix_is_fixed_per_block():
    for seed in range(5):
        ops = tsdb_read.make_ops(seed, 15)
        firsts = [o for o in ops if not o.get("repeat")]
        assert sorted(o["shape"] for o in firsts) == sorted(tsdb_read.BLOCK_SHAPES)
        assert len(ops) - len(firsts) == tsdb_read.REPEATS_PER_BLOCK
        keys = [tsdb_read._request_key(o) for o in firsts]
        assert len(set(keys)) == len(keys)


def test_fails_without_the_engine(tmp_path):
    """A directory holding only the benchmark exits non-zero, quietly."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [*SPEC["command"], "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", str(SPEC["run_seconds"]), "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "1",
         "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert proc.returncode == 0, proc.stderr[-2000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def results():
    return {
        (w, t, k): _run(w, t)
        for w in WORKLOADS for t, k in ((0, 0), (1, 0), (1, 1))
    }


@pytest.mark.parametrize("workload", WORKLOADS)
def test_every_metric_is_printed_with_its_unit(results, workload):
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        res = results[(workload, trace, 0)]
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in SPEC[section]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_runs_repeat_exact_counts(results, workload):
    a = results[(workload, 1, 0)]["metrics"]
    b = results[(workload, 1, 1)]["metrics"]
    exact = [k for k in a if k.startswith(EXACT)]
    assert exact
    assert {k: a[k]["value"] for k in exact} == {k: b[k]["value"] for k in exact}
