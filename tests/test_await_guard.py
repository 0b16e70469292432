"""The lifecycle harness in ``registry/util.py``: the drain guard every
judged streaming roundtrip goes through (r12 VERDICT "What's wrong #1"),
the sandbox that owns an id's temp dir and partition pin, and the rule
that no other registry module rebuilds that scaffolding.

``awaitTermination(t)`` returning False leaves the query RUNNING; a
roundtrip that then reads its sink hashes a partial result as a wrong
count.  ``await_or_raise`` converts that into a diagnosable TimeoutError
and stops the job.  Tested two ways: a fake (exact contract: stop
called, nothing swallowed) and a real deliberately-slow availableNow job
(the integration shape the registry uses), directly and through
``drain``.
"""

from __future__ import annotations

import os
import pathlib
import time

import pytest

from mycenae_spark.registry.util import (
    STATE_PARTITIONS,
    await_or_raise,
    drain,
    sandbox,
)


class _FakeJob:
    def __init__(self, drained: bool):
        self.drained = drained
        self.stopped = False

    def awaitTermination(self, seconds):
        return self.drained

    def stop(self):
        self.stopped = True


def test_drained_job_passes_through():
    job = _FakeJob(drained=True)
    await_or_raise(job, 5, "ok job")
    assert not job.stopped


def test_timeout_raises_and_stops():
    job = _FakeJob(drained=False)
    with pytest.raises(TimeoutError, match="slow job"):
        await_or_raise(job, 1, "slow job")
    assert job.stopped


def test_stop_failure_does_not_mask_timeout():
    class _Stuck(_FakeJob):
        def stop(self):
            raise RuntimeError("stop failed")

    with pytest.raises(TimeoutError):
        await_or_raise(_Stuck(drained=False), 1, "stuck job")


def _slow_stream(spark, tmp_path):
    """An availableNow-able stream over 8 rows with a 1 s per-row sleep
    (test-only; registry code never uses row UDFs)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    src = str(tmp_path / "src")
    spark.range(8).coalesce(1).write.mode("overwrite").parquet(src)

    @F.udf(LongType())
    def slow(x):
        time.sleep(1.0)
        return x

    return spark.readStream.schema("id long").parquet(src).select(
        slow("id").alias("id")
    )


def test_real_slow_job_raises_not_partial(spark, tmp_path):
    """A genuinely slow availableNow run must raise, never hand back a
    half-written sink."""
    job = (
        _slow_stream(spark, tmp_path).writeStream.format("memory")
        .queryName("await_guard_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        with pytest.raises(TimeoutError):
            await_or_raise(job, 1, "deliberately slow job")
        # the guard stopped the query: no caller can read a partial sink
        # from a still-running job
        deadline = time.time() + 30
        while job.isActive and time.time() < deadline:
            time.sleep(0.2)
        assert not job.isActive
    finally:
        if job.isActive:
            job.stop()
        spark.catalog.dropTempView("await_guard_sink")


def _views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_drain_returns_rows_and_drops_its_view(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    before = _views(spark)
    rows = drain(spark.readStream.schema("id long").parquet(src),
                 "fast drain", 120)
    assert sorted(r["id"] for r in rows) == [0, 1, 2]
    assert _views(spark) == before


def test_drain_timeout_stops_the_job_and_drops_its_view(spark, tmp_path):
    before = _views(spark)
    with pytest.raises(TimeoutError, match="slow drain"):
        drain(_slow_stream(spark, tmp_path), "slow drain", 1)
    assert _views(spark) == before
    assert not [q for q in spark.streams.active
                if (q.name or "").startswith("slow_drain_")]


def test_sandbox_cleans_up_when_the_body_raises(spark):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "13")
    try:
        with pytest.raises(RuntimeError, match="body failed"):
            with sandbox(spark, "guard_") as base:
                made = base
                assert os.path.isdir(base)
                assert spark.conf.get(key) == STATE_PARTITIONS
                raise RuntimeError("body failed")
        assert not os.path.exists(made)
        assert spark.conf.get(key) == "13"
    finally:
        spark.conf.set(key, old)


def test_lifecycle_scaffolding_lives_only_in_the_harness():
    """Temp dirs, memory sinks and the partition pin are the harness's
    (``registry/util.py``); no other registry module may rebuild them."""
    import mycenae_spark.registry as registry

    banned = ("tempfile.mkdtemp", "shutil.rmtree", 'format("memory")',
              "dropTempView", "shuffle.partitions")
    root = pathlib.Path(registry.__file__).parent
    offenders = [
        (p.name, b)
        for p in sorted(root.glob("*.py")) if p.name != "util.py"
        for b in banned if b in p.read_text()
    ]
    assert not offenders, offenders
