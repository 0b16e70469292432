"""Shared fixtures: one SparkSession per test run + the oracle comparator.

``assert_matches_oracle`` replicates the driver's check (TESTDATA.md): run
the Spark query and the DuckDB SQL on the same parquet dir, sort columns by
name, compare as order-insensitive multisets with exact equality for
ints/strings and tight tolerance for floats.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mycenae_spark.session import get_spark  # noqa: E402
from mycenae_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = os.environ.get("MYCENAE_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Fast default gate (r19 VERDICT item 2): the full suite is 638 tests /
# ~28-45 min depending on host — it no longer fits the external driver's
# verify budget (the r19 run was truncated at ~78% with zero failures).
# The long tail is micro-batch/lifecycle wall time (awaitTermination, 2PC
# manifest commits, index chain rebuilds), not kernel logic; each slow test
# below was measured ≥ ~7 s (top-60 = 898 s of the 1690 s total, full run
# logged green 2026-08-18, exit 0).  Default run deselects them → ~13 min.
# Run EVERYTHING with:  MYCENAE_FULL_TESTS=1 python -m pytest tests/ -q
# The cheapest oracle id of each lifecycle family stays in the default gate
# so a break in the family still fails it: bus_ingest_roundtrip (bus),
# ann_ivfpq_recall_drift (pq index), stream_text_assimilate_roundtrip
# (stream assimilation), ~10 s each; the media family's is the served
# test_server.py::test_media_dups_endpoint (~18 s); the TSDB ingest
# family's is stream_tsdb_ingest_roundtrip (~40 s), the one gated id
# that refreshes all three rung families through the bridge and routes
# the Engine onto the refreshed rungs; the pipeline family's is
# pipeline_media_prep (8.4 s in the default suite, ~30 s alone;
# pipeline_corpus_prep took 72 s alone).
SLOW_TESTS = frozenset({
    "tests/test_bus.py::test_bus_engine_crash_replay_no_dupes",
    "tests/test_bus.py::test_start_bus_ingest_end_to_end",
    "tests/test_bus.py::test_stream_replay_and_new_partition",
    "tests/test_ingest.py::test_kmv_cascade_inherits_pin_and_currency",
    "tests/test_ingest.py::test_prune_carry_rebuild_equals_full_history[3-1]",
    "tests/test_ingest.py::test_prune_carry_rebuild_equals_full_history[4-2]",
    "tests/test_ingest.py::test_prune_carry_rebuild_equals_full_history[5-1]",
    "tests/test_ingest.py::test_prune_sketch_lake_retention",
    "tests/test_ingest.py::test_qsample_backfill_pin_and_currency",
    "tests/test_ingest.py::test_refresh_ladder_rebuilds_only_stale_rungs",
    "tests/test_ingest.py::test_rollup_ladder_cascade",
    "tests/test_ingest.py::test_sketch_read_verbs_guard_retention",
    "tests/test_ingest.py::test_tsdb_bridge_commitlog_retention",
    "tests/test_ingest.py::test_tsdb_bridge_foreign_writer_detection",
    "tests/test_ingest.py::test_tsdb_bridge_maintenance_tail_sweeps_debris",
    "tests/test_ingest.py::test_tsdb_bridge_restart_and_replay",
    "tests/test_multimodal.py::test_media_clusters_and_keep_best_triple_collapse",
    "tests/test_oracle.py::test_oracle_match[bus_engine_roundtrip]",
    "tests/test_oracle.py::test_oracle_match[dedup_index_assimilate]",
    "tests/test_oracle.py::test_oracle_match[dedup_index_probe]",
    "tests/test_oracle.py::test_oracle_match[dedup_media_index_assimilate]",
    "tests/test_oracle.py::test_oracle_match[kmv_backfill_roundtrip]",
    "tests/test_oracle.py::test_oracle_match[pipeline_corpus_prep]",
    "tests/test_oracle.py::test_oracle_match[sketch_retention_roundtrip]",
    "tests/test_oracle.py::test_oracle_match[stream_ann_assimilate_roundtrip]",
    "tests/test_oracle.py::test_oracle_match[stream_chain_rebase_roundtrip]",
    "tests/test_oracle.py::test_oracle_match[stream_evict_roundtrip]",
    "tests/test_oracle.py::test_oracle_match[stream_media_assimilate_roundtrip]",
    "tests/test_pq_index.py::test_band_index_assimilate_equals_rebuild",
    "tests/test_pq_index.py::test_band_valve_report_tracks_assimilation",
    "tests/test_pq_index.py::test_ivfpq_assimilate_appends_frozen_encoded_delta",
    "tests/test_pq_index.py::test_ivfpq_compact_equals_chain",
    "tests/test_pq_index.py::test_ivfpq_retrain_from_chain",
    "tests/test_pq_index.py::test_ivfpq_search_vectors_bulk_equals_serving",
    "tests/test_pq_index.py::test_langid_artifact_lifecycle",
    "tests/test_pq_index.py::test_sig_index_assimilate_equals_rebuild",
    "tests/test_pq_index.py::test_sig_index_compact_is_invisible",
    "tests/test_rate_properties.py::test_bpe_tokenize_jvm_matches_python_property",
    "tests/test_rate_properties.py::test_cascade_equals_direct_coarse_rollup",
    "tests/test_rate_properties.py::test_kmv_cascade_equals_direct_sketch",
    "tests/test_rate_properties.py::test_qsample_cascade_equals_direct_sample",
    "tests/test_server.py::test_funnel_attribution_cursor_pagination",
    "tests/test_stream_assimilate.py::test_ann_bridge_matches_batch_lifecycle",
    "tests/test_stream_assimilate.py::test_bridge_all_dup_day_replay_idempotent",
    "tests/test_stream_assimilate.py::test_bridge_checkpoint_restart",
    "tests/test_stream_assimilate.py::test_bridge_full_replay_idempotent",
    "tests/test_stream_assimilate.py::test_bridge_matches_batch_lifecycle",
    "tests/test_stream_assimilate.py::test_chain_survives_gc_then_rebases_onto_compacted_head",
    "tests/test_stream_assimilate.py::test_prune_bridge_output_retention",
    "tests/test_stream_assimilate.py::test_prune_keeps_processing_order_not_day_labels",
    "tests/test_stream_assimilate.py::test_prune_reclaims_crash_orphaned_days",
    "tests/test_stream_assimilate.py::test_rebase_preserves_retention_accounting",
    "tests/test_stream_assimilate.py::test_text_bridge_matches_batch_lifecycle",
})


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: long-tail lifecycle/micro-batch test excluded from the "
        "default fast gate (set MYCENAE_FULL_TESTS=1 to run everything)",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("MYCENAE_FULL_TESTS"):
        return
    # Deselect the measured long tail (and anything marked slow) so the
    # default `python -m pytest tests/ -x -q` fits the driver's budget.
    slow_tails = {t.rsplit("/", 1)[-1] for t in SLOW_TESTS}
    keep, drop = [], []
    for item in items:
        # rootdir-independent match: "tests/test_x.py::id" and "test_x.py::id"
        tail = item.nodeid.replace(os.sep, "/").rsplit("/", 1)[-1]
        if tail in slow_tails or item.get_closest_marker("slow"):
            drop.append(item)
        else:
            keep.append(item)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mycenae-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(autouse=True)
def _release_cached_frames():
    """Drop every cached frame after each test.  The session is shared,
    and each Engine persists its memo frames: left cached, they would
    pile up in storage memory, and every later plan would be checked
    against them by the cache lookup."""
    yield
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.catalog.clearCache()


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # quantize to kill <1ulp cross-engine noise; queries pre-round floats
        return round(v, 9) + 0.0  # +0.0 canonicalizes -0.0
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def canonical_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


_BANNED_ORACLE_TYPES = ("HUGEINT", "UHUGEINT")


def assert_oracle_types_driver_safe(rel, name=""):
    """The r7 pack_sequences lesson, made structural: DuckDB's Python
    fetchall() converts HUGEINT to int (so this replica compared equal),
    but the driver's pandas-style canonicalization renders HUGEINT /
    UHUGEINT / wide DECIMAL as float — hash-mismatching a value-identical
    result.  Ban those output types outright: any oracle whose window
    ``sum`` (etc.) promotes past BIGINT must cast explicitly."""
    import re

    for col, typ in zip(rel.columns, rel.types):
        t = str(typ).upper()
        bad = t in _BANNED_ORACLE_TYPES
        m = re.match(r"DECIMAL\((\d+)", t)
        if m and int(m.group(1)) > 18:
            bad = True
        assert not bad, (
            f"{name}: oracle column {col!r} has driver-unsafe type {t} — "
            "cast to BIGINT/DOUBLE in the oracle SQL"
        )


def assert_matches_oracle(spark_df, ddb_con, sql, name=""):
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]
    rel = ddb_con.sql(sql)
    assert_oracle_types_driver_safe(rel, name)
    d_cols = rel.columns
    d_rows = rel.fetchall()
    assert sorted(s_cols) == sorted(
        d_cols
    ), f"{name}: column mismatch {sorted(s_cols)} vs {sorted(d_cols)}"
    assert len(s_rows) == len(
        d_rows
    ), f"{name}: row count {len(s_rows)} vs oracle {len(d_rows)}"
    cs, cd = canonical_rows(s_cols, s_rows), canonical_rows(d_cols, d_rows)
    mismatches = [
        (a, b) for a, b in zip(cs, cd) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first: {mismatches[:3]}"
