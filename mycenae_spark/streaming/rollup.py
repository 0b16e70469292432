"""Incremental downsample rollups — continuous aggregates for the lake.

The TSDB scale pattern (OpenTSDB rollup tables / TimescaleDB continuous
aggregates): long-range queries should never rescan raw points.  The ingest
stream maintains a parallel *rollup lake* of per-(series, bucket) partial
aggregates; a 30-day `1h-avg` query then reads #series × 720 rollup rows
instead of billions of raw points.

Correctness under micro-batching is the design point.  A micro-batch
boundary can split a time bucket, and late points can land in a bucket
already rolled up — so the rollup stores MERGEABLE partials
(sum / count / min / max per bucket), appended per batch, and the read path
re-merges with a second tiny aggregation:

    avg = sum(partial_sum) / sum(partial_count)   -- exact, any batching

Every mycenae downsample aggregator except percentiles is recoverable
exactly from these four partials; the read path is the algebraic-aggregate
trick that makes map-side combine work inside Spark itself, applied across
micro-batches.  No read-modify-write, no compaction required for
correctness (compaction remains an optimization via maintenance.py).

At 100 TB: rollup writes are ∝ #active (series, bucket) per batch — orders
of magnitude below point volume; the rollup lake partitions by date like
the point lake, so partition pruning applies to both.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from mycenae_spark.operators.downsample import bucket_ms_long
from mycenae_spark.schema import FINE_ROLLUP_MS

#: Read-path reconstruction per downsample aggregator, as SQL over the
#: partial columns: the planner splices it into its statement, and
#: ``read_rollup`` takes its Column form with ``F.expr``.
_MERGE_EXPRS = {
    "avg": "sum(p_sum) / sum(p_count)",
    "sum": "sum(p_sum)",
    "min": "min(p_min)",
    "max": "max(p_max)",
    "count": "sum(p_count)",
}


#: Default fixed-bin histogram grid for the percentile partial: values are
#: binned on [hist_lo, hist_hi) with hist_bins equal bins (clamped edges).
#: Bin width bounds the percentile error; pick the grid per deployment from
#: the metric's dynamic range (a config, like Prometheus histogram buckets).
HIST_BINS, HIST_LO, HIST_HI = 64, 0.0, 1024.0


def _hist_bin(value, bins: int, lo: float, hi: float):
    width = (hi - lo) / bins
    raw = F.floor((value - F.lit(lo)) / F.lit(width)).cast("int")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))


def _hist_map(
    binned: DataFrame, keys: list[str], bin_col: str, n, n_col: str
) -> DataFrame:
    """THE one ``p_hist`` builder (batch and cascade): aggregate ``n``
    per (``keys``, bin), then collect the bin-sorted MAP<bin, count> per
    ``keys``."""
    return (
        binned.groupBy(*keys, bin_col)
        .agg(n.alias(n_col))
        .groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(bin_col, n_col)))
            ).alias("p_hist")
        )
    )


def rollup_batch(
    valid: DataFrame,
    interval_ms: int,
    series_cols: list[str] | None = None,
    hist_bins: int = HIST_BINS,
    hist_lo: float = HIST_LO,
    hist_hi: float = HIST_HI,
) -> DataFrame:
    """One micro-batch → mergeable per-(series, bucket) partials.

    ``valid`` is the prepared point frame (streaming/ingest.py schema with
    ``tsid``/``ksid``/``ts``/``value``/``date``).

    Each partial also carries ``p_hist`` — a MAP<bin, count>
    fixed-grid histogram (Prometheus-style).  Histograms merge by summing
    counts, which makes approximate percentiles mergeable across batches
    and series where exact sort-based percentiles are not; the error is
    bounded by one bin width.  Cost: one extra (series, bucket, bin)
    pre-aggregation — still ∝ occupied bins, never ∝ points.
    """
    series_cols = series_cols or ["ksid", "tsid", "metric"]
    ts_us = F.unix_micros(F.col("ts"))
    aggs = [
        F.sum("value").alias("p_sum"),
        F.count("value").alias("p_count"),
        F.min("value").alias("p_min"),
        F.max("value").alias("p_max"),
    ]
    if "tags" in valid.columns and "tags" not in series_cols:
        # tsid is a hash of (metric, tags), so tags are constant per series —
        # carried (not grouped: MapType can't be a grouping key) so the
        # query-time rollup router can apply tag filters without the lake.
        aggs.append(F.first("tags").alias("tags"))
    keys = [*series_cols, "date", "bucket_ms"]
    base = valid.withColumn("bucket_ms", bucket_ms_long(ts_us, interval_ms))
    out = base.groupBy(*keys).agg(*aggs)
    hist_df = _hist_map(
        base.withColumn("_bin", _hist_bin(F.col("value"), hist_bins, hist_lo, hist_hi)),
        keys, "_bin", F.count("value"), "_n",
    )
    return out.join(hist_df, keys)


def write_rollup_batch(
    valid: DataFrame,
    rollup_dir: str,
    interval_ms: int,
    series_cols: list[str] | None = None,
) -> None:
    """Append the batch's partials to the rollup lake (same (ksid, date)
    partitioning as the point lake → same pruning)."""
    (
        rollup_batch(valid, interval_ms, series_cols)
        .write.mode("append")
        .partitionBy("ksid", "date")
        .parquet(rollup_dir)
    )


#: Marker file recording whether the rollup lake covers the ENTIRE point
#: lake.  Routing a downsample onto partials is only exact if every lake
#: point is represented; points ingested before rollup was enabled are not.
_COVERAGE_MARKER = "_coverage_complete"


def mark_rollup_coverage(
    rollup_dir: str,
    complete: bool,
    as_of_seq: int | None = None,
    kind: str | None = None,
    retained_from_ms: int | None = None,
    retention_floor_days: int | None = None,
    checked_to_seq: int | None = None,
) -> None:
    """Record rollup coverage state (atomic write-then-rename).

    ``as_of_seq`` (cascaded rungs only) pins the commit-log position the
    rung was built from, so ladder routing can detect staleness.
    ``kind`` ("cascade" for cascaded rungs) lets ``cascade_rollup`` tell a
    pin-less CASCADED source (built without ``lake_dir`` — its files never
    appear in commit manifests, so waiting for them to settle would hang)
    apart from the live ingest-maintained rung (whose files do settle).

    ``retained_from_ms`` (fine sketch lakes only — set by
    :func:`prune_sketch_lake`) records the retention horizon: buckets
    below it were aged out after a coarser rung took over the span.
    When None (every re-pin: the ingest bridge re-marks the fine lakes
    per batch), an EXISTING horizon is preserved — losing it would let
    reads silently under-read the pruned span.  ``retention_floor_days``
    (same preserve-if-None rule) records the floor the prune was
    configured with, so the operator dial (``ladder_status``) can
    explain the refusal envelope without access to the prune config.

    ``checked_to_seq`` (algebraic fine lakes; same preserve-if-None
    rule) records the commit-log position up to which the lake is
    PROVEN free of foreign sketch-less appends (bridge drain re-pins,
    ``backfill_rollup``'s snapshot cut).  It is deliberately a separate
    field from ``as_of_seq`` (r19 review pass 8): an ``as_of_seq`` on
    the algebraic fine would change ``cascade_rollup``'s pin
    arithmetic (``min(head, src pin)``) and permanently stale every
    rung of an ingest-maintained lake after one backfill — the fine
    lake keeps representing sectioned appends PAST the pin, which
    ``as_of_seq``'s contract ("reflects the lake exactly up to here
    and not beyond") cannot express.  Consumers: the serving engine's
    per-request foreign-tail gate and the bridge GC tail's
    truncation floor."""
    from mycenae_spark.streaming.commitlog import write_json_atomic

    payload = {"complete": bool(complete)}
    if as_of_seq is not None:
        payload["as_of_seq"] = int(as_of_seq)
    if kind is not None:
        payload["kind"] = kind
    prev = None
    if (retained_from_ms is None or retention_floor_days is None
            or checked_to_seq is None):
        prev = _read_marker(rollup_dir)
    if retained_from_ms is None:
        retained_from_ms = prev.get("retained_from_ms")
    if retained_from_ms:
        payload["retained_from_ms"] = int(retained_from_ms)
    if retention_floor_days is None:
        retention_floor_days = prev.get("retention_floor_days")
    if retention_floor_days is not None:
        payload["retention_floor_days"] = int(retention_floor_days)
    if checked_to_seq is None:
        checked_to_seq = prev.get("checked_to_seq")
    if checked_to_seq is not None:
        payload["checked_to_seq"] = int(checked_to_seq)
    write_json_atomic(os.path.join(rollup_dir, _COVERAGE_MARKER), payload)


def rollup_coverage_complete(rollup_dir: str) -> bool:
    """True iff the rollup lake is marked as covering the whole point lake.

    A MISSING marker reads as incomplete: rollup dirs created before the
    marker existed (or by out-of-band writers) cannot prove coverage, and
    the fallback — serving from raw points — is always correct, just
    slower.  ``backfill_rollup`` repairs an incomplete rollup.
    """
    import json
    import os

    path = os.path.join(rollup_dir, _COVERAGE_MARKER)
    try:
        with open(path) as f:
            return bool(json.load(f).get("complete"))
    except (OSError, ValueError):
        return False


def has_series_partitions(d: str) -> bool:
    """True iff ``d`` holds at least one ``ksid=`` data partition — THE
    one copy of the "does this lake have data?" probe (r18 review: the
    idiom had grown three inline copies).  Distinct from the coverage
    marker on purpose: a lake can hold data while marked incomplete
    (backfill pending), and callers gating on emptiness must not
    conflate the two."""
    try:
        return any(e.startswith("ksid=") for e in os.listdir(d))
    except FileNotFoundError:
        return False


def sketch_retained_from(sketch_dir: str) -> int:
    """The retention horizon :func:`prune_sketch_lake` recorded for a
    fine sketch lake (epoch ms), or 0 when the lake was never pruned:
    buckets below it were aged out and only coarser rungs cover the
    span."""
    return int(_read_marker(sketch_dir).get("retained_from_ms") or 0)


def sketch_retention_info(sketch_dir: str) -> dict:
    """Retention state for the operator dial (``ladder_status``):
    ``retained_from_ms`` (0 = never pruned) and the
    ``retention_floor_days`` the last prune was configured with (None =
    never pruned / pre-floor marker) — together they explain both sides
    of the refusal envelope: WHY a fine-grain query 400s below the
    horizon, and how low ``keep_days`` is allowed to push it."""
    m = _read_marker(sketch_dir)
    floor = m.get("retention_floor_days")
    return {
        "retained_from_ms": int(m.get("retained_from_ms") or 0),
        "retention_floor_days": int(floor) if floor is not None else None,
    }


class SketchRetentionError(ValueError):
    """A read verb refused a pruned-lake read below its retention
    horizon (``guard_sketch_retention``).  A ValueError subclass so
    every existing typed-400 / refusal path is unchanged; its own type
    so routing code can tell this PERMANENT state (a pruned fine dir
    misconfigured as a rung) from a transient swap race instead of
    logging a misleading per-request race warning (r19 review)."""


def guard_sketch_retention(
    sketch_dir: str,
    start_ms: int | None = None,
    clamp: bool = False,
    what: str = "sketch read",
    interval_ms: int | None = None,
) -> int:
    """The LIBRARY-seam retention check (r18 VERDICT "what's missing"
    #1): the Engine refuses fine-grain pre-horizon queries, but the
    read verbs here are public composition points too — a caller
    reading a PRUNED fine lake directly (or an engine configured with
    the fine dir as a ladder rung) would silently under-read the aged
    span, the exact failure :func:`prune_sketch_lake`'s marker-first
    commit order exists to prevent.  Every directory-reading verb
    (``read_rollup``/``read_rollup_percentile``/``read_kmv_distinct``/
    ``read_qsample_quantile``/``read_qsample_percentile``/
    ``read_rollup_series`` and the ladder variants) consults this ONE
    check.

    Returns the lower bucket bound (epoch ms) the read must filter to
    (0 = whole lake readable).  Over a pruned lake the caller must
    either declare ``start_ms`` at/after the horizon (the read is then
    provably inside the retained span) or opt into ``clamp`` — the
    explicit acknowledgement that pre-horizon buckets are served by the
    coarser rungs, not this lake; anything else refuses loudly.

    With ``interval_ms`` (a read that RE-BUCKETS to a coarser grid),
    the bound must land on that grid: a coarse bucket straddling it
    would merge only the post-bound fraction of its span — a silently
    WRONG value, worse than the omission the guard exists to prevent
    (r19 review).  Misalignment refuses with the remedy."""
    retained = sketch_retained_from(sketch_dir)
    bound = 0
    if not retained:
        bound = int(start_ms or 0)
    elif start_ms is not None and start_ms >= retained:
        bound = int(start_ms)
    elif clamp:
        bound = retained
    else:
        raise SketchRetentionError(
            f"{what}: {sketch_dir!r} was pruned below its retention "
            f"horizon ({retained} ms) — fine partials before that point "
            "were aged out after a coarser rung took over the span, so an "
            "unbounded read would silently under-read; read a rung for "
            "pre-horizon history, pass start_ms at/after the horizon, or "
            "pass clamp_to_retention=True to serve the retained span only"
        )
    if bound and interval_ms and bound % interval_ms:
        raise SketchRetentionError(
            f"{what}: the read's lower bound ({bound} ms) does not land "
            f"on the requested {interval_ms} ms bucket grid — the "
            "straddling coarse bucket would merge only its post-bound "
            "fraction (a wrong value, not an omitted bucket); align "
            "start_ms to the interval, choose a dividing interval, or "
            "read the stored grid and re-bucket after filtering"
        )
    return bound


def _apply_retention_bound(df: DataFrame, lo: int) -> DataFrame:
    """Filter a partials frame to buckets at/after ``lo``.  The extra
    day-floored ``date`` predicate is what reaches the parquet scan as
    a PartitionFilter — ``bucket_ms`` is a data column, so on its own
    the pruned-lake read would still list every partition."""
    if not lo:
        return df
    import datetime as _dt

    out = df.filter(F.col("bucket_ms") >= F.lit(int(lo)))
    if "date" in df.columns:
        day = _dt.datetime.fromtimestamp(
            lo / 1000, tz=_dt.timezone.utc
        ).date().isoformat()
        out = out.filter(F.col("date") >= F.lit(day))
    return out


def prune_sketch_lake(
    lake_dir: str,
    fine_dir: str,
    rungs: dict[int, str],
    *,
    keep_days: int,
    floor_days: int = 7,
    today=None,
    sketch: str = "rollup",
) -> dict:
    """RETENTION for a fine sketch lake (r17 VERDICT "what's missing"
    #1 — the one grow-forever surface left): age out fine rollup / KMV /
    qsample partials once every coarser rung covers the span, the same
    honesty contract as ``keyspace.apply_ttl`` gives raw points.  At
    100 TB the 1m partial lake is raw-point-order mass; the rungs that
    replace it are #series × #coarse-buckets.

    Drops whole ``ksid=*/date=*`` partitions of ``fine_dir`` older than
    ``today - keep_days`` — pure directory moves, cost independent of
    partition bytes (apply_ttl's mechanism).  Preconditions, each a
    loud refusal (never a silent under-read later):

    * ``keep_days >= floor_days`` — the configured floor; fine grain
      younger than it is always queryable;
    * every rung in ``rungs`` is coverage-complete AND current against
      the commit log — the dropped span must already be answerable at
      every rung grain;
    * the day-aligned horizon falls on every rung's bucket boundary
      (a rung bucket straddling the horizon would merge dropped and
      kept fine buckets);
    * ``fine_dir`` itself is coverage-complete (a partial fine lake
      needs its backfill first, not retention).

    Crash-safe order (the prune_bridge_output discipline, refusals
    strictly before invisibility): the fine marker's
    ``retained_from_ms`` FIRST (refusals + cascade carry-over active
    while every partition is still fully readable), then the commit-log
    entry (``sketch-prune`` — log-gated rollup snapshot reads exclude
    the partitions from this position; content-NEUTRAL for rung
    currency since rung values are unaffected), then the moves — into
    ``fine_dir/_retained/<seq>/`` so reads pinned before the prune keep
    resolving until ``maintenance.gc_retained`` reclaims them.  The
    reverse order (log first) would open a crash window where log-gated
    reads already hide the partitions while the guard still reads
    retained=0 — a silent under-read, the exact failure this verb
    exists to prevent (r18 review).  The move loop covers every
    partition below the RECORDED horizon, so any prune call reclaims a
    predecessor's crash orphans.

    After the drop: queries at rung grain answer identically from the
    rungs; a query needing the fine grain below the horizon refuses
    loudly (server.Engine) or falls to raw points where servable; rung
    REBUILDS carry the pre-horizon span over from the previous rung
    generation (``refresh_ladder``, every family).  Late
    points below the horizon are outside the data contract, exactly as
    ``apply_ttl`` declares for expired partitions.

    Returns ``{"pruned": [relpaths], "retained_from_ms": horizon_ms}``.
    """
    import datetime as _dt
    import shutil

    from mycenae_spark.maintenance import retain_path
    from mycenae_spark.streaming import commitlog

    if keep_days < floor_days:
        raise ValueError(
            f"prune_sketch_lake: keep_days={keep_days} is below the "
            f"retention floor ({floor_days} days) — fine-grain history "
            "younger than the floor must stay queryable; raise keep_days "
            "or lower floor_days deliberately"
        )
    if not rungs:
        raise ValueError(
            "prune_sketch_lake: no coarser rungs configured — dropping "
            "fine partials would orphan the span entirely; build the "
            "ladder first"
        )
    today = today or _dt.date.today()
    horizon_day = today - _dt.timedelta(days=keep_days)
    horizon_ms = (
        int(
            _dt.datetime.combine(
                horizon_day, _dt.time(), tzinfo=_dt.timezone.utc
            ).timestamp()
        )
        * 1000
    )
    # clamp to the previously recorded horizon BEFORE the rung checks
    # (r18 ADVICE): the horizon can only advance, and it is the EFFECTIVE
    # (clamped) horizon whose alignment against the CURRENT rung grid
    # matters — if the ladder changed since an earlier prune, an inherited
    # horizon that no longer lands on every rung boundary must refuse
    # here, not surprise a later refresh's carry-over
    already = sketch_retained_from(fine_dir)
    horizon_ms = max(horizon_ms, already)
    horizon_day = _dt.datetime.fromtimestamp(
        horizon_ms / 1000, tz=_dt.timezone.utc
    ).date()
    for iv, rung_dir in sorted(rungs.items()):
        if horizon_ms % iv:
            raise ValueError(
                f"prune_sketch_lake: effective horizon {horizon_day} "
                f"(keep_days clamped to any previously recorded horizon) "
                f"is not aligned to the {iv}ms rung's bucket grid — a "
                "straddling rung bucket would mix dropped and kept fine "
                "buckets; adjust keep_days/today (or the rung set) so "
                "the horizon lands on a rung boundary"
            )
        if not rollup_coverage_complete(rung_dir):
            raise ValueError(
                f"prune_sketch_lake: rung {rung_dir!r} is not marked "
                "coverage-complete — it cannot prove it answers for the "
                "dropped span; run the backfill/refresh first"
            )
        if not cascade_is_current(lake_dir, rung_dir):
            raise ValueError(
                f"prune_sketch_lake: rung {rung_dir!r} is stale against "
                "the commit log — refresh the ladder first so the rung "
                "provably covers everything being dropped"
            )
    if not rollup_coverage_complete(fine_dir):
        raise ValueError(
            f"prune_sketch_lake: fine lake {fine_dir!r} is not "
            "coverage-complete — backfill it before applying retention"
        )

    # every partition below the RECORDED horizon — not just newly
    # expired ones — so a crash between marker and moves is repaired by
    # the next call (the prune_bridge_output idempotent-sweep contract)
    expired: list[str] = []
    for ks in sorted(os.listdir(fine_dir)) if os.path.isdir(fine_dir) else []:
        if not ks.startswith("ksid="):
            continue
        for entry in sorted(os.listdir(os.path.join(fine_dir, ks))):
            if not entry.startswith("date="):
                continue
            try:
                d = _dt.date.fromisoformat(entry.split("=", 1)[1])
            except ValueError:
                continue
            if d < horizon_day:
                expired.append(os.path.join(ks, entry))

    if horizon_ms > already or expired:
        # marker FIRST (carrying the pin/kind through — dropping
        # as_of_seq would strip the fine lake's currency pin and brick
        # the next cascade): refusals activate while the data is still
        # fully readable on every path
        marker = _read_marker(fine_dir)
        mark_rollup_coverage(
            fine_dir, True,
            as_of_seq=marker.get("as_of_seq"),
            kind=marker.get("kind"),
            retained_from_ms=horizon_ms,
            retention_floor_days=floor_days,
        )
        seq = commitlog.append(
            lake_dir,
            {
                "kind": "sketch-prune",
                "sketch": sketch,
                "retained_from_ms": horizon_ms,
                "partitions": expired,
            },
        )
        for rel in expired:
            dst = retain_path(fine_dir, seq, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(os.path.join(fine_dir, rel), dst)
    return {"pruned": expired, "retained_from_ms": horizon_ms}


def backfill_rollup(
    spark,
    lake_dir: str,
    rollup_dir: str,
    interval_ms: int = FINE_ROLLUP_MS,
    series_cols: list[str] | None = None,
) -> dict:
    """Rebuild the rollup lake from the point lake and mark coverage
    complete — required when enabling ``rollup_dir`` on a lake that already
    holds points (their buckets would otherwise be silently missing from
    routed queries).  Also disaster recovery for a lost rollup lake.

    Concurrent-safe WITHOUT pausing ingest (NEXT.md item 4), by composing
    with log-gated snapshots (streaming/snapshot.py):

    1. the scan reads a snapshot PINNED at log position H — committed
       batches only, by manifest, so which points the recompute covers is
       exact, not whatever the directory listing raced into;
    2. any batch committing after H keeps its own partial files across the
       directory swap (salvage below).  Partials are MERGEABLE, so
       "recomputed-from-≤H plus retained->H" is exactly correct — the
       property that makes this possible without a lock or a re-run;
    3. the ``rollup-backfill`` log entry records (as_of=H, recomputed
       files), letting snapshot readers replace the rollup's visible set
       at this exact position with the same salvage rule.

    The swap salvage is race-free for the same reason swap_catalog_dir's
    is: appends target the ``rollup_dir`` PATH, so once the old dir is
    renamed away no further files land in it.  (A move landing in the
    instant between the two renames can recreate ``rollup_dir`` and fail
    the second rename loudly — rerun; nothing is lost or double-counted.)

    Cost ∝ lake size, once.  Returns {"as_of", "seq", "salvaged"}.
    """
    import os
    import shutil
    import uuid

    from mycenae_spark.streaming import commitlog
    from mycenae_spark.streaming import snapshot as snap

    # FIRST repair any crashed predecessor's debris (r19 review pass 8):
    # a stranded `_bfold_` generation holds manifest-referenced files,
    # and un-settled manifests would stall the checkpoint/settle
    # machinery this very rebuild depends on.  Idempotent pure moves.
    _salvage_backfill_debris(rollup_dir, lake_dir=lake_dir,
                             allow_unproven_restore=True)
    # Always take a FRESH FULL checkpoint: its directory listing includes
    # any legacy files written before this lake was log-tracked, matching
    # the coverage semantics of a directory scan while still pinning an
    # exact cut.  (Omitted roots inherit from the previous checkpoint;
    # mode="full" because an incremental checkpoint would keep legacy
    # files invisible and the backfill would silently skip their points.)
    as_of = snap.write_checkpoint(lake_dir, rollup_dir=rollup_dir, mode="full")
    cut = snap.resolve(lake_dir, as_of=as_of)
    valid = snap.read_points_snapshot(spark, lake_dir, as_of=as_of)
    partials = rollup_batch(valid, interval_ms, series_cols)
    # Crash debris uses the backfill-specific `<dir>_bfnew_*` (build)
    # and `<dir>_bfold_<seq>_*` (superseded generation) names — NOT the
    # rung ladder's `<dir>_new_*`/`<dir>_old_*` (r19 review passes
    # 7-8).  Rung `_old_` debris is rebuildable rung data the sweeper
    # may rmtree; a backfill's old generation holds files COMMITTED
    # MANIFESTS still reference (superseded partials destined for
    # `_retained/<seq>`, post-cut partials owned by later batches), so
    # its repair is a salvage — every data file moves into the live
    # generation's `_retained/<seq>` (settling the manifests and
    # serving pinned readers; the seq rides in the debris name), never
    # a delete.  The repair runs here (idempotent, at the heal verb)
    # and in ``gc_ladder_temps`` (age-clamped, for lakes nobody
    # re-backfills).
    tmp = rollup_dir.rstrip("/") + f"_bfnew_{uuid.uuid4().hex[:8]}"
    # (`_bfnew_` residual: the build dir's top-level mtime stops moving
    # once the last partition dir is created, so a single partition's
    # write tail longer than the sweeper's age floor could still race —
    # accepted: the floor is hours, a partition-write tail is not)
    partials.write.mode("overwrite").partitionBy("ksid", "date").parquet(tmp)
    new_files = snap._list_data_files(tmp)
    seq = commitlog.append(
        lake_dir,
        # ``root`` pins WHICH rollup dir was rebuilt: the bridge's
        # foreign-offender absolution must not credit a rebuild of a
        # DIFFERENT directory (r19 review)
        {"kind": "rollup-backfill", "as_of": as_of, "files": new_files,
         "root": os.path.abspath(rollup_dir)},
    )
    salvaged = 0
    if os.path.isdir(rollup_dir):
        old = (rollup_dir.rstrip("/")
               + f"_bfold_{seq:020d}_{uuid.uuid4().hex[:8]}")
        # stamp NOW before the rename (which preserves mtime — r19
        # review pass 9): on a lake quiet for longer than the sweeper's
        # age floor, the debris would otherwise be born "aged" and the
        # bridge's per-drain sweep could race this run's own salvage
        # loop below
        os.utime(rollup_dir, None)
        os.rename(rollup_dir, old)
        os.rename(tmp, rollup_dir)
        # Keep partials from batches that committed after the pinned cut:
        # anything in the old dir that was NOT visible at H belongs to a
        # later commit (its manifest re-adds it for snapshot readers).
        # The superseded generation (visible at H) moves to _retained/<seq>
        # instead of being deleted, so snapshot reads pinned BEFORE this
        # backfill keep resolving (maintenance.gc_retained sweeps by age).
        superseded = set(cut["rollup"])
        rels = snap._list_data_files(old)
        salvaged = _split_generation(
            old, rollup_dir, seq, set(rels) - superseded, rels=rels
        )
        _carry_retained(old, rollup_dir)
        shutil.rmtree(old)
    else:
        os.rename(tmp, rollup_dir)
    # checked_to pinned at the snapshot cut H (r19 review pass 8): an
    # un-pinned heal would disarm the serving engine's per-request
    # foreign-tail gate right after the heal, so a foreign sketch-less
    # append racing the backfill (H < its seq — deliberately NOT
    # absolved by the bridge's as_of-bounded absolution) would be
    # silently served-over until the next non-empty drain.  The pin is
    # H, not this entry's seq: the rebuild proves coverage of exactly
    # the points visible at H (plus salvaged SECTIONED post-H partials,
    # which scan clean), so the engine's tail scan must still see a
    # sketch-less append landing in (H, seq).  NOT as_of_seq — see
    # mark_rollup_coverage's docstring for why the algebraic fine must
    # stay as_of-less.
    mark_rollup_coverage(rollup_dir, True, checked_to_seq=as_of,
                         kind="backfill")
    return {"as_of": as_of, "seq": seq, "salvaged": salvaged}


def _carry_retained(old_dir: str, new_dir: str) -> None:
    """Carry the superseded generation's ``_retained/`` area into the new
    generation before the old dir is deleted (r19: a SECOND backfill's
    old generation CONTAINS the first's grace area — ``_list_data_files``
    skips underscore dirs, so without this the rmtree silently destroys
    every older retained generation, stranding snapshot readers pinned
    before them and permanently un-settling the original batches'
    manifests, which hard-fails every later cascade's torn-move guard).
    Age-based reclamation stays ``maintenance.gc_retained``'s job."""
    import shutil as _shutil

    old_ret = os.path.join(old_dir, "_retained")
    if not os.path.isdir(old_ret):
        return
    dst_root = os.path.join(new_dir, "_retained")
    os.makedirs(dst_root, exist_ok=True)
    for seq_dir in os.listdir(old_ret):
        src = os.path.join(old_ret, seq_dir)
        dst = os.path.join(dst_root, seq_dir)
        if not os.path.isdir(dst):
            _shutil.move(src, dst)
            continue
        # same retain seq on both sides (a crash-rerun backfill): merge
        # file-by-file, first copy wins (identical content by seq)
        for dirpath, _dirs, files in os.walk(src):
            rel = os.path.relpath(dirpath, src)
            for f in files:
                d = os.path.join(dst, rel, f)
                if not os.path.exists(d):
                    os.makedirs(os.path.dirname(d), exist_ok=True)
                    _shutil.move(os.path.join(dirpath, f), d)


#: Backfill debris (`_bfnew_`/`_bfold_`) is never touched younger than
#: this, whatever dial `gc_ladder_temps` runs at: an in-flight
#: backfill's Spark build or salvage loop must not race the sweeper
#: (the bridge sweeps every drain at its maintenance dial, and an
#: operator backfill runs un-flocked beside it — r19 review pass 8).
_BF_DEBRIS_MIN_AGE_S = 6 * 3600


def _split_generation(
    src_dir: str, dst_dir: str, retain_seq: int, live: set,
    rels: "list[str] | None" = None,
) -> int:
    """THE one copy of the superseded-generation split (r19 review pass
    10 — ``backfill_rollup``'s swap loop and the debris salvage had
    diverged): every data file in ``src_dir`` either moves LIVE into
    ``dst_dir`` (``rel in live`` — current manifests reference it
    there) or retains at ``dst_dir/_retained/<retain_seq>`` (pinned
    readers may still resolve it; ``gc_retained`` ages the bytes by
    evidence).  Never clobbers: a same-named live file (part names are
    unique, so this should not happen) demotes the move to a retain.
    ``rels`` skips re-listing when the caller already walked the tree.
    Returns the number of files moved live."""
    import shutil

    from mycenae_spark.maintenance import retain_file
    from mycenae_spark.streaming import snapshot as snap

    moved = 0
    for rel in (snap._list_data_files(src_dir) if rels is None else rels):
        src = os.path.join(src_dir, rel)
        dst = os.path.join(dst_dir, rel)
        if rel in live and not os.path.exists(dst):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.move(src, dst)
            moved += 1
        else:
            retain_file(dst_dir, retain_seq, rel, src)
    return moved


def _list_backfill_debris(
    dst: str, names: "list[str] | None" = None
) -> "list[tuple[int, str]]":
    """``[(seq, path)]`` of ``<dst>_bfold_<seq>_*`` debris DIRS — THE
    one copy of the debris naming contract (r19 pass 14: the prefix
    match + seq parse had grown three hand-synced copies across the
    salvage, the sweeper, and the bridge's retention floor).
    Unparseable or non-directory matches are skipped (left loudly in
    listings).  ``names`` skips the parent listing when the caller
    already holds it (the bridge floors many sibling rungs per
    drain)."""
    base = dst.rstrip("/")
    parent = os.path.dirname(base) or "."
    prefix = os.path.basename(base) + "_bfold_"
    if names is None:
        try:
            names = os.listdir(parent)
        except FileNotFoundError:
            return []
    out: list[tuple[int, str]] = []
    for name in names:
        if not name.startswith(prefix):
            continue
        path = os.path.join(parent, name)
        if not os.path.isdir(path):
            continue
        try:
            out.append((int(name[len(prefix):].split("_")[0]), path))
        except ValueError:
            continue
    return out


def _salvage_backfill_debris(
    rollup_dir: str, lake_dir: str | None = None, min_age_s: float = 0.0,
    allow_unproven_restore: bool = False,
) -> list[str]:
    """Repair crashed ``backfill_rollup`` generations (r19 review
    passes 8-9).  A crash between the generation swap and the
    salvage/carry loops strands the superseded generation as
    ``<dir>_bfold_<seq>_*`` — its data files are still referenced by
    committed manifests (superseded partials destined for
    ``_retained/<seq>``, post-cut partials owned by later batches), so
    deletion would permanently un-settle those manifests and strand
    snapshot readers pinned before the backfill.

    The split classifies each debris file against the CURRENT head's
    visible set, so it needs ``lake_dir`` (without it, debris is LEFT
    — never guess): a file today's manifests reference moves LIVE into
    the current generation (retaining it would let ``gc_retained`` age
    out files reads still need, r19 pass 9); everything else retains
    at ``_retained/<seq>`` (the seq embedded in the debris name) for
    readers pinned in the past.  Head-relative, not crashed-cut-
    relative, on purpose (r19 pass 10): a LATER successful backfill's
    recompute re-covers the stranded post-cut batches, and a split
    against the crashed run's own cut would then move those files live
    into the newer generation — duplicate mergeable partials that
    directory-scan readers would double-count.  Against the head, a
    superseded-by-later-rebuild file is simply no longer visible and
    retains.

    When the live dir is ABSENT (the rename-to-rename torn window) the
    debris is the only copy: the newest generation is RESTORED by
    undoing the completed first rename — without this, the heal verb
    itself deadlocks (``write_checkpoint``'s settle loop can never see
    the post-H partials stranded in the debris) and re-running
    ``backfill_rollup`` raises TransientInFlight for the whole replay
    window.  The restored marker is immediately DEMOTED to incomplete
    (r19 pass 10): the restored generation may be arbitrarily stale
    (the live dir could have been lost long after this debris was
    written), so it must not re-enter routing on its old
    coverage-complete marker — the restore exists to un-deadlock the
    settle machinery, and only ``backfill_rollup``'s own rebuild
    re-proves coverage.  Restore also requires ``lake_dir`` (a bare
    rung sweep must never resurrect a generation).

    Both paths first prove PROVENANCE (r19 pass 11): the debris seq
    must name a ``rollup-backfill`` entry in THIS lake's log whose
    recorded absolute root is THIS dir — a sweep list can carry dirs
    whose backfills ran against a different lake, and splitting their
    debris against our head would retain-and-age-out files the other
    lake's manifests still reference.  Unprovable debris is left
    loudly in place — except that the HEAL VERB may restore an
    unproven newest generation when the live dir is gone
    (``allow_unproven_restore``, r19 pass 12): with the debris's entry
    truncated from the log, a strict refusal would leave the settle
    machinery deadlocked forever, and the demote + follow-up rebuild
    bound the damage of a wrong guess.  The background sweeper never
    guesses.

    ``min_age_s`` skips debris younger than the floor — the sweeper
    (``gc_ladder_temps``) runs beside arbitrary operator actions and
    must not race an in-flight backfill's own salvage loop.
    ``backfill_rollup`` itself calls with 0: same-dir concurrent
    backfills were never supported (the generation swap fails loudly),
    so at the heal verb the debris is known-dead.  Idempotent; returns
    the repaired (salvaged or restored) debris paths."""
    import shutil
    import time

    base = rollup_dir.rstrip("/")
    repaired: list[str] = []
    cands = _list_backfill_debris(base)

    def _aged(path: str) -> bool:
        if not min_age_s:
            return True
        try:
            return time.time() - os.path.getmtime(path) >= min_age_s
        except OSError:
            return False

    if lake_dir is None or not cands:
        return []  # no lake context: never restore, never split

    from mycenae_spark.streaming import commitlog

    # One LAZY entry read per examined candidate (r19 passes 14-15),
    # from which BOTH verdicts derive race-free:
    #   ours      — a rollup-backfill entry in THIS lake's log whose
    #               recorded absolute root is THIS dir (r19 pass 11:
    #               a sweep list can carry dirs whose backfills ran
    #               against a different lake, and splitting their
    #               debris against our head-visible set would
    #               retain-and-age-out files the other lake's
    #               manifests still reference);
    #   disproven — the entry AFFIRMATIVELY denies the debris: it
    #               names a different root, or it is not a
    #               rollup-backfill at all (seqs are never reused, so
    #               a non-backfill entry at the debris seq proves the
    #               debris did not come from this log — r19 pass 14).
    # Absent evidence (entry truncated) is neither.  Candidates the
    # age filters exclude (the common in-flight-build case, every
    # drain) are never read at all.
    import functools

    @functools.cache
    def _verdicts(seq: int) -> "tuple[bool, bool]":
        ent = commitlog.entry(lake_dir, seq)
        if ent is None:
            return (False, False)
        if ent.get("kind") != "rollup-backfill":
            return (False, True)
        return (
            commitlog.proves_same_root(ent.get("root"), base),
            commitlog.proves_different_root(ent.get("root"), base),
        )

    # agedness captured BEFORE any mutation (r19 pass 12): the restore
    # path writes a marker into the debris, which freshens its mtime —
    # evaluated lazily, a failed restore rename would then skip the
    # very "salvage below" fallback it promises for a full floor cycle
    was_aged = {path: _aged(path) for _seq, path in cands}

    if not os.path.isdir(base):
        # Restore walks candidates NEWEST-FIRST and takes the first
        # restorable one (r19 passes 13-16).  Per candidate:
        # - YOUNG (any position, pass 16) stops the walk outright:
        #   young debris beside a missing base may be an in-flight
        #   backfill mid-swap or a just-attempted restore whose
        #   demote marker freshened the mtime, and restoring an OLDER
        #   generation under it would fill the base slot and strand
        #   it (the heal verb runs with min_age_s=0, so an operator
        #   is never blocked by this).
        # - PROVEN restores on both paths.
        # - DISPROVEN (provably foreign) never restores — guessing is
        #   for absent evidence, not against present evidence — but
        #   an AGED disproven one is walked past: it cannot be this
        #   dir's generation, so it does not block an older proven
        #   restore (pass 14).
        # - EVIDENCE-ABSENT (entry truncated) is where the two paths
        #   part (pass 15): the HEAL VERB restores it (it may well be
        #   the newest real generation; backfill_rollup is an
        #   explicit operator action, the demote keeps a wrong guess
        #   out of routing, and the follow-up rebuild supersedes it —
        #   while a strict refusal would leave the settle machinery
        #   deadlocked; the bridge also floors commit-log retention
        #   at outstanding debris seqs so its own GC never creates
        #   that state), while the SWEEPER stops the walk — restoring
        #   an older proven generation under it would strand it
        #   (restore needs the base missing; salvage needs proof).
        pick = None
        for seq, path in sorted(cands, reverse=True):
            if not was_aged[path]:
                break  # YOUNG stops the walk — rationale above
            o, d = _verdicts(seq)
            if o:
                pick = (seq, path)
                break
            if d:
                continue  # provably foreign: walk past it
            if allow_unproven_restore:
                pick = (seq, path)
            break  # evidence-absent stops the sweeper's walk
        if pick is not None:
            _seq, path = pick
            # demote INTO THE DEBRIS first (r19 pass 11 — the marker
            # travels with the rename): demote-after-restore left a
            # crash window where the resurrected stale generation kept
            # its coverage-complete marker, and the old broad except
            # could swallow a failed demote.  A crash after this mark
            # but before the rename just leaves demoted debris —
            # idempotent.
            mark_rollup_coverage(path, False)
            try:
                os.rename(path, base)  # torn-window restore
            except OSError:
                pass  # a writer recreated base meanwhile: salvage below
            else:
                repaired.append(path)
                cands = [c for c in cands if c[1] != path]
                import logging

                logging.getLogger(__name__).warning(
                    "restored torn backfill generation %s -> %s "
                    "(coverage demoted; run backfill_rollup to "
                    "re-prove it)", path, base,
                )
    if not os.path.isdir(base):
        return repaired

    todo = [
        (seq, path) for seq, path in sorted(cands)
        if os.path.isdir(path) and was_aged[path] and _verdicts(seq)[0]
    ]
    if not todo:
        return repaired
    from mycenae_spark.streaming import snapshot as snap

    head = commitlog.latest_seq(lake_dir)
    if not head:
        live: "set | None" = set()  # nothing committed: nothing visible
    else:
        try:
            live = set(
                snap.resolve(lake_dir, as_of=head).get("rollup") or []
            )
        except Exception:
            live = None
    if live is None:
        return repaired  # can't prove the split: leave the debris

    for seq, path in todo:
        _carry_retained(path, base)
        _split_generation(path, base, seq, live)
        shutil.rmtree(path)
        repaired.append(path)
    return repaired


def _carry_pruned_span(
    spark, merged: DataFrame, carry_dir: str | None, carry_below_ms: int,
    what: str, dst_interval_ms: int,
) -> DataFrame:
    """THE carry-over rule for rebuilding a rung from a PRUNED fine lake
    (one copy for the algebraic and sketch cascades): the source no
    longer holds buckets below the retention horizon, so the new rung
    generation takes that span verbatim from the PREVIOUS generation —
    exact because the prune's precondition proved the old rung current
    over the span, and late data below the horizon is outside the data
    contract (``prune_sketch_lake``).  A first build of a NEW rung from
    a pruned fine lake has no previous generation to carry and refuses
    loudly — minting it would silently under-report the pruned span.

    The horizon must land on THIS rung's bucket grid (r18 review): a
    rung absent from the prune-time ladder never had its alignment
    checked, and a straddling bucket would mix carried (pre-horizon)
    and cascaded (post-horizon) halves — the filter split would
    silently drop the retained fine rows that bucket below the
    horizon.  Refuse instead."""
    if not carry_below_ms:
        return merged
    if carry_below_ms % dst_interval_ms:
        raise ValueError(
            f"{what}: the source lake's retention horizon "
            f"({carry_below_ms} ms) does not land on this rung's "
            f"{dst_interval_ms} ms bucket grid — a straddling bucket "
            "cannot be split between carry and cascade; this rung was "
            "not part of the prune-time ladder, so rebuild it from raw "
            "points or re-run the prune with it included"
        )
    if carry_dir is None or not rollup_coverage_complete(carry_dir):
        raise ValueError(
            f"{what}: the source lake is pruned below "
            f"{carry_below_ms}ms but the destination rung has no "
            "coverage-complete previous generation to carry the span "
            "from — restore the rung, or backfill from raw points if "
            "they still exist"
        )
    old = spark.read.parquet(carry_dir).filter(
        F.col("bucket_ms") < carry_below_ms
    )
    return merged.filter(
        F.col("bucket_ms") >= carry_below_ms
    ).unionByName(old)


def _cascade(
    spark,
    src_dir: str,
    dst_dir: str,
    dst_interval_ms: int,
    series_cols: list[str] | None,
    lake_dir: str | None,
    merge,
    kind: str,
    what: str,
    pinless,
    carry_dir: str | None,
    carry_below_ms: int,
) -> None:
    """THE one rung-cascade lifecycle, shared by the algebraic, KMV and
    value-sample families: pin, re-bucket, ``merge`` on the coarse grid
    (``date`` stays in the group key), carry a pruned source's span
    (:func:`_carry_pruned_span`), write ``<dst>_new_<hex>``, mark it,
    then publish by :func:`_swap_in`.

    With ``lake_dir`` the marker pins ``min(head, source pin)`` — a
    cascade is only as fresh as its input.  A source without a pin is
    the family's ``pinless(src_marker, head)`` rule to settle or
    refuse.  Coverage is inherited from the source marker, so a rung
    never claims more than its source proves; the marker lands in the
    new generation BEFORE the swap (a published rung always has
    one)."""
    import uuid

    from mycenae_spark.streaming import commitlog

    as_of_seq = None
    if lake_dir is not None:
        as_of_seq = commitlog.latest_seq(lake_dir)
        src_marker = _read_marker(src_dir)
        src_as_of = src_marker.get("as_of_seq")
        if src_as_of is not None:
            as_of_seq = min(as_of_seq, src_as_of)
        else:
            pinless(src_marker, as_of_seq)
    series_cols = series_cols or ["ksid", "tsid", "metric"]
    df = _rebucket(spark.read.parquet(src_dir), dst_interval_ms)
    merged = _carry_pruned_span(
        spark, merge(df, [*series_cols, "date", "bucket_ms"]), carry_dir,
        carry_below_ms, what, dst_interval_ms,
    )
    tmp = dst_dir.rstrip("/") + f"_new_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").partitionBy("ksid", "date").parquet(tmp)
    mark_rollup_coverage(
        tmp, rollup_coverage_complete(src_dir), as_of_seq=as_of_seq,
        kind=kind,
    )
    _swap_in(tmp, dst_dir)


def _merge_partials(df: DataFrame, keys: list[str]) -> DataFrame:
    """The algebraic merge rule: sum/count sum, min/max extremum,
    histogram bins sum (:func:`_hist_map`)."""
    aggs = [
        F.sum("p_sum").alias("p_sum"),
        F.sum("p_count").alias("p_count"),
        F.min("p_min").alias("p_min"),
        F.max("p_max").alias("p_max"),
    ]
    if "tags" in df.columns:
        aggs.append(F.first("tags").alias("tags"))
    merged = df.groupBy(*keys).agg(*aggs)
    if "p_hist" in df.columns:
        hist = _hist_map(
            df.select(*keys, F.explode("p_hist").alias("bin", "n")),
            keys, "bin", F.sum("n"), "n",
        )
        merged = merged.join(hist, keys)
    return merged


def cascade_rollup(
    spark,
    src_dir: str,
    dst_dir: str,
    dst_interval_ms: int,
    series_cols: list[str] | None = None,
    lake_dir: str | None = None,
    settle_timeout_s: float = 30.0,
    carry_dir: str | None = None,
    carry_below_ms: int = 0,
) -> None:
    """Materialize a COARSER rollup rung from a finer one (1m → 1h → 1d —
    the TimescaleDB continuous-aggregate ladder / OpenTSDB multi-interval
    rollup tables).  ``read_rollup(interval_ms=...)`` already answers
    coarse queries exactly by re-bucketing at read time; the ladder spends
    one merge pass so a year-long `1d-avg` reads #series × 365 rows from
    the 1d rung instead of #series × 525k from the 1m rung — at 100 TB the
    read-time re-bucket itself becomes the scan.

    Because partials are ALGEBRAIC (sum/count/min/max sum-or-extremum
    merge; histograms merge by summing bin counts), cascading partials is
    exactly equivalent to rolling up raw points at the coarse interval —
    no raw-point rescan, cost ∝ fine-rung rows.  The merge keeps ``date``
    in the grouping key: a coarse bucket that crosses a date boundary
    simply yields one partial per date, and the read path's re-merge by
    bucket makes that invisible (the same property that makes micro-batch
    bucket splits safe).

    Publish, marker and pin are the shared lifecycle (:func:`_cascade`):
    the rung either exists completely, with its marker, or not at all;
    coverage is inherited from the source rung's marker.

    With ``lake_dir``, the rung's marker also pins the lake's commit-log
    head at build time (``as_of_seq``): `cascade_is_current` then detects
    any later rollup-touching commit, so the engine never serves a stale
    rung after new ingest — the cascade is a materialization, not part of
    the ingest transaction, and currency must be checked, not assumed.

    Two torn-read guards make the pin honest:

    * cascading FROM another rung inherits ``min(src.as_of_seq, head)`` —
      the source's content is only as fresh as ITS pin, so pinning the
      current head would claim currency the data doesn't have;
    * cascading from the live ingest-maintained rung waits for every
      points-append ≤ the pinned head to finish its file moves (the
      marker → log append → moves commit order means a committed batch's
      partials can be mid-move while this build lists the directory —
      the same torn-bootstrap guard checkpoints use).
    """

    def settle(src_marker: dict, as_of_seq: int) -> None:
        import time as _time

        if src_marker.get("kind") == "cascade":
            # A cascaded source WITHOUT a pin was built without lake_dir:
            # its files never appear in commit manifests, so the settle
            # wait below could never succeed — fail fast with the real
            # remedy instead of a settle_timeout hang and a misleading
            # "crashed writer" error.
            raise ValueError(
                "cascade_rollup: source rung was cascaded without "
                "lake_dir, so it carries no as_of_seq pin — rebuild the "
                "source with lake_dir to cascade from it with currency "
                "tracking"
            )
        from mycenae_spark.streaming import snapshot as _snap

        deadline = _time.monotonic() + settle_timeout_s
        while not _snap._appends_settled(
            lake_dir, {"rollup": src_dir}, 0, as_of_seq
        ):
            if _time.monotonic() > deadline:
                raise RuntimeError(
                    "cascade_rollup: a committed batch's rollup file "
                    "moves never settled (crashed writer?) — run "
                    "backfill_rollup to repair, then re-cascade"
                )
            _time.sleep(0.05)

    _cascade(
        spark, src_dir, dst_dir, dst_interval_ms, series_cols, lake_dir,
        _merge_partials, "cascade", "cascade_rollup", settle,
        carry_dir, carry_below_ms,
    )


def _read_marker(rollup_dir: str) -> dict:
    """A rung's coverage marker payload ({} when missing/unreadable)."""
    import json
    import os

    try:
        with open(os.path.join(rollup_dir, _COVERAGE_MARKER)) as f:
            out = json.load(f)
            return out if isinstance(out, dict) else {}
    except (OSError, ValueError):
        return {}


def _read_marker_as_of(rollup_dir: str) -> int | None:
    """The ``as_of_seq`` a rung's coverage marker pins, if any."""
    return _read_marker(rollup_dir).get("as_of_seq")


def cascade_is_current(lake_dir: str, rung_dir: str) -> bool:
    """True iff no rollup-touching commit landed after the rung was built.

    Reads the rung marker's pinned ``as_of_seq`` and scans only the log
    TAIL past it (a handful of tiny JSON files between refreshes — never
    the rollup data).  Any later entry that carries rollup partials (an
    ingest batch with a ``rollup`` manifest section, or a
    ``rollup-backfill``) makes the rung stale; catalog-only commits do
    not.  A marker without ``as_of_seq`` (pre-ladder rung, or built
    without ``lake_dir``) reads as stale — the fallback, serving from the
    fine rung or raw points, is always correct."""
    from mycenae_spark.streaming import commitlog

    as_of = _read_marker_as_of(rung_dir)
    if as_of is None:
        return False
    # Truncation blindness: if gc_commitlog dropped entries in
    # (as_of, oldest_retained), a rollup-touching commit could have been
    # erased — currency is unprovable, so the rung reads as stale (the
    # fallback is correct; the next refresh_ladder re-pins at the head).
    floor = commitlog.oldest_seq(lake_dir)
    if floor is None:
        # Empty log: current only if the rung was pinned on a lake that
        # had never committed (as_of 0).  A non-zero pin with NO retained
        # entries means the log was erased under the rung — unprovable.
        return as_of == 0
    if floor > as_of + 1:
        return False
    # Content-NEUTRAL kinds for rollup reads: checkpoints and catalog
    # maintenance touch no partials; compaction rewrites partial FILES but
    # preserves their merged values, which is all a cascade depends on;
    # a sketch-prune drops FINE partials whose span the prune itself
    # proved every rung already covers (its precondition), so rung values
    # are untouched.  Everything else — points-append (writes partials
    # when rollup is on), rollup-backfill, partition-drop (TTL deletes
    # rollup partitions too), and any kind this code doesn't know — is
    # conservatively staling: the fallback path is always correct, a
    # stale rung never is.
    neutral = {
        "checkpoint", "catalog-dedupe", "catalog-rewrite", "compaction",
        "sketch-prune",
    }
    for _seq, payload in commitlog.entries(lake_dir, since=as_of):
        if payload.get("kind") not in neutral:
            return False
    return True


def refresh_ladder(
    spark,
    lake_dir: str,
    fine_dir: str,
    rungs: dict[int, str],
    cascade=cascade_rollup,
) -> dict[int, bool]:
    """Rebuild every STALE ladder rung of one family (the scheduled
    maintenance job the engine's `cascade_is_current` fallback assumes —
    like compaction, run on a cadence, cheap between refreshes because
    currency is a log-tail check).  ``cascade`` is the family's verb:
    :func:`cascade_rollup` (default), :func:`cascade_kmv` or
    :func:`cascade_qsample`.  Returns interval_ms → whether it was
    rebuilt.

    A fine lake that is not coverage-complete (a foreign sketch-less
    writer demoted it, or points predate it) is skipped entirely: its
    rungs would inherit complete=False — unroutable, so the full cascade
    per drain is pure waste.  Run the family's backfill to heal, then
    refresh.

    Rungs rebuild fine-to-coarse, and each rung cascades FROM the
    freshest finer rung whose interval divides it (1d from the
    just-refreshed 1h, not from 1m) — associativity makes that exact and
    the merge pass proportionally smaller.  A current rung is both
    skipped and a valid source (currency means it equals the fine rung's
    content on its grid).  A PRUNED fine source no longer holds the
    pre-horizon span: the rung carries it over from its previous
    generation (rung sources are never pruned, so retained is 0 for
    them).

    Publish is the cascade's atomic swap.  A query that resolved the OLD
    rung's files just before the swap can fail mid-read and needs a
    retry — cascades are derived, unlogged data, so they get the
    compaction-style race contract, not the snapshot protocol's retained
    generations; the window is one directory rename."""
    if not rollup_coverage_complete(fine_dir):
        return {iv: False for iv in rungs}
    rebuilt: dict[int, bool] = {}
    sources: list[tuple[int, str]] = []  # (interval, dir) fresh this pass
    for iv in sorted(rungs):
        dst = rungs[iv]
        rebuilt[iv] = not (
            os.path.isdir(dst)
            and rollup_coverage_complete(dst)
            and cascade_is_current(lake_dir, dst)
        )
        if rebuilt[iv]:
            src = next(
                (s_dir for s_iv, s_dir in reversed(sources) if iv % s_iv == 0),
                fine_dir,
            )
            retained = sketch_retained_from(src)
            cascade(
                spark, src, dst, iv, lake_dir=lake_dir,
                carry_dir=dst if retained else None, carry_below_ms=retained,
            )
        sources.append((iv, dst))
    return rebuilt


def gc_ladder_temps(
    rungs: "dict[int, str] | list[str]", max_age_s: float = 24 * 3600,
    lake_dir: str | None = None,
) -> list[str]:
    """Sweep crash debris from cascade builds and ladder swaps by age —
    the `gc_staging` contract applied to the ladder: an interrupted
    cascade or a crash inside its swap (``_swap_in``) can leave
    `<rung>_new_*` / `<rung>_old_*` generations; `_rollup_cascade_*`
    build dirs are what earlier cascade builds left behind, still swept.
    All are invisible to readers (only the exact rung path is ever
    resolved) but accumulate bytes.  Young dirs are left alone — they
    may belong to a build in progress.  Sketch dirs use the same
    `<dir>_new_*`/`<dir>_old_*` debris naming, so include them in
    ``rungs`` to sweep crashed sketch backfills and cascades too.
    ``backfill_rollup``'s
    debris (`<dir>_bfnew_*` builds, `<dir>_bfold_<seq>_*` superseded
    generations) is handled with different rules — a hard age floor
    (``_BF_DEBRIS_MIN_AGE_S``) whatever the dial, and `_bfold_` is
    salvaged into the live generation rather than deleted, because
    committed manifests still reference its files (r19 review passes
    8-9).  The salvage replays the crashed backfill's superseded /
    post-cut split, which needs ``lake_dir`` — without it, `_bfold_`
    debris is left in place (the bridge's GC tail passes it; library
    callers sweeping bare rung lists keep the old rung-only scope).
    Returns the paths removed or salvaged.
    """
    import os
    import shutil
    import time

    removed: list[str] = []
    now = time.time()
    seen_parents: set[str] = set()
    # Only the dirs matter (intervals were never consumed): a plain
    # list of rung/fine dirs is accepted too, so a caller sweeping
    # several ladders makes ONE call instead of fabricating keys.  A
    # bare string is rejected — iterating it char-by-char would turn a
    # plausible single-dir call into a silent no-op sweep.
    if isinstance(rungs, str):
        raise TypeError(
            "gc_ladder_temps takes a dict of rungs or a LIST of dirs; "
            f"got a bare string {rungs!r} — wrap it in a list"
        )
    dirs = rungs.values() if isinstance(rungs, dict) else rungs
    for dst in dirs:
        dst = dst.rstrip("/")
        parent = os.path.dirname(dst) or "."
        base = os.path.basename(dst)
        prefixes = [base + "_new_", base + "_old_", base + "_bfnew_"]
        if parent not in seen_parents:
            seen_parents.add(parent)
            prefixes.append("_rollup_cascade_")
        # Backfill debris gets an age FLOOR whatever the dial (r19
        # review pass 8): an operator backfill runs un-flocked beside
        # the bridge's per-drain sweep, and its multi-minute Spark
        # build / salvage loop must not race a `max_age_s=0` sweep.
        # `_bfold_` generations hold manifest-referenced files and are
        # SALVAGED into the live generation, never deleted; when dst
        # is gone (the rename-to-rename torn window) the helper
        # RESTORES the newest generation with its coverage demoted —
        # both need lake_dir, so a bare rung sweep leaves them alone.
        bf_age = max(max_age_s, _BF_DEBRIS_MIN_AGE_S)
        removed += _salvage_backfill_debris(
            dst, lake_dir=lake_dir, min_age_s=bf_age
        )
        try:
            names = sorted(os.listdir(parent))
        except FileNotFoundError:
            continue
        for name in names:
            if not any(name.startswith(p) for p in prefixes):
                continue
            path = os.path.join(parent, name)
            age_floor = (bf_age if name.startswith(base + "_bfnew_")
                         else max_age_s)
            try:
                if now - os.path.getmtime(path) < age_floor:
                    continue
            except OSError:
                continue
            if name.startswith(base + "_old_") and os.path.isdir(dst):
                # a swap that crashed mid-_carry_retained strands prior
                # generations' grace areas in the _old_ debris; salvage
                # them into the LIVE generation before the delete (r19
                # review) — the idempotent crash-repair discipline, and
                # the reason this sweep may run at the aggressive dial
                # while gc_retained owns the evidence-clamped aging
                _carry_retained(path, dst)
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return sorted(removed)


def ladder_rung(rungs: dict[int, str], interval_ms: int) -> tuple[int, str]:
    """Route a downsample onto the COARSEST materialized rung whose
    interval divides the query interval (exactness requires divisibility —
    a 90m query over a 1h rung would split rung buckets).  ``rungs`` maps
    stored interval_ms → rollup dir.  Always resolvable when the finest
    rung divides the query interval; raises otherwise (caller falls back
    to raw points, the same rule as the coverage marker)."""
    fits = [iv for iv in rungs if interval_ms % iv == 0]
    if not fits:
        raise ValueError(
            f"no ladder rung divides interval {interval_ms} "
            f"(rungs: {sorted(rungs)})"
        )
    best = max(fits)
    return best, rungs[best]



def _rebucket(df: DataFrame, interval_ms: int | None) -> DataFrame:
    """Floor ``bucket_ms`` onto a coarser grid (no-op for None) — the
    one re-bucket of the cascades and the read verbs."""
    if interval_ms is None:
        return df
    return df.withColumn(
        "bucket_ms",
        F.col("bucket_ms") - (F.col("bucket_ms") % F.lit(interval_ms)),
    )


def _guarded_scan(
    spark,
    sketch_dir: str,
    what: str,
    start_ms: int | None,
    clamp: bool,
    interval_ms: int | None = None,
) -> DataFrame:
    """Guard, filter and re-bucket — the one scan preamble of the
    directory-reading verbs (r19 review: five hand-synced copies is how
    the next guard change reopens the silent-under-read hole on the
    verb that misses it).  The retention bound applies to the STORED
    grid, before the re-bucket to ``interval_ms``.
    ``read_rollup_series`` keeps its df-override variant inline."""
    bound = guard_sketch_retention(
        sketch_dir, start_ms, clamp, what, interval_ms=interval_ms
    )
    return _rebucket(
        _apply_retention_bound(spark.read.parquet(sketch_dir), bound),
        interval_ms,
    )


def read_rollup_ladder(
    spark,
    rungs: dict[int, str],
    agg: str = "avg",
    interval_ms: int = 3_600_000,
    series_cols: list[str] | None = None,
    start_ms: int | None = None,
    clamp_to_retention: bool = False,
) -> DataFrame:
    """`read_rollup` through the ladder: pick the coarsest exact rung and
    re-bucket the (much smaller) residual at read time.  Retention params
    pass through — a FINE dir configured as a rung is guarded like any
    direct read (real rungs carry the full history, so the guard is a
    no-op on them)."""
    _, rung_dir = ladder_rung(rungs, interval_ms)
    return read_rollup(
        spark, rung_dir, agg=agg, series_cols=series_cols,
        interval_ms=interval_ms,
        start_ms=start_ms, clamp_to_retention=clamp_to_retention,
    )


def read_rollup(
    spark,
    rollup_dir: str,
    agg: str = "avg",
    series_cols: list[str] | None = None,
    interval_ms: int | None = None,
    start_ms: int | None = None,
    clamp_to_retention: bool = False,
) -> DataFrame:
    """Merged rollup: one row per (series, bucket) with the exact
    downsampled value, regardless of how micro-batches split buckets.

    ``interval_ms`` re-buckets to a COARSER grid (must be a multiple of the
    stored rollup interval): partials are algebraic, so a 1m rollup answers
    `1h-avg`/`1d-max`/... exactly — the query-time routing that lets every
    long-range downsample skip the raw point lake entirely.

    Over a PRUNED fine lake the read refuses unless ``start_ms`` is
    at/after the retention horizon or ``clamp_to_retention`` explicitly
    accepts the retained span (:func:`guard_sketch_retention`); the
    bound is applied to the STORED bucket grid before any re-bucket.
    """
    if agg not in _MERGE_EXPRS:
        raise ValueError(
            f"aggregator {agg!r} is not recoverable from rollup partials "
            f"(supported: {sorted(_MERGE_EXPRS)})"
        )
    series_cols = series_cols or ["ksid", "tsid"]
    df = _guarded_scan(
        spark, rollup_dir, "read_rollup", start_ms, clamp_to_retention,
        interval_ms,
    )
    return (
        df.groupBy(*series_cols, "bucket_ms")
        .agg(F.expr(_MERGE_EXPRS[agg]).alias("value"))
    )


def read_rollup_percentile(
    spark,
    rollup_dir: str,
    q: float,
    series_cols: list[str] | None = None,
    interval_ms: int | None = None,
    hist_bins: int = HIST_BINS,
    hist_lo: float = HIST_LO,
    hist_hi: float = HIST_HI,
    start_ms: int | None = None,
    clamp_to_retention: bool = False,
) -> DataFrame:
    """Approximate percentile from the merged histogram partials.

    Sums bin counts across partials (micro-batches, and coarser buckets via
    ``interval_ms``), then linearly interpolates the target rank inside its
    bin — error ≤ one bin width of the fixed grid.  This is the mergeable
    path `read_rollup` deliberately refuses for exact pNN: every step is a
    hash aggregation over (series, bucket, bin), nothing scans points.
    Pruned-lake reads follow :func:`guard_sketch_retention`.
    """
    series_cols = series_cols or ["ksid", "tsid"]
    df = _guarded_scan(
        spark, rollup_dir, "read_rollup_percentile", start_ms,
        clamp_to_retention, interval_ms,
    )
    if "p_hist" not in df.columns:
        raise ValueError("rollup was written without histogram partials")
    width = (hist_hi - hist_lo) / hist_bins
    bins = (
        df.select(*series_cols, "bucket_ms", F.explode("p_hist").alias("bin", "n"))
        .groupBy(*series_cols, "bucket_ms", "bin")
        .agg(F.sum("n").alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*series_cols, "bucket_ms").orderBy("bin")
    wt = Window.partitionBy(*series_cols, "bucket_ms")
    ranked = (
        bins.withColumn("cum", F.sum("n").over(w))
        .withColumn("total", F.sum("n").over(wt))
        .withColumn("target", F.lit(q) * F.col("total"))
    )
    # first bin whose cumulative count reaches the target rank; interpolate
    # the rank position inside it
    hit = ranked.filter(F.col("cum") >= F.col("target")).withColumn(
        "_rk", F.row_number().over(w.orderBy("bin"))
    ).filter(F.col("_rk") == 1)
    frac = (F.col("target") - (F.col("cum") - F.col("n"))) / F.col("n")
    value = F.lit(hist_lo) + (F.col("bin") + frac) * F.lit(width)
    return hit.select(*series_cols, "bucket_ms", value.alias("value"))


# --- KMV distinct-count partials ------------------------------------------
#
# Distinct counts are NOT recoverable from the sum/count/min/max partials
# (read_rollup refuses them), but a K-minimum-values sketch (Bar-Yossef et
# al. 2002 — the registry's agg_kmv_distinct, made a lake) is mergeable the
# same way the algebraic partials are: the k smallest distinct hashes of a
# coarse bucket are always among the k smallest of its fine buckets, so
# union + re-take-k cascades EXACTLY like sum-of-sums.  That makes
# count-distinct downsamples routable onto rollup rungs: a year-long
# `1d-count-distinct` reads #series × 365 sketch rows, never the points.

#: Sketch width: estimate stderr ≈ 1/√(k−2) ≈ 26% at 16; groups with fewer
#: than k distinct keys are EXACT.  Matches agg_kmv_distinct's judged k.
KMV_K = 16


def kmv_hash(col) -> "F.Column":
    """32-bit md5-prefix hash — agg_kmv_distinct's convention: deterministic
    in any engine (no seed, no platform hashing), uniform on [0, 2^32)."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 8), 16, 10
    ).cast("long")


def kmv_batch(
    valid: DataFrame,
    interval_ms: int,
    k: int = KMV_K,
    key_col: str = "value",
    series_cols: list[str] | None = None,
) -> DataFrame:
    """One micro-batch → per-(series, bucket) KMV states: ``p_kmv`` is the
    sorted array of the ≤ k smallest distinct hashes of ``key_col``.

    Scale shape mirrors the algebraic partials: one distinct over
    (series, bucket, hash) then a per-group bottom-k (window rank — the
    partition is a (series, bucket) group, never global), state ≤ k values
    per bucket.  Batches splitting a bucket are fine by mergeability."""
    series_cols = series_cols or ["ksid", "tsid", "metric"]
    keys = [*series_cols, "date", "bucket_ms"]
    ts_us = F.unix_micros(F.col("ts"))
    base = valid.withColumn("bucket_ms", bucket_ms_long(ts_us, interval_ms))
    h = base.select(*keys, kmv_hash(F.col(key_col)).alias("hv"))
    return _bottom_k(h, k, keys, "hv", "p_kmv")


def write_kmv_batch(
    valid: DataFrame,
    kmv_dir: str,
    interval_ms: int,
    k: int = KMV_K,
    key_col: str = "value",
    series_cols: list[str] | None = None,
) -> None:
    """Append a batch's KMV states to the sketch lake (same (ksid, date)
    partitioning as the point/rollup lakes → same pruning)."""
    (
        kmv_batch(valid, interval_ms, k, key_col, series_cols)
        .write.mode("append")
        .partitionBy("ksid", "date")
        .parquet(kmv_dir)
    )


def _bottom_k(
    rows: DataFrame, k: int, keys: list[str], item: str, out: str
) -> DataFrame:
    """THE bottom-k kernel of both sketch families (batch build, cascade
    merge and read merge): distinct (``keys``, ``item``) rows, keep the
    ≤ k smallest ``item`` per ``keys`` group (window rank — the
    partition is one group, never global), collect them sorted into
    ``out``."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(item)
    return (
        rows.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .groupBy(*keys)
        .agg(F.sort_array(F.collect_list(item)).alias(out))
    )


def _kmv_retake(
    df: DataFrame, k: int, group_cols: list[str]
) -> DataFrame:
    """Union + re-take-k: explode states, distinct hashes per group, keep
    the k smallest, re-collect the sorted array.  The one KMV merge rule,
    shared by cascade and read."""
    return _bottom_k(
        df.select(*group_cols, F.explode("p_kmv").alias("hv")),
        k, group_cols, "hv", "p_kmv",
    )


def _sketch_pinless(kind: str, remedy: str):
    """The sketch families' pin-less rule for :func:`_cascade`: sketch
    files are never manifest-tracked, so no settle-wait can prove a cut
    — refuse with the family's ``remedy``."""

    def refuse(_src_marker: dict, _head: int) -> None:
        raise ValueError(
            f"{kind}: source sketch lake carries no as_of_seq pin "
            f"— run {remedy} on the source (or cascade from a "
            "pinned rung) before cascading with currency tracking"
        )

    return refuse


def _backfill_sketch(
    spark,
    lake_dir: str,
    sketch_dir: str,
    interval_ms: int,
    k: int,
    series_cols: list[str] | None,
    batch_fn,
    kind: str,
) -> dict:
    """THE one copy of the sketch-backfill lifecycle: build from a
    log-PINNED point snapshot, guarded-swap publish, marker-pin
    ``as_of_seq`` — currency is then ``cascade_is_current``'s
    conservative predicate (see ``backfill_kmv``'s docstring for the
    full contract rationale)."""
    import uuid

    from mycenae_spark.streaming import snapshot as snap

    as_of = snap.write_checkpoint(lake_dir, mode="full")
    valid = snap.read_points_snapshot(spark, lake_dir, as_of=as_of)
    states = batch_fn(valid, interval_ms, k, series_cols)
    tmp = sketch_dir.rstrip("/") + f"_new_{uuid.uuid4().hex[:8]}"
    states.write.mode("overwrite").partitionBy("ksid", "date").parquet(tmp)
    n_states = spark.read.parquet(tmp).count()
    _swap_in(tmp, sketch_dir)
    mark_rollup_coverage(sketch_dir, True, as_of_seq=as_of, kind=kind)
    return {"as_of": as_of, "seq": as_of, "n_states": n_states}


def cascade_kmv(
    spark,
    src_dir: str,
    dst_dir: str,
    dst_interval_ms: int,
    k: int = KMV_K,
    series_cols: list[str] | None = None,
    lake_dir: str | None = None,
    carry_dir: str | None = None,
    carry_below_ms: int = 0,
) -> None:
    """Materialize a coarser KMV rung from a finer one (the sketch twin of
    ``cascade_rollup``): re-bucket, union + re-take-k.  Exact by KMV
    mergeability — cascading sketches equals sketching raw points at the
    coarse interval.  ``date`` stays in the group key like the algebraic
    cascade (a day-crossing coarse bucket keeps one state per date; the
    read path's re-merge makes that invisible).  Pin/swap lifecycle:
    :func:`_cascade`."""
    _cascade(
        spark, src_dir, dst_dir, dst_interval_ms, series_cols, lake_dir,
        lambda df, keys: _kmv_retake(df, k, keys), "kmv-cascade",
        "kmv-cascade", _sketch_pinless("kmv-cascade", "backfill_kmv"),
        carry_dir, carry_below_ms,
    )


def read_kmv_distinct(
    spark,
    kmv_dir: str,
    k: int = KMV_K,
    series_cols: list[str] | None = None,
    interval_ms: int | None = None,
    start_ms: int | None = None,
    clamp_to_retention: bool = False,
) -> DataFrame:
    """Merged distinct-count estimate per (series, bucket): union the
    states (micro-batch splits, dates, and coarser buckets via
    ``interval_ms``), re-take the bottom-k, estimate (k−1)/u_(k) with
    u_(k) the k-th smallest hash normalized to [0,1) — EXACT (the sketch
    holds every hash) when a bucket has fewer than k distinct keys.
    Returns (series, bucket_ms, n_kmv, value).  Pruned-lake reads
    follow :func:`guard_sketch_retention`."""
    series_cols = series_cols or ["ksid", "tsid"]
    df = _guarded_scan(
        spark, kmv_dir, "read_kmv_distinct", start_ms, clamp_to_retention,
        interval_ms,
    )
    r = _kmv_retake(df, k, [*series_cols, "bucket_ms"]).select(
        *series_cols, "bucket_ms",
        F.size("p_kmv").alias("n_kmv"),
        F.element_at("p_kmv", -1).alias("_uk"),
    )
    est = F.when(F.col("n_kmv") < k, F.col("n_kmv").cast("double")).otherwise(
        (F.col("n_kmv") - 1) / (F.col("_uk") / F.lit(4294967296.0))
    )
    return r.select(*series_cols, "bucket_ms", "n_kmv", est.alias("value"))


def _swap_in(tmp: str, dst: str) -> None:
    """Guarded generation swap — THE one copy of the publish protocol,
    used by every rung cascade (:func:`_cascade`, all three families)
    and the sketch backfills: rename ``tmp`` into ``dst``, replacing
    any existing generation via rename-away → rename-in.  On the
    recreate race (something recreates ``dst`` between the two renames)
    the old generation is RESTORED and the conflict surfaces — the
    compact_partition recovery contract.  Debris uses the
    ``<dst>_new_*`` / ``<dst>_old_*`` naming, so ``gc_ladder_temps``
    sweeps crashed builds of every family — pass sketch dirs in its
    ``rungs`` mapping alongside algebraic ones.

    A reader racing the swap can observe one transient missing-path
    window between the renames.  The Engine serves algebraic and
    qsample rungs on its hot path: a raced algebraic rung read re-picks
    the freshly swapped rung once, a raced qsample read degrades to the
    always-correct fine path (``server.Engine``); other readers retry
    and read the new generation."""
    import os
    import shutil
    import uuid

    if os.path.isdir(dst):
        old = dst.rstrip("/") + f"_old_{uuid.uuid4().hex[:8]}"
        os.rename(dst, old)
        try:
            os.rename(tmp, dst)
        except OSError:
            if not os.path.isdir(dst):
                os.rename(old, dst)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        # the old generation may hold prior generations' _retained grace
        # areas (sketch prunes, earlier rebuilds) — carry them, same as
        # backfill_rollup's swap (r19)
        _carry_retained(old, dst)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp, dst)


def backfill_kmv(
    spark,
    lake_dir: str,
    kmv_dir: str,
    interval_ms: int = FINE_ROLLUP_MS,
    k: int = KMV_K,
    key_col: str = "value",
    series_cols: list[str] | None = None,
) -> dict:
    """Build (or rebuild) the KMV sketch lake from a PINNED point
    snapshot.  Unlike the algebraic rollup — which the ingest transaction
    maintains batch-by-batch — sketches cannot be derived from the rollup
    partials (they need raw values), so the KMV lake is a MAINTENANCE
    materialization like ladder rungs: built from a log-pinned cut,
    published by the guarded generation swap (``_swap_in`` — atomic
    rename for a first build, rename-away → rename-in with
    restore-on-race for a rebuild; no concurrent writer to salvage
    against), marker-pinned at ``as_of_seq``.  Currency is then
    ``cascade_is_current(lake_dir, kmv_dir)`` — the ladder's predicate is
    exactly right here too: points-append / partition-drop / unknown
    kinds conservatively stale the sketch (new or deleted values change
    distinct counts), while checkpoints, catalog maintenance, and
    compaction (which preserves point VALUES) are neutral.  A stale
    sketch lake falls back to direct sketching from points — always
    correct, just unrouted — until the next backfill re-pins.

    Returns {"as_of", "seq", "n_states"}.
    """
    return _backfill_sketch(
        spark, lake_dir, kmv_dir, interval_ms, k, series_cols,
        lambda v, iv, kk, sc: kmv_batch(v, iv, kk, key_col, sc),
        "kmv",
    )


def read_kmv_ladder(
    spark,
    rungs: dict[int, str],
    interval_ms: int,
    k: int = KMV_K,
    series_cols: list[str] | None = None,
    start_ms: int | None = None,
    clamp_to_retention: bool = False,
) -> DataFrame:
    """`read_kmv_distinct` through the ladder: pick the coarsest exact rung
    (same routing rule as the algebraic ladder) and re-merge the residual
    at read time — a count-distinct downsample never rescans points.
    Retention params pass through, guarding a fine dir configured as a
    rung (no-op on real rungs — they carry the full history)."""
    _, rung_dir = ladder_rung(rungs, interval_ms)
    return read_kmv_distinct(
        spark, rung_dir, k=k, series_cols=series_cols,
        interval_ms=interval_ms,
        start_ms=start_ms, clamp_to_retention=clamp_to_retention,
    )


# --------------------------------------------------- bottom-k value samples
#
# Mergeable QUANTILE state for the ladder (r8 VERDICT item 7): the rollup
# lake's percentiles ride fixed histogram bins (bounded error, tested);
# this is the principled mergeable companion at coarse rungs — a BOTTOM-K
# SAMPLE BY HASH (Cohen & Kaplan, "Summarizing data using bottom-k
# sketches", PODC'07): keep the (hash, value) pairs whose deterministic
# per-POINT hash is among the k smallest.  That is a uniform
# without-replacement sample of the bucket's points whose merge rule —
# union + re-take-k — is EXACTLY associative (the k smallest hashes of a
# coarse bucket are always among the k smallest of its fine buckets), so
# cascade == direct holds bit-for-bit, the property KLL/t-digest merges
# only approximate.  Quantiles come from the sampled values' empirical
# inverted CDF: EXACT when the bucket holds ≤ k points (the sample is the
# bucket), O(1/√k) quantile error beyond.  Identical md5 derivation on
# both engines → hash-checkable, the KMV convention.

QSAMPLE_K = 64


def qsample_hash(tsid_col, ts_col) -> "F.Column":
    """48-bit md5-prefix hash of the POINT IDENTITY (tsid, ts) — not the
    value: sampling must pick points uniformly, and identity hashing makes
    replayed batches merge to the same state (union dedupes).  48 bits
    keep the conv() result positive in a signed long."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", tsid_col, F.unix_micros(ts_col).cast("string"))),
            1, 12,
        ),
        16, 10,
    ).cast("long")


def qsample_batch(
    valid: DataFrame,
    interval_ms: int,
    k: int = QSAMPLE_K,
    series_cols: list[str] | None = None,
) -> DataFrame:
    """One micro-batch → per-(series, bucket) bottom-k value samples:
    ``p_qs`` is the array of (hv, v) structs for the ≤ k smallest point
    hashes, sorted by hash.  Same shape as ``kmv_batch``: per-group
    window rank, state ≤ k entries per bucket, batch splits healed by
    mergeability."""
    series_cols = series_cols or ["ksid", "tsid", "metric"]
    keys = [*series_cols, "date", "bucket_ms"]
    ts_us = F.unix_micros(F.col("ts"))
    base = valid.withColumn("bucket_ms", bucket_ms_long(ts_us, interval_ms))
    h = base.select(
        *keys,
        F.struct(
            qsample_hash(F.col("tsid"), F.col("ts")).alias("hv"),
            F.col("value").alias("v"),
        ).alias("_s"),
    )
    # rank by the FULL struct (hv, v), not hv alone: a 48-bit hash
    # collision (or a re-ingested identity with a corrected value) ties
    # on hv, and an hv-only order would make the k-boundary survivor
    # arbitrary — breaking the bit-for-bit cascade==direct contract
    # (review finding r9); struct order is total and deterministic
    return _bottom_k(h, k, keys, "_s", "p_qs")


def write_qsample_batch(
    valid: DataFrame,
    qs_dir: str,
    interval_ms: int,
    k: int = QSAMPLE_K,
    series_cols: list[str] | None = None,
) -> None:
    """Append a batch's sample states to the sketch lake (same (ksid,
    date) partitioning as the point/rollup/KMV lakes → same pruning)."""
    (
        qsample_batch(valid, interval_ms, k, series_cols)
        .write.mode("append")
        .partitionBy("ksid", "date")
        .parquet(qs_dir)
    )


def _qsample_retake(df: DataFrame, k: int, group_cols: list[str]) -> DataFrame:
    """Union + re-take-k on the point-identity hash — the one merge rule,
    shared by cascade and read (the `_kmv_retake` twin over (hv, v)
    structs; sort_array orders by hv, the struct's first field).  The
    full-struct order keeps the k-boundary deterministic under hv ties
    (see qsample_batch)."""
    return _bottom_k(
        df.select(*group_cols, F.explode("p_qs").alias("_s")),
        k, group_cols, "_s", "p_qs",
    )


def cascade_qsample(
    spark,
    src_dir: str,
    dst_dir: str,
    dst_interval_ms: int,
    k: int = QSAMPLE_K,
    series_cols: list[str] | None = None,
    lake_dir: str | None = None,
    carry_dir: str | None = None,
    carry_below_ms: int = 0,
) -> None:
    """Materialize a coarser sample rung from a finer one — the sample
    twin of ``cascade_kmv``, sharing the ONE pin/currency/guarded-swap
    lifecycle (:func:`_cascade`): re-bucket, union + re-take-k; exact
    by bottom-k mergeability."""
    _cascade(
        spark, src_dir, dst_dir, dst_interval_ms, series_cols, lake_dir,
        lambda df, keys: _qsample_retake(df, k, keys), "qsample-cascade",
        "qsample-cascade",
        _sketch_pinless("qsample-cascade", "backfill_qsample"),
        carry_dir, carry_below_ms,
    )


def backfill_qsample(
    spark,
    lake_dir: str,
    qs_dir: str,
    interval_ms: int = FINE_ROLLUP_MS,
    k: int = QSAMPLE_K,
    series_cols: list[str] | None = None,
) -> dict:
    """Build (or rebuild) the sample lake from a PINNED point snapshot —
    the ``backfill_kmv`` contract via the ONE shared lifecycle
    (``_backfill_sketch``): log-pinned cut, guarded swap, marker-pinned
    ``as_of_seq``, currency via ``cascade_is_current``."""
    return _backfill_sketch(
        spark, lake_dir, qs_dir, interval_ms, k, series_cols,
        qsample_batch, "qsample",
    )


def _read_qsample(
    spark, qs_dir: str, what: str, k: int, series_cols, interval_ms,
    start_ms, clamp: bool, value,
) -> DataFrame:
    """The shared prefix of the qsample readers: guarded scan, union +
    re-take-k per (series, bucket), then ``value(vs, n)`` over the
    sorted sampled values ``vs`` and the sample size ``n``.  Returns
    (series, bucket_ms, n_sample, value)."""
    series_cols = series_cols or ["ksid", "tsid"]
    df = _guarded_scan(spark, qs_dir, what, start_ms, clamp, interval_ms)
    merged = _qsample_retake(df, k, [*series_cols, "bucket_ms"])
    vs = F.array_sort(F.transform("p_qs", lambda s: s["v"]))
    n = F.size("p_qs")
    return merged.select(
        *series_cols, "bucket_ms",
        n.alias("n_sample"),
        value(vs, n).alias("value"),
    )


def read_qsample_quantile(
    spark,
    qs_dir: str,
    q: float,
    k: int = QSAMPLE_K,
    series_cols: list[str] | None = None,
    interval_ms: int | None = None,
    start_ms: int | None = None,
    clamp_to_retention: bool = False,
) -> DataFrame:
    """Merged quantile estimate per (series, bucket): union the states
    (micro-batch splits, dates, coarser buckets via ``interval_ms``),
    re-take the bottom-k, then the empirical inverted CDF of the sampled
    VALUES — ``v_(⌈q·n⌉)`` over the sorted sample, the same percentile
    convention as the exact operator, so ≤ k-point buckets are EXACT.
    Returns (series, bucket_ms, n_sample, value).  Pruned-lake reads
    follow :func:`guard_sketch_retention`."""

    def value(vs, n):
        idx = F.greatest(F.lit(1), F.ceil(F.lit(q) * n).cast("int"))
        return F.element_at(vs, idx)

    return _read_qsample(
        spark, qs_dir, "read_qsample_quantile", k, series_cols,
        interval_ms, start_ms, clamp_to_retention, value,
    )


def read_qsample_percentile(
    spark,
    qs_dir: str,
    q: float,
    k: int = QSAMPLE_K,
    series_cols: list[str] | None = None,
    interval_ms: int | None = None,
    start_ms: int | None = None,
    clamp_to_retention: bool = False,
) -> DataFrame:
    """INTERPOLATED percentile from merged sample states — the pNN
    downsample SERVING twin of ``read_qsample_quantile`` (which uses the
    inverted-CDF convention): replicates Spark's exact ``percentile``
    arithmetic (rank h = q·(n−1); v = v_(⌊h⌋+1)·(⌈h⌉−h) +
    v_(⌈h⌉+1)·(h−⌊h⌋) over the 1-based sorted sample) so a bucket whose
    point count is ≤ k — where the sample IS the bucket — reproduces the
    exact fine-path pNN downsample bit-for-bit (same doubles, same
    formula).  Beyond k points the sample percentile has the standard
    O(1/√k) bottom-k-sampling error band.  Returns (series, bucket_ms,
    n_sample, value) — the Engine joins series tags from the catalog and
    lowers this onto the planner as a points-shaped frame
    (``server.Engine._qsample_points``).  Pruned-lake reads follow
    :func:`guard_sketch_retention` — the Engine only ever points this
    verb at qsample RUNGS (full history, no retention marker, guard a
    no-op); a pruned fine dir configured AS a rung refuses here and the
    Engine degrades to the always-correct raw-point path."""

    def value(vs, n):
        h = (n - F.lit(1)).cast("double") * F.lit(q)
        lo = F.floor(h).cast("int")
        hi = F.ceil(h).cast("int")
        return F.when(lo == hi, F.element_at(vs, lo + 1)).otherwise(
            F.element_at(vs, lo + 1) * (hi.cast("double") - h)
            + F.element_at(vs, hi + 1) * (h - lo.cast("double"))
        )

    return _read_qsample(
        spark, qs_dir, "read_qsample_percentile", k, series_cols,
        interval_ms, start_ms, clamp_to_retention, value,
    )


def read_rollup_series(
    spark,
    rollup_dir: str,
    df: DataFrame | None = None,
    start_ms: int | None = None,
    clamp_to_retention: bool = False,
) -> DataFrame:
    """Rollup partials in the planner's column convention: ``metric``,
    ``tag_<k>`` columns (expanded from the carried tags map), ``bucket_ms``,
    ``p_sum/p_count/p_min/p_max``.  This is the frame
    ``plans.tsdb.plan(..., rollup=...)`` routes downsample queries onto.

    ``df`` overrides the directory read with a caller-provided partials
    frame (the engine passes a log-gated snapshot when one exists).

    The tag-key discovery is one distinct over map keys of the (tiny,
    #series-bounded buckets) rollup — same driver-side shaping the HTTP
    engine does for the point lake.

    Pruned-lake reads follow :func:`guard_sketch_retention` — the guard
    consults ``rollup_dir``'s marker even when ``df`` overrides the
    directory read (the snapshot is of the same pruned lake).  The
    Engine passes ``clamp_to_retention=True``: it memoizes this frame
    once and refuses pre-horizon queries per request with its own
    ``_guard_fine_retention``.
    """
    bound = guard_sketch_retention(
        rollup_dir, start_ms, clamp_to_retention, "read_rollup_series"
    )
    if df is None:
        df = spark.read.parquet(rollup_dir)
    df = _apply_retention_bound(df, bound)
    keys = [
        r[0]
        for r in df.select(F.explode(F.map_keys("tags")).alias("k"))
        .distinct()
        .collect()
        if r[0] not in ("ksid", "ttl")
    ]
    return df.select(
        "metric",
        "bucket_ms",
        "p_sum",
        "p_count",
        "p_min",
        "p_max",
        *[F.col("tags").getItem(k).alias(f"tag_{k}") for k in sorted(keys)],
    )
