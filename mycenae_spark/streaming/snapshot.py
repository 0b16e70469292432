"""Log-gated snapshot reads — manifests as the only source of visible files.

The two-phase batch commit (streaming/ingest.py) and the monotonic commit
log (streaming/commitlog.py) made WRITES atomic and totally ordered, but
readers still listed parquet directories, so:

* a read could see a torn foreign write (files copied into the lake outside
  the commit protocol — exactly the class of drift that bricked rounds 4-5),
* a read-modify-write transaction could not get a stable view of the lake
  while appends land (the documented gap in commitlog.py),
* there was no time travel: "the lake as of commit N" was unanswerable.

This module closes the gap the way Delta/Iceberg do — a reader resolves the
commit log, not the directory tree:

    visible(as_of) = checkpoint(seq ≤ as_of) ⊕ entries(cp.seq < seq ≤ as_of)

where ``⊕`` applies each entry's file-set delta:

* ``points-append`` — union the batch manifest's per-section file lists
  (``<lake>/_commits/<batch_id>``, written at the batch's commit point),
* ``catalog-rewrite`` / ``catalog-dedupe`` — REPLACE the catalog section
  with the rewrite's recorded survivor files (appends salvaged across the
  swap re-add their files via their own later entries),
* ``compaction`` — replace one ``ksid=…/date=…`` partition's files with the
  compacted set,
* ``checkpoint`` — no delta (the entry only serializes the bootstrap).

Checkpoints (``<lake>/_commitlog/_checkpoints/<seq>.json``) bound the replay
and solve genesis: a lake may predate the log (or the log may be truncated),
so the first checkpoint BOOTSTRAPS by listing the directories under a
commit-log CAS — the listing is registered at an exact log position, and any
concurrent commit forces a retry, so the checkpoint is a consistent cut.
After bootstrap, incremental checkpoints can be derived purely from the log.

Scale notes (100 TB): resolution is manifest metadata only — no data IO, no
Spark jobs; the returned file list feeds ``spark.read.option("basePath",
root).parquet(*files)``, which preserves partition-column derivation and
per-file row-group pruning exactly as a directory read would.  Checkpoint
cadence bounds resolution cost the same way Delta's 10-commit checkpoints
do.

Destructive rewrites (catalog rewrite/dedupe, compaction, TTL partition
drops, rollup backfill — all of which log their survivor sets, including
``rollup-backfill`` with its salvage replay rule below) RETAIN the
superseded generation under ``<section_root>/_retained/<seq>/`` instead of
deleting it (maintenance.py, r7): ``_read_section`` falls back there for
files no longer live, so time travel to a position older than a rewrite
keeps working until ``maintenance.gc_retained`` sweeps the grace window —
the VACUUM model.  After the sweep, such reads fail loudly with the
missing-file SnapshotError (never a silent hole).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from mycenae_spark.streaming import commitlog


class SnapshotError(Exception):
    """The log/checkpoint state cannot produce a consistent snapshot."""


class NoBaseline(SnapshotError):
    """No usable checkpoint baseline (never bootstrapped, section untracked,
    or manifests GC'd past the governing checkpoint) — re-baseline with
    ``write_checkpoint``.  The SAFE degraded mode is a directory read: the
    lake's pre-log-gating visibility semantics."""


class TransientInFlight(SnapshotError):
    """A committed batch's files are still mid-move (marker → log append →
    file moves).  Retry shortly — this window closes by itself; falling
    back to a directory read here would serve exactly the torn state
    log-gating exists to hide."""


class LogGap(SnapshotError):
    """The commit log was truncated past the newest checkpoint: file deltas
    are unrecoverable.  NOT safe to silently degrade — surface it and
    re-baseline deliberately."""


def _cp_dir(lake_dir: str) -> str:
    return os.path.join(lake_dir, "_commitlog", "_checkpoints")


SECTIONS = ("points", "rollup", "catalog")


def _list_data_files(root: str | None) -> list[str]:
    """Rel paths of data files under ``root`` (skips _staging/_commits/etc.,
    hidden files, and underscore-prefixed dirs — Spark's own convention)."""
    if root is None or not os.path.isdir(root):
        return []
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            out.append(os.path.relpath(os.path.join(dirpath, f), root))
    return sorted(out)


def _appends_settled(
    lake_dir: str, roots: dict, since: int, head: int
) -> bool:
    """True iff every points-append manifest in ``(since, head]`` has all
    of its files on disk (live or retained).

    The batch commit orders marker → log append → file moves, so an entry
    at seq ≤ head can still have files mid-move while the checkpoint lists
    directories — the CAS only detects appends landing AFTER the head
    read, so without this guard the listing could permanently omit a
    committed file (torn bootstrap).  Checked BEFORE listing: if all
    commits ≤ head are settled when the walk starts, the walk sees every
    committed file, and anything newer conflicts the CAS.
    """
    for seq, payload in commitlog.entries(lake_dir, since=since):
        if seq > head:
            break
        if payload.get("kind") != "points-append":
            continue
        try:
            manifest = _batch_manifest(lake_dir, payload["batch_id"])
        except NoBaseline:
            continue  # marker GC'd: its moves finished long ago
        man_roots = manifest.get("roots", {})
        for section in SECTIONS:
            root = roots.get(section)
            if root is None:
                continue
            # a batch whose manifest roots this section at a DIFFERENT
            # directory (a foreign writer maintaining its own fine lake
            # — r19) will never settle files HERE; waiting for them
            # would deadlock the settle guard.  Coverage honesty for
            # that case is the bridge's foreign-writer detection, not
            # this torn-move check.
            # Only an ABSOLUTE recorded root can prove foreignness: a
            # legacy relative root resolves against the READER's cwd,
            # and a false mismatch here would skip the torn-move wait
            # for a LOCAL batch (r19 review pass 5).  New manifests
            # record absolute roots; relative = "can't prove" = wait.
            man_root = man_roots.get(section)
            if commitlog.proves_different_root(man_root, root):
                continue
            for rel in manifest.get(section, ()):
                if not os.path.exists(os.path.join(root, rel)) and (
                    _find_retained(root, rel) is None
                ):
                    return False
    return True


def write_checkpoint(
    lake_dir: str,
    catalog_dir: str | None = None,
    rollup_dir: str | None = None,
    retries: int = 5,
    mode: str = "auto",
) -> int:
    """Write a visible-file checkpoint; returns its sequence number.

    ``mode``:

    * ``"full"`` — LIST the roots.  Required at genesis and whenever the
      directory tree is the authority (legacy files written before the
      lake was log-tracked; ``backfill_rollup`` uses this to honor the
      coverage semantics of a directory scan).  Waits for every committed
      append ≤ head to finish its file moves first (``_appends_settled``
      — a commit is log-visible before its files land, so an unguarded
      listing could permanently omit committed files), then registers the
      listing at an exact log position with a CAS append — any commit
      landing between the head read and the append forces a retry, so the
      checkpoint is a consistent cut even though listing is not atomic.
    * ``"incremental"`` — derive the state from ``resolve()`` (previous
      checkpoint ⊕ manifest replay): no directory walk at all, so no
      torn-listing window to guard and no O(#files) stat cost — at 100 TB
      file counts this is the only checkpoint cadence that stays cheap.
      Requires a baseline; keeps foreign files exactly as invisible as
      the log says (a full re-listing would launder them into
      visibility).
    * ``"auto"`` (default) — incremental when a baseline exists and the
      requested roots match the tracked ones, else full.

    Roots omitted here are inherited from the previous checkpoint, so a
    caller that only knows one section cannot silently drop another
    section's tracking.
    """
    import time as _time

    prev = latest_checkpoint(lake_dir)
    if prev is not None:
        prev_roots = prev.get("roots", {})
        catalog_dir = catalog_dir or prev_roots.get("catalog")
        rollup_dir = rollup_dir or prev_roots.get("rollup")
    roots = {"points": lake_dir, "rollup": rollup_dir, "catalog": catalog_dir}
    if mode not in ("auto", "full", "incremental"):
        raise ValueError(f"unknown checkpoint mode {mode!r}")
    incremental = mode == "incremental" or (
        mode == "auto"
        and prev is not None
        and prev.get("roots", {}) == roots
    )
    if incremental and prev is None:
        raise NoBaseline(
            "incremental checkpoint needs a previous checkpoint baseline"
        )
    since = prev["seq"] if prev is not None else 0
    unsettled = False
    for _ in range(retries):
        if incremental:
            try:
                snapres = resolve(lake_dir)
            except (LogGap, NoBaseline):
                # re-baseline semantics: a truncated log or GC'd manifest
                # is exactly what a FULL checkpoint repairs — auto mode
                # degrades to the listing; explicit incremental propagates
                if mode == "incremental":
                    raise
                incremental = False
        if incremental:
            head = snapres["seq"]
            state = {s: snapres[s] for s in SECTIONS}
            state["roots"] = roots
        else:
            head = commitlog.latest_seq(lake_dir)
            unsettled = not _appends_settled(lake_dir, roots, since, head)
            if unsettled:
                _time.sleep(0.05)  # in-flight batch: moves finish shortly
                continue
            state = {
                "points": _list_data_files(lake_dir),
                "rollup": _list_data_files(rollup_dir),
                "catalog": _list_data_files(catalog_dir),
                "roots": roots,
            }
        try:
            seq = commitlog.append(
                lake_dir, {"kind": "checkpoint"}, expected_head=head
            )
        except commitlog.CommitConflict:
            continue
        state["seq"] = seq
        commitlog.write_json_atomic(
            os.path.join(_cp_dir(lake_dir), f"{seq:020d}.json"), state
        )
        return seq
    if unsettled:
        raise TransientInFlight(
            "a committed batch's file moves never settled (crashed "
            "writer?) — replay the batch or GC its marker, then retry"
        )
    raise SnapshotError("checkpoint lost the commit-log race repeatedly")


def latest_checkpoint(lake_dir: str, as_of: int | None = None) -> dict | None:
    """Newest checkpoint with seq ≤ as_of (or the newest overall)."""
    d = _cp_dir(lake_dir)
    try:
        names = sorted(
            (n for n in os.listdir(d) if n.endswith(".json")), reverse=True
        )
    except FileNotFoundError:
        return None
    for name in names:
        seq = int(name[: -len(".json")])
        if as_of is None or seq <= as_of:
            with open(os.path.join(d, name)) as f:
                return json.load(f)
    return None


def _batch_manifest(lake_dir: str, batch_id: str) -> dict:
    marker = os.path.join(lake_dir, "_commits", str(batch_id))
    try:
        with open(marker) as f:
            return json.load(f)
    except FileNotFoundError:
        raise NoBaseline(
            f"commit marker for batch {batch_id!r} is gone (GC'd); the "
            "checkpoint predates it — run write_checkpoint to re-baseline"
        ) from None


#: resolve() memo keyed by (lake_dir, as_of, observed head seq): a façade
#: serving many queries between commits pays ONE listdir (the head check)
#: instead of re-reading the checkpoint and every manifest per query.  At
#: 10k log entries that is the difference between O(1) and O(10k) file
#: reads on the query hot path.  Entries are tiny (file-name lists);
#: bounded FIFO.
_RESOLVE_MEMO: dict = {}
_RESOLVE_MEMO_MAX = 64


def resolve(lake_dir: str, as_of: int | None = None) -> dict:
    """Visible file sets per section as of a log position (default: head).

    Pure metadata: reads the checkpoint plus the (bounded) log suffix.
    Returns ``{"seq", "roots", "points", "rollup", "catalog"}`` with
    sorted rel-path lists.  Memoized per observed log head — correct
    because the log is append-only and entries are immutable once
    written (a GC'd manifest would only affect a STALE key).
    """
    head = commitlog.latest_seq(lake_dir)
    key = (lake_dir, as_of, head)
    hit = _RESOLVE_MEMO.get(key)
    if hit is not None:
        return hit
    cp = latest_checkpoint(lake_dir, as_of)
    if cp is None:
        raise NoBaseline(
            "no checkpoint at or before the requested position — run "
            "write_checkpoint(lake_dir, ...) once to bootstrap log-gated reads"
        )
    files = {s: set(cp[s]) for s in SECTIONS}
    pos = cp["seq"]
    for seq, payload in commitlog.entries(lake_dir, since=cp["seq"]):
        if as_of is not None and seq > as_of:
            break
        if seq != pos + 1:
            # commitlog.truncate dropped entries newer than the governing
            # checkpoint: their file deltas are unrecoverable, so failing
            # loudly beats silently serving a hole in the lake.
            raise LogGap(
                f"commit log gap after {pos} (next surviving entry {seq}); "
                "the log was truncated past the newest checkpoint — run "
                "write_checkpoint to re-baseline, and keep the truncate "
                "horizon longer than the checkpoint cadence"
            )
        pos = seq
        kind = payload.get("kind")
        if kind == "points-append":
            manifest = _batch_manifest(lake_dir, payload["batch_id"])
            for s in SECTIONS:
                files[s].update(manifest.get(s, ()))
        elif kind in ("catalog-rewrite", "catalog-dedupe"):
            if "files" not in payload:
                raise NoBaseline(
                    f"log entry {seq} ({kind}) predates survivor-file "
                    "recording — run write_checkpoint to re-baseline"
                )
            files["catalog"] = set(payload["files"])
        elif kind == "compaction":
            prefix = payload["partition"].rstrip("/") + "/"
            files["points"] = {
                p for p in files["points"] if not p.startswith(prefix)
            }
            files["points"].update(payload["files"])
        elif kind == "partition-drop":
            # keyspace TTL / drop: the partitions' files left the visible
            # set at this position (rollup partials share the same
            # ksid=/date= layout, so the prefix applies to both sections)
            prefixes = [p.rstrip("/") + "/" for p in payload["partitions"]]
            for section in ("points", "rollup"):
                files[section] = {
                    p for p in files[section]
                    if not any(p.startswith(px) for px in prefixes)
                }
        elif kind == "sketch-prune":
            # fine-sketch retention (prune_sketch_lake): ONLY the rollup
            # section loses the partitions — the points under the same
            # ksid=/date= prefixes are still live (that asymmetry is why
            # this is not a partition-drop entry).  KMV/qsample prunes
            # carry sketch != "rollup" and gate nothing here (those lakes
            # are not snapshot sections).
            if payload.get("sketch") == "rollup":
                prefixes = [
                    p.rstrip("/") + "/" for p in payload["partitions"]
                ]
                files["rollup"] = {
                    p for p in files["rollup"]
                    if not any(p.startswith(px) for px in prefixes)
                }
        elif kind == "rollup-backfill":
            # The backfill recomputed partials from a snapshot pinned at
            # payload["as_of"]; batches committing in (as_of, here) kept
            # their partial files via swap salvage (partials are mergeable,
            # so retaining them is exact) — re-add them from their
            # manifests on top of the recomputed set.
            base = set(payload["files"])
            for s2, p2 in commitlog.entries(lake_dir, since=payload["as_of"]):
                if s2 >= seq:
                    break
                if p2.get("kind") == "points-append":
                    m = _batch_manifest(lake_dir, p2["batch_id"])
                    base.update(m.get("rollup", ()))
            files["rollup"] = base
        # "checkpoint" and unknown informational kinds carry no file delta
    out = {"seq": pos, "roots": cp.get("roots", {})}
    for s in SECTIONS:
        out[s] = sorted(files[s])
    if len(_RESOLVE_MEMO) >= _RESOLVE_MEMO_MAX:
        _RESOLVE_MEMO.pop(next(iter(_RESOLVE_MEMO)))
    _RESOLVE_MEMO[key] = out
    return out


def _find_retained(root: str, rel: str) -> str | None:
    """Locate ``rel`` in the section's retention area (``_retained/<seq>/``,
    maintenance.py): destructive rewrites move the superseded generation
    there instead of deleting it, so reads pinned before the rewrite keep
    resolving until ``gc_retained`` reclaims the grace window."""
    import glob as _glob

    hits = _glob.glob(
        os.path.join(_glob.escape(root), "_retained", "*", _glob.escape(rel))
    )
    return sorted(hits)[0] if hits else None


def _read_section(
    spark: SparkSession, root: str, rel_files: list[str], schema_hint: str | None
) -> DataFrame:
    if not rel_files:
        if schema_hint is None:
            raise NoBaseline(f"empty snapshot section under {root}")
        return spark.createDataFrame([], schema_hint)
    live, retained, missing = [], {}, []
    for rel in rel_files:
        p = os.path.join(root, rel)
        if os.path.exists(p):
            live.append(p)
            continue
        hit = _find_retained(root, rel)
        if hit is not None:
            # group by generation dir: it becomes that frame's basePath so
            # ksid=…/date=… partition-column derivation still works
            gen = hit[: -(len(rel) + 1)]
            retained.setdefault(gen, []).append(hit)
        else:
            missing.append(p)
    # The batch commit orders marker → log append → file moves, so a commit
    # is briefly log-visible before its files finish moving.  Surface that
    # transient as a retryable error instead of a confusing Spark failure
    # (silently skipping missing files would break snapshot consistency).
    if missing:
        raise TransientInFlight(
            f"{len(missing)} committed file(s) not yet moved into place "
            f"(in-flight batch) — retry; first: {missing[0]}"
        )
    # basePath keeps ksid=…/date=… partition-column derivation identical to
    # a directory read, so downstream partition pruning still works.
    frames = []
    if live:
        frames.append(spark.read.option("basePath", root).parquet(*live))
    for gen, paths in sorted(retained.items()):
        frames.append(spark.read.option("basePath", gen).parquet(*paths))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def read_points_snapshot(
    spark: SparkSession, lake_dir: str, as_of: int | None = None
) -> DataFrame:
    """The point lake at a log position: committed files only, no torn or
    foreign writes, stable under concurrent appends."""
    snap = resolve(lake_dir, as_of)
    return _read_section(spark, lake_dir, snap["points"], None)


def read_catalog_snapshot(
    spark: SparkSession,
    lake_dir: str,
    catalog_dir: str,
    as_of: int | None = None,
) -> DataFrame:
    snap = resolve(lake_dir, as_of)
    if snap["roots"].get("catalog") is None:
        raise NoBaseline(
            "the governing checkpoint did not track the catalog section — "
            "run write_checkpoint(lake_dir, catalog_dir=...) to re-baseline"
        )
    return _read_section(spark, catalog_dir, snap["catalog"], None)


def read_rollup_snapshot(
    spark: SparkSession,
    lake_dir: str,
    rollup_dir: str,
    as_of: int | None = None,
) -> DataFrame:
    """Rollup partials at a log position (ingest-written partials and
    backfill generations; see ``resolve`` for the backfill delta rule)."""
    snap = resolve(lake_dir, as_of)
    if snap["roots"].get("rollup") is None:
        raise NoBaseline(
            "the governing checkpoint did not track the rollup section — "
            "run write_checkpoint(lake_dir, rollup_dir=...) to re-baseline"
        )
    return _read_section(spark, rollup_dir, snap["rollup"], None)
