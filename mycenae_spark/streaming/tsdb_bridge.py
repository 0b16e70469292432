"""TSDB point-ingest bridge: land points AND keep the serving ladders
current, per micro-batch.

The r16 bridge pattern (streaming/assimilate.py: per-micro-batch
maintain-the-artifact) applied to the time-series write path (r16
VERDICT "what's missing" #2): before this, the rollup ladder, KMV lake,
and quantile-sample lake were maintained by EXPLICIT backfill/cascade
calls — rung routing was fresh by operator discipline.  This bridge
makes it fresh BY CONSTRUCTION: one Structured Streaming job whose
``foreachBatch`` sink

1. lands the batch's points + fine (1m) rollup partials + fine KMV and
   bottom-k value-sample states ATOMICALLY — all five sections stage
   and commit under write_points_batch's ONE two-phase manifest, so a
   crash can never separate points from their partials;
2. re-pins the fine sketch lakes' coverage markers at the commit-log
   head (the bridge is the lake's single writer, so after the batch's
   moves settle the sketch content IS the lake content at that head —
   the pin the sketch-cascade lifecycle requires);
3. advances every configured ladder on the cascade cadence: one
   ``refresh_ladder`` pass per family (algebraic 1m → 1h → 1d, KMV,
   qsample), each with the family's cascade verb — it rebuilds only
   rungs the commit log proves stale, cascading fine-to-coarse from the
   freshest divisible rung.

After every drained batch (and once more at stream end, so a
``cascade_every > 1`` cadence still finishes current), an Engine
configured with these rung maps routes downsamples onto the rungs —
``last_routes()`` shows ``ladder:<iv>`` / ``qsample:<iv>`` — with no
manual backfill ever run.

Restart discipline is inherited, not reinvented: the source checkpoint
resumes the backlog; a replayed batch hits write_points_batch's
committed manifest and idempotently re-applies only unfinished moves —
and a batch-id COLLISION with different content (a lost-checkpoint
re-run whose slicing changed) refuses loudly via the per-batch content
fingerprint instead of silently swallowing the new rows;
ladder refreshes are pure functions of the committed lake (guarded-swap
publishes, commit-log currency), so re-running them is a no-op when
current and a correct rebuild when not.

Scale posture: per-batch work is ∝ |batch| for points and partials
(the same map-side aggregation shapes as the hand-run verbs); ladder
refresh reads the FINE rollup/sketch lakes (not raw points), which are
#series × #buckets-sized — the cascade cadence dial trades refresh
cost against rung staleness exactly like the hand-run refresh did, but
the dial now lives in the ingest job where it cannot be forgotten.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)


def foreign_sketchless_appends(
    lake_dir: str,
    since_by_family: dict[str, int],
    roots_by_family: dict[str, str] | None = None,
) -> dict[str, list[int]]:
    """Foreign-writer detection (r18 VERDICT "what's missing" #3): for
    each sketch family, the seqs of ``points-append`` commits AFTER the
    family's heal horizon that landed points WITHOUT the family's 2PC
    section — or with the section aimed at a DIFFERENT directory (r19
    review: a writer maintaining its own rollup dir is just as foreign
    to THIS bridge's fine lake as one maintaining none).  Those points
    are not represented in the family's fine lake; re-pinning its
    marker at the head past such a commit would claim coverage the
    lake doesn't have, so the bridge demotes instead.

    ``since_by_family`` maps family → the seq at/below which the family
    is provably healed: the fine marker's ``as_of_seq`` pin for the
    sketch families (their backfills re-pin), the bridge's persisted
    check cursor for the algebraic rollup family.  The scan reads only
    the log TAIL past the smallest horizon — the ``cascade_is_current``
    discipline, never O(whole log) per batch.  A ``rollup-backfill``
    entry in the tail absolves earlier rollup offenders (the backfill
    rebuilt from the full point snapshot).  Entries predating the
    ``sections``/``roots`` fields read as offenders — "can't prove" is
    the conservative verdict (the bridge's cursor bootstrap keeps that
    from sweeping pre-upgrade history; see ``run_tsdb_bridge``)."""
    from mycenae_spark.streaming import commitlog

    out: dict[str, list[int]] = {fam: [] for fam in since_by_family}
    floor = min(since_by_family.values(), default=0)
    want_rollup = (roots_by_family or {}).get("rollup")
    for seq, ent in commitlog.entries(lake_dir, since=floor):
        kind = ent.get("kind")
        if kind == "rollup-backfill" and "rollup" in out:
            # absolution is ROOT-CHECKED (r19 review): a rebuild of a
            # DIFFERENT rollup dir proves nothing about this one; a
            # pre-root or RELATIVE recorded root can't prove which dir
            # it rebuilt (a relative path realpaths against THIS
            # reader's cwd — the manifest-roots lesson).  And it is
            # AS_OF-BOUNDED (pass 6): the backfill rebuilt from a
            # snapshot pinned at ent["as_of"] — an offender committing
            # DURING the backfill's run window (as_of < seq < entry
            # seq) is not in that snapshot and stays an offender.
            got = ent.get("root")
            if want_rollup is None or commitlog.proves_same_root(
                got, want_rollup
            ):
                healed = int(ent.get("as_of") or 0)
                out["rollup"] = [s for s in out["rollup"] if s > healed]
            continue
        if kind != "points-append":
            continue
        secs = ent.get("sections")
        roots = ent.get("roots") or {}
        for fam, since in since_by_family.items():
            if seq <= since:
                continue
            if secs is None:
                out[fam].append(seq)
                continue
            if "points" not in secs:
                continue  # empty/catalog-only batch: no coverage gap
            if fam not in secs:
                out[fam].append(seq)
                continue
            want = (roots_by_family or {}).get(fam)
            if want is not None:
                got = roots.get(fam)
                # same evidence bar as the backfill absolution above
                # (r19 review pass 7): "can't prove" reads offender
                if not commitlog.proves_same_root(got, want):
                    out[fam].append(seq)
    return {fam: seqs for fam, seqs in out.items() if seqs}


def _foreign_cursor_path(lake_dir: str, rollup_dir: str) -> str:
    """Sidecar persisting the foreign-writer check cursor: entries
    at/below it were already verified (or demoted-and-recorded) by a
    previous advance, so every scan is tail-only.  Lives in the LAKE
    dir, keyed by the fine rollup dir's realpath — inside ``rollup_dir``
    it would die with every ``backfill_rollup`` generation swap (r19
    review), and two bridges maintaining different fine lakes over one
    lake need distinct cursors."""
    import hashlib

    h = hashlib.md5(
        os.path.realpath(rollup_dir).encode()
    ).hexdigest()[:12]
    return os.path.join(lake_dir, f"_foreign_check-{h}.json")


def _read_foreign_cursor(lake_dir: str, rollup_dir: str) -> int | None:
    import json

    try:
        with open(_foreign_cursor_path(lake_dir, rollup_dir)) as f:
            return int(json.load(f)["seq"])
    except (OSError, ValueError, KeyError):
        return None


def _write_foreign_cursor(lake_dir: str, rollup_dir: str, seq: int) -> None:
    from mycenae_spark.streaming.commitlog import write_json_atomic

    write_json_atomic(
        _foreign_cursor_path(lake_dir, rollup_dir),
        {"seq": int(seq), "rollup_dir": rollup_dir},
    )


def run_tsdb_bridge(
    spark: SparkSession,
    source_dir: str,
    lake_dir: str,
    catalog_dir: str,
    checkpoint_dir: str,
    *,
    rollup_dir: str,
    ladder: dict[int, str] | None = None,
    kmv_fine_dir: str | None = None,
    kmv_ladder: dict[int, str] | None = None,
    qsample_fine_dir: str | None = None,
    qsample_ladder: dict[int, str] | None = None,
    fmt: str = "json",
    cascade_every: int = 1,
    max_files_per_trigger: int = 16,
    default_ksid: str | None = None,
    timeout: int = 180,
    sketch_retention: dict | None = None,
    maintenance_max_age_s: float | None = None,
    maintenance_floor_s: float | None = None,
    commitlog_keep_last: int | None = None,
) -> dict:
    """Drain ``source_dir`` through the ingest bridge (availableNow) and
    leave every configured rung current.  The ingest is the one ingest
    path (``streaming.ingest._start_point_stream``): text files → the
    ``fmt`` decoder → ``write_points_batch`` under batch ids ``<n>``,
    staging the points, the fine rollup partials and every configured
    fine sketch lake in one commit; the bridge adds only its ladder
    cadence, run after each committed batch.  An unknown ``fmt``, or
    netdata without ``default_ksid``, raises ``ValueError`` before any
    lock is taken.  ``ladder`` / ``kmv_ladder`` /
    ``qsample_ladder`` map interval_ms → rung dir (the same maps the
    Engine takes); sketch ladders require their fine lake dir.  Returns
    ``{"batches": n, "refreshed": {...}}`` — ``refreshed`` holds the
    last refresh pass's interval → rebuilt flags per family, the
    ``last_routes()``-style observable for the maintenance leg — plus,
    when configured, ``retention`` (``sketch_retention`` =
    prune_sketch_lake's dials, applied per family at end of drain) and
    ``maintenance`` (``maintenance_max_age_s`` = one age dial sweeping
    staging, settled commit markers, retention/grace areas, and
    cascade/swap temps).  The marker AND grace-area sweeps are clamped
    to ``max(dial, maintenance_floor_s)`` — default
    ``maintenance.REPLAY_WINDOW_S`` — since younger markers are live
    replay evidence and younger retained generations may back pinned
    reads; setting the floor without the dial refuses.
    ``commitlog_keep_last`` (opt-in, requires the GC tail) additionally
    bounds the commit log, protected on two fronts: entries at/after
    the oldest configured rung/sketch pin survive (rung currency stays
    provable — no truncation-blindness rebuild churn) and entries
    younger than the same evidence clamp survive (crash replay +
    pinned reads); both protections are prefix-stable so the surviving
    log is gap-free.
    A retention refusal raises AFTER the GC tail with the drain's
    ``stats`` attached to the exception (``exc.stats`` — batches,
    refreshes, sibling prunes, sweeps: the audit trail survives).

    Single-writer contract, enforced BRIDGE-vs-BRIDGE (r17 VERDICT
    "what's wrong" #1 — prose alone let two concurrent bridges
    interleave marker re-pins and 2PC manifests): the run holds the
    dedup/ANN bridges' kernel flock
    (streaming/assimilate.py::_acquire_writer_lock) on the lake dir,
    the rollup dir, and each configured sketch fine dir for the whole
    drain; a second bridge pointed at any shared dir refuses
    immediately with the holder's pid.  Honest scope (r18 review): the
    flock arbitrates between LOCK-TAKING writers — bridge runs.  The
    repo's other write paths (``start_ingest``, which returns an async
    StreamingQuery with no lock scope, and the HTTP engine's ``put``,
    which is a deliberately CONCURRENT 2PC appender) do not take it —
    but their footprints are now DETECTED (r18 VERDICT missing #3):
    every ``points-append`` commit records which 2PC sections it
    carried, and before each fine-sketch re-pin the bridge scans the
    log since the family's heal horizon
    (:func:`foreign_sketchless_appends`).  A foreign commit lacking a
    family's section demotes that fine lake's coverage (loud warning +
    ``stats["foreign_writer"]``) instead of letting the head pin claim
    coverage the sketch lake doesn't have; the family's ``backfill_*``
    is the remedy and re-pins past the offenders.  One lake, one
    ingest topology — now enforced for lock-takers and detected for
    everyone else."""
    from mycenae_spark.registry.util import await_or_raise
    from mycenae_spark.streaming import commitlog
    from mycenae_spark.streaming.ingest import _decoder, _start_point_stream
    from mycenae_spark.streaming.rollup import (
        _read_marker_as_of,
        cascade_kmv,
        cascade_qsample,
        cascade_rollup,
        mark_rollup_coverage,
        refresh_ladder,
        rollup_coverage_complete,
    )

    #: (family, fine dir, rung map, cascade verb) — one row per ladder
    families = (
        ("rollup", rollup_dir, ladder, cascade_rollup),
        ("kmv", kmv_fine_dir, kmv_ladder, cascade_kmv),
        ("qsample", qsample_fine_dir, qsample_ladder, cascade_qsample),
    )

    if (kmv_ladder and not kmv_fine_dir) or (
        qsample_ladder and not qsample_fine_dir
    ):
        raise ValueError(
            "a sketch ladder needs its fine lake: pass kmv_fine_dir / "
            "qsample_fine_dir so the rungs have a cascade source"
        )
    decode = _decoder(fmt, default_ksid)
    if maintenance_floor_s is not None and maintenance_max_age_s is None:
        raise ValueError(
            "maintenance_floor_s set without maintenance_max_age_s: the "
            "floor only clamps the GC tail's marker/grace sweeps — "
            "nothing is being swept; set maintenance_max_age_s (or drop "
            "the floor)"
        )
    if commitlog_keep_last is not None:
        if maintenance_max_age_s is None:
            raise ValueError(
                "commitlog_keep_last set without maintenance_max_age_s: "
                "commit-log truncation is part of the GC tail (its age "
                "clamp IS the replay-window protection); set "
                "maintenance_max_age_s (or drop commitlog_keep_last)"
            )
        if commitlog_keep_last < 1:
            raise ValueError(
                "commitlog_keep_last must be >= 1: the newest entry is "
                "the lake's head pointer — dropping it would erase "
                "latest_seq and read every pinned rung as unprovable"
            )

    from mycenae_spark.streaming.assimilate import (
        _acquire_writer_lock,
        _release_writer_lock,
    )

    # One flock per written dir, held for the whole drain.  Dirs are
    # deduped by realpath so a ladder config aliasing two roles onto
    # one dir doesn't self-deadlock on the second acquire.
    lock_dirs: list[str] = []
    for d in (lake_dir, rollup_dir, kmv_fine_dir, qsample_fine_dir):
        if d and os.path.realpath(d) not in (
            os.path.realpath(x) for x in lock_dirs
        ):
            lock_dirs.append(d)
    # Acquire one at a time, releasing on a partial failure: a refusal
    # on the third dir must not leave the first two flock-held by this
    # (still-live) process, or the contender's retry — and our own —
    # would deadlock against leaked locks.
    locks: list = []
    try:
        for d in lock_dirs:
            locks.append(_acquire_writer_lock(d, "run_tsdb_bridge"))
    except BaseException:
        for fd in locks:
            _release_writer_lock(fd)
        raise
    try:
        stats = {"batches": 0, "refreshed": {}}

        def advance_ladders() -> None:
            head = commitlog.latest_seq(lake_dir)
            # Foreign-writer detection (r18 VERDICT missing #3), checked
            # at the exact moment the coverage claim is made: any
            # points-append since a family's heal horizon that lacks the
            # family's 2PC section means a non-bridge writer
            # (start_ingest without the dir, HTTP put) landed points the
            # fine lake doesn't represent — DEMOTE that family's
            # coverage instead of re-pinning it at the head.  Demotion,
            # not refusal: ingest keeps flowing, rungs inherit the
            # incomplete verdict (routing falls back to always-correct
            # paths), retention refuses on the family, and the family's
            # backfill_* verb is the one remedy (it re-pins/heals, so
            # the next drain is clean).  The stats flag + warning fire
            # on the DETECTING drain; the demoted coverage (visible on
            # ladder_status) is the durable state — the pin still
            # advances, carrying complete=False, so later drains don't
            # rescan-and-renoise an already-recorded demotion.  A
            # foreign writer that DID carry every section is not
            # foreign to the lake's contract and passes.  Escape
            # analysis for a put landing AFTER the drain's last advance
            # (caught before the NEXT pin): ladder RUNGS stay out of
            # routing because their pins lag the moved head
            # (cascade_is_current), and the FINE frame is re-checked by
            # the serving engine per request (Engine._fine_foreign_tail
            # scans the tail above the fine pin — r19 review pass 7
            # closed this: coverage-complete alone left a silent
            # under-read window until the next NON-EMPTY drain, since a
            # zero-batch drain never reaches advance_ladders).
            cursor = _read_foreign_cursor(lake_dir, rollup_dir)
            if cursor is None:
                # Bootstrap (r19 review, both passes): a lake whose
                # oldest retained POINTS-APPEND predates the sections
                # field is a pre-upgrade lake — sweeping its history
                # would demote every rung on the first post-upgrade
                # drain for commits this bridge itself made with older
                # code, so enforcement is forward-looking there
                # (trust-once, loudly).  The kind matters: the oldest
                # entry of ANY kind (a checkpoint, a sketch-prune left
                # by truncation) proves nothing about append provenance.
                # A fresh lake, or one whose retained appends are all
                # sectioned, checks from 0.  Bootstrap-only cost: one
                # file read per entry, ascending, stopping at the first
                # points-append (commitlog.entry — not entries(), which
                # would json-parse the whole log to use one element).
                first_append = None
                oldest = commitlog.oldest_seq(lake_dir)
                if oldest is not None:
                    for s in range(oldest, head + 1):
                        ent = commitlog.entry(lake_dir, s)
                        if ent and ent.get("kind") == "points-append":
                            first_append = ent
                            break
                if (
                    first_append is not None
                    and first_append.get("sections") is None
                ):
                    cursor = head
                    log.info(
                        "foreign-writer check bootstrapped at seq %s: "
                        "the commit log predates section recording, so "
                        "enforcement starts with this drain",
                        cursor,
                    )
                else:
                    cursor = 0
            sinces = {"rollup": cursor}
            roots = {"rollup": rollup_dir}
            for fam, fine in (("kmv", kmv_fine_dir),
                              ("qsample", qsample_fine_dir)):
                if fine is not None:
                    # clamped to the cursor (r19 review): on the
                    # trust-once bootstrap drain the sketch families get
                    # the same pre-upgrade amnesty as rollup — their
                    # pins lag the bootstrapped cursor only there (and
                    # after a family backfill, where the pin is HIGHER),
                    # so the clamp never skips an unchecked entry
                    sinces[fam] = max(_read_marker_as_of(fine) or 0,
                                      cursor)
                    roots[fam] = fine
            foreign = foreign_sketchless_appends(lake_dir, sinces, roots)
            if foreign:
                merged = stats.setdefault("foreign_writer", {})
                for fam, seqs in foreign.items():
                    merged[fam] = sorted(set(merged.get(fam, [])) | set(seqs))
                log.warning(
                    "foreign sketch-less points-appends detected %s — "
                    "demoting the affected fine lakes' coverage; run the "
                    "family's backfill_* to heal, then re-drain",
                    {fam: seqs for fam, seqs in sorted(foreign.items())},
                )
            for fam, fine, _rungs, _cascade in families:
                if fine is None:
                    continue
                # preserve the first-write completeness verdict; the
                # pin is what moves (sound: foreign appends were just
                # ruled out above, and the flock rules out sibling
                # bridges).  The ALGEBRAIC fine marker is pinned too
                # (r19 review pass 8) — but with checked_to_seq, not
                # as_of_seq: the pin arms the serving engine's
                # per-request tail gate (Engine._fine_foreign_tail),
                # without which a foreign put stays servable-over
                # until the next NON-EMPTY drain, and it feeds the GC
                # tail's truncation floor so commit-log retention can
                # never erase unscanned evidence above it.  as_of_seq
                # on the algebraic fine would corrupt cascade_rollup's
                # pin arithmetic — see mark_rollup_coverage's
                # docstring.
                pin_kw = (
                    {"checked_to_seq": head} if fam == "rollup"
                    else {"as_of_seq": head}
                )
                mark_rollup_coverage(
                    fine,
                    rollup_coverage_complete(fine) and fam not in foreign,
                    kind="bridge-fine", **pin_kw,
                )
            # cursor LAST (r19 review pass 5): it must advance only
            # after every demotion verdict is durably marked — written
            # first, a crash in between would skip the rescan while the
            # markers still claim complete, losing the demotion.  A
            # crash-rerun re-detecting the same offenders is idempotent.
            _write_foreign_cursor(lake_dir, rollup_dir, head)
            stats["refreshed"] = {
                fam: refresh_ladder(spark, lake_dir, fine, rungs, cascade)
                for fam, fine, rungs, cascade in families if rungs
            }

        def after_batch() -> None:
            stats["batches"] += 1
            if stats["batches"] % cascade_every == 0:
                advance_ladders()

        raw = (
            spark.readStream.format("text")
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .load(source_dir)
        )
        job = _start_point_stream(
            raw, decode, lake_dir, catalog_dir, checkpoint_dir,
            after_batch=after_batch, rollup_dir=rollup_dir,
            kmv_dir=kmv_fine_dir, qsample_dir=qsample_fine_dir,
        )
        await_or_raise(job, timeout, "run_tsdb_bridge")
        if stats["batches"] and stats["batches"] % cascade_every != 0:
            # the cadence left a tail batch unrefreshed: finish current
            advance_ladders()
        retention_error: ValueError | None = None
        if sketch_retention is not None:
            # End-of-drain retention (r17 VERDICT "what's missing" #1):
            # prune fine partials each ladder's rungs provably cover —
            # the rungs were just advanced, so the currency precondition
            # holds by construction.  ``sketch_retention`` carries
            # prune_sketch_lake's dials ({"keep_days": N, "floor_days":
            # M, "today": date}); families without a ladder are skipped
            # (nothing could serve the dropped span).
            from mycenae_spark.streaming.rollup import (
                has_series_partitions,
                prune_sketch_lake,
            )

            # An UNINITIALIZED fine lake (cron fired before the first
            # data file ever landed — a zero-batch drain never built
            # anything) is a no-op, not a precondition error.  The
            # probe is for DATA partitions, not the coverage marker
            # (r18 review pass 2): a lake that holds partials but is
            # marked incomplete (enabled on pre-existing points,
            # backfill pending) must still reach prune_sketch_lake's
            # loud coverage refusal — silently skipping it would regrow
            # the exact grow-forever surface retention exists to close.
            # Every family is ATTEMPTED before any refusal raises (r18
            # review pass 3): one family's pending backfill must not
            # starve the siblings' retention on every future drain.
            retention: dict = {}
            errors: dict = {}
            for fam, fine, fam_rungs, _cascade in families:
                if fine and fam_rungs and has_series_partitions(fine):
                    try:
                        retention[fam] = prune_sketch_lake(
                            lake_dir, fine, fam_rungs,
                            sketch=fam, **sketch_retention,
                        )
                    except ValueError as exc:
                        errors[fam] = str(exc)
            stats["retention"] = retention
            if errors:
                # raised AFTER the GC tail below (r18 review pass 5):
                # one family's pending backfill must not also starve
                # every maintenance sweep on every future drain
                retention_error = ValueError(
                    "sketch retention refused for "
                    f"{sorted(errors)} (other families pruned first: "
                    f"{sorted(retention)}): "
                    + "; ".join(
                        f"{fam}: {msg}"
                        for fam, msg in sorted(errors.items())
                    )
                )
        if maintenance_max_age_s is not None:
            # GC tail (the dial the daily job would otherwise need a
            # second cron for): sweep aged debris across everything
            # this bridge writes — commit-batch staging + markers,
            # every lake's retention/grace area (incl. the sketch
            # prune's), and cascade/swap temp generations.  The commit
            # LOG is truncated only behind the EXPLICIT
            # commitlog_keep_last opt-in below, with pin + replay-window
            # protections that neutralize the checkpoint-cadence
            # interaction (truncation past a rung's pin would make
            # currency unprovable and rebuild the ladder every drain).
            from mycenae_spark.maintenance import (
                REPLAY_WINDOW_S,
                gc_commit_markers,
                gc_retained,
                gc_staging,
            )
            from mycenae_spark.streaming.rollup import gc_ladder_temps

            age = maintenance_max_age_s
            # The MARKER and GRACE-AREA sweeps are clamped to the
            # replay window (r18 review passes 5-8): a marker younger
            # than it is live replay-idempotence + content-fingerprint
            # evidence for its batch, and a ``_retained/<seq>``
            # generation younger than it may still back a log-gated
            # read pinned before its rewrite — sweeping either early
            # silently re-lands a replay or strands a pinned reader.
            # Clamping (not refusing) keeps an aggressive debris dial
            # from becoming an ingest outage: staging dirs and swap
            # temps (crashed-writer debris no reader ever resolves)
            # sweep at the dial; the evidence classes live at least the
            # window.  Lowering it is explicit (maintenance_floor_s).
            evidence_age = max(
                age,
                REPLAY_WINDOW_S
                if maintenance_floor_s is None
                else maintenance_floor_s,
            )
            if evidence_age > age:
                log.info(
                    "GC tail: marker/grace sweeps clamped to %ss "
                    "(%s; dial was %ss)",
                    evidence_age,
                    "the default replay window"
                    if maintenance_floor_s is None
                    else "maintenance_floor_s",
                    age,
                )
            fines = [fine for _f, fine, _r, _c in families if fine]
            rung_dirs = [
                d for _f, _d, m, _c in families if m for d in m.values()
            ]
            # built INCREMENTALLY: a sweep failing midway must not
            # erase the audit trail of the deletes that already ran
            mnt: dict = {}
            stats["maintenance"] = mnt
            try:
                mnt["staging"] = gc_staging(lake_dir, age)
                mnt["commit_markers"] = gc_commit_markers(
                    lake_dir, evidence_age
                )
                retained: list = []
                for root in [lake_dir, *fines]:
                    retained += gc_retained(root, evidence_age)
                mnt["retained"] = retained
                mnt["ladder_temps"] = gc_ladder_temps(
                    rung_dirs + fines, age, lake_dir=lake_dir
                )
                if commitlog_keep_last is not None:
                    # Commit-log retention (r18 VERDICT missing #5), the
                    # explicit opt-in: bound the log to keep_last
                    # entries, with two prefix-stable protections that
                    # make the documented checkpoint-cadence interaction
                    # safe by construction — (a) never drop at/after the
                    # oldest configured rung/sketch pin + 1, so
                    # cascade_is_current stays provable and no drain
                    # triggers a truncation-blindness full-ladder
                    # rebuild; (b) never drop entries younger than the
                    # replay window (same evidence clamp as the marker
                    # sweep: they back crash replay and reads pinned
                    # moments ago).
                    from mycenae_spark.maintenance import gc_commitlog
                    from mycenae_spark.streaming.snapshot import (
                        latest_checkpoint,
                    )

                    from mycenae_spark.streaming.rollup import (
                        _read_marker,
                    )

                    # one marker read per dir (r19 pass 9) covering
                    # both pin kinds: as_of_seq (rung/sketch cascade
                    # currency) and checked_to_seq (the algebraic
                    # fine's foreign-tail evidence, r19 pass 8 —
                    # erased above it, the engine must and does read
                    # the gap as unprovable and unroute the fine
                    # frame, so never create the gap)
                    floors = []
                    for d in rung_dirs + fines:
                        m = _read_marker(d)
                        for key in ("as_of_seq", "checked_to_seq"):
                            p = m.get(key)
                            if p is not None:
                                floors.append(int(p) + 1)
                    # (d) outstanding backfill debris: the entry at its
                    # seq is the PROVENANCE evidence the salvage/
                    # restore needs (r19 pass 12) — truncating it would
                    # force the heal verb onto its guess path.  Scans
                    # every swept dir (rungs too — gc_ladder_temps
                    # salvages rung debris, r19 pass 13), dirs only,
                    # and WARNS when a floor pins: debris nobody heals
                    # holds commit-log truncation indefinitely, and the
                    # actionable remedy (run the dir's backfill, or
                    # remove debris the log disowns) belongs in the
                    # operator's face, not a silent growing log.
                    from mycenae_spark.streaming.rollup import (
                        _list_backfill_debris,
                    )

                    debris_floors: dict = {}
                    parent_names: dict = {}  # one listdir per parent
                    for d in rung_dirs + fines:
                        par = os.path.dirname(d.rstrip("/")) or "."
                        if par not in parent_names:
                            try:
                                parent_names[par] = os.listdir(par)
                            except FileNotFoundError:
                                parent_names[par] = []
                        for seq, path in _list_backfill_debris(
                                d, names=parent_names[par]):
                            debris_floors[path] = seq
                    if debris_floors:
                        floors += debris_floors.values()
                        log.warning(
                            "commit-log truncation floored at "
                            "outstanding backfill debris %s — heal "
                            "with the dir's backfill_rollup (or "
                            "remove debris the log disowns) to "
                            "unpin retention",
                            dict(sorted(debris_floors.items())),
                        )
                    # (c) never drop entries the newest SNAPSHOT
                    # CHECKPOINT still replays forward from (r19 review
                    # pass 5): resolve() walks (cp_seq, head], and a
                    # hole there turns every log-gated read into a
                    # LogGap 500 until a manual re-baseline — rung pins
                    # refresh each drain, but an operator checkpoint
                    # can be arbitrarily old.
                    cp = latest_checkpoint(lake_dir)
                    if cp is not None and cp.get("seq") is not None:
                        floors.append(int(cp["seq"]) + 1)
                    mnt["commitlog"] = gc_commitlog(
                        lake_dir,
                        commitlog_keep_last,
                        floor_seq=min(floors) if floors else None,
                        min_age_s=evidence_age,
                    )
            except Exception:
                # a sweep failure must not MASK a retention refusal
                # (r18 review pass 6) — the refusal is the actionable
                # signal; the sweep is idempotent and retries next
                # drain.  With no refusal pending, the failure is the
                # actionable signal and propagates.
                if retention_error is None:
                    raise
                log.warning(
                    "GC tail failed after a retention refusal; the "
                    "refusal takes precedence",
                    exc_info=True,
                )
        if retention_error is not None:
            # the caller still gets the audit trail of what this drain
            # DID do (batches, refreshes, per-family prunes, sweeps)
            retention_error.stats = stats
            raise retention_error
        return stats
    finally:
        for fd in locks:
            _release_writer_lock(fd)
