"""Monotonic commit log for the lake — multi-writer sequencing.

The two-phase staged commit (streaming/ingest.py) makes each batch atomic,
but ordering ACROSS writers was undefined: the streaming job and any number
of HTTP put threads commit independently, and a read-modify-write
maintenance operation (catalog rewrite, compaction) had no way to detect a
concurrent append landing mid-rewrite.

This is the Delta-style answer, minus snapshot isolation: every commit
appends an entry to ``<lake>/_commitlog/<seq>.json`` where ``seq`` is
claimed atomically — the payload is written to a temp file and
``os.link``-ed to its sequence slot; the link syscall fails with EEXIST if
another writer claimed that slot first, so exactly one writer owns each
position and the log is a total order of commits.

Append-only writers (point batches — appends commute) retry the next slot
on collision.  Read-modify-write writers pass ``expected_head``: the
append fails with :class:`CommitConflict` if ANY commit landed after the
head they read, the optimistic-concurrency check that serializes catalog
rewrites against the put path.

What this does NOT give (documented, not pretended): reads are not gated
on the log (readers list parquet files directly), so a read-modify-write
transaction can still race a commit that lands after its CAS succeeds.
Closing that window needs log-gated reads — manifests as the only source
of visible files, Delta/Iceberg-style — which is the designed next step in
SCALING.md §1b; the CAS here already detects and rejects the common
lost-update interleavings.

The log grows one tiny file per commit; ``truncate`` keeps the tail
bounded (the same age/count GC the staging dirs get in maintenance.py).
"""

from __future__ import annotations

import json
import os


class CommitConflict(Exception):
    """A concurrent commit landed after the head this writer read."""


def write_json_atomic(path: str, payload) -> None:
    """Durably replace ``path`` with ``payload`` as JSON — THE one
    manifest/marker write: write ``path + ".tmp"``, flush, fsync, then
    rename, so a crash leaves the old file or the new one, never a torn
    one.  Creates the parent dir; dir listers skip the ``.tmp`` name."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def _log_dir(lake_dir: str) -> str:
    return os.path.join(lake_dir, "_commitlog")


def _seq_of(name: str) -> int | None:
    if not name.endswith(".json"):
        return None
    try:
        return int(name[: -len(".json")])
    except ValueError:
        return None


def proves_same_root(recorded: "str | None", target: str) -> bool:
    """True iff a manifest/entry ``root`` PROVES it names ``target``:
    absolute and realpath-equal.  THE one copy of the evidence bar
    (r19 review pass 12 — it had grown four inline copies): a relative
    recorded root realpaths against the READER's cwd, so it proves
    nothing either way; None proves nothing.  Callers decide what
    "can't prove" means for them (offender, wait, leave-alone)."""
    return (recorded is not None and os.path.isabs(recorded)
            and os.path.realpath(recorded) == os.path.realpath(target))


def proves_different_root(recorded: "str | None", target: str) -> bool:
    """True iff a recorded ``root`` PROVES it names a dir OTHER than
    ``target`` — absolute and realpath-unequal.  The complement of
    :func:`proves_same_root` over proven evidence only: None and
    relative roots prove nothing, so BOTH predicates return False for
    them."""
    return (recorded is not None and os.path.isabs(recorded)
            and os.path.realpath(recorded) != os.path.realpath(target))


def latest_seq(lake_dir: str) -> int:
    """Highest committed sequence number, 0 if the log is empty."""
    d = _log_dir(lake_dir)
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return 0
    seqs = [s for s in map(_seq_of, names) if s is not None]
    return max(seqs, default=0)


def oldest_seq(lake_dir: str) -> int | None:
    """Lowest retained sequence number, None if the log is empty — the
    truncation floor: a reader pinned below ``oldest_seq - 1`` cannot
    prove what happened in the gap."""
    d = _log_dir(lake_dir)
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return None
    seqs = [s for s in map(_seq_of, names) if s is not None]
    return min(seqs, default=None)


def entries(lake_dir: str, since: int = 0) -> list[tuple[int, dict]]:
    """Committed (seq, payload) entries with seq > since, ascending."""
    d = _log_dir(lake_dir)
    try:
        names = os.listdir(d)
    except FileNotFoundError:
        return []
    out = []
    for name in names:
        seq = _seq_of(name)
        if seq is None or seq <= since:
            continue
        with open(os.path.join(d, name)) as f:
            out.append((seq, json.load(f)))
    return sorted(out)


def entry(lake_dir: str, seq: int) -> dict | None:
    """The payload of ONE committed entry, or None if absent/truncated —
    a single file read, for callers (e.g. the bridge's foreign-check
    bootstrap) that must inspect one entry without ``entries()``'s
    parse of the whole log."""
    try:
        with open(os.path.join(_log_dir(lake_dir), f"{seq:020d}.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def append(
    lake_dir: str, payload: dict, expected_head: int | None = None
) -> int:
    """Append ``payload`` to the log, returning its sequence number.

    With ``expected_head``, the append succeeds only if no commit landed
    after that head (compare-and-swap): the slot claimed is exactly
    ``expected_head + 1``, and both a stale head and a lost race for the
    slot raise :class:`CommitConflict` — the caller re-reads and retries
    its whole read-modify-write.  Without it, the append retries forward
    until it wins a slot (appends commute, so any position is fine).
    """
    d = _log_dir(lake_dir)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp-{os.getpid()}-{id(payload)}")
    with open(tmp, "w") as f:
        json.dump(payload, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        seq = latest_seq(lake_dir)
        if expected_head is not None and seq != expected_head:
            raise CommitConflict(
                f"expected head {expected_head}, found {seq}"
            )
        while True:
            target = os.path.join(d, f"{seq + 1:020d}.json")
            try:
                os.link(tmp, target)  # atomic claim: EEXIST iff lost race
                return seq + 1
            except FileExistsError:
                if expected_head is not None:
                    raise CommitConflict(
                        f"commit {seq + 1} claimed by a concurrent writer"
                    ) from None
                seq += 1
    finally:
        os.unlink(tmp)


def find_batch(lake_dir: str, batch_id: str) -> int | None:
    """Sequence number of the commit carrying ``batch_id``, if any.

    O(log length) scan — used only on crash replay (the committed-marker
    rewrite normally records the seq, see ingest.write_points_batch)."""
    for seq, payload in entries(lake_dir):
        if payload.get("batch_id") == batch_id:
            return seq
    return None


def truncate(
    lake_dir: str,
    keep_last: int = 10_000,
    floor_seq: int | None = None,
    min_age_s: float | None = None,
) -> int:
    """Drop all but the newest ``keep_last`` entries; returns #removed.

    Safe because entries are only read for ordering/conflict detection of
    FUTURE commits (latest_seq survives truncation: the newest entries
    remain) and for crash replay of recent batches.

    Two protections clamp the drop (both prefix-stable, so the surviving
    log is always gap-free and ``oldest_seq`` stays meaningful):

    * ``floor_seq`` — never drop an entry with ``seq >= floor_seq``.
      Callers protecting rung-currency proofs pass ``min(pins) + 1``:
      ``cascade_is_current`` needs the oldest retained seq ≤ pin + 1,
      else truncation blindness conservatively stales every rung and
      the next refresh rebuilds the whole ladder for nothing.
    * ``min_age_s`` — never drop an entry younger than this.  Entries
      inside the replay window are crash-replay evidence
      (``find_batch``) and may back log-gated snapshot reads pinned
      moments ago."""
    import time as _time

    d = _log_dir(lake_dir)
    try:
        names = sorted(n for n in os.listdir(d) if _seq_of(n) is not None)
    except FileNotFoundError:
        return 0
    victims = names[:-keep_last] if keep_last else names
    if floor_seq is not None or min_age_s is not None:
        now = _time.time()
        kept: list[str] = []
        for name in victims:
            if floor_seq is not None and _seq_of(name) >= floor_seq:
                break  # prefix cut: everything after is newer still
            if min_age_s is not None:
                try:
                    age = now - os.path.getmtime(os.path.join(d, name))
                except FileNotFoundError:
                    continue  # concurrent sweep already took it
                if age < min_age_s:
                    break
            kept.append(name)
        victims = kept
    for name in victims:
        os.unlink(os.path.join(d, name))
    return len(victims)
