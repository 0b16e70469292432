"""Seeded TSDB lake for the served-read workload, and the answers it implies.

The lake is dense: every (metric, host) series has one point per minute
over ``DAYS`` days.  Values are seeded integers, so every expected answer
below is plain arithmetic over one numpy array, independent of Spark.
"""

from __future__ import annotations

import math
import os

import numpy as np

BASE_MS = 1704067200000  # 2024-01-01T00:00:00Z
STEP_MS = 60_000
METRICS = ("cpu.user", "mem.used", "net.rx", "disk.io")
N_HOSTS = 20
DAYS = 1
N_STEPS = DAYS * 86_400_000 // STEP_MS
END_MS = BASE_MS + N_STEPS * STEP_MS


def host(h: int) -> str:
    return f"h{h:02d}"


def dc(h: int) -> str:
    return f"dc{h % 3}"


def values(seed: int) -> np.ndarray:
    """``[metric, host, minute]`` point values."""
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1000, size=(len(METRICS), N_HOSTS, N_STEPS)).astype(
        np.float64
    )


def write_spool(vals: np.ndarray, spool_dir: str) -> None:
    """One jsonl file per metric, in the wire shape ``start_ingest`` reads."""
    os.makedirs(spool_dir, exist_ok=True)
    for mi, metric in enumerate(METRICS):
        lines = []
        for h in range(N_HOSTS):
            head = (
                f'{{"metric":"{metric}","tags":{{"ksid":"k1",'
                f'"host":"{host(h)}","dc":"{dc(h)}"}},"timestamp":'
            )
            row = vals[mi, h]
            lines.extend(
                f'{head}{BASE_MS + k * STEP_MS},"value":{row[k]:.1f}}}'
                for k in range(N_STEPS)
            )
        with open(os.path.join(spool_dir, f"{mi}.jsonl"), "w") as f:
            f.write("\n".join(lines))
            f.write("\n")


# -- expected answers --------------------------------------------------------

_AGG = {
    "avg": lambda a, axis: a.mean(axis=axis),
    "sum": lambda a, axis: a.sum(axis=axis),
    "max": lambda a, axis: a.max(axis=axis),
    "p95": lambda a, axis: np.percentile(a, 95, axis=axis, method="linear"),
}


def _interval_ms(spec: str) -> int:
    n, unit = int(spec[:-1]), spec[-1]
    return n * {"m": 60_000, "h": 3_600_000}[unit]


def _hosts_matching(filters: list[dict]) -> list[int]:
    hs = list(range(N_HOSTS))
    for f in filters:
        if f["type"] == "literal_or":
            allowed = set(f["filter"].split("|"))
            tag = host if f["tagk"] == "host" else dc
            hs = [h for h in hs if tag(h) in allowed]
        elif f["type"] == "wildcard":
            prefix = f["filter"].rstrip("*")
            tag = host if f["tagk"] == "host" else dc
            hs = [h for h in hs if tag(h).startswith(prefix)]
        else:
            raise ValueError(f"no reference for filter {f['type']}")
    return hs


def expected_query(vals: np.ndarray, start: int, end: int, sub: dict) -> list[dict]:
    """Reference answer of one ``/api/query`` sub-query over the dense lake,
    for the shapes the workload sends: optional ``<iv>-<agg>`` downsample on
    an aligned window, cross-series aggregation per ``groupBy`` tag, then an
    optional rate (the default stage order)."""
    mi = METRICS.index(sub["metric"])
    lo, hi = (start - BASE_MS) // STEP_MS, (end - BASE_MS) // STEP_MS
    filters = sub.get("filters", [])
    hs = _hosts_matching(filters)
    group_by = [f["tagk"] for f in filters if f.get("groupBy")]
    series = vals[mi][hs][:, lo:hi]
    times_ms = BASE_MS + np.arange(lo, hi) * STEP_MS
    if sub.get("downsample"):
        iv, agg = sub["downsample"].split("-")[:2]
        per = _interval_ms(iv) // STEP_MS
        series = _AGG[agg](series.reshape(len(hs), -1, per), 2)
        times_ms = times_ms[::per]
    tag_fns = {"host": host, "dc": dc}
    groups: dict[tuple, list[int]] = {}
    for i, h in enumerate(hs):
        groups.setdefault(tuple(tag_fns[t](h) for t in group_by), []).append(i)
    out = []
    for key, rows in groups.items():
        v = _AGG[sub.get("aggregator", "sum")](series[rows], 0)
        t = times_ms
        if sub.get("rate"):
            v = np.diff(v) / (np.diff(t) / 1000.0)
            t = t[1:]
        out.append({
            "tags": dict(zip(group_by, key)),
            "dps": {str(int(ts // 1000)): float(x) for ts, x in zip(t, v)},
        })
    return out


def expected_last(vals: np.ndarray, metric: str) -> dict[tuple, tuple]:
    """(host, dc) → (timestamp ms, value) of each series' newest point."""
    mi = METRICS.index(metric)
    return {
        (host(h), dc(h)): (END_MS - STEP_MS, float(vals[mi, h, -1]))
        for h in range(N_HOSTS)
    }


def expected_gaps(start: int, end: int) -> dict:
    """Every series in a dense window has the same gap statistics."""
    n = (end - start) // STEP_MS
    return {
        "n_points": n,
        "max_gap_us": STEP_MS * 1000,
        "n_large_gaps": 0,
        "mean_gap_us": STEP_MS * 1000,
    }


def same_groups(got: list[dict], want: list[dict]) -> str | None:
    """None when ``got`` (shaped OpenTSDB groups) equals ``want`` in tags,
    dps keys and values (relative 1e-9); else a short reason."""
    if len(got) != len(want):
        return f"{len(got)} groups, expected {len(want)}"
    by_tags = {tuple(sorted(g["tags"].items())): g["dps"] for g in got}
    for w in want:
        dps = by_tags.get(tuple(sorted(w["tags"].items())))
        if dps is None:
            return f"missing group {w['tags']}"
        if dps.keys() != w["dps"].keys():
            return f"group {w['tags']}: {len(dps)} dps, expected {len(w['dps'])}"
        for k, x in w["dps"].items():
            if not math.isclose(dps[k], x, rel_tol=1e-9, abs_tol=1e-9):
                return f"group {w['tags']} at {k}: {dps[k]} != {x}"
    return None
