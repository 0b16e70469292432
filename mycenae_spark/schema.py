"""Point envelope schema, tsid derivation, validation, relative time.

Mycenae's data model (SURVEY.md §1.1, upstream ``lib/structs`` +
``lib/collector`` validation): a datapoint is a fixed envelope
``{metric, tags{k:v}, timestamp ms, value float64 | text string}`` with a
restricted charset for metric/tag strings, a mandatory ``ksid`` tag naming
the keyset, an optional ``ttl`` tag, and second-or-millisecond timestamps
normalized to ms.  A timeseries identity (tsid) is a hash of
(metric, sorted tags).

Spark mapping: one StructType; numeric-vs-text point = which of
``value``/``text`` is non-null; tsid = ``xxhash64(metric, canonical tags)``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
import pyspark.sql.functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

#: The fixed point envelope (SURVEY.md §1.2).  ``ts`` is epoch milliseconds
#: exactly as mycenae normalizes it; lake writers convert to TIMESTAMP.
POINT_SCHEMA = StructType(
    [
        StructField("metric", StringType(), nullable=False),
        StructField("tags", MapType(StringType(), StringType()), nullable=False),
        StructField("timestamp", LongType(), nullable=True),
        StructField("value", DoubleType(), nullable=True),
        StructField("text", StringType(), nullable=True),
    ]
)

#: Catalog row: the Solr metadata document reduced to its queryable core
#: (SURVEY.md §1.1 "Metadata document", upstream ``lib/metadata``).
CATALOG_SCHEMA = StructType(
    [
        StructField("ksid", StringType(), nullable=False),
        StructField("tsid", LongType(), nullable=False),
        StructField("metric", StringType(), nullable=False),
        StructField("tags", MapType(StringType(), StringType()), nullable=False),
    ]
)

# Charset accepted for metric names and tag keys/values (SURVEY.md §1.1
# "Tags": alphanumerics plus - . _ % & # ; /).  Anchored full-match.
VALID_NAME_RE = r"^[A-Za-z0-9\-\._%&#;/]+$"

RESERVED_TAG_KSID = "ksid"
RESERVED_TAG_TTL = "ttl"


def tsid_column(metric: Column, tags: Column) -> Column:
    """Deterministic series id: hash of metric + canonically ordered tags.

    Mirrors mycenae's series hashing (SURVEY.md §1.1 "Timeseries identity"):
    tags are serialized sorted by key so the id is insensitive to map order.
    ``map_entries`` + ``array_sort`` + ``to_json`` keeps the whole derivation
    JVM-side (no UDF).
    """
    canonical = F.to_json(F.array_sort(F.map_entries(tags)))
    return F.xxhash64(metric, canonical)


def normalize_timestamp_ms(ts: Column) -> Column:
    """Accept s or ms epoch numbers, normalize to ms (mycenae collector rule).

    Heuristic matches the reference's: values small enough to be seconds
    (< 10^12 ≈ year 33658 in s, year 2001 in ms) are scaled ×1000.
    """
    return F.when(ts < F.lit(10**12), ts * 1000).otherwise(ts)


def valid_point_predicate() -> Column:
    """Validation filter for the ingest stream (SURVEY.md §3.1 step 2).

    charset on metric and every tag k/v; ksid tag present; exactly one of
    value/text set.  Invalid rows are routed to an error side-output by the
    ingest job rather than failing the batch — mycenae's per-point error
    accounting (``lib/collector``).
    """
    metric_ok = F.col("metric").rlike(VALID_NAME_RE)
    keys_ok = F.forall(F.map_keys(F.col("tags")), lambda k: k.rlike(VALID_NAME_RE))
    vals_ok = F.forall(F.map_values(F.col("tags")), lambda v: v.rlike(VALID_NAME_RE))
    ksid_ok = F.col("tags").getItem(RESERVED_TAG_KSID).isNotNull()
    value_xor_text = F.col("value").isNotNull() != F.col("text").isNotNull()
    return metric_ok & keys_ok & vals_ok & ksid_ok & value_xor_text


_REL_RE = re.compile(r"^(\d+)(ms|s|m|h|d|w|n|y)-ago$")
_UNIT_MS = {
    "ms": 1,
    "s": 1000,
    "m": 60_000,
    "h": 3_600_000,
    "d": 86_400_000,
    "w": 7 * 86_400_000,
    "n": 30 * 86_400_000,  # OpenTSDB "n" = 30-day month
    "y": 365 * 86_400_000,
}

#: The fine rollup grain: every ingest front-end writes its fine
#: partials and sketch states on this interval, and the Engine and the
#: planner read the fine rollup lake at it.
FINE_ROLLUP_MS = 60_000


def parse_relative_time(spec: str | int, now_ms: int) -> int:
    """``Nx-ago`` → absolute epoch ms (SURVEY.md §2.4 W8, OpenTSDB contract).

    Integers pass through (normalized s→ms); strings must match ``Nunit-ago``.
    """
    if isinstance(spec, (int, float)) or (isinstance(spec, str) and spec.strip().isdigit()):
        ms = int(spec)
        return ms * 1000 if ms < 10**12 else ms
    m = _REL_RE.match(spec.strip())
    if not m:
        raise ValueError(f"bad relative time: {spec!r}")
    n, unit = int(m.group(1)), m.group(2)
    return now_ms - n * _UNIT_MS[unit]


_INTERVAL_RE = re.compile(r"^(\d+)(ms|s|m|h|d|w)$")


def parse_interval_ms(spec: str) -> int:
    """Downsample interval string (``1m``, ``30s``, ``2h`` …) → milliseconds."""
    m = _INTERVAL_RE.match(spec.strip())
    if not m:
        raise ValueError(f"bad interval: {spec!r}")
    return int(m.group(1)) * _UNIT_MS[m.group(2)]
