"""Read the driver-generated testdata lake (TESTDATA.md) scale-safely.

The read path is mycenae's ``lib/plot`` scan (SURVEY.md §2.1 S7) re-expressed
as ``spark.read.parquet`` + Catalyst pruning: predicate pushdown, column
pruning and row-group min/max skipping replace the reference's per-series
Cassandra bucket reads.  Nothing here collects to the driver.

Timestamp normalization
-----------------------
``events.parquet``'s ``ts`` physical type has DRIFTED across testdata
regenerations: originally parquet ``TIMESTAMP(NANOS)`` (Spark surfaces it as
BIGINT ns under ``spark.sql.legacy.parquet.nanosAsLong=true``), currently
``timestamp[us]`` (Spark reads TIMESTAMP_NTZ).  The reader therefore branches
on the *observed* dtype and always exposes the same contract for ``events``:

* ``ts``      TIMESTAMP (µs precision, session tz pinned UTC)
* ``ts_us``   BIGINT epoch microseconds (same instant, arithmetic-friendly)

matching DuckDB (the correctness oracle), which reads either physical type as
a µs timestamp (NANOS truncates).  For TIMESTAMP_NTZ the ``cast("timestamp")``
is mandatory before ``unix_micros`` — and exact, because the session timezone
is pinned UTC (session.py).  tests/test_schema_units.py pins this contract
against all three sf dirs so the next silent regeneration fails locally in
seconds instead of bricking a round.

All other tables' timestamps are already µs and pass through untouched.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from mycenae_spark.session import apply_session_confs

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes ``events`` timestamps (see module doc)."""
    apply_session_confs(spark)
    df = spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # legacy NANOS file under nanosAsLong: ns → µs floor-division
            # matches DuckDB's truncating read of NANOS.
            df = df.withColumn("ts_us", F.expr("ts div 1000"))
        elif ts_type in ("timestamp", "timestamp_ntz"):
            # current testdata: timestamp[us] (NTZ needs the cast; exact
            # because the session tz is pinned UTC).
            df = df.withColumn(
                "ts_us", F.unix_micros(F.col("ts").cast("timestamp"))
            )
        else:  # pragma: no cover - future drift (incl. a missing ts column)
            raise TypeError(
                f"events.ts has unsupported dtype {ts_type!r}; "
                "extend sources/tables.py::load_table"
            )
        # Re-derive ts from ts_us so its type is a plain TIMESTAMP
        # regardless of which physical encoding the file used.
        df = df.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
    return df


def events_as_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table viewed as mycenae datapoints.

    Mapping (SURVEY.md §2): ``event_type`` plays the metric, ``user_id`` the
    single tag, ``value`` the float64 datapoint value.  The tsid — mycenae's
    hash of (metric, sorted tags) used as the Cassandra row key
    (SURVEY.md §1.1, upstream ``lib/collector`` hashing) — collapses here to
    the (metric, tag) pair itself; a materialized hash is only needed for
    physical clustering, which Parquet partitioning already gives us.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("event_type").alias("metric"),
        F.col("user_id").alias("tag_user"),
        "ts",
        "ts_us",
        "value",
        "event_id",
        "props",
    )


#: Logical operators that keep a scan narrow: a projection, a filter or an
#: explode over a file scan (``LogicalRelation``), a checkpointed / local
#: frame (``LogicalRDD``), a ``Range``, or a ``Union`` of those.  Output
#: partitioning is the inputs', and ``df.rdd`` over them is a driver-side
#: conversion — zero jobs.  EVERY other node counts as exchange-bearing
#: (fail closed): a shuffling node reaching the ``df.rdd`` probe makes AQE
#: materialize its shuffle stages — REAL jobs at query-CONSTRUCTION time
#: (r19 ADVICE: kmeans_refine paid an eager scan+shuffle job per iteration
#: before the query even ran), and shuffling nodes are open-ended
#: (``cogroup().applyInPandas`` → FlatMapCoGroupsInPandas).  An unlisted
#: narrow node only costs a skipped spread, never a job.
_NARROW_NODES = frozenset({
    "Project", "Filter", "Generate", "LogicalRelation", "LogicalRDD",
    "Range", "Union",
})


def _has_exchange_op(df: DataFrame) -> bool:
    """True iff the ANALYZED logical plan contains any operator outside
    ``_NARROW_NODES``.  Pure plan-tree walk over py4j — no optimization,
    no RDD conversion, no jobs."""
    def walk(node) -> bool:
        if node.nodeName() not in _NARROW_NODES:
            return True
        children = node.children()
        for i in range(children.length()):
            if walk(children.apply(i)):
                return True
        return False

    return walk(df._jdf.queryExecution().analyzed())


def spread_scan(df: DataFrame) -> DataFrame:
    """Raise a compute-heavy frame's parallelism to the session default when
    its source scan under-parallelizes it (guide: input skew — an
    unsplittable input should be repartitioned right after the read).

    The testdata tables are single-row-group parquet files, so every scan
    yields ONE task; a kernel whose expensive work (shingle explosion,
    per-token hashing, per-pair verification) sits BEFORE its first
    exchange then runs on one core of the whole machine.  Round-robin
    repartitioning the narrow pre-kernel projection costs a shuffle of the
    projected bytes only, and buys kernel parallelism = cores (measured at
    sf0.1/32 cores: simhash64 8.5 → 4.8 s, exact-substr 3.0 → 1.2 s,
    char-entropy 2.9 → 1.1 s — §2.5's one-unsplittable-file fix).

    SCALE-ADAPTIVE, not a local[32] tuning constant: when the scan is
    already at least core-parallel (any real multi-file / multi-row-group
    table — at 100 TB a corpus scan has ~10⁵ splits), this is the identity
    and NO exchange is inserted.  Callers apply it to the narrow projection
    they are about to explode, never to payload-wide rows.

    Probe discipline (r19 ADVICE, medium): the under-parallelism probe must
    not itself run jobs.  ``df.rdd`` on a plan that already contains an
    exchange materializes its shuffle stages under AQE — a real scan+shuffle
    job at query-construction time, paid once per ``spread_scan`` call (the
    kmeans_refine loop re-entered this per iteration).  So: unless the
    analyzed plan is made only of ``_NARROW_NODES``, this is the identity
    WITHOUT any probe; only pure narrow scan plans (where ``.rdd`` is a
    driver-side conversion, zero jobs) fall through to the exact
    partition-count probe.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if _has_exchange_op(df):
        return df
    if df.rdd.getNumPartitions() < parallelism:
        return df.repartition(parallelism)
    return df


def explode_ne(col) -> "Column":
    """``explode`` for an array column that is provably NON-NULL and
    NON-EMPTY by construction (e.g. built behind a ``size(...) >= k``
    filter on its source array, or over a filtered non-null column).

    Uses ``explode_outer`` underneath — same rows as ``explode`` under
    the precondition — because plain ``explode`` triggers Catalyst's
    InferFiltersFromGenerate: the optimizer inserts
    ``size(e) > 0 AND isnotnull(e)`` and, after projection collapse,
    the generator's input expression is inlined into BOTH filter
    conjuncts and the projection — three evaluations per row, and
    higher-order-function pipelines (transform/slice/concat_ws …)
    evaluate INTERPRETED, outside WholeStageCodegen.  Measured on the
    trigram-shingle build at sf0.1: explode 4.6 s → explode_outer 1.6 s
    for identical output (260 388 rows both ways).

    The caller owns the precondition: on a null/empty array
    ``explode_outer`` would emit one row with a NULL element where
    ``explode`` emits nothing — only use this where that row cannot
    exist."""
    import pyspark.sql.functions as F

    return F.explode_outer(col)
