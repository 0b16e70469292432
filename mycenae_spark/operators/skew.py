"""Skew mitigation for hot series (SCALING.md §4).

A pathological series (one metric+tag combination carrying a large share of
all points) turns any per-series shuffle into a single hot partition.  AQE's
skew-join splitting handles the join case; for aggregations the standard fix
is *salting*: split the hot key into N sub-keys, partially aggregate, then
merge.  Deterministic salt = hash of a high-cardinality column, so re-runs
place rows identically.

``salted_downsample`` shows the two-phase shape for the downsample operator;
the same pattern applies to any per-series aggregation.  Rate/window
operators cannot be salted (they need full series order) — for those the
mitigation is range-partitioning the series' time axis, which downsampling
first (coarse buckets) usually makes unnecessary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from mycenae_spark.operators.downsample import bucket_ms_long, downsample_agg

#: Aggregators that re-merge losslessly from salted partials:
#: name → (partial agg, merge agg).
_MERGEABLE = {
    "sum": ("sum", "sum"),
    "min": ("min", "min"),
    "max": ("max", "max"),
    "count": ("count", "sum"),
}


def add_salt(df: DataFrame, n_salts: int, from_col: str = "event_id") -> DataFrame:
    """Deterministic salt column in [0, n_salts) from a high-card column."""
    return df.withColumn("_salt", F.pmod(F.xxhash64(F.col(from_col)), F.lit(n_salts)))


def salted_downsample(
    df: DataFrame,
    series_cols: list[str],
    interval_ms: int,
    agg: str,
    n_salts: int = 8,
    value_col: str = "value",
    ts_us_col: str = "ts_us",
    out_col: str = "value",
    salt_from: str = "event_id",
) -> DataFrame:
    """Two-phase downsample: partial agg on (series, bucket, salt) — spreads
    a hot series over n_salts reducers — then merge on (series, bucket).

    avg is decomposed into sum+count so the merge stays exact.
    """
    b = bucket_ms_long(F.col(ts_us_col), interval_ms)
    salted = add_salt(df, n_salts, salt_from).withColumn("bucket_ms", b)
    keys = [*series_cols, "bucket_ms"]

    if agg == "avg":
        partial = salted.groupBy(*keys, "_salt").agg(
            F.sum(value_col).alias("_s"), F.count(value_col).alias("_c")
        )
        return partial.groupBy(*keys).agg(
            (F.sum("_s") / F.sum("_c")).alias(out_col)
        )
    if agg not in _MERGEABLE:
        raise ValueError(f"aggregator {agg!r} is not salt-mergeable")
    p_agg, m_agg = _MERGEABLE[agg]
    partial = salted.groupBy(*keys, "_salt").agg(
        downsample_agg(p_agg, value_col).alias("_p")
    )
    return partial.groupBy(*keys).agg(downsample_agg(m_agg, "_p").alias(out_col))
