"""Tag filters, time-range, and value predicates (SURVEY.md §2.2).

OpenTSDB/mycenae filter types (upstream: filter resolution in ``lib/plot``
translated to Solr queries) map 1:1 onto Catalyst predicates, which then push
down to the parquet scan — the Spark-native equivalent of mycenae resolving
filters in Solr *before* touching Cassandra.

Filter types: ``literal_or``, ``not_literal_or``, ``iliteral_or``,
``wildcard``, ``iwildcard``, ``regexp`` — plus mycenae's ``filterValue``
post-read predicate on the datapoint value and the [start, end) time range
with OpenTSDB's inclusive-start / exclusive-end convention.
"""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def time_range(ts: Column, start, end) -> Column:
    """[start, end): inclusive start, exclusive end (OpenTSDB convention)."""
    return (ts >= F.lit(start)) & (ts < F.lit(end))


def glob_to_like(pattern: str) -> str:
    """OpenTSDB wildcard (``*`` only) → SQL LIKE pattern.

    ``%`` and ``_`` occurring literally are escaped so only ``*`` globs.
    """
    return pattern.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_").replace("*", "%")


_VALUE_OPS = {
    ">": lambda c, x: c > x,
    ">=": lambda c, x: c >= x,
    "<": lambda c, x: c < x,
    "<=": lambda c, x: c <= x,
    "==": lambda c, x: c == x,
    "!=": lambda c, x: c != x,
}


def parse_filter_value(spec: str) -> tuple[str, float]:
    """mycenae ``filterValue`` extension: ``\">5\"``, ``\"<=0.2\"`` … on
    values, as (operator, operand).

    (SURVEY.md §2.2 F9; upstream query struct + ``lib/plot`` math.)
    """
    spec = spec.strip()
    for op in (">=", "<=", "==", "!=", ">", "<"):
        if spec.startswith(op):
            return op, float(spec[len(op):])
    raise ValueError(f"bad filterValue: {spec!r}")


def filter_value(col: Column, spec: str) -> Column:
    """The ``filterValue`` predicate on ``col`` (:func:`parse_filter_value`)."""
    op, x = parse_filter_value(spec)
    return _VALUE_OPS[op](col, x)


def _values(arg) -> list:
    """The alternatives of a ``*literal_or`` filter: a list, or ``a|b|c``."""
    return arg if isinstance(arg, list) else arg.split("|")


def tag_filter_sql(col: str, ftype: str, arg, bind) -> str:
    """An OpenTSDB filter spec {type, filter} as a SQL predicate on the SQL
    expression ``col`` (a quoted column name, or an expression over
    columns): the one definition of each filter type.  Every filter value
    goes through ``bind`` (value → SQL text: a statement's parameter
    marker, or :func:`sql_literal`), never straight into the text."""
    ftype = ftype.lower()
    if ftype in ("literal_or", "not_literal_or", "iliteral_or"):
        values = _values(arg)
        if ftype == "iliteral_or":
            col, values = f"lower({col})", [v.lower() for v in values]
        if not values:  # IN () is no SQL; Spark's empty IN is false
            return "true" if ftype == "not_literal_or" else "false"
        test = f"{col} IN ({', '.join(bind(v) for v in values)})"
        return f"NOT {test}" if ftype == "not_literal_or" else test
    if ftype == "wildcard":
        return f"{col} LIKE {bind(glob_to_like(arg))}"
    if ftype == "iwildcard":
        return f"lower({col}) LIKE {bind(glob_to_like(arg.lower()))}"
    if ftype == "regexp":
        return f"{col} RLIKE {bind(arg)}"
    raise ValueError(f"unknown filter type: {ftype!r}")


def sql_literal(value) -> str:
    """``value`` as SQL literal text, for a Column form built with
    ``F.expr``.  A string is spelled by its UTF-8 bytes (``X'…'``), so
    none of its characters is ever read as SQL."""
    if isinstance(value, str):
        return f"CAST(X'{value.encode().hex()}' AS STRING)"
    if isinstance(value, (int, float)) and not isinstance(value, bool):
        kind = "INT" if isinstance(value, int) else "DOUBLE"
        return f"CAST('{value!r}' AS {kind})"
    raise TypeError(f"no SQL literal for {value!r}")


def build_tag_filter(col: str, ftype: str, arg) -> Column:
    """The Column form of :func:`tag_filter_sql` on the SQL expression
    ``col``."""
    return F.expr(tag_filter_sql(col, ftype, arg, sql_literal))

