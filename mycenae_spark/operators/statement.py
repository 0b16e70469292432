"""One Spark SQL statement built stage by stage over one frame.

Each stage of the TSDB operators (merge, downsample and its fills, rate)
is written once, as SQL on a :class:`Statement`: the planner
(plans/tsdb.py) chains them into a served read's one statement, and the
operators' DataFrame forms run each alone on their input frame.

A :class:`Statement` is a nested SELECT under construction: every stage
wraps the relation so far in one more level, as the DataFrame call it
stands for would (``withColumn``, ``filter``, ``groupBy().agg()``).
Every value a caller supplies goes through :meth:`Statement.bind` and
becomes a named parameter, never part of the text; column names come from
the frame's schema and are backtick-quoted (:func:`ident`).
:meth:`Statement.run` analyses the whole statement with one
``sparkSession.sql`` call.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """``name`` backtick-quoted for the statement text."""
    return "`" + name.replace("`", "``") + "`"


class Statement:
    """A nested SELECT over ``frame``: the relation text so far, its output
    columns (in order, as the DataFrame it lowers would have them) and the
    named parameters every value is bound to."""

    def __init__(self, frame: DataFrame):
        self.frame = frame
        self.schema = frame.schema
        self._view = f"_stmt_{uuid.uuid4().hex}"
        self.text = self._view
        self.cols = list(self.schema.names)
        self.args: dict = {}

    def bind(self, value) -> str:
        """A parameter marker for ``value``; the value never enters the text."""
        name = f"p{len(self.args)}"
        self.args[name] = value
        return ":" + name

    def select(self, items, where: str | None = None,
               group_by: list[str] | None = None) -> None:
        """Wrap the relation in one more SELECT level over ``items``:
        (name, SQL expression) pairs, where a None expression passes the
        column through."""
        sel = ", ".join(
            ident(n) if e is None else f"{e} AS {ident(n)}" for n, e in items
        )
        text = f"SELECT {sel} FROM {self.text}"
        if where:
            text += f" WHERE {where}"
        if group_by:
            text += f" GROUP BY {', '.join(map(ident, group_by))}"
        self.text, self.cols = f"({text})", [n for n, _ in items]

    def with_column(self, name: str, expr: str) -> None:
        """``DataFrame.withColumn``: replace ``name`` in place, or append it."""
        items = [(c, expr if c == name else None) for c in self.cols]
        self.select(items + ([] if name in self.cols else [(name, expr)]))

    def where(self, pred: str) -> None:
        self.select([(c, None) for c in self.cols], where=pred)

    def group(self, keys: list[str], agg: str, out: str = "value") -> None:
        """One row per ``keys`` with ``agg`` as ``out``."""
        self.select([*((k, None) for k in keys), (out, agg)], group_by=keys)

    def run(self, keep: list[str] | None = None) -> DataFrame:
        """The statement as a DataFrame of the frame's session, its
        columns ``keep`` (default: all), analysed by one ``sql`` call.

        The frame enters as a temp view of this call only.  Not through
        ``sql()``'s frame keywords: those drop their view with
        ``Catalog.dropTempView``, which also uncaches the view's plan,
        and so would evict a persisted frame on every call.  The session
        catalog's own drop removes the name only; analysis has already
        inlined the frame's plan by then."""
        spark = self.frame.sparkSession
        cols = ", ".join(map(ident, self.cols if keep is None else keep))
        self.frame.createOrReplaceTempView(self._view)
        try:
            return spark.sql(f"SELECT {cols} FROM {self.text}", self.args)
        finally:
            spark._jsparkSession.sessionState().catalog().dropTempView(
                self._view)
