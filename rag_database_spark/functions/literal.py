"""Driver-resolved value sets as Spark expressions, built in a constant
number of JVM calls.

``F.lit``, ``F.struct`` and ``Column.isin`` each make one JVM call per
value, so spelling a query batch's side as a ``create_map`` of literal
structs or an ``isin`` list costs O(values) calls at plan build: a
1024-query batch (a few thousand terms) spent ~45 s building its BM25
plan that way. These helpers ship the whole set as ONE string that the
JVM parses into the same expressions.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_literal(value: int | str) -> str:
    if isinstance(value, str):
        escaped = value.replace("\\", "\\\\").replace("'", "\\'")
        return f"'{escaped}'"
    return str(int(value))


def isin(col_name: str, values) -> Column:
    """``col_name IN (values)`` for ints or strings: the same ``In``
    predicate ``Column.isin`` builds, so it still reaches a Parquet scan
    as a pushed filter, parsed from one SQL string."""
    items = ", ".join(_sql_literal(v) for v in values)
    return F.expr(f"`{col_name}` IN ({items})")


def json_literal(value, data_type: str) -> Column:
    """``value`` (JSON-serializable: dicts → maps/structs, lists →
    arrays) as a constant of ``data_type`` (a DDL type string). It is
    ``from_json`` over one string literal; the optimizer folds it into a
    single literal, so it is not parsed per row."""
    return F.from_json(F.lit(json.dumps(value)), data_type)
