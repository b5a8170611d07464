"""Parity shims for the reference's dead / moot-by-design code paths
(SURVEY.md §2 F14, F15) — implemented so the operator inventory is
complete even where the rebuild's architecture made the original
unnecessary. Each is a native expression (no Python row UDFs); the
docstrings record why the main pipelines never need them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def field_at(df: DataFrame, struct_col: str, index: int) -> Column:
    """F14 — positional struct-field access, natively.

    The reference pulls Topic/Category2/values out of RDD tuple keys
    with per-row UDFs (``lambda x: x[0]`` … ``demo.py:218-227,
    311-318, 411-422, 471-484``); the rebuild keys its groups on real
    columns so the extractors are moot — but a user porting code that
    still carries struct columns gets the same positional access as a
    zero-cost Catalyst ``GetStructField`` (codegen'd, null-propagating)
    by resolving the i-th field NAME from the schema."""
    field = df.schema[struct_col].dataType.fields[index]
    return F.col(struct_col).getField(field.name)


def nested_item(col: str | Column, *path: int) -> Column:
    """F14 — chained positional access (``x[0][1]`` shapes,
    ``demo.py:412-413, 472-473``) over array/tuple-like columns:
    ``nested_item("c", 0, 1)`` is the native ``c[0][1]``. Arrays are
    0-indexed with ``getItem`` exactly like Python indexing of the
    reference's tuples (no 1-based SQL ``element_at`` off-by-one)."""
    c = F.col(col) if isinstance(col, str) else col
    for i in path:
        c = c.getItem(i)
    return c


def pair_reversed(pair_col: str | Column) -> Column:
    """F15 — the dead ``TopicPair`` reversal (``demo.py:417, 479``):
    ``[x[0][1], x[0][0]]``. The reference computes it with a UDF whose
    return type is defaulted (StringType — the list would have been
    stringified had it ever been read) and then drops the column in
    the following groupBy; the rebuild provides the INTENDED
    semantics — reverse a 2-element pair — as a native expression.
    For genuine arrays ``F.reverse`` is equivalent; this spelled-out
    form also works on 2-field structs via ``nested_item``."""
    c = F.col(pair_col) if isinstance(pair_col, str) else pair_col
    return F.array(c.getItem(1), c.getItem(0))

