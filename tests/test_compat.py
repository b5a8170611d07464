"""Reference-parity shims (SURVEY §2 F14/F15): positional struct
access and pair reversal reproduce the reference's dead/moot code paths
with native expressions."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipelinedemo_spark.functions.compat import (
    field_at,
    nested_item,
    pair_reversed,
)


def _frame(spark):
    return spark.createDataFrame(
        [("soda", "tonic", 7), ("ginger ale", "cola", 3)],
        ["a", "b", "n"],
    ).select(
        F.struct("a", "b", "n").alias("key"),
        F.array("a", "b").alias("pair"),
        F.array(F.array("a", "b"), F.array("b", "a")).alias("nested"),
    )


def test_field_at_positional(spark):
    df = _frame(spark)
    got = df.select(
        field_at(df, "key", 0).alias("x"),
        field_at(df, "key", 2).alias("y"),
    ).collect()
    assert {(r.x, r.y) for r in got} == {("soda", 7), ("ginger ale", 3)}


def test_nested_item_is_python_indexing(spark):
    # x[0][1] over the nested column == Python indexing of the tuple
    df = _frame(spark)
    got = df.select(nested_item("nested", 0, 1).alias("v")).collect()
    assert {r.v for r in got} == {"tonic", "cola"}


def test_pair_reversed_intended_semantics(spark):
    # demo.py:417/479 intent: [x[1], x[0]]; equals F.reverse on arrays
    df = _frame(spark)
    got = df.select(
        pair_reversed("pair").alias("r"),
        F.reverse("pair").alias("builtin"),
    ).collect()
    for r in got:
        assert r.r == r.builtin and r.r[0] in {"tonic", "cola"}

