"""Skew mitigation: salting for hot keys.

AQE's skew-join splitting handles most runtime skew; salting is the
explicit tool for *aggregation* hot keys (a single key whose group
does not fit one task). Pattern: two-stage aggregate — partial agg on
(key, salt), final agg on key. Works for any decomposable aggregate
(sum/count/min/max).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, key_cols: list[str], buckets: int) -> DataFrame:
    """Deterministic salt derived from the whole row's xxhash64 — rows
    of the same hot key scatter across ``buckets`` partial groups."""
    return df.withColumn(
        "__salt",
        (F.xxhash64(*df.columns) % buckets + buckets) % buckets,
    )


def salted_sum_count(
    df: DataFrame,
    key_cols: list[str],
    sum_cols: dict[str, str],
    buckets: int = 16,
) -> DataFrame:
    """Two-stage skew-safe SUM/COUNT: ``sum_cols`` maps input column →
    output alias; a ``cnt`` column is always produced. Result is
    identical to a direct groupBy (sums are associative); the first
    stage bounds any single task's group size to ~1/buckets of the
    hot key."""
    stage1 = (
        with_salt(df, key_cols, buckets)
        .groupBy(*key_cols, "__salt")
        .agg(
            *[F.sum(c).alias(f"__s_{c}") for c in sum_cols],
            F.count(F.lit(1)).alias("__cnt"),
        )
    )
    return stage1.groupBy(*key_cols).agg(
        *[F.sum(f"__s_{c}").alias(alias) for c, alias in sum_cols.items()],
        F.sum("__cnt").alias("cnt"),
    )
