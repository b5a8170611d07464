"""S2 — CSV sinks.

The reference collects every output to the driver via ``toPandas()``
and writes with pandas (demo.py:234,324,430,492). Distributed sink:
``DataFrameWriter.csv``, coalesced to one partition for
golden-file-shaped outputs (fine for pivot tables — they are small by
construction; never do this for fact data)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_csv(df: DataFrame, path: str) -> None:
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
