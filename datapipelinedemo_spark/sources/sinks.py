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
