"""Schema-explicit loaders for the driver testdata.

The reference reads its input with ``inferSchema='True'``
(``/root/reference/demo.py:53``), paying a full extra scan before the
real job. Here every table has a declared schema; on parquet the
declared schema also guarantees stable column pruning + predicate
pushdown into the scan (check with ``df.explain('formatted')`` —
``ReadSchema`` must list only referenced columns).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLE_NAMES = (
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

# Declared schemas (FIXTURES.md §A). Parquet is self-describing, so these
# serve as contracts: loaders verify the footer schema matches and tests
# can build in-memory frames with identical types.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table. Parquet scan → column pruning and filter
    pushdown are handled by the DataSource V2 reader; callers should
    ``select`` only what they need as early as possible.

    ``events.ts`` has shipped in two physical shapes across testdata
    generations: parquet TIMESTAMP(NANOS) (no native Spark type — read
    as long via ``nanosAsLong`` and floor-converted to micros, matching
    DuckDB/pandas nanos→micros truncation) and plain TIMESTAMP(MICROS)
    (read as TIMESTAMP_NTZ). The loader inspects the read dtype and
    normalizes both to session-TZ TimestampType, so oracle comparisons
    agree to the microsecond either way; any other physical dtype is a
    testdata regression and raises instead of silently null-casting.

    This is a pure reader — no session mutation. The UTC-timezone /
    ``nanosAsLong`` runtime confs every plan depends on are pinned by
    ``session.get_spark`` at build time, or for externally-built
    sessions by ``session.ensure_runtime_confs`` at the catalog
    adapter boundary (``plans.catalog.register`` wraps each query
    callable), never at read time.
    """
    if name == "events":
        from pyspark.sql import functions as F

        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, T.TimestampNTZType):
            # TIMESTAMP_NTZ → TIMESTAMP: under the UTC session TZ pinned
            # above this is a wall-clock-identical relabel.
            return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        if isinstance(ts_type, T.TimestampType):
            return df
        raise TypeError(
            f"events.ts read as unexpected dtype {ts_type}; expected "
            "TIMESTAMP, TIMESTAMP_NTZ, or TIMESTAMP(NANOS)-as-long — "
            "testdata generation changed?"
        )
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
