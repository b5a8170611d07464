"""SparkSession factory tuned for this engine.

The reference creates a bare session (``/root/reference/demo.py:50``)
and then defeats Catalyst with UDFs and RDD detours. Here the session
is configured so that the declarative plans the rest of the package
builds get the optimizer behaviors that matter at 100 TB:

- AQE on (runtime shuffle coalescing, skew-join splitting) — the pair
  cooccurrence expansion and dictionary joins are skew-prone.
- Arrow on — any pandas-interchange (``mapInPandas`` multimodal ops,
  ``toPandas`` in tests) is batch-columnar, never row-pickled.
- UTC session timezone — parquet timestamps compare identically
  across Spark / DuckDB / pandas.
- shuffle partitions sized to the local core count by default; on a
  real cluster this would be set to ~2-3× total executor cores (or
  left to AQE's ``coalescePartitions`` with a high initial value).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "datapipelinedemo-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    sp = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dictionary/dimension tables (NER patterns ~25k rows, sentiment
        # lexicon, keyword→category map) must broadcast, never shuffle
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP(NANOS) parquet (one historical testdata generation)
        # reads as long under this flag; tables.table() floor-converts.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # getOrCreate can return a pre-existing session whose confs the
    # builder didn't fully apply; pin the correctness-critical pair here
    # (the session factory is the one sanctioned mutation point).
    ensure_runtime_confs(spark)
    return spark


# Sessions whose runtime confs have already been pinned; WeakSet so a
# stopped session doesn't keep its JVM-side wrapper alive through us.
_PINNED_SESSIONS: weakref.WeakSet = weakref.WeakSet()


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Idempotently pin the two runtime confs every plan depends on.

    ``get_spark`` sets both via the builder, so factory-built sessions
    never hit the mutation path; this guard exists for externally-built
    sessions (the driver's vanilla ``SparkSession``) and is called once
    per session at the catalog adapter boundary
    (``plans.catalog.register``), NOT inside readers — ``tables.table``
    is a pure function of its arguments.

    - UTC session timezone: literal anchors like
      ``F.lit('2024-02-01').cast('timestamp')`` and every
      ``date_format`` output are interpreted in the session TZ, while
      parquet-read instants are not — on a non-UTC host an unpinned
      session would shift the anchors but not the data, skewing ages
      and breaking formatted-string parity with DuckDB's naive
      timestamps.
    - ``nanosAsLong``: lets TIMESTAMP(NANOS) parquet (one historical
      testdata generation) be read at all; harmless for micros files.
    """
    if spark in _PINNED_SESSIONS:
        return
    # set unconditionally (idempotent values; Spark 4 validates even the
    # *default* arg of conf.get for the timezone conf, so get-then-set
    # is no safer than set)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _PINNED_SESSIONS.add(spark)


def session_key(spark: SparkSession) -> str:
    """Stable per-session cache key for plan/frame memos.

    ``id(spark)`` (the historic key) can collide after a session is
    stopped and the object garbage-collected — a recycled address
    would serve DataFrames bound to the dead session. The Spark
    application id is unique per started context (timestamped in
    local mode), so memos keyed on it can never cross sessions.
    """
    return spark.sparkContext.applicationId
