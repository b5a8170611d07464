"""Core relational surface over the driver testdata.

The reference itself exercises only scan/filter/withColumn/groupBy/
pivot (SURVEY.md §2); this module covers that plus the §2.7 gap list
(joins of every flavor, windows, set ops, rollup/cube, distinct aggs,
as-of) so a reference user gets a complete relational engine.

Every query is written for 100 TB shape:
- filters/projections sit directly on the scan (pushdown visible in
  ``explain('formatted')`` as PushedFilters/ReadSchema);
- small dimensions are broadcast explicitly;
- aggregations are plain ``groupBy().agg`` → partial aggregation;
- LIMIT queries use fully deterministic ORDER BY with unique tie-break.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipelinedemo_spark.functions.stable import dec_avg, dec_sum
from datapipelinedemo_spark.operators.asof import asof_join_backward
from datapipelinedemo_spark.plans.catalog import register
from datapipelinedemo_spark.tables import table


def _dsum(expr: str, alias: str, scale: int = 4) -> str:
    """DuckDB oracle twin of ``functions.stable.dec_sum``: fixed-point
    floor-snap per value, exact BIGINT sum, presented as double."""
    f = float(10**scale)
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {f} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / {f} AS {alias}"
    )


def _davg(expr: str, alias: str, scale: int = 4) -> str:
    f = float(10**scale)
    return (
        f"CAST(SUM(CAST(FLOOR(({expr}) * {f} + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / (COUNT({expr}) * {f}) AS {alias}"
    )


# --------------------------------------------------------------------------
# Aggregation over the fact table (TPC-H Q1 shape: scan → filter → groupBy)
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity', 'sum_qty')},
           {_dsum('l_extendedprice', 'sum_base_price')},
           {_dsum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           {_davg('l_quantity', 'avg_qty')},
           {_davg('l_extendedprice', 'avg_price')},
           {_davg('l_discount', 'avg_disc', 6)},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_sum(charge, "sum_charge"),
            dec_avg("l_quantity", "avg_qty"),
            dec_avg("l_extendedprice", "avg_price"),
            dec_avg("l_discount", "avg_disc", 6),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# 3-way join + agg + deterministic top-k (TPC-H Q3 shape)
# --------------------------------------------------------------------------
@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# 6-way star join (TPC-H Q5 shape) — dims broadcast, fact tables shuffle
# --------------------------------------------------------------------------
@register(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name, {_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    # dims (region⋈nation⋈customer, and supplier) broadcast; the only
    # shuffle left is lineitem⋈orders on orderkey + the final agg.
    dim = (
        cust.join(
            F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
            cust.c_nationkey == nation.n_nationkey,
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dim), orders.o_custkey == dim.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == dim.c_nationkey),
        )
        .groupBy("n_name")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            )
        )
    )


# --------------------------------------------------------------------------
# Broadcast dimension join (part is small → map-side join, no shuffle)
# --------------------------------------------------------------------------
@register(
    "brand_revenue",
    oracle=f"""
    SELECT p_brand,
           {_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
           COUNT(*) AS line_count
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            dec_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
            F.count(F.lit(1)).alias("line_count"),
        )
    )


# --------------------------------------------------------------------------
# Semi / anti joins (reference gap §2.7)
# --------------------------------------------------------------------------
@register(
    "semi_join_urgent_customers",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
    """,
)
def semi_join_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    urgent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_mktsegment")


@register(
    "anti_join_orderless_customers",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_orderless_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# Distinct aggregates (reference gap §2.7)
# --------------------------------------------------------------------------
@register(
    "distinct_parts_per_flag",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(DISTINCT l_suppkey) AS distinct_suppliers,
           COUNT(*) AS line_count
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def distinct_parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct(F.col("l_partkey")).alias("distinct_parts"),
        F.count_distinct(F.col("l_suppkey")).alias("distinct_suppliers"),
        F.count(F.lit(1)).alias("line_count"),
    )


# --------------------------------------------------------------------------
# ROLLUP / CUBE grouping sets (reference gap §2.7)
# --------------------------------------------------------------------------
@register(
    "rollup_orders_year_priority",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year, o_orderpriority,
           {_dsum('o_totalprice', 'total_price')},
           COUNT(*) AS order_count
    FROM orders
    GROUP BY ROLLUP(order_year, o_orderpriority)
    """,
)
def rollup_orders_year_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("long").alias("order_year"),
        "o_orderpriority",
        "o_totalprice",
    )
    return orders.rollup("order_year", "o_orderpriority").agg(
        dec_sum("o_totalprice", "total_price"),
        F.count(F.lit(1)).alias("order_count"),
    )


@register(
    "cube_lineitem_flags",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity', 'sum_qty')},
           COUNT(*) AS line_count
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def cube_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dec_sum("l_quantity", "sum_qty"),
        F.count(F.lit(1)).alias("line_count"),
    )


# --------------------------------------------------------------------------
# Window functions (reference gap §2.7) — per-group top-k
# --------------------------------------------------------------------------
@register(
    "window_top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    ) WHERE rnk <= 3
    """,
)
def window_top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


# --------------------------------------------------------------------------
# Time-window aggregation over the event stream (batch form of the
# Structured Streaming tumbling window — same plan works under readStream)
# --------------------------------------------------------------------------
@register(
    "events_tumbling_1h",
    oracle=f"""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           COUNT(*) AS event_count,
           {_dsum('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            dec_sum("value", "sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "event_count",
            "sum_value",
        )
    )


# --------------------------------------------------------------------------
# JSON extraction from the event props column (reference gap §2.7)
# --------------------------------------------------------------------------
@register(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
               / COUNT(*) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        (F.sum(k).cast("double") / F.count(F.lit(1))).alias("avg_k"),
    )


# --------------------------------------------------------------------------
# Pivot — the reference's signature output shape (A6), explicit values
# --------------------------------------------------------------------------
@register(
    "monthly_event_type_pivot",
    oracle="""
    SELECT * FROM (
      PIVOT (SELECT event_type,
                    CAST(year(ts) AS VARCHAR) || '-' || CAST(month(ts) AS VARCHAR) AS ym
             FROM events)
      ON ym USING COUNT(*) GROUP BY event_type
    )
    """,
)
def monthly_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.concat(
            F.year("ts").cast("string"), F.lit("-"), F.month("ts").cast("string")
        ).alias("ym"),
    )
    # explicit pivot values: one tiny distinct job up front instead of
    # Catalyst's implicit one, and a deterministic column set
    labels = sorted(r[0] for r in ev.select("ym").distinct().collect())  # bounded-collect: distinct year-months, calendar-bounded pivot labels
    return ev.groupBy("event_type").pivot("ym", labels).count().fillna(0)


# --------------------------------------------------------------------------
# As-of join (reference gap §2.7): latest order at or before each event
# --------------------------------------------------------------------------
@register(
    "asof_latest_order_before_event",
    oracle="""
    WITH ro AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, r.o_orderkey,
           strftime(r.o_orderdate, '%Y-%m-%d') AS matched_orderdate
    FROM events e
    ASOF JOIN ro r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
)
def asof_latest_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ro = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join_backward(
        ev,
        ro,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        left_id="event_id",
        broadcast_right=False,
    )
    return joined.select(
        "event_id",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("matched_orderdate"),
    )


@register(
    "asof_sorted_latest_order",
    oracle="""
    WITH ro AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, r.o_orderkey,
           strftime(r.o_orderdate, '%Y-%m-%d') AS matched_orderdate
    FROM events e
    ASOF JOIN ro r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
    """,
)
def asof_sorted_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same as-of query as ``asof_latest_order_before_event`` but via
    the sorted (union + single shuffle + running-last) variant — the
    long-per-key-history scale path: no (left × matches) fan-out is
    ever materialized (operators/asof.py:asof_join_sorted)."""
    from datapipelinedemo_spark.operators.asof import asof_join_sorted

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ro = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join_sorted(
        ev,
        ro,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
    )
    return joined.select(
        "event_id",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("matched_orderdate"),
    )


# --------------------------------------------------------------------------
# Set operations (reference gap §2.7): UNION / INTERSECT / EXCEPT
# --------------------------------------------------------------------------
@register(
    "setops_customer_segments",
    oracle="""
    SELECT * FROM (
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       UNION
       SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      INTERSECT
      SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
    """,
)
def setops_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    machinery = cust.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    big = (
        orders.filter(F.col("o_totalprice") > 400000)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        building.union(machinery).distinct().intersect(urgent).subtract(big)
    )


# --------------------------------------------------------------------------
# Session windows (batch form of streaming.session_aggregates; the
# oracle is the classic gaps-and-islands formulation)
# --------------------------------------------------------------------------
@register(
    "events_session_windows",
    oracle=f"""
    WITH o AS (
        SELECT user_id, ts, value,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL '5 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                   ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           {_dsum('value', 'sum_value')}
    FROM s GROUP BY user_id, sid
    """,
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipelinedemo_spark.streaming.windows import session_aggregates

    ev = table(spark, sf_dir, "events").select("ts", "user_id", "value")
    return session_aggregates(ev, gap="5 minutes")


# --------------------------------------------------------------------------
# Sliding windows (2h window, 1h slide → each event in 2 windows)
# --------------------------------------------------------------------------
@register(
    "events_sliding_2h_1h",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS event_count
    FROM (
        SELECT event_type,
               unnest([time_bucket(INTERVAL '1 hour', ts),
                       time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour'])
                   AS ws
        FROM events
    )
    GROUP BY 1, 2
    """,
)
def events_sliding_2h_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipelinedemo_spark.streaming.windows import sliding_counts

    ev = table(spark, sf_dir, "events").select("ts", "event_type")
    return sliding_counts(ev, width="2 hours", slide="1 hour")


# --------------------------------------------------------------------------
# Streaming-style dedup: first event per (user, type) — keep-first
# semantics identical to dropDuplicates under watermark
# --------------------------------------------------------------------------
@register(
    "event_dedup_keep_first",
    oracle="""
    SELECT user_id, event_type, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def event_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.asc("ts"), F.asc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
    )


# --------------------------------------------------------------------------
# P1 — the reference's random-sample-then-limit, seeded (demo.py:55,59).
# rand(seed) has no cross-engine twin, so the certified form asserts
# the invariants a correct seeded sample must satisfy — exact size,
# key uniqueness, subset-of-source (left-antijoin count 0) — as columns
# a DuckDB twin recomputes exactly. The raw sampled rows stay available
# via ``seeded_sample_orders_raw`` (pytest + plans/tweets.py cover the
# row-level semantics).
# --------------------------------------------------------------------------
def seeded_sample_orders_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.rand(42), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "seeded_sample_orders",
    oracle="""
    SELECT CAST(LEAST(100, COUNT(*)) AS BIGINT) AS n_rows,
           CAST(LEAST(100, COUNT(*)) AS BIGINT) AS n_distinct_keys,
           CAST(0 AS BIGINT) AS n_not_in_source
    FROM orders
    """,
)
def seeded_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    sample = seeded_sample_orders_raw(spark, sf_dir)
    src = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("_src", F.lit(1))
    )
    joined = sample.join(
        src, on=["o_orderkey", "o_custkey", "o_totalprice"], how="left"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("o_orderkey").alias("n_distinct_keys"),
        F.sum(
            F.when(F.col("_src").isNull(), 1).otherwise(0)
        ).alias("n_not_in_source"),
    )


# --------------------------------------------------------------------------
# Hypertable-style continuous aggregate: daily totals derived FROM the
# hourly aggregate (reuse of the finer rollup instead of re-scanning
# raw events — at 100 TB the hourly table is ~10^4x smaller than raw)
# --------------------------------------------------------------------------
@register(
    "two_level_time_rollup",
    oracle="""
    WITH hourly AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
               COUNT(*) AS n,
               SUM(CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT)) AS v4
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(time_bucket(INTERVAL '1 day', h), '%Y-%m-%d') AS day,
           event_type,
           CAST(SUM(n) AS BIGINT) AS event_count,
           CAST(SUM(v4) AS DOUBLE) / 10000.0 AS sum_value
    FROM hourly GROUP BY 1, 2
    """,
)
def two_level_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("value") * 10000.0 + 0.5).cast("long")
        ).alias("v4"),
    )
    return hourly.groupBy(
        F.date_format(F.date_trunc("day", "h"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.sum("n").alias("event_count"),
        (F.sum("v4").cast("double") / F.lit(10000.0)).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Approximate distinct (HLL). Sketch estimates are engine-specific, so
# the certified form emits a ``within_3rsd`` bound check (|approx −
# exact| ≤ 3·rsd·exact + 1 — HLL++ at rsd 0.02 is inside 3σ with
# overwhelming probability) that the DuckDB twin recomputes as TRUE
# from the exact count. The exact count_distinct here is the
# certification harness, not the scale path — at scale the sketch
# column alone is the operator.
# --------------------------------------------------------------------------
@register(
    "approx_distinct_users_per_type",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_3rsd
    FROM events GROUP BY 1
    """,
)
def approx_distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("events"),
    )
    tol = F.lit(3 * 0.02) * F.col("exact_users") + F.lit(1)
    return agg.select(
        "event_type",
        "events",
        "exact_users",
        (F.abs(F.col("approx_users") - F.col("exact_users")) <= tol).alias(
            "within_3rsd"
        ),
    )


# --------------------------------------------------------------------------
# Map type + from_json: parse props into map<string,bigint>, explode
# entries (generic over any key set, unlike get_json_object)
# --------------------------------------------------------------------------
@register(
    "events_props_map_explode",
    oracle="""
    WITH kv AS (
        SELECT unnest(json_keys(props)) AS prop_key, props FROM events
    )
    SELECT prop_key,
           CAST(SUM(CAST(json_extract_string(props, '$.' || prop_key)
                         AS BIGINT)) AS BIGINT) AS total,
           COUNT(*) AS n
    FROM kv GROUP BY prop_key
    """,
)
def events_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return (
        ev.select(F.explode(m).alias("prop_key", "v"))
        .groupBy("prop_key")
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Array aggregation: deterministic collected lists (sorted, joined)
# --------------------------------------------------------------------------
@register(
    "suppliers_per_nation_list",
    oracle="""
    SELECT n.n_name,
           array_to_string(list_sort(list(DISTINCT s.s_name)), ',')
               AS supplier_names,
           COUNT(DISTINCT s.s_suppkey) AS n_suppliers
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def suppliers_per_nation_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("s_name")), ","
            ).alias("supplier_names"),
            F.count_distinct("s_suppkey").alias("n_suppliers"),
        )
    )


# --------------------------------------------------------------------------
# Datetime function depth: ISO weekday, end-of-month, date shift
# --------------------------------------------------------------------------
@register(
    "order_date_features",
    oracle="""
    SELECT o_orderkey,
           CAST(date_part('isodow', o_orderdate) AS INT) AS weekday_iso,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS eom,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL '30 days', '%Y-%m-%d')
               AS ship_by
    FROM orders
    """,
)
def order_date_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        # Spark weekday(): 0=Monday … 6=Sunday; ISO dow = weekday+1
        (F.weekday("o_orderdate") + 1).cast("int").alias("weekday_iso"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("eom"),
        F.date_format(
            F.date_add(F.to_date("o_orderdate"), 30), "yyyy-MM-dd"
        ).alias("ship_by"),
    )


# --------------------------------------------------------------------------
# Reference-parity shims under oracle certification (SURVEY §2 F14/F15):
# positional struct access + pair reversal as native expressions. The
# main pipelines never need these (groups key on real columns), but the
# inventory is complete and the semantics are driver-certified.
# --------------------------------------------------------------------------
@register(
    "pair_struct_extract_reverse",
    oracle="""
    SELECT lang AS topic, source AS topic2,
           source AS rev0, lang AS rev1,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY lang, source
    """,
)
def pair_struct_extract_reverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds the reference's tuple shapes (a struct pair and an array
    pair) from real columns, then round-trips them through the F14/F15
    shims: positional struct-field access (``functions.compat.field_at``,
    the native ``lambda x: x[i]``), chained ``x[0][i]`` access
    (``nested_item``), and the dead-code pair reversal
    (``pair_reversed``, ``demo.py:417,479`` intended semantics). The
    oracle states what the accessors must return — lang/source in the
    original and reversed positions."""
    from datapipelinedemo_spark.functions.compat import (
        field_at,
        nested_item,
        pair_reversed,
    )

    docs = table(spark, sf_dir, "documents").select(
        F.struct(F.col("lang"), F.col("source")).alias("key"),
        F.array(F.col("lang"), F.col("source")).alias("pair"),
    )
    shaped = docs.select(
        field_at(docs, "key", 0).alias("topic"),
        field_at(docs, "key", 1).alias("topic2"),
        pair_reversed("pair").alias("rev"),
    )
    return shaped.select(
        "topic",
        "topic2",
        nested_item("rev", 0).alias("rev0"),
        nested_item("rev", 1).alias("rev1"),
    ).groupBy("topic", "topic2", "rev0", "rev1").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).select("topic", "topic2", "rev0", "rev1", "n_docs")
