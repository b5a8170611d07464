"""Warehouse staples batch: SCD2 history build (gaps-and-islands),
unpivot/melt, time-RANGE window frames, and a one-pass data-quality
constraint report.

Each query is a classic warehouse/lakehouse operation a user of a
batch analytics engine reaches for weekly; all are pure Catalyst
expression plans with DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from datapipelinedemo_spark.pin import pin

from datapipelinedemo_spark.functions.stable import _scaled
from datapipelinedemo_spark.plans.catalog import register
from datapipelinedemo_spark.tables import table

_FMT = "yyyy-MM-dd HH:mm:ss"
_OPEN_END = "9999-12-31 00:00:00"


# --------------------------------------------------------------------------
# SCD2: per-user event_type history intervals (gaps-and-islands)
# --------------------------------------------------------------------------
@register(
    "scd2_user_type_history",
    oracle=f"""
    WITH x AS (
        SELECT user_id, ts, event_id, event_type,
               LAG(event_type) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id, event_type)
    ),
    g AS (
        SELECT user_id, ts, event_id, event_type,
               SUM(CASE WHEN prev IS NULL OR prev <> event_type
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id
                         ORDER BY ts, event_id, event_type
                         ROWS UNBOUNDED PRECEDING) AS grp
        FROM x
    ),
    islands AS (
        SELECT user_id, grp, event_type,
               MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM g GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type,
           strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(COALESCE(
               LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY grp),
               TIMESTAMP '{_OPEN_END}'), '%Y-%m-%d %H:%M:%S') AS valid_to,
           n_events
    FROM islands
    """,
)
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each user's
    event stream into [valid_from, valid_to) intervals of constant
    event_type, via the gaps-and-islands pattern (change flag → running
    island id → per-island MIN/COUNT → LEAD for the closing edge).

    All three windows and the groupBy share the user_id partitioning,
    so the whole build is ONE repartition of the stream (AQE reuses
    the exchange). The ORDER BY tie-break includes event_id AND
    event_type: the events table contains duplicate (ts, event_id)
    rows, and without the full tie-break the island assignment would
    be engine-dependent.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id", "event_type")
    g = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("grp"),
    )
    islands = g.groupBy("user_id", "grp", "event_type").agg(
        F.min("ts").alias("vf"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("grp")
    return islands.select(
        "user_id",
        "event_type",
        F.date_format("vf", _FMT).alias("valid_from"),
        F.date_format(
            F.coalesce(
                F.lead("vf").over(w2),
                F.lit(_OPEN_END).cast("timestamp"),
            ),
            _FMT,
        ).alias("valid_to"),
        "n_events",
    )


# --------------------------------------------------------------------------
# Unpivot / melt: the wide monthly pivot back to long form
# --------------------------------------------------------------------------
@register(
    "unpivot_monthly_events",
    oracle="""
    WITH m AS (
        SELECT DISTINCT CAST(year(ts) AS VARCHAR) || '-' ||
                        CAST(month(ts) AS VARCHAR) AS ym
        FROM events
    ),
    t AS (SELECT DISTINCT event_type FROM events),
    base AS (
        SELECT event_type,
               CAST(year(ts) AS VARCHAR) || '-' ||
               CAST(month(ts) AS VARCHAR) AS ym,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, m.ym, COALESCE(base.cnt, 0) AS cnt
    FROM t CROSS JOIN m
    LEFT JOIN base ON base.event_type = t.event_type AND base.ym = m.ym
    """,
)
def unpivot_monthly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.unpivot`` (melt): the wide month×type matrix from
    ``monthly_event_type_pivot`` back to tidy long form — the inverse
    transform users need when a wide export has to feed a relational
    consumer. Zero-filled cells survive the round trip (the oracle
    cross-joins the label domains to prove it).
    """
    from datapipelinedemo_spark.plans.relational import (
        monthly_event_type_pivot,
    )

    wide = monthly_event_type_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["event_type"],
        values=[c for c in wide.columns if c != "event_type"],
        variableColumnName="ym",
        valueColumnName="cnt",
    )


# --------------------------------------------------------------------------
# Time-RANGE window frame: trailing 7-day revenue, per day
# --------------------------------------------------------------------------
@register(
    "trailing_7d_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(FLOOR(o_totalprice * 1e4 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_scaled
        FROM orders GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(SUM(rev_scaled) OVER (
               ORDER BY day
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 1e4 AS rev_7d
    FROM daily
    """,
)
def trailing_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day revenue with a true time-RANGE frame (not a row
    frame — gaps in the calendar shrink the window, exactly like the
    SQL standard's RANGE INTERVAL).

    Spark's rangeBetween needs a numeric ordering column, so the frame
    runs over epoch seconds with a ±6-day offset. The daily aggregate
    is a partial-agg groupBy; the unpartitioned window then sorts only
    the DAILY grain (a few thousand rows at any corpus size), so the
    global window is not a scale hazard. Sums stay on the fixed-point
    grid until presentation.
    """
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(F.sum(_scaled("o_totalprice", 4)).alias("rev_scaled"))
    secs = F.col("day").cast("timestamp").cast("long")
    w = (
        Window.orderBy(secs)
        .rangeBetween(-6 * 86400, Window.currentRow)
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.sum("rev_scaled").over(w).cast("double") / 1e4).alias("rev_7d"),
    )


# --------------------------------------------------------------------------
# One-pass data-quality constraint report (Deequ-style)
# --------------------------------------------------------------------------
@register(
    "dq_orders_report",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_custkey,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct_orderkey,
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('P', 'O', 'F')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonpositive_price,
           strftime(MIN(o_orderdate), '%Y-%m-%d') AS min_orderdate,
           strftime(MAX(o_orderdate), '%Y-%m-%d') AS max_orderdate
    FROM orders
    """,
)
def dq_orders_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style constraint metrics in ONE scan + one aggregate:
    completeness (null count), uniqueness (distinct vs total), domain
    membership (status whitelist), value bounds, and freshness range.
    A pipeline gates on this row before publishing a partition; at
    100 TB it is still a single pass with map-side partials (the
    distinct-count is the only exchange-heavy term; swap in
    approx_count_distinct when exactness isn't required).
    """
    orders = table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_null_custkey"),
        F.countDistinct("o_orderkey").alias("n_distinct_orderkey"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("P", "O", "F"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_bad_status"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_nonpositive_price"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias(
            "min_orderdate"
        ),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias(
            "max_orderdate"
        ),
    )


# --------------------------------------------------------------------------
# Fuzzy entity matching: supplier names within edit distance 1
# --------------------------------------------------------------------------
@register(
    "fuzzy_supplier_names",
    oracle="""
    WITH v AS (SELECT DISTINCT s_name AS t FROM supplier),
    ex AS (
        SELECT t,
               unnest(list_distinct(list_append(
                   list_transform(generate_series(1, len(t)),
                                  i -> substring(t, 1, i - 1)
                                       || substring(t, i + 1)),
                   t))) AS var
        FROM v
    )
    SELECT DISTINCT a.t AS name_a, b.t AS name_b
    FROM ex a JOIN ex b ON a.var = b.var AND a.t < b.t
    WHERE levenshtein(a.t, b.t) <= 1
    """,
)
def fuzzy_supplier_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-identical supplier names (edit distance ≤ 1) via SymSpell
    deletion-neighborhood blocking — the entity-resolution primitive
    for catalog/vendor dedup. See ``operators.fuzzy`` for why the
    blocking is exact at distance 1 and how it avoids the V² cross
    join.
    """
    from datapipelinedemo_spark.operators.fuzzy import fuzzy_self_pairs

    return fuzzy_self_pairs(
        table(spark, sf_dir, "supplier"), "s_name", max_dist=1
    )


# --------------------------------------------------------------------------
# Trailing-window anomaly detection on hourly event volumes
# --------------------------------------------------------------------------
@register(
    "hourly_volume_anomalies",
    oracle="""
    WITH hourly AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type, h, c,
               COUNT(*) OVER w AS n_w,
               CAST(SUM(c) OVER w AS BIGINT) AS s1,
               CAST(SUM(c * c) OVER w AS BIGINT) AS s2
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY h
                     RANGE BETWEEN INTERVAL 24 HOUR PRECEDING
                               AND INTERVAL 1 HOUR PRECEDING)
    )
    SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, c,
           round(CAST(s1 AS DOUBLE) / n_w, 6) AS mean_trailing,
           CAST(n_w AS BIGINT) AS n_trailing
    FROM stats
    WHERE n_w >= 12
      AND (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n_w)
          * (CAST(c AS DOUBLE) - CAST(s1 AS DOUBLE) / n_w)
          > 4.0 * ((CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n_w) / n_w)
    """,
)
def hourly_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-spike detection: hours whose event count sits more than
    2σ from the trailing-24-hour mean (current hour excluded from its
    own baseline via the RANGE frame's -1h upper bound; baseline must
    have ≥12 observed hours).

    The hourly counts and their squares are exact BIGINTs, so mean and
    variance are identical IEEE expressions in both engines — a
    windowed anomaly monitor that hash-checks exactly. One shuffle for
    the hourly rollup, one per-type window sort.
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    secs = F.col("h").cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy(secs)
        .rangeBetween(-24 * 3600, -3600)
    )
    stats = hourly.select(
        "event_type",
        "h",
        "c",
        F.count(F.lit(1)).over(w).alias("n_w"),
        F.sum("c").over(w).alias("s1"),
        F.sum(F.col("c") * F.col("c")).over(w).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_w")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n_w")
    ) / F.col("n_w")
    dev = F.col("c").cast("double") - mean
    return (
        stats.filter(
            (F.col("n_w") >= 12) & (dev * dev > F.lit(4.0) * var)
        )
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "c",
            F.round(mean, 6).alias("mean_trailing"),
            F.col("n_w").cast("long").alias("n_trailing"),
        )
    )


# --------------------------------------------------------------------------
# Explicit GROUPING SETS (distinct surface from ROLLUP/CUBE)
# --------------------------------------------------------------------------
@register(
    "token_budget_grouping_sets",
    oracle="""
    SELECT lang, source,
           CAST(GROUPING(lang) AS BIGINT) AS g_lang,
           CAST(GROUPING(source) AS BIGINT) AS g_source,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source), ())
    """,
)
def token_budget_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus size accounting along TWO independent axes plus the
    grand total in ONE pass — explicit GROUPING SETS, not the
    rollup/cube lattices (which would also emit the unwanted
    (lang, source) cross cells). GROUPING() disambiguates real nulls
    from subtotal rows. Runs through spark.sql over a registered view:
    the same partial-agg single-shuffle plan as the DataFrame API.
    """
    docs = table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__docs_gs")
    return spark.sql(
        """
        SELECT lang, source,
               CAST(GROUPING(lang) AS BIGINT) AS g_lang,
               CAST(GROUPING(source) AS BIGINT) AS g_source,
               CAST(SUM(n_chars) AS BIGINT) AS chars_total,
               COUNT(*) AS n_docs
        FROM __docs_gs
        GROUP BY GROUPING SETS ((lang), (source), ())
        """
    )


# --------------------------------------------------------------------------
# Approximate percentiles (GK sketch). Sketch estimates are
# engine-specific, so the certified form checks the sketch's published
# rank guarantee: approx_percentile(q, accuracy A) returns a data value
# whose rank lies in [⌊(q−1/A)·n⌋, ⌈(q+1/A)·n⌉]. The query recomputes
# that rank exactly (count ≤ / count <) and emits ``within_bounds``,
# which the DuckDB twin recomputes as TRUE.
# --------------------------------------------------------------------------
@register(
    "approx_value_percentiles",
    oracle="""
    SELECT event_type, CAST(q AS DOUBLE) AS quantile,
           CAST(COUNT(*) AS BIGINT) AS n, TRUE AS within_bounds
    FROM events CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]) AS q) qs
    GROUP BY 1, 2
    """,
)
def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    ap = ev.groupBy("event_type").agg(
        F.expr(
            "approx_percentile(value, array(0.5, 0.9, 0.99), 10000)"
        ).alias("ap"),
        F.count(F.lit(1)).alias("n"),
    )
    qlits = F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
    pairs = (
        ap.select("event_type", "n", F.posexplode("ap").alias("i", "v"))
        .withColumn("quantile", F.element_at(qlits, F.col("i") + 1))
        .drop("i")
    )
    # exact rank of the sketch answer within its group: one broadcast
    # join (3 rows per type) + partial-agg count — no global sort
    eps = 1.0 / 10000.0
    ranks = (
        ev.join(F.broadcast(pairs), "event_type")
        .groupBy("event_type", "quantile", "n", "v")
        .agg(
            F.sum(
                F.when(F.col("value") <= F.col("v"), 1).otherwise(0)
            ).alias("rank_le"),
            F.sum(
                F.when(F.col("value") < F.col("v"), 1).otherwise(0)
            ).alias("rank_lt"),
        )
    )
    lo = F.floor((F.col("quantile") - F.lit(eps)) * F.col("n")) - F.lit(2)
    hi = F.ceil((F.col("quantile") + F.lit(eps)) * F.col("n")) + F.lit(2)
    return ranks.select(
        "event_type",
        "quantile",
        "n",
        ((F.col("rank_le") >= lo) & (F.col("rank_lt") <= hi)).alias(
            "within_bounds"
        ),
    )


# --------------------------------------------------------------------------
# Market-basket association: part pairs with support / confidence / lift
# --------------------------------------------------------------------------
@register(
    "basket_part_pairs_lift",
    oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
               FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_baskets FROM b),
    item AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
    pair AS (
        SELECT a.pk AS item1, b2.pk AS item2,
               CAST(COUNT(*) AS BIGINT) AS pair_count
        FROM b a JOIN b b2 ON a.ok = b2.ok AND a.pk < b2.pk
        GROUP BY 1, 2
    )
    SELECT item1, item2, pair_count,
           round(CAST(pair_count AS DOUBLE) / i1.c, 6) AS confidence,
           round(CAST(pair_count AS DOUBLE) * n_baskets
                 / (CAST(i1.c AS DOUBLE) * i2.c), 6) AS lift
    FROM pair
    JOIN item i1 ON pair.item1 = i1.pk
    JOIN item i2 ON pair.item2 = i2.pk
    CROSS JOIN n
    WHERE pair_count >= 3
    """,
)
def basket_part_pairs_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: for part pairs bought
    together ≥3 times, support count, confidence P(2|1) and lift
    P(1,2)/(P(1)P(2)).

    The pair expansion is the in-row array expression from
    ``operators/pairs.py`` (baskets are small — ~7 items — so k² is
    per-row codegen work, not a self-join); item supports broadcast
    back onto the pair aggregate; the basket total is a 1-row cross
    join. All counts are exact BIGINTs; the ratios are per-row IEEE
    ops, rounded for presentation.
    """
    from datapipelinedemo_spark.operators.pairs import pair_combinations

    from datapipelinedemo_spark.pin import pin

    li = table(spark, sf_dir, "lineitem")
    # r16: three consumers (baskets, n_baskets, item supports) each
    # re-ran the distinct's shuffle over the full lineitem scan
    b = pin(  # narrow-pin: 16 B/row (two bigint keys) — distinct (order, part) grain
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct()
    )
    baskets = b.groupBy("ok").agg(
        F.array_sort(F.collect_list("pk")).alias("items")
    )
    n = b.agg(F.countDistinct("ok").alias("n_baskets"))
    item = b.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    pair = (
        baskets.select(F.explode(pair_combinations("items")).alias("p"))
        .groupBy(
            F.col("p.item1").alias("item1"), F.col("p.item2").alias("item2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .filter(F.col("pair_count") >= 3)
    )
    i1 = item.select(F.col("pk").alias("item1"), F.col("c").alias("c1"))
    i2 = item.select(F.col("pk").alias("item2"), F.col("c").alias("c2"))
    return (
        pair.join(F.broadcast(i1), "item1")
        .join(F.broadcast(i2), "item2")
        .crossJoin(F.broadcast(n))
        .select(
            "item1",
            "item2",
            "pair_count",
            F.round(
                F.col("pair_count").cast("double") / F.col("c1"), 6
            ).alias("confidence"),
            F.round(
                F.col("pair_count").cast("double")
                * F.col("n_baskets")
                / (F.col("c1").cast("double") * F.col("c2")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Snapshot diff (CDC): yesterday's orders vs a perturbed today
# --------------------------------------------------------------------------
@register(
    "orders_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 97 <> 0
    ),
    new AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 AND o_orderstatus = 'O'
                    THEN 'F' ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders
    )
    SELECT COALESCE(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN old.o_orderstatus = new.o_orderstatus THEN 'unchanged'
                ELSE 'changed' END AS change_type,
           old.o_orderstatus AS o_orderstatus_old,
           new.o_orderstatus AS o_orderstatus_new
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE NOT (old.o_orderkey IS NOT NULL AND new.o_orderkey IS NOT NULL
               AND old.o_orderstatus = new.o_orderstatus)
    """,
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC reconciliation demo on deterministic synthetic versions:
    "old" drops every 97th order (→ added in new), "new" flips every
    13th open order to F (→ changed); everything else is unchanged and
    filtered out. Exercises ``operators/diff.py``'s full-outer +
    null-safe classification with an independent SQL twin. The
    o_totalprice column rides along uncompared-in-output to keep the
    result narrow.
    """
    from datapipelinedemo_spark.operators.diff import snapshot_diff

    orders = table(spark, sf_dir, "orders")
    old = orders.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey", "o_orderstatus"
    )
    new = orders.select(
        "o_orderkey",
        F.when(
            (F.col("o_orderkey") % 13 == 0) & (F.col("o_orderstatus") == "O"),
            "F",
        )
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    d = snapshot_diff(old, new, keys=["o_orderkey"])
    return d.filter(F.col("change_type") != "unchanged").select(
        "o_orderkey",
        "change_type",
        "o_orderstatus_old",
        "o_orderstatus_new",
    )


# --------------------------------------------------------------------------
# Equal-width histogram of event values (data-driven bounds)
# --------------------------------------------------------------------------
@register(
    "value_histogram_20bins",
    oracle="""
    WITH b AS (
        SELECT MIN(value) AS mn, MAX(value) AS mx FROM events
    )
    SELECT LEAST(CAST(FLOOR((value - mn) / ((mx - mn) / 20.0)) AS BIGINT),
                 19) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events, b
    GROUP BY 1
    """,
)
def value_histogram_20bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equal-width histogram with bounds from the data (1-row
    broadcast cross join, no driver collect). The bin index is
    identical IEEE arithmetic in both engines given identical min/max
    — a float lands in the same bin everywhere; the max value clamps
    into the last bin.
    """
    ev = table(spark, sf_dir, "events")
    b = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    binc = F.least(
        F.floor(
            (F.col("value") - F.col("mn"))
            / ((F.col("mx") - F.col("mn")) / 20.0)
        ).cast("long"),
        F.lit(19),
    )
    return (
        ev.crossJoin(F.broadcast(b))
        .groupBy(binc.alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --------------------------------------------------------------------------
# Exact cross-engine Pearson correlation (value vs hour-of-day)
# --------------------------------------------------------------------------
@register(
    "value_hour_correlation",
    oracle="""
    WITH x AS (
        SELECT event_type,
               CAST(hour(ts) AS BIGINT) AS h,
               CAST(FLOOR(value * 1e4 + 0.5) AS BIGINT) AS v4
        FROM events
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(h) AS BIGINT) AS sx,
               CAST(SUM(v4) AS BIGINT) AS sy,
               CAST(SUM(h * h) AS BIGINT) AS sxx,
               CAST(SUM(v4 * v4) AS BIGINT) AS syy,
               CAST(SUM(h * v4) AS BIGINT) AS sxy
        FROM x GROUP BY 1
    )
    SELECT event_type,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
                 6) AS pearson_r
    FROM s
    """,
)
def value_hour_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between event value and hour-of-day, per
    type — computed from exact BIGINT co-moment sums (values snapped
    to the 1e-4 grid), so the result is order-independent and
    bit-identical across engines; Spark's built-in ``corr`` streams
    FP co-moments and is neither. The whole thing is one partial-agg
    groupBy.
    """
    ev = table(spark, sf_dir, "events")
    x = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("h"),
        F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long").alias("v4"),
    )
    s = x.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("h").alias("sx"),
        F.sum("v4").alias("sy"),
        F.sum(F.col("h") * F.col("h")).alias("sxx"),
        F.sum(F.col("v4") * F.col("v4")).alias("syy"),
        F.sum(F.col("h") * F.col("v4")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (
            F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx")
        )
        * (
            F.col("n") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy")
        )
    )
    return s.select(
        "event_type", F.round(num / den, 6).alias("pearson_r")
    )


# --------------------------------------------------------------------------
# Right-to-erasure (GDPR) impact audit: cascading delete accounting.
# --------------------------------------------------------------------------
@register(
    "gdpr_erasure_audit",
    oracle="""
    WITH del AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 17 = 0
    ),
    ev AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS affected,
               CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS total
        FROM events JOIN del USING (user_id)
    ),
    od AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS affected,
               CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS total
        FROM orders JOIN del ON o_custkey = user_id
    ),
    li AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS affected,
               CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS total
        FROM lineitem
        JOIN orders ON o_orderkey = l_orderkey
        JOIN del ON o_custkey = user_id
    )
    SELECT 'events' AS tbl, affected, total,
           round(CAST(affected AS DOUBLE) / CAST(total AS DOUBLE), 6)
               AS affected_frac
    FROM ev
    UNION ALL
    SELECT 'orders', affected, total,
           round(CAST(affected AS DOUBLE) / CAST(total AS DOUBLE), 6)
    FROM od
    UNION ALL
    SELECT 'lineitem', affected, total,
           round(CAST(affected AS DOUBLE) / CAST(total AS DOUBLE), 6)
    FROM li
    """,
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure impact report: given a deletion cohort (the
    deterministic user_id % 17 = 0 stand-in for a request list), count
    the rows each table would lose — directly (events, orders via
    custkey) and transitively (lineitem through its order) — before
    running the actual delete.

    The cohort is broadcast to every fact table (a request list is
    always tiny relative to the facts), and each audit leg is ONE
    pass over its fact: a broadcast LEFT join adds a hit flag, and
    affected/total are two conditional counts of the same aggregate —
    no second count(*) scan per table, no fact-side shuffle at any
    scale. The lineitem leg resolves through the hit orders' keys
    (broadcast — the hit set is cohort-sized). The actual deletion at
    100 TB is the anti-join twin of each leg, written back
    partition-aligned.
    """
    ev = table(spark, sf_dir, "events")
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    del_users = (
        ev.filter(F.col("user_id") % 17 == 0)
        .select("user_id")
        .distinct()
        .withColumn("__hit", F.lit(1))
        # cohort-sized: pin so the three broadcast consumers share one
        # derivation instead of re-scanning events each
        .transform(pin)  # pin-bounded: deletion-cohort hit set
    )

    def leg(name: str, flagged) -> DataFrame:
        return flagged.agg(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("affected"),
            F.count(F.lit(1)).cast("long").alias("total"),
        ).select(
            F.lit(name).alias("tbl"),
            "affected",
            "total",
            F.round(
                F.col("affected").cast("double")
                / F.col("total").cast("double"),
                6,
            ).alias("affected_frac"),
        )

    ev_f = ev.join(F.broadcast(del_users), "user_id", "left")
    od_f = orders.join(
        F.broadcast(del_users),
        orders.o_custkey == del_users.user_id,
        "left",
    )
    od_hit_keys = (
        od_f.filter(F.col("__hit").isNotNull())
        .select("o_orderkey")
        .withColumn("__hit", F.lit(1))
        .transform(pin)  # pin-bounded: deletion-cohort hit set
    )
    li_f = li.join(
        F.broadcast(od_hit_keys),
        li.l_orderkey == od_hit_keys.o_orderkey,
        "left",
    )

    return (
        leg("events", ev_f)
        .unionByName(leg("orders", od_f))
        .unionByName(leg("lineitem", li_f))
    )


# --------------------------------------------------------------------------
# Join-key skew report — the diagnostic run BEFORE picking a shuffle
# strategy at scale: per candidate join key, how heavy is the heaviest
# key relative to uniform. skew_ratio_micro = max_cnt·distinct/total
# (1e6 = perfectly uniform); top1_share_micro = max_cnt/total. Both on
# exact integer grids (DECIMAL(38,0)/HUGEINT multiply then integer
# divide — int64 wraps past ~1e13-row hot keys), so the report
# hash-matches across engines with zero float involvement.
# --------------------------------------------------------------------------
def _skew_leg_sql(tbl: str, col: str) -> str:
    return f"""
    SELECT '{tbl}.{col}' AS key_name,
           CAST(SUM(c) AS BIGINT) AS total_rows,
           CAST(COUNT(*) AS BIGINT) AS distinct_keys,
           CAST(MAX(c) AS BIGINT) AS max_key_rows,
           CAST(CAST(MAX(c) AS HUGEINT) * 1000000 // SUM(c) AS BIGINT)
               AS top1_share_micro,
           CAST(CAST(MAX(c) AS HUGEINT) * COUNT(*) * 1000000 // SUM(c)
               AS BIGINT) AS skew_ratio_micro
    FROM (SELECT {col}, CAST(COUNT(*) AS BIGINT) AS c
          FROM {tbl} GROUP BY 1)
    """


@register(
    "key_skew_report",
    oracle=" UNION ALL ".join(
        [
            _skew_leg_sql("lineitem", "l_partkey"),
            _skew_leg_sql("lineitem", "l_orderkey"),
            _skew_leg_sql("orders", "o_custkey"),
            _skew_leg_sql("events", "user_id"),
            _skew_leg_sql("events", "event_type"),
        ]
    ),
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew diagnosis for the join/agg keys the relational and event
    plans shuffle on. Each leg is one partial-agg groupBy (map-side
    combine folds the fact before the shuffle) followed by a 1-row
    rollup — per leg the shuffle carries |distinct keys| rows, never
    the fact. The ratios drive the choice between plain shuffle, AQE
    skew-join, and explicit salting (operators/skew.py): a
    skew_ratio_micro of ~1e6 is uniform; event_type's (few huge keys)
    is the shape that needs salting.
    """

    def leg(tbl: str, col: str) -> DataFrame:
        counts = (
            table(spark, sf_dir, tbl)
            .groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        return counts.agg(
            F.lit(f"{tbl}.{col}").alias("key_name"),
            F.sum("c").cast("long").alias("total_rows"),
            F.count(F.lit(1)).cast("long").alias("distinct_keys"),
            F.max("c").cast("long").alias("max_key_rows"),
            # DECIMAL(38,0) accumulators (HUGEINT on the DuckDB side):
            # max(c)·distinct·1e6 wraps int64 past ~1e13-row keys, which
            # a 100 TB events table reaches (ADVICE r5)
            F.expr("cast(max(c) as decimal(38,0)) * 1000000 div sum(c)")
            .cast("long")
            .alias("top1_share_micro"),
            F.expr(
                "cast(max(c) as decimal(38,0)) * count(1) * 1000000"
                " div sum(c)"
            )
            .cast("long")
            .alias("skew_ratio_micro"),
        )

    legs = [
        leg("lineitem", "l_partkey"),
        leg("lineitem", "l_orderkey"),
        leg("orders", "o_custkey"),
        leg("events", "user_id"),
        leg("events", "event_type"),
    ]
    out = legs[0]
    for other in legs[1:]:
        out = out.unionByName(other)
    return out
