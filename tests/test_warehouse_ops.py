"""SCD2 islands, unpivot round-trip, RANGE frame, DQ report, domain mix."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from datapipelinedemo_spark.operators.sampling import target_mix_sample


def test_scd2_islands_planted(spark, sf_dir):
    # synthetic stream: A A B A → three islands with the right spans
    from datapipelinedemo_spark.plans import warehouse_ops  # noqa: F401

    rows = [
        (1, dt.datetime(2024, 1, 1, 0), 10, "A"),
        (1, dt.datetime(2024, 1, 1, 1), 11, "A"),
        (1, dt.datetime(2024, 1, 1, 2), 12, "B"),
        (1, dt.datetime(2024, 1, 1, 3), 13, "A"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    from pyspark.sql import Window

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
    islands = (
        g.groupBy("user_id", "grp", "event_type")
        .agg(F.min("ts").alias("vf"), F.count(F.lit(1)).alias("n"))
        .orderBy("grp")
        .collect()
    )
    assert [(r.event_type, r.n) for r in islands] == [("A", 2), ("B", 1), ("A", 1)]


def test_scd2_intervals_tile_per_user(spark, sf_dir):
    # intervals per user must be contiguous: each valid_to equals the
    # next valid_from, and the last is the open-end sentinel
    from datapipelinedemo_spark.plans.warehouse_ops import (
        scd2_user_type_history,
    )

    out = scd2_user_type_history(spark, sf_dir)
    one_user = out.filter(F.col("user_id") == out.first().user_id).orderBy(
        "valid_from"
    )
    rows = one_user.collect()
    for a, b in zip(rows, rows[1:]):
        assert a.valid_to == b.valid_from
    assert rows[-1].valid_to == "9999-12-31 00:00:00"


def test_unpivot_roundtrip_totals(spark, sf_dir):
    from datapipelinedemo_spark.plans.warehouse_ops import (
        unpivot_monthly_events,
    )
    from datapipelinedemo_spark.tables import table

    total = (
        unpivot_monthly_events(spark, sf_dir)
        .agg(F.sum("cnt"))
        .collect()[0][0]
    )
    assert total == table(spark, sf_dir, "events").count()


def test_trailing_7d_monotone_vs_daily(spark, sf_dir):
    # the 7-day trailing sum is >= the single-day revenue everywhere
    from datapipelinedemo_spark.plans.warehouse_ops import trailing_7d_revenue
    from datapipelinedemo_spark.functions.stable import dec_sum
    from datapipelinedemo_spark.tables import table

    daily = (
        table(spark, sf_dir, "orders")
        .groupBy(F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("day"))
        .agg(dec_sum("o_totalprice", "rev"))
    )
    j = trailing_7d_revenue(spark, sf_dir).join(daily, "day")
    assert j.filter(F.col("rev_7d") < F.col("rev") - 1e-9).count() == 0


def test_target_mix_sample_caps_and_rates(spark):
    # group 'a': 10 rows, target 100 rows → capped at keep-all;
    # group 'b': 1000 rows, target ~10 → ~1% kept, deterministic
    rows = [(i, "a") for i in range(10)] + [(1000 + i, "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, g string")
    out = target_mix_sample(
        df, "k", "g", {"a": 9000, "b": 1000}, budget=110
    )
    by_g = {r.g: r.cnt for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert by_g["a"] == 10  # capped at 100%
    assert 0 < by_g.get("b", 0) < 50  # ~11 expected, hash-noise tolerant
    # deterministic: same call → same rows
    ids1 = sorted(r.k for r in out.collect())
    ids2 = sorted(
        r.k
        for r in target_mix_sample(
            df, "k", "g", {"a": 9000, "b": 1000}, budget=110
        ).collect()
    )
    assert ids1 == ids2


def test_approx_percentiles_within_tolerance(spark, sf_dir):
    # the certified invariant form: every sketch answer's exact rank lies
    # inside the sketch's published rank window (within_bounds all TRUE)
    from datapipelinedemo_spark.plans.warehouse_ops import approx_value_percentiles
    from datapipelinedemo_spark.tables import table

    rows = approx_value_percentiles(spark, sf_dir).collect()
    types = {
        r.event_type
        for r in table(spark, sf_dir, "events").select("event_type").distinct().collect()
    }
    assert len(rows) == 3 * len(types)
    for r in rows:
        assert r.within_bounds, (r.event_type, r.quantile)


def test_snapshot_diff_nullsafe_classification(spark):
    from datapipelinedemo_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, "d")], "k long, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (5, "e")], "k long, v string"
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, keys=["k"]).collect()
    }
    # null→value and value→null are CHANGED (null-safe compare), not
    # unchanged; 4 removed, 5 added
    assert got == {
        1: "unchanged",
        2: "changed",
        3: "changed",
        4: "removed",
        5: "added",
    }
