"""Salted aggregation equivalence on planted skew; stateful
streaming operator (applyInPandasWithState) snapshots."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datapipelinedemo_spark.operators.skew import salted_sum_count


def _skewed(spark):
    # one hot key (90%) + tail
    rows = [(0 if i % 10 else i % 7 + 1, float(i % 100)) for i in range(5000)]
    return spark.createDataFrame(rows, "k int, v double")


def test_salted_sum_count_equals_plain(spark):
    df = _skewed(spark)
    plain = {
        r.k: (r.s, r.c)
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    salted = {
        r.k: (r.total_v, r.cnt)
        for r in salted_sum_count(df, ["k"], {"v": "total_v"}, buckets=16).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert salted[k][1] == plain[k][1]
        assert abs(salted[k][0] - plain[k][0]) < 1e-6


def test_stateful_catalog_entry_crosses_batches(spark, sf_dir):
    # r9: the certified entry must exercise state ACROSS micro-batches
    # (not just one batch), and its final snapshots must equal the
    # batch aggregate bit-for-bit on the integer grid
    import uuid

    from datapipelinedemo_spark.plans.llm_ops import (
        _stateful_source_dir,
        streaming_stateful_user_totals,
    )
    from datapipelinedemo_spark.streaming.stateful import (
        running_user_totals_exact,
    )
    from datapipelinedemo_spark.tables import table

    got = {
        r.user_id: (r.n_events, r.total_value4)
        for r in streaming_stateful_user_totals(spark, sf_dir).collect()
    }
    ev = table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n, r.t4)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long")
            ).alias("t4"),
        )
        .collect()
    }
    assert got == want

    # multi-batch proof: run the stream again keeping ALL emissions —
    # users updated in both micro-batches emit twice
    src = _stateful_source_dir(spark, sf_dir)
    qname = f"stateful_proof_{uuid.uuid4().hex}"
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp, value double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    q = (
        running_user_totals_exact(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        emissions = spark.table(qname).count()
    finally:
        q.stop()
        spark.catalog.dropTempView(qname)
    assert emissions > len(want), (emissions, len(want))


@pytest.fixture()
def _private_tmp(tmp_path, monkeypatch):
    """Redirect the stateful-source cache into a fresh tmp dir and
    clear the in-process memo on both sides of the test."""
    import tempfile

    from datapipelinedemo_spark.plans import llm_ops

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    llm_ops._STATEFUL_SRC.clear()
    yield tmp_path
    llm_ops._STATEFUL_SRC.clear()


def test_stateful_source_rejects_symlink_squat(
    spark, sf_dir, _private_tmp
):
    """VERDICT r11 #4: a same-named SYMLINK planted at the predictable
    /tmp path, pointing at a _SUCCESS-bearing dir the current user
    owns, must not redirect the streaming input (os.stat would have
    followed it and passed the ownership check; lstat + the content
    stamp reject it)."""
    import hashlib

    from datapipelinedemo_spark.memo import table_stamp
    from datapipelinedemo_spark.plans import llm_ops
    from datapipelinedemo_spark.tables import table

    key = (sf_dir, table_stamp(sf_dir, "events"))
    tag = hashlib.md5(repr(key).encode()).hexdigest()[:12]
    predicted = _private_tmp / f"spark_graft_stateful_{os.getuid()}_{tag}"
    decoy = _private_tmp / "decoy"
    decoy.mkdir()
    (decoy / "_SUCCESS").touch()  # poisoned input: wrong/empty data
    os.symlink(decoy, predicted)

    src = llm_ops._stateful_source_dir(spark, sf_dir)
    assert os.path.realpath(src) != os.path.realpath(str(decoy))
    assert not os.path.islink(src)
    got = spark.read.parquet(src).count()
    assert got == table(spark, sf_dir, "events").count()


def test_stateful_source_stamped_reuse_and_concurrent_builders(
    spark, sf_dir, _private_tmp
):
    """Concurrent cold builders race benignly (one atomic rename wins,
    the loser adopts the winner's stamped dir or keeps its private
    copy); a later process reuses the published dir without
    rebuilding."""
    from concurrent.futures import ThreadPoolExecutor

    from datapipelinedemo_spark.plans import llm_ops
    from datapipelinedemo_spark.tables import table

    with ThreadPoolExecutor(2) as ex:
        futs = [
            ex.submit(llm_ops._stateful_source_dir, spark, sf_dir)
            for _ in range(2)
        ]
        res = [f.result() for f in futs]
    want = table(spark, sf_dir, "events").count()
    for r in res:
        assert os.path.exists(os.path.join(r, "_GRAFT_STAMP"))
        assert os.path.exists(os.path.join(r, "_SUCCESS"))
        assert spark.read.parquet(r).count() == want

    # new process simulation: memo cold, published dir present -> the
    # SAME dir comes back with no rebuild (mtime unchanged)
    llm_ops._STATEFUL_SRC.clear()
    published = [r for r in res if ".tmp" not in r and "stage" not in r]
    assert published
    m0 = os.lstat(published[0]).st_mtime_ns
    again = llm_ops._stateful_source_dir(spark, sf_dir)
    assert again == published[0]
    assert os.lstat(again).st_mtime_ns == m0
