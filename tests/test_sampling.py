"""Deterministic hash-mod sampling: reproducibility, nesting, and
stratified rates."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipelinedemo_spark.operators.sampling import stratified_hash_sample


def _uniform_sample(df, fraction, salt="s0"):
    # one rate for every row: the stratified sampler with no strata
    return stratified_hash_sample(df, "k", "k", {}, default=fraction, salt=salt)


def test_sample_is_deterministic_and_nested(spark):
    df = spark.range(10_000).withColumnRenamed("id", "k")
    s10a = {r.k for r in _uniform_sample(df, 0.10).collect()}
    s10b = {r.k for r in _uniform_sample(df, 0.10).collect()}
    assert s10a == s10b  # rerun-identical
    s05 = {r.k for r in _uniform_sample(df, 0.05).collect()}
    assert s05 <= s10a  # thresholds nest: 5% ⊂ 10%
    # rates land near nominal (md5 is uniform; 10k rows, loose bounds)
    assert 0.08 < len(s10a) / 10_000 < 0.12
    assert 0.035 < len(s05) / 10_000 < 0.065


def test_salt_decorrelates(spark):
    df = spark.range(10_000).withColumnRenamed("id", "k")
    a = {r.k for r in _uniform_sample(df, 0.10, salt="a").collect()}
    b = {r.k for r in _uniform_sample(df, 0.10, salt="b").collect()}
    # independent 10% samples overlap ~1%, not ~10%
    assert len(a & b) < 0.03 * 10_000


def test_stratified_rates(spark):
    df = spark.range(30_000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "fr")
        .otherwise("zh")
        .alias("lang"),
    )
    out = stratified_hash_sample(
        df, "k", "lang", {"en": 0.1, "fr": 1.0}, default=0.0
    )
    counts = {
        r.lang: r.c
        for r in out.groupBy("lang").agg(F.count("*").alias("c")).collect()
    }
    assert counts.get("zh", 0) == 0  # default rate
    assert counts["fr"] == 10_000  # keep-all stratum
    assert 800 < counts["en"] < 1200
