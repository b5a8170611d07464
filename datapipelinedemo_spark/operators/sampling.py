"""Deterministic hash-mod sampling (training-data pipelines).

``df.sample()`` / ``rand()`` sampling is nondeterministic across runs,
partitionings, and engines — useless for reproducible corpus builds.
Hash-mod sampling keys the decision on the ROW ITSELF:

    keep iff  md5_long(key) % denom < round(fraction * denom)

Properties a data pipeline actually needs:
- reproducible everywhere (any engine that can md5 — the DuckDB oracle
  checks it bit-for-bit);
- a pure narrow filter: no shuffle, pushes into the scan stage,
  trivially parallel at 100 TB;
- nested samples: the 5% sample is a strict subset of the 10% sample
  (thresholds nest), so sweeps reuse work;
- stratified rates per group (e.g. downsample overrepresented
  languages) are just a CASE over the threshold.

``md5_long`` (not ``xxhash64``) so results are oracle-reproducible;
swap the hash for xxhash64 in production for the same reasons as
``operators.dedup.shingle_hashes``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapipelinedemo_spark.functions.stable import md5_long

DENOM = 10_000  # rate resolution: 0.01%


def _bucket(key: Column, salt: str) -> Column:
    """Uniform bucket in [0, DENOM) from the row key (+ salt so
    independent samples don't correlate)."""
    s = F.concat(key.cast("string"), F.lit("#" + salt))
    return F.pmod(md5_long(s), F.lit(DENOM))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
    salt: str = "s0",
) -> DataFrame:
    """Per-stratum deterministic rates: e.g. keep 100% of low-resource
    languages and 5% of the dominant one."""
    thr: Column = F.lit(round(default * DENOM))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == value, F.lit(round(frac * DENOM))
        ).otherwise(thr)
    return df.filter(_bucket(F.col(key_col), salt) < thr)


def target_mix_sample(
    df: DataFrame,
    key_col: str,
    group_col: str,
    weights_bp: dict[str, int],
    budget: int,
    salt: str = "mix0",
) -> DataFrame:
    """Domain-mixing sampler: hit TARGET corpus proportions, with
    rates computed FROM the data (unlike ``stratified_hash_sample``,
    where rates are given).

    LLM corpus builds mix heterogeneous domains (web / books / code)
    to target weights rather than to whatever the crawl happened to
    contain. Given per-group target weights in basis points and a
    total row ``budget``, the per-group keep-threshold is

        t_g   = (budget * bp_g) div 10000          -- target rows
        thr_g = min(DENOM, t_g * DENOM div n_g)    -- hash threshold

    pure integer arithmetic (exact in every engine; under-represented
    groups cap at keep-everything rather than upsampling). The group
    counts are one partial-agg groupBy; the thresholds broadcast back,
    so the corpus-side plan stays a narrow filter — same 100 TB shape
    as the fixed-rate samplers above.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    wrows = [(g, bp) for g, bp in sorted(weights_bp.items())]
    wdf = df.sparkSession.createDataFrame(
        wrows, f"{group_col} string, __bp long"
    )
    thr = (
        counts.join(wdf, group_col)
        .select(
            group_col,
            F.least(
                F.lit(DENOM),
                F.expr(
                    f"(({budget} * __bp) div 10000) * {DENOM} div __n"
                ),
            ).alias("__thr"),
        )
    )
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(_bucket(F.col(key_col), salt) < F.col("__thr"))
        .drop("__thr")
    )
