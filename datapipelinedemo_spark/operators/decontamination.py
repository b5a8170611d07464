"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The standard LLM training-data hygiene step (GPT-3 appendix C / Llama
style): any training document containing an n-gram (n≈13 words) that
also occurs in an evaluation benchmark is flagged (dropped or
bucketed for dedicated review) so downstream eval numbers aren't
inflated by memorized test data.

Scale shape: the benchmark side is always tiny relative to a 100 TB
training corpus — a few million grams at most — so its DISTINCT gram
set is broadcast and the training side never shuffles: tokenize →
in-row gram expression → explode → broadcast-hash semi/inner join →
partial-agg count per doc. Zero wide exchanges of corpus data; the
only shuffle is the final per-doc count, keyed on the training doc id
(and Catalyst's partial aggregation makes that count map-side first).

For cross-engine oracle parity grams are joined as plain strings; in
production hash them (``xxhash64``) to shrink the broadcast and the
join keys — the plumbing is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from datapipelinedemo_spark.functions.text import tokenize


def ngrams_of_tokens(tokens_col, n: int) -> Column:
    """Array of space-joined ``n``-grams over an ALREADY-MATERIALIZED
    token-array column.

    Takes a column (not an inline tokenize expression) deliberately:
    Catalyst inlines nested expressions into higher-order-function
    lambdas, so ``slice(tokenize(text), i, n)`` re-tokenizes the text
    once per gram position (~60× per doc). Tokenize into a real
    column first, then call this on that column.

    Documents shorter than ``n`` tokens yield an empty array —
    ``sequence`` would otherwise count DOWNWARD (Spark auto-steps -1),
    so the guard is load-bearing.
    """
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def contamination_counts(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Per contaminated training doc: how many DISTINCT of its n-grams
    occur anywhere in the benchmark set.

    Returns ``(id_col, n_shared_grams)`` — only docs with ≥1 shared
    gram appear; left-anti join this back onto ``train`` to get the
    clean corpus.
    """
    bench_grams = (
        bench.select(tokenize(text_col).alias("__toks"))
        .select(F.explode(ngrams_of_tokens("__toks", n)).alias("gram"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col), tokenize(text_col).alias("__toks")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(ngrams_of_tokens("__toks", n))).alias(
            "gram"
        ),
    )
    return (
        train_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )


# --------------------------------------------------------------------------
# Bloom-filter membership: the corpus side never shuffles at all.
# --------------------------------------------------------------------------

BLOOM_BITS = 1 << 16  # 65536-bit filter (2048 x 32-bit words)


def bloom_words(
    bench: DataFrame, text_col: str, n: int, m_bits: int = BLOOM_BITS
) -> list[int]:
    """Build the benchmark Bloom bitmap as ``m_bits // 32`` 32-bit
    words (stored in Python ints, embedded as a plan literal).

    Two md5-derived hash functions per gram (hex chars 1-15 and 17-31
    of one md5, each mod ``m_bits``) — fully deterministic, so an
    oracle that recomputes the same bitmap reproduces EXACTLY the same
    member set, false positives included.

    The driver-side collect is bounded by ``m_bits`` distinct bit
    positions (512 KB of ints at the default), a plan constant in the
    IVF-centroid sense — NOT benchmark-sized: the distinct-position
    frame saturates at m long before a real benchmark set does.
    """
    grams = (
        bench.select(tokenize(text_col).alias("__toks"))
        .select(F.explode(ngrams_of_tokens("__toks", n)).alias("gram"))
        .distinct()
    )
    pos = (
        grams.select(F.expr("md5(gram)").alias("h"))
        .select(
            F.explode(
                F.array(
                    F.expr(
                        "cast(conv(substring(h, 1, 15), 16, 10) as bigint)"
                        f" % {m_bits}"
                    ),
                    F.expr(
                        "cast(conv(substring(h, 17, 15), 16, 10) as bigint)"
                        f" % {m_bits}"
                    ),
                )
            ).alias("p")
        )
        .distinct()
    )
    words = [0] * (m_bits // 32)
    for r in pos.collect():  # bounded-collect: distinct Bloom bit positions <= m_bits
        p = int(r.p)
        words[p // 32] |= 1 << (p % 32)
    return words


def bloom_contamination_counts(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    m_bits: int = BLOOM_BITS,
    words: list[int] | None = None,
) -> DataFrame:
    """``contamination_counts`` with the benchmark side folded into a
    Bloom bitmap: per training doc, how many of its DISTINCT n-grams
    test positive (``(id_col, bloom_hits)``, only docs with >= 1 hit).

    This is the true 100 TB shape when the benchmark set is too large
    to broadcast-join comfortably: the bitmap is O(m_bits) bytes no
    matter how many benchmark grams exist, membership is a pure
    projection (md5 once per gram, two word probes against a
    constant-folded literal array — no join), and the corpus side's
    only shuffle is the map-side-combining per-doc count. Superset
    semantics: Bloom false positives make ``bloom_hits >=
    n_shared_grams`` per doc; size m_bits against the benchmark gram
    count for the target FP rate (m = 65536 with 2 hashes and ~2k
    grams -> FP ~ 0.4%), and feed flagged docs to the exact
    `contamination_counts` join as the verify stage when over-flagging
    matters (the LSH-then-verify pattern).

    The probes run on EXPLODED gram rows, not inside an array-lambda:
    higher-order-function lambdas evaluate interpreted (outside
    whole-stage codegen), which made the lambda form ~4x slower than
    the exact broadcast join it was meant to beat; as a flat
    projection the md5+conv+probe chain stays in codegen.
    """
    if words is None:
        words = bloom_words(bench, text_col, n, m_bits)
    # the bitmap literal appears ONCE in the plan (a projected
    # constant-folded column) and each probe references it by name —
    # inlining it per probe would put 2x m/32 literals into the
    # filter's expression tree
    wlit = "array(" + ",".join(f"{w}L" for w in words) + ")"
    probe = (
        "(shiftright(element_at(__W, cast(__p{i} div 32 as int) + 1),"
        " cast(__p{i} % 32 as int)) & 1) = 1"
    )
    return (
        train.select(
            F.col(id_col), tokenize(text_col).alias("__toks")
        )
        .select(
            id_col,
            F.explode(
                F.array_distinct(ngrams_of_tokens("__toks", n))
            ).alias("__g"),
        )
        .select(id_col, F.expr("md5(__g)").alias("__h"))
        .select(
            id_col,
            F.expr(
                f"cast(conv(substring(__h, 1, 15), 16, 10) as bigint)"
                f" % {m_bits}"
            ).alias("__p1"),
            F.expr(
                f"cast(conv(substring(__h, 17, 15), 16, 10) as bigint)"
                f" % {m_bits}"
            ).alias("__p2"),
        )
        .withColumn("__W", F.expr(wlit))
        .filter(F.expr(f"{probe.format(i=1)} and {probe.format(i=2)}"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("bloom_hits"))
    )


# --------------------------------------------------------------------------
# Fuzzy (MinHash-LSH) decontamination: near-duplicate contamination
# that exact-gram matching misses when benchmark text was lightly
# paraphrased, re-wrapped, or re-tokenized.
# --------------------------------------------------------------------------


def fuzzy_contamination_counts(
    banded: "DataFrame", bench_pred, id_alias: str = "doc_id"
) -> "DataFrame":
    """Flag corpus docs whose banded MinHash signature collides with
    any benchmark doc, from ONE banded index frame ``(doc, band,
    key)`` split by ``bench_pred`` (a Column predicate over ``doc``
    selecting the benchmark members).

    Scale shape: the corpus side is the STORED write-once banded
    index — never re-signed per benchmark refresh; the benchmark
    side (a real eval set is 10³-10⁶ docs, vs a 10¹¹-doc corpus) is
    broadcast, so the corpus never shuffles for the match: broadcast
    hash join on (band, key), then one partial-agg distinct-count
    keyed on the corpus doc. Output ``(id_alias, n_bench_partners)``
    for flagged docs only — left-anti join back for the clean build.
    """
    bench = banded.filter(bench_pred).select(
        "band", "key", F.col("doc").alias("__bench_doc")
    )
    train = banded.filter(~bench_pred)
    return (
        train.join(F.broadcast(bench), ["band", "key"])
        .select(F.col("doc").alias(id_alias), "__bench_doc")
        .groupBy(id_alias)
        .agg(F.countDistinct("__bench_doc").alias("n_bench_partners"))
    )
