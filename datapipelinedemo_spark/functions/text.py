"""Text-analysis primitives for large-scale training-data pipelines.

All pure Column expressions (whole-stage codegen, no Python on the hot
path). Where a value must hash-match the DuckDB oracle, the expression
uses only operations with identical cross-engine semantics (split,
md5, integer arithmetic, left-fold aggregate).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Fold-hash modulus/base (Mersenne prime 2^31-1 keeps every intermediate
# < 2^39, far from BIGINT overflow in either engine).
FP_MOD = 2_147_483_647
FP_BASE = 131


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _name(c) -> str:
    """Column NAME for F.expr-template functions. Composite Columns are
    rejected (their toString is not re-parseable SQL) — materialize the
    expression with ``withColumn`` first and pass the name."""
    if isinstance(c, str):
        return c
    raise TypeError(
        "expression-template text functions need a plain column name; "
        "materialize the expression with withColumn(...) first"
    )


def tokenize(c) -> Column:
    """Whitespace tokenizer: lowercase, split on runs of whitespace,
    drop empties. Identical in DuckDB via
    ``list_filter(string_split_regex(lower(x), '\\s+'), t -> t <> '')``."""
    return F.filter(
        F.split(F.lower(_col(c)), r"\s+"), lambda t: t != F.lit("")
    )


def ngrams(tokens: Column, n: int) -> Column:
    """Word n-grams (space-joined) from a token array, as one in-row
    expression. ANSI-safe: the index sequence is empty when the doc has
    fewer than n tokens (``sequence(0, size-n)`` would otherwise count
    DOWN for short docs and index out of bounds)."""
    idx = F.when(
        F.size(tokens) >= n, F.sequence(F.lit(0), F.size(tokens) - n)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.get(tokens, i + j) for j in range(n)]
        ),
    )


def distinct_tokens_in_order(c) -> Column:
    """First-occurrence-ordered distinct tokens (the reference's F8
    applies a Python ``set()`` per tweet — demo.py:35; we keep the
    deterministic first-occurrence order instead of Python set order,
    which is unreproducible even run-to-run)."""
    return F.array_distinct(tokenize(c))


def token_count(c) -> Column:
    """Whitespace token count."""
    return F.size(tokenize(c))


def word_token_count(c) -> Column:
    """BPE-ish sub-token count: number of word-ish / digit / punct
    matches. A cheap, deterministic stand-in for a real tokenizer's
    token count (useful for budget accounting at corpus scale)."""
    return F.regexp_count(_col(c), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


# Space-joined word n-grams over a token array live in
# operators/decontamination.py::ngrams_of_tokens — one implementation,
# one short-doc guard. ``ngrams`` above is the same shape for callers
# composing further per-gram expressions on the Column level.


def punct_ratio(c) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = _col(c)
    stripped = F.regexp_replace(c, r"[!-/:-@\[-`{-~]", "")
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        (F.length(c) - F.length(stripped)).cast("double") / F.length(c)
    )


def stopword_ratio(tokens, stopwords: list[str]) -> Column:
    """Fraction of tokens that are stopwords."""
    tokens = _col(tokens)
    hits = F.size(
        F.filter(tokens, lambda t: t.isin(*stopwords))  # type: ignore[arg-type]
    )
    return F.when(F.size(tokens) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / F.size(tokens)
    )


def mean_token_length(tokens) -> Column:
    tokens = _col(tokens)
    total = F.aggregate(
        tokens, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(tokens) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(tokens)
    )


# Tiny public stopword profiles for the language-ID heuristic (top
# function words; enough for a deterministic n-gram/stopword scorer).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "no"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "une"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"],
    "zh": ["的", "了", "是", "我", "不", "在", "有", "人", "这", "他"],
}


def lang_id(tokens, profiles: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language ID: count stopword hits per language profile,
    pick the best; zero hits → 'und'. Deterministic tie-break:
    higher score wins, then lexicographically greater language code
    (struct max). The DuckDB oracle replicates with a CASE chain.
    """
    profiles = LANG_PROFILES if profiles is None else profiles
    tokens = _col(tokens)
    scored = [
        F.struct(
            F.size(F.array_intersect(tokens, F.array(*[F.lit(w) for w in ws])))
            .cast("int")
            .alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, ws in sorted(profiles.items())
    ]
    # greatest() on (score, lang) structs compares score first, then lang:
    # ties resolve to the lexicographically GREATER language code (the
    # DuckDB oracle's CASE chain zh→fr→es→en→de encodes the same order).
    best = F.greatest(*scored) if len(scored) > 1 else scored[0]
    return F.when(best["score"] <= 0, F.lit("und")).otherwise(best["lang"])


def fingerprint(tokens) -> Column:
    """Order-sensitive document fingerprint: left-fold polynomial
    rolling hash over md5-derived token values, mod 2^31-1.

    DuckDB twin:
    ``list_reduce(list_prepend(0, list_transform(tokens, w ->
    CAST('0x' || substring(md5(w),1,15) AS BIGINT) % 2147483647)),
    (h, x) -> (h * 131 + x) % 2147483647)``.
    """
    name = _name(tokens)
    return F.expr(
        f"aggregate({name}, 0L,"
        f" (h, w) -> (h * {FP_BASE}"
        f"  + cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint) % {FP_MOD})"
        f" % {FP_MOD})"
    ).cast("long")


def chunk_spans(tokens, size: int = 50, stride: int = 40) -> Column:
    """Overlapping token-window chunks (training-data chunking): spans
    start at 0, stride, 2·stride, … while start < n_tokens; each chunk
    is up to ``size`` tokens rejoined with spaces. Pure expression —
    the k-per-row blow-up happens in-row, then one explode.

    DuckDB twin: slice + array_to_string over
    ``generate_series(0, greatest(len-1, 0), stride)``.
    """
    name = _name(tokens)
    return F.expr(
        f"transform("
        f" sequence(0, greatest(size({name}) - 1, 0), {stride}),"
        f" s -> struct("
        f"   cast(s / {stride} as int) AS chunk_idx,"
        f"   array_join(slice({name}, s + 1, {size}), ' ') AS chunk_text,"
        f"   least({size}, size({name}) - s) AS chunk_tokens))"
    )


def normalize_for_dedup(c) -> Column:
    """Dedup-grade text normalization — the standard pass run BEFORE
    exact/near dedup so cosmetic variants hash together: lowercase,
    URLs and e-mail addresses replaced by a space, control characters
    (C0/C1 minus tab/CR/LF, which are whitespace) dropped, whitespace
    runs collapsed to single spaces, trimmed. Pure regex chain,
    mirrored verbatim in DuckDB (``regexp_replace(..., 'g')`` —
    Spark's regexp_replace is global by default, DuckDB needs the
    flag). Idempotent (pinned by a hypothesis property test).
    """
    c = F.lower(_col(c))
    c = F.regexp_replace(c, r"https?://[^\s]+", " ")
    c = F.regexp_replace(c, r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", " ")
    c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f-\x9f]", "")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)
