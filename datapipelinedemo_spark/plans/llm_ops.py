"""LLM-training-data pipeline operators (north star, BASELINE.json):
dedup, similarity search, and text analysis over ``documents`` /
``embeddings``, each oracle-checked against DuckDB where expressible.

Hash-parity notes: every hash is md5-derived (identical hex in both
engines), every fold is an explicit left fold, and every double
literal in oracle SQL is cast ::DOUBLE (DuckDB parses bare decimals as
DECIMAL, which would change the arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapipelinedemo_spark.functions import text as TX
from datapipelinedemo_spark.memo import FrameMemo, table_stamp
from datapipelinedemo_spark.operators import dedup as DD
from datapipelinedemo_spark.operators import similarity as SIM
from datapipelinedemo_spark.plans.catalog import register
from datapipelinedemo_spark.tables import table

MOD = DD.MH_MOD
_A, _B = DD._mh_params(32)
_A_SQL = "[" + ",".join(f"{x}::BIGINT" for x in _A) + "]"
_B_SQL = "[" + ",".join(f"{x}::BIGINT" for x in _B) + "]"

# DuckDB twins of functions.text building blocks
_TOK = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
# char 9-shingles: on a tiny-vocab corpus, 5-char shingles give a
# shingle universe so small that every document's MinHash minima
# coincide and LSH floods (48% of all pairs became candidates at
# sf0.1); 9-char shingles span ~2 words and restore diversity.
_SHINGLES = (
    "list_distinct([CAST('0x' || substring(md5(s), 1, 15) AS BIGINT) % 2147483647"
    " for s in [substring(text, i, 9)"
    "           for i in generate_series(1, greatest(length(text) - 8, 0))]])"
)


# --------------------------------------------------------------------------
# Exact dedup — keep first (min doc_id) per identical text
# --------------------------------------------------------------------------
@register(
    "exact_dedup_documents",
    oracle="""
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return DD.exact_dedup(docs, ["text"], "doc_id").select(
        "doc_id", "lang", "source"
    )


# --------------------------------------------------------------------------
# Token statistics (whitespace + BPE-ish counts) per source
# --------------------------------------------------------------------------
@register(
    "token_stats_per_source",
    oracle=f"""
    SELECT source,
           CAST(SUM(len({_TOK})) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text,
               '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS subword_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(*) AS docs
    FROM documents GROUP BY source
    """,
)
def token_stats_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(TX.token_count("text")).alias("ws_tokens"),
        F.sum(TX.word_token_count("text")).alias("subword_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.count(F.lit(1)).alias("docs"),
    )


# --------------------------------------------------------------------------
# Per-document quality scores (length/punct/stopword/token-length)
# --------------------------------------------------------------------------
@register(
    "doc_quality_scores",
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars, {_TOK} AS toks, text FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           round(CASE WHEN length(text) = 0 THEN 0.0::DOUBLE
                 ELSE CAST(length(text) - length(regexp_replace(text,
                      '[!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE) / length(text)
                 END, 6) AS punct_ratio,
           round(CASE WHEN len(toks) = 0 THEN 0.0::DOUBLE
                 ELSE CAST(len(list_filter(toks,
                      w -> w IN ('the','and','of','to','a','in','is','it','that','for')))
                      AS DOUBLE) / len(toks) END, 6) AS stopword_ratio,
           round(CASE WHEN len(toks) = 0 THEN 0.0::DOUBLE
                 ELSE CAST(list_reduce(list_prepend(0::BIGINT,
                      list_transform(toks, w -> length(w))), (a, b) -> a + b)
                      AS DOUBLE) / len(toks) END, 6) AS mean_token_len
    FROM t
    """,
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = TX.tokenize("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(
            TX.stopword_ratio(toks, TX.LANG_PROFILES["en"]), 6
        ).alias("stopword_ratio"),
        F.round(TX.mean_token_length(toks), 6).alias("mean_token_len"),
    )


# --------------------------------------------------------------------------
# Gopher-style repetition signals: most-frequent-word fraction, top
# bigram fraction, duplicated-trigram fraction. Every signal is a
# per-document statistic, so the plan is ZERO-shuffle (r16): sort each
# doc's gram array in-row and fold run lengths — O(L log L) per doc in
# the JVM, no explode, no (doc_id, n, gram) exchange. The previous
# shape (explode all 1/2/3-grams, two partial-agg shuffles) moved ~3x
# the corpus text through two exchanges to compute doc-local counts;
# guide §2.4 "remove shuffles outright" applies because the grouping
# key (doc_id) is the grain the scan already delivers. No in-row
# O(tokens²) counting either — run-length over a sorted array.
# --------------------------------------------------------------------------


def _run_stats(grams: str):
    """(mx, dup) over a gram array column named ``grams``: length of
    the longest equal-run and the total size of runs longer than 1 in
    the SORTED array — i.e. max per-gram count and Σ count·[count>1],
    exactly what the exploded groupBy computed, one row-local pass."""
    return F.expr(
        f"""aggregate(
          array_sort({grams}),
          named_struct('prev', cast(null as string), 'run', 0L,
                       'mx', 0L, 'dup', 0L),
          (a, x) -> if(a.prev is not null and x = a.prev,
            named_struct('prev', x, 'run', a.run + 1L, 'mx', a.mx,
                         'dup', a.dup),
            named_struct('prev', x, 'run', 1L,
                         'mx', greatest(a.mx, a.run),
                         'dup', a.dup + if(a.run > 1L, a.run, 0L))),
          a -> named_struct('mx', greatest(a.mx, a.run),
                            'dup', a.dup + if(a.run > 1L, a.run, 0L)))"""
    )


def rep_signal_columns() -> list:
    """The repetition-signal projection over a frame carrying token
    array ``t`` — shared by ``doc_repetition_stats`` and the fused
    Gopher corpus report (quality_ops), which needs these columns in
    the SAME single scan as the quality battery."""
    frac = lambda num, den: F.round(  # noqa: E731
        num.cast("double") / den, 6
    )
    return [
        F.when(F.size("t") > 0, F.size("t").cast("long")).alias(
            "n_words"
        ),
        F.when(
            F.size("t") > 0, frac(F.col("__r1.mx"), F.size("t"))
        ).alias("max_word_frac"),
        F.when(
            F.size("__g2") > 0, frac(F.col("__r2.mx"), F.size("__g2"))
        ).alias("top_bigram_frac"),
        F.when(
            F.size("__g3") > 0, frac(F.col("__r3.dup"), F.size("__g3"))
        ).alias("dup_trigram_frac"),
    ]


def rep_signal_base(toks: DataFrame) -> DataFrame:
    """Attach gram arrays + run stats (``__g2/__g3/__r1/__r2/__r3``)
    to a (…, t) frame — the intermediate ``rep_signal_columns`` reads."""
    return toks.select(
        "*",
        TX.ngrams(F.col("t"), 2).alias("__g2"),
        TX.ngrams(F.col("t"), 3).alias("__g3"),
    ).select(
        "*",
        _run_stats("t").alias("__r1"),
        _run_stats("__g2").alias("__r2"),
        _run_stats("__g3").alias("__r3"),
    )
@register(
    "doc_repetition_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    g AS (
        SELECT doc_id, 1 AS n, u.tok AS gram FROM t, unnest(toks) AS u(tok)
        UNION ALL
        SELECT doc_id, 2, u.gram
        FROM t, unnest([toks[i] || ' ' || toks[i+1]
                        for i in generate_series(1, len(toks) - 1)]) u(gram)
        UNION ALL
        SELECT doc_id, 3, u.gram
        FROM t, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        for i in generate_series(1, len(toks) - 2)]) u(gram)
    ), c AS (
        SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY doc_id, n, gram
    ), m AS (
        SELECT doc_id, n, MAX(cnt) AS mx, CAST(SUM(cnt) AS BIGINT) AS tot,
               CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup
        FROM c GROUP BY doc_id, n
    )
    SELECT doc_id,
           MAX(CASE WHEN n = 1 THEN tot END) AS n_words,
           round(MAX(CASE WHEN n = 1 THEN CAST(mx AS DOUBLE) / tot END), 6)
               AS max_word_frac,
           round(MAX(CASE WHEN n = 2 THEN CAST(mx AS DOUBLE) / tot END), 6)
               AS top_bigram_frac,
           round(MAX(CASE WHEN n = 3 THEN CAST(dup AS DOUBLE) / tot END), 6)
               AS dup_trigram_frac
    FROM m GROUP BY doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality filters (the Gopher rules adapted to
    unstructured token soup): a doc dominated by one word / bigram, or
    whose trigrams mostly repeat, is boilerplate. Short docs (< n
    tokens) get null for that n's signal — same as the oracle.

    r16: zero-shuffle in-row form (module banner above) — one scan,
    per-doc sorted-run-length folds; hash-identical to the exploded
    twin (max count = longest equal-run, duplicated mass = Σ runs>1).

    r17 (ADVICE r16): a doc whose tokenization is EMPTY emits no row —
    the oracle's unnest produces no gram rows for it, so its final
    GROUP BY has no group, where the in-row form would emit an all-null
    row. The bench corpus has no such doc (hashes unchanged); the
    filter pins the edge for corpora that do."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", TX.tokenize("text").alias("t")).filter(
        F.size("t") > 0
    )
    return rep_signal_base(toks).select("doc_id", *rep_signal_columns())


# --------------------------------------------------------------------------
# Hourly gap-fill / resample (the hypertable-rollup companion): a dense
# (event_type × hour) grid over the observed range, zero-filled where
# no events landed. The grid is generated — sequence + explode — never
# scanned; the only fact-side work is the same partial-agg hourly
# rollup the tumbling query does, then a join against the (tiny,
# broadcast) grid.
# --------------------------------------------------------------------------
@register(
    "events_hourly_gapfill",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events
    ), hours AS (
        SELECT u.h AS hour
        FROM b, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) u(h)
    ), grid AS (
        SELECT t.event_type, hours.hour
        FROM (SELECT DISTINCT event_type FROM events) t, hours
    ), agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT g.event_type,
           strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           COALESCE(agg.cnt, 0) AS event_count
    FROM grid g
    LEFT JOIN agg ON agg.event_type = g.event_type AND agg.hour = g.hour
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type, zeros where the hour had no
    events — what a downstream charting/forecast consumer expects
    (sparse rollups silently skip empty buckets)."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        grid.join(F.broadcast(agg), ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce(F.col("cnt"), F.lit(0)).alias("event_count"),
        )
    )


# --------------------------------------------------------------------------
# LOCF gap-fill: hourly mean value per type with gaps carried forward
# from the last observed hour (nulls before the first observation stay
# null). Same generated grid as events_hourly_gapfill; the fill is one
# window per type over the (tiny) grid, not over the facts.
# --------------------------------------------------------------------------
@register(
    "events_hourly_locf",
    oracle="""
    WITH b AS (
        SELECT date_trunc('hour', MIN(ts)) AS h0,
               date_trunc('hour', MAX(ts)) AS h1
        FROM events
    ), hours AS (
        SELECT u.h AS hour
        FROM b, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) u(h)
    ), grid AS (
        SELECT t.event_type, hours.hour
        FROM (SELECT DISTINCT event_type FROM events) t, hours
    ), agg AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / (COUNT(value) * 1000000.0) AS avg_value
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
           filled_value
    FROM (
        SELECT g.event_type, g.hour,
               last_value(agg.avg_value IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM grid g
        LEFT JOIN agg ON agg.event_type = g.event_type
                     AND agg.hour = g.hour
    )
    """,
)
def events_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly mean event value per type, gaps filled by carrying the
    last observed hour forward (LOCF) — the standard sensor/metrics
    resample. Mean is fixed-point so the carried values are the same
    doubles in both engines."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(hours))
    agg = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        (
            F.sum(
                F.floor(F.col("value") * F.lit(1000000.0) + F.lit(0.5)).cast(
                    "long"
                )
            ).cast("double")
            / (F.count("value").cast("double") * F.lit(1000000.0))
        ).alias("avg_value")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(F.broadcast(agg), ["event_type", "hour"], "left")
        .withColumn(
            "filled_value", F.last("avg_value", ignorenulls=True).over(w)
        )
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "filled_value",
        )
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters: the sketch is a (i, bucket, cnt)
# TABLE (operators/sketch.py) — one partial-agg shuffle to build, a
# broadcast join to probe, and fully oracle-replayable because the
# hash is md5-derived. CMS only overestimates: cms_est >= exact_cnt.
# --------------------------------------------------------------------------
_CMS_BUCKET = (
    "CAST('0x' || substring(md5(token || '#' || i::VARCHAR), 1, 15)"
    " AS BIGINT) % 1024"
)


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH tok AS (
        SELECT u.token
        FROM (SELECT {_TOK} AS toks FROM documents), unnest(toks) u(token)
    ), exact AS (
        SELECT token, COUNT(*) AS exact_cnt FROM tok GROUP BY token
    ), top AS (
        SELECT * FROM exact ORDER BY exact_cnt DESC, token LIMIT 20
    ), sk AS (
        SELECT i, bucket, COUNT(*) AS cnt FROM (
            SELECT i, {_CMS_BUCKET} AS bucket
            FROM tok, generate_series(0, 3) s(i)
        ) GROUP BY i, bucket
    ), probes AS (
        SELECT token, i, {_CMS_BUCKET} AS bucket
        FROM top, generate_series(0, 3) s(i)
    ), est AS (
        SELECT p.token, MIN(sk.cnt) AS cms_est
        FROM probes p JOIN sk USING (i, bucket) GROUP BY p.token
    )
    SELECT top.token, top.exact_cnt, est.cms_est
    FROM top JOIN est USING (token)
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus tokens with their count-min estimates alongside
    the exact counts (est >= exact always; equality when no bucket
    collisions among 4 hash rows of width 1024)."""
    from datapipelinedemo_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    from datapipelinedemo_spark.pin import pin

    docs = table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(TX.tokenize("text")).alias("token"))
    exact = pin(  # pin-bounded: vocabulary grain (token, exact_cnt)
        tokens.groupBy("token").agg(
            F.count(F.lit(1)).alias("exact_cnt")
        )
    )
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(20)
    # r16: the sketch is built FROM the exact counts (weighted cells
    # are bit-identical — see cms_build), so the corpus is tokenized
    # and exploded ONCE (the pinned vocab frame feeds both the top-20
    # cut and the sketch); the sketch explode is vocabulary-sized
    sketch = cms_build(exact, "token", d=4, w=1024, weight_col="exact_cnt")
    est = cms_estimate(sketch, top.select("token"), "token", d=4, w=1024)
    return top.join(est, "token").select("token", "exact_cnt", "cms_est")


@register(
    "cms_error_calibration",
    oracle=f"""
    WITH tok AS (
        SELECT u.token
        FROM (SELECT {_TOK} AS toks FROM documents), unnest(toks) u(token)
    ), exact AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        FROM tok GROUP BY token
    ), sk AS (
        SELECT i, bucket, COUNT(*) AS cnt FROM (
            SELECT i, {{bucket}} AS bucket
            FROM tok, generate_series(0, 3) s(i)
        ) GROUP BY i, bucket
    ), probes AS (
        SELECT token, i, {{pbucket}} AS bucket
        FROM exact, generate_series(0, 3) s(i)
    ), est AS (
        SELECT p.token, CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS cms_est
        FROM probes p
        LEFT JOIN sk ON sk.i = p.i AND sk.bucket = p.bucket
        GROUP BY p.token
    ), err AS (
        SELECT e.exact_cnt, est.cms_est - e.exact_cnt AS over
        FROM exact e JOIN est ON est.token = e.token
    ), ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_stream FROM tok)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct,
           (SELECT n_stream FROM ns) AS n_stream,
           CAST(SUM(CASE WHEN over > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS overestimated_tokens,
           round(CAST(SUM(over) AS DOUBLE) / COUNT(*), 6)
               AS mean_overestimate,
           CAST(MAX(over) AS BIGINT) AS max_overestimate,
           round(exp(1.0) / 1024 * (SELECT n_stream FROM ns), 6)
               AS eps_n_bound,
           CAST(SUM(CASE WHEN over > exp(1.0) / 1024
                         * (SELECT n_stream FROM ns)
                    THEN 1 ELSE 0 END) AS BIGINT) AS tokens_over_bound
    FROM err
    """.replace("{bucket}", _CMS_BUCKET).replace("{pbucket}", _CMS_BUCKET),
)
def cms_error_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIZING audit for the count-min sketch over the FULL vocabulary
    (`cms_heavy_hitters` audits only the top-20, where collisions are
    relatively harmless): every distinct token's overestimate next to
    the Markov bound ε·N = (e/w)·N — the row that justifies w=1024
    before anyone trusts a CMS count downstream. CMS never
    underestimates, so ``over`` is a plain non-negative difference.

    Exactness: counters, estimates, and overestimates are exact
    BIGINTs; the two readouts are one division and one mirrored
    exp(1.0)/w·N expression. Plan shape: the sketch is the same
    (i, bucket) partial agg the certified entry builds; the probe
    side is the DISTINCT-token frame joined against the tiny sketch
    (broadcast), then one single-row aggregate — vocabulary-sized,
    never stream-sized, after the first count."""
    from datapipelinedemo_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    from datapipelinedemo_spark.pin import pin

    docs = table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(TX.tokenize("text")).alias("token"))
    exact = pin(  # pin-bounded: vocabulary grain (token, exact_cnt)
        tokens.groupBy("token").agg(
            F.count(F.lit(1)).cast("long").alias("exact_cnt")
        )
    )
    # r16: ONE corpus pass. The sketch is built from the exact counts
    # (weighted cells — bit-identical, see cms_build), the estimate
    # probes the same pinned vocab frame, and the stream length is
    # Σ exact_cnt — the previous shape re-tokenized the corpus three
    # times (sketch, exact, n_stream) and shuffled 4 rows per
    # OCCURRENCE instead of 4 per distinct token (guide §2.3).
    sketch = cms_build(exact, "token", d=4, w=1024, weight_col="exact_cnt")
    est = cms_estimate(sketch, exact.select("token"), "token", d=4, w=1024)
    err = exact.join(est, "token").select(
        "exact_cnt", (F.col("cms_est") - F.col("exact_cnt")).alias("over")
    )
    ns = exact.agg(F.sum("exact_cnt").cast("long").alias("n_stream"))
    bound = F.expr("exp(1.0) / 1024") * F.col("n_stream")
    return (
        err.crossJoin(F.broadcast(ns))
        .groupBy("n_stream")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.when(F.col("over") > 0, 1).otherwise(0))
            .cast("long")
            .alias("overestimated_tokens"),
            F.sum("over").alias("__sum_over"),
            F.max("over").cast("long").alias("max_overestimate"),
            F.sum(F.when(F.col("over") > bound, 1).otherwise(0))
            .cast("long")
            .alias("tokens_over_bound"),
        )
        .select(
            "n_distinct",
            "n_stream",
            "overestimated_tokens",
            F.round(
                F.col("__sum_over").cast("double") / F.col("n_distinct"),
                6,
            ).alias("mean_overestimate"),
            "max_overestimate",
            F.round(bound, 6).alias("eps_n_bound"),
            "tokens_over_bound",
        )
    )


# --------------------------------------------------------------------------
# Language-ID heuristic vs. the labeled lang column
# --------------------------------------------------------------------------
def _lang_score_sql(lang: str) -> str:
    words = ",".join(f"'{w}'" for w in TX.LANG_PROFILES[lang])
    return (
        f"len(list_filter(list_distinct({_TOK}), t -> t IN ({words})))"
    )


@register(
    "lang_id_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT lang,
               {_lang_score_sql('de')} AS s_de, {_lang_score_sql('en')} AS s_en,
               {_lang_score_sql('es')} AS s_es, {_lang_score_sql('fr')} AS s_fr,
               {_lang_score_sql('zh')} AS s_zh
        FROM documents
    ), pred AS (
        SELECT lang,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) <= 0 THEN 'und'
                    WHEN s_zh = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'zh'
                    WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
                    WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
                    WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
                    ELSE 'de' END AS predicted
        FROM scored
    )
    SELECT lang, predicted, COUNT(*) AS docs FROM pred GROUP BY lang, predicted
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts of the stopword-profile language-ID heuristic
    against the labeled ``lang`` column (documents are synthetic word
    soup, so most predict 'und' — the check is about determinism and
    plumbing, not accuracy)."""
    docs = table(spark, sf_dir, "documents")
    toks = TX.tokenize("text")
    return (
        docs.select("lang", TX.lang_id(toks).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


# --------------------------------------------------------------------------
# Document fingerprints (rolling polynomial hash)
# --------------------------------------------------------------------------
@register(
    "doc_fingerprints",
    oracle=f"""
    SELECT doc_id,
           CAST(list_reduce(list_prepend(0::BIGINT,
               list_transform({_TOK}, w ->
                   CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) % {TX.FP_MOD})),
               (h, x) -> (h * {TX.FP_BASE} + x) % {TX.FP_MOD}) AS BIGINT)
             AS fingerprint
    FROM documents
    """,
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn("toks", TX.tokenize("text"))
        .select("doc_id", TX.fingerprint("toks").alias("fingerprint"))
    )


# --------------------------------------------------------------------------
# MinHash signatures + banded LSH candidate pairs
# --------------------------------------------------------------------------
# Relational MinHash in DuckDB: unnest shingles × hash-index, groupBy
# min — vectorized, evaluates the md5 shingle hashes exactly once
# (the nested-list-comprehension formulation recomputes them per hash
# function and is ~50× slower).
_LSH_CTE = f"""
    WITH sh AS (
        SELECT doc_id, {_SHINGLES} AS hs FROM documents
    ), ex AS (
        SELECT doc_id, unnest(hs) AS h FROM sh
    ), mins AS (
        SELECT doc_id, i.i AS i,
               MIN((({_A_SQL})[i.i + 1] * h + ({_B_SQL})[i.i + 1]) % {MOD}) AS m
        FROM ex CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS i) i
        GROUP BY doc_id, i.i
    ), banded AS (
        SELECT doc_id, i // 8 AS band,
               string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS key
        FROM mins GROUP BY doc_id, i // 8
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
        FROM banded a JOIN banded b2
          ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
    )
"""


# Shared shingle + banded-MinHash frames, served from the write-once
# parquet index (operators/neardup_index.py): the md5 shingle pass —
# the chain's dominant cost — runs once per (corpus, params) EVER, not
# once per process. The memo only avoids re-reading parquet footers
# within a session; the real reuse is on disk, which also serves
# standalone (clearCache'd) bench runs that in-memory persist cannot.
_SHINGLE_MEMO = FrameMemo()
_BANDED_MEMO = FrameMemo()


def _neardup_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    from datapipelinedemo_spark.operators.neardup_index import neardup_index

    # source-stamped key (memo.py): a regenerated documents.parquet
    # re-resolves to the new on-disk index generation instead of
    # serving frames pinned to the old one
    key = (sf_dir, table_stamp(sf_dir, "documents"))
    pair: list = []  # filled by the first memo miss; both memos share it

    def _resolve() -> None:
        if not pair:
            pair.extend(neardup_index(spark, sf_dir, num_hashes=32, bands=4, k=9))

    def _sh() -> DataFrame:
        _resolve()
        return pair[0]

    def _bd() -> DataFrame:
        _resolve()
        return pair[1]

    return (
        _SHINGLE_MEMO.get_or_build(spark, key, _sh),
        _BANDED_MEMO.get_or_build(spark, key, _bd),
    )


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _neardup_frames(spark, sf_dir)[0]


# (doc, sig) 32-hash MinHash signatures, served from the write-once
# parquet index built over the stored shingle frame — signature
# consumers (band planner, estimator-error table) scan the narrow
# artifact instead of re-running the 32-hash fold per query.
_SIG_MEMO = FrameMemo()


def _minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipelinedemo_spark.operators.neardup_index import (
        minhash_sig_index,
    )

    return _SIG_MEMO.get_or_build(
        spark,
        (sf_dir, table_stamp(sf_dir, "documents")),
        lambda: minhash_sig_index(spark, sf_dir, num_hashes=32, k=9),
    )


# one stage later: the banded-LSH candidate pairs feed three queries
# (minhash_lsh_candidates, ngram_jaccard_neardups, neardup_clusters);
# the pair set is tiny (hundreds of rows), so persist one copy per
# (session, sf_dir) on top of the disk-resident banded index
_LSH_CAND_MEMO = FrameMemo()


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _LSH_CAND_MEMO.get_or_build(
        spark,
        (sf_dir, table_stamp(sf_dir, "documents")),
        lambda: DD.bucketed_candidate_pairs(
            _neardup_frames(spark, sf_dir)[1], bucket_cap=1024
        ).persist(),
    )


@register(
    "minhash_lsh_candidates",
    oracle=_LSH_CTE + "SELECT doc_a, doc_b FROM cand",
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH: 32 hashes in 4 bands of 8 — collision
    probability 1-(1-j^8)^4, i.e. steep S-curve centered near j≈0.7,
    sized so repetitive corpora don't flood the candidate set."""
    return _lsh_candidates(spark, sf_dir).select(
        F.col("doc_a"), F.col("doc_b")
    )


@register(
    "incremental_dedup_candidates",
    oracle=_LSH_CTE
    + """
    , nb AS (SELECT * FROM banded WHERE doc_id % 10 = 0),
    cb AS (SELECT * FROM banded WHERE doc_id % 10 <> 0),
    cross_c AS (
        SELECT DISTINCT n.doc_id AS doc_a, c.doc_id AS doc_b,
               'vs_corpus' AS pair_type
        FROM nb n JOIN cb c ON n.band = c.band AND n.key = c.key
    ), inb AS (
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
               'in_batch' AS pair_type
        FROM nb a JOIN nb b2
          ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
    )
    SELECT * FROM cross_c UNION ALL SELECT * FROM inb
    """,
)
def incremental_dedup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (operators/dedup.py::
    incremental_lsh_candidates): docs with doc_id % 10 == 0 play the
    daily batch, the rest the already-indexed corpus. The corpus is
    banded ONCE (at scale: a stored table bucketed by band key) and
    the batch joins into it — no corpus re-signing per ingest. Bucket
    caps (1024) never bind at test scale, so the uncapped SQL twin
    matches exactly — same convention as minhash_lsh_candidates.

    Reads the materialized banded index (operators/neardup_index.py) —
    literally the stored-corpus-index shape this query models."""
    _, banded = _neardup_frames(spark, sf_dir)
    new_b = banded.filter(F.col("doc") % 10 == 0)
    corpus_b = banded.filter(F.col("doc") % 10 != 0)
    return DD.incremental_lsh_candidates(new_b, corpus_b, bucket_cap=1024)


# --------------------------------------------------------------------------
# LSH band planner: the tuning table behind the deployed 4×8 choice.
# Re-band the SAME stored 32-hash signatures under every (b, r) split
# of the hash budget and measure the real candidate workload each
# config buys, next to the theoretical S-curve capture probability —
# the workload is COUNTED inside buckets (Σ C(n,2), partial-agg), so
# the expensive configs are costed without ever materializing their
# pair sets (the whole point of a planner at 100 TB: estimate the
# b=32,r=1 flood, don't run it).
# --------------------------------------------------------------------------

# split-invariant capture probabilities p = 1-(1-j^r)^b, computed ONCE
# in Python and embedded as identical literals in both engines (pure
# config constants — same status as the _A/_B hash parameters; this
# also sidesteps any JVM-vs-libm pow() last-ulp disagreement)
_LSH_CFGS = [(b, 32 // b) for b in (1, 2, 4, 8, 16, 32)]
_LSH_PGRID = {
    b: tuple(
        round(1.0 - (1.0 - j ** r) ** b, 6)
        for j in (0.5, 0.7, 0.8, 0.9)
    )
    for b, r in _LSH_CFGS
}

_LSH_CFG_VALUES = ",".join(
    f"({b}, {r}, {p[0]!r}::DOUBLE, {p[1]!r}::DOUBLE,"
    f" {p[2]!r}::DOUBLE, {p[3]!r}::DOUBLE)"
    for (b, r), p in zip(_LSH_CFGS, _LSH_PGRID.values())
)


@register(
    "lsh_band_planner",
    oracle=_LSH_CTE
    + f"""
    , cfg AS (SELECT * FROM (VALUES {_LSH_CFG_VALUES})
              AS t(b, r, p_j50, p_j70, p_j80, p_j90)),
    keys AS (
        SELECT c.b, m.doc_id, m.i // c.r AS band,
               string_agg(CAST(m.m AS VARCHAR), '_' ORDER BY m.i) AS key
        FROM mins m CROSS JOIN cfg c
        GROUP BY 1, 2, 3
    ),
    bk AS (SELECT b, band, key, COUNT(*) AS n FROM keys GROUP BY 1, 2, 3),
    ag AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(MAX(n) AS BIGINT) AS max_bucket,
               CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS cand_pairs
        FROM bk GROUP BY 1
    )
    SELECT CAST(c.b AS BIGINT) AS b, CAST(c.r AS BIGINT) AS r,
           ag.n_buckets, ag.max_bucket, ag.cand_pairs,
           c.p_j50, c.p_j70, c.p_j80, c.p_j90,
           CAST(CASE WHEN c.b = 4 THEN 1 ELSE 0 END AS BIGINT)
               AS deployed
    FROM cfg c JOIN ag ON ag.b = c.b
    """,
)
def lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-workload vs capture-probability table for every
    banding of the 32-hash MinHash budget: measured bucket counts,
    hottest bucket, and Σ C(n,2) candidate pairs per config (computed
    by COUNTING inside buckets — no pair materialization), joined to
    the embedded S-curve probabilities at Jaccard 0.5/0.7/0.8/0.9.
    The deployed 4×8 row is flagged; reading this table is how that
    choice is defended (b=32,r=1 floods candidates, b=1,r=32 misses
    everything under j≈0.9).

    Plan shape: ONE scan of the write-once signature index (no
    re-signing — the 32-hash fold ran once per corpus generation),
    ONE in-row expression emits all 63 (config, band, key) rows per
    doc, then two partial-agg groupBys — the
    hot-bucket configs only ever contribute a COUNT, so the planner
    itself cannot be flooded by the floods it measures (the all-MOD
    empty-shingle sentinel bucket included)."""
    sig = _minhash_sigs(spark, sf_dir).select(
        "doc", F.col("sig").alias("minhash")
    )
    cfg_struct = ",".join(
        f"named_struct('b', {b}, 'r', {r})" for b, r in _LSH_CFGS
    )
    keys = sig.select(
        "doc",
        F.explode(
            F.expr(
                f"flatten(transform(array({cfg_struct}), c ->"
                f" transform(sequence(0, c.b - 1), bnd -> named_struct("
                f"  'b', c.b, 'band', bnd,"
                f"  'key', array_join(transform("
                f"   slice(minhash, bnd * c.r + 1, c.r),"
                f"   v -> cast(v as string)), '_')))))"
            )
        ).alias("e"),
    ).select("doc", "e.b", "e.band", "e.key")
    bk = keys.groupBy("b", "band", "key").agg(F.count(F.lit(1)).alias("n"))
    ag = bk.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("n").cast("long").alias("max_bucket"),
        F.sum(F.expr("n * (n - 1) div 2")).cast("long").alias("cand_pairs"),
    )
    cfg = spark.createDataFrame(
        [
            (b, r) + _LSH_PGRID[b]
            for b, r in _LSH_CFGS
        ],
        "b long, r long, p_j50 double, p_j70 double,"
        " p_j80 double, p_j90 double",
    )
    return ag.join(F.broadcast(cfg), "b").select(
        F.col("b").cast("long").alias("b"),
        "r",
        "n_buckets",
        "max_bucket",
        "cand_pairs",
        "p_j50",
        "p_j70",
        "p_j80",
        "p_j90",
        F.when(F.col("b") == 4, 1).otherwise(0).cast("long").alias("deployed"),
    )


# --------------------------------------------------------------------------
# Streaming ingest, certified: the stream's per-micro-batch pair
# function (streaming/dedup.py::neardup_batch_pairs — the code object
# foreachBatch runs) driven as a batch query, so the streaming
# semantics get driver/oracle rows instead of pytest-only equality
# checks. Entry 1 = the first batch of a fresh stream (the batch
# signed fresh, in-batch pairs only); entry 2 = a later batch joining
# the stored banded index (the doc_id % 10 == 0 slice,
# incremental_dedup_candidates' certified geometry). Entry 1 uses the
# doc_id % 10 < 3 slice — the smallest batch whose in-batch candidate
# set is non-empty at the sf0.01 certification scale (a 0-row result
# would certify nothing) — so the signing cost stays batch-sized, not
# corpus-sized, which is what a micro-batch actually pays.
# --------------------------------------------------------------------------

# _LSH_CTE restricted to the micro-batch slice (the single
# `FROM documents` is in its `sh` CTE)
assert _LSH_CTE.count("FROM documents") == 1
_LSH_BATCH_CTE = _LSH_CTE.replace(
    "FROM documents", "FROM documents WHERE doc_id % 10 < 3"
)


@register(
    "streaming_first_batch_pairs",
    oracle=_LSH_BATCH_CTE
    + """
    SELECT doc_a, doc_b, 'in_batch' AS pair_type FROM cand
    """,
)
def streaming_first_batch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipelinedemo_spark.streaming.dedup import neardup_batch_pairs

    batch = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 < 3)
    _, pairs = neardup_batch_pairs(batch, None)
    return pairs


@register(
    "streaming_batch_vs_corpus_pairs",
    oracle=_LSH_CTE
    + """
    , nb AS (SELECT * FROM banded WHERE doc_id % 10 = 0),
    cb AS (SELECT * FROM banded WHERE doc_id % 10 <> 0),
    cross_c AS (
        SELECT DISTINCT n.doc_id AS doc_a, c.doc_id AS doc_b,
               'vs_corpus' AS pair_type
        FROM nb n JOIN cb c ON n.band = c.band AND n.key = c.key
    ), inb AS (
        SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
               'in_batch' AS pair_type
        FROM nb a JOIN nb b2
          ON a.band = b2.band AND a.key = b2.key AND a.doc_id < b2.doc_id
    )
    SELECT * FROM cross_c UNION ALL SELECT * FROM inb
    """,
)
def streaming_batch_vs_corpus_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Unlike ``incremental_dedup_candidates`` (which reads BOTH sides
    from the stored index), this drives the stream's own function:
    the batch arrives RAW and is signed fresh — exactly what a
    micro-batch pays — and only the corpus side comes from the
    index."""
    from datapipelinedemo_spark.streaming.dedup import neardup_batch_pairs

    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    _, banded = _neardup_frames(spark, sf_dir)
    corpus_b = banded.filter(F.col("doc") % 10 != 0)
    _, pairs = neardup_batch_pairs(batch, corpus_b)
    return pairs


# --------------------------------------------------------------------------
# SimHash signatures (48-bit)
# --------------------------------------------------------------------------
_SIMHASH_CTE = f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents),
    sg AS (
        SELECT doc_id,
           CAST(list_reduce(list_prepend(0::BIGINT,
             list_transform(generate_series(0, 47), b ->
               CASE WHEN list_reduce(list_prepend(0::BIGINT,
                      list_transform(toks, w ->
                        CASE WHEN ((CAST('0x' || substring(md5(w), 1, 12) AS BIGINT)
                                    >> b) & 1) = 1
                             THEN 1::BIGINT ELSE (-1)::BIGINT END)),
                      (a, x) -> a + x) >= 0
                    THEN (1::BIGINT << b) ELSE 0::BIGINT END)),
             (a, x) -> a + x) AS BIGINT) AS simhash
        FROM t
    )
"""


@register(
    "simhash_signatures",
    oracle=_SIMHASH_CTE + "SELECT doc_id, simhash FROM sg",
)
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    # served from the write-once signature index (one n·tokens signing
    # pass per corpus generation, shared by the whole SimHash family);
    # bit-identical to computing DD.simhash inline
    from datapipelinedemo_spark.operators.neardup_index import simhash_index

    return simhash_index(spark, sf_dir, bits=48)


@register(
    "simhash_neardup_pairs",
    oracle=_SIMHASH_CTE
    + """
    , b AS (
        SELECT doc_id, g.bnd AS band,
               (simhash >> (12 * g.bnd)) & 4095 AS key
        FROM sg, (SELECT unnest(generate_series(0, 3)) AS bnd) g
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM b x JOIN b y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(CAST(xor(sa.simhash, sb.simhash) AS BIT))
                AS BIGINT) AS hamming
    FROM cand
    JOIN sg sa ON sa.doc_id = cand.doc_a
    JOIN sg sb ON sb.doc_id = cand.doc_b
    WHERE bit_count(CAST(xor(sa.simhash, sb.simhash) AS BIT)) <= 3
    """,
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance <= 3 — the
    cosine-flavored complement to the MinHash/Jaccard path (SimHash
    bit agreement tracks weighted-token cosine similarity).

    Banding (4 x 12 bits) makes recall EXACT here, not probabilistic:
    a pair at Hamming <= 3 differs in at most 3 of the 4 bands, so it
    must agree on one — every true pair is a candidate (pigeonhole),
    and the Hamming verify drops false positives. Plan: signatures
    served from the write-once index (neardup_index.simhash_index —
    the n·tokens signing pass runs once per corpus generation), one
    bucket shuffle with the hot-bucket cap, verify via a
    broadcast-sized signature join; the 48-bit XOR + bit_count verify
    is integer-exact in both engines.

    Scale rule for the signature width: random band collisions are
    E ≈ n²·bands/2^band_bits, so band_bits must grow as log2(n) to pin
    candidate volume — with the Hamming≤3 exactness constraint
    (bands=4) that means total bits ∝ log n. The operator takes both
    as parameters; this catalog entry pins 48/12 because 48 bits is
    the widest signature whose fold stays in signed-BIGINT range in
    BOTH engines (the oracle's DuckDB side), good to n in the
    millions. Past that, production uses a second md5 chunk (96-bit
    signature, 4×24 bands) — same operator, wider inputs.
    """
    from datapipelinedemo_spark.operators.neardup_index import simhash_index

    sigs = simhash_index(spark, sf_dir, bits=48)
    cand = DD.simhash_candidate_pairs(
        sigs, id_col="doc_id", sig_col="simhash", bands=4, band_bits=12
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming", F.expr("bit_count(sig_a ^ sig_b)").cast("long")
        )
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


# --------------------------------------------------------------------------
# n-gram Jaccard near-duplicate pairs (explode + co-group)
# --------------------------------------------------------------------------
@register(
    "ngram_jaccard_neardups",
    oracle=_LSH_CTE
    + """
    SELECT doc_a, doc_b,
           round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                 / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))),
                 6) AS jaccard
    FROM cand
    JOIN sh sa ON sa.doc_id = cand.doc_a
    JOIN sh sb ON sb.doc_id = cand.doc_b
    WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
          / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) >= 0.5
    """,
)
def ngram_jaccard_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates verified with exact shingle Jaccard —
    the full near-dup pipeline (candidates bounded by LSH, exact
    intersection evaluated per pair in-row, no shingle-level join)."""
    docs = table(spark, sf_dir, "documents")
    sh = _doc_shingles(spark, sf_dir)
    cand = _lsh_candidates(spark, sf_dir)
    return DD.jaccard_verify(
        docs, cand, "doc_id", "text", k=9, threshold=0.5, shingles=sh
    )


@register(
    "minhash_estimate_error",
    oracle=_LSH_CTE
    + """
    , sig AS (SELECT doc_id, i, m FROM mins),
    pa AS (
        SELECT c.doc_a, c.doc_b,
               CAST(SUM(CASE WHEN x.m = y.m THEN 1 ELSE 0 END) AS BIGINT)
                   AS agree
        FROM cand c
        JOIN sig x ON x.doc_id = c.doc_a
        JOIN sig y ON y.doc_id = c.doc_b AND y.i = x.i
        GROUP BY 1, 2
    ),
    exj AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS inter,
               CAST(len(sa.hs) + len(sb.hs)
                    - len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS uni
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.doc_a
        JOIN sh sb ON sb.doc_id = c.doc_b
    ),
    pj AS (
        SELECT p.agree,
               (2 * e.inter * 1000000 + e.uni) // (2 * e.uni) AS j6,
               p.agree * 31250 AS est6
        FROM pa p
        JOIN exj e ON e.doc_a = p.doc_a AND e.doc_b = p.doc_b
        WHERE e.uni > 0
    )
    SELECT agree,
           CAST(agree AS DOUBLE) / 32 AS est,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(j6) AS DOUBLE) / (1000000.0 * COUNT(*)), 6)
               AS mean_jaccard,
           round(CAST(SUM(ABS(est6 - j6)) AS DOUBLE)
                 / (1000000.0 * COUNT(*)), 6) AS mean_abs_err,
           round(CAST(MAX(ABS(est6 - j6)) AS DOUBLE) / 1000000.0, 6)
               AS max_abs_err
    FROM pj GROUP BY 1
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ESTIMATOR-QUALITY table for the MinHash sketch: on the LSH
    candidate pairs, the signature-agreement Jaccard estimate
    (agree/32) vs the exact shingle Jaccard, grouped by agreement
    count — the dedup analogue of the ANN recall tables ("trust the
    sketch because we measured its error, on this corpus"). A 32-hash
    sketch has std-err ~sqrt(j(1-j)/32) ≈ 0.09 at j=0.5 on RANDOM
    pairs; on LSH-SELECTED pairs the low-agreement rows are upward-
    biased by construction (a pair is only here because some band
    agreed — the sf0.01 corpus shows agree=14 vs exact j=0.026), which
    is exactly why the pipeline Jaccard-verifies candidates instead of
    trusting the sketch estimate. Both effects are visible in this
    table; the pair-weighted mean error stays small because true
    near-dups dominate the candidate set.

    Exactness: agreement count and shingle intersection are exact
    integers; per-pair exact Jaccard lands on the 1e-6 grid via
    half-up INTEGER division ((2·inter·1e6 + uni) div (2·uni) — no
    double division per pair), and the estimate grid is agree·31250
    (1e6/32 exactly), so error sums are exact BIGINTs cross-engine.

    Plan shape: candidate pairs (LSH-bounded, never all-pairs) join
    the stored shingle frame twice and the write-once signature
    index twice on doc id, then one in-row zip/intersect per pair
    and one partial-agg groupBy on the 33-value agreement key. No
    signing at query time at all: the 32-hash fold ran once per
    corpus generation into the signature artifact (r15 signed the
    candidate docs per run behind a driver broadcast of the
    candidate-doc id set and a pinned wide shingle frame — both
    corpus-proportional, both flagged by the r15 verdict; r16 makes
    every branch a column-pruned parquet scan joined against the
    tiny pair set, the shape that survives 10⁹ docs). Empty-shingle
    sentinel docs (uni = 0) are excluded — their signatures are the
    all-MOD sentinel, so their "agreement" measures the sentinel,
    not the estimator."""
    sh = _doc_shingles(spark, sf_dir)
    sig = _minhash_sigs(spark, sf_dir)
    cand = _lsh_candidates(spark, sf_dir)
    j = (
        cand.join(
            sh.select(
                F.col("doc").alias("doc_a"), F.col("__sh").alias("ha")
            ),
            "doc_a",
        )
        .join(
            sh.select(
                F.col("doc").alias("doc_b"), F.col("__sh").alias("hb")
            ),
            "doc_b",
        )
        .join(
            sig.select(
                F.col("doc").alias("doc_a"), F.col("sig").alias("sa")
            ),
            "doc_a",
        )
        .join(
            sig.select(
                F.col("doc").alias("doc_b"), F.col("sig").alias("sb")
            ),
            "doc_b",
        )
    )
    stats = (
        j.select(
            F.expr(
                "aggregate(zip_with(sa, sb, (x, y) -> if(x = y, 1L, 0L)),"
                " 0L, (acc, v) -> acc + v)"
            ).alias("agree"),
            F.expr("size(array_intersect(ha, hb))")
            .cast("long")
            .alias("inter"),
            (F.size("ha") + F.size("hb")).cast("long").alias("sz"),
        )
        .withColumn("uni", F.col("sz") - F.col("inter"))
        .filter(F.col("uni") > 0)
    )
    pj = stats.select(
        "agree",
        F.expr("(2 * inter * 1000000 + uni) div (2 * uni)").alias("j6"),
        (F.col("agree") * 31250).alias("est6"),
    )
    n = F.count(F.lit(1))
    return (
        pj.groupBy("agree")
        .agg(
            n.cast("long").alias("n_pairs"),
            F.sum("j6").alias("sj6"),
            F.sum(F.abs(F.col("est6") - F.col("j6"))).alias("serr6"),
            F.max(F.abs(F.col("est6") - F.col("j6"))).alias("merr6"),
        )
        .select(
            "agree",
            (F.col("agree").cast("double") / 32).alias("est"),
            "n_pairs",
            F.round(
                F.col("sj6").cast("double")
                / (1e6 * F.col("n_pairs")),
                6,
            ).alias("mean_jaccard"),
            F.round(
                F.col("serr6").cast("double")
                / (1e6 * F.col("n_pairs")),
                6,
            ).alias("mean_abs_err"),
            F.round(F.col("merr6").cast("double") / 1e6, 6).alias(
                "max_abs_err"
            ),
        )
    )


# --------------------------------------------------------------------------
# Near-dup source-contamination matrix: WHICH sources duplicate into
# which (mirror dumps, syndication feeds, scraped re-posts) — the
# diagnostic a pipeline owner reads before deciding per-source dedup
# policy. Pure composition over the memoized candidate/shingle frames;
# pair direction canonicalized (least, greatest) so the matrix has one
# row per unordered source pair.
# --------------------------------------------------------------------------
@register(
    "neardup_source_matrix",
    oracle=_LSH_CTE
    + """
    , vp AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b
        WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
              / (len(sa.hs) + len(sb.hs)
                 - len(list_intersect(sa.hs, sb.hs))) >= 0.5
    )
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM vp
    JOIN documents da ON da.doc_id = vp.doc_a
    JOIN documents db ON db.doc_id = vp.doc_b
    GROUP BY 1, 2
    """,
)
def neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified near-dup pair counts per unordered source pair
    (banner above). The diagonal is intra-source duplication; heavy
    off-diagonal cells are cross-source mirrors. Verified pairs come
    from the same memoized candidate/shingle frames every near-dup
    consumer shares; the source lookup is two joins against the
    (narrow) documents projection and one partial agg on a
    |sources|²-bounded key space."""
    pairs = ngram_jaccard_neardups(spark, sf_dir).select("doc_a", "doc_b")
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    j = (
        pairs.join(
            d.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("sa"),
            ),
            "doc_a",
        )
        .join(
            d.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("sb"),
            ),
            "doc_b",
        )
    )
    return j.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


# --------------------------------------------------------------------------
# Asymmetric containment: the subset/quote-duplication detector.
# --------------------------------------------------------------------------
@register(
    "containment_neardup_pairs",
    oracle=_LSH_CTE
    + """
    , cv AS (
        SELECT cand.doc_a AS doc_a, cand.doc_b AS doc_b,
               CAST(len(list_intersect(sa.hs, sb.hs)) AS BIGINT) AS n_shared,
               round(GREATEST(
                   CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                       / CAST(len(sa.hs) AS DOUBLE),
                   CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                       / CAST(len(sb.hs) AS DOUBLE)), 6) AS containment
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b
    )
    SELECT doc_a, doc_b, n_shared, containment
    FROM cv WHERE containment >= 0.7
    """,
)
def containment_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates scored with max-directional shingle containment
    (``operators/dedup.py::containment_verify``): |A∩B|/min(|A|,|B|)
    flavor of near-dup that catches a short doc quoted wholesale
    inside a long one — symmetric Jaccard dilutes that pair below its
    threshold, so a Jaccard-only dedup pass ships the duplicated text.
    Candidates, shingles, and the banded index are the SAME memoized
    write-once frames the Jaccard path reads — the extra operator
    costs two broadcast joins, zero new corpus passes."""
    docs = table(spark, sf_dir, "documents")
    sh = _doc_shingles(spark, sf_dir)
    cand = _lsh_candidates(spark, sf_dir)
    return DD.containment_verify(
        docs, cand, "doc_id", "text", k=9, threshold=0.7, shingles=sh
    )


# --------------------------------------------------------------------------
# Fuzzy (MinHash-LSH) benchmark decontamination — completes the
# decontamination family: exact 13-gram (decontamination_overlap),
# Bloom-membership (bloom_decontamination), and now NEAR-duplicate
# contamination, which exact-gram matching misses when the benchmark
# text was lightly paraphrased or re-tokenized.
# --------------------------------------------------------------------------
@register(
    "fuzzy_decontamination_minhash",
    oracle=_LSH_CTE
    + """
    SELECT t.doc_id AS doc_id,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_partners
    FROM banded t
    JOIN banded b ON t.band = b.band AND t.key = b.key
    WHERE b.doc_id % 50 = 0 AND t.doc_id % 50 <> 0
    GROUP BY t.doc_id
    """,
)
def fuzzy_decontamination_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup decontamination: flag training docs whose banded
    MinHash signature collides with any benchmark doc (same stand-in
    benchmark slice as the rest of the family: doc_id % 50 == 0).

    Scale shape: the corpus side reads the stored write-once banded
    index — NOT re-signed per benchmark refresh — and the benchmark
    side (a real eval set is a few thousand docs) is banded and
    broadcast, so the corpus never shuffles: broadcast-hash join on
    (band, key), then one partial-agg distinct-count keyed on the
    training doc. Output: (doc_id, n_bench_partners) for flagged docs
    only; left-anti join back onto the corpus for the clean build."""
    from datapipelinedemo_spark.operators.decontamination import (
        fuzzy_contamination_counts,
    )

    banded = _neardup_frames(spark, sf_dir)[1]
    return fuzzy_contamination_counts(banded, F.col("doc") % 50 == 0)


# --------------------------------------------------------------------------
# Deterministic stratified sampling: per-language hash-mod rates (the
# reproducible replacement for rand() sampling in corpus builds). A
# pure narrow filter — no shuffle, pushes to the scan.
# --------------------------------------------------------------------------
_STRATA_RATES = {"en": 0.05, "de": 0.5, "es": 0.2, "fr": 1.0, "zh": 0.1}
_STRATA_CASE = " ".join(
    f"WHEN lang = '{v}' THEN {round(f * 10000)}"
    for v, f in sorted(_STRATA_RATES.items())
)


@register(
    "stratified_sample_documents",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#s0'), 1, 15)
               AS BIGINT) % 10000
          < (CASE {_STRATA_CASE} ELSE 0 END)
    """,
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced deterministic sample: keep 5% of dominant en,
    100% of low-resource fr, etc. Same rows on every run, every
    partitioning, and every engine (md5 bucket on doc_id)."""
    from datapipelinedemo_spark.operators.sampling import (
        stratified_hash_sample,
    )

    docs = table(spark, sf_dir, "documents")
    return stratified_hash_sample(
        docs, "doc_id", "lang", _STRATA_RATES
    ).select("doc_id", "lang")


# --------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components over the verified
# near-dup pairs (the union-find stage after LSH + Jaccard verify).
# Spark runs iterative min-label propagation (operators/cluster.py);
# the oracle replays it as a DuckDB RECURSIVE CTE (labels flow along
# edges to a fixpoint, MIN per node = component id).
# --------------------------------------------------------------------------
_CC_ORACLE = (
    _LSH_CTE.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + """
    , vp AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN sh sa ON sa.doc_id = cand.doc_a
        JOIN sh sb ON sb.doc_id = cand.doc_b
        WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
              / (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))
              >= 0.5
    ), ed AS (
        SELECT doc_a AS a, doc_b AS b FROM vp
        UNION
        SELECT doc_b AS a, doc_a AS b FROM vp
    ), cc AS (
        SELECT doc_id AS id, doc_id AS comp FROM documents
      UNION
        SELECT e.b AS id, cc.comp AS comp
        FROM cc JOIN ed e ON cc.id = e.a
    )
    SELECT id AS doc_id, MIN(comp) AS comp FROM cc GROUP BY id
    """
)


@register("neardup_clusters", oracle=_CC_ORACLE)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document's duplicate-cluster id (min doc_id reachable via
    Jaccard>=0.5 verified near-dup pairs; singletons map to
    themselves). The canonical-doc choice a training pipeline keeps."""
    return _neardup_cc(spark, sf_dir)


# The cluster assignment feeds three catalog queries
# (neardup_clusters, training_corpus_pipeline,
# neardup_canonical_quality) and the CC iteration runs EAGER jobs per
# round — memoize the resolved frame per (session, sf_dir) like the
# candidate frame above so each consumer after the first pays a
# cached read, not the loop.
_CC_MEMO = FrameMemo()


def _neardup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipelinedemo_spark.operators.cluster import (
        connected_components,
    )

    def _build() -> DataFrame:
        docs = table(spark, sf_dir, "documents")
        sh = _doc_shingles(spark, sf_dir)
        cand = _lsh_candidates(spark, sf_dir)
        verified = DD.jaccard_verify(
            docs, cand, "doc_id", "text", k=9, threshold=0.5, shingles=sh
        )
        return connected_components(
            docs.select("doc_id"),
            verified,
            id_col="doc_id",
            src_col="doc_a",
            dst_col="doc_b",
        ).persist()

    return _CC_MEMO.get_or_build(
        spark, (sf_dir, table_stamp(sf_dir, "documents")), _build
    )


# --------------------------------------------------------------------------
# The end-to-end corpus build, as ONE query: near-dup removal (keep
# each duplicate-cluster's canonical doc) → per-language stratified
# downsampling → token accounting. Every stage is an operator already
# proven above; this pins their COMPOSITION against a single composed
# oracle (the thing a real pipeline actually runs).
# --------------------------------------------------------------------------
@register(
    "training_corpus_pipeline",
    oracle=f"""
    SELECT d.doc_id, d.lang,
           CAST(len({_TOK}) AS BIGINT) AS n_tokens
    FROM documents d
    JOIN (
        SELECT doc_id FROM ({_CC_ORACLE})
        WHERE doc_id = comp
    ) canon USING (doc_id)
    WHERE CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || '#s0'),
               1, 15) AS BIGINT) % 10000
          < (CASE {_STRATA_CASE} ELSE 0 END)
    """,
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What ships to the trainer: canonical (non-near-dup) documents,
    language-rebalanced, with their token counts. LSH candidates →
    Jaccard verify → connected components pick the canonical doc;
    the deterministic hash-mod sampler applies per-language rates;
    everything before the final projection is shuffle-bounded by the
    candidate set, never all-pairs."""
    from datapipelinedemo_spark.operators.sampling import (
        stratified_hash_sample,
    )

    docs = table(spark, sf_dir, "documents")
    clusters = neardup_clusters(spark, sf_dir)
    canon = clusters.filter(F.col("doc_id") == F.col("comp")).select(
        "doc_id"
    )
    kept = docs.join(canon, "doc_id")
    sampled = stratified_hash_sample(kept, "doc_id", "lang", _STRATA_RATES)
    return sampled.select(
        "doc_id",
        "lang",
        F.size(TX.tokenize("text")).cast("long").alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (label-blocked)
# --------------------------------------------------------------------------
# The corpus' near-dup cosine threshold: embedding_neardup_pairs'
# verify bound, SemDeDup's _SEM_TAU, and hard_negative_mining's
# exclusion cap (plans/selection_ops.py) all mean THIS boundary —
# one definition so the dedup rule and the "not a duplicate" negative
# miner cannot silently drift apart.
NEARDUP_TAU = 0.3

_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE,"
    " [CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)"
    "  for i in generate_series(1, 64)]), (x, y) -> x + y)"
)
_NRM_A = (
    "sqrt(list_reduce(list_prepend(0.0::DOUBLE,"
    " [CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE)"
    "  for i in generate_series(1, 64)]), (x, y) -> x + y))"
)
_NRM_B = _NRM_A.replace("a.embedding", "b.embedding")


# banded hyperplane LSH mirror: per plane p (0..15), the dot against
# the deterministic ±1 pseudo-hyperplane (md5(p_i) parity) as the SAME
# left fold Spark runs; bit p = sign >= 0; band key b (0..3) packs bits
# 4b..4b+3. Candidates = distinct pairs sharing any (band, key).
_HPW = (
    "(CASE WHEN CAST('0x' || substring(md5(p::VARCHAR || '_' || i::VARCHAR), 1, 8)"
    " AS BIGINT) % 2 = 0 THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
)
_PLANE_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE,"
    f" [CAST(embedding[i + 1] AS DOUBLE) * {_HPW}"
    "  for i in generate_series(0, 63)]), (x, y) -> x + y)"
)


@register(
    "embedding_neardup_pairs",
    oracle=f"""
    WITH sg AS (
        SELECT vec_id,
               [CASE WHEN {_PLANE_DOT} >= 0.0 THEN 1 ELSE 0 END
                for p in generate_series(0, 15)] AS bits
        FROM embeddings
    ), keys AS (
        SELECT vec_id, g.b AS band,
               bits[g.b*4 + 1] + 2*bits[g.b*4 + 2]
               + 4*bits[g.b*4 + 3] + 8*bits[g.b*4 + 4] AS key
        FROM sg, generate_series(0, 3) g(b)
    ), cand AS (
        SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM keys x JOIN keys y
          ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
    )
    SELECT c.id_a, c.id_b,
           round({_DOT} / ({_NRM_A} * {_NRM_B}), 6) AS cos_sim
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.id_a
    JOIN embeddings b ON b.vec_id = c.id_b
    WHERE {_DOT} / ({_NRM_A} * {_NRM_B}) >= {NEARDUP_TAU}
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with the default banded hyperplane-LSH blocking
    (operators/similarity.py): no all-pairs join anywhere — candidate
    generation is one shuffle on (band, key). The 0.3 threshold is set
    by the synthetic data (no true near-dup pairs exist above 0.5);
    recall vs the exact answer is pinned in tests and PERF.md.

    The banded side comes from the write-once parquet index
    (operators/ann_index.py, same md5 hyperplanes as inline signing —
    bit-identical, oracle unchanged); the exact-cosine verify reads the
    raw embeddings table. Per-run cost is a probe of the stored index,
    not an n·planes·dim signing pass."""
    from datapipelinedemo_spark.operators.ann_index import lsh_index

    emb = table(spark, sf_dir, "embeddings")
    # Geometry scales with the corpus like similarity_topk_lsh:
    # bits-per-band ∝ log2(n) pins expected bucket size, so candidate
    # pairs stay ~linear in n (fixed 16/4 measured quadratic at 10× —
    # the sf1 slice took >10 min vs seconds adaptive). At sf0.01
    # (n=500) the formula lands on r=4/planes=16, the committed
    # oracle's exact geometry, so parity is untouched.
    r = SIM.lsh_bits_for(_corpus_count(sf_dir, emb))
    banded = lsh_index(
        spark, sf_dir, planes=4 * r, bands=4, dim=64
    ).select(F.col("neighbor_id").alias("id"), "band", "key")
    base = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        SIM.norm("embedding").alias("nrm"),
    )
    pairs = SIM.banded_neardup_pairs(banded, base, threshold=NEARDUP_TAU)
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


# --------------------------------------------------------------------------
# Embedding streaming ingest, certified: the embedding stream's
# per-micro-batch pair function (streaming/dedup.py::
# embedding_batch_pairs — the code object its foreachBatch runs)
# driven as a batch query, mirroring the text-stream twins above.
# Entry 1 = a fresh stream's first batch (vec_id % 10 < 3 — the
# smallest slice with a non-empty in-batch pair set at sf0.01);
# entry 2 = a later batch (vec_id % 10 == 0) joining the STORED LSH
# index (only the corpus rows, neighbor_id % 10 != 0). Fixed 16/4
# geometry — a stream's geometry is pinned at start time (the stored
# index rows must stay joinable), unlike the batch queries' adaptive
# bits-per-band.
# --------------------------------------------------------------------------
_EMB_KEYS_CTE = f"""
    sg AS (
        SELECT vec_id,
               [CASE WHEN {_PLANE_DOT} >= 0.0 THEN 1 ELSE 0 END
                for p in generate_series(0, 15)] AS bits
        FROM embeddings
    ), keys AS (
        SELECT vec_id, g.b AS band,
               bits[g.b*4 + 1] + 2*bits[g.b*4 + 2]
               + 4*bits[g.b*4 + 3] + 8*bits[g.b*4 + 4] AS key
        FROM sg, generate_series(0, 3) g(b)
    )"""

_EMB_SCORE = f"""
    SELECT c.id_new, c.id_corpus,
           round({_DOT} / ({_NRM_A} * {_NRM_B}), 6) AS cos_sim,
           c.pair_type
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.id_new
    JOIN embeddings b ON b.vec_id = c.id_corpus
    WHERE {_DOT} / ({_NRM_A} * {_NRM_B}) >= {NEARDUP_TAU}
"""


@register(
    "streaming_embedding_first_batch",
    oracle="WITH "
    + _EMB_KEYS_CTE
    + """
    , bk AS (SELECT * FROM keys WHERE vec_id % 10 < 3),
    cand AS (
        SELECT DISTINCT x.vec_id AS id_new, y.vec_id AS id_corpus,
               'in_batch' AS pair_type
        FROM bk x JOIN bk y
          ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
    )
    """
    + _EMB_SCORE,
)
def streaming_embedding_first_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First micro-batch of a fresh embedding ingest stream: the batch
    is hyperplane-signed fresh (exactly what the stream pays) and only
    in-batch duplicate pairs exist — there is no corpus yet."""
    from datapipelinedemo_spark.streaming.dedup import embedding_batch_pairs

    batch = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 < 3
    )
    _, pairs = embedding_batch_pairs(batch, None, threshold=NEARDUP_TAU)
    return pairs.select(
        "id_new",
        "id_corpus",
        F.round("cos_sim", 6).alias("cos_sim"),
        "pair_type",
    )


@register(
    "streaming_embedding_vs_corpus",
    oracle="WITH "
    + _EMB_KEYS_CTE
    + """
    , bk AS (SELECT * FROM keys WHERE vec_id % 10 = 0),
    ck AS (SELECT * FROM keys WHERE vec_id % 10 <> 0),
    cand AS (
        SELECT DISTINCT x.vec_id AS id_new, y.vec_id AS id_corpus,
               'vs_corpus' AS pair_type
        FROM bk x JOIN ck y ON x.band = y.band AND x.key = y.key
        UNION ALL
        SELECT DISTINCT x.vec_id AS id_new, y.vec_id AS id_corpus,
               'in_batch' AS pair_type
        FROM bk x JOIN bk y
          ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
    )
    """
    + _EMB_SCORE,
)
def streaming_embedding_vs_corpus(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A later micro-batch of the embedding ingest stream: the batch
    (vec_id % 10 == 0) arrives RAW and is signed fresh; the corpus
    side comes from the STORED write-once LSH index (vector + norm
    riding in the index rows, so scoring never joins back to the
    embeddings table) — the exact admission screen
    ``start_embedding_ingest_stream`` runs per batch."""
    from datapipelinedemo_spark.operators.ann_index import lsh_index
    from datapipelinedemo_spark.streaming.dedup import embedding_batch_pairs

    batch = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 == 0
    )
    corpus = lsh_index(spark, sf_dir, planes=16, bands=4, dim=64).filter(
        F.col("neighbor_id") % 10 != 0
    )
    _, pairs = embedding_batch_pairs(batch, corpus, threshold=NEARDUP_TAU)
    return pairs.select(
        "id_new",
        "id_corpus",
        F.round("cos_sim", 6).alias("cos_sim"),
        "pair_type",
    )


# A production ingest batch is bounded by the ADMISSION RATE (what
# arrived since the last trigger), not by corpus size — the certified
# vs_corpus entry above keeps the historical 10%-of-corpus slice
# (whose cost therefore grows WITH the corpus: its ~0.9 scale exponent
# is the batch growing, not the screen degrading), while this variant
# certifies the fixed-size admission shape: the batch is capped at a
# constant vector count no matter the corpus scale, so per-batch cost
# is O(batch x hit-rate) against the stored index and the exponent
# reflects only index probing.
_EMB_BATCH_CAP = 2_000


@register(
    "streaming_embedding_vs_corpus_capped",
    oracle="WITH "
    + _EMB_KEYS_CTE
    + f"""
    , bk AS (SELECT * FROM keys
             WHERE vec_id % 10 = 0 AND vec_id < {_EMB_BATCH_CAP}),
    ck AS (SELECT * FROM keys WHERE vec_id % 10 <> 0),
    cand AS (
        SELECT DISTINCT x.vec_id AS id_new, y.vec_id AS id_corpus,
               'vs_corpus' AS pair_type
        FROM bk x JOIN ck y ON x.band = y.band AND x.key = y.key
        UNION ALL
        SELECT DISTINCT x.vec_id AS id_new, y.vec_id AS id_corpus,
               'in_batch' AS pair_type
        FROM bk x JOIN bk y
          ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
    )
    """
    + _EMB_SCORE,
)
def streaming_embedding_vs_corpus_capped(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`streaming_embedding_vs_corpus` with the batch capped at a
    FIXED vector count (VERDICT r10 #6) — the fixed-size admission
    step a production trigger actually pays: signing cost is constant
    per batch, the corpus participates only through band/key index
    probes, and the whole screen stays sub-linear in corpus scale.
    Same stored-index corpus side, same scoring, same tau."""
    from datapipelinedemo_spark.operators.ann_index import lsh_index
    from datapipelinedemo_spark.streaming.dedup import embedding_batch_pairs

    batch = table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < _EMB_BATCH_CAP)
    )
    corpus = lsh_index(spark, sf_dir, planes=16, bands=4, dim=64).filter(
        F.col("neighbor_id") % 10 != 0
    )
    _, pairs = embedding_batch_pairs(batch, corpus, threshold=NEARDUP_TAU)
    return pairs.select(
        "id_new",
        "id_corpus",
        F.round("cos_sim", 6).alias("cos_sim"),
        "pair_type",
    )


# --------------------------------------------------------------------------
# Custom stateful streaming, certified: applyInPandasWithState driven
# through a REAL multi-batch stream inside the catalog entry — the
# last streaming operator class without a driver/oracle row. The
# final per-user snapshot of a running (count, grid-exact sum)
# accumulator equals the plain batch aggregate, which the SQL twin
# states directly; the snapshots themselves prove the state path ran
# (n_events is monotone per user, so max-struct picks the final one).
# --------------------------------------------------------------------------
_STATEFUL_SRC: dict[tuple, str] = {}


def _stateful_source_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write the events slice as a 4-file parquet dir once per
    (session, corpus): with maxFilesPerTrigger=2 the stream sees TWO
    micro-batches, so the certified run exercises state carried
    ACROSS batches, not just first-batch initialization."""
    import hashlib
    import os
    import tempfile

    # keyed by (sf_dir, table_stamp) ONLY — not applicationId — so every
    # session reuses ONE stable dir per corpus version instead of
    # accreting a /tmp copy per application (ADVICE r9). md5, not
    # hash(): PYTHONHASHSEED randomizes str hashing per process.
    # ADVICE r10 / VERDICT r11 #4: the uid is in the path, the write
    # goes to a private (0700) staged dir atomically renamed into
    # place, and a pre-existing dir is trusted ONLY if lstat says it
    # is a real directory (NOT a symlink — os.stat follows links, so
    # a same-named symlink planted by another /tmp user pointing at
    # any _SUCCESS-bearing dir we own would pass a stat-based check
    # and silently redirect the streaming input) owned by us AND it
    # carries our content stamp. Two concurrent processes of the same
    # user race benignly: one rename wins, the loser reuses the
    # winner's dir (same key => same content) or falls back to its
    # own private staged copy.
    import stat as stat_mod

    key = (sf_dir, table_stamp(sf_dir, "events"))
    d = _STATEFUL_SRC.get(key)
    if d is None:
        tag = hashlib.md5(repr(key).encode()).hexdigest()[:12]
        uid = os.getuid()
        d = os.path.join(
            tempfile.gettempdir(), f"spark_graft_stateful_{uid}_{tag}"
        )

        def _owned_complete(path: str) -> bool:
            try:
                st = os.lstat(path)
                if not stat_mod.S_ISDIR(st.st_mode) or st.st_uid != uid:
                    return False  # symlink or foreign dir: never trust
                with open(os.path.join(path, "_GRAFT_STAMP")) as fh:
                    if fh.read() != repr(key):
                        return False
                return os.path.exists(os.path.join(path, "_SUCCESS"))
            except OSError:
                return False

        if not _owned_complete(d):
            stage = tempfile.mkdtemp(
                prefix=f"spark_graft_stateful_{uid}_{tag}_stage_"
            )  # mkdtemp => mode 0700: nobody else can write into it
            out = os.path.join(stage, "data")
            (
                table(spark, sf_dir, "events")
                .select("user_id", "ts", "value")
                .repartition(4)
                .write.mode("overwrite")
                .parquet(out)
            )
            with open(os.path.join(out, "_GRAFT_STAMP"), "w") as fh:
                fh.write(repr(key))
            os.chmod(out, 0o700)
            try:
                os.rename(out, d)  # atomic publish (same tmpfs)
            except OSError:
                # lost the race (or a stale non-owned entry squats the
                # name): reuse the existing dir only if it is ours,
                # link-free and stamped, else keep the private copy
                if _owned_complete(d):
                    import shutil

                    shutil.rmtree(out, ignore_errors=True)
                else:
                    d = out
            finally:
                if os.path.isdir(stage) and not os.listdir(stage):
                    os.rmdir(stage)
        _STATEFUL_SRC[key] = d
    return d


@register(
    "streaming_stateful_user_totals",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1e4 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_value4
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_user_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Certifies ``streaming/stateful.py::running_user_totals_exact``
    (applyInPandasWithState): the events table streams through the
    ACTUAL stateful operator in two micro-batches
    (maxFilesPerTrigger=2 over a 4-file source), per-user state
    carrying across the batch boundary; the final snapshot per user
    (update-mode emissions are monotone in n_events, max-struct picks
    the last) must hash-match the plain batch aggregate — exactly the
    "state = what a batch recompute would say" contract. The
    accumulator runs on the 1e-4 integer grid (order-free int64
    sums), so the compare is bit-exact, not tolerance-based.

    Scale shape: state is partitioned by user in the state store
    (RocksDB provider at scale), emissions are |users|-row per batch;
    nothing collects until the final dashboard-sized snapshot."""
    import uuid

    from datapipelinedemo_spark.streaming.stateful import (
        OUTPUT_SCHEMA_EXACT,
        running_user_totals_exact,
    )

    src = _stateful_source_dir(spark, sf_dir)
    schema = "user_id bigint, ts timestamp, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    qname = f"stateful_{uuid.uuid4().hex}"
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
    finally:
        q.stop()
    rows = (
        spark.table(qname)
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value4")).alias("m"))
        .select(
            "user_id",
            F.col("m.n_events").alias("n_events"),
            F.col("m.total_value4").alias("total_value4"),
        )
        .collect()  # bounded-collect: memory-sink snapshot, already driver-resident
    )
    spark.catalog.dropTempView(qname)
    return spark.createDataFrame(rows, OUTPUT_SCHEMA_EXACT)


# --------------------------------------------------------------------------
# Brute-force cosine top-k similarity search
# --------------------------------------------------------------------------

# ANN index geometry derives from the corpus row count (a plan-time
# scalar, like the IVF centroid sample); parquet counts come from
# footer metadata so the job is cheap, and the count is memoized per
# sf_dir — the testdata is static within a process.
_CORPUS_N: dict[str, int] = {}


def _corpus_count(sf_dir: str, emb: DataFrame) -> int:
    n = _CORPUS_N.get(sf_dir)
    if n is None:
        n = emb.count()
        _CORPUS_N[sf_dir] = n
    return n


_QDOT = _DOT.replace("a.embedding", "q.embedding").replace("b.embedding", "c.embedding")
_QNRM = _NRM_A.replace("a.embedding", "q.embedding")
_CNRM = _NRM_A.replace("a.embedding", "c.embedding")

# Shared by similarity_topk_bruteforce and hard_negative_mining
# (plans/selection_ops.py): ONE definition of the query set and the
# exact scored-pairs CTE, so the two catalog queries can never drift
# onto different query sets — each would still pass its own oracle if
# the literals were duplicated, making drift invisible to the gate.
TOPK_QUERY_MOD = 50


def topk_scored_cte() -> str:
    """``scored`` = (query_id, neighbor_id, cs) for every query-set
    vector against the whole corpus — the brute-force scoring frame."""
    return f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_QDOT} / ({_QNRM} * {_CNRM}) AS cs
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id % {TOPK_QUERY_MOD} = 0
    )"""


@register(
    "similarity_topk_bruteforce",
    oracle=topk_scored_cte()
    + """
    SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cs DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= 10
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % TOPK_QUERY_MOD == 0)
    topk = SIM.cosine_topk_bruteforce(emb, queries, "vec_id", "embedding", k=10)
    return topk.select(
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------
# LSH-bucketed approximate top-k (scale path): banded hyperplane
# signatures + query-side Hamming-1 multiprobe, replayed end-to-end in
# SQL (same md5-parity hyperplanes as embedding_neardup_pairs, same
# left folds, same probe set).
# --------------------------------------------------------------------------
@register(
    "similarity_topk_lsh",
    oracle=f"""
    WITH sg AS (
        SELECT vec_id,
               [CASE WHEN {_PLANE_DOT} >= 0.0 THEN 1 ELSE 0 END
                for p in generate_series(0, 15)] AS bits
        FROM embeddings
    ), keys AS (
        SELECT vec_id, g.b AS band,
               bits[g.b*4 + 1] + 2*bits[g.b*4 + 2]
               + 4*bits[g.b*4 + 3] + 8*bits[g.b*4 + 4] AS key
        FROM sg, generate_series(0, 3) g(b)
    ), probes AS (
        SELECT k.vec_id, k.band, u.pk AS key
        FROM keys k, unnest([k.key, xor(k.key, 1), xor(k.key, 2),
                             xor(k.key, 4), xor(k.key, 8)]) u(pk)
        WHERE k.vec_id % 50 = 0
    ), cand AS (
        SELECT DISTINCT p.vec_id AS query_id, c2.vec_id AS neighbor_id
        FROM probes p JOIN keys c2 ON c2.band = p.band AND c2.key = p.key
        WHERE c2.vec_id <> p.vec_id
    ), scored AS (
        SELECT query_id, neighbor_id, {_QDOT} / ({_QNRM} * {_CNRM}) AS cs
        FROM cand
        JOIN embeddings q ON q.vec_id = cand.query_id
        JOIN embeddings c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cs DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= 10
    """,
)
def similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return topk_lsh_frame(spark, sf_dir, k=10)


def topk_lsh_frame(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    max_sim: float | None = None,
) -> DataFrame:
    """Banded-LSH ANN top-k over the catalog query set; ``max_sim``
    caps the similarity below the near-dup threshold (the
    hard-negative form). One body serves both catalog entries so the
    geometry/broadcast/scale decisions can never drift apart."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    # Geometry scales with the corpus: bits-per-band ∝ log2(n) keeps
    # expected bucket size constant (without it candidate pairs grow
    # quadratically once both query and corpus sides scale — measured
    # exponent 1.46 at 10× in tools/scale_bench.py, ~linear after).
    # At sf0.01 (n=500) the formula lands on r=4/planes=16 — the
    # committed oracle's exact geometry, so parity is untouched.
    n = _corpus_count(sf_dir, emb)
    r = SIM.lsh_bits_for(n)
    # probe side ≈ n/50 queries × 4 bands × (1+r) probes; hard-hint the
    # broadcast only while that stays comfortably in executor memory
    probe_rows = (n // 50) * 4 * (1 + r)
    # the signed corpus is served from the write-once parquet index
    # (operators/ann_index.py) — per-run work is probe-only, the
    # production serving shape; results are bit-identical to inline
    # signing so oracle parity is unaffected
    from datapipelinedemo_spark.operators.ann_index import lsh_index

    corpus_frame = lsh_index(spark, sf_dir, planes=4 * r, bands=4, dim=64)
    topk = SIM.cosine_topk_lsh(
        emb, queries, "vec_id", "embedding", k=k,
        planes=4 * r, dim=64, bands=4, probe_hamming=1,
        broadcast_queries=probe_rows < 2_000_000,
        corpus_frame=corpus_frame,
        max_sim=max_sim,
    )
    return topk.select(
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------
# IVF-flat approximate top-k (the other scale path, FAISS layout):
# deterministic sampled centroids -> in-row assignment/probing -> exact
# cosine within probed lists. Fully deterministic, so the oracle
# replays every stage in SQL (centroid sample, argmax assignment,
# nprobe probe set, final top-k).
# --------------------------------------------------------------------------
_TDOT = _DOT.replace("a.embedding", "c.embedding").replace(
    "b.embedding", "t.embedding"
)
_TNRM = _NRM_A.replace("a.embedding", "t.embedding")
_QTDOT = _DOT.replace("a.embedding", "q.embedding").replace(
    "b.embedding", "t.embedding"
)


@register(
    "similarity_topk_ivf",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding
        FROM embeddings
        ORDER BY CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR) || '#ivf'),
                      1, 15) AS BIGINT), vec_id
        LIMIT 8
    ), asg AS (
        SELECT neighbor_id, cid FROM (
            SELECT c.vec_id AS neighbor_id, t.cid,
                   ROW_NUMBER() OVER (PARTITION BY c.vec_id
                       ORDER BY {_TDOT} / ({_CNRM} * {_TNRM}) DESC, t.cid
                   ) AS r
            FROM embeddings c CROSS JOIN cent t
        ) WHERE r = 1
    ), probes AS (
        SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, t.cid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                       ORDER BY {_QTDOT} / ({_QNRM} * {_TNRM}) DESC, t.cid
                   ) AS r
            FROM embeddings q CROSS JOIN cent t
            WHERE q.vec_id % 50 = 0
        ) WHERE r <= 2
    ), scored AS (
        SELECT p.query_id, a.neighbor_id,
               {_QDOT} / ({_QNRM} * {_CNRM}) AS cs
        FROM probes p
        JOIN asg a ON a.cid = p.cid AND a.neighbor_id <> p.query_id
        JOIN embeddings q ON q.vec_id = p.query_id
        JOIN embeddings c ON c.vec_id = a.neighbor_id
    )
    SELECT query_id, neighbor_id, round(cs, 6) AS cos_sim,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cs DESC, neighbor_id) AS rnk FROM scored)
    WHERE rnk <= 10
    """,
)
def similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (operators/similarity.py:cosine_topk_ivf): the
    corpus never shuffles for assignment — centroids are inlined
    driver-side (FAISS layout) and each row argmaxes in-row.

    nlist scales as sqrt(n) (ivf_nlist_for; fixed point nlist=8 at the
    sf0.01 oracle scale, so parity is untouched), and past the parity
    nlist the assignment stage switches from the inlined-expression
    fold to the Arrow BLAS ``mapInPandas`` matmul — the documented
    large-nlist plan (an expression tree with nlist×dim literals stops
    codegen-scaling: measured in tools/scale_bench.py, nlist=16 expr at
    sf0.1 is already slower than nlist=50 BLAS at 10× the data)."""
    return topk_ivf_frame(spark, sf_dir, k=10)


def topk_ivf_frame(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    max_sim: float | None = None,
) -> DataFrame:
    """IVF-flat ANN top-k over the catalog query set; one body for
    the plain and ``max_sim``-capped (hard-negative) catalog entries
    — see ``similarity_topk_ivf`` for the scale notes."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    nlist = SIM.ivf_nlist_for(_corpus_count(sf_dir, emb))
    topk = SIM.cosine_topk_ivf(
        emb, queries, "vec_id", "embedding", k=k, nlist=nlist, nprobe=2,
        assignment="expr" if nlist <= 8 else "pandas",
        max_sim=max_sim,
    )
    return topk.select(
        "query_id",
        "neighbor_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("long").alias("rank"),
    )


# --------------------------------------------------------------------------
# Multimodal: binary media columns + Arrow-batched mapInPandas feature
# extraction. The oracle recomputes the deterministic stub features in
# SQL — proving the Python-batch path produces exactly what the
# declarative spec says.
# --------------------------------------------------------------------------
@register(
    "multimodal_feature_extract",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                ELSE 'video' END AS kind,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS checksum,
           round(CAST(CAST('0x' || substring(md5(text), 1, 2) AS INT) AS DOUBLE)
                 / 255.0, 6) AS f0
    FROM documents
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipelinedemo_spark.multimodal import attach_fake_media, extract_features

    docs = table(spark, sf_dir, "documents")
    media = attach_fake_media(docs, "doc_id", "text")
    feats = extract_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "checksum",
        F.round(F.element_at("feature", 1), 6).alias("f0"),
    )


@register(
    "image_header_dimensions",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
           CAST(doc_id % 640 + 1 AS BIGINT) AS width,
           CAST(doc_id % 480 + 1 AS BIGINT) AS height,
           CAST(8 AS BIGINT) AS bit_depth
    FROM documents
    """,
)
def image_header_dimensions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image metadata extraction, no codec libs (VERDICT r15
    Next #7): dimensions and format live in plain struct fields of
    the container headers (PNG IHDR, JPEG SOFn, GIF, BMP), so
    ``multimodal.parse_image_header`` byte-walks them in an
    Arrow-batched ``mapInPandas``.

    Fixture + oracle: the container has no image files, so
    ``attach_synthetic_image_headers`` synthesizes byte-valid PNG /
    JPEG headers whose planted dimensions are pure functions of
    doc_id (even → PNG, odd → JPEG with a JFIF APP0 segment before
    the SOF0, so the marker walk is exercised); the DuckDB oracle
    recomputes the planted values arithmetically, and the value hash
    only matches if the parser truly recovered them from the byte
    layouts. At 100 TB the same operator runs over real lake bytes —
    header parsing reads the first <100 bytes per file, so the scan,
    not Python, is the cost."""
    from datapipelinedemo_spark.multimodal import (
        attach_synthetic_image_headers,
        image_dimensions,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    media = attach_synthetic_image_headers(docs, "doc_id")
    return image_dimensions(media)


@register(
    "media_container_info",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'mp4' END AS container,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(8000 * (doc_id % 6 + 1) AS BIGINT) END AS sample_rate,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(doc_id % 4 // 2 + 1 AS BIGINT) END AS channels,
           CASE WHEN doc_id % 2 = 0 THEN CAST(16 AS BIGINT) END
               AS bits_per_sample,
           CASE WHEN doc_id % 2 = 0
                THEN CAST((doc_id % 1000 + 1) * 1000
                          // (8000 * (doc_id % 6 + 1)) AS BIGINT)
                ELSE CAST(doc_id % 100000 + 1 AS BIGINT) END AS duration_ms,
           CASE WHEN doc_id % 2 = 1 THEN 'isom' END AS major_brand
    FROM documents
    """,
)
def media_container_info_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video twin of ``image_header_dimensions``: WAV (RIFF
    chunk walk — format/channels/rate/bits from ``fmt ``, exact
    duration from the ``data`` chunk size) and MP4 (ISO BMFF box walk
    — major brand from ``ftyp``, timescale + duration from
    ``moov``>``mvhd``) parsed by ``multimodal.parse_media_container``
    in Arrow-batched ``mapInPandas``, zero codec deps. The fixture
    synthesizes byte-valid containers with parameters planted as pure
    functions of doc_id; the oracle recomputes them arithmetically
    (integer division both engines), so the value hash only matches if
    the chunk/box walks truly recovered the planted fields."""
    from datapipelinedemo_spark.multimodal import (
        attach_synthetic_media_containers,
        media_container_info,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id")
    media = attach_synthetic_media_containers(docs, "doc_id")
    return media_container_info(media)


# --------------------------------------------------------------------------
# Training-data chunking: overlapping token windows per document
# --------------------------------------------------------------------------
@register(
    "chunk_documents",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks FROM documents)
    SELECT doc_id,
           CAST(s / 40 AS INT) AS chunk_idx,
           array_to_string(toks[s + 1 : s + 50], ' ') AS chunk_text,
           CAST(least(50, len(toks) - s) AS INT) AS chunk_tokens
    FROM t CROSS JOIN (SELECT unnest(generate_series(0, 4000, 40)) AS s) g
    WHERE s <= greatest(len(toks) - 1, 0)
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 50-token chunks with stride 40 (classic LLM
    training-data prep). In-row expression + one explode; the oracle
    rebuilds identical spans relationally."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "toks", TX.tokenize("text")
    )
    chunks = docs.select(
        "doc_id", F.explode(TX.chunk_spans("toks", 50, 40)).alias("c")
    )
    return chunks.select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.chunk_tokens").alias("chunk_tokens"),
    )


# --------------------------------------------------------------------------
# Sequential per-group computation that built-ins can't express:
# EWMA over each user's event values in time order, via Arrow-batched
# applyInPandas. The oracle replays the identical fold in SQL.
# --------------------------------------------------------------------------
@register(
    "user_value_ewma",
    oracle="""
    -- ORDER BY inside the aggregate (not an outer CTE sort): list()
    -- only reliably preserves a pre-sort under single-threaded insert
    -- order; the in-agg form is deterministic under parallel hash agg
    SELECT user_id,
           round(list_reduce(list(value ORDER BY ts, event_id),
                             (a, x) -> 0.9 * a + 0.1 * x), 6)
               AS ewma,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
)
def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (s0 = x0; s = 0.9*s + 0.1*x) per user over ts order — a
    genuinely sequential fold. r16: the fold runs as an IN-ROW
    ``aggregate`` over each user's collect_list-ed, array_sort-ed
    event structs instead of grouped ``applyInPandas`` — the SAME
    IEEE double sequence ((0.9*s) + (0.1*x), identical operation
    order), but zero JVM↔Python boundary (guide §4.1: built-ins over
    pandas UDFs; the old plan shipped every event row through Arrow
    to produce one row per user). ``bround`` is Python ``round``'s
    half-even twin. One shuffle (the groupBy), then row-local work;
    per-user state bounded by events-per-user exactly as before."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    # struct field order (ts, event_id, value): array_sort's struct
    # comparison = ORDER BY ts, event_id (event_id unique per event)
    agg = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("__seq"),
    )
    fold = F.expr(
        "aggregate(slice(__seq, 2, size(__seq) - 1),"
        " cast(__seq[0].value as double),"
        " (a, x) -> 0.9D * a + 0.1D * cast(x.value as double))"
    )
    return agg.select(
        "user_id",
        F.bround(fold, 6).alias("ewma"),
        "n_events",
    )


# --------------------------------------------------------------------------
# F8 — the NER dictionary matcher, oracle-checked. The pattern set uses
# distinct first tokens and component unigrams that are not themselves
# patterns, so span resolution is overlap-free and SQL-expressible;
# the overlap/filter_spans semantics are pinned by pytest
# (tests/test_tweets_pipeline.py::test_ner_semantics).
# --------------------------------------------------------------------------
_NER_PATTERNS = [
    ("table", 1, "Term", "TableOp"),
    ("join", 1, "Term", "JoinOp"),
    ("window", 1, "Term", None),          # no id → surface form
    ("hash value", 2, "Term", "HashValue"),
    ("fast merge", 2, "Term", "FastMerge"),
]
# SQL-literal form: apostrophes doubled for the DuckDB string
_NER_TOKRE = "[a-z0-9_'']+|[^a-z0-9_''\\s]"


@register(
    "ner_phrase_extraction",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '{_NER_TOKRE}') AS t
        FROM documents
    ), ex AS (
        SELECT doc_id, unnest(t) AS tok,
               unnest(generate_series(1, len(t))) AS pos, t
        FROM toks
    ), pat(first_tok, pattern, n_tok, ent_id) AS (
        VALUES ('table', 'table', 1, 'TableOp'),
               ('join', 'join', 1, 'JoinOp'),
               ('window', 'window', 1, NULL),
               ('hash', 'hash value', 2, 'HashValue'),
               ('fast', 'fast merge', 2, 'FastMerge')
    ), matched AS (
        SELECT DISTINCT ex.doc_id,
               coalesce(pat.ent_id, pat.pattern) AS phrase
        FROM ex JOIN pat ON ex.tok = pat.first_tok
        WHERE array_to_string(list_slice(ex.t, ex.pos, ex.pos + pat.n_tok - 1), ' ')
              = pat.pattern
    ), all_docs AS (SELECT doc_id FROM documents)
    SELECT a.doc_id, coalesce(m.phrase, 'empty') AS phrase
    FROM all_docs a LEFT JOIN matched m ON a.doc_id = m.doc_id
    """,
)
def ner_phrase_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entity_ruler-equivalent extraction over documents: one row per
    (doc, matched phrase id), ``empty`` sentinel for docs with no hit."""
    from datapipelinedemo_spark.functions.ner import (
        extract_phrases,
        pattern_table_from_rows,
    )

    docs = table(spark, sf_dir, "documents")
    pats = pattern_table_from_rows(spark, _NER_PATTERNS)
    out = extract_phrases(docs, "text", pats, "doc_id")
    return out.select(
        "doc_id", F.explode("All_phrases").alias("phrase")
    ).distinct()


# --------------------------------------------------------------------------
# F8 at dictionary scale: the REAL entity_ruler dictionary (25,456
# pattern lines -> 12,299 unique (pattern, id) rows, ~0.6 MB broadcast;
# /root/reference/NER_model/entity_ruler/patterns.jsonl) over the
# documents table. The DuckDB oracle parses the same jsonl
# (read_json_auto + LOWER/lower key coalesce -- verified identical to
# functions/ner.py:load_pattern_rows) and replays spaCy filter_spans
# greedy overlap resolution with a RECURSIVE CTE: matches ranked
# (len DESC, start ASC) per doc, rank i kept iff it overlaps nothing
# already kept. Recursion depth = max matches per doc (8 at sf0.01).
# --------------------------------------------------------------------------
_NER_FULL_ORACLE = r"""
WITH RECURSIVE praw AS (
    SELECT list_transform(pattern,
             t -> lower(coalesce(t.LOWER, t."lower", ''))) AS ptoks,
           id AS ent_id
    FROM read_json_auto('/root/reference/NER_model/entity_ruler/patterns.jsonl')
), pat AS (
    SELECT DISTINCT array_to_string(ptoks, ' ') AS pattern,
           len(ptoks) AS n_tok, ptoks[1] AS first_tok, ent_id
    FROM praw
    WHERE len(ptoks) > 0 AND len(list_filter(ptoks, x -> x = '')) = 0
), toks AS (
    SELECT doc_id,
           regexp_extract_all(lower(text), '[a-z0-9_'']+|[^a-z0-9_''\s]') AS t
    FROM documents
), ex AS (
    SELECT doc_id, unnest(t) AS tok,
           unnest(generate_series(1, len(t))) AS pos, t
    FROM toks
), m AS (
    SELECT ex.doc_id, ex.pos AS s, p.n_tok AS l,
           coalesce(p.ent_id, p.pattern) AS phrase
    FROM ex JOIN pat p ON ex.tok = p.first_tok
    WHERE array_to_string(list_slice(ex.t, ex.pos, ex.pos + p.n_tok - 1), ' ')
          = p.pattern
), ranked AS (
    SELECT doc_id, s, l, phrase,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY l DESC, s ASC) AS rnk
    FROM m
), greedy AS (
    SELECT doc_id, 0 AS i,
           CAST([] AS STRUCT(s BIGINT, l BIGINT)[]) AS kept,
           CAST([] AS VARCHAR[]) AS phrases
    FROM (SELECT DISTINCT doc_id FROM ranked)
  UNION ALL
    SELECT g.doc_id, g.i + 1,
           CASE WHEN len(list_filter(g.kept,
                      x -> r.s < x.s + x.l AND x.s < r.s + r.l)) = 0
                THEN list_append(g.kept, {'s': r.s, 'l': r.l})
                ELSE g.kept END,
           CASE WHEN len(list_filter(g.kept,
                      x -> r.s < x.s + x.l AND x.s < r.s + r.l)) = 0
                THEN list_append(g.phrases, r.phrase)
                ELSE g.phrases END
    FROM greedy g
    JOIN ranked r ON r.doc_id = g.doc_id AND r.rnk = g.i + 1
), final AS (
    SELECT doc_id, phrases
    FROM greedy
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i DESC) = 1
), hits AS (
    SELECT DISTINCT doc_id, unnest(phrases) AS phrase FROM final
)
SELECT d.doc_id, coalesce(h.phrase, 'empty') AS phrase
FROM (SELECT doc_id FROM documents) d
LEFT JOIN hits h USING (doc_id)
"""


@register("ner_full_dictionary", oracle=_NER_FULL_ORACLE)
def ner_full_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entity_ruler extraction with the full reference dictionary —
    longest-match resolution, broadcast size, and first-token-index
    selectivity exercised at real scale (12,299 patterns, max 16
    tokens). Same output shape as ``ner_phrase_extraction``."""
    from datapipelinedemo_spark.functions.ner import (
        REFERENCE_PATTERNS,
        extract_phrases,
        pattern_table,
    )

    docs = table(spark, sf_dir, "documents")
    pats = pattern_table(spark, REFERENCE_PATTERNS)
    out = extract_phrases(docs, "text", pats, "doc_id")
    return out.select(
        "doc_id", F.explode("All_phrases").alias("phrase")
    ).distinct()


# --------------------------------------------------------------------------
# F10 — lexicon sentiment, oracle-checked. Tenth-valued polarities are
# snapped to ints so the per-doc mean is order-independent.
# --------------------------------------------------------------------------
_SENT_LEXICON = [
    ("fast", 8), ("slow", -6), ("big", 3), ("small", -2),
    ("merge", 5), ("error", -9), ("value", 2), ("filter", -1),
]
_SENT_VALUES = ", ".join(f"('{w}', {p})" for w, p in _SENT_LEXICON)


@register(
    "lexicon_sentiment_documents",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9'']+'),
                                  t -> t <> '')) AS tok
        FROM documents
    ), lex(token, p10) AS (VALUES {_SENT_VALUES}),
    scored AS (
        SELECT t.doc_id,
               CAST(SUM(l.p10) AS BIGINT) AS sum_p10,
               COUNT(*) AS hits
        FROM toks t JOIN lex l ON t.tok = l.token
        GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           round(coalesce(CAST(s.sum_p10 AS DOUBLE) / (10.0 * s.hits), 0.0), 6)
               AS sentiment,
           coalesce(s.hits, 0) AS lexicon_hits
    FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
    """,
)
def lexicon_sentiment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean lexicon polarity per document (0.0 when nothing matches),
    integer-snapped so Spark's and DuckDB's fold orders can't drift."""
    docs = table(spark, sf_dir, "documents")
    lex = spark.createDataFrame(_SENT_LEXICON, "token string, p10 int")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower("text"), r"[^a-z0-9']+")).alias("tok"),
    ).filter(F.col("tok") != "")
    scored = (
        toks.join(F.broadcast(lex), toks.tok == lex.token)
        .groupBy("doc_id")
        .agg(F.sum("p10").alias("sum_p10"), F.count(F.lit(1)).alias("hits"))
        .withColumnRenamed("doc_id", "sdoc")
    )
    return (
        docs.join(scored, docs.doc_id == F.col("sdoc"), "left")
        .select(
            "doc_id",
            F.round(
                F.coalesce(
                    F.col("sum_p10").cast("double")
                    / (F.lit(10.0) * F.col("hits")),
                    F.lit(0.0),
                ),
                6,
            ).alias("sentiment"),
            F.coalesce(F.col("hits"), F.lit(0)).cast("long").alias("lexicon_hits"),
        )
    )


# --------------------------------------------------------------------------
# O2 — per-group top-k by weighted frequency (FreqDist.most_common)
# --------------------------------------------------------------------------
@register(
    "top5_words_per_lang",
    oracle="""
    WITH w AS (
        SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        t -> t <> '')) AS word
        FROM documents
    ), counted AS (
        SELECT lang, word, COUNT(*) AS freq FROM w GROUP BY lang, word
    )
    SELECT lang, word, freq, CAST(rnk AS BIGINT) AS rnk FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY freq DESC, word) AS rnk
        FROM counted
    ) WHERE rnk <= 5
    """,
)
def top5_words_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    counted = (
        docs.select("lang", F.explode(TX.tokenize("text")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), F.asc("word"))
    return (
        counted.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


# --------------------------------------------------------------------------
# Multimodal frame sampling: 1:N mapInPandas (every 2nd 1000-byte
# "frame" per media item), verified against SQL recomputation
# --------------------------------------------------------------------------
@register(
    "multimodal_frame_sample",
    oracle="""
    WITH m AS (
        SELECT doc_id AS media_id, text,
               CAST(ceil(length(text) / 1000.0) AS INT) AS n_frames
        FROM documents
    ), idx AS (
        SELECT media_id, text, unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx
        FROM m
    )
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(length(substring(text, frame_idx * 1000 + 1, 1000)) AS BIGINT)
               AS frame_bytes,
           md5(substring(text, frame_idx * 1000 + 1, 1000)) AS frame_checksum
    FROM idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipelinedemo_spark.multimodal import attach_fake_media
    from datapipelinedemo_spark.multimodal.media import sample_frames

    docs = table(spark, sf_dir, "documents")
    media = attach_fake_media(docs, "doc_id", "text")
    return sample_frames(media, frame_size=1000, stride=2)


# --------------------------------------------------------------------------
# PII scrubbing: email/URL redaction (training-data hygiene). The
# fixture-free trick: deterministically append synthetic PII to the
# corpus in BOTH engines, then verify the redaction pass removes it.
# --------------------------------------------------------------------------
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-z]{2,}"
_URL_RE = "https?://[^ ]+"


@register(
    "pii_redaction_stats",
    oracle=f"""
    WITH dirty AS (
        SELECT doc_id,
               text || CASE doc_id % 5
                 WHEN 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@example.com now'
                 WHEN 1 THEN ' see https://example.com/d/'
                             || CAST(doc_id AS VARCHAR) || ' today'
                 WHEN 2 THEN ' mail a@b.io or visit http://x.io/page'
                 ELSE '' END AS text
        FROM documents
    ), red AS (
        SELECT doc_id, text,
               regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                              '{_URL_RE}', '[URL]', 'g') AS clean
        FROM dirty
    )
    SELECT CAST(SUM(CASE WHEN clean <> text THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_redacted,
           CAST(SUM(len(regexp_extract_all(text, '{_EMAIL_RE}'))) AS BIGINT)
               AS emails_found,
           CAST(SUM(len(regexp_extract_all(text, '{_URL_RE}'))) AS BIGINT)
               AS urls_found,
           CAST(SUM(CASE WHEN regexp_matches(clean, '{_EMAIL_RE}')
                           OR regexp_matches(clean, '{_URL_RE}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS leaks_after
    FROM red
    """,
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/URL redaction over a corpus with deterministically planted
    PII; output counts what was found, what was scrubbed, and that
    nothing leaks through the cleaned text."""
    docs = table(spark, sf_dir, "documents")
    pii = (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit(" see https://example.com/d/"),
                F.col("doc_id").cast("string"),
                F.lit(" today"),
            ),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.lit(" mail a@b.io or visit http://x.io/page"),
        )
        .otherwise(F.lit(""))
    )
    dirty = docs.select(
        "doc_id", F.concat(F.col("text"), pii).alias("text")
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "[EMAIL]"),
        _URL_RE,
        "[URL]",
    )
    red = dirty.withColumn("clean", clean)
    return red.agg(
        F.sum((F.col("clean") != F.col("text")).cast("long")).alias(
            "docs_redacted"
        ),
        F.sum(F.regexp_count("text", F.lit(_EMAIL_RE))).alias("emails_found"),
        F.sum(F.regexp_count("text", F.lit(_URL_RE))).alias("urls_found"),
        F.sum(
            (
                F.col("clean").rlike(_EMAIL_RE) | F.col("clean").rlike(_URL_RE)
            ).cast("long")
        ).alias("leaks_after"),
    )


# --------------------------------------------------------------------------
# Sequence packing (training batch prep): stream docs per language in
# id order into ~2000-token bins via windowed cumulative counts — the
# shuffle-free approximation of greedy packing (bin id is a pure
# window expression, no sequential state needed).
# --------------------------------------------------------------------------
@register(
    "pack_documents_bins",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '')) AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, lang, toks,
               SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - toks AS before
        FROM t
    )
    SELECT lang, CAST(FLOOR(before / 2000.0) AS BIGINT) AS bin_id,
           COUNT(*) AS docs_in_bin,
           CAST(SUM(toks) AS BIGINT) AS bin_tokens
    FROM c GROUP BY lang, bin_id
    """,
)
def pack_documents_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").withColumn(
        "toks", F.size(TX.tokenize("text"))
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.withColumn("before", F.sum("toks").over(w) - F.col("toks"))
    return (
        c.withColumn(
            "bin_id", F.floor(F.col("before") / F.lit(2000.0)).cast("long")
        )
        .groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("docs_in_bin"),
            F.sum("toks").cast("long").alias("bin_tokens"),
        )
    )


@register(
    "packing_efficiency_sweep",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> '')) AS toks
        FROM documents
    ), c AS (
        SELECT doc_id, lang, toks,
               SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - toks AS before
        FROM t
    ), sz AS (SELECT unnest([512, 1024, 2048, 4096]) AS bin_size),
    bins AS (
        SELECT s.bin_size, lang,
               CAST(FLOOR(before / CAST(s.bin_size AS DOUBLE)) AS BIGINT)
                   AS bin_id,
               CAST(SUM(toks) AS BIGINT) AS bin_tokens
        FROM c CROSS JOIN sz s
        GROUP BY 1, 2, 3
    )
    SELECT CAST(bin_size AS BIGINT) AS bin_size,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(bin_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN bin_tokens > bin_size THEN 1 ELSE 0 END)
               AS BIGINT) AS overfull_bins,
           CAST(MAX(bin_tokens) AS BIGINT) AS max_bin_tokens,
           round(CAST(SUM(bin_tokens) AS DOUBLE)
                 / (COUNT(*) * bin_size), 6) AS avg_fill
    FROM bins GROUP BY bin_size
    """,
)
def packing_efficiency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT-LENGTH planner for sequence packing: the
    ``pack_documents_bins`` assignment evaluated at 512/1024/2048/4096
    token bins in one pass — bins produced, fill rate against
    capacity, and how many bins a single long doc overflows. The
    training-batch shape (context length) is read off this table, not
    guessed.

    Plan shape: the per-lang cumulative ``before`` column — the one
    windowed pass — is computed ONCE; the four bin sizes are a 4-row
    explode over it (in-row arithmetic only), then two partial-agg
    groupBys. Sweeping configs costs one extra shuffle over the
    single-config query, not four window passes."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "toks", F.size(TX.tokenize("text"))
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = docs.withColumn("before", F.sum("toks").over(w) - F.col("toks"))
    bins = (
        c.select(
            "lang",
            "toks",
            "before",
            F.explode(F.array(*(F.lit(s) for s in (512, 1024, 2048, 4096)))).alias(
                "bin_size"
            ),
        )
        .withColumn(
            "bin_id",
            F.floor(F.col("before") / F.col("bin_size").cast("double")).cast(
                "long"
            ),
        )
        .groupBy("bin_size", "lang", "bin_id")
        .agg(F.sum("toks").cast("long").alias("bin_tokens"))
    )
    return bins.groupBy("bin_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum("bin_tokens").cast("long").alias("total_tokens"),
        F.sum(
            F.when(F.col("bin_tokens") > F.col("bin_size"), 1).otherwise(0)
        )
        .cast("long")
        .alias("overfull_bins"),
        F.max("bin_tokens").cast("long").alias("max_bin_tokens"),
    ).select(
        F.col("bin_size").cast("long").alias("bin_size"),
        "n_bins",
        "total_tokens",
        "overfull_bins",
        "max_bin_tokens",
        F.round(
            F.col("total_tokens").cast("double")
            / (F.col("n_bins") * F.col("bin_size")),
            6,
        ).alias("avg_fill"),
    )


@register(
    "simhash_editdist_verify",
    oracle=_SIMHASH_CTE
    + """
    , b AS (
        SELECT doc_id, g.bnd AS band,
               (simhash >> (12 * g.bnd)) & 4095 AS key
        FROM sg, (SELECT unnest(generate_series(0, 3)) AS bnd) g
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM b x JOIN b y
          ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    ),
    ham AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN sg sa ON sa.doc_id = cand.doc_a
        JOIN sg sb ON sb.doc_id = cand.doc_b
        WHERE bit_count(CAST(xor(sa.simhash, sb.simhash) AS BIT)) <= 3
    )
    SELECT h.doc_a, h.doc_b,
           CAST(levenshtein(substring(da.text, 1, 200),
                            substring(db.text, 1, 200)) AS BIGINT)
               AS prefix_edit_dist
    FROM ham h
    JOIN documents da ON da.doc_id = h.doc_a
    JOIN documents db ON db.doc_id = h.doc_b
    WHERE levenshtein(substring(da.text, 1, 200),
                      substring(db.text, 1, 200)) <= 60
    """,
)
def simhash_editdist_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second verification stage on the SimHash near-dup pairs:
    character-level Levenshtein over the 200-char prefixes, keeping
    pairs at distance <= 60. SimHash agreement says the token
    DISTRIBUTIONS match; the edit-distance pass adds positional
    evidence (and only candidate pairs — never the corpus cross
    product — pay it). Spark's THRESHOLD-bounded levenshtein does
    O(threshold·len) work via the banded DP and returns -1 past the
    bound, so rejected pairs (the overwhelming majority at scale) stop
    early; kept rows carry the exact distance, bit-equal to the
    oracle's classic unit-cost levenshtein (DuckDB computes it
    unbounded — same integers for every surviving pair).
    """
    docs = table(spark, sf_dir, "documents")
    pairs = simhash_neardup_pairs(spark, sf_dir)
    ta = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.substring("text", 1, 200).alias("pa"),
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.substring("text", 1, 200).alias("pb"),
    )
    return (
        pairs.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "prefix_edit_dist",
            F.levenshtein("pa", "pb", 60).cast("long"),
        )
        .filter(F.col("prefix_edit_dist") >= 0)
        .select("doc_a", "doc_b", "prefix_edit_dist")
    )


# --------------------------------------------------------------------------
# Training shard manifest: deterministic global shuffle -> balanced
# shards for data loaders. Hierarchical (shard, block, pos-in-block)
# so NO global window: the only windows partition by (shard, block) —
# 16×64 independent tasks at any corpus size, each ~n/1024 rows. A
# loader reads shard s in (block_id, pos_in_block) order; ordering is
# md5-derived, so reproducible across engines, runs, and re-ingests.
# --------------------------------------------------------------------------
_N_SHARDS = 16
_N_BLOCKS = 64


@register(
    "training_shard_manifest",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#shard'),
                    1, 15) AS BIGINT) AS h1,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#ord'),
                    1, 15) AS BIGINT) AS h2
        FROM documents
    )
    SELECT doc_id,
           CAST(h1 % {_N_SHARDS} AS BIGINT) AS shard_id,
           CAST(h2 % {_N_BLOCKS} AS BIGINT) AS block_id,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY h1 % {_N_SHARDS}, h2 % {_N_BLOCKS}
                ORDER BY h2, doc_id) - 1 AS BIGINT) AS pos_in_block
    FROM h
    """,
)
def training_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipelinedemo_spark.functions.stable import md5_long

    docs = table(spark, sf_dir, "documents").select("doc_id")
    h1 = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit("#shard")))
    h2 = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit("#ord")))
    hashed = docs.select(
        "doc_id",
        (h1 % _N_SHARDS).alias("shard_id"),
        (h2 % _N_BLOCKS).alias("block_id"),
        h2.alias("__h2"),
    )
    w = Window.partitionBy("shard_id", "block_id").orderBy(
        F.asc("__h2"), F.asc("doc_id")
    )
    return hashed.select(
        "doc_id",
        "shard_id",
        "block_id",
        (F.row_number().over(w) - 1).cast("long").alias("pos_in_block"),
    )


@register(
    "shard_integrity_manifest",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)
                    || '#shard'), 1, 15) AS BIGINT) % {_N_SHARDS}
                   AS shard_id,
               CAST('0x' || substring(md5(text), 1, 15) AS BIGINT)
                   AS th,
               CAST(len({_TOK}) AS BIGINT) AS toks
        FROM documents
    )
    SELECT shard_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS token_sum,
           CAST(bit_xor(th) AS BIGINT) AS content_xor,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc
    FROM h GROUP BY 1
    """,
)
def shard_integrity_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGRITY record for the exported training shards: per shard
    (same hash-mod assignment as ``training_shard_manifest``), the doc
    count, token mass, id range, and an order-free XOR checksum of the
    per-doc content hashes — the manifest a reproducibility audit
    diffs against a re-export ("same shards, same bytes") without
    re-reading any document. XOR is the right accumulator here: it is
    commutative/associative (partial-agg combinable in any order),
    cannot overflow, and any single changed/missing/duplicated doc
    flips it.

    Plan shape: one in-row projection (two md5s + a token count) and
    ONE partial-agg groupBy on the 16-value shard key — every column
    map-side combines, nothing corpus-sized moves."""
    from datapipelinedemo_spark.functions.stable import md5_long

    docs = table(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        (
            md5_long(
                F.concat(F.col("doc_id").cast("string"), F.lit("#shard"))
            )
            % _N_SHARDS
        ).alias("shard_id"),
        md5_long(F.col("text")).alias("th"),
        F.size(TX.tokenize("text")).cast("long").alias("toks"),
    )
    return h.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("toks").cast("long").alias("token_sum"),
        F.expr("bit_xor(th)").cast("long").alias("content_xor"),
        F.min("doc_id").cast("long").alias("min_doc"),
        F.max("doc_id").cast("long").alias("max_doc"),
    )


# --------------------------------------------------------------------------
# Quality-classifier filter: fastText-style LINEAR scorer over the
# doc_quality feature vector, evaluated as pure integer arithmetic on
# the micro (1e-6) grid so the logit and the keep decision are exact
# in both engines. Weights are fixed stand-ins (no training here) —
# the point is the inference plan shape: features from one projection,
# score and threshold in-row, zero shuffles before the sink filter.
# --------------------------------------------------------------------------
@register(
    "quality_classifier_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS toks, text FROM documents),
    f AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(FLOOR(round(CASE WHEN length(text) = 0 THEN 0.0::DOUBLE
                    ELSE CAST(length(text) - length(regexp_replace(text,
                         '[!-/:-@\\[-`{{-~]', '', 'g')) AS DOUBLE) / length(text)
                    END, 6) * 1e6 + 0.5) AS BIGINT) AS punct_u,
               CAST(FLOOR(round(CASE WHEN len(toks) = 0 THEN 0.0::DOUBLE
                    ELSE CAST(len(list_filter(toks,
                         w -> w IN ('the','and','of','to','a','in','is','it','that','for')))
                         AS DOUBLE) / len(toks) END, 6) * 1e6 + 0.5) AS BIGINT)
                   AS stop_u,
               CAST(FLOOR(round(CASE WHEN len(toks) = 0 THEN 0.0::DOUBLE
                    ELSE CAST(list_reduce(list_prepend(0::BIGINT,
                         list_transform(toks, w -> length(w))), (a, b) -> a + b)
                         AS DOUBLE) / len(toks) END, 6) * 1e6 + 0.5) AS BIGINT)
                   AS mlen_u
        FROM t
    )
    SELECT doc_id,
           CAST(1500000 + 2 * stop_u - 4 * punct_u
                - abs(mlen_u - 5000000) // 2
                + LEAST(n_tokens, 500) * 1000 AS BIGINT) AS quality_logit_micro,
           (1500000 + 2 * stop_u - 4 * punct_u
                - abs(mlen_u - 5000000) // 2
                + LEAST(n_tokens, 500) * 1000) > 2000000 AS keep
    FROM f
    """,
)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = TX.tokenize("text")
    micro = lambda c: F.floor(F.round(c, 6) * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    f = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        micro(TX.punct_ratio("text")).alias("punct_u"),
        micro(TX.stopword_ratio(toks, TX.LANG_PROFILES["en"])).alias("stop_u"),
        micro(TX.mean_token_length(toks)).alias("mlen_u"),
    )
    logit = (
        F.lit(1500000)
        + F.lit(2) * F.col("stop_u")
        - F.lit(4) * F.col("punct_u")
        - F.floor(F.abs(F.col("mlen_u") - F.lit(5000000)) / F.lit(2))
        + F.least(F.col("n_tokens"), F.lit(500)) * F.lit(1000)
    ).cast("long")
    return f.select(
        "doc_id",
        logit.alias("quality_logit_micro"),
        (logit > F.lit(2000000)).alias("keep"),
    )


# --------------------------------------------------------------------------
# C4-style corpus-level boilerplate-line dedup (T5/C4 preprocessing:
# drop any line that repeats across >= 3 documents in the corpus —
# navigation bars, cookie banners, license footers — while keeping
# each document's remaining lines in order). The testdata documents
# are single-line word streams, so the "line" segmenter here is a
# fixed 4-word block (the segmenter is the only corpus-specific seam;
# on real web data it is split('\n')). Plan shape is the 100 TB one:
# blocks are built IN-ROW (transform over a sequence — no explode
# before the per-block counting shuffle), the global block count is
# one partial-agg shuffle, the boilerplate set joins back as a
# shuffle join on the block text (NOT broadcast — the >=3-docs set
# grows with the corpus per Heaps' law, same lesson as the bigram-LM
# scoring join), and documents reassemble with one groupBy(doc_id)
# whose per-group state is the document itself — bounded by doc
# length, not corpus size.
# --------------------------------------------------------------------------
_C4_B = 4  # words per pseudo-line block
_C4_MIN_DOCS = 3  # C4 drops lines occurring in >= 3 pages

@register(
    "c4_line_dedup",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), ix AS (
        SELECT doc_id, ws,
               unnest(range(CAST(ceil(len(ws) / {_C4_B}.0) AS BIGINT))) AS idx
        FROM w
    ), b AS (
        SELECT doc_id, idx,
               array_to_string(
                   list_slice(ws, idx * {_C4_B} + 1, idx * {_C4_B} + {_C4_B}),
                   ' ') AS blk
        FROM ix
    ), boiler AS (
        SELECT blk FROM b GROUP BY blk
        HAVING count(DISTINCT doc_id) >= {_C4_MIN_DOCS}
    ), j AS (
        SELECT b.doc_id, b.idx, b.blk,
               boiler.blk IS NOT NULL AS is_b
        FROM b LEFT JOIN boiler USING (blk)
    )
    SELECT doc_id,
           CAST(count(*) AS INT) AS n_blocks,
           CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS INT)
               AS removed_blocks,
           COALESCE(string_agg(CASE WHEN NOT is_b THEN blk END,
                               ' ' ORDER BY idx), '') AS cleaned_text
    FROM j GROUP BY doc_id
    """,
)
def c4_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return c4_line_dedup_frame(docs)


# --------------------------------------------------------------------------
# C4 page-level filters (Raffel et al. 2020 §2.2) — the rest of the
# C4 battery beside the cross-doc line dedup: sentence-count floor,
# curly-brace (code) drop, "lorem ipsum" drop, javascript-mention
# drop. Same per-rule-column convention as the Gopher battery so a
# filtering audit attributes every drop.
# --------------------------------------------------------------------------
_C4_MIN_SENTENCES = 3


def c4_page_filter_frame(docs: DataFrame) -> DataFrame:
    """The C4 page rules as a pure in-row frame transform (no shuffle,
    no state — streams natively in append mode like ``gq_battery``).
    On the punctuation-free synthetic corpus the sentence rule drops
    everything and the other three fire never — vacuous-here but
    SHAPE, like the Gopher symbol/alpha rules (recorded honestly);
    the pytest plants make each rule fire alone."""
    low = F.lower(F.col("text"))
    n_sent = F.size(
        F.expr(r"regexp_extract_all(text, '[.!?]', 0)")
    ).cast("long")
    flag = lambda c: c.cast("int").cast("long")  # noqa: E731
    f = docs.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        flag(n_sent >= _C4_MIN_SENTENCES).alias("ok_sentences"),
        flag(~F.col("text").contains("{")).alias("ok_no_brace"),
        flag(~low.contains("lorem ipsum")).alias("ok_no_lorem"),
        flag(~low.contains("javascript")).alias("ok_no_js"),
    )
    return f.select(
        "*",
        F.expr("ok_sentences * ok_no_brace * ok_no_lorem * ok_no_js")
        .cast("long")
        .alias("kept"),
    )


# --------------------------------------------------------------------------
# Per-source boilerplate report — the per-host flavor of the C4 line
# dedup: a navigation template repeated across one site's pages is
# invisible to a global absolute threshold when the site is small, and
# a RELATIVE threshold (block appears in >= 25% of the source's docs,
# min 2) is what crawl cleaning actually keys on (CCNet/RefinedWeb
# both dedupe per-domain first). Shares the _C4_B word-block pseudo-
# line convention so the two entries describe the same units.
# Scale: the block explode is the only corpus-grain pass; doc-
# frequency is a two-level partial agg ((source, blk, doc) then
# (source, blk)); the report is |sources| rows; per-source doc counts
# broadcast. No windows.
# --------------------------------------------------------------------------
_SBR_FRAC = 0.25  # block is template if in >= 25% of the source's docs


@register(
    "source_boilerplate_report",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, source, string_split(text, ' ') AS ws
        FROM documents
    ), ix AS (
        SELECT doc_id, source, ws,
               unnest(range(CAST(ceil(len(ws) / {_C4_B}.0) AS BIGINT)))
                   AS idx
        FROM w
    ), b AS (
        SELECT doc_id, source,
               array_to_string(
                   list_slice(ws, idx * {_C4_B} + 1,
                              idx * {_C4_B} + {_C4_B}), ' ') AS blk
        FROM ix
    ), l2 AS (
        SELECT source, blk,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
               CAST(COUNT(*) AS BIGINT) AS occ
        FROM b GROUP BY 1, 2
    ), nd AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ), tot AS (
        SELECT source, CAST(SUM(occ) AS BIGINT) AS total_occurrences
        FROM l2 GROUP BY 1
    ), tmpl AS (
        SELECT l2.source,
               CAST(COUNT(*) AS BIGINT) AS n_template_blocks,
               CAST(SUM(l2.occ) AS BIGINT) AS template_occurrences
        FROM l2 JOIN nd ON nd.source = l2.source
        WHERE l2.df >= GREATEST(2, CAST(CEIL({_SBR_FRAC} * nd.n_docs)
                                        AS BIGINT))
        GROUP BY 1
    )
    SELECT nd.source AS source, nd.n_docs AS n_docs,
           COALESCE(t.n_template_blocks, 0) AS n_template_blocks,
           COALESCE(t.template_occurrences, 0) AS template_occurrences,
           tot.total_occurrences AS total_occurrences,
           round(CAST(COALESCE(t.template_occurrences, 0) AS DOUBLE)
                 / tot.total_occurrences, 6) AS template_share
    FROM nd
    JOIN tot ON tot.source = nd.source
    LEFT JOIN tmpl t ON t.source = nd.source
    """,
)
def source_boilerplate_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source template-block report (section comment above):
    (source, n_docs, n_template_blocks, template_occurrences,
    total_occurrences, template_share)."""
    docs = table(spark, sf_dir, "documents")
    b = F.lit(_C4_B)
    staged = docs.select(
        "doc_id", "source", F.split(F.col("text"), " ").alias("__words")
    )
    words = F.col("__words")
    nblk = F.ceil(F.size(words) / b.cast("double")).cast("long")
    blocks = F.transform(
        F.sequence(F.lit(0).cast("long"), nblk - F.lit(1)),
        lambda i: F.array_join(
            F.slice(words, (i * b + 1).cast("int"), _C4_B), " "
        ),
    )
    ex = staged.select(
        "doc_id", "source", F.explode(blocks).alias("blk")
    )
    l2 = (
        ex.groupBy("source", "blk", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .groupBy("source", "blk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("o").cast("long").alias("occ"),
        )
    )
    nd = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    # ONE pass over the (source, blk) frame: the template predicate is
    # a conditional inside the same aggregation that totals occurrences
    # — splitting it into separate tot/tmpl consumers would re-derive
    # the block explode twice (no cross-branch subtree sharing).
    is_tmpl = F.col("df") >= F.greatest(
        F.lit(2).cast("long"),
        F.ceil(F.lit(_SBR_FRAC) * F.col("n_docs")).cast("long"),
    )
    return (
        l2.join(F.broadcast(nd), "source")
        .groupBy("source")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.sum(F.when(is_tmpl, 1).otherwise(0))
            .cast("long")
            .alias("n_template_blocks"),
            F.sum(F.when(is_tmpl, F.col("occ")).otherwise(0))
            .cast("long")
            .alias("template_occurrences"),
            F.sum("occ").cast("long").alias("total_occurrences"),
        )
        .select(
            "source",
            "n_docs",
            "n_template_blocks",
            "template_occurrences",
            "total_occurrences",
            F.round(
                F.col("template_occurrences").cast("double")
                / F.col("total_occurrences"),
                6,
            ).alias("template_share"),
        )
    )


@register(
    "c4_page_filters",
    oracle=f"""
    WITH f AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[.!?]')) AS BIGINT)
                   AS n_sentences,
               CAST(CASE WHEN len(regexp_extract_all(text, '[.!?]'))
                    >= {_C4_MIN_SENTENCES} THEN 1 ELSE 0 END AS BIGINT)
                   AS ok_sentences,
               CAST(CASE WHEN contains(text, '{{') THEN 0 ELSE 1 END
                   AS BIGINT) AS ok_no_brace,
               CAST(CASE WHEN contains(lower(text), 'lorem ipsum')
                    THEN 0 ELSE 1 END AS BIGINT) AS ok_no_lorem,
               CAST(CASE WHEN contains(lower(text), 'javascript')
                    THEN 0 ELSE 1 END AS BIGINT) AS ok_no_js
        FROM documents
    )
    SELECT *, CAST(ok_sentences * ok_no_brace * ok_no_lorem * ok_no_js
               AS BIGINT) AS kept
    FROM f
    """,
)
def c4_page_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document C4 page rules (module comment above): each rule a
    0/1 column, ``kept`` the conjunction — one in-row scan, zero
    shuffles, the same audit-attribution convention as
    ``gopher_quality_flags``."""
    return c4_page_filter_frame(table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# WITHIN-document repeated-block removal (RefinedWeb/FineWeb "remove
# duplicated lines within a document": keep only the FIRST occurrence
# of each block, preserving order). Complements c4_line_dedup (which
# drops blocks repeated ACROSS >= 3 documents): a page that repeats
# its own navigation or a generator that loops a paragraph is cleaned
# here even when no other document shares the text. Same fixed 4-word
# block segmenter seam (split('\n') on real web data).
#
# Scale shape (r11, VERDICT r10 "What's wrong #1"): LINEAR in blocks.
# The r10 version kept everything in-row but paid an
# ``array_position`` linear scan per block — O(blocks^2) inside ONE
# task, so a single book-length document (200k words -> 50k blocks ->
# 2.5e9 comparisons) became an unsplittable straggler. This shape is
# the same one ``c4_line_dedup_frame`` uses: posexplode ->
# groupBy(doc_id, blk).agg(min(idx), count) -> rejoin ordered by
# first index. Two shuffles keyed by (doc_id, blk) then doc_id, both
# partial-aggregated map-side, each O(blocks) total — a 50k-block
# document costs 50k rows through a hash aggregate instead of 2.5e9
# comparisons, and skewed (long) documents split across tasks at the
# (doc_id, blk) grain. Semantics unchanged (keep FIRST occurrence,
# preserve order); certified hash-equal to the r10 entry.
# --------------------------------------------------------------------------
@register(
    "intra_doc_block_dedup",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bl AS (
        SELECT doc_id,
               [array_to_string(
                    list_slice(ws, i * {_C4_B} + 1, i * {_C4_B} + {_C4_B}),
                    ' ')
                for i in generate_series(
                    0, CAST(ceil(len(ws) / {_C4_B}.0) AS BIGINT) - 1)]
                   AS blocks
        FROM w
    ), k AS (
        -- DuckDB lambda index is 1-based; keep a block iff its FIRST
        -- occurrence index equals its own position
        SELECT doc_id, blocks,
               list_filter(blocks,
                           (x, i) -> list_position(blocks, x) = i) AS kept
        FROM bl
    )
    SELECT doc_id,
           CAST(len(blocks) AS INT) AS n_blocks,
           CAST(len(blocks) - len(kept) AS INT) AS removed_blocks,
           array_to_string(kept, ' ') AS cleaned_text
    FROM k
    """,
)
def intra_doc_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_blocks, removed_blocks, cleaned_text) with every
    block that repeats an EARLIER block of the same document removed
    (keep-first, order preserved) — the within-doc half of line-level
    dedup; ``c4_line_dedup`` is the cross-doc half."""
    docs = table(spark, sf_dir, "documents")
    return intra_doc_block_dedup_frame(docs)


def intra_doc_block_dedup_frame(
    docs: DataFrame, block_words: int = _C4_B
) -> DataFrame:
    """Linear keep-first within-doc block dedup (see banner above).

    posexplode(blocks) -> groupBy(doc_id, blk) {min(idx), count} ->
    groupBy(doc_id) rejoin sorted by first index.  O(blocks) total,
    no per-row quadratic scan, so a single 50k-block document is a
    hash-aggregate workload rather than a one-task straggler.

    The word array is materialized as a COLUMN before the block
    lambda references it: embedding the ``split(text)`` expression
    inside the higher-order ``transform`` would re-split the whole
    document once per block index (a hidden O(words x blocks)
    re-evaluation — the lambda body is evaluated per element, and a
    non-attribute subexpression inside it is not hoisted), which is
    exactly the quadratic this rewrite removes. Bound attribute
    references are O(1) per iteration.
    """
    b = F.lit(block_words)
    staged = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    )
    words = F.col("words")
    nblk = F.ceil(F.size(words) / b.cast("double")).cast("long")
    blocks = F.transform(
        F.sequence(F.lit(0).cast("long"), nblk - F.lit(1)),
        lambda i: F.array_join(
            F.slice(words, (i * b + 1).cast("int"), block_words), " "
        ),
    )
    ex = staged.select(
        "doc_id", F.posexplode(blocks).alias("idx", "blk")
    )
    per_block = ex.groupBy("doc_id", "blk").agg(
        F.min("idx").alias("first_idx"),
        F.count(F.lit(1)).alias("occ"),
    )
    return per_block.groupBy("doc_id").agg(
        F.sum("occ").cast("int").alias("n_blocks"),
        (F.sum("occ") - F.count(F.lit(1))).cast("int").alias(
            "removed_blocks"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("first_idx", "blk"))
                ),
                lambda s: s["blk"],
            ),
            " ",
        ).alias("cleaned_text"),
    )


def c4_line_dedup_frame(
    docs: DataFrame,
    block_words: int = _C4_B,
    min_docs: int = _C4_MIN_DOCS,
) -> DataFrame:
    """(doc_id, n_blocks, removed_blocks, cleaned_text) with every
    block repeated across >= ``min_docs`` documents removed, remaining
    blocks rejoined in document order.

    The word array is staged as a COLUMN before the block lambda
    references it (same rationale as ``intra_doc_block_dedup_frame``
    above, VERDICT r11 "What's wrong #2"): a ``split(text)``
    subexpression embedded in the higher-order ``transform`` body is
    re-evaluated once per block index — O(words x blocks) per row —
    while a bound attribute reference is O(1) per iteration."""
    b = F.lit(block_words)
    staged = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("__words")
    )
    words = F.col("__words")
    nblk = F.ceil(F.size(words) / b.cast("double")).cast("long")
    blocks = F.transform(
        F.sequence(F.lit(0).cast("long"), nblk - F.lit(1)),
        lambda i: F.array_join(
            F.slice(words, (i * b + 1).cast("int"), block_words), " "
        ),
    )
    ex = staged.select(
        "doc_id", F.posexplode(blocks).alias("idx", "blk")
    )
    boiler = (
        ex.groupBy("blk")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= min_docs)
        .select("blk", F.lit(True).alias("is_b"))
    )
    j = ex.join(boiler, "blk", "left")
    kept_struct = F.when(
        F.col("is_b").isNull(), F.struct(F.col("idx"), F.col("blk"))
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_blocks"),
        F.count("is_b").cast("int").alias("removed_blocks"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["blk"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
