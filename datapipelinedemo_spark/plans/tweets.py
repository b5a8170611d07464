"""The four reference outputs (tweet analytics), assembled Spark-first.

Reference flow (demo.py): CSV scan → ~20 row-at-a-time UDF enrichments
→ per output: rdd.map → groupByKey → Python dict fold → toDF → explode
→ pivot → toPandas CSV, re-running the whole uncached prefix 4×.

Rebuild: one declarative enrichment (every F1–F10 as native
expressions, NER + sentiment as broadcast joins), ``.cache()``d once,
then four tables built by one ``_table`` shape: group by (Year, Month,
keys), collect the month labels (one small distinct job per table),
pivot on them, add ``Category1``. Weights fold into SUMs (the reference
materializes weight-repeated arrays, F11 — never needed).

Output schemas match the golden CSV headers
(Frequency_monthly_demo.csv etc.): key cols + ``<Prefix>_<Y>-<M>``
month columns (month not zero-padded, sorted as strings) + constant
``Category1``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from datapipelinedemo_spark.pin import pin

from datapipelinedemo_spark.functions.cleaning import (
    clean_timestamp,
    keyword_from_url,
    keyword_to_category,
    log2_bucket,
    month_label,
    parse_human_number,
    parse_timestamp_date,
)
from datapipelinedemo_spark.functions.ner import extract_phrases
from datapipelinedemo_spark.functions.sentiment import score_sentiment
from datapipelinedemo_spark.functions.stable import dec_sum
from datapipelinedemo_spark.operators import pairs

# enrichment columns every table reads besides the phrases
_CARRY = ["Year", "Month", "Category2", "Likes_log", "Retweets_log", "Sentiment"]


def enrich(tweets: DataFrame, patterns: DataFrame, lexicon: DataFrame) -> DataFrame:
    """E1 — the shared enrichment prefix (demo.py:50-187), one pass,
    cached. A null or unparseable ``Timestamp`` drops the row at the
    ``TweetDate`` filter; null counts parse to 0."""
    df = (
        tweets.withColumn("TweetDate", parse_timestamp_date(clean_timestamp("Timestamp")))
        .filter(F.col("TweetDate").isNotNull())
        .withColumn("Comments", parse_human_number("Comments"))
        .withColumn("Likes", parse_human_number("Likes"))
        .withColumn("Retweets", parse_human_number("Retweets"))
        .withColumn("Likes_log", log2_bucket("Likes"))
        .withColumn("Retweets_log", log2_bucket("Retweets"))
        .withColumn("Year", F.year("TweetDate"))
        .withColumn("Month", F.month("TweetDate"))
        .withColumn("Quarter", F.quarter("TweetDate"))
        .filter(F.col("Page_URL").isNotNull())
        .withColumn("Keyword", keyword_from_url("Page_URL"))
        .filter(F.col("Keyword").isNotNull())
        # Unknown keyword → null category in the reference (demo.py:135);
        # those rows are KEPT and every output consumes Category2 only via
        # str(key) in the month/category UDFs (demo.py:219, str(None) →
        # 'None'), so coalescing to the literal 'None' here is
        # observationally equivalent and keeps the group key non-null.
        .withColumn(
            "Category2",
            F.coalesce(keyword_to_category("Keyword"), F.lit("None")),
        )
        .withColumn("__rid", F.monotonically_increasing_id())
    )
    # __rid feeds TWO reattach joins (phrases, sentiment) below.
    # monotonically_increasing_id is only stable for a fixed partition
    # layout + row order, so pin it by materializing the frame once
    # (lineage truncation: retries and both join branches reread the
    # same blocks instead of regenerating ids). Lazy: first action pays.
    df = df.transform(pin)  # pin-bounded: tweets demo-fixture grain; materialization REQUIRED for monotonically_increasing_id stability (correctness, not perf)
    df = extract_phrases(df, "Text", patterns, "__rid")
    # CheckEmpty != 1 (demo.py:157's intended semantics): drop sentinel rows
    df = df.filter(F.col("All_phrases") != F.array(F.lit("empty")))
    df = score_sentiment(df, "Text", lexicon, "__rid")
    return df.drop("__rid").cache()


def _month_labels(df: DataFrame, prefix: str) -> list[str]:
    """Distinct (Year, Month) labels — the explicit pivot value list
    (one tiny job instead of Catalyst's hidden distinct, and a
    deterministic column order). Sorted LEXICOGRAPHICALLY by label
    string (2018-1 < 2018-10 < 2018-2), matching the golden headers:
    the reference's value-less pivot sorts the distinct labels as
    strings (Frequency_monthly_demo.csv:1)."""
    ym = {
        (r["Year"], r["Month"])
        for r in df.select("Year", "Month").distinct().collect()  # bounded-collect: distinct (Year,Month) pivot labels, calendar-bounded
    }
    return sorted(f"{prefix}_{y}-{m}" for y, m in ym)


def _topics(enriched: DataFrame) -> DataFrame:
    """One row per (tweet, phrase)."""
    return enriched.select(
        *_CARRY, F.explode("All_phrases").alias("Topic")
    ).filter(F.col("Topic") != "empty")


def _topic_pairs(enriched: DataFrame) -> DataFrame:
    """One row per (tweet, ordered phrase pair)."""
    return pairs.explode_pairs(
        enriched, "All_phrases", out1="Topic", out2="Topic2", keep=_CARRY
    ).filter((F.col("Topic") != "empty") & (F.col("Topic2") != "empty"))


def _smoothed_sentiment() -> Column:
    """Σ(Sentiment·(Likes_log+1)) / (Σ Likes_log + 1) — numerator weights
    every tweet, denominator smooths once per group (demo.py:255-306).
    The numerator is a fixed-point sum: order-independent and
    oracle-reproducible (see functions.stable)."""
    num = dec_sum(F.col("Sentiment") * (F.col("Likes_log") + 1), "num", scale=6)
    return num / (F.sum("Likes_log") + F.lit(1)).cast("double")


def _table(
    rows: DataFrame, keys: list[str], prefix: str, value: Column, order: list[str]
) -> DataFrame:
    """Aggregate ``value`` per (Year, Month, *keys), then pivot the months
    into ``<prefix>_<Y>-<M>`` columns, in ``order`` key-column order."""
    long = rows.groupBy("Year", "Month", *keys).agg(value.alias("val"))
    labels = _month_labels(long, prefix)
    wide = (
        long.withColumn("__label", month_label(prefix, "Year", "Month"))
        .groupBy(*order)
        .pivot("__label", labels)
        .max("val")
        .fillna(0)
    )
    return wide.withColumn("Category1", F.lit("Beverage")).select(
        *order, *labels, "Category1"
    )


def frequency_monthly(enriched: DataFrame) -> DataFrame:
    """A1 — weighted phrase frequency: per (Topic, Category2, month),
    Σ_tweets (Retweets_log + 1). Weight folded into the SUM (the
    reference repeats the phrase array weight+1 times then FreqDists
    it, demo.py:180-213)."""
    return _table(
        _topics(enriched),
        ["Category2", "Topic"],
        "Frequency",
        F.sum(F.col("Retweets_log") + 1),
        ["Topic", "Category2"],
    )


def sentiments_monthly(enriched: DataFrame) -> DataFrame:
    """A2 — smoothed weighted mean sentiment per phrase."""
    return _table(
        _topics(enriched),
        ["Category2", "Topic"],
        "Sentiment",
        _smoothed_sentiment(),
        ["Topic", "Category2"],
    )


def frequency_2d_monthly(enriched: DataFrame) -> DataFrame:
    """A4 — pair frequency: per (Topic, Topic2, Category2, month),
    1 + Σ_tweets Retweets_log (asymmetric smoothing vs A1 — the
    reference's setdefault(pair, 1) fold, demo.py:436-442)."""
    return _table(
        _topic_pairs(enriched),
        ["Category2", "Topic", "Topic2"],
        "Frequency",
        F.lit(1) + F.sum("Retweets_log"),
        ["Topic", "Topic2", "Category2"],
    )


def sentiment2d_monthly(enriched: DataFrame) -> DataFrame:
    """A3 — pair smoothed sentiment (golden column order:
    Category2, Topic, Topic2, months…, Category1)."""
    keys = ["Category2", "Topic", "Topic2"]
    return _table(_topic_pairs(enriched), keys, "Sentiment", _smoothed_sentiment(), keys)


def run_all(tweets: DataFrame, patterns: DataFrame, lexicon: DataFrame) -> dict[str, DataFrame]:
    """All four outputs off ONE cached enrichment (the reference
    recomputes the whole prefix per output — 4 full passes)."""
    e = enrich(tweets, patterns, lexicon)
    return {
        "frequency_monthly": frequency_monthly(e),
        "sentiments_monthly": sentiments_monthly(e),
        "sentiment2d_monthly": sentiment2d_monthly(e),
        "frequency_2d_monthly": frequency_2d_monthly(e),
    }
