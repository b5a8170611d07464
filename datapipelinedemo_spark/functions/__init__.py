"""Native Column-expression function layer.

Each reference scalar UDF (SURVEY.md §2.3 F1–F16) has a pure-expression
equivalent here — JVM-side, codegen-friendly, null-safe. Submodules:

- ``cleaning``  — F1–F7, F9, F11–F14 (timestamp cleanup, human-number
  parse, log buckets, URL keyword extraction, category lookup, …).
- ``stable``    — cross-engine-deterministic numeric helpers (decimal
  sums, md5-derived hashes) used to make results bit-identical between
  Spark and a DuckDB oracle.
- ``text``      — tokenization, n-grams/shingles, language-ID, quality
  scoring, token counting, fingerprinting.
"""

from datapipelinedemo_spark.functions.cleaning import (  # noqa: F401
    clean_timestamp,
    parse_timestamp_date,
    parse_human_number,
    log2_bucket,
    keyword_from_url,
    keyword_to_category,
    empty_sentinel_flag,
    weighted_phrases,
    weighted_sentiment,
    month_label,
)
from datapipelinedemo_spark.functions.stable import (  # noqa: F401
    dec_sum,
    dec_avg,
    md5_long,
    round6,
)
