"""Assembled query plans.

- ``catalog``    — the registry the driver contract reads: every
  implemented operator registers a ``(spark, sf_dir) -> DataFrame``
  callable and (when SQL-expressible) a DuckDB oracle SQL string.
- ``relational`` — core relational surface (scans, filters, joins,
  aggregations, windows, set ops, rollup/cube, as-of).
- ``tweets``     — the paper's job: the enrichment and the four
  topic × month tables (tweet analytics); ``tweets_catalog`` registers
  them over a committed fixture.
- ``reference_pipeline`` — testdata analogs of the reference
  pipeline's operator semantics.
- ``llm_ops``    — dedup / similarity / text-analysis / multimodal
  query registrations.
"""

from datapipelinedemo_spark.plans import catalog  # noqa: F401
