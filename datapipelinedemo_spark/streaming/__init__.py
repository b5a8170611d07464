"""Structured Streaming surface (reference gap — SURVEY.md §2.7).

The same declarative plans the batch engine uses, under ``readStream``:
sliding/session window aggregates with watermarks. Batch and
streaming share plan-builder functions so correctness is established
on the batch side (DuckDB oracle) and the streaming tests only need to
prove plan compatibility + incremental delivery.
"""
