"""Composable DataFrame operators.

- ``pairs``      — intra-row ordered pair expansion (F16): an in-row
  array expression and one explode, no self-join and no shuffle.
- ``asof``       — as-of (most-recent-match) joins.
- ``rangejoin``  — interval-containment joins.
- ``dedup``      — exact, MinHash-LSH, SimHash, n-gram Jaccard and
  embedding-cosine near-duplicate detection; ``cluster`` resolves the
  surviving pairs into connected components.
- ``similarity`` — brute-force and LSH-bucketed cosine top-k search.
- ``neardup_index``, ``ann_index`` — write-once signature indexes, both
  committed and read through ``write_once``.
- ``fuzzy``, ``decontamination``, ``diff``, ``sampling``, ``sketch``,
  ``skew``, ``prefix`` — edit-distance joins, benchmark n-gram overlap,
  snapshot diff, deterministic sampling, count-min sketch, key salting
  and bucketed prefix sums.
"""
