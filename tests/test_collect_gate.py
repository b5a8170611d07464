"""Bounded-collect gate (VERDICT r13 next-round #8).

``tools/explain_audit.py`` bans partitionless windows mechanically, but
the justified driver-side ``.collect()`` sites were enforced only by
docstring convention. This gate makes the discipline mechanical the
same way: every ``.collect()`` in package (non-test) source must carry
an explicit inline ``# bounded-collect: <bound>`` marker naming WHY the
result is driver-safe, and the full site list is pinned below so a new
collect site is a conscious, reviewed addition — an unmarked collect or
an unpinned marked one fails the suite.

``toPandas()`` is held to the same bar (zero sites today; the pin keeps
it that way).
"""

from __future__ import annotations

import os
import re

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "datapipelinedemo_spark",
)

# Every justified driver-side materialization: (relative path, count).
# Bounds live inline at the site (`# bounded-collect: ...`); this pin is
# the reviewed inventory. Adding a collect means adding it HERE with a
# marker THERE.
ALLOWED_SITES = {
    "operators/decontamination.py": 1,  # Bloom bit positions <= m_bits
    "operators/prefix.py": 1,  # single row of sums
    "operators/similarity.py": 3,  # nlist seeds x2, nlist*dim sums
    "plans/classifier_ops.py": 2,  # 65-long weights, 1 gradient row
    "plans/llm_ops.py": 1,  # memory-sink snapshot (driver-resident)
    "plans/ml_ops.py": 6,  # k-means/PQ seeds, means, moments
    "plans/relational.py": 1,  # pivot labels (calendar-bounded)
    "plans/tokenizer_ops.py": 4,  # limit-k probes, vocab-bounded pieces
    "plans/tweets.py": 1,  # pivot labels (calendar-bounded)
}

COLLECT = re.compile(r"\.collect\(\)")
MARKER = re.compile(r"#\s*bounded-collect:\s*\S")


def _package_sources():
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                yield os.path.relpath(path, PKG), path


def test_every_collect_site_is_marked_and_pinned():
    found: dict[str, int] = {}
    unmarked: list[str] = []
    for rel, path in _package_sources():
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if not COLLECT.search(line):
                    continue
                found[rel] = found.get(rel, 0) + 1
                if not MARKER.search(line):
                    unmarked.append(f"{rel}:{i}")
    assert not unmarked, (
        "collect() without an inline '# bounded-collect: <bound>' "
        f"marker: {unmarked} — state the driver-side bound or rework "
        "the plan to stay distributed"
    )
    assert found == ALLOWED_SITES, (
        "collect-site inventory drifted from the reviewed allowlist: "
        f"found {found} vs pinned {ALLOWED_SITES} — a new site needs a "
        "named bound here, a removed site needs its pin dropped"
    )


def test_no_topandas_in_package():
    hits = []
    for rel, path in _package_sources():
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if ".toPandas()" in line and not line.lstrip().startswith(
                    "#"
                ):
                    hits.append(f"{rel}:{i}")
    assert not hits, (
        f"toPandas() materializes the whole frame on the driver: {hits}"
    )


def test_marker_text_names_a_bound():
    """The marker must say something (not just the tag) — a bound is a
    noun phrase like 'k seed centroids' or 'limit(nlist) seeds'."""
    weak = []
    for rel, path in _package_sources():
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                m = re.search(r"#\s*bounded-collect:\s*(.*)", line)
                if m and len(m.group(1).strip()) < 8:
                    weak.append(f"{rel}:{i}: {m.group(1)!r}")
    assert not weak, f"bounded-collect markers too vague: {weak}"
