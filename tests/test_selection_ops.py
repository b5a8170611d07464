"""selection_ops — CCNet bucket-variant equivalence and domain-mixing weights.

The threshold-path bucket split (``ccnet_buckets_by_threshold``) must
be BIT-EQUAL to the NTILE twin, including tie splits at boundary
values — that equality is what lets both share one oracle SQL.
"""

from __future__ import annotations

import pytest

from datapipelinedemo_spark.plans import selection_ops as SO


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestCcnetThresholdEquivalence:
    def test_equal_on_testdata(self, spark, sf_dir):
        a = _rows(SO.ccnet_perplexity_buckets(spark, sf_dir))
        b = _rows(SO.ccnet_buckets_by_threshold(spark, sf_dir))
        assert a == b
        # sanity: all three buckets appear and per-lang sizes follow
        # NTILE(3) group sizing
        from collections import Counter

        per = Counter((r[0], r[3]) for r in a)
        langs = {r[0] for r in a}
        for lang in langs:
            n = sum(c for (lg, _), c in per.items() if lg == lang)
            q, r = divmod(n, 3)
            assert per[(lang, "head")] == q + (1 if r >= 1 else 0)
            assert per[(lang, "middle")] == q + (1 if r >= 2 else 0)
            assert per[(lang, "tail")] == q

    @pytest.mark.parametrize(
        "lang_sizes",
        [
            # n mod 3 ∈ {0,1,2}, singleton and pair languages, and a
            # language made ENTIRELY of one repeated text (every doc
            # ties on mnll6 — both cut boundaries land inside one tie
            # group and split purely on doc_id)
            {"aa": 9, "bb": 10, "cc": 11, "dd": 1, "ee": 2},
        ],
    )
    def test_equal_on_tie_heavy_corpus(self, spark, tmp_path, lang_sizes):
        texts = [
            "alpha beta gamma",
            "alpha beta gamma",  # exact dup → guaranteed mnll6 tie
            "delta epsilon",
            "zeta eta theta iota",
        ]
        rows, did = [], 0
        for lang, n in lang_sizes.items():
            for i in range(n):
                t = texts[i % len(texts)] if lang != "cc" else texts[0]
                rows.append((did, t, lang, "src0", len(t)))
                did += 1
        from datapipelinedemo_spark.tables import SCHEMAS

        df = spark.createDataFrame(rows, SCHEMAS["documents"])
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "documents.parquet")
        )
        sf = str(tmp_path)
        a = _rows(SO.ccnet_perplexity_buckets(spark, sf))
        b = _rows(SO.ccnet_buckets_by_threshold(spark, sf))
        assert a == b
        # the all-ties language really did split on doc_id alone
        cc = sorted((r[1], r[3]) for r in a if r[0] == "cc")
        assert [b for _, b in cc] == ["head"] * 4 + ["middle"] * 4 + [
            "tail"
        ] * 3

    def test_threshold_plan_has_no_per_language_corpus_sort(
        self, spark, sf_dir
    ):
        """The point of the variant: the only window sorts in the plan
        run over the value HISTOGRAM or over boundary tie groups —
        never ``partitionBy(lang) orderBy(...)`` on the doc-grain
        frame. NTILE twin (by construction) fails this check."""
        plan = SO.ccnet_buckets_by_threshold(
            spark, sf_dir
        )._jdf.queryExecution().optimizedPlan().toString()
        assert "ntile" not in plan.lower()
        # Window node shape: ``Window [exprs], [partCols], [orderCols]``.
        # Lang-only-partitioned windows are allowed ONLY on the value
        # histogram (cumulative count ordered by mnll6); a lang-only
        # window ordering over doc_id would be the doc-grain sort this
        # variant exists to avoid.
        import re

        windows = re.findall(
            r"Window \[.*?\], \[([^\]]*)\], \[([^\]]*)\]", plan
        )
        assert windows, "expected Window nodes in the plan"
        for part, order in windows:
            part_cols = [c.strip() for c in part.split(",")]
            if len(part_cols) == 1 and part_cols[0].startswith("lang"):
                assert "doc_id" not in order, (
                    f"doc-grain per-language sort found: [{part}] [{order}]"
                )


def test_temperature_mix_weights_flatten_toward_uniform(spark, sf_dir):
    from datapipelinedemo_spark.plans.selection_ops import (
        temperature_mix_weights,
    )

    rows = temperature_mix_weights(spark, sf_dir).collect()
    assert rows, "no sources"
    tot = sum(r.mix_weight for r in rows)
    assert abs(tot - 1.0) < 1e-4  # rounded weights still ~normalize
    # T=2 pulls every source's share toward uniform relative to
    # proportional-by-tokens: bigger-than-average sources shrink,
    # smaller-than-average grow (strictly, unless already average)
    n_tok_total = sum(r.n_tokens for r in rows)
    for r in rows:
        prop = r.n_tokens / n_tok_total
        uni = 1.0 / len(rows)
        lo, hi = sorted((prop, uni))
        assert lo - 1e-6 <= r.mix_weight <= hi + 1e-6, (r, prop, uni)


def test_unimax_allocation_matches_iterative_waterfill(spark, sf_dir):
    # the closed-form threshold rank must agree with the obvious
    # iterative algorithm: repeatedly cap every source whose cap is
    # below the current fair share and redistribute
    from datapipelinedemo_spark.plans.selection_ops import (
        _UNIMAX_B_DEN,
        _UNIMAX_B_NUM,
        _UNIMAX_E,
        unimax_epoch_allocation,
    )

    rows = unimax_epoch_allocation(spark, sf_dir).collect()
    caps = {r.source: r.cap for r in rows}
    total = sum(r.n_tokens for r in rows)
    budget = total * _UNIMAX_B_NUM // _UNIMAX_B_DEN
    assert all(r.cap == r.n_tokens * _UNIMAX_E for r in rows)

    # iterative waterfill (integer level, remainder to lowest ranks)
    remaining = dict(caps)
    alloc = {}
    b = budget
    while remaining:
        level, rem = b // len(remaining), b % len(remaining)
        ranked = sorted(remaining, key=lambda s: (remaining[s], s))
        newly = [s for s in ranked if remaining[s] <= level]
        if not newly:
            for i, s in enumerate(ranked, 1):
                alloc[s] = level + (1 if i <= rem else 0)
            remaining = {}
        else:
            for s in newly:
                alloc[s] = remaining.pop(s)
                b -= alloc[s]

    got = {r.source: r.allocated_tokens for r in rows}
    assert got == alloc
    # exact budget exhaustion whenever someone is uncapped
    if any(r.allocated_tokens < r.cap for r in rows):
        assert sum(got.values()) == budget
    for r in rows:
        assert r.allocated_tokens <= r.cap


def test_unimax_budget_is_exact_integer_division_past_2e53(spark):
    # regression (r9, ADVICE): the budget must use BIGINT `div`, not
    # floor(double-/) — past 2^53/9 total tokens the double round-trip
    # can floor to the wrong quotient while the DuckDB oracle's 128-bit
    # integer `// 10` stays exact.
    from datapipelinedemo_spark.plans.selection_ops import (
        _UNIMAX_B_DEN,
        _UNIMAX_B_NUM,
        _unimax_budget_expr,
    )

    # values chosen so sum*9 exceeds 2^53 and is NOT a multiple of 10,
    # with a sum whose double rounding goes the wrong way
    vals = [2**53 // 9 + 7, 2**50 + 3, 12345678901234567]
    df = spark.createDataFrame([(v,) for v in vals], "n_tokens long")
    got = df.agg(_unimax_budget_expr().alias("b")).collect()[0].b
    want = sum(vals) * _UNIMAX_B_NUM // _UNIMAX_B_DEN
    assert got == want
    # and the double form is demonstrably inexact somewhere in range:
    # (not asserted — double may coincide for this triple; the point
    # is the exact form equals big-int math bit-for-bit)
    assert isinstance(got, int)


def test_doremi_weights_sum_to_one_and_track_excess(spark, sf_dir):
    """DoReMi invariants: weights form a distribution, respect the
    uniform smoothing floor c/k, and are strictly monotone in the
    per-domain excess loss (the multiplicative-weights step from
    uniform preserves excess order)."""
    from datapipelinedemo_spark.plans.selection_ops import (
        DOREMI_SMOOTH_DEN,
        DOREMI_SMOOTH_NUM,
        doremi_domain_weights,
    )

    rows = doremi_domain_weights(spark, sf_dir).collect()
    assert rows
    k = len(rows)
    total = sum(r.weight for r in rows)
    assert abs(total - 1.0) < 1e-4
    floor = DOREMI_SMOOTH_NUM / DOREMI_SMOOTH_DEN / k
    assert all(r.weight >= floor - 1e-9 for r in rows)
    by_excess = sorted(rows, key=lambda r: (r.excess6, r.source))
    for a, b in zip(by_excess, by_excess[1:]):
        if a.excess6 < b.excess6:
            assert a.weight <= b.weight + 1e-9
    # the signal is real: excess varies across domains on this corpus
    assert len({r.excess6 for r in rows}) > 1
