"""Decontamination, TF-IDF, cohort/funnel analytics (plans/corpus_ops.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datapipelinedemo_spark.functions.text import tokenize
from datapipelinedemo_spark.operators.decontamination import (
    contamination_counts,
    ngrams_of_tokens,
)


def test_word_ngrams_basic(spark):
    df = (
        spark.createDataFrame([("a b c d",), ("x y",), ("",)], ["text"])
        .withColumn("toks", tokenize("text"))
        .select(ngrams_of_tokens("toks", 3).alias("g"))
    )
    rows = [r.g for r in df.collect()]
    assert rows[0] == ["a b c", "b c d"]
    assert rows[1] == []  # shorter than n → empty, not a descending sequence
    assert rows[2] == []


def test_contamination_counts_planted(spark):
    # train doc 1 shares the 3-gram "red fox jumps" with the benchmark;
    # train doc 2 shares nothing; repeats inside one doc count ONCE.
    train = spark.createDataFrame(
        [
            (1, "the red fox jumps high red fox jumps"),
            (2, "completely different words only"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "a red fox jumps over benchmarks")], ["doc_id", "text"]
    )
    out = contamination_counts(train, bench, "doc_id", "text", n=3).collect()
    got = {r.doc_id: r.n_shared_grams for r in out}
    assert got == {1: 1}  # the one shared distinct gram: "red fox jumps"


def test_funnel_is_monotone(spark, sf_dir):
    from datapipelinedemo_spark.plans.corpus_ops import (
        funnel_view_click_purchase,
    )

    row = funnel_view_click_purchase(spark, sf_dir).collect()[0]
    assert row.n_view >= row.n_view_click >= row.n_full_funnel >= 0


def test_cohort_week0_counts_all_users(spark, sf_dir):
    from datapipelinedemo_spark.plans.corpus_ops import (
        cohort_retention_weekly,
    )
    from datapipelinedemo_spark.tables import table

    out = cohort_retention_weekly(spark, sf_dir)
    # every user appears in their own cohort's week 0
    week0_total = (
        out.filter(F.col("week_offset") == 0)
        .agg(F.sum("n_users"))
        .collect()[0][0]
    )
    n_users = (
        table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .count()
    )
    assert week0_total == n_users


def test_tfidf_rare_term_beats_common(spark):
    # 'rare' appears in 1 of 3 docs, 'the' in all 3 with equal tf —
    # the rare term must outrank the ubiquitous one in doc 1.
    from pyspark.sql import Window
    from datapipelinedemo_spark.functions.text import tokenize
    from datapipelinedemo_spark.functions.stable import round6

    docs = spark.createDataFrame(
        [
            (1, "the rare word word"),
            (2, "the word word other other"),
            (3, "the other word word common"),
        ],
        ["doc_id", "text"],
    )
    tc = docs.select("doc_id", F.explode(tokenize("text")).alias("term"))
    tf = tc.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((1.0 + F.col("n_docs")) / (1.0 + F.col("df"))) + 1.0),
        )
    )
    d1 = {
        r.term: r.tfidf
        for r in scored.filter(F.col("doc_id") == 1).collect()
    }
    assert d1["rare"] > d1["the"]


def test_fixed_window_repack_invariants(spark, sf_dir):
    from datapipelinedemo_spark.plans.corpus_ops import fixed_window_repack
    from datapipelinedemo_spark.functions.text import tokenize
    from datapipelinedemo_spark.tables import table

    out = fixed_window_repack(spark, sf_dir).persist()
    n_windows = out.count()
    # every window is exactly 50 tokens except possibly the last
    assert out.filter(F.col("n_tokens") != 50).count() <= 1
    # token conservation: windows partition the concatenated stream
    total_windowed = out.agg(F.sum("n_tokens")).collect()[0][0]
    total_tokens = (
        table(spark, sf_dir, "documents")
        .select((F.size(tokenize("text")) + 1).alias("n"))  # +1 = <eos>
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert total_windowed == total_tokens
    # window ids are dense 0..n-1
    assert out.agg(F.max("window_id")).collect()[0][0] == n_windows - 1


def test_repack_offsets_form_equals_windowed_twin(spark, sf_dir):
    # r9 (updated r12): both repack entries now share the two-pass
    # partition-offset plan (the global-window form went the way of
    # the gini pair — VERDICT r11 #3); they must stay value-identical
    # and neither plan may contain a single-partition stage. The
    # detector-detects proof lives in
    # test_gini_histogram_form_equals_ranked_twin.
    from datapipelinedemo_spark.plans.corpus_ops import (
        fixed_window_repack,
        fixed_window_repack_offsets,
    )
    from tools.explain_audit import plan_string

    a = fixed_window_repack(spark, sf_dir)
    b = fixed_window_repack_offsets(spark, sf_dir)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b

    for df in (a, b):
        plan = plan_string(df)
        assert "SinglePartition" not in plan, plan


def test_c4_line_dedup_planted_boilerplate(spark):
    from datapipelinedemo_spark.plans.llm_ops import c4_line_dedup_frame

    boiler = "accept all cookies now"  # one 4-word block, in 3 docs
    docs = spark.createDataFrame(
        [
            (1, f"{boiler} alpha beta gamma delta"),
            (2, f"unique two words here {boiler}"),
            (3, f"{boiler}"),
            (4, "totally fresh content only"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in c4_line_dedup_frame(docs, block_words=4, min_docs=3).collect()
    }
    # the planted block is gone everywhere, order preserved
    assert out[1]["cleaned_text"] == "alpha beta gamma delta"
    assert out[2]["cleaned_text"] == "unique two words here"
    assert out[3]["cleaned_text"] == ""  # fully-boilerplate doc survives as empty
    assert out[4]["cleaned_text"] == "totally fresh content only"
    assert [out[i]["removed_blocks"] for i in (1, 2, 3, 4)] == [1, 1, 1, 0]
    assert out[1]["n_blocks"] == 2 and out[3]["n_blocks"] == 1


def test_c4_line_dedup_order_preserved_many_blocks(spark):
    from datapipelinedemo_spark.plans.llm_ops import c4_line_dedup_frame

    # 12 distinct 1-word blocks; no boilerplate -> text round-trips
    text = " ".join(f"w{i:02d}" for i in range(12))
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    row = c4_line_dedup_frame(docs, block_words=1, min_docs=2).collect()[0]
    assert row["cleaned_text"] == text and row["removed_blocks"] == 0


def test_bloom_contamination_superset_of_exact(spark, sf_dir):
    # Bloom membership can only ADD false positives, never lose a true
    # hit: every exact-flagged doc must be bloom-flagged with
    # bloom_hits >= n_shared_grams.
    from pyspark.sql import functions as F

    from datapipelinedemo_spark.operators.decontamination import (
        bloom_contamination_counts,
        contamination_counts,
    )
    from datapipelinedemo_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    exact = {
        r.doc_id: r.n_shared_grams
        for r in contamination_counts(
            train, bench, "doc_id", "text", n=4
        ).collect()
    }
    bloom = {
        r.doc_id: r.bloom_hits
        for r in bloom_contamination_counts(
            train, bench, "doc_id", "text", n=4
        ).collect()
    }
    assert exact, "fixture produced no contaminated docs"
    for doc_id, n_shared in exact.items():
        assert doc_id in bloom and bloom[doc_id] >= n_shared


def test_bloom_planted_gram_always_hits(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from datapipelinedemo_spark.operators.decontamination import (
        bloom_contamination_counts,
    )

    bench = spark.createDataFrame(
        [(0, "the secret answer is forty two exactly")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "padding words the secret answer is forty two exactly more"),
            (2, "completely unrelated text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.bloom_hits
        for r in bloom_contamination_counts(
            train, bench, "doc_id", "text", n=4
        ).collect()
    }
    assert out[1] >= 4  # every benchmark 4-gram inside the span hits
    # deterministic filter: with ~5 benchmark grams in 65536 bits the
    # unrelated doc does not collide (and if the constants ever change
    # to make it collide, this documents the FP)
    assert 2 not in out


def test_fuzzy_contamination_flags_planted_neardup(spark):
    from datapipelinedemo_spark.operators.decontamination import (
        fuzzy_contamination_counts,
    )
    from datapipelinedemo_spark.operators.dedup import banded_minhash

    bench_text = (
        "which of the following best describes the boiling point of "
        "water at standard atmospheric pressure on earth in celsius"
    )
    rows = [
        (100, bench_text),  # benchmark member (pred: doc >= 100)
        (1, bench_text.replace("earth", "sea level")),  # paraphrase dup
        (2, "a totally unrelated training document about spark plans"),
        (3, "another clean doc discussing broadcast joins and shuffles"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    banded = banded_minhash(docs, "doc_id", "text")
    out = fuzzy_contamination_counts(
        banded, F.col("doc") >= 100
    ).collect()
    assert [(r.doc_id, r.n_bench_partners) for r in out] == [(1, 1)]


def test_intra_doc_block_dedup_removes_repeats(spark, tmp_path):
    """The within-doc keep-first path (the sf testdata never repeats a
    block, so this is where the interesting branch is pinned): a doc
    that repeats a 4-word block keeps only the first occurrence, order
    preserved; a doc with all-distinct blocks is untouched; a repeated
    block in a DIFFERENT doc is not affected (within-doc only)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datapipelinedemo_spark.plans.llm_ops import (
        _C4_B,
        intra_doc_block_dedup,
    )

    assert _C4_B == 4  # texts below are built in 4-word blocks
    texts = [
        # blocks: A B A C -> keep A B C
        "a1 a2 a3 a4 b1 b2 b3 b4 a1 a2 a3 a4 c1 c2 c3 c4",
        # all distinct -> unchanged
        "d1 d2 d3 d4 e1 e2 e3 e4",
        # repeats doc 0's block A — must NOT be removed here (first
        # occurrence within THIS doc), but its own second copy is
        "a1 a2 a3 a4 a1 a2 a3 a4",
        # trailing short block that equals an earlier short slice: the
        # last block is whatever words remain ('f1 f2' != 'f1 f2 f3
        # f4'), so nothing is removed
        "f1 f2 f3 f4 f1 f2",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": list(range(len(texts))),
                "text": texts,
                "lang": ["en"] * len(texts),
                "source": ["s"] * len(texts),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )

    def py_mirror(t):
        ws = t.split(" ")
        import math

        blocks = [
            " ".join(ws[i * 4 : i * 4 + 4])
            for i in range(math.ceil(len(ws) / 4))
        ]
        kept = [b for i, b in enumerate(blocks) if blocks.index(b) == i]
        return (
            len(blocks),
            len(blocks) - len(kept),
            " ".join(kept),
        )

    got = {
        r.doc_id: (r.n_blocks, r.removed_blocks, r.cleaned_text)
        for r in intra_doc_block_dedup(spark, str(tmp_path)).collect()
    }
    want = {i: py_mirror(t) for i, t in enumerate(texts)}
    assert got == want
    assert got[0] == (4, 1, "a1 a2 a3 a4 b1 b2 b3 b4 c1 c2 c3 c4")
    assert got[1][1] == 0
    assert got[2] == (2, 1, "a1 a2 a3 a4")
    assert got[3][1] == 0


def test_intra_doc_block_dedup_book_length_doc_is_linear(spark):
    """VERDICT r10 #2 regression: a single book-length document (50k
    blocks, heavy repetition) must finish in seconds. The r10 in-row
    ``array_position`` scan was O(blocks^2) per document — 2.5e9
    comparisons in one task for this input; the linear posexplode /
    min-idx / rejoin shape is 50k rows through a hash aggregate."""
    import time

    from datapipelinedemo_spark.plans.llm_ops import (
        intra_doc_block_dedup_frame,
    )

    n_blocks = 50_000
    vocab = 1_000  # 50 repeats per distinct block on average
    blocks = [
        f"w{(i * 7919) % vocab}a w{i % vocab}b w3 w4" for i in range(n_blocks)
    ]
    text = " ".join(blocks)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    t0 = time.monotonic()
    row = intra_doc_block_dedup_frame(docs).collect()[0]
    elapsed = time.monotonic() - t0

    seen, kept = set(), []
    for b in blocks:
        if b not in seen:
            seen.add(b)
            kept.append(b)
    assert row.n_blocks == n_blocks
    assert row.removed_blocks == n_blocks - len(kept)
    assert row.cleaned_text == " ".join(kept)
    # generous wall bound: linear shape runs ~2s locally; the r10
    # quadratic would burn minutes-to-hours on this input
    assert elapsed < 60, f"book-length doc took {elapsed:.1f}s"


def test_c4_line_dedup_book_length_doc_is_linear(spark):
    """VERDICT r11 #2 regression twin for the cross-doc half: before
    r12, ``c4_line_dedup_frame`` referenced ``split(text)`` inside the
    per-block ``transform`` lambda, so one book-length document (50k
    blocks = 200k words) re-split its full text once per block —
    O(words x blocks) = 1e10 char-ops in a single task. The staged
    word-array column makes block expansion linear."""
    import time

    from datapipelinedemo_spark.plans.llm_ops import c4_line_dedup_frame

    n_blocks = 50_000
    vocab = 1_000
    blocks = [
        f"w{(i * 7919) % vocab}a w{i % vocab}b w3 w4"
        for i in range(n_blocks)
    ]
    big = " ".join(blocks)
    boiler = "b1 b2 b3 b4"  # one 4-word block shared by 3 short docs
    docs = spark.createDataFrame(
        [(1, big), (2, boiler), (3, boiler), (4, boiler)],
        "doc_id long, text string",
    )
    t0 = time.monotonic()
    got = {
        r.doc_id: (r.n_blocks, r.removed_blocks, r.cleaned_text)
        for r in c4_line_dedup_frame(docs, min_docs=3).collect()
    }
    elapsed = time.monotonic() - t0

    # the big doc's blocks each appear in exactly ONE document, so
    # nothing is removed from it; the boilerplate block spans 3 docs
    # and is removed everywhere
    assert got[1] == (n_blocks, 0, big)
    for d in (2, 3, 4):
        assert got[d] == (1, 1, "")
    assert elapsed < 60, f"book-length doc took {elapsed:.1f}s"


def test_packing_efficiency_sweep_spans_sizes_consistently(spark, sf_dir):
    """Token mass is invariant across bin sizes, bin counts shrink as
    capacity grows, and the fill ratio is the exact quotient of the
    reported integers — the sweep is one window pass, so its 2048 row
    must agree with an independently computed single-size packing."""
    from pyspark.sql import functions as F

    from datapipelinedemo_spark.plans.llm_ops import (
        packing_efficiency_sweep,
    )

    rows = {r.bin_size: r for r in packing_efficiency_sweep(spark, sf_dir).collect()}
    assert sorted(rows) == [512, 1024, 2048, 4096]
    totals = {r.total_tokens for r in rows.values()}
    assert len(totals) == 1
    sizes = [512, 1024, 2048, 4096]
    for a, b in zip(sizes, sizes[1:]):
        assert rows[a].n_bins >= rows[b].n_bins
    for s, r in rows.items():
        assert r.avg_fill == round(r.total_tokens / (r.n_bins * s), 6)
        assert 0 < r.avg_fill
        assert r.overfull_bins <= r.n_bins
        assert r.max_bin_tokens >= (r.total_tokens + r.n_bins - 1) // r.n_bins


def test_bloom_fpr_calibration_is_consistent_with_the_gate(spark, sf_dir):
    """No false negatives (hits >= members), the arithmetic columns
    recompute from the counts, the measured FPR lands within a small
    factor of the fill-ratio^2 prediction, and the probe total of
    bloom hits equals what the certified bloom_decontamination gate
    reports in aggregate."""
    from pyspark.sql import functions as F

    from datapipelinedemo_spark.plans.corpus_ops import (
        bloom_decontamination,
        bloom_fpr_calibration,
    )

    r = bloom_fpr_calibration(spark, sf_dir).collect()[0]
    assert r.probes > 0 and r.n_eval_grams > 0
    assert 0 < r.fill_ratio < 1
    assert r.bloom_hits >= r.true_hits
    assert r.false_positives == r.bloom_hits - r.true_hits
    assert r.fill_ratio == round(r.bits_set / 65536, 6)
    assert r.predicted_fpr == round((r.bits_set / 65536) ** 2, 6)
    assert r.measured_fpr == round(
        r.false_positives / (r.probes - r.true_hits), 6
    )
    # the independence prediction should be the right order of
    # magnitude on a uniform-hash bitmap (loose factor, not tuned)
    assert r.measured_fpr <= 5 * r.predicted_fpr + 1e-3
    total = (
        bloom_decontamination(spark, sf_dir)
        .agg(F.sum("bloom_hits").alias("s"))
        .collect()[0]
        .s
    )
    assert total == r.bloom_hits


def test_embedding_hygiene_report_on_testdata(spark, sf_dir):
    """Fixed-dim corpus: min_dim == max_dim == 64, no zero vectors in
    the synthetic embeddings, and the norm envelope brackets the mean."""
    from datapipelinedemo_spark.plans.corpus_ops import (
        embedding_hygiene_report,
    )

    r = embedding_hygiene_report(spark, sf_dir).collect()[0]
    assert r.n_vecs > 0
    assert r.min_dim == r.max_dim == 64
    assert r.zero_vectors == 0
    assert 0 < r.min_norm <= r.mean_norm <= r.max_norm


def test_embedding_hygiene_flags_planted_defects(spark):
    """A zero vector and a short vector must show up in the report —
    the two defects that silently corrupt a downstream ANN index."""
    from datapipelinedemo_spark.plans.corpus_ops import (
        embedding_hygiene_report,
    )

    # build a tiny corpus in the documents-table shape the entry reads
    import pandas as pd

    rows = [
        (0, [1.0, 2.0, 2.0]),
        (1, [0.0, 0.0, 0.0]),
        (2, [3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(os.path.join(td, "embeddings.parquet"))
        r = embedding_hygiene_report(spark, td).collect()[0]
    assert r.n_vecs == 3
    assert (r.min_dim, r.max_dim) == (2, 3)
    assert r.zero_vectors == 1
    assert r.min_norm == 0.0 and r.max_norm == 5.0
    assert r.mean_norm == round((3.0 + 0.0 + 5.0) / 3, 6)


def test_ngram_novelty_rate_consistency_and_planted_novelty(spark, sf_dir):
    """Report arithmetic recomputes from its own counts; batch grams
    overlap the corpus on the synthetic word-soup (novelty < 1); and
    a planted batch of never-seen words reads as fully novel."""
    from datapipelinedemo_spark.plans.corpus_ops import ngram_novelty_rate

    r = ngram_novelty_rate(spark, sf_dir).collect()[0]
    assert r.n_batch_grams > 0 and r.n_corpus_grams > 0
    assert 0 <= r.n_novel_grams <= r.n_batch_grams
    assert r.novelty_rate == round(r.n_novel_grams / r.n_batch_grams, 6)
    # shared vocabulary corpus: the batch cannot be entirely novel
    assert r.novelty_rate < 1.0

    # planted corpus: batch (doc_id % 10 == 0) from a disjoint alphabet
    import os
    import tempfile

    rows = [
        (10, "zzq zzw zze zzr zzt zzy zzu zzi zzo zzp"),  # batch, novel
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).selectExpr("doc_id", "text", "'en' as lang", "'s' as source",
                 "length(text) as n_chars")
    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(os.path.join(td, "documents.parquet"))
        p = ngram_novelty_rate(spark, td).collect()[0]
    assert p.novelty_rate == 1.0
    assert p.n_novel_grams == p.n_batch_grams == 7  # 10 words -> 7 4-grams


def test_source_boilerplate_report_planted_template(spark, tmp_path):
    """srcA: a 4-word nav template in 3 of 4 docs (75% >= 25% and
    >= 2) -> template; a block in only 1 doc -> not (relative
    threshold needs df >= 2 even on tiny sources). srcB: 2 docs with
    no shared block -> zero template rows but still reported."""
    from datapipelinedemo_spark.plans.llm_ops import (
        source_boilerplate_report,
    )

    nav = "home about contact legal"  # exactly one _C4_B block
    rows = [
        (1, f"{nav} alpha beta gamma delta", "en", "srcA"),
        (2, f"{nav} eps zeta eta theta", "en", "srcA"),
        (3, f"{nav}", "en", "srcA"),
        (4, "iota kappa lambda mu", "en", "srcA"),
        (5, "nu xi omicron pi", "en", "srcB"),
        (6, "rho sigma tau upsilon", "en", "srcB"),
    ]
    spark.createDataFrame(
        [(i, t, lang, s, len(t)) for i, t, lang, s in rows],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r.source: r
        for r in source_boilerplate_report(spark, str(tmp_path)).collect()
    }
    a = got["srcA"]
    assert a.n_docs == 4
    assert a.n_template_blocks == 1  # the nav block (df=3 >= ceil(1))
    assert a.template_occurrences == 3
    # docs 1,2: 2 blocks each; doc 3: 1; doc 4: 1 -> 6 total
    assert a.total_occurrences == 6
    assert a.template_share == 0.5
    b = got["srcB"]
    assert (b.n_template_blocks, b.template_occurrences) == (0, 0)
    assert b.template_share == 0.0
