"""Near-duplicate ingest streams over a stored index (streaming/dedup.py)."""

from __future__ import annotations

import os


def test_neardup_ingest_stream_two_batches(spark, tmp_path):
    """Streaming twin of incremental_dedup_candidates: batch 1 builds
    the index from scratch (in-batch pair), batch 2 dedups against the
    stored index (vs_corpus pairs) without re-signing batch 1."""
    from datapipelinedemo_spark.streaming.dedup import (
        start_neardup_ingest_stream,
    )

    src = str(tmp_path / "docs_src")
    index_dir = str(tmp_path / "nd_index")
    pairs_dir = str(tmp_path / "nd_pairs")
    ckpt = str(tmp_path / "nd_ckpt")
    os.makedirs(src)

    dup_text = (
        "the quick brown fox jumps over the lazy dog again and again "
        "while the band plays the same nine char shingles throughout"
    )
    other = (
        "completely different content about parquet row groups and "
        "shuffle partitions with no overlapping shingle material here"
    )
    doc_schema = "doc_id long, text string"

    # batch 1: docs 1 and 2 are exact near-dups
    spark.createDataFrame(
        [(1, dup_text), (2, dup_text)], doc_schema
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema(doc_schema).parquet(src)
    q = start_neardup_ingest_stream(stream, index_dir, pairs_dir, ckpt)
    q.awaitTermination(120)

    got1 = {
        (r.doc_a, r.doc_b, r.pair_type)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    assert (1, 2, "in_batch") in got1
    assert not any(t == "vs_corpus" for (_, _, t) in got1)

    # batch 2: doc 3 duplicates the corpus text, doc 4 is novel
    spark.createDataFrame(
        [(3, dup_text), (4, other)], doc_schema
    ).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(doc_schema).parquet(src)
    q2 = start_neardup_ingest_stream(stream2, index_dir, pairs_dir, ckpt)
    q2.awaitTermination(120)

    got2 = {
        (r.doc_a, r.doc_b, r.pair_type)
        for r in spark.read.parquet(pairs_dir).collect()
    }
    assert {(3, 1, "vs_corpus"), (3, 2, "vs_corpus")} <= got2
    assert not any(a == 4 or b == 4 for (a, b, _) in got2)
    # the index now holds all four docs' bands
    idx_docs = {
        r.doc for r in spark.read.parquet(index_dir).select("doc").collect()
    }
    assert idx_docs == {1, 2, 3, 4}


def test_embedding_ingest_stream_screens_against_corpus(spark, tmp_path):
    """ANN twin of the near-dup ingest: batch 2's duplicate vector is
    flagged against the stored index; the orthogonal one is not."""
    from datapipelinedemo_spark.streaming.dedup import (
        start_embedding_ingest_stream,
    )

    src = str(tmp_path / "vec_src")
    index_dir = str(tmp_path / "ann_index")
    pairs_dir = str(tmp_path / "ann_pairs")
    ckpt = str(tmp_path / "ann_ckpt")
    os.makedirs(src)

    base = [1.0] + [0.0] * 63
    ortho = [0.0, 1.0] + [0.0] * 62
    vec_schema = "vec_id long, embedding array<float>"

    spark.createDataFrame([(1, base), (2, ortho)], vec_schema).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(vec_schema).parquet(src)
    q = start_embedding_ingest_stream(stream, index_dir, pairs_dir, ckpt)
    q.awaitTermination(120)
    # first batch has no corpus to screen against -> no pairs output
    assert not os.path.isdir(pairs_dir)

    # batch 2: vec 3 duplicates vec 1; vec 4 is orthogonal to everything
    far = [0.0, 0.0, 1.0] + [0.0] * 61
    spark.createDataFrame([(3, base), (4, far)], vec_schema).write.mode(
        "append"
    ).parquet(src)
    stream2 = spark.readStream.schema(vec_schema).parquet(src)
    q2 = start_embedding_ingest_stream(stream2, index_dir, pairs_dir, ckpt)
    q2.awaitTermination(120)

    rows = spark.read.parquet(pairs_dir).collect()
    flagged = {(r.id_new, r.id_corpus): (r.cos_sim, r.pair_type) for r in rows}
    assert flagged.get((3, 1), (0, ""))[1] == "vs_corpus"
    assert abs(flagged[(3, 1)][0] - 1.0) < 1e-9
    assert not any(idn == 4 for (idn, _) in flagged)

    # batch 3: two copies of a NEW vector in the same micro-batch must
    # be flagged against each other (in_batch), not both admitted
    novel = [0.0] * 63 + [1.0]
    spark.createDataFrame([(5, novel), (6, novel)], vec_schema).write.mode(
        "append"
    ).parquet(src)
    stream3 = spark.readStream.schema(vec_schema).parquet(src)
    q3 = start_embedding_ingest_stream(stream3, index_dir, pairs_dir, ckpt)
    q3.awaitTermination(120)
    rows = spark.read.parquet(pairs_dir).collect()
    flagged = {(r.id_new, r.id_corpus): r.pair_type for r in rows}
    assert flagged.get((5, 6)) == "in_batch"

    idx_ids = {
        r.neighbor_id
        for r in spark.read.parquet(index_dir).select("neighbor_id").collect()
    }
    assert idx_ids == {1, 2, 3, 4, 5, 6}


def test_read_index_excludes_replaying_batch(spark, tmp_path):
    """Replay safety: a crashed attempt's own partition must not be
    joined against (it would emit self-pairs); real read errors are
    not swallowed; a missing dir means 'first batch'."""
    from datapipelinedemo_spark.streaming.dedup import _read_index

    idx = str(tmp_path / "idx")
    assert _read_index(spark, idx, 0) is None  # not built yet

    spark.createDataFrame(
        [(1, 0, "k1", 0), (2, 0, "k2", 1)],
        "doc long, band int, key string, batch_id long",
    ).write.partitionBy("batch_id").parquet(idx)
    visible = {r.doc for r in _read_index(spark, idx, 1).collect()}
    assert visible == {1}  # batch 1's own rows excluded on replay
    visible = {r.doc for r in _read_index(spark, idx, 7).collect()}
    assert visible == {1, 2}


def test_neardup_ingest_replay_with_stale_index_is_clean(spark, tmp_path):
    """Crash-window replay: rerunning from a fresh checkpoint while a
    prior attempt's index rows are already on disk must produce the
    same pairs as a clean first run — no self-pairs, no vs_corpus
    echoes of the batch's own docs."""
    import shutil

    from datapipelinedemo_spark.streaming.dedup import (
        start_neardup_ingest_stream,
    )

    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "idx")
    pairs_dir = str(tmp_path / "pairs")
    os.makedirs(src)
    text = (
        "identical content shared by both documents in this single "
        "batch so an in-batch candidate pair must appear exactly once"
    )
    spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    ).write.mode("append").parquet(src)

    def run(ckpt):
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            src
        )
        q = start_neardup_ingest_stream(stream, index_dir, pairs_dir, ckpt)
        q.awaitTermination(120)
        return sorted(
            (r.doc_a, r.doc_b, r.pair_type)
            for r in spark.read.parquet(pairs_dir).collect()
        )

    first = run(str(tmp_path / "ckpt1"))
    # simulate the crash window: index rows for batch 0 are on disk,
    # but the checkpoint is gone -> the batch replays as batch 0 again
    replay = run(str(tmp_path / "ckpt2"))
    assert replay == first == [(1, 2, "in_batch")]
    shutil.rmtree(str(tmp_path / "ckpt2"))


def test_redelivered_doc_emits_no_self_pairs(spark, tmp_path):
    """ADVICE r6: an at-least-once source re-delivering an
    already-indexed doc_id in a LATER batch must not emit a
    (doc, doc, vs_corpus) self-pair."""
    from datapipelinedemo_spark.streaming.dedup import (
        start_neardup_ingest_stream,
    )

    src = str(tmp_path / "src")
    index_dir = str(tmp_path / "idx")
    pairs_dir = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    dup_text = (
        "identical content shared by both documents in this single "
        "batch so an in-batch candidate pair must appear exactly once"
    )
    spark.createDataFrame(
        [(1, dup_text), (2, dup_text)], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = start_neardup_ingest_stream(stream, index_dir, pairs_dir, ckpt)
    q.awaitTermination(120)

    # batch 2 re-delivers doc 1 verbatim
    spark.createDataFrame(
        [(1, dup_text)], "doc_id long, text string"
    ).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema("doc_id long, text string").parquet(src)
    q2 = start_neardup_ingest_stream(stream2, index_dir, pairs_dir, ckpt)
    q2.awaitTermination(120)

    rows = spark.read.parquet(pairs_dir).collect()
    assert not any(r.doc_a == r.doc_b for r in rows)
    # the legitimate cross-doc pair is still reported for the redelivery
    assert {(r.doc_a, r.doc_b, r.pair_type) for r in rows} >= {
        (1, 2, "in_batch"),
        (1, 2, "vs_corpus"),
    }


def test_embedding_batch_pairs_cap_is_invisible_until_it_binds(spark, sf_dir):
    # r9: the hot-bucket cap must change NOTHING at scales where no
    # bucket exceeds it (the oracle-equality contract), and with a
    # tiny cap the output must stay a subset of the uncapped pairs
    # plus keep every bucket's star witness for overflow members.
    from pyspark.sql import functions as F

    from datapipelinedemo_spark.streaming.dedup import (
        embedding_batch_pairs,
    )
    from datapipelinedemo_spark.tables import table

    batch = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") % 10 < 3
    )

    def pairs(cap):
        _, p = embedding_batch_pairs(batch, None, bucket_cap=cap)
        return {(r.id_new, r.id_corpus) for r in p.collect()}

    uncapped = pairs(None)
    assert pairs(256) == uncapped  # max sf0.01 bucket is 52
    tiny = pairs(2)
    assert tiny <= uncapped
    # star expansion keeps orientation: every emitted pair ascending
    assert all(a < b for a, b in tiny)
