"""Broadcast-side discipline gate (VERDICT r14 #4).

The r14 ``hamming_screen_batch`` defect — the corpus-grain signature
index on the BUILD side of a BroadcastNestedLoopJoin (~8 GB shipped to
every executor at the operator's own 10⁹-vector target) — passed every
correctness gate because sf0.1 doesn't feel an 8-byte × N broadcast;
only the plan knows. This module machine-gates the class: no catalog
plan may put a corpus-grain frame (big testdata table or corpus-grain
disk artifact) on the build side of a broadcast without a bounding
aggregate/limit or a sanctioned id-slice filter on the path
(``tools.explain_audit.corpus_broadcasts``).

Plans are built under ``spark.sql.autoBroadcastJoinThreshold=-1`` so
every BroadcastExchange in the audited plan is an EXPLICIT
``F.broadcast()`` design decision — at sf0.001 the auto-threshold
would otherwise broadcast whole corpus tables as a tiny-scale
optimizer choice and drown the design signal in false positives.

Known blind spot, accepted: a ``pin()``-ed frame truncates lineage to
``Scan ExistingRDD`` at plan time, so a pinned corpus frame on a build
side is invisible here — that surface is covered by pin.py's policy +
the ``# narrow-pin:`` marker discipline instead.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.explain_audit import corpus_broadcasts, plan_string

# Entries with a justified corpus-grain broadcast the sanctioned
# filter shapes can't express — name: reason. Every addition needs the
# same review bar as the collect-gate allowlist. Currently empty: the
# whole catalog passes on patterns alone.
BROADCAST_OK: dict[str, str] = {}


@pytest.fixture(scope="module")
def hinted_plans(spark, sf_dir, catalog_queries):
    """All catalog plans under autoBroadcastJoinThreshold=-1.

    Memo hygiene is load-bearing: a FrameMemo frame persist()-ed while
    the -1 override is active BAKES sort-merge joins into its cached
    physical plan (InMemoryRelation compiles at registration) and
    keeps serving them to every later consumer after the conf is
    restored — which broke test_explain_audit's broadcast-shape
    assertions when this module ran first. Clear memos on BOTH sides:
    before (so the sweep audits fresh plans, not earlier modules'
    memo scans) and after (so no -1-compiled cached plan outlives the
    override)."""
    from datapipelinedemo_spark.memo import clear_all_memos

    default = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    clear_all_memos()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return {
            name: plan_string(fn(spark, sf_dir))
            for name, fn in catalog_queries.items()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", default)
        clear_all_memos()


def test_no_corpus_grain_broadcast_build_sides(hinted_plans):
    offenders = {
        n: corpus_broadcasts(p)
        for n, p in hinted_plans.items()
        if n not in BROADCAST_OK and corpus_broadcasts(p)
    }
    assert not offenders, (
        "corpus-grain frame on a broadcast build side (ship-to-every-"
        f"executor at scale): {offenders}"
    )


def test_gate_catches_the_r14_admission_shape(spark, sf_dir, tmp_path, monkeypatch):
    """The exact r14 defect — F.broadcast(corpus_sigs) in the
    admission screen — must flag; the shipped swapped shape must not.
    This is the plan assertion VERDICT r14 #2 asks for."""
    from pyspark.sql import functions as F

    from datapipelinedemo_spark.operators import similarity as SIM
    from datapipelinedemo_spark.operators.ann_index import hamming_sig_index
    from datapipelinedemo_spark.plans.hamming_ops import (
        _HAM_PLANES,
        hamming_screen_batch,
    )
    from datapipelinedemo_spark.tables import table

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "idx"))
    batch = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 10 == 0)
    corpus = hamming_sig_index(spark, sf_dir, _HAM_PLANES, 64).filter(
        F.col("vec_id") % 10 != 0
    )

    fixed = hamming_screen_batch(batch, corpus)
    assert corpus_broadcasts(plan_string(fixed)) == []

    bsig = SIM.with_hyperplane_signs(
        batch, "embedding", _HAM_PLANES, 64, out_col="bsig"
    ).select("vec_id", "bsig")
    old = (
        bsig.join(
            F.broadcast(
                corpus.select(
                    F.col("sig").alias("csig"), F.col("vec_id").alias("cid")
                )
            ),
            F.col("vec_id") != F.col("cid"),
        )
        .select(
            "vec_id",
            F.bit_count(F.col("bsig").bitwiseXOR(F.col("csig")))
            .cast("long")
            .alias("ham"),
        )
        .groupBy("vec_id")
        .agg(F.min("ham").alias("min_ham"))
    )
    flags = corpus_broadcasts(plan_string(old))
    assert flags, "gate failed to catch the r14 corpus-side broadcast"
    assert any("hamsig" in f["location"] for f in flags)


def test_distinct_on_id_is_not_bounding(spark, sf_dir):
    """VERDICT r15 #2: a ``.distinct()`` on a row-identity column is
    an aggregate that reduces NOTHING — output cardinality stays
    corpus-grain, so it must NOT sanction the broadcast (the shape
    that let r15's ``minhash_estimate_error`` broadcast an ~11%-of-
    corpus candidate-doc set through the gate). A genuinely reducing
    aggregate (grouped on a bounded key) still bounds."""
    from pyspark.sql import functions as F

    from datapipelinedemo_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    ids = docs.select(F.col("doc_id").alias("doc")).distinct()
    wide = docs.select(F.col("doc_id").alias("doc"), "text")

    leak = wide.join(F.broadcast(ids), "doc", "left_semi")
    flags = corpus_broadcasts(plan_string(leak))
    assert flags, "distinct()-on-id broadcast slipped the gate"
    assert any("documents" in f["location"] for f in flags)

    by_lang = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    ok = docs.join(F.broadcast(by_lang), "lang")
    assert corpus_broadcasts(plan_string(ok)) == []


def test_negated_modulus_slice_is_not_sanctioned():
    """`NOT ((id % M) = 0)` keeps (M-1)/M of the corpus — the textual
    distinction that separates the r14 corpus side from the sanctioned
    batch slice must hold at the regex layer."""
    from tools.explain_audit import _SLICE_OK

    assert _SLICE_OK.search("((vec_id#5L % 10) = 0)")
    assert not _SLICE_OK.search("NOT ((vec_id#5L % 10) = 0)")
    assert _SLICE_OK.search("(vec_id#5L = 0)")
    assert _SLICE_OK.search("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,0)]")
    # a non-id numeric equality (constant-fraction predicate) is NOT a slice
    assert not _SLICE_OK.search("(priority#5 = 1)")
