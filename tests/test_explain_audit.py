"""Physical-plan regression gate (tools/explain_audit.py wired into
pytest): catches silent optimizer regressions — a filter that stops
pushing into the parquet scan, a scan that stops pruning columns, a
broadcast that degrades to a shuffle join, or a Python row-UDF sneaking
into the hot path — before they show up as bench slowdowns.

Plans are built (analyzed + optimized), never executed, so the whole
sweep is cheap. Queries whose *construction* executes a small job
(pivot-label collect, k-means centroid seeding) still only run at
sf0.001.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.explain_audit import audit_flags, plan_string

# brute-force exact paths documented as (broadcast) nested-loop scans
CARTESIAN_OK = {
    "similarity_topk_bruteforce",
    "embedding_pair_cosine_stats",
}

# Partitionless windows allowed ONLY on capacity-bounded grains: the
# windowed frame's row count is bounded by a constant / calendar /
# geometry independent of corpus size, so the single task holds a
# dashboard-sized frame at any scale. Unbounded grains (documents,
# customers, suppliers, vocabulary) must use the two-pass prefix-sum
# or a broadcast scalar instead (VERDICT r11 #3; the gini/repack/
# bigram/q15 migrations).
SINGLE_PARTITION_WINDOW_OK = {
    "moving_avg_daily_revenue",  # day grain (calendar-bounded)
    "trailing_7d_revenue",  # day grain
    "priority_share_of_year",  # year x priority grain
    "top_event_trigram_paths",  # |event_types|^3 grain (enum-bounded)
    "ivf_list_balance_report",  # nlist grain (index geometry, <= ~sqrt n)
    "unimax_epoch_allocation",  # |sources| grain (domain catalog)
    "training_corpus_pipeline_v3",  # inherits unimax's |sources| window
    "training_corpus_pipeline_v4",  # same inheritance (v3 twin)
}


@pytest.fixture(scope="module")
def catalog_plans(spark, sf_dir, catalog_queries):
    out = {}
    for name, fn in catalog_queries.items():
        out[name] = plan_string(fn(spark, sf_dir))
    return out


def test_no_python_row_udfs_anywhere(catalog_plans):
    # the whole engine claim: Arrow-batched seams only, zero
    # row-at-a-time Python in any catalog plan
    offenders = [
        n for n, p in catalog_plans.items() if audit_flags(p)["python_row_udf"]
    ]
    assert not offenders, offenders


def test_no_single_partition_windows_on_unbounded_grains(catalog_plans):
    """No catalog plan may funnel an unbounded grain through a
    partitionless WindowExec (one task holds every row — the
    straggler class of VERDICT r11 #3). Bounded-grain exceptions are
    enumerated with their bound in SINGLE_PARTITION_WINDOW_OK."""
    from tools.explain_audit import single_partition_windows

    offenders = [
        n
        for n, p in catalog_plans.items()
        if single_partition_windows(p)
        and n not in SINGLE_PARTITION_WINDOW_OK
    ]
    assert not offenders, offenders


def test_no_unexpected_cartesian_products(catalog_plans):
    offenders = [
        n
        for n, p in catalog_plans.items()
        if audit_flags(p)["cartesian"] and n not in CARTESIAN_OK
    ]
    assert not offenders, offenders


def test_q10_filter_pushdown_and_pruning(spark, sf_dir):
    from datapipelinedemo_spark.plans.tpch_deep import q10_returned_items

    plan = plan_string(q10_returned_items(spark, sf_dir))
    # the returnflag predicate must reach the lineitem scan and the
    # orderdate range must reach the orders scan
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan.split("PushedFilters", 1)[1].splitlines()[0] or (
        "l_returnflag" in plan[plan.index("PushedFilters") :][:400]
    )
    # lineitem scan must NOT read all 11 columns
    for seg in plan.split("Scan parquet"):
        if "l_returnflag" in seg[:2000] and "ReadSchema" in seg:
            schema_line = seg.split("ReadSchema:", 1)[1].splitlines()[0]
            assert "l_shipdate" not in schema_line
            assert "l_linenumber" not in schema_line
            break
    else:
        pytest.fail("no lineitem scan with ReadSchema found")


def test_q12_filter_pushdown(spark, sf_dir):
    from datapipelinedemo_spark.plans.tpch_rest import (
        q12_late_shipment_priority,
    )

    plan = plan_string(q12_late_shipment_priority(spark, sf_dir))
    a = audit_flags(plan)
    assert not a["python_row_udf"]
    # ship/order date IS NOT NULL predicates push to both scans
    assert plan.count("PushedFilters") >= 2


def test_dim_joins_broadcast(spark, sf_dir):
    # small dimensions must broadcast, never shuffle the fact side
    from datapipelinedemo_spark.plans.tpch_deep import q10_returned_items
    from datapipelinedemo_spark.plans.tpch_rest import q11_important_parts

    for fn, min_bc in ((q10_returned_items, 2), (q11_important_parts, 2)):
        a = audit_flags(plan_string(fn(spark, sf_dir)))
        assert a["broadcasts"] >= min_bc, (fn.__name__, a)


def test_int8_quantize_plan_free_of_dim_literals(spark, sf_dir):
    """The quantize stats must reach the plan as a broadcast 1-row
    frame, not as per-dimension literal arrays — at d=4096 the
    literal form is an 8k-node expression tree per query (plan-size /
    codegen bloat). Guard: the optimized plan contains no literal
    double array remotely dimension-sized, and does contain the
    broadcast stats aggregate."""
    from datapipelinedemo_spark.plans.corpus_ops import (
        embedding_int8_quantize,
    )

    plan = plan_string(embedding_int8_quantize(spark, sf_dir))
    import re

    # a literal double array shows up as e.g. [0.12,0.34,...]; count
    # comma-separated numeric runs — anything > 8 entries long is a
    # smuggled per-dim constant
    runs = re.findall(r"\[(?:-?\d+\.\d+(?:E-?\d+)?,\s*){8,}", plan)
    assert not runs, f"dim-proportional literal array in plan: {runs[:1]}"
    assert "collect_list" in plan or "sort_array" in plan.lower()


def test_int8_quantize_plan_compile_time_flat_in_dim(spark, tmp_path):
    """Plan BUILD+optimize time must not grow with embedding width.
    (The literal form compiled an O(d) expression tree; the broadcast
    form is O(1).) Build the plan at d=64 and d=1024 over tiny frames
    and require <5x growth — generous, to stay host-noise-proof."""
    import time

    from datapipelinedemo_spark.plans.corpus_ops import (
        embedding_int8_quantize,
    )

    def _mk(dim, path):
        rows = [(i, [float((i * 7 + j) % 13) for j in range(dim)])
                for i in range(8)]
        spark.createDataFrame(rows, "vec_id long, embedding array<float>") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(str(path / "embeddings.parquet"))

    def _compile_s(dim):
        d = tmp_path / f"d{dim}"
        d.mkdir(exist_ok=True)
        _mk(dim, d)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df = embedding_int8_quantize(spark, str(d))
            df._jdf.queryExecution().optimizedPlan()
            best = min(best, time.perf_counter() - t0)
        return best

    small, large = _compile_s(64), _compile_s(1024)
    assert large < small * 5 + 0.5, (small, large)


def test_fuzzy_decontamination_broadcasts_benchmark(spark, sf_dir):
    # the corpus side must never shuffle for the match: the benchmark
    # bands broadcast into a broadcast-hash join
    from datapipelinedemo_spark.plans.llm_ops import (
        fuzzy_decontamination_minhash,
    )

    a = audit_flags(plan_string(fuzzy_decontamination_minhash(spark, sf_dir)))
    assert a["broadcasts"] >= 1, a


def test_containment_pairs_broadcast_shingle_joins(spark, sf_dir):
    # candidate set is LSH-bounded (tiny) → both shingle join-backs
    # should resolve as broadcast-hash joins, not sort-merge
    from datapipelinedemo_spark.plans.llm_ops import containment_neardup_pairs

    plan = plan_string(containment_neardup_pairs(spark, sf_dir))
    a = audit_flags(plan)
    assert a["broadcasts"] >= 2, a
    assert "SortMergeJoin" not in plan


def test_bpe_histogram_partial_aggregates(spark, sf_dir):
    # the one corpus-scale pass must map-side combine (two HashAggregate
    # levels around the exchange), and the training frame must contain
    # no Python evaluation at all
    from datapipelinedemo_spark.plans.tokenizer_ops import bpe_pair_counts

    plan = plan_string(bpe_pair_counts(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # partial+final x2 stages
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_single_partition_sorts_parser():
    # pure parser test: flags only Exchange-SinglePartition feeding a
    # Sort, not the scalar aggregate's 1-row merge exchange
    from tools.explain_audit import single_partition_sorts

    plan = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- HashAggregate (8)
   +- Exchange (7)
      +- HashAggregate (6)
         +- Window (5)
            +- Sort (4)
               +- Exchange (3)
                  +- HashAggregate (2)
                     +- Scan parquet  (1)

(3) Exchange
Input [1]: [r2]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]

(7) Exchange
Input [1]: [x]
Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=2]
"""
    assert single_partition_sorts(plan) == [3]

    ok = plan.replace(
        "Arguments: SinglePartition, ENSURE_REQUIREMENTS, [plan_id=1]",
        "Arguments: hashpartitioning(pb, 32), ENSURE_REQUIREMENTS",
    )
    assert single_partition_sorts(ok) == []


def test_ivfpq_admission_plan_is_map_only(spark, sf_dir):
    """The IVFADC admission entry's whole claim is 'zero shuffles per
    ingest trigger' — pin it: only broadcast exchanges in the plan
    (coarse-centroid frame + any AQE artifacts), no shuffle exchange,
    no cartesian, no Python row-UDF."""
    from datapipelinedemo_spark.plans.ml_ops import (
        streaming_ivfpq_admission,
    )

    flags = audit_flags(
        plan_string(streaming_ivfpq_admission(spark, sf_dir))
    )
    assert flags["shuffles"] == 0, flags
    assert not flags["python_row_udf"] and not flags["cartesian"]


def test_stored_index_reads_are_scan_only(spark, sf_dir):
    """The persisted-artifact entries must serve from parquet scans:
    the packed-codes read plans with zero shuffles, and the stored
    trained vocab with zero shuffles and zero joins — a regression
    here means an index consumer silently recomputes."""
    from datapipelinedemo_spark.plans.ml_ops import (
        pq_codes_packed_cached,
    )
    from datapipelinedemo_spark.plans.tokenizer_ops import (
        trained_unigram_vocab_stored,
    )

    f1 = audit_flags(
        plan_string(pq_codes_packed_cached(spark, sf_dir))
    )
    assert f1["shuffles"] == 0 and f1["broadcasts"] == 0, f1
    f2 = audit_flags(
        plan_string(trained_unigram_vocab_stored(spark, sf_dir))
    )
    assert f2["shuffles"] == 0 and f2["broadcasts"] == 0, f2
