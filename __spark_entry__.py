"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check (sf0.001).
``queries()``    — every implemented operator from SURVEY.md §2, as
                   ``(spark, sf_dir) -> DataFrame`` callables.
``oracle_sql()`` — matching DuckDB SQL for the hash-compare gate.

The real implementations live in ``datapipelinedemo_spark``; this file
only adapts its catalog to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from datapipelinedemo_spark.plans import catalog
from datapipelinedemo_spark.plans.catalog import ORACLES, QUERIES

catalog.load_catalog()

# entry() pivot-label cache, keyed by sf_dir (labels derive from the
# static testdata date range, so one collect per process is enough).
_PIVOT_LABELS: dict[str, list[str]] = {}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's signature shape (SURVEY.md §2.5 A6): a monthly
    pivoted aggregate — event_type × "YYYY-M" month columns, summed
    value, missing cells zero-filled.
    """
    from pyspark.sql import functions as F

    from datapipelinedemo_spark.session import ensure_runtime_confs
    from datapipelinedemo_spark.tables import table

    ensure_runtime_confs(spark)  # driver hands us a vanilla session
    sf_dir = "/root/testdata/sf0.001"
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.concat(
            F.year("ts").cast("string"), F.lit("-"), F.month("ts").cast("string")
        ).alias("ym"),
        "value",
    )
    # Pivot labels are a plan-time constant for a static dataset; cache
    # them per sf_dir so repeated entry() calls pay the distinct-scan job
    # only once (VERDICT r5 #6).
    labels = _PIVOT_LABELS.get(sf_dir)
    if labels is None:
        labels = sorted(r[0] for r in ev.select("ym").distinct().collect())
        _PIVOT_LABELS[sf_dir] = labels
    return (
        ev.groupBy("event_type")
        .pivot("ym", labels)
        .agg(F.sum(F.col("value").cast("decimal(18,4)")).cast("double"))
        .fillna(0.0)
    )


# The driver's correctness snapshot certifies queries() entries in
# iteration order under a bounded budget, so the entries listed here
# come first. tools/gen_priority.py generates this window from the
# CORRECTNESS_r*.json artifacts: new entries, then changed plans, then
# the least recently certified.
PRIORITY = [
    "image_header_dimensions",  # NEW
    "media_container_info",  # NEW
    "minhash_estimate_error",  # CHG
    "lsh_band_planner",  # CHG
    "clean_corpus_after_decontamination",  # CHG
    "a1_weighted_monthly_frequency",  # r10
    "a2_smoothed_weighted_mean",  # r10
    "anti_join_orderless_customers",  # r10
    "asof_latest_order_before_event",  # r10
    "asof_sorted_latest_order",  # r10
    "bloom_decontamination",  # r10
    "cube_lineitem_flags",  # r10
    "embedding_pq_codes",  # r10
    "event_dedup_keep_first",  # r10
    "events_json_props",  # r10
    "events_props_map_explode",  # r10
    "events_session_windows",  # r10
    "events_sliding_2h_1h",  # r10
    "events_tumbling_1h",  # r10
    "monthly_event_type_pivot",  # r10
    "monthly_revenue_yoy",  # r10
    "order_gap_days_lag",  # r10
    "order_rank_profile",  # r10
    "order_value_deciles",  # r10
    "orders_above_customer_average",  # r10
    "pair_struct_extract_reverse",  # r10
    "pq_recall_at_10",  # r10
    "pq_subspace_error",  # r10
    "q10_returned_items",  # r10
    "q13_order_count_distribution",  # r10
    "q14_promo_revenue",  # r10
    "q16_parts_supplier_counts",  # r10
    "q17_small_quantity_revenue",  # r10
    "q18_large_quantity_orders",  # r10
    "q19_bracketed_revenue",  # r10
    "q1_pricing_summary",  # r10
    "q22_idle_rich_customers",  # r10
    "q2_min_cost_supplier",  # r10
    "q3_shipping_priority",  # r10
    "q4_priority_with_late_items",  # r10
    "q5_region_revenue",  # r10
    "similarity_topk_ivfpq",  # r10
    "similarity_topk_pq",  # r10
    "streaming_pq_code_batch",  # r10
    "tokenizer_family_comparison",  # r10
    "tokenizer_family_comparison_trained",  # r10
    "unigram_em_piece_usage",  # r10
    "unigram_train_rounds_3",  # r10
    "unigram_trained_token_counts",  # r10
    "wordpiece_train_merges",  # r10
]


def _ordered(mapping: dict) -> dict:
    missing = [k for k in PRIORITY if k not in mapping]
    assert not missing, (
        f"PRIORITY names absent from catalog (rename?): {missing}"
    )
    front = {k: mapping[k] for k in PRIORITY if k in mapping}
    rest = {k: v for k, v in mapping.items() if k not in front}
    return {**front, **rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    return _ordered(dict(ORACLES))
