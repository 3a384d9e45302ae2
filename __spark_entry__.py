"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query (entity co-mention pairs — the KG
pipeline's headline shape) on sf0.001.  ``queries``/``oracle_sql`` expose
the full operator registry (stixtoneodb_spark/operators/registry.py); the
driver compares each Spark result against its DuckDB oracle at sf0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stixtoneodb_spark.operators.registry import REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: top co-mentioned entity pairs over the document corpus —
    the 'top entity pairs by co-mention' query of SURVEY §7 M0."""
    from stixtoneodb_spark.operators.text import kg_cooccurrence

    return kg_cooccurrence(spark, "/root/testdata/sf0.001").orderBy(
        F.desc("n_docs"), "mention_a", "mention_b"
    )


# Queries the driver has already hash-verified in rounds 1-4
# (union of CORRECTNESS_r0{1..4}.json keys).  The driver checks a
# 50-query prefix of ``queries()`` each round, so we enumerate
# never-driver-checked operators first — after a handful of flagship
# re-checks — to rotate official coverage across the full registry.
_DRIVER_CHECKED_PRIOR = frozenset({
    "scan_project_filter", "q1_pricing_summary", "join_inner_orders_customer",
    "join_left_customer_orders", "join_semi_customers_with_orders",
    "join_anti_customers_without_orders", "q3_shipping_priority",
    "range_join_event_context", "join_salted_skew_demo", "agg_count_by_type",
    "agg_rollup_nation_region", "distinct_users_per_type", "agg_cube_type_tool",
    "agg_value_quantiles", "approx_distinct_users", "window_rank_orders",
    "window_lag_events", "window_running_sum", "sessionize_events",
    "topk_customers_by_balance", "set_except_nations", "set_intersect_users",
    "scalar_string_funcs", "scalar_date_funcs", "scalar_case_buckets",
    "json_extract_events", "dedup_exact", "dedup_exact_rows",
    "dedup_minhash_lsh", "corpus_curate_flags", "dedup_simhash",
    "dedup_ngram_jaccard", "dedup_embedding_cosine", "ann_cosine_topk",
    "ann_ivf_topk", "ann_lsh_bucketed", "embedding_label_centroid_assign",
    "dedup_semantic_clusters", "text_token_count", "text_quality_score",
    "text_lang_id", "text_fingerprint", "text_ngram_top",
    "kg_mentions_sql_portable", "kg_cooccurrence", "text_tfidf_top_terms",
    "corpus_sample_stratified", "dedup_cluster_components", "kg_pagerank",
    "topk_global_sort",
})

# Flagships worth an official re-check every round.
_FLAGSHIP_RECHECK = (
    "q1_pricing_summary",
    "dedup_minhash_lsh",
    "kg_pagerank",
    "dedup_cluster_components",
)


def _rotated_names() -> list[str]:
    flag = [n for n in _FLAGSHIP_RECHECK if n in REGISTRY]
    fresh = [
        n for n in REGISTRY
        if n not in _DRIVER_CHECKED_PRIOR and n not in flag
    ]
    rest = [n for n in REGISTRY if n not in set(flag) | set(fresh)]
    return flag + fresh + rest


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name][0] for name in _rotated_names()}


def oracle_sql() -> dict[str, str]:
    """ANSI-SQL oracles (DuckDB dialect), one per query of ``queries()``
    and in its order: every registry entry has one."""
    return {
        name: REGISTRY[name][1]
        for name in _rotated_names()
        if REGISTRY[name][1] is not None
    }
