"""Print the formatted physical plans of the headline queries (or of the
named ones) to stdout, so plan shapes (pushdown, broadcast, partial agg)
can be reviewed or diffed between two checkouts.

Expression ids (``vec_id#123L``), exchange ids (``[plan_id=3600]``) and
RDD ids (``MapPartitionsRDD[109]``) count what the session built before,
so they are stripped: a plain ``diff`` of two checkouts' output shows
only shape changes.

Usage: python tools/dump_plans.py SF_DIR [query ...]"""

from __future__ import annotations

import re
import sys
from pathlib import Path

_SESSION_IDS = re.compile(r"(?<=#)\d+|(?<=RDD\[)\d+(?=\])|(?<=plan_id=)\d+")

HEADLINERS = [
    "daily_rollup_events",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "dedup_minhash_lsh",
    "similarity_cosine_topk",
    "sessionize_events",
    "asof_join_clicks_views",
    "range_join_price_bands",
    "tpch_q11_important_parts",
    "tpch_q21_waiting_suppliers",
    "curation_pipeline_keep",
    "dedup_simhash_hamming",
    "bm25_lexical_topk",
    "inverted_index_bigrams",
    "sample_weighted_topk",
    "sliding_window_agg",
    "skew_salted_join_agg",
    "decontaminate_test_split",
    "word_pair_pmi",
    "bloom_membership_check",
    "decontaminate_ngram_exact",
    "countmin_heavy_hitters",
    "incremental_ingest_dedup",
    "gapfill_daily_interpolation",
    "dau_wau_engagement",
    "sequence_pack_offsets",
    "embedding_quantize_int8",
    "funnel_view_click_purchase",
    "chunk_documents_overlap",
    "dedup_keep_best_quality",
    "vocab_oov_rate",
    "join_full_outer_activity",
    "text_entropy_quality",
    "gopher_repetition_flags",
    "heavy_hitters_mg",
    "label_centroid_cosine",
    "bpe_learn_merges",
    "passage_exact_dedup",
    "hard_negative_topk",
    "shard_pack_by_tokens",
    "attribution_last_touch",
    "kmv_join_cardinality",
    "graph_pagerank_neardup",
    "graph_triangle_counts",
    "ppjoin_prefix_similarity",
    "winsorized_robust_stats",
    "pca_power_iteration",
    "lsh_recall_contract",
    "dataset_card_summary",
    "zorder_layout_buckets",
    # round-11 entries
    "dedup_repeated_spans",
    "dedup_span_scrub",
    "dedup_clusters_star",
    "doc_bigram_interp_logprob",
    "attribution_linear_multi_touch",
    "pretrain_data_build",
    "containment_near_dup",
    "rfm_user_segments",
    "minhash_estimate_contract",
    "decontaminate_bloom_prefilter",
    "hll_distinct_contract",
    "dataset_mix_temperature",
    "packing_padding_efficiency",
    "neardup_cluster_stats",
    "dedup_shrinkage_by_source",
    # round 5
    "mix_apply_temperature",
    "skew_adaptive_salted_agg",
    "regression_words_chars",
    "event_type_daily_corr",
    "training_shuffle_shards",
    "source_distinctive_terms",
    # round 6
    "dedup_ngram_jaccard",
    "lsh_recall_contract_sampled",
    "rouge_overlap_eval",
    "rerank_two_stage_topk",
    "incremental_rollup_equivalence",
    # round 6b/6c
    "dedup_sorted_neighborhood",
    "ewma_daily_event_value",
    "l_diversity_audit",
    "record_linkage_fellegi_sunter",
    "good_turing_vocab_coverage",
    "contingency_chi_square",
    # round 6d / 7
    "benford_digit_audit",
    "ks_length_drift_by_source",
    "t_closeness_audit",
    "dsir_importance_weights",
    "psi_value_drift",
]


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    sf, names = sys.argv[1], sys.argv[2:] or HEADLINERS
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from weather_data_ingestion_gcp_spark.plans import QUERIES
    from weather_data_ingestion_gcp_spark.session import get_spark

    spark = get_spark(
        "plans", master="local[4]", shuffle_partitions=4,
        extra_confs={"spark.ui.showConsoleProgress": "false", "spark.driver.memory": "4g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(
        "# Physical plans (AQE pre-execution view). Check per plan:\n"
        "# PushedFilters/ReadSchema on every scan, BroadcastHashJoin for\n"
        "# dimensions, no CartesianProduct, partial+final aggregate pairs\n"
        "# around each exchange.\n"
    )
    for name in names:
        df = QUERIES[name](spark, sf)
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        plan = _SESSION_IDS.sub("", plan)
        print(f"## {name}\n\n{plan.rstrip()}\n", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
