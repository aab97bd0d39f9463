"""Query library exposed through __spark_entry__.py.

Importing the submodules populates the registry (one entry per operator
family from SURVEY.md section 2, plus the large-scale training-data
extensions).
"""

from .registry import ORACLE, QUERIES, SHARES, load_table, register  # noqa: F401
from . import core  # noqa: F401,E402
from . import llm_ops  # noqa: F401,E402
from . import tpch_extra  # noqa: F401,E402
from . import datapipe  # noqa: F401,E402
from . import round3  # noqa: F401,E402
from . import round3b  # noqa: F401,E402
from . import round4  # noqa: F401,E402
from . import round5  # noqa: F401,E402
from . import round6  # noqa: F401,E402
from . import round6b  # noqa: F401,E402
from . import round6c  # noqa: F401,E402
from . import round6d  # noqa: F401,E402
from . import round7  # noqa: F401,E402
from . import round8  # noqa: F401,E402
from . import round10  # noqa: F401,E402
from . import round11  # noqa: F401,E402
from . import round13  # noqa: F401,E402

# ---------------------------------------------------------------------------
# Driver-visible ordering. The correctness driver hard-checks the FIRST 50
# registry entries each round, so ordering is evidence allocation. Rotation
# history: r1-r2 reference-surface queries (green), r3 the LLM-pipeline block
# (49/50; the one red fixed + re-proven green r4), r4 the never-green
# re-proofs + TPC-H + breadth/sketch/graph/round-3b block (50/50 green),
# r5 the final 50 never-checked entries (50/50 green -> cumulative 200/200
# over the round-4 registry).
# Round 13 window (VERDICT r12 "Next round" #2 — lead with entries
# whose code moves in r13, then retire the full remaining 33-entry r08
# vintage, filling the remainder from the oldest r09 block; after this
# window no entry's latest verdict predates r09):
# 1. Changed-code leads: streaming_engagement_sink_equiv (sink redesign
#    round 2 — merged rewrite writes, footer-stats replace_range,
#    day-grain contract, VERDICT r12 #1), scd2_customer_history (its
#    merge() now stages source+survivors as ONE write), and the NEW
#    multimodal_patch_stats entry (VERDICT r12 #5).
# 2. The trigram-minhash block from the oldest r09 vintage, ordered so
#    the designated cache builder (dedup_minhash_lsh) leads and the r08
#    stragglers that compose its persisted relations
#    (ppjoin_prefix_similarity after lsh_recall_contract — the r8 fix —
#    and decontaminate_test_split) sit inside the block, preserving
#    their shares adjacencies inside the window.
# 3. The rest of the 33-entry r08 vintage grouped by scan family
#    (documents, embeddings, events, scalar/dimension), with
#    multimodal_frame_offsets adjacent to the new patch-stats entry
#    (same binary-payload scan).
# 4. Remaining slots from the oldest r09 block: standalone events/TPC-H
#    scans.
# Pinned by tests/test_registry_contract so a new registration cannot
# silently evict driver coverage.
# ---------------------------------------------------------------------------
DRIVER_WINDOW = [
    # changed-code leads
    "streaming_engagement_sink_equiv",
    "scd2_customer_history",
    # r09 trigram-minhash block (anchor first; cache-sharing followers
    # adjacent — shares never reorder the window, so the order here IS
    # the adjacency)
    "dedup_minhash_lsh",
    "minhash_estimate_contract",
    "lsh_recall_contract",
    "ppjoin_prefix_similarity",  # r08; shares ppjoin_pairs_frame w/ above
    "decontaminate_test_split",  # r08; composes the block's persisted plans
    "lsh_recall_contract_sampled",
    "dedup_clusters",
    "dedup_shrinkage_by_source",
    "neardup_cluster_stats",
    "graph_pagerank_neardup",
    "graph_triangle_counts",
    # r09 embeddings: the sign-LSH band-index builder (its shares
    # follower dedup_semantic_prune runs just past the window)
    "similarity_ann_rp_lsh",
    # r08 embeddings scans
    "embedding_outlier_scores",
    "hard_negative_topk",
    "kmv_join_cardinality",
    "pca_power_iteration",
    # r08 documents scans (standalone pipelines)
    "sample_hash_bernoulli",
    "source_unigram_kl",
    "text_token_counts",
    "url_extract_normalize",
    "vocab_oov_rate",
    "bloom_membership_check",
    # r08 events scans
    "date_filter_single_day",
    "distinct_exact",
    "error_capture_routing",
    "filter_dispatch",
    "grouping_rollup",
    "pivot_daily_event_values",
    "retention_keep_side",
    "set_operations",
    "unpivot_event_metrics",
    "window_running_analytics",
    "order_limit_topn",
    # r09 fill: standalone events/orders scans
    "dau_wau_engagement",
    "rolling_7d_user_value",
    "set_operations_all",
    # (tpch_q4_order_priority stays on its r09 verdict — swapped out for
    # the new frame-energy entry; the no-pre-r09 goal is unaffected)
    # r08 scalar/dimension scans
    "base64_roundtrip",
    "broadcast_route_lookup",
    "join_anti",
    "join_semi",
    "log_path_and_format",
    "path_stem_extract",
    "regex_filename_cleanup",
    "sql_api_passthrough",
    "uuid_stable",
    # r08 multimodal plumbing + the NEW r13 analytic over the same
    # binary payloads (adjacent: same documents/multimodal scan)
    "multimodal_frame_offsets",
    "multimodal_patch_stats",
    "multimodal_frame_energy",  # NEW r13: audio sibling, same scan
]

# Suite order past the window comes from what queries declare. Sharers
# registered in different modules otherwise end up ~60 positions apart,
# and the shared relation gets churned by everything in between
# (measured: the bloom prefilter at the registry tail re-paid the full
# tokenization, 4.6 s -> 13.2 s in-suite; lsh_recall_contract_sampled
# went 2.9 s -> 42.7 s when a hand-kept adjacency map drifted). The first
# declarer of a ``register(shares=...)`` key, in DRIVER_WINDOW-then-
# registration order, anchors it; every later declarer runs right after
# its anchor (after the window, for an anchor inside it), so the first
# consumer builds the relation and the rest read it hot. The window
# itself is never reordered, and a sharer anchors no key of its own.


def _apply_driver_window() -> None:
    missing = [n for n in DRIVER_WINDOW if n not in QUERIES]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names not registered: {missing}")
    window = set(DRIVER_WINDOW)
    seq = DRIVER_WINDOW + [n for n in QUERIES if n not in window]
    pos = {n: i for i, n in enumerate(seq)}
    anchor: dict[str, str] = {}
    for n in seq:
        for key in SHARES.get(n, ()):
            anchor.setdefault(key, n)

    def slot(n: str) -> tuple[int, int]:
        # a sharer sorts right behind its anchor; anything else keeps its
        # place (a window anchor's sharers open the post-window suite)
        anchors = [pos[anchor[k]] for k in SHARES.get(n, ()) if anchor[k] != n]
        return (anchors[0] if anchors else pos[n], pos[n])

    order = DRIVER_WINDOW + sorted(seq[len(DRIVER_WINDOW):], key=slot)
    fns = {n: QUERIES[n] for n in order}
    QUERIES.clear()
    QUERIES.update(fns)


_apply_driver_window()
