"""Query library exposed through __spark_entry__.py.

One module per domain; importing them, in the fixed order below,
populates the registry. Helpers two domains share live in ``registry``
(Spark) and ``oracle_sql`` (DuckDB).
"""

from .registry import ORACLE, QUERIES, SHARES, load_table, register  # noqa: F401
from . import warehouse  # noqa: F401,E402
from . import tpch  # noqa: F401,E402
from . import dedup_graph  # noqa: F401,E402
from . import embeddings  # noqa: F401,E402
from . import text_tokenizer  # noqa: F401,E402
from . import sampling_mix  # noqa: F401,E402
from . import audit_stats  # noqa: F401,E402
from . import streaming_events  # noqa: F401,E402
from . import multimodal_payloads  # noqa: F401,E402

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
    # changed-code leads: the capped MinHash family, whose band keys are
    # now one row-local projection at the module-constant geometry — the
    # capped-pairs memo builder, then its two graph readers (one shares
    # key, so they stay adjacent); then the
    # sorted-neighborhood pairs, whose verify now intersects per-document
    # shingle arrays like the MinHash block's
    "dedup_minhash_lsh_capped",
    "graph_pagerank_neardup_capped",
    "graph_triangle_counts_capped",
    "dedup_sorted_neighborhood",
    # changed-code leads: the similarity entries whose fold, top-k cut
    # or sign-LSH geometry moved behind operators/similarity.py — the
    # sign-LSH band-index builder, then its shares follower — and the
    # semantic decontamination, which now reads the eval split
    "similarity_ann_rp_lsh",
    "dedup_semantic_prune",
    "decontaminate_semantic_topmatch",
    # changed-code leads: the entries whose eval split, 80/20 split or
    # exact-overlap and span geometry now come from the constants of
    # operators/sampling.py and operators/dedup.py — the doc_8grams pair
    # (after dedup_semantic_prune, as perfbench's corpus_ops expects),
    # the span provenance, the repeated_spans pair, the split report and
    # the three 80/20 entries; then the engagement sink, whose scratch
    # now keeps one tree per live process
    "decontaminate_ngram_exact",
    "decontaminate_bloom_prefilter",
    "decontaminate_span_provenance",
    "dedup_repeated_spans",
    "dedup_span_scrub",
    "train_test_split_stats",
    "split_leakage_safe",
    "pretrain_data_build",
    "lm_eval_train_test_split",
    "streaming_engagement_sink_equiv",
    # changed-code leads: the entries whose text normalization now comes
    # from operators/text.py — the kept winnow-fingerprint relation's
    # anchor, then its shares follower; the fingerprint, stopword-count,
    # word-split and simhash readers
    "text_winnow_fingerprints",
    "winnow_overlap_pairs",
    "text_fingerprint",
    "text_quality_scores",
    # changed-code leads: the entries whose Python workers now take
    # pyarrow batches (arrow_udf / mapInArrow / applyInArrow) and were
    # outside the window — the Gram partials, the reranker's Arrow dot
    # and the grouped z-score, whose key types now come from its input
    "pca_power_iteration",
    "rerank_two_stage_topk",
    "pandas_zscore_normalize",
    # changed-code leads: the sketch entries whose Bloom, KMV, Count-Min
    # or Misra-Gries decision now lives once in operators/sketch.py (the
    # bitset-probed Bloom pair, the grouped KMV pair, the two Count-Min
    # reports, the shared k-counter step's batch entry); then the regex
    # tokenizer count, whose oracle now spells Java's whitespace class
    "bloom_membership_check",
    "incremental_ingest_dedup",
    "approx_distinct_kmv",
    "kmv_join_cardinality",
    "countmin_heavy_hitters",
    "cms_heavy_hitters",
    "heavy_hitters_mg",
    "text_token_counts",
    # changed-code leads: the batch twin of the engagement sink, whose
    # daily_engagement now drops NULL days, and the change-feed rollup,
    # whose merge joins on the NULL-safe key condition the ingest
    # sinks' novelty anti-join shares
    "dau_wau_engagement",
    "incremental_rollup_equivalence",
    # r08 multimodal plumbing + the NEW r13 analytic over the same
    # binary payloads (adjacent: same documents/multimodal scan), led by
    # the two payload maps now built from typed Arrow rows
    "multimodal_decode_meta",
    "multimodal_feature_extract",
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
