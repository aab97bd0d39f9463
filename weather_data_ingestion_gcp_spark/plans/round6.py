"""Round-6 additions: the scale path for accuracy contracts.

The round-6 empirical 10x probe (tools/scale_probe.py, BASELINE.md)
measured the full-corpus `lsh_recall_contract` ground truth blowing past
80 GB of shuffle spill at sf1: the probe corpus keeps the generator's
fixed 31-word vocabulary, so every 3-gram shingle's document frequency
grows linearly with the corpus and PPJoin's prefix-filter candidates
grow QUADRATICALLY (sum over tokens of df² — prefix filtering is only
sub-quadratic when the token-frequency tail grows with the corpus).

The measured lesson: an accuracy CONTRACT does not need the full corpus
— recall is a statistical property, and an unbiased estimate over a
deterministic hash-sample of documents is the shape a 100 TB pipeline
actually runs (both the LSH under test and the exact ground truth
restricted to the same sampled sub-corpus; pair candidates shrink by
the sample rate SQUARED, 25x here). The full-corpus contract entry
stays registered (exact at driver SFs, driver-green r05); this is the
companion that survives the 10x probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import store
from ..operators import dedup, sampling
from .oracle_sql import sampled_docs_sql, shingles_sql, words_sql
from .registry import _sample_pct, load_table, register
from .round3b import _lsh_recall_oracle, ppjoin_pairs_frame, recall_summary

# sample-rate constants and the cap formula live in registry.py (shared
# with minhash_estimate_contract in round3b — the two sampled contracts
# must take the IDENTICAL deterministic sub-corpus or their shared
# shingle caches fork): _SAMPLE_PCT=20, _SAMPLE_TARGET_DOCS=10_000,
# _sample_pct(n) = min(20%, ceil(TARGET/n)%). The round-7 100x-probe
# rationale: a PROPORTIONAL sample keeps the quadratic ground truth
# growing (sf10 cold 1243.8 s, cold exponent 1.82/decade); recall is a
# statistical property, so a fixed-size sample estimates it just as
# unbiasedly at constant cost.


@register(
    "lsh_recall_contract_sampled", shares=("minhash_trigram",),
    oracle=f"""
    WITH {sampled_docs_sql()}
    SELECT * FROM ({_lsh_recall_oracle("docs_sampled")})
    """,
)
def lsh_recall_contract_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH recall measured on a deterministic 20% hash-sample of
    the corpus — the 100 TB form of `lsh_recall_contract` (round3b).

    Same LSH parameters, same provably-complete PPJoin ground truth
    (shared `ppjoin_pairs_frame` pipeline, so the two contracts cannot
    drift), but both sides see only the sampled sub-corpus: candidate
    pairs scale with the sample rate squared, which is what kept the
    10x probe inside memory where the full-corpus contract spilled out
    of disk. Round-7 hardening after the 100x probe: the rate is CAPPED
    so the sample stays ~10k docs absolute (a proportional 20% sample
    still grows, and the quadratic-in-sample ground truth grew with it
    — sf10 cold 1243.8 s); below 50k docs the formula reduces to the
    original flat 20%, so driver-SF outputs are unchanged. The one
    bounded driver-side probe is the corpus COUNT (footer metadata
    read). Recall over a uniform doc-sample is an unbiased estimate of
    pair recall for the banding curve (pair inclusion is determined by
    the two docs' signatures alone, independent of the rest of the
    corpus), so the pinned >= 90% bound carries the same meaning."""
    docs = load_table(spark, sf_dir, "documents")
    pct = _sample_pct(docs.count())
    d = docs.filter(sampling.hash_bucket(F.col("doc_id")) < pct)
    lsh = store.keep(
        dedup.minhash_near_duplicates(
            d, "doc_id", "text", num_hashes=8, rows_per_band=2, shingle_n=3,
            threshold=0.5,
        ).select("id_a", "id_b")
    )
    exact = ppjoin_pairs_frame(d).select("id_a", "id_b")
    return recall_summary(exact, lsh)


# ---------------------------------------------------------------------------
# ROUGE-style n-gram overlap eval (round-6 breadth): the summarization/
# generation eval primitive — ROUGE-1 and ROUGE-2 precision / recall / F1
# with CLIPPED bag counts (overlap per gram = min(count_cand, count_ref),
# Lin 2004), between deterministically paired documents (candidate =
# even doc_id, reference = the next doc_id; a production run swaps in a
# (cand_id, ref_id) pairing table — the plan shape is identical).
#
# Scale: everything is keyed by (pair_id, gram) — one hash aggregate for
# per-doc gram bags, one equi-join per metric order, partial aggregation
# before every shuffle, no pair x pair growth anywhere. All integer ppm
# (floor division both engines), so the hash compare is exact.
# ---------------------------------------------------------------------------
def _rouge_oracle() -> str:
    def metric(tag: str, grams: str) -> str:
        return f"""
    a{tag} AS (SELECT doc_id AS pair_id, g, c FROM {grams} WHERE doc_id % 2 = 0),
    b{tag} AS (SELECT doc_id - 1 AS pair_id, g, c FROM {grams} WHERE doc_id % 2 = 1),
    ov{tag} AS (
        SELECT a.pair_id, CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS n_ov
        FROM a{tag} a JOIN b{tag} b ON a.pair_id = b.pair_id AND a.g = b.g
        GROUP BY a.pair_id
    ),
    ta{tag} AS (SELECT pair_id, CAST(SUM(c) AS BIGINT) AS n FROM a{tag} GROUP BY pair_id),
    tb{tag} AS (SELECT pair_id, CAST(SUM(c) AS BIGINT) AS n FROM b{tag} GROUP BY pair_id)"""

    return f"""
    WITH w AS (SELECT doc_id, {words_sql} AS ws FROM documents),
    uni AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(ws) AS g FROM w) GROUP BY doc_id, g
    ),
    big AS (
        SELECT doc_id, shingle AS g, CAST(COUNT(*) AS BIGINT) AS c
        FROM ({shingles_sql(2, positional=True)})
        GROUP BY doc_id, g
    ),
    pairs AS (
        SELECT a.doc_id AS pair_id FROM documents a
        JOIN documents b ON b.doc_id = a.doc_id + 1
        WHERE a.doc_id % 2 = 0
    ),{metric("1", "uni")},{metric("2", "big")}
    SELECT p.pair_id,
           COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(ta1.n, 0) AS rouge1_p_ppm,
           COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(tb1.n, 0) AS rouge1_r_ppm,
           (2 * (COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(ta1.n, 0))
              * (COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(tb1.n, 0)))
             // NULLIF((COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(ta1.n, 0))
                     + (COALESCE(ov1.n_ov, 0) * 1000000 // NULLIF(tb1.n, 0)), 0)
             AS rouge1_f_ppm,
           COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(ta2.n, 0) AS rouge2_p_ppm,
           COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(tb2.n, 0) AS rouge2_r_ppm,
           (2 * (COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(ta2.n, 0))
              * (COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(tb2.n, 0)))
             // NULLIF((COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(ta2.n, 0))
                     + (COALESCE(ov2.n_ov, 0) * 1000000 // NULLIF(tb2.n, 0)), 0)
             AS rouge2_f_ppm
    FROM pairs p
    LEFT JOIN ov1 USING (pair_id) LEFT JOIN ta1 USING (pair_id)
    LEFT JOIN tb1 USING (pair_id)
    LEFT JOIN ov2 USING (pair_id) LEFT JOIN ta2 USING (pair_id)
    LEFT JOIN tb2 USING (pair_id)
    ORDER BY pair_id
    """


@register("rouge_overlap_eval", oracle=_rouge_oracle())
def rouge_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/2 P/R/F1 (clipped bag counts, integer ppm) between
    adjacent-doc_id pairs. See the block comment above for semantics and
    the scale argument; NULL ppm where a side has no grams of that
    order (division guarded by NULLIF on both engines)."""
    from ..operators import text as text_ops

    d = load_table(spark, sf_dir, "documents")
    # Round-13 opt (guide §2.3/§2.4): ONE documents scan + ONE explode
    # feeds both metric orders — grams carry an `ord` tag (1=unigram,
    # 2=bigram) and the reference/candidate split rides the rows as
    # (pair_id, side) instead of two filtered re-evaluations of each
    # gram relation. The old per-metric {inner join + full-outer join +
    # 3 aggregates} collapses into two stacked aggregates: counts per
    # (pair_id, ord, g) pivoted to (ca, cb) by side, then per (pair_id,
    # ord) the clipped-overlap / total sums. Join semantics preserved
    # exactly: ca/cb stay NULL (never 0) when a side lacks the gram;
    # the overlap term sums only both-sides-present grams (F.least
    # skips nulls, hence the explicit guard); an order absent for a
    # pair yields NULLs exactly like the old left joins. Plan: 29
    # scans / 88 exchanges / 23 jobs -> 2 scans / 4 shuffles.
    # round 13 (codegen, see operators.text.words): unigrams and bag
    # bigrams come from the codegen tokenizer / lookahead-regex capture,
    # concatenated into ONE array and posexploded — the `ord` tag is
    # recovered from the position (the first size(words) elements are
    # the unigrams), replacing the two interpreted struct-tagging
    # transform lambdas with a plain when() over pos. Same rows, same
    # one-scan/one-explode shape as the earlier round-13 rewrite.
    toks = text_ops.words(F.col("text"))
    both = F.concat(toks, text_ops.ngram_array(F.col("text"), 2))
    # the gram array MUST materialize in its own projection before the
    # posexplode: a sibling column (here _nw) next to the generator stops
    # Generate from claiming the array expression, and the concat (two
    # full regex passes over the document) re-evaluates PER OUTPUT GRAM —
    # measured 0.5 -> 7 s at sf0.1 without the barrier.
    pre = d.select(
        (F.col("doc_id") - F.col("doc_id") % 2).alias("pair_id"),
        (F.col("doc_id") % 2).alias("side"),
        F.size(toks).alias("_nw"),
        both.alias("_b"),
    )
    grams = pre.select(
        "pair_id", "side", "_nw", F.posexplode("_b").alias("_p", "g")
    ).select(
        "pair_id",
        "side",
        F.when(F.col("_p") < F.col("_nw"), 1).otherwise(2).alias("ord"),
        "g",
    )
    cnt = grams.groupBy("pair_id", "ord", "g").agg(
        F.sum(F.when(F.col("side") == 0, 1)).alias("ca"),
        F.sum(F.when(F.col("side") == 1, 1)).alias("cb"),
    )
    m = cnt.groupBy("pair_id", "ord").agg(
        F.sum(
            F.when(
                F.col("ca").isNotNull() & F.col("cb").isNotNull(),
                F.least("ca", "cb"),
            )
        )
        .cast("long")
        .alias("ov"),
        F.sum("ca").cast("long").alias("ta"),
        F.sum("cb").cast("long").alias("tb"),
    )
    piv = m.groupBy("pair_id").agg(
        *[
            F.max(F.when(F.col("ord") == o, F.col(c))).alias(f"{c}{o}")
            for o in (1, 2)
            for c in ("ov", "ta", "tb")
        ]
    )
    pairs = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.col("doc_id").alias("pair_id"))
        .join(
            d.select((F.col("doc_id") - 1).alias("pair_id")),
            "pair_id",
            "left_semi",
        )
    )
    out = pairs.join(piv, "pair_id", "left")

    def ppm(tag: str) -> list:
        o = f"coalesce(ov{tag}, 0) * 1000000"
        p = f"({o}) div nullif(ta{tag}, 0)"
        r = f"({o}) div nullif(tb{tag}, 0)"
        return [
            F.expr(p).cast("long").alias(f"rouge{tag}_p_ppm"),
            F.expr(r).cast("long").alias(f"rouge{tag}_r_ppm"),
            F.expr(f"(2 * ({p}) * ({r})) div nullif(({p}) + ({r}), 0)")
            .cast("long")
            .alias(f"rouge{tag}_f_ppm"),
        ]

    return out.select("pair_id", *ppm("1"), *ppm("2")).orderBy("pair_id")


# ---------------------------------------------------------------------------
# Two-stage retrieve -> rerank (round-6 breadth, VERDICT r5 task-7
# option): the cross-encoder serving shape — a cheap bi-encoder
# retrieval (broadcast queries, corpus scan, per-query top-20 cosine)
# followed by an expensive scorer applied ONLY to the retrieved
# candidates (8 x 20 rows, never the corpus). The rerank scorer here is
# a deterministic late-interaction stand-in (a real cross-encoder is a
# model call — the Spark-side plumbing, candidate-only invocation, and
# plan shape are exactly what it would use): per-dimension signed-
# overlap on milli-quantized components,
#   score = sum_i least(|q_i|, |c_i|) * sign(q_i) * sign(c_i)
# — exact BIGINT on both engines (the repo's integer-quantization
# discipline), so the reranked order hash-checks with no float
# comparator exposure.
#
# Scale: stage 1 is the audited brute_force_topk shape (corpus never
# shuffles; swap in IVF/LSH retrieval at 100 TB unchanged); stage 2
# touches |Q| x 20 rows regardless of corpus size.
# ---------------------------------------------------------------------------

_RERANK_TERM = (
    "LEAST(ABS(qm[i]), ABS(cm[i]))"
    " * (CASE WHEN qm[i] > 0 THEN 1 WHEN qm[i] < 0 THEN -1 ELSE 0 END)"
    " * (CASE WHEN cm[i] > 0 THEN 1 WHEN cm[i] < 0 THEN -1 ELSE 0 END)"
)

_RERANK_ORACLE = f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
        SELECT q_id, n_id,
               list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                 AS sim
        FROM q CROSS JOIN c
        WHERE q_id <> n_id
    ),
    cand AS (
        SELECT q_id, n_id, rk_retrieval FROM (
            SELECT q_id, n_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, n_id) AS rk_retrieval
            FROM scored)
        WHERE rk_retrieval <= 20
    ),
    quant AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS m
        FROM embeddings
    ),
    rescored AS (
        SELECT cand.q_id, cand.n_id, cand.rk_retrieval,
               CAST(list_sum(list_transform(
                   generate_series(1, len(qm)),
                   i -> {_RERANK_TERM})) AS BIGINT) AS rerank_score
        FROM cand
        JOIN (SELECT vec_id, m AS qm FROM quant) qq ON qq.vec_id = cand.q_id
        JOIN (SELECT vec_id, m AS cm FROM quant) cc ON cc.vec_id = cand.n_id
    )
    SELECT q_id, n_id, rerank_score, rk_retrieval,
           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY rerank_score DESC, n_id)
                AS BIGINT) AS rk_rerank
    FROM rescored
    QUALIFY rk_rerank <= 5
    ORDER BY q_id, rk_rerank
    """


@register("rerank_two_stage_topk", oracle=_RERANK_ORACLE)
def rerank_two_stage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bi-encoder top-20 retrieval -> candidate-only signed-overlap
    rerank -> top-5 per query. See the block comment for the scorer and
    scale argument."""
    from ..operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cand = similarity.brute_force_topk(emb, queries, k=20).select(
        "q_id", "n_id", F.col("rk").alias("rk_retrieval")
    )
    quant = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1000).cast("long"),
        ).alias("m"),
    )

    def isign(x):
        return (
            F.when(x > 0, F.lit(1)).when(x < 0, F.lit(-1)).otherwise(F.lit(0))
        ).cast("long")

    score = F.aggregate(
        F.zip_with(
            F.col("qm"),
            F.col("cm"),
            lambda a, b: F.least(F.abs(a), F.abs(b)) * isign(a) * isign(b),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rescored = (
        cand.join(
            F.broadcast(quant.select(F.col("vec_id").alias("q_id"),
                                     F.col("m").alias("qm"))),
            "q_id",
        )
        .join(
            quant.select(F.col("vec_id").alias("n_id"), F.col("m").alias("cm")),
            "n_id",
        )
        .select("q_id", "n_id", "rk_retrieval", score.alias("rerank_score"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.desc("rerank_score"), F.col("n_id")
    )
    return (
        rescored.withColumn("rk_rerank", F.row_number().over(w).cast("long"))
        .filter(F.col("rk_rerank") <= 5)
        .select("q_id", "n_id", "rerank_score", "rk_retrieval", "rk_rerank")
        .orderBy("q_id", "rk_rerank")
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance, oracle-checked: the Spark side maintains
# a per-day (count, sum) rollup INCREMENTALLY — a base aggregate over
# the pre-cutoff events plus a change feed (post-cutoff rows as inserts,
# pre-cutoff error rows retracted as deletes) merged by
# operators.incremental.refresh_rollup — while the oracle computes the
# equivalent END STATE as one plain filtered aggregate. Any defect in
# the delta aggregation, signed merge, or vanishing-group rule makes the
# two diverge, so the driver's hash check covers the maintenance path
# itself. Sums are exact integer cents (value has 2 decimals), so no
# accumulation-order float exposure across the base/delta split.
# ---------------------------------------------------------------------------

_IVM_CUTOFF = "2024-01-20 00:00:00"


@register(
    "incremental_rollup_equivalence",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events
    WHERE NOT (ts < TIMESTAMP '{_IVM_CUTOFF}' AND event_type = 'error')
    GROUP BY 1 ORDER BY 1
    """,
)
def incremental_rollup_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import incremental

    e = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_type",
        # exact integer cents carried as double (exact to 2^53) so the
        # shared sum/count machinery needs no type plumbing
        F.round(F.col("value") * 100).cast("double").alias("cents"),
    )
    cutoff = F.lit(_IVM_CUTOFF).cast("timestamp")
    base = (
        e.filter(F.col("ts") < cutoff)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").alias("total_cents"),
        )
    )
    inserts = e.filter(F.col("ts") >= cutoff).select(
        "day", "cents", F.lit("insert").alias("_change_type")
    )
    retractions = e.filter(
        (F.col("ts") < cutoff) & (F.col("event_type") == "error")
    ).select("day", "cents", F.lit("delete").alias("_change_type"))
    feed = inserts.unionByName(retractions)
    out = incremental.refresh_rollup(
        base, feed, ["day"], "cents", sum_col="total_cents", count_col="n"
    )
    return out.select(
        "day", "n", F.col("total_cents").cast("long").alias("total_cents")
    ).orderBy("day")
