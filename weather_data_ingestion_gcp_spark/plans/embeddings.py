"""Similarity search and embedding queries: exact and approximate top-k
(brute force, IVF, k-means IVF, random-hyperplane LSH), MMR and two-stage
rerank, embedding-space dedup and decontamination, centroid geometry,
outliers, PCA and int8 quantization over the ``embeddings`` table.

Cosine similarities: both sides compute dot/(||a||*||b||) as a sequential
double-precision fold over the same element order -> bitwise-stable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import store
from ..operators import similarity
from ..operators.sampling import in_test_split, in_train_split
from ..operators.similarity import _cosine_tiles, _length_groups, _nulled
from .oracle_sql import in_test_split_sql, in_train_split_sql, sign_bands_sql, sub_block_sql
from .registry import load_table, register


@register(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                 6) AS cos_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: cluster-blocked (the IVF
    assignment doubles as the LSH-style blocking key) + exact cosine verify
    — the embedding-space member of the dedup family. Quadratic only
    within a cluster, never across the corpus. (Threshold calibrated to
    the synthetic corpus, whose vectors are near-orthogonal — max
    within-cluster cosine ~0.47; production near-dup uses 0.9+.)

    The quadratic verify runs INSIDE each label block
    (similarity.block_cosine_pairs): vectors cross the Arrow boundary
    once per block, not once per pair (a per-pair formulation ships
    |pairs| x dim x 2 doubles, ~256 MB at sf0.1's ~250k pairs), and every
    dot is one `similarity._fold`, the exact IEEE sequence of DuckDB's
    list_dot_product: values stay bitwise oracle-equal. The >= 0.35
    decision is made here, in Spark, on the raw cosine the oracle
    compares. At 100 TB the blocking key bounds group size (a block is a
    cluster assignment by construction), which is what makes grouped-map
    safe."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.block_cosine_pairs(emb, ["label"], 0.35)
        .where(F.col("raw") >= 0.35)
        .select("id_a", "id_b", F.round("raw", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@register(
    "similarity_cosine_topk", shares=("brute_topk8_k5",),
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS n_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
        SELECT q_id, n_id,
               list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        FROM q CROSS JOIN c
        WHERE q_id <> n_id
    ),
    ranked AS (
        SELECT q_id, n_id, sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
        FROM scored
    )
    SELECT q_id, n_id, ROUND(sim, 6) AS cos_sim, rk
    FROM ranked WHERE rk <= 5 ORDER BY q_id, rk
    """,
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _brute_topk8_shared(spark, sf_dir)
    return out.select("q_id", "n_id", F.round("cos_sim", 6).alias("cos_sim"), "rk").orderBy(
        "q_id", "rk"
    )


def _brute_topk8_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized exact top-5 neighbors of the 8 probe queries —
    the shared-relation discipline (``store.shared``):
    `similarity_cosine_topk` RETURNS this
    relation and `similarity_ann_ivf_kmeans` consumes it as recall
    ground truth, and each used to re-run the full corpus×8 dot pass.
    The persisted relation is the OUTPUT (40 rows), so the memo costs
    nothing at the 100 TB design point — the brute-force pass itself
    stays the audited broadcast-queries shape, run once per session."""
    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings")
        return similarity.brute_force_topk(
            emb, emb.filter(F.col("vec_id") < 8), k=5
        )

    return store.shared(spark, "brute_topk8_k5", sf_dir, build)


@register(
    "vector_l2_normalize",
    oracle="""
    SELECT vec_id,
           ROUND(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS norm,
           ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                            CAST(embedding AS DOUBLE[])))), 6) AS self_cos,
           len(embedding) AS dim
    FROM embeddings ORDER BY vec_id
    """,
)
def vector_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array ops over the embedding column: norm via
    zip_with+aggregate fold, unit-vector sanity (self-cosine == 1), dim.
    The multimodal/vector column manipulation primitive — all JVM-side."""
    from ..operators.similarity import cosine, _dot

    emb = load_table(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    return emb.select(
        "vec_id",
        F.round(F.sqrt(_dot(e, e)), 6).alias("norm"),
        F.round(cosine(e, e), 6).alias("self_cos"),
        F.size("embedding").alias("dim"),
    ).orderBy("vec_id")


@register(
    "similarity_ann_ivf_kmeans", shares=("brute_topk8_k5",),
    oracle="""
    SELECT vec_id AS q_id,
           CAST(5 AS BIGINT) AS n_results,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 8 ORDER BY q_id
    """,
)
def similarity_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fully self-contained IVF: cluster with deterministic Lloyd k-means
    (operators/similarity.kmeans_assign), then probe-and-search. The
    iterative clustering loop is not SQL-expressible, so the registered
    output is an ACCURACY CONTRACT (the HLL/approx-percentile pattern):
    per query, exactly k results, and recall@5 vs the exact brute-force
    neighbors >= 0.2 — a verdict the oracle pins TRUE. Observed recall on
    geometric k-means clusters is >= 0.6 at sf0.001/0.01/0.1 (nprobe=2 of
    8 clusters), so the pinned bound has 3x slack while still failing the
    hash compare on any real ANN regression."""
    from ..operators.similarity import ivf_topk, kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    # The assignment relation is consumed by BOTH sides of the IVF
    # (centroid aggregate + candidate search) and the query filter, so
    # the composed plan references the k-means subtree — Arrow UDF,
    # per-round lineage — several times per run. store.truncate (eager
    # localCheckpoint) hands every reference a 2000-row leaf instead:
    # cold 7.2 s -> 3.1 s, warm 3.1 s -> 2.6 s at sf0.1, output
    # identical. (A spread_small of the embeddings input was also
    # probed: SLOWER — 2000 rows pay more in per-task overhead across
    # 32 partitions than the parallel rounds save.)
    corpus = emb.join(
        store.truncate(kmeans_assign(emb, k=8, max_iter=3)), "vec_id"
    )
    queries = corpus.filter(F.col("vec_id") < 8)
    ann = ivf_topk(corpus, queries, k=5, nprobe=2, cluster_col="kmeans_cluster")
    # recall ground truth from the shared memoized relation — the same
    # 40-row top-k similarity_cosine_topk returns (one corpus×8 pass
    # per session instead of one per entry)
    brute = _brute_topk8_shared(spark, sf_dir)
    hits = ann.join(
        brute.select("q_id", "n_id"), ["q_id", "n_id"], "left_semi"
    ).groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        ann.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_results"))
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            "n_results",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= 1).alias("recall_ok"),
        )
        .orderBy("q_id")
    )


def _rp_lsh_oracle() -> str:
    """Oracle for the random-hyperplane LSH: the band rows come from
    ``sign_bands_sql``, the same hyperplane floats that feed the Spark
    plan, so both engines bucket on bitwise-identical dot products."""
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb AS ({sign_bands_sql()}),
    qb AS (SELECT * FROM cb WHERE vec_id < 8),
    pairs AS (
        SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS n_id
        FROM qb JOIN cb ON qb.band = cb.band AND qb.bsig = cb.bsig
        WHERE cb.vec_id <> qb.vec_id
    ),
    scored AS (
        SELECT p.q_id, p.n_id,
               list_dot_product(q.v, n.v)
               / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v))) AS cos
        FROM pairs p
        JOIN e q ON q.vec_id = p.q_id
        JOIN e n ON n.vec_id = p.n_id
    ),
    ranked AS (
        SELECT q_id, n_id, cos,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
        FROM scored
    )
    SELECT q_id, n_id, ROUND(cos, 6) AS cos_sim, rk
    FROM ranked WHERE rk <= 5 ORDER BY q_id, rk
    """


def emb_bands_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table's sign-LSH band relation (vec_id, band,
    bsig) at the sign-LSH geometry (16 bits, 4 bands), session-
    persisted and memoized per (session, sf dir) — ONE index feeding
    ``similarity_ann_rp_lsh`` and its ``shares`` follower
    ``dedup_semantic_prune``, which otherwise each re-run the
    Arrow signature UDF over the full table. This is what a real
    deployment maintains: a persisted ANN index consulted by every
    lookup, not re-signed per query. O(corpus x 4 bands) narrow rows."""
    from ..operators.similarity import random_hyperplane_bands

    return store.shared(
        spark,
        "emb_bands",
        sf_dir,
        lambda: random_hyperplane_bands(load_table(spark, sf_dir, "embeddings")),
    )


@register("similarity_ann_rp_lsh", shares=("emb_bands",), oracle=_rp_lsh_oracle())
def similarity_ann_rp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane sign-LSH (the LSH-bucketed scale path
    alongside IVF): 16 deterministic hyperplanes -> 4 bands of 4 sign bits;
    candidates share any band; exact cosine ranks candidates. Unlike the
    IVF entries this one IS oracle-checked — the hyperplanes are md5-derived
    float literals embedded identically in both engines' queries."""
    from ..operators.similarity import rp_lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    out = rp_lsh_topk(
        emb, queries, k=5, corpus_bands=emb_bands_shared(spark, sf_dir)
    )
    return out.select(
        "q_id", "n_id", F.round("cos_sim", 6).alias("cos_sim"), "rk"
    ).orderBy("q_id", "rk")


@register(
    "similarity_ann_ivf",
    oracle="""
    SELECT vec_id AS q_id,
           CAST(5 AS BIGINT) AS n_results,
           CAST(15 AS BIGINT) AS rk_sum,
           TRUE AS probed_only,
           TRUE AS topk_of_candidates
    FROM embeddings WHERE vec_id < 8 ORDER BY q_id
    """,
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF over the table's pre-assigned ``label`` clusters, registered as
    a MECHANICS CONTRACT (oracle pins every verdict TRUE): per query,
    exactly k ranked results (rk 1..5, so rk_sum = 15), every candidate
    drawn from a probed cluster, and the returned top-k exactly the best
    of the probed candidate set (min picked cosine >= max unpicked
    cosine). Recall vs brute force is NOT contracted here — the data's
    arbitrary labels bound it, not the operator (a query whose true
    neighbors sit in unprobed clusters legitimately has recall 0); the
    k-means twin contracts recall on geometric clusters instead."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    probes, scored = similarity.ivf_parts(emb, queries, nprobe=2)
    ranked = similarity.cosine_rank(scored)
    audited = ranked.join(
        probes.withColumn("is_probed", F.lit(True)), ["q_id", "cluster"], "left"
    )
    picked = F.col("rk") <= 5
    return (
        audited.groupBy("q_id")
        .agg(
            F.sum(F.when(picked, 1).otherwise(0)).cast("long").alias("n_results"),
            F.sum(F.when(picked, F.col("rk")).otherwise(0))
            .cast("long")
            .alias("rk_sum"),
            F.min(F.when(picked, F.coalesce("is_probed", F.lit(False)))).alias(
                "probed_only"
            ),
            (
                F.coalesce(
                    F.min(F.when(picked, F.col("cos_sim"))), F.lit(float("inf"))
                )
                >= F.coalesce(
                    F.max(F.when(~picked, F.col("cos_sim"))), F.lit(float("-inf"))
                )
            ).alias("topk_of_candidates"),
        )
        .orderBy("q_id")
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    SELECT vec_id,
           ROUND(mn, 6) AS q_min,
           ROUND(mx, 6) AS q_max,
           CASE WHEN mx = mn THEN 0.0 ELSE
             ROUND(list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)
                          - (round((CAST(x AS DOUBLE) - mn) / ((mx - mn) / 255.0))
                             * ((mx - mn) / 255.0) + mn)))), 6)
           END AS max_abs_err
    FROM (SELECT vec_id, embedding,
                 CAST(list_min(embedding) AS DOUBLE) AS mn,
                 CAST(list_max(embedding) AS DOUBLE) AS mx
          FROM embeddings)
    ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit over the embedding column
    (similarity.scalar_quantize_stats): per-vector range, and the max
    absolute error of the 0..255 round-trip. Map-only row-local array
    arithmetic — the plan is a single project over the parquet scan, so it
    scales linearly with no shuffle at any corpus size. Error arithmetic
    is order-free (no accumulation), keeping bitwise cross-engine parity
    without fold-order pinning."""
    e = load_table(spark, sf_dir, "embeddings")
    return similarity.scalar_quantize_stats(e).orderBy("vec_id")


@register(
    "similarity_mmr_diverse",
    oracle="""
    SELECT CAST(8 AS BIGINT) AS n_selected,
           CAST(8 AS BIGINT) AS n_distinct,
           CAST(36 AS BIGINT) AS rank_sum,
           TRUE AS top1_is_argmax
    FROM (SELECT 1) WHERE EXISTS (SELECT 1 FROM embeddings WHERE vec_id = 0)
    """,
)
def similarity_mmr_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware retrieval (similarity.mmr_select): greedy MMR picks
    8 vectors balancing relevance to the query (vec_id 0) against
    redundancy with already-picked ones. The greedy loop is sequential in
    k by definition, so the registered output is an INVARIANT CONTRACT
    the oracle pins: 8 picks, all distinct, ranks exactly 1..8
    (rank_sum 36), and the first pick equal to the exact relevance argmax
    — with an empty selected set the MMR score reduces to lam * rel, so
    pick 1 must be the brute-force nearest neighbor (ascending-id
    tiebreak on both paths). Per greedy round the corpus is scored in one
    Arrow pass against a broadcast <= k x dim matrix; only the bounded
    shortlist is ever collected."""
    e = load_table(spark, sf_dir, "embeddings")
    qrow = e.filter(F.col("vec_id") == 0).select("embedding").head()
    if qrow is None:
        # no query vector (empty table): empty result, contract schema
        return store.rows(
            spark,
            [],
            "n_selected bigint, n_distinct bigint, rank_sum bigint, "
            "top1_is_argmax boolean",
        )
    corpus = e.filter(F.col("vec_id") != 0)
    sel = similarity.mmr_select(
        corpus, [float(v) for v in qrow[0]], k=8, lam=0.7
    )
    top1 = (
        similarity.brute_force_topk(e, e.filter(F.col("vec_id") == 0), k=1)
        .select(F.col("n_id").alias("argmax_id"))
    )
    return (
        sel.agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.countDistinct("vec_id").alias("n_distinct"),
            F.sum("mmr_rank").cast("long").alias("rank_sum"),
            F.min(F.when(F.col("mmr_rank") == 1, F.col("vec_id"))).alias("_pick1"),
        )
        .crossJoin(top1)
        .select(
            "n_selected",
            "n_distinct",
            "rank_sum",
            (F.col("_pick1") == F.col("argmax_id")).alias("top1_is_argmax"),
        )
    )


def _label_centroids(e: DataFrame) -> DataFrame:
    """``(label, pos0, c)``: each label's mean embedding, components
    quantized to exact 1e-6 BIGINTs. Float32 inputs make the per-(label,
    pos) double sum EXACT (24-bit mantissas, narrow exponent range, 53-bit
    accumulator), so the quantization sees identical values regardless of
    accumulation order. DuckDB mirror: ``_CENTROIDS_SQL``."""
    return (
        e.select("label", F.posexplode("embedding").alias("pos0", "v"))
        .groupBy("label", "pos0")
        .agg(F.round(F.avg("v") * 1000000, 0).cast("long").alias("c"))
    )


def _cos_ppm(sq_a: str, sq_b: str) -> Column:
    """``floor(dot * 1e6 / (sqrt(sq_a) * sqrt(sq_b)))`` as a long over the
    caller's ``dot`` column, NULL at a zero norm: the cosine of exact
    integer sums in parts per million, one correctly-rounded sqrt/divide
    chain. DuckDB mirror: ``_cos_ppm_sql``."""
    denom = F.sqrt(F.col(sq_a).cast("double")) * F.sqrt(F.col(sq_b).cast("double"))
    return F.floor(F.col("dot") * 1000000.0 / F.nullif(denom, F.lit(0.0))).cast("long")


#: CTE ``comp`` (label, pos, c) — mirrors :func:`_label_centroids`
_CENTROIDS_SQL = """comp AS (
        SELECT label, pos, CAST(ROUND(AVG(v) * 1000000, 0) AS BIGINT) AS c
        FROM (SELECT label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
        GROUP BY label, pos
    )"""


def _cos_ppm_sql(sq_a: str, sq_b: str) -> str:
    """Mirrors :func:`_cos_ppm` over the caller's ``dot`` column."""
    return f"""CAST(FLOOR(dot * 1000000.0
                      / NULLIF(sqrt(CAST({sq_a} AS DOUBLE))
                               * sqrt(CAST({sq_b} AS DOUBLE)), 0)) AS BIGINT)"""


# ---------------------------------------------------------------------------
# Label-centroid cosine matrix: mean embedding per label (components
# quantized to exact 1e-6 BIGINTs), then all label-pair cosines from
# exact integer dot products. The centroid relation is O(labels * dim)
# rows — at 100 TB the only full-data pass is the (label, pos) average;
# the geometry runs on a broadcast-sized matrix.
# ---------------------------------------------------------------------------
@register(
    "label_centroid_cosine",
    oracle=f"""
    WITH {_CENTROIDS_SQL},
    nrm AS (SELECT label, SUM(c * c) AS n2 FROM comp GROUP BY label),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b, SUM(a.c * b.c) AS dot
        FROM comp a JOIN comp b ON a.pos = b.pos AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           {_cos_ppm_sql("na.n2", "nb.n2")}
               AS cos_ppm
    FROM dots
    JOIN nrm na ON na.label = label_a
    JOIN nrm nb ON nb.label = label_b
    ORDER BY label_a, label_b
    """,
)
def label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid cosine similarity — the class-separation
    diagnostic for an embedding table. The centroids are exact
    (:func:`_label_centroids`), dot products and norms are exact BIGINT
    sums, and the cosine is :func:`_cos_ppm`."""
    comp = _label_centroids(load_table(spark, sf_dir, "embeddings"))
    nrm = comp.groupBy("label").agg(F.sum(F.col("c") * F.col("c")).alias("n2"))
    a = comp.alias("a")
    b = comp.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.pos0") == F.col("b.pos0"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).alias("dot"))
    )
    na = nrm.alias("na")
    nb = nrm.alias("nb")
    return (
        dots.join(F.broadcast(na), F.col("na.label") == F.col("label_a"))
        .join(F.broadcast(nb), F.col("nb.label") == F.col("label_b"))
        .select(
            "label_a", "label_b", _cos_ppm("na.n2", "nb.n2").alias("cos_ppm")
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# SemDedup-style semantic pruning: sign-LSH blocked candidate pairs, exact
# cosine verify, greedy keep-lowest-id. The oracle embeds the identical
# md5-derived hyperplane float literals (the similarity_ann_rp_lsh
# pattern), so buckets, cosines, and the kept set all hash-check exactly.
# ---------------------------------------------------------------------------
_SEM_TAU = 0.35
#: sign-LSH bucket cap (round 7): the band space is fixed (2^LSH_BAND_BITS
#: signatures), so clustered corpora concentrate a label's vectors into
#: one bucket and the self-join goes quadratic — the 100x probe measured
#: the blow-up at 128k vectors. Over-cap buckets hash-split into
#: ceil(n/cap) md5-hex4 sub-buckets (pairs within a sub-bucket only,
#: ~N*cap/2 total — linear); buckets at or under the cap are untouched,
#: and no sf<=0.1 bucket exceeds 256, so driver-SF outputs are
#: byte-identical to plain (one sub-bucket) banding.
_SEM_CAP = 256


def _semantic_dedup_oracle(tau: float) -> str:
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb AS ({sign_bands_sql()}),
    bc AS (SELECT band, bsig, COUNT(*) AS bn FROM cb GROUP BY band, bsig),
    cbs AS (
        SELECT cb.vec_id, cb.band, cb.bsig,
               {sub_block_sql("cb.vec_id", "bc.bn", _SEM_CAP)} AS sub
        FROM cb JOIN bc ON bc.band = cb.band AND bc.bsig = cb.bsig
    ),
    pairs AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM cbs a JOIN cbs b
          ON a.band = b.band AND a.bsig = b.bsig AND a.sub = b.sub
        WHERE a.vec_id < b.vec_id
    ),
    dup AS (
        SELECT p.id_a, p.id_b
        FROM pairs p JOIN e a ON a.vec_id = p.id_a JOIN e b ON b.vec_id = p.id_b
        WHERE ROUND(list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))), 6) >= {tau}
    ),
    partners AS (
        SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_near FROM (
            SELECT id_a AS vec_id FROM dup
            UNION ALL SELECT id_b FROM dup)
        GROUP BY vec_id
    )
    SELECT e.vec_id,
           COALESCE(e.vec_id IN (SELECT id_b FROM dup), FALSE) = FALSE AS kept,
           COALESCE(p.n_near, 0) AS n_near
    FROM e LEFT JOIN partners p ON p.vec_id = e.vec_id
    ORDER BY e.vec_id
    """


@register("dedup_semantic_prune", shares=("emb_bands",), oracle=_semantic_dedup_oracle(_SEM_TAU))
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup over the embeddings table: kept flag + neighborhood size
    per vector (see operators.similarity.semantic_dedup_prune; bucket
    cap rationale at _SEM_CAP). Composes the session-shared sign-LSH
    band index (one cache entry with similarity_ann_rp_lsh, this
    entry's shares anchor)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup_prune(
        emb,
        bands=emb_bands_shared(spark, sf_dir),
        max_bucket_size=_SEM_CAP,
        tau=_SEM_TAU,
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Embedding outlier scores — cosine of every vector to its own label
# centroid, the mislabeled-example / noise-detection signal an embedding
# QA pass computes. Same exact-integer centroid machinery as the
# label-centroid matrix: centroid components and vector components both
# quantize to 1e-6 BIGINTs, so dots/norms are exact and the score is one
# correctly-rounded sqrt/divide chain.
# ---------------------------------------------------------------------------
_OUTLIER_TAU_PPM = 0  # negative cos-to-centroid => points away => flagged


@register(
    "embedding_outlier_scores",
    oracle=f"""
    WITH {_CENTROIDS_SQL},
    vq AS (
        -- CAST to DOUBLE before the multiply: DuckDB's FLOAT * INTEGER
        -- stays FLOAT (Spark side casts identically)
        SELECT vec_id, label, pos,
               CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
        FROM (SELECT vec_id, label, unnest(embedding) AS v,
                     generate_subscripts(embedding, 1) AS pos
              FROM embeddings)
    ),
    dots AS (
        SELECT vq.vec_id, vq.label,
               SUM(vq.q * comp.c) AS dot,
               SUM(vq.q * vq.q) AS vq2,
               SUM(comp.c * comp.c) AS c2
        FROM vq JOIN comp ON comp.label = vq.label AND comp.pos = vq.pos
        GROUP BY vq.vec_id, vq.label
    )
    SELECT vec_id, label,
           {_cos_ppm_sql("vq2", "c2")}
               AS cos_ppm,
           COALESCE({_cos_ppm_sql("vq2", "c2")}
                    < {_OUTLIER_TAU_PPM}, FALSE) AS is_outlier
    FROM dots ORDER BY vec_id
    """,
)
def embedding_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector cosine to its label centroid (exact-integer arithmetic)
    with an outlier flag — low-similarity members are mislabeled-example
    candidates. The centroid relation is O(labels x dim) and broadcasts;
    the only full-data pass is the quantized posexplode."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = _label_centroids(e)
    vq = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "vec_id",
        "label",
        "pos0",
        # cast BEFORE the multiply: float32 * int stays float32 in Spark
        # but promotes to double in DuckDB — a 1-ulp quantization skew
        F.round(F.col("v").cast("double") * 1000000, 0).cast("long").alias("q"),
    )
    dots = (
        vq.join(F.broadcast(comp), ["label", "pos0"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("q") * F.col("c")).alias("dot"),
            F.sum(F.col("q") * F.col("q")).alias("vq2"),
            F.sum(F.col("c") * F.col("c")).alias("c2"),
        )
    )
    cos_ppm = _cos_ppm("vq2", "c2")
    return dots.select(
        "vec_id",
        "label",
        cos_ppm.alias("cos_ppm"),
        F.coalesce(cos_ppm < _OUTLIER_TAU_PPM, F.lit(False)).alias("is_outlier"),
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive training: per query vector, the
# top-3 most-similar vectors with a DIFFERENT label — near neighbors across
# the label boundary are exactly the negatives a contrastive loss needs.
# Same broadcast + Arrow-dot shape as brute_force_topk (norms computed once
# per side before the pair blowup); at 100 TB the query side is the small
# probe set and stays broadcast, so the corpus scan is shuffle-free and the
# only exchange is the final per-query top-k window.
# ---------------------------------------------------------------------------
@register(
    "hard_negative_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS q_id, label AS q_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS n_id, label AS n_label,
                 CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
        SELECT q_id, n_id, n_label,
               list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
                 AS sim
        FROM q CROSS JOIN c
        WHERE q_id <> n_id AND q_label <> n_label
    ),
    ranked AS (
        SELECT q_id, n_id, n_label, sim,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rk
        FROM scored
    )
    SELECT q_id, n_id, n_label, ROUND(sim, 6) AS cos_sim, rk
    FROM ranked WHERE rk <= 3 ORDER BY q_id, rk
    """,
)
def hard_negative_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.pair_side(
        emb.filter(F.col("vec_id") < 8), "q", F.col("label").alias("q_label")
    )
    c = similarity.pair_side(emb, "n", F.col("label").alias("n_label"))
    scored = c.join(
        F.broadcast(q),
        (F.col("q_id") != F.col("n_id")) & (F.col("q_label") != F.col("n_label")),
    ).select("q_id", "n_id", "n_label", similarity.pair_cosine())
    return (
        similarity.cosine_topk(scored, 3)
        .select("q_id", "n_id", "n_label", F.round("cos_sim", 6).alias("cos_sim"), "rk")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# Dominant principal direction via integer power iteration — the PCA
# primitive an embedding-QA pipeline runs (SemDedup whitens with it;
# drift monitors track it). The covariance matrix is computed EXACTLY in
# scaled integers: vectors quantize to milli-units q = FLOOR(v*1000)
# (floor of an identical correctly-rounded double on both engines — no
# round-half rule exposure), and n²·Cov_jk = n·Σq_jq_k − Σq_j·Σq_k is
# exact BIGINT; dividing by n² once bounds every entry ~1e6 regardless
# of corpus size, so five matrix-vector rounds with milli-unit
# renormalization stay within int64 at ANY n. Negative-value division
# uses sign(y)·((|y|·1000) div m) — DuckDB's // floors while Spark's div
# truncates, and they only agree on non-negative operands. Shape: the
# 64×64 matrix relation broadcasts; each round is one 64-row join + one
# aggregate; the quadratic (j,k) expansion rides the posexplode'd
# component relation (n·d² rows map-side, partial-aggregated before the
# shuffle).
# ---------------------------------------------------------------------------
_PCA_ITERS = 5


def _pca_oracle(iters: int) -> str:
    parts = [
        """qi AS (
        SELECT vec_id, embedding AS e,
               unnest(generate_series(1, len(embedding))) AS j
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, j,
               CAST(FLOOR(CAST(e[j] AS DOUBLE) * 1000) AS BIGINT) AS q
        FROM qi
    )""",
        "nn AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM q)",
        "s AS (SELECT j, SUM(q) AS s FROM q GROUP BY j)",
        """p AS (
        SELECT a.j AS j, b.j AS k, SUM(a.q * b.q) AS p
        FROM q a JOIN q b ON a.vec_id = b.vec_id
        GROUP BY a.j, b.j
    )""",
        """m AS (
        SELECT p.j, p.k,
               ((SELECT n FROM nn) * p.p - sj.s * sk.s)
                 // ((SELECT n FROM nn) * (SELECT n FROM nn)) AS c
        FROM p JOIN s sj ON sj.j = p.j JOIN s sk ON sk.j = p.k
    )""",
        "x0 AS (SELECT j, CAST(1000 AS BIGINT) AS x FROM s)",
    ]
    for r in range(1, iters + 1):
        parts.append(
            f"""y{r} AS (
        SELECT m.j, SUM(m.c * x.x) AS y
        FROM m JOIN x{r - 1} x ON x.j = m.k
        GROUP BY m.j
    ),
    x{r} AS (
        SELECT y.j,
               CASE WHEN y.y < 0 THEN -1 ELSE 1 END
               * ((ABS(y.y) * 1000) // (SELECT MAX(ABS(y)) FROM y{r})) AS x
        FROM y{r} y
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT j AS dim, CAST(x AS BIGINT) AS eigvec_milli
    FROM x{iters} ORDER BY dim
    """
    )


@register("pca_power_iteration", oracle=_pca_oracle(_PCA_ITERS))
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # The n·d² outer-product sums are computed as Arrow-batched numpy
    # matmuls (Q^T·Q per batch, int64-exact — same quantization as the
    # oracle: floor(float64(v)·1000), identical IEEE ops), so executors
    # run BLAS instead of generating n·d² codegen rows, and the only
    # shuffle carries d²-sized integer partials per partition. This is
    # the deliberate Arrow drop-down: a generator-based expansion of
    # the same sums was measured ~2× slower at sf0.1 and grows linearly
    # in n either way; the partials contract is what scales to 100 TB
    # (mergeable integer sums, O(d²) per partition crossing the wire).
    # A NULL vector, or one with a NULL element, adds nothing; each
    # vector length gets its own sums, tagged by a (-2, -2, d) row, so
    # ragged dims are caught driver-side.
    import numpy as np
    import pyarrow as pa

    def _gram_partials(batches):
        grams = {}  # d -> [P, S, n]
        for batch in batches:
            for _, X in _length_groups(batch.column("embedding")):
                Q = np.floor(X[~np.isnan(X).any(axis=1)] * 1000).astype(np.int64)
                d = Q.shape[1]
                g = grams.setdefault(
                    d, [np.zeros((d, d), dtype=np.int64), np.zeros(d, dtype=np.int64), 0]
                )
                g[0] += Q.T @ Q
                g[1] += Q.sum(axis=0)
                g[2] += Q.shape[0]
        for d, (P, S, n_rows) in grams.items():
            js, ks = np.indices((d, d))
            yield pa.RecordBatch.from_pydict(
                {
                    "j": np.concatenate([js.ravel() + 1, np.arange(1, d + 1), [-1, -2]]),
                    "k": np.concatenate([ks.ravel() + 1, np.full(d, -1), [-1, -2]]),
                    "v": np.concatenate([P.ravel(), S, [n_rows, d]]),
                },
                schema=pa.schema([("j", pa.int32()), ("k", pa.int32()), ("v", pa.int64())]),
            )

    parts = emb.select("embedding").mapInArrow(_gram_partials, "j int, k int, v long")
    parts = store.keep(parts)
    if parts.where(F.col("j") == -2).select("v").distinct().limit(2).count() > 1:
        raise ValueError("pca_power_iteration: the embeddings differ in length")
    nn = parts.filter(F.col("j") == -1).agg(F.sum("v").alias("n"))
    s = parts.filter((F.col("k") == -1) & (F.col("j") > 0)).groupBy("j").agg(
        F.sum("v").alias("s")
    )
    p = (
        parts.filter(F.col("k") > 0)
        .groupBy("j", "k")
        .agg(F.sum("v").alias("p"))
    )
    sj = s.select(F.col("j"), F.col("s").alias("s_j"))
    sk = s.select(F.col("j").alias("k"), F.col("s").alias("s_k"))
    # the d×d matrix is scanned once per power round — persist it so the
    # n·d² covariance aggregation runs once, not once per iteration
    # d² rows: coalesce to one partition so each power round schedules
    # one task against the cached matrix, not shuffle-partitions many
    m = store.keep(
        p.join(sj, "j")
        .join(sk, "k")
        .crossJoin(F.broadcast(nn))
        .select(
            "j",
            "k",
            F.expr("(n * p - s_j * s_k) div (n * n)").alias("c"),
        )
        .coalesce(1)
    )
    x = s.select("j", F.lit(1000).cast("long").alias("x"))
    for _ in range(_PCA_ITERS):
        # y is referenced twice per round (renorm + max); without a
        # persist each reference re-evaluates the whole chain of prior
        # rounds — 2^iters blowup. The persisted frame is d rows.
        y = store.keep(
            m.join(F.broadcast(x.select(F.col("j").alias("k"), "x")), "k")
            .groupBy("j")
            .agg(F.sum(F.col("c") * F.col("x")).alias("y"))
            .coalesce(1)
        )
        # renorm via a global window instead of a per-round scalar
        # broadcast: y is ALWAYS d rows (dimension-sized, never
        # data-sized), so the empty-frame window is bounded by design and
        # saves one broadcast-exchange job per power round
        from pyspark.sql.window import Window as _W

        x = y.withColumn(
            "mabs", F.max(F.abs(F.col("y"))).over(_W.partitionBy())
        ).select(
            "j",
            (
                F.when(F.col("y") < 0, F.lit(-1)).otherwise(F.lit(1))
                # a zero max (start vector orthogonal to the covariance's
                # range) gives NULL, as the oracle's // does, not an
                # ANSI DIVIDE_BY_ZERO
                * F.expr("(ABS(y) * 1000) div nullif(mabs, 0)")
            ).alias("x"),
        )
    return x.select(
        F.col("j").alias("dim"), F.col("x").cast("long").alias("eigvec_milli")
    ).orderBy("dim")


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


_SEMDECON_ORACLE = f"""
    WITH v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
        FROM embeddings
    ),
    te AS (SELECT * FROM v
           WHERE {in_test_split_sql("vec_id")}
             AND list_dot_product(e, e) > 0),
    tr AS (SELECT * FROM v
           WHERE {in_train_split_sql("vec_id")}
             AND list_dot_product(e, e) > 0),
    scored AS (
        SELECT te.vec_id AS test_id, tr.vec_id AS train_id,
               list_dot_product(te.e, tr.e)
               / (sqrt(list_dot_product(te.e, te.e))
                  * sqrt(list_dot_product(tr.e, tr.e))) AS sim
        FROM te JOIN tr ON te.label = tr.label
    ),
    best AS (
        SELECT test_id, train_id, sim,
               ROW_NUMBER() OVER (
                   PARTITION BY test_id ORDER BY sim DESC, train_id
               ) AS rn
        FROM scored
    )
    SELECT test_id, train_id, ROUND(sim, 6) AS cos_sim,
           sim >= 0.35 AS contaminated
    FROM best WHERE rn = 1 ORDER BY test_id
"""


@register("decontaminate_semantic_topmatch", oracle=_SEMDECON_ORACLE)
def decontaminate_semantic_topmatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination — the embedding-space sibling of the
    n-gram decontamination family: for every held-out (test) vector,
    the single nearest training vector by cosine within its label
    block, flagged `contaminated` at >= 0.35 (calibrated to this
    near-orthogonal synthetic corpus; production uses ~0.9+). An n-gram
    decontaminator misses paraphrases; this is the standard
    benchmark-leakage screen for them.

    Scale shape: the blocked form of `dedup_embedding_cosine` — the
    quadratic runs INSIDE each label block only, vectors cross the
    Arrow boundary once per block, and the argmax folds over the
    `similarity._cosine_tiles` scan of test x train (round-8 hardening:
    the round-7 form materialized one dense |test| x |train| matrix per
    label, the exact uncapped shape whose SemDedup sibling died at
    sf100 — a 10M-vector hot label would OOM an executor; the tiles
    bound peak memory at TILE^2 doubles per block regardless of label
    heat). The fold is output-identical to the unchunked argmax: tiles
    advance in ascending train-id order, each tile's argmax takes the
    first occurrence, and the running best replaces only on strictly
    greater sim — together exactly ORDER BY sim DESC, train_id. Each
    pair's dot product is one `similarity._fold` — the exact IEEE
    sequence of DuckDB's list_dot_product — so sims, the >= threshold
    decision, and the argmax are bitwise oracle-equal.
    Zero-norm embeddings are excluded on BOTH sides (sum-of-squares
    > 0, same ascending fold): a zero vector has no cosine, and the
    NaN it would produce sorts differently in Spark (NaN fails >=)
    vs DuckDB (NaN greater than everything) — the parity contract
    must not ride on engine NaN semantics."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    sq = F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x)
    is_test = in_test_split("vec_id")
    marked = (
        emb.filter(is_test | in_train_split("vec_id"))
        .filter(sq > 0)
        .select("vec_id", "label", "e", is_test.alias("is_test"))
    )

    def block_best(block: pa.Table) -> pa.Table:
        te = block.filter(block.column("is_test")).sort_by("vec_id")
        tr = block.filter(pc.invert(block.column("is_test"))).sort_by("vec_id")
        train = {X.shape[1]: (idx, X) for idx, X in _length_groups(tr.column("e"))}
        out = [(np.empty(0, dtype=np.int64),) * 2 + (np.empty(0),)]
        for t_idx, Xt in _length_groups(te.column("e")):
            if Xt.shape[1] not in train:
                continue
            r_idx, Xr = train[Xt.shape[1]]
            best = np.full(len(t_idx), -np.inf)
            arg = np.zeros(len(t_idx), dtype=np.int64)
            for i0, j0, cos in _cosine_tiles(Xt, Xr):
                j = cos.argmax(axis=1)  # first max = smallest id in tile
                m = cos[np.arange(len(j)), j]
                b, a = best[i0 : i0 + len(j)], arg[i0 : i0 + len(j)]  # views
                upd = m > b  # strict: ties keep the earlier (smaller) id
                b[upd], a[upd] = m[upd], j0 + j[upd]
            out.append((t_idx, r_idx[arg], best))
        t, r, raw = (np.concatenate(c) for c in zip(*out))
        return pa.table(
            {
                "test_id": te.column("vec_id").take(t),
                "train_id": tr.column("vec_id").take(r),
                "raw": _nulled(raw),
            }
        )

    id_type = marked.schema["vec_id"].dataType.simpleString()
    return (
        marked.groupBy("label")
        .applyInArrow(block_best, f"test_id {id_type}, train_id {id_type}, raw double")
        .select(
            "test_id",
            "train_id",
            F.round("raw", 6).alias("cos_sim"),
            (F.col("raw") >= 0.35).alias("contaminated"),
        )
        .orderBy("test_id")
    )
