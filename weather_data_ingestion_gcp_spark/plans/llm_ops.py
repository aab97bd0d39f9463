"""Training-data-pipeline query inventory: dedup, similarity search, text
analysis, multimodal plumbing — each wired to the reusable operators in
``..operators`` and (where SQL-expressible) to a DuckDB oracle.

Oracle-parity notes:
- all hashing is md5 (identical across engines); lexicographic MIN over
  fixed-width hex == numeric min-hash;
- ratios (Jaccard, stopword ratios) round at 6/4 dp — both engines round
  half-away-from-zero on positives (verified), and md5-derived ints avoid
  engine-specific hash functions entirely;
- cosine similarities: both sides compute dot/(||a||*||b||) as a sequential
  double-precision fold over the same element order -> bitwise-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import store
from ..operators import dedup, graph, multimodal, similarity, text
from .oracle_sql import (
    clusters_sql,
    hash_bucket_sql,
    minhash_bands_sql,
    minhash_pairs_sql,
    shingles_sql,
    simhash16_sql,
    stoplist_sql,
    tokens_sql,
    verify_jaccard_sql,
    winnow_fps_sql,
    words_sql,
)
from .registry import capped_minhash_pairs, load_table, register, std_minhash_pairs


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------
@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY fp ORDER BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(d, "doc_id", "text").orderBy("fp")


# shares: the trigram shingle / signature caches and the std-pairs memo; the
# sampled recall contract shares locality only (r10: 2.9 s -> 42.7 s scattered)
@register(
    "dedup_minhash_lsh", shares=("minhash_trigram",),
    oracle=minhash_pairs_sql("documents", 3, None),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram shingles (the standard near-dup granularity: unigram
    shingles on a small vocabulary collide almost every document pair —
    measured 9.5M LSH candidates at sf0.1 — while trigrams keep candidate
    counts proportional to true overlap). Unigram + bucket-cap skew control
    remains as dedup_minhash_lsh_capped."""
    # session-shared standard-parameter pairs relation (registry.
    # std_minhash_pairs): built once per session, every consumer entry
    # reads the persisted O(pairs) relation instead of re-running the
    # candidate join + verify
    out = std_minhash_pairs(spark, sf_dir)
    # no ORDER BY: the driver compare is order-insensitive — a full sort
    # here is a pure waste of a range-partition shuffle
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_clusters", shares=("minhash_trigram",),
    oracle=f"{clusters_sql} ORDER BY doc_id",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: iterative min-label propagation over the verified
    near-dup pairs (operators.graph.connected_components). The oracle is the
    same fixpoint expressed as a recursive-CTE transitive closure — feasible
    at oracle scale, while the Spark side's per-round shuffle join is the
    form that survives 100 TB (state is (node, label) rows, never a
    transitive closure materialization)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = std_minhash_pairs(spark, sf_dir)
    comp = graph.connected_components(
        d.select("doc_id"), pairs.select("id_a", "id_b")
    )
    return comp.orderBy("doc_id")


@register(
    "dedup_clusters_star", shares=("minhash_trigram",),
    oracle="""
    SELECT doc_id,
           MIN(doc_id) OVER (PARTITION BY lang, source) AS component
    FROM documents ORDER BY doc_id
    """,
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al. SoCC'14, operators.graph.connected_components_star) on an
    ADVERSARIAL graph: each (lang, source) group is linked into one long
    chain (consecutive doc_ids), so diameters are ~n/100 — the regime where
    min-label propagation needs O(diameter) shuffle rounds but star
    contraction halves chain lengths every round (O(log n) rounds). Like
    connected_components, the operator is size-adaptive: an edge list
    within the 200k probe cap (every driver SF and sf1; ~5k edges at
    sf0.1) is solved with driver union-find instead of paying ~9
    distributed rounds of pure scheduling floor (measured 5.7 s warm ->
    0.5 s); above the cap (sf10+) the star rounds run. A chain over a
    group connects exactly that group, so the expected labeling has the
    closed form `min(doc_id) per group` — the oracle states that
    directly, independent of algorithm path or round count.
    """
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    edges = (
        d.select("doc_id", F.lag("doc_id").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
    )
    comp = graph.connected_components_star(
        d.select("doc_id"), edges, src_col="doc_id", dst_col="prev"
    )
    return comp.orderBy("doc_id")


@register(
    "decontaminate_test_split", shares=("minhash_trigram",),
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    {minhash_bands_sql()},
    split AS (SELECT doc_id, {hash_bucket_sql("doc_id")} % 100 AS b FROM documents),
    tb AS (SELECT bands.doc_id AS test_id, band_key
           FROM bands JOIN split USING (doc_id) WHERE split.b < 10),
    rb AS (SELECT bands.doc_id AS train_id, band_key
           FROM bands JOIN split USING (doc_id) WHERE split.b >= 15),
    cand AS (SELECT DISTINCT tb.test_id, rb.train_id
             FROM tb JOIN rb USING (band_key)),
    {verify_jaccard_sql("cand", 0.5, ids=("test_id", "train_id"))}
    """,
)
def decontaminate_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination — the eval-integrity pass of a training
    pipeline: find every test-split document with a near-duplicate in the
    train split (a test answer the model may have memorized verbatim).
    Splits are the SAME deterministic hash buckets as train_test_split
    (test: bucket < 10, train: bucket >= 15), and the LSH band join runs
    test-bands x train-bands ONLY — candidate work scales with the small
    test split times colliding train buckets, never train x train.
    Jaccard-verified at 0.5 on word-3-gram shingles."""
    from ..operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    sh = dedup.shingles(d, "doc_id", "text", n=3)
    bands = dedup.lsh_band_keys(dedup.minhash_signatures(sh, num_hashes=8), rows_per_band=2)
    b = hash_bucket(F.col("doc_id"))
    test_ids = d.select("doc_id").filter(b < 10)
    train_ids = d.select("doc_id").filter(b >= 15)
    tb = bands.join(test_ids, "doc_id", "left_semi").select(
        F.col("doc_id").alias("id_a"), "band_key"
    )
    rb = bands.join(train_ids, "doc_id", "left_semi").select(
        F.col("doc_id").alias("id_b"), "band_key"
    )
    cand = tb.join(rb, "band_key").select("id_a", "id_b").distinct()
    out = dedup.verify_jaccard(cand, sh).filter(F.col("jaccard") >= 0.5)
    return out.select(
        F.col("id_a").alias("test_id"),
        F.col("id_b").alias("train_id"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@register(
    "dedup_minhash_lsh_capped",
    oracle=minhash_pairs_sql("documents", 1, 50),
)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of MinHash-LSH: band buckets over 50 docs are
    dropped before pairing (quadratic pair growth is exactly what kills
    LSH on boilerplate/degenerate content; those docs belong to exact
    dedup). Same verification; the cap is mirrored in the oracle. The
    pairs relation rides the session memo shared with the capped graph
    entries (registry.capped_minhash_pairs, round-14)."""
    out = capped_minhash_pairs(spark, sf_dir)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_simhash",
    oracle=f"{simhash16_sql} ORDER BY doc_id",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup.simhash16(d, "doc_id", "text").orderBy("doc_id")


@register(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH sig AS ({simhash16_sql}),
    bands AS (
        SELECT doc_id, simhash, b.band, (simhash >> (8 * b.band)) & 255 AS nib
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS band) b
    ),
    ok AS (SELECT band, nib FROM bands GROUP BY band, nib HAVING COUNT(*) <= 100),
    capped AS (SELECT b.* FROM bands b JOIN ok USING (band, nib)),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM capped a JOIN capped b ON a.band = b.band AND a.nib = b.nib
        WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
    FROM cand WHERE hamming <= 3
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signature -> banded buckets -> Hamming-verified near-dup
    pairs (operators.dedup.simhash_hamming_pairs): two 8-bit bands catch
    every pair within Hamming distance 1 exactly (pigeonhole) plus the
    near-band collisions; bucket cap 100 is the LSH mega-bucket skew
    control, mirrored in the oracle. Verify is bit_count(xor) — one
    codegen'd expression per candidate."""
    d = load_table(spark, sf_dir, "documents")
    out = dedup.simhash_hamming_pairs(
        d, "doc_id", "text", band_bits=8, max_hamming=3, max_bucket_size=100
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({shingles_sql(2)}),
    bn AS (
        SELECT lang, source, COUNT(*) AS n FROM documents
        GROUP BY lang, source
    ),
    base AS (
        SELECT d.doc_id, d.lang, d.source,
               {hash_bucket_sql("d.doc_id")} % ((bn.n + 99) // 100) AS sub
        FROM documents d JOIN bn USING (lang, source)
    ),
    pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM base a JOIN base b
        ON a.lang = b.lang AND a.source = b.source AND a.sub = b.sub
        WHERE a.doc_id < b.doc_id
    ),
    {verify_jaccard_sql("pairs", 0.05)}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact bigram-Jaccard near-dup pairs, block size capped at
    100 by deterministic hash sub-blocking (mirrored in the oracle): a
    dominant (lang, source) block grows linearly with the corpus, so
    uncapped all-pairs within it is quadratic at 100x scale. Over-cap
    blocks are split into ceil(n/100) md5-hex4 sub-blocks and pairs are
    generated within a sub-block only — total pair count ~N*50, linear,
    at a deterministic recall cost (cross-sub pairs belong to the banded
    LSH / PPJoin paths). The cap binds at sf0.1 (largest block 112
    rows), so the sub-block path is exercised by the standard sweep.
    Round 10: executes as grouped intersection (one shuffle of the
    sub-block-keyed shingle relation; only actual co-occurrences
    materialize), which took the sf100 probe from ENOSPC to 220 s —
    see blocked_jaccard_pairs."""
    d = load_table(spark, sf_dir, "documents")
    out = dedup.blocked_jaccard_pairs(
        d, "doc_id", "text", block_cols=["lang", "source"], shingle_n=2,
        threshold=0.05, max_block_size=100,
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


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

    The quadratic verify runs INSIDE each label block via applyInPandas:
    vectors cross the Arrow boundary once per block (not once per pair —
    a per-pair formulation ships |pairs| x dim x 2 doubles, ~256 MB at
    sf0.1's ~250k pairs, and an interpreted per-pair lambda fold costs
    3 x dim lambda evals per pair). numpy accumulates sum-of-outer-products
    ascending by dimension, so every pair's dot — and each self-dot on the
    diagonal — follows the exact IEEE sequence of DuckDB's
    list_dot_product: buckets and values stay bitwise oracle-equal.
    At 100 TB the blocking key bounds group size (a block is a cluster
    assignment by construction), which is what makes grouped-map safe."""
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e"),
    )

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        X = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        n, dim = X.shape
        acc = np.zeros((n, n), dtype=np.float64)
        for d in range(dim):  # sequential fold order — parity-critical
            acc += np.outer(X[:, d], X[:, d])
        nrm = np.sqrt(np.diag(acc))
        sim = acc / np.outer(nrm, nrm)
        ia, ib = np.triu_indices(n, k=1)
        keep = sim[ia, ib] >= 0.35
        return pd.DataFrame(
            {"id_a": ids[ia[keep]], "id_b": ids[ib[keep]], "raw": sim[ia, ib][keep]}
        )

    return (
        emb.groupBy("label")
        .applyInPandas(block_pairs, "id_a long, id_b long, raw double")
        .select("id_a", "id_b", F.round("raw", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@register(
    "similarity_cosine_topk",
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
    "similarity_ann_ivf_kmeans",
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
    # the composed plan references the k-means subtree — pandas UDF,
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


def _rp_lsh_oracle(k: int = 5, n_bits: int = 16, band_bits: int = 4) -> str:
    """Oracle for the random-hyperplane LSH: the hyperplane floats are
    generated by the SAME python helper that feeds the Spark plan, so both
    engines bucket on bitwise-identical dot products."""
    from ..operators.similarity import hyperplanes

    W = hyperplanes(n_bits=n_bits, dim=64)

    def lit(w: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in w) + "]"

    def bit(j: int) -> str:
        return f"(CASE WHEN list_dot_product(v, {lit(W[j])}) > 0 THEN 1 ELSE 0 END)"

    n_bands = n_bits // band_bits
    band_rows = []
    for b in range(n_bands):
        sig = "0"
        for i in range(band_bits):
            sig = f"({sig} * 2 + {bit(b * band_bits + i)})"
        band_rows.append(f"SELECT vec_id, {b} AS band, {sig} AS bsig FROM e")
    bands_sql = " UNION ALL ".join(band_rows)
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    cb AS ({bands_sql}),
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
    FROM ranked WHERE rk <= {k} ORDER BY q_id, rk
    """


def emb_bands_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table's sign-LSH band relation (vec_id, band,
    bsig) at the engine-default parameters (16 bits, 4 bands), session-
    persisted and memoized per (session, sf dir) — ONE index feeding
    ``similarity_ann_rp_lsh`` and its ``shares`` follower
    ``dedup_semantic_prune`` (round3), which otherwise each re-run the
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
    from pyspark.sql.window import Window

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    probes, scored = similarity.ivf_parts(emb, queries, nprobe=2)
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.col("n_id"))
    ranked = scored.withColumn("rk", F.row_number().over(w))
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


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@register(
    "text_langid_scores",
    oracle=f"""
    WITH toks AS ({tokens_sql}),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               ROUND(SUM(CASE WHEN token IN ({stoplist_sql('de')}) THEN 1 ELSE 0 END) * 1.0
                     / greatest(COUNT(*), 1), 4) AS score_de,
               ROUND(SUM(CASE WHEN token IN ({stoplist_sql('en')}) THEN 1 ELSE 0 END) * 1.0
                     / greatest(COUNT(*), 1), 4) AS score_en,
               ROUND(SUM(CASE WHEN token IN ({stoplist_sql('es')}) THEN 1 ELSE 0 END) * 1.0
                     / greatest(COUNT(*), 1), 4) AS score_es,
               ROUND(SUM(CASE WHEN token IN ({stoplist_sql('fr')}) THEN 1 ELSE 0 END) * 1.0
                     / greatest(COUNT(*), 1), 4) AS score_fr
        FROM toks GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, score_de, score_en, score_es, score_fr,
           CASE
             WHEN score_de > -1.0 AND score_en <= score_de AND score_es <= score_de
                  AND score_fr <= score_de THEN 'de'
             WHEN score_es <= score_en AND score_fr <= score_en THEN 'en'
             WHEN score_fr <= score_es THEN 'es'
             ELSE 'fr'
           END AS pred_lang
    FROM agg ORDER BY doc_id
    """,
)
def text_langid_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = text.langid_scores(d, "text")
    return out.select(
        "doc_id", "n_tokens", "score_de", "score_en", "score_es", "score_fr", "pred_lang"
    ).orderBy("doc_id")


@register(
    "text_quality_scores",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, COUNT(*) AS n_words,
               SUM(CASE WHEN token IN ({stoplist_sql('en')}) THEN 1 ELSE 0 END) AS sw_hits
        FROM ({tokens_sql}) GROUP BY doc_id
    )
    SELECT d.doc_id,
           t.n_words,
           ROUND((length(d.text) - (t.n_words - 1)) * 1.0 / greatest(t.n_words, 1), 4)
             AS avg_word_len,
           length(d.text) - length(regexp_replace(d.text, '[.,;:!?]', '', 'g')) AS n_punct,
           ROUND(t.sw_hits * 1.0 / greatest(t.n_words, 1), 4) AS stopword_ratio,
           ROUND(least(t.n_words / 200.0, 1.0) * 0.4
                 + least((t.sw_hits * 1.0 / greatest(t.n_words, 1)) * 5, 1.0) * 0.4
                 + CASE WHEN (length(d.text) - (t.n_words - 1)) * 1.0 / greatest(t.n_words, 1)
                             BETWEEN 3 AND 10 THEN 0.2 ELSE 0.0 END, 4) AS quality_score
    FROM documents d JOIN toks t ON t.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = text.quality_features(d, "text")
    return out.select(
        "doc_id", "n_words", "avg_word_len", "n_punct", "stopword_ratio", "quality_score"
    ).orderBy("doc_id")


@register(
    "text_token_counts",
    oracle=rf"""
    SELECT doc_id,
           len({words_sql}) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
             AS re_tokens
    FROM documents ORDER BY doc_id
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = text.token_counts(d, "text")
    return out.select("doc_id", "ws_tokens", "re_tokens").orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fp64
    FROM documents ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return text.fingerprint(d, "text").select("doc_id", "fp", "fp64").orderBy("doc_id")


# ---------------------------------------------------------------------------
# Temporal joins Spark lacks natively (composition-based operators)
# ---------------------------------------------------------------------------
@register(
    "asof_join_clicks_views",
    oracle="""
    SELECT t.event_id AS click_id, t.user_id AS user_id,
           q.event_id AS view_id, q.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'click') t
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') q
      ON t.user_id = q.user_id AND q.ts <= t.ts
    ORDER BY click_id
    """,
)
def asof_join_clicks_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each click paired with the user's latest view
    at-or-before it (DuckDB's native ASOF JOIN is the oracle; ours is the
    union + window forward-fill composition in operators/temporal.py)."""
    from ..operators.temporal import asof_join_backward

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts", "value")
    out = asof_join_backward(
        clicks, views, key="user_id", left_ts="ts", right_ts="ts",
        right_payload=["event_id", "value"], tiebreak="event_id",
    )
    return out.select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("asof_event_id").alias("view_id"),
        F.col("asof_value").alias("view_value"),
    ).orderBy("click_id")


@register(
    "interval_join_views_clicks",
    oracle="""
    SELECT v.user_id AS user_id,
           v.event_id AS imp_id,
           c.event_id AS click_id,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
    ORDER BY user_id, imp_id, click_id
    """,
)
def interval_join_views_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream attribution join (streaming/joins.clicks_within)
    run in batch mode: every click within 5 minutes after a view by the
    same user (6 h window). Same operator object as the streaming path — watermarks are
    a no-op on batch frames — so the oracle checks the streaming join's
    condition logic exactly."""
    from ..streaming.joins import clicks_within

    e = load_table(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("imp_id"), F.col("ts").alias("imp_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    out = clicks_within(
        views, clicks, key="user_id", imp_ts="imp_ts", click_ts="click_ts",
        within="6 hours",
    )
    return out.select("user_id", "imp_id", "click_id", "lag_us").orderBy(
        "user_id", "imp_id", "click_id"
    )


@register(
    "range_join_price_bands",
    oracle="""
    SELECT p.p_partkey, c.c_custkey, p.p_retailprice, c.c_acctbal
    FROM part p JOIN customer c
      ON c.c_acctbal BETWEEN p.p_retailprice - 5 AND p.p_retailprice + 5
    ORDER BY p_partkey, c_custkey
    """,
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-point range join via bucket equi-join + refine (the naive
    inequality join plans a nested-loop product; the oracle side uses
    DuckDB's IEJoin, ours never materializes the cross space)."""
    from ..operators.temporal import bucketed_range_join

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        (F.col("p_retailprice") - 5).alias("lo"),
        (F.col("p_retailprice") + 5).alias("hi"),
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = bucketed_range_join(p, c, lo="lo", hi="hi", x="c_acctbal", bucket_width=10.0)
    return out.select("p_partkey", "c_custkey", "p_retailprice", "c_acctbal").orderBy(
        "p_partkey", "c_custkey"
    )


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS ({tokens_sql}),
    tf AS (SELECT doc_id, token AS term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, token AS term FROM toks) GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
               ROUND(tf.tf * (ln((n.n_docs + 1) * 1.0 / (dfc.df + 1)) + 1), 6)
                   AS tfidf
        FROM tf JOIN dfc USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf, rk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(d, "doc_id", "text", k=3).orderBy("doc_id", "rk")


@register(
    "inverted_index_bigrams",
    oracle=f"""
    WITH bg AS (SELECT doc_id, shingle AS term FROM ({shingles_sql(2)}))
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df_count,
           array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 10), '|')
               AS postings
    FROM bg GROUP BY term HAVING COUNT(*) >= 2 ORDER BY term
    """,
)
def inverted_index_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-index build (operators.text.inverted_index): word-bigram
    term -> document frequency + capped sorted posting list. One explode +
    one groupBy; the posting cap (sort_array + slice) bounds agg state on
    hot terms — the full-index form shards postings by term bucket.
    Postings are emitted '|'-joined (scalar column) for the driver
    canonicalizer; the library operator keeps the true array type."""
    d = load_table(spark, sf_dir, "documents")
    idx = text.inverted_index(d, "doc_id", "text", min_df=2, max_postings=10)
    return idx.select(
        "term",
        "df_count",
        # round 13: elementwise cast via array cast (codegen) instead of
        # a transform lambda (interpreted) — identical long->string text
        F.array_join(F.col("postings").cast("array<string>"), "|").alias(
            "postings"
        ),
    ).orderBy("term")


#: BM25 query terms for the lexical-retrieval entry — fixed literals so
#: the oracle is the same query (all present in the synthetic vocabulary).
_BM25_TERMS = ["spark", "merge", "window"]


@register(
    "bm25_lexical_topk",
    oracle=f"""
    WITH toks AS ({tokens_sql}),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
    q AS (SELECT doc_id, token AS term, COUNT(*) AS tf FROM toks
          WHERE token IN ('spark', 'merge', 'window') GROUP BY doc_id, term),
    dfc AS (SELECT term, COUNT(*) AS df
            FROM (SELECT DISTINCT doc_id, token AS term FROM toks
                  WHERE token IN ('spark', 'merge', 'window')) GROUP BY term),
    st AS (SELECT (SELECT COUNT(DISTINCT doc_id) FROM documents) AS n_docs,
                  (SELECT AVG(dl) FROM dl) AS avgdl),
    s AS (
        SELECT q.doc_id, q.term,
               ln(1 + (st.n_docs - dfc.df + 0.5) / (dfc.df + 0.5))
               * (q.tf * (1.2 + 1))
               / (q.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl)) AS s
        FROM q JOIN dfc USING (term) JOIN dl USING (doc_id) CROSS JOIN st
    ),
    p AS (
        SELECT doc_id,
               SUM(CASE WHEN term = 'spark'  THEN s END) AS s0,
               SUM(CASE WHEN term = 'merge'  THEN s END) AS s1,
               SUM(CASE WHEN term = 'window' THEN s END) AS s2
        FROM s GROUP BY doc_id
    ),
    r AS (SELECT doc_id,
                 COALESCE(s0, 0) + COALESCE(s1, 0) + COALESCE(s2, 0) AS score
          FROM p),
    rk AS (SELECT doc_id, ROUND(score, 6) AS score,
                  ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id) AS rk
           FROM r)
    SELECT doc_id, score, rk FROM rk WHERE rk <= 20 ORDER BY rk
    """,
)
def bm25_lexical_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators.text.bm25_topk) — the lexical
    baseline beside the ANN entries; hybrid search unions the two. The
    per-term scores are pivoted to columns and summed in fixed query
    order on BOTH sides, so the float total is accumulation-order-stable
    cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    return text.bm25_topk(d, _BM25_TERMS, "doc_id", "text", k=20).orderBy("rk")


# shares: the persisted fingerprint-array relation (4.1 s rebuilt vs ~1 s shared)
@register(
    "text_winnow_fingerprints", shares=("winnow_fingerprints",),
    oracle=f"""
    WITH {winnow_fps_sql}
    SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
           list_min(fps) AS min_fp, list_max(fps) AS max_fp
    FROM fp ORDER BY doc_id
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators.text.winnow_fingerprints): char
    8-gram rolling hashes (base-128 Horner value x golden-ratio odd
    multiplier mod 2^63 — a bijection, so gram identity is preserved),
    4-wide window minima, distinct per doc — any shared substring of
    length >= 11 chars yields a common fingerprint. One Arrow-batched
    vectorized pass; no explode, no shuffle until the final orderBy."""
    d = load_table(spark, sf_dir, "documents")
    return text.winnow_fingerprints(
        d, "doc_id", "text", k=8, w=4, cache=True
    ).orderBy("doc_id")


@register(
    "word_pair_pmi",
    oracle=f"""
    WITH toks AS (SELECT DISTINCT doc_id, token FROM ({tokens_sql})),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    dfc AS (SELECT token, COUNT(*) AS df FROM toks GROUP BY token),
    co AS (
        SELECT a.token AS w1, b.token AS w2, COUNT(*) AS n_co
        FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.token < b.token
        GROUP BY w1, w2
    )
    SELECT w1, w2, CAST(n_co AS BIGINT) AS n_co,
           ROUND(ln((n_co * 1.0 / n.n_docs) /
                    ((fa.df * 1.0 / n.n_docs) * (fb.df * 1.0 / n.n_docs))), 6)
             AS pmi
    FROM co JOIN dfc fa ON fa.token = co.w1
            JOIN dfc fb ON fb.token = co.w2
            CROSS JOIN n
    WHERE n_co >= 50
    ORDER BY w1, w2
    """,
)
def word_pair_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over document-level word co-occurrence
    — the association statistic behind collocation mining and embedding
    objectives (PMI-shifted SGNS). The co-occurrence self-join is an
    equi-join on doc_id bounded by the per-doc DISTINCT vocabulary (never
    a corpus cross join); term document-frequencies ride a broadcast; the
    corpus size is a broadcast scalar. All PMI inputs are exact integers,
    so the only float ops (two divides, one ln) see identical operands in
    both engines.

    Scale path: n_co <= min(df_a, df_b), so a pair can only survive the
    ``n_co >= MIN_CO`` gate if BOTH terms appear in >= MIN_CO documents —
    each self-join leg is therefore semi-joined against the (tiny,
    broadcast) hot-term relation BEFORE the doc_id join. Semantics are
    provably identical; the pair blowup shrinks from per-doc full-vocab^2
    to hot-vocab^2 (long-tail tokens — most of any real corpus — never
    enter the join)."""
    min_co = 50
    d = load_table(spark, sf_dir, "documents")
    # round-13 opt: the distinct (doc_id, token) relation is evaluated
    # by three subtrees (the DF aggregate and both self-join legs);
    # persist it so the tokenize+distinct shuffle runs once (guide
    # §2.4 — share one exchange). MEMORY_ONLY via big=True: exploded
    # token relations recompute cheaper than they disk-round-trip
    # (see store.py), and store.release() frees it with the dedup
    # block's relations.
    toks = store.keep(
        d.select(
            "doc_id", F.explode(text.words(F.col("text"))).alias("token")
        ).distinct(),
        big=True,
    )
    n_docs = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    dfc = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    hot = dfc.filter(F.col("df") >= min_co).select("token")
    toks_hot = toks.join(F.broadcast(hot), "token", "left_semi")
    a = toks_hot.select("doc_id", F.col("token").alias("w1"))
    b = toks_hot.select("doc_id", F.col("token").alias("w2"))
    co = (
        a.join(b, "doc_id")
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= min_co)
    )
    fa = dfc.select(F.col("token").alias("w1"), F.col("df").alias("df_a"))
    fb = dfc.select(F.col("token").alias("w2"), F.col("df").alias("df_b"))
    return (
        co.join(F.broadcast(fa), "w1")
        .join(F.broadcast(fb), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1",
            "w2",
            F.col("n_co").cast("long").alias("n_co"),
            F.round(
                F.log(
                    (F.col("n_co") * 1.0 / F.col("n_docs"))
                    / (
                        (F.col("df_a") * 1.0 / F.col("n_docs"))
                        * (F.col("df_b") * 1.0 / F.col("n_docs"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy("w1", "w2")
    )


# shares: locality only (the same documents word scan); learner and encoder
# read the word_freq_shared memo
@register(
    "bpe_char_pair_counts", shares=("bpe_words",),
    oracle=f"""
    WITH w AS (
        SELECT w FROM (SELECT unnest({words_sql}) AS w FROM documents)
        WHERE len(w) >= 2
    ),
    p AS (SELECT substr(w, i, 2) AS pair
          FROM w, UNNEST(generate_series(1, len(w) - 1)) AS g(i))
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
    FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50
    """,
)
def bpe_char_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent character-pair frequencies inside words — the counting
    step of one BPE merge iteration (operators.text.char_pair_counts);
    the max-count pair is the next merge. Explode -> map-side-combined
    count -> TakeOrderedAndProject top-k."""
    d = load_table(spark, sf_dir, "documents")
    return text.char_pair_counts(d, "text", k=50)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------
@register(
    "multimodal_payload_meta",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB)) AS byte_len,
           sha256(text)                     AS sha256
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_payload_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return multimodal.with_binary_payload(d, "text", "doc_id").select(
        "doc_id", "byte_len", "sha256"
    ).orderBy("doc_id")


@register(
    "pandas_zscore_normalize",
    oracle="""
    SELECT event_type, event_id AS row_id,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / STDDEV_SAMP(value) OVER (PARTITION BY event_type), 6) AS zscore
    FROM events ORDER BY row_id
    """,
)
def pandas_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map vs the window-function oracle: the Arrow
    group-to-pandas round trip must reproduce SQL stddev_samp semantics."""
    from ..operators.grouped import grouped_zscore

    e = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("event_id").alias("row_id"), "value"
    )
    return grouped_zscore(e, "event_type", "row_id", "value").orderBy("row_id")


@register(
    "multimodal_decode_meta",
    oracle="""
    SELECT doc_id,
           octet_length(CAST(text AS BLOB))                    AS byte_len,
           CAST(octet_length(CAST(text AS BLOB)) % 640 + 1 AS INTEGER)       AS width,
           CAST((octet_length(CAST(text AS BLOB)) * 7) % 480 + 1 AS INTEGER) AS height,
           CAST(3 AS INTEGER)                                  AS channels,
           'fake-rgb'                                          AS format
    FROM documents ORDER BY doc_id
    """,
)
def multimodal_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mapInPandas decode path with the deterministic fake codec: the
    oracle mirrors the fake formula, so the Arrow round-trip, batching, and
    output schema are all verified by the hash compare."""
    d = load_table(spark, sf_dir, "documents")
    media = multimodal.with_binary_payload(d, "text", "doc_id")
    return multimodal.decode_metadata(media, fake=True).orderBy("doc_id")


@register(
    "multimodal_feature_extract",
    oracle="""
    WITH pos AS (
        SELECT doc_id, (i - 1) % 8 AS j,
               ascii(substr(text, CAST(i AS INT), 1)) AS b,
               length(text) AS n
        FROM documents, UNNEST(generate_series(1, length(text))) AS g(i)
        WHERE doc_id < 300
    ),
    agg AS (
        SELECT doc_id, j,
               ROUND(SUM(b) * 1.0 / CAST(ceil(n / 8.0) AS BIGINT), 6) AS m
        FROM pos GROUP BY doc_id, j, n
    )
    SELECT doc_id, CAST(j AS INTEGER) AS component, m AS feature_val
    FROM agg ORDER BY doc_id, component
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary payloads
    (multimodal.extract_features): each payload becomes a fixed-dim
    float vector (stub featurizer: per-component byte means, numpy per
    Arrow batch) — the shape that feeds the similarity-search operators.
    The oracle recomputes the same means positionally in SQL: byte sums
    are exact integers, so the single division matches bitwise and the
    whole Arrow round-trip (binary in, array<double> out) is
    hash-verified. The vector is posexploded to (component, feature_val)
    rows so the registered output is scalar-only (driver canonicalizer
    cannot hash array cells); the library operator keeps the array type."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.with_binary_payload(d, "text", "doc_id")
    out = multimodal.extract_features(media, dim=8)
    # round 13: round AFTER the posexplode as a scalar projection — the
    # old transform lambda ran the round through interpreted eval
    return out.select("doc_id", F.posexplode("feature")).select(
        "doc_id",
        F.col("pos").cast("int").alias("component"),
        F.round(F.col("col"), 6).alias("feature_val"),
    ).orderBy("doc_id", "component")


@register(
    "multimodal_frame_offsets",
    oracle="""
    SELECT doc_id,
           CAST(unnest(generate_series(0,
                greatest(octet_length(CAST(text AS BLOB)) - 1, 0), 1000))
                AS BIGINT) AS frame_offset
    FROM documents WHERE doc_id < 500 ORDER BY doc_id, frame_offset
    """,
)
def multimodal_frame_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (multimodal.frame_sample_plan): one row per
    sampled byte offset (every 1000 bytes) of each payload — the schedule
    a video decoder would consume, generated with sequence + explode
    entirely JVM-side. The payload column is projected away BEFORE the
    explode, so the row blowup carries only (id, offset)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    media = multimodal.with_binary_payload(d, "text", "doc_id")
    out = multimodal.frame_sample_plan(media, every_n_bytes=1000)
    return out.select(
        "doc_id", F.col("frame_offset").cast("long").alias("frame_offset")
    ).orderBy("doc_id", "frame_offset")


# shares: the persisted 8-gram shingle relation (the bloom prefilter re-paid
# the full tokenization at the registry tail, 4.6 s -> 13.2 s in-suite)
@register(
    "decontaminate_ngram_exact", shares=("doc_8grams",),
    oracle=rf"""
    WITH sh AS ({shingles_sql(8)}),
    split AS (SELECT doc_id, {hash_bucket_sql("doc_id")} % 100 AS b FROM documents),
    te AS (SELECT sh.doc_id AS test_id, shingle
           FROM sh JOIN split USING (doc_id) WHERE split.b < 10),
    tr AS (SELECT sh.doc_id AS train_id, shingle
           FROM sh JOIN split USING (doc_id) WHERE split.b >= 15),
    kept AS (SELECT shingle FROM tr GROUP BY shingle HAVING COUNT(*) <= 50)
    SELECT te.test_id, tr.train_id, CAST(COUNT(*) AS BIGINT) AS shared_grams
    FROM te
    JOIN kept USING (shingle)
    JOIN tr USING (shingle)
    GROUP BY te.test_id, tr.train_id
    HAVING COUNT(*) >= 2
    ORDER BY test_id, train_id
    """,
)
def decontaminate_ngram_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-overlap decontamination (the GPT-3 appendix-C recipe, sized to
    this corpus): flag every test-split document sharing >= 2 exact word
    8-grams with a train-split document. Complements the LSH variant
    (decontaminate_test_split) — exact n-grams catch verbatim spans that
    near-dup Jaccard can dilute away on long documents. The high-DF
    stop-gram guard (dedup.ngram_exact_overlap max_gram_df) bounds the
    per-gram join fan-out, which is what makes the equi-join safe at
    corpus scale."""
    from ..operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    # persisted + registry-tracked: the full-corpus 8-gram relation is
    # CacheManager-shared with any other same-shape consumer, so the
    # corpus tokenizes once for the whole decontamination block
    sh = store.keep(dedup.shingles(d, "doc_id", "text", n=8), big=True)
    b = hash_bucket(F.col("doc_id"))
    # round-14 probe, REJECTED at decade scale: filtering the gram
    # relation directly on the md5 doc-id bucket (instead of these
    # broadcast semi-joins) removed two joins and measured warm
    # 1.92 -> 1.70 s at sf0.1 — but the same-hour sf10 A/B measured
    # warm 16 -> 106 s: the md5 bucket then evaluates once per GRAM row
    # (~70M md5s across both splits at sf10) instead of once per
    # DOCUMENT row (~1M) on the broadcast build side. The semi-join is
    # the scale shape; keep it.
    te = sh.join(d.filter(b < 10).select("doc_id"), "doc_id", "left_semi")
    tr = sh.join(d.filter(b >= 15).select("doc_id"), "doc_id", "left_semi")
    out = dedup.ngram_exact_overlap(te, tr, min_shared=2, max_gram_df=50)
    return out.select(
        F.col("probe_id").alias("test_id"),
        F.col("corpus_id").alias("train_id"),
        "shared_grams",
    ).orderBy("test_id", "train_id")


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
        return spark.createDataFrame(
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


# ---------------------------------------------------------------------------
# Cluster representative by QUALITY (not min id): after near-dup cluster
# resolution, keep the highest-quality member of each duplicate group —
# the keep-policy real curation uses (min-id keep is the deterministic
# baseline in curation_pipeline_keep). One window over the component
# labeling; deterministic doc_id tiebreak.
# ---------------------------------------------------------------------------
@register(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH comp AS ({clusters_sql}),
    ranked AS (
        SELECT c.component, c.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.component
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn
        FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT component,
           CAST(COUNT(*) AS BIGINT)                    AS n_members,
           CAST(MIN(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keep_id,
           CAST(MIN(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keep_chars
    FROM ranked GROUP BY component ORDER BY component
    """,
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters with a keep-BEST policy: the representative is
    the member with the highest quality score (n_chars here; any score
    column slots in), doc_id tiebreak. Window over the component labels +
    one aggregate on the same partitioning — the keep decision adds one
    shuffle of (doc_id, component, score) rows, never of document
    bodies."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    pairs = std_minhash_pairs(spark, sf_dir)
    comp = graph.connected_components(
        d.select("doc_id"), pairs.select("id_a", "id_b")
    )
    labeled = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    ranked = labeled.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_members"),
            F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
            .cast("long")
            .alias("keep_id"),
            F.min(F.when(F.col("rn") == 1, F.col("n_chars")))
            .cast("long")
            .alias("keep_chars"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate — the tokenizer-analysis pass run before
# committing to a vocab: build the top-K corpus vocabulary, then score
# every document's out-of-vocabulary fraction against it. The vocab is a
# tiny aggregate relation (K rows) and broadcasts into the scoring join.
# ---------------------------------------------------------------------------
@register(
    "vocab_oov_rate",
    oracle=f"""
    WITH uni AS (SELECT doc_id, unnest({words_sql}) AS w FROM documents),
    cnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    vocab AS (
        SELECT w FROM
        (SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk FROM cnt)
        WHERE rk <= 500
    )
    SELECT u.doc_id,
           CAST(COUNT(*) AS BIGINT)                           AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                                                              AS n_oov,
           ROUND(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6)                               AS oov_rate
    FROM uni u LEFT JOIN vocab v USING (w)
    GROUP BY u.doc_id ORDER BY u.doc_id
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-500 corpus vocabulary (frequency desc, word tiebreak) and each
    document's OOV token fraction against it. Two aggregates + one
    broadcast left join; the global top-K ranking sorts only the
    distinct-word relation (vocab-sized, tiny), never token instances."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    uni = d.select("doc_id", F.explode(text.words(F.col("text"))).alias("w"))
    cnt = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        cnt.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("c").desc(), "w")),
        )
        .filter(F.col("rk") <= 500)
        .select("w", F.lit(1).alias("_inv"))
    )
    return (
        uni.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("_inv").isNull(), 1).otherwise(0))
                / F.count(F.lit(1)),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Boilerplate prefix detection — repeated document openings within a
# source (headers, templates, scraper artifacts): group on the first-5-
# word prefix, surface groups big enough to be boilerplate. One hash
# aggregate on (source, prefix); prefixes are bounded strings, so agg
# state stays small no matter the corpus size.
# ---------------------------------------------------------------------------
@register(
    "boilerplate_prefix_groups",
    oracle=f"""
    WITH p AS (
        SELECT doc_id, source,
               array_to_string(list_slice({words_sql}, 1, 2), ' ') AS prefix
        FROM documents
    )
    SELECT source, prefix,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM p GROUP BY source, prefix HAVING COUNT(*) >= 2
    ORDER BY source, prefix
    """,
)
def boilerplate_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents sharing their first-2-word prefix within a source —
    the boilerplate/template detection pass that precedes prefix
    stripping. Map-side partial aggregation collapses each partition to
    its distinct prefixes before the one shuffle."""
    d = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(text.words(F.col("text")), 1, 2), " ")
    return (
        d.select("doc_id", "source", prefix.alias("prefix"))
        .groupBy("source", "prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("source", "prefix")
    )
