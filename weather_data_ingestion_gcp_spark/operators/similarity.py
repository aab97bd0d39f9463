"""Similarity search over embedding columns (array<float>).

Two paths:

- **brute-force cosine top-k** — the exactness baseline. Queries broadcast
  (they're small by construction); the corpus never shuffles; per-partition
  top-k via window row_number. All arithmetic stays JVM-side with
  higher-order array functions (zip_with + aggregate), in double precision.
- **IVF (inverted-file) top-k** — the scale path: corpus pre-clustered
  (here: the dataset's own label column, or any k-means assignment), query
  probes only the `nprobe` nearest centroids, searching ~nprobe/k of the
  corpus. At 100 TB the corpus is bucketed/partitioned by cluster id so a
  probe reads only matching partitions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..store import keep


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-fold in double precision — deterministic accumulation
    order (matches the DuckDB oracle's list_dot_product element order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def _norm(v: Column) -> Column:
    return F.sqrt(_dot(v, v))


def _make_dot_pandas():
    """Arrow-vectorized pairwise dot product with the SAME accumulation
    order as the `_dot` fold (and DuckDB's list_dot_product): acc starts at
    0.0 and adds x_d * y_d in ascending d — one numpy vector op per dim per
    batch instead of an interpreted lambda per element per row. Identical
    IEEE operation sequence -> results are bitwise-equal to the fold, so
    oracle-checked queries can use it freely. Built lazily (fresh UDF per
    call site) so closures never share Spark-serialized state."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.DoubleType())
    def dot_pd(xs: pd.Series, ys: pd.Series) -> pd.Series:
        X = np.stack(xs.to_numpy()).astype(np.float64)
        Y = np.stack(ys.to_numpy()).astype(np.float64)
        acc = np.zeros(X.shape[0], dtype=np.float64)
        for d in range(X.shape[1]):  # sequential fold order — parity-critical
            acc += X[:, d] * Y[:, d]
        return pd.Series(acc)

    return dot_pd


def dot_pandas(a: Column, b: Column) -> Column:
    """Pairwise dot product, Arrow-vectorized, fold-order-identical to
    :func:`_dot` (see `_make_dot_pandas`). Use in hot pair-scoring paths;
    `_dot` remains for plan shapes where a scalar JVM expression matters
    (e.g. inside otherwise pure-codegen projections of few rows)."""
    return _make_dot_pandas()(
        a.cast("array<double>"), b.cast("array<double>")
    )


def cosine_pandas(a: Column, b: Column) -> Column:
    """Cosine via three Arrow dot products — bitwise-equal to
    :func:`cosine` and to the DuckDB `list_dot_product` formulation."""
    return dot_pandas(a, b) / (
        F.sqrt(dot_pandas(a, a)) * F.sqrt(dot_pandas(b, b))
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Broadcast the query side: the corpus-side scan stays shuffle-free and
    the only exchange is the final per-query top-k. Norms are computed ONCE
    per vector before the pair blowup, so each of the |Q|x|C| pairs costs
    one array fold (the dot product), not three. `dot/(norm_a*norm_b)` is
    the same floating-point expression tree as inline cosine — results are
    bitwise identical (and stay bitwise-comparable to the DuckDB oracle).
    """
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        _norm(F.col(vec_col)).alias("n_nrm"),
    )
    # pair scoring is the |Q| x |C| hot loop -> Arrow-vectorized dot
    # (fold-order-identical to _dot, so oracle results are unchanged)
    scored = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id")).select(
        "q_id",
        "n_id",
        (
            dot_pandas(F.col("q_vec"), F.col("n_vec"))
            / (F.col("q_nrm") * F.col("n_nrm"))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cos_sim", "rk")
    )


def kmeans_assign(
    corpus: DataFrame,
    k: int = 8,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column — produces
    the cluster assignment IVF needs when no pre-clustering exists.

    Assignment is an Arrow-vectorized pass (one numpy matmul per batch
    against the k x dim centroid matrix — a per-row interpreted argmax
    over k centroids costs k x dim lambda evaluations, measured ~10x
    slower). Round-14 (guide §2.3 "aggregate before you shuffle"): each
    training round's centroid sums are accumulated INSIDE the same
    Arrow pass as the assignment (mapInPandas emitting one k x dim
    partial-sum frame per task) instead of a posexplode of every
    (row, dim) pair into a corpus x dim shuffle — the per-round shuffle
    shrinks from n*d rows to k*d per task, and one Spark job per round
    replaces the assign+explode+agg chain (warm 2.44 -> 1.20 s at
    sf0.1, assignments byte-equal). Accumulation order is preserved:
    the partial sums fold rows sequentially in partition order (exactly
    the old partial-avg's per-task accumulation) and the k x d merge is
    the same partial-merge the old avg did. Driver-side centroids are
    the standard Lloyd's structure (MLlib's KMeans keeps them
    driver-side too): the state is k x dim floats by definition,
    independent of corpus size, so this collect is scale-safe. The
    corpus itself never shuffles during assignment. Seeds: the k lowest-
    id vectors (deterministic, no RNG).
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    vecs = (
        corpus.select(
            F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("_v")
        )
        # materialized once on the first action, reused by every round
        .localCheckpoint(eager=False)
    )

    def _assigned(C: "np.ndarray") -> DataFrame:
        cn = np.sqrt((C * C).sum(axis=1))

        @pandas_udf(T.IntegerType())
        def nearest(vs: pd.Series) -> pd.Series:
            X = np.stack(vs.to_numpy()).astype(np.float64)
            xn = np.sqrt((X * X).sum(axis=1))
            sims = (X @ C.T) / (xn[:, None] * cn[None, :])
            # argmax takes the FIRST max -> ties resolve to the lowest
            # cluster id (same as the previous orderBy(desc sim, cluster))
            return pd.Series(np.argmax(sims, axis=1).astype(np.int32))

        return vecs.withColumn("cluster", nearest(F.col("_v")))

    seed_rows = vecs.orderBy("_id").limit(k).collect()
    if not seed_rows:
        # empty corpus: the fixpoint is the empty assignment — return it
        # with the contract schema instead of crashing on a 0-row seed
        return corpus.select(
            F.col(id_col), F.lit(0).cast("int").alias("kmeans_cluster")
        ).limit(0)
    # cluster ids ordered by first vector component (stable, data-derived)
    C = np.array(
        [r["_v"] for r in sorted(seed_rows, key=lambda r: r["_v"][0])],
        dtype=np.float64,
    )
    for _ in range(max_iter):
        Cb = C

        def _partials(batches):
            first = True
            for pdf in batches:
                if pdf.empty:
                    continue
                X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
                xn = np.sqrt((X * X).sum(axis=1))
                cn = np.sqrt((Cb * Cb).sum(axis=1))
                a = np.argmax((X @ Cb.T) / (xn[:, None] * cn[None, :]), axis=1)
                if first:
                    S = np.zeros((Cb.shape[0], X.shape[1]), dtype=np.float64)
                    N = np.zeros(Cb.shape[0], dtype=np.float64)
                    first = False
                for c in range(Cb.shape[0]):
                    rows = X[a == c]
                    # sequential row fold — the old posexplode partial
                    # avg accumulated rows in this exact per-task order;
                    # a numpy pairwise sum would drift the centroids
                    for r_ in rows:
                        S[c] += r_
                    N[c] += len(rows)
            if first:
                return
            cc, pp = np.indices(S.shape)
            yield pd.DataFrame(
                {
                    "cluster": cc.ravel().astype("int32"),
                    "pos": pp.ravel().astype("int32"),
                    "s": S.ravel(),
                    "n": np.repeat(N, S.shape[1]),
                }
            )

        sums = (
            vecs.select("_v")
            .mapInPandas(_partials, "cluster int, pos int, s double, n double")
            .groupBy("cluster", "pos")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        nxt = C.copy()  # empty clusters keep their previous centroid
        for r in sums:
            if r["n"] > 0:
                nxt[r["cluster"], r["pos"]] = r["s"] / r["n"]
        C = nxt
    return _assigned(C).select(
        F.col("_id").alias(id_col), F.col("cluster").alias("kmeans_cluster")
    )


def hyperplanes(n_bits: int = 16, dim: int = 64, seed: str = "hp") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH: component
    (j, d) = md5("seed|j|d") first 12 hex nibbles, normalized to (-1, 1).

    Derived driver-side with hashlib so the SAME float literals can be
    embedded in both the Spark plan and a SQL oracle — cross-engine
    bitwise-identical bucketing without sharing any RNG.
    """
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}|{j}|{d}".encode()).hexdigest()[:12], 16)
            / float(1 << 48)
            * 2.0
            - 1.0
            for d in range(dim)
        ]
        for j in range(n_bits)
    ]


def random_hyperplane_bands(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 16,
    band_bits: int = 4,
    dim: int = 64,
    seed: str = "hp",
) -> DataFrame:
    """(id, band, bsig) rows: sign-LSH signature split into bands.

    bit_j = [dot(v, w_j) > 0]; bands of ``band_bits`` bits bucket together
    (two vectors collide in a band with probability (1 - theta/pi)^band_bits
    — the random-projection analog of MinHash banding).

    The 16 projections are computed in an Arrow-vectorized pandas UDF: a
    higher-order-function fold is interpreted per element (16 planes x 64
    dims = 1024 interpreted ops per row — measured ~1 ms/row), while the
    UDF does 16x64 numpy vector ops per BATCH. Accumulation is sequential
    over dims (acc += x_d * w_d, ascending d), the exact IEEE operation
    sequence of both the previous fold and the DuckDB oracle's
    list_dot_product — sign bits, and therefore buckets, stay
    bitwise-identical cross-engine. The x4 band explode multiplies rows
    only after signatures are computed.
    """
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    W = hyperplanes(n_bits=n_bits, dim=dim, seed=seed)
    n_bands = n_bits // band_bits

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def band_sigs(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        n = X.shape[0]
        bits = np.empty((n_bits, n), dtype=np.int64)
        for j in range(n_bits):
            acc = np.zeros(n, dtype=np.float64)
            wj = W[j]
            for d in range(dim):  # sequential fold order — parity-critical
                acc += X[:, d] * wj[d]
            bits[j] = acc > 0
        sigs = np.zeros((n_bands, n), dtype=np.int64)
        for b in range(n_bands):
            for i in range(band_bits):
                sigs[b] = sigs[b] * 2 + bits[b * band_bits + i]
        return pd.Series(list(sigs.T.astype(np.int32)))

    return df.select(
        F.col(id_col).alias("vec_id_"),
        F.posexplode(band_sigs(F.col(vec_col).cast("array<double>"))).alias(
            "band", "bsig"
        ),
    ).select(
        F.col("vec_id_").alias(id_col),
        "band",
        F.col("bsig").cast("int").alias("bsig"),
    )


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 16,
    band_bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "hp",
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k via random-hyperplane (sign) LSH: candidates are
    pairs sharing ANY signature band; exact cosine ranks them. The
    candidate step is an equi-join on (band, bsig) — at scale the corpus is
    bucketed by band signature so a query touches only colliding buckets,
    the same access pattern as the MinHash-LSH dedup path.

    ``corpus_bands``: optionally a precomputed (id, band, bsig) relation
    for the corpus (a persisted ANN index shared across queries — what a
    real deployment maintains instead of re-signing the corpus per
    lookup). Must come from :func:`random_hyperplane_bands` with the
    SAME band parameters.
    """
    cb = (
        corpus_bands
        if corpus_bands is not None
        else random_hyperplane_bands(
            corpus, id_col, vec_col, n_bits, band_bits, dim, seed
        )
    )
    qb = random_hyperplane_bands(queries, id_col, vec_col, n_bits, band_bits, dim, seed)
    pairs = (
        qb.withColumnRenamed(id_col, "q_id")
        .join(F.broadcast(cb.withColumnRenamed(id_col, "n_id")), ["band", "bsig"])
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_nrm"),
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        _norm(F.col(vec_col)).alias("n_nrm"),
    )
    scored = (
        pairs.join(F.broadcast(q), "q_id")
        .join(c, "n_id")
        .select(
            "q_id",
            "n_id",
            (
                dot_pandas(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_nrm") * F.col("n_nrm"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cos_sim", "rk")
    )


def ivf_parts(
    corpus: DataFrame,
    queries: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> "tuple[DataFrame, DataFrame]":
    """The two IVF stages before the final top-k cut, exposed so callers
    can audit the mechanics (the accuracy-contract oracles check that the
    returned top-k is exactly the best of the probed candidate set and
    that every candidate came from a probed cluster).

    Returns ``(probes, scored)``: probes = (q_id, cluster) pairs actually
    searched; scored = every candidate with its exact cosine.
    """
    # centroid per cluster: element-wise mean via posexplode + re-assemble
    exploded = corpus.select(
        F.col(cluster_col).alias("cluster"),
        F.posexplode(F.col(vec_col)).alias("pos", "x"),
    )
    centroids = (
        exploded.groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.col("pm").getField("m").alias("centroid"))
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("q_nrm"),
    )
    probe_w = Window.partitionBy("q_id").orderBy(F.desc("c_sim"), F.col("cluster"))
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .select(
            "q_id", "q_vec", "q_nrm", "cluster",
            cosine(F.col("q_vec"), F.col("centroid")).alias("c_sim"),
        )
        .withColumn("prk", F.row_number().over(probe_w))
        .filter(F.col("prk") <= nprobe)
        .select("q_id", "q_vec", "q_nrm", "cluster")
    )
    # Per-vector norms computed BEFORE the candidate blowup: each candidate
    # pair costs one dot-product fold. dot/(norm*norm) is the identical
    # floating-point expression tree as inline cosine (oracle-bitwise-safe).
    c = corpus.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        _norm(F.col(vec_col)).alias("n_nrm"),
        F.col(cluster_col).alias("cluster"),
    )
    scored = (
        c.join(F.broadcast(probes), "cluster")
        .filter(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            "cluster",
            (
                dot_pandas(F.col("q_vec"), F.col("n_vec"))
                / (F.col("q_nrm") * F.col("n_nrm"))
            ).alias("cos_sim"),
        )
    )
    return probes.select("q_id", "cluster"), scored


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "label",
) -> DataFrame:
    """Approximate top-k: probe the nprobe clusters whose centroids are
    nearest each query, brute-force only inside them.

    Centroids are a tiny aggregate (one row per cluster) — broadcast to the
    query side; the candidate search is an equi-join on cluster id, which at
    scale hits only the probed partitions of a cluster-bucketed corpus.
    """
    _, scored = ivf_parts(
        corpus, queries, nprobe=nprobe, id_col=id_col, vec_col=vec_col,
        cluster_col=cluster_col,
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.col("n_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cos_sim", "rk")
    )


# ---------------------------------------------------------------------------
# scalar (int8) quantization
# ---------------------------------------------------------------------------


def scalar_quantize_stats(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization audit: min/max range, the
    (max-min)/255 scale, and the max absolute reconstruction error of
    round-tripping every dimension through its 0..255 code. This is the
    storage-shrink pass of an embedding pipeline (4x smaller vectors for
    ANN serving) and the error column is the quality gate.

    Everything is per-row array arithmetic — no shuffle; the element
    round-trip is order-free (min/max/abs, no accumulation), so the
    result is engine- and partitioning-invariant bit-for-bit.

    Round-14 (guide §4.2, the interpreted-eval class): the per-element
    error was a ``transform`` lambda (~10 virtual evals per element per
    row — interpreted Catalyst eval, never codegen); it now runs as ONE
    Arrow batch per partition with numpy elementwise ops (measured warm
    1.0 s -> 0.05 s at sf0.1, output byte-equal). Parity: mn/mx/scale
    are computed in the JVM exactly as before and PASSED IN (so NaN/NULL
    edge semantics cannot drift); inside the batch,
    ``floor(q) + ((q - floor(q)) >= 0.5)`` is exact round-half-up for
    the non-negative q = (x-mn)/scale — the same result as Spark's
    HALF_UP ``round(q, 0)`` (q >= 0 always: mn is the row minimum), with
    no ``q + 0.5`` float-addition hazard; all remaining ops are the same
    IEEE doubles in the same order. Precondition (unchanged in practice,
    now explicit): vector elements are non-NULL — the old lambda
    propagated NULL elements into a NULL error cell that array_max then
    skipped; the Arrow path requires dense arrays, as every caller
    (parquet float arrays) provides."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    mn = F.array_min(F.col(vec_col)).cast("double")
    mx = F.array_max(F.col(vec_col)).cast("double")

    @pandas_udf(DoubleType())
    def _max_abs_err(vs: pd.Series, mns: pd.Series, mxs: pd.Series) -> pd.Series:
        X = np.stack(vs.to_numpy()).astype(np.float64)
        mn_a = mns.to_numpy(dtype=np.float64)[:, None]
        s = (mxs.to_numpy(dtype=np.float64)[:, None] - mn_a) / 255.0
        q = (X - mn_a) / s
        fl = np.floor(q)
        r = fl + ((q - fl) >= 0.5)  # exact HALF_UP for non-negative q
        return pd.Series(np.abs(X - (r * s + mn_a)).max(axis=1))

    return df.select(
        F.col(id_col),
        F.round(mn, 6).alias("q_min"),
        F.round(mx, 6).alias("q_max"),
        F.when(mx == mn, F.lit(0.0))
        .otherwise(
            F.round(
                _max_abs_err(F.col(vec_col).cast("array<double>"), mn, mx), 6
            )
        )
        .alias("max_abs_err"),
    )


# ---------------------------------------------------------------------------
# MMR diversity selection
# ---------------------------------------------------------------------------


def mmr_select(
    df: DataFrame,
    query_vec: "list[float]",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    lam: float = 0.7,
    shortlist_m: int = 64,
) -> DataFrame:
    """Maximal-Marginal-Relevance selection: pick k vectors maximizing
    ``lam * rel(q, x) - (1 - lam) * max_sim(x, selected)`` — the
    diversity-aware sampling step of dataset curation (pure top-k returns
    near-duplicates; MMR spends the budget on coverage).

    Two stages, the standard retrieve-then-rerank split:
      1. DISTRIBUTED shortlist: one Arrow-vectorized relevance pass over
         the corpus, TakeOrdered top-``shortlist_m`` — the only part that
         scales with data size, and it is a single job with no shuffle
         beyond the top-k merge.
      2. DRIVER rerank: greedy MMR over the bounded m x dim matrix
         (m <= 64 here) — O(k * m * dim) numpy, microseconds. Greedy MMR
         is sequential in k by definition; confining the sequential part
         to a constant-size shortlist is what keeps the operator scale-
         free (the alternative — k full-corpus passes — pays k job
         round-trips for picks that provably lie in the relevance head
         when lam >= 0.5).

    Deterministic: ties break on ascending id. Returns (id, mmr_rank,
    relevance) for the k picks."""
    import numpy as np

    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    q /= np.sqrt((q * q).sum())

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def unit_pd(xs: pd.Series) -> pd.Series:
        X = np.stack(xs.to_numpy()).astype(np.float64)
        X /= np.sqrt((X * X).sum(axis=1, keepdims=True))
        return pd.Series(list(X))

    base = df.select(F.col(id_col).alias("_id"), unit_pd(F.col(vec_col)).alias("_u"))
    qb = F.array(*[F.lit(float(v)) for v in q])
    short = (
        base.select("_id", "_u", dot_pandas(F.col("_u"), qb).alias("_rel"))
        .orderBy(F.desc("_rel"), F.asc("_id"))
        .limit(shortlist_m)
        .collect()
    )
    ids = [r["_id"] for r in short]
    U = np.stack([np.asarray(r["_u"], dtype=np.float64) for r in short])
    rel = np.asarray([r["_rel"] for r in short], dtype=np.float64)

    picked: list[int] = []
    for _ in range(min(k, len(ids))):
        if picked:
            max_sim = (U @ U[picked].T).max(axis=1)
        else:
            max_sim = np.zeros(len(ids))
        score = lam * rel - (1.0 - lam) * max_sim
        score[picked] = -np.inf
        # argmax with ascending-id tiebreak (ids sorted by rel desc, id asc)
        best = int(np.lexsort((ids, -score))[0])
        picked.append(best)

    rows = [(ids[i], rank + 1, float(rel[i])) for rank, i in enumerate(picked)]
    out = df.sparkSession.createDataFrame(
        rows, f"{id_col} long, mmr_rank int, relevance double"
    )
    return out.select(id_col, "mmr_rank", F.round("relevance", 6).alias("relevance"))


def semantic_dedup_prune(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.35,
    n_bits: int = 16,
    band_bits: int = 4,
    dim: int = 64,
    seed: str = "hp",
    max_bucket_size: int | None = None,
    bands: DataFrame | None = None,
) -> DataFrame:
    """SemDedup-style semantic pruning (Abbas et al. '23, arXiv:2303.09540):
    drop any vector with a semantically-near LOWER-ID neighbor, keeping the
    first representative of every near-duplicate neighborhood.

    Candidate pairs come from sign-LSH band collisions (the deterministic
    md5-derived hyperplanes of :func:`random_hyperplane_bands` — the
    oracle embeds the identical float literals), then exact cosine >= tau
    verifies. The keep rule is greedy-by-id: a vector is dropped iff a
    verified pair links it to a smaller id. No connected components needed
    — the decision is one EXISTS per vector, and transitively-linked
    neighborhoods still keep exactly their minimum id.

    Output: (id, kept, n_near) — n_near counts verified partners on either
    side, the neighborhood-density signal SemDedup thresholds on.
    Quadratic only within an LSH bucket — and, round-7 fix, a bucket is
    CAPPED: the band space is a fixed 2^band_bits signatures, so with
    clustered vectors (the whole point of SemDedup) a bucket's size
    grows with the corpus and its self-join grows quadratically (the
    100x probe measured the blow-up at 128k vectors: most of a label's
    vectors share a sign signature). ``max_bucket_size`` hash-splits
    over-cap (band, bsig) buckets into ceil(n/cap) deterministic
    md5-hex4 sub-buckets — pairs are generated within a sub-bucket only,
    bounding candidates at ~N*cap/2 per band (LINEAR), the
    blocked_jaccard_pairs recipe. Buckets at or under the cap get one
    sub-bucket, identical to uncapped — the cap only changes behavior
    where the quadratic would bite; cross-sub near-dups are the
    documented recall trade (a greedy keep-first dedup tolerates it).
    """
    # ``bands``: optionally the same precomputed persisted (id, band,
    # bsig) relation rp_lsh_topk accepts — one sign-LSH index serves
    # both the ANN lookups and this prune
    if bands is None:
        bands = random_hyperplane_bands(
            emb, id_col, vec_col, n_bits, band_bits, dim, seed
        )
    if max_bucket_size is not None:
        counts = bands.groupBy("band", "bsig").agg(
            F.count(F.lit(1)).alias("_bn")
        )
        n_sub = F.expr(
            f"(`_bn` + {int(max_bucket_size) - 1}) div {int(max_bucket_size)}"
        )
        hex4 = F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)
        salt = F.conv(hex4, 16, 10).cast("long") % n_sub
        bands = bands.join(F.broadcast(counts), ["band", "bsig"]).select(
            id_col, "band", "bsig", salt.alias("_sub")
        )
        bkeys = ["band", "bsig", "_sub"]
    else:
        bkeys = ["band", "bsig"]
    # Round-14 verify (guide §8 / §4.2, VERDICT-r13 #7): candidate
    # generation AND cosine verify run in ONE grouped Arrow pass per
    # (band, bsig[, _sub]) bucket — each bucket's vectors cross the
    # Python boundary once (O(corpus x bands) rows), and the within-
    # bucket pairwise dots are numpy vector ops, replacing the JVM
    # per-pair path that joined BOTH 64-dim vectors onto ~465k candidate
    # pairs (sf0.1) and folded them through the interpreted
    # zip_with/aggregate lambda. History of this hot loop, all measured
    # at sf0.1: per-pair Arrow dot (both vectors shipped per pair)
    # 2x SLOWER than the JVM fold (6.2 vs 3.0 s, round 12); 64-term
    # unrolled codegen dot REJECTED (cold 9.1 -> 26.1 s — JIT bloat,
    # round 13); this per-bucket shape measured cold 6.96 -> 2.07 s /
    # warm 1.22 -> 0.63 s with byte-identical output (round 14 probe).
    # Parity: ascending-dim accumulation is the exact IEEE sequence of
    # the `_dot` fold and DuckDB's list_dot_product (the round-7
    # semdecon recipe); sqrt/divide association matches the old
    # dot/(na*nb) expression; float32 -> float64 widening is exact; the
    # 6-dp round + >= tau decision stays in Spark, unchanged. Tiling
    # bounds per-group memory at TILE^2 doubles regardless of bucket
    # size (the capped path never exceeds max_bucket_size anyway).
    TILE = 1024

    def _bucket_verify(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_vid")
        ids = pdf["_vid"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {
                    "id_a": pd.Series(dtype="int64"),
                    "id_b": pd.Series(dtype="int64"),
                    "raw": pd.Series(dtype="float64"),
                }
            )
        X = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
        dim_n = X.shape[1]
        ss = np.zeros(n, dtype=np.float64)
        for d in range(dim_n):  # ascending-dim fold — parity-critical
            ss += X[:, d] * X[:, d]
        nrm = np.sqrt(ss)
        out_a, out_b, out_r = [], [], []
        for i0 in range(0, n, TILE):
            i1 = min(i0 + TILE, n)
            for j0 in range(i0, n, TILE):
                j1 = min(j0 + TILE, n)
                acc = np.zeros((i1 - i0, j1 - j0), dtype=np.float64)
                for d in range(dim_n):  # same per-pair IEEE fold
                    acc += np.outer(X[i0:i1, d], X[j0:j1, d])
                raw = acc / np.outer(nrm[i0:i1], nrm[j0:j1])
                ii, jj = np.indices(raw.shape)
                keep = (i0 + ii) < (j0 + jj)  # upper triangle, id_a < id_b
                out_a.append(ids[i0 + ii[keep]])
                out_b.append(ids[j0 + jj[keep]])
                out_r.append(raw[keep])
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "raw": np.concatenate(out_r),
            }
        )

    cand = bands.join(
        emb.select(
            F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v")
        ),
        bands[id_col] == F.col("_vid"),
    ).select("_vid", "_v", *bkeys)
    raw_pairs = cand.groupBy(*bkeys).applyInPandas(
        _bucket_verify, "id_a long, id_b long, raw double"
    )
    # referenced 3x below (both partner sides + the dropped set); without
    # a persist each reference re-runs the band join AND the Arrow cosine
    # verify. The relation is O(verified near-dup pairs) — bounded far
    # below corpus size, safe to persist at scale. A pair colliding in
    # several bands is verified once per collision (cheap numpy work) and
    # deduped here — the old shape deduped candidates BEFORE the verify;
    # the verified SET is identical because the cosine is deterministic.
    dup = keep(
        raw_pairs.where(F.round(F.col("raw"), 6) >= tau)
        .select("id_a", "id_b")
        .distinct()
    )
    partners = (
        dup.select(F.col("id_a").alias(id_col))
        .unionAll(dup.select(F.col("id_b").alias(id_col)))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_near"))
    )
    dropped = dup.select(F.col("id_b").alias(id_col)).distinct().withColumn(
        "_dropped", F.lit(True)
    )
    return (
        emb.select(id_col)
        .join(partners, id_col, "left")
        .join(dropped, id_col, "left")
        .select(
            id_col,
            F.coalesce("_dropped", F.lit(False)).alias("is_dropped"),
            F.coalesce("n_near", F.lit(0)).alias("n_near"),
        )
        .withColumn("kept", ~F.col("is_dropped"))
        .drop("is_dropped")
    )
