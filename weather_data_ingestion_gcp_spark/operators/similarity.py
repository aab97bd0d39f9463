"""Similarity search over embedding columns (array<float>).

Three decisions are parity-critical, because every result is hash-checked
bit-for-bit against DuckDB's ``list_dot_product``, and each is spelled
once, here:

- **the fold** — every dot product accumulates ``acc += x_d * y_d`` in
  ascending ``d`` from 0.0 in double precision: the JVM ``_dot`` lambda
  for scalar projections, :func:`_fold` for every numpy batch (Arrow
  pair scoring, sign bits, the tile scan);
- **the top-k cut** — :func:`pair_side` projects each side's id, vector
  and norm, :func:`pair_cosine` scores a pair, and :func:`cosine_rank`
  holds the ``(cos_sim desc, n_id)`` window that :func:`cosine_topk`
  cuts on;
- **the sign-LSH geometry** — ``LSH_BITS`` md5-derived hyperplanes over
  ``LSH_DIM`` dims in bands of ``LSH_BAND_BITS`` bits, read by
  ``oracle_sql.sign_bands_sql`` for the oracles.

One Arrow vector boundary: every batch of vectors crosses as pyarrow
list arrays (``arrow_udf``, ``mapInArrow``, ``applyInArrow``) and
becomes float64 matrices in :func:`_length_groups`, one per vector
length read from the list offsets, so a NULL vector (its validity bit)
is in no matrix, vectors of different lengths never meet, and a NULL
element is NaN. Results go back the same way: :func:`_nulled` sends a
NaN or infinite double as NULL, and :func:`_list_rows`
builds a list column from per-group matrices.
Within-block cosines run through one tile scan, :func:`_cosine_tiles`:
it is where the fold meets the cut, ``dot/(na*nb)`` over ``TILE x TILE``
blocks, and both :func:`block_cosine_pairs` and the semantic
decontamination argmax read its tiles.

Search paths: exact brute-force top-k (queries broadcast, the corpus
never shuffles), IVF (probe the ``nprobe`` nearest centroids of a
cluster column or a k-means assignment), and random-hyperplane LSH
(candidates share a band signature), plus SemDedup pruning over the same
band index.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.window import Window

from ..store import keep, rows
from .sampling import sub_block

#: Sign-LSH geometry: ``LSH_BITS`` hyperplanes over ``LSH_DIM``-dim
#: vectors from md5 seed ``LSH_SEED``, cut into bands of
#: ``LSH_BAND_BITS`` bits. The oracles embed the same planes, so these
#: are parity constants, not tuning knobs.
LSH_BITS = 16
LSH_BAND_BITS = 4
LSH_DIM = 64
LSH_SEED = "hp"

#: Tile edge of :func:`_cosine_tiles`: a block's cosine matrix is built
#: ``TILE x TILE`` at a time, so per-block memory stays at TILE^2
#: doubles (8 MB) however hot the block is. Tests shrink it to force
#: many-tile scans on small inputs.
TILE = 1024

#: The id and vector columns of the embeddings table, the one relation
#: every vector operator here reads.
ID_COL = "vec_id"
VEC_COL = "embedding"


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


def _numpy_kernels():
    """The numpy helpers Arrow UDF closures call, built as closures so
    cloudpickle ships them BY VALUE: a module-level function is pickled
    by reference, and a Python worker whose sys.path lacks this repo dies
    importing it (the ``_mm_parsers`` finding)."""

    def fold(X: np.ndarray, Y: np.ndarray) -> np.ndarray:
        """Dot products over the last axis, accumulated ``acc += X[..., d]
        * Y[..., d]`` in ascending ``d`` from 0.0 — the IEEE operation
        sequence of :func:`_dot` and DuckDB's list_dot_product, so results
        are bitwise-equal to both (a BLAS dot or a pairwise sum reorders
        the additions). The leading axes broadcast:
        ``fold(A[:, None], B[None])`` is the pairwise matrix."""
        acc = np.zeros(np.broadcast_shapes(X.shape[:-1], Y.shape[:-1]))
        for d in range(X.shape[-1]):
            acc += X[..., d] * Y[..., d]
        return acc

    def length_groups(*cols):
        """Yield ``(idx, X_1, ..., X_k)`` per vector length the rows of Arrow
        list columns share (``ListArray``s, or the ``ChunkedArray``s of an
        ``applyInArrow`` table): the row indices and, per column, the
        float64 ``(rows, length)`` matrix gathered from the flat child at
        the row offsets, a NULL element as NaN. A dense batch is one group
        in row order, a ragged one a group per length. A row that is NULL
        in any column (its validity bit), or whose columns differ in
        length, is in no group, so its cell stays NULL, as the `_dot` fold
        gives."""
        cols = [c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c for c in cols]
        offs = [c.offsets.to_numpy() for c in cols]
        lens = [np.diff(o) for o in offs]
        ok = np.ones(len(lens[0]), dtype=bool)
        for c, n in zip(cols, lens):
            ok &= c.is_valid().to_numpy(zero_copy_only=False) & (n == lens[0])
        flats = [c.values.to_numpy(zero_copy_only=False) for c in cols]
        for n in np.unique(lens[0][ok]):
            idx = np.flatnonzero(ok & (lens[0] == n))
            yield (
                idx,
                *(f[o[idx, None] + np.arange(n)].astype(np.float64) for f, o in zip(flats, offs)),
            )

    def nulled(out: np.ndarray) -> pa.Array:
        """``out`` as a double array whose non-finite cells cross as NULL:
        Spark orders NaN above every double, so a NaN cosine would pass a
        ``>=`` cut that NULL fails, and an infinite dot (a vector with an
        infinite element) would rank first in a top-k or divide to NaN."""
        return pa.array(np.where(np.isfinite(out), out, np.nan), from_pandas=True)

    def list_rows(n: int, parts, value_type):
        """The list array of ``n`` rows whose row ``idx[i]`` is ``M[i]``
        for each ``(idx, M)`` of ``parts``; every other row is NULL."""
        lens = np.zeros(n, dtype=np.int32)
        valid = np.zeros(n, dtype=bool)
        for idx, M in parts:
            lens[idx], valid[idx] = M.shape[1], True
        offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
        flat = np.empty(offsets[-1], dtype=value_type.to_pandas_dtype())
        for idx, M in parts:
            flat[offsets[idx, None] + np.arange(M.shape[1])] = M
        return pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(flat, value_type), mask=pa.array(~valid)
        )

    def cosine_tiles(A: np.ndarray, B: np.ndarray):
        """Yield ``(i0, j0, cos)`` for the ``TILE x TILE`` blocks of the
        cosine matrix of the rows of ``A`` against the rows of ``B``, in
        ascending ``i0``, then ``j0``. Norms and dots are ``fold``s and
        the cosine is ``dot/(na*nb)``, the association of the oracles; a
        zero norm gives NaN. With ``B is A`` the tiles below the
        diagonal, mirrors of those above it, are skipped."""
        na = np.sqrt(fold(A, A))
        nb = na if B is A else np.sqrt(fold(B, B))
        for i0 in range(0, len(A), TILE):
            for j0 in range(i0 if B is A else 0, len(B), TILE):
                dots = fold(A[i0 : i0 + TILE, None], B[None, j0 : j0 + TILE])
                yield i0, j0, dots / np.outer(na[i0 : i0 + TILE], nb[j0 : j0 + TILE])

    return fold, length_groups, nulled, list_rows, cosine_tiles


_fold, _length_groups, _nulled, _list_rows, _cosine_tiles = _numpy_kernels()


def dot_pandas(a: Column, b: Column) -> Column:
    """Pairwise dot product, Arrow-vectorized: one numpy vector op per
    dim per batch instead of an interpreted lambda per element per row,
    and bitwise-equal to :func:`_dot` (see :func:`_fold`). A NULL vector
    or a length-mismatched pair gives NULL, two empty vectors 0.0, as
    `_dot` does; a non-finite dot (a NaN or infinite element) is NULL
    where `_dot` gives NaN or an infinity. Use in hot pair-scoring paths;
    `_dot` remains for plan shapes where a scalar JVM expression
    matters."""

    @arrow_udf("double")
    def dot_pa(xs: pa.Array, ys: pa.Array) -> pa.Array:
        out = np.full(len(xs), np.nan)
        for idx, X, Y in _length_groups(xs, ys):
            out[idx] = _fold(X, Y)
        return _nulled(out)

    return dot_pa(a.cast("array<double>"), b.cast("array<double>"))


def pair_side(df: DataFrame, side: str, *extra: Column) -> DataFrame:
    """One side of a cosine pair scan: ``{side}_id``, ``{side}_vec`` and
    ``{side}_nrm`` (``side`` is ``q`` or ``n``), plus ``extra`` columns.
    The norm is folded once per vector, before the pair blowup, so each
    pair costs one dot product, not three."""
    v = F.col(VEC_COL)
    return df.select(
        F.col(ID_COL).alias(f"{side}_id"),
        v.alias(f"{side}_vec"),
        _norm(v).alias(f"{side}_nrm"),
        *extra,
    )


def pair_cosine() -> Column:
    """``cos_sim`` of a joined q/n :func:`pair_side` pair: the Arrow dot
    over ``dot/(q_nrm*n_nrm)``, the expression tree of inline cosine and
    of the oracles."""
    return (
        dot_pandas(F.col("q_vec"), F.col("n_vec"))
        / (F.col("q_nrm") * F.col("n_nrm"))
    ).alias("cos_sim")


def cosine_rank(scored: DataFrame) -> DataFrame:
    """``scored`` plus ``rk``: each query's candidates numbered by
    ``(cos_sim desc, n_id)``, the oracles' tie order."""
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.col("n_id"))
    return scored.withColumn("rk", F.row_number().over(w))


def cosine_topk(scored: DataFrame, k: int) -> DataFrame:
    """The top ``k`` rows per ``q_id`` of a ``(q_id, n_id, cos_sim, ...)``
    relation, ranked by :func:`cosine_rank`."""
    return cosine_rank(scored).filter(F.col("rk") <= k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Broadcast the query side: the corpus-side scan stays shuffle-free and
    the only exchange is the final per-query top-k.
    """
    q = pair_side(queries, "q")
    c = pair_side(corpus, "n")
    scored = c.join(F.broadcast(q), F.col("q_id") != F.col("n_id")).select(
        "q_id", "n_id", pair_cosine()
    )
    return cosine_topk(scored, k)


def kmeans_assign(corpus: DataFrame, k: int = 8, max_iter: int = 5) -> DataFrame:
    """Deterministic Lloyd's k-means over the embedding column — produces
    the cluster assignment IVF needs when no pre-clustering exists.

    Assignment is an Arrow-vectorized pass (one numpy matmul per batch
    against the k x dim centroid matrix — a per-row interpreted argmax
    over k centroids costs k x dim lambda evaluations, measured ~10x
    slower). Round-14 (guide §2.3 "aggregate before you shuffle"): each
    training round's centroid sums are accumulated INSIDE the same
    Arrow pass as the assignment (mapInArrow emitting one k x dim
    partial-sum batch per task) instead of a posexplode of every
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
    id non-NULL vectors (deterministic, no RNG); they set the dimension
    and must share one length (``ValueError`` otherwise). A NULL vector,
    one of another length, or one with a NULL element gets a NULL cluster
    and adds nothing to the centroid sums.
    """
    vecs = (
        corpus.select(
            F.col(ID_COL).alias("_id"), F.col(VEC_COL).cast("array<double>").alias("_v")
        )
        # materialized once on the first action, reused by every round
        .localCheckpoint(eager=False)
    )

    def _nearest(X: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
        """Max-cosine centroid of each row, -1 for a row with a NaN (a NULL
        element). argmax takes the FIRST max -> ties resolve to the lowest
        cluster id."""
        xn = np.sqrt((X * X).sum(axis=1))
        cn = np.sqrt((C * C).sum(axis=1))
        a = np.argmax((X @ C.T) / (xn[:, None] * cn[None, :]), axis=1)
        return np.where(np.isnan(X).any(axis=1), -1, a)

    def _assigned(C: "np.ndarray") -> DataFrame:
        @arrow_udf("int")
        def nearest(vs: pa.Array) -> pa.Array:
            out = np.full(len(vs), -1, dtype=np.int32)
            for idx, X in _length_groups(vs):
                if X.shape[1] == C.shape[1]:
                    out[idx] = _nearest(X, C)
            return pa.array(out, mask=out < 0)

        return vecs.withColumn("cluster", nearest(F.col("_v")))

    seed_rows = vecs.where(F.col("_v").isNotNull()).orderBy("_id").limit(k).collect()
    if not seed_rows:
        # empty corpus: the fixpoint is the empty assignment — return it
        # with the contract schema instead of crashing on a 0-row seed
        return corpus.select(
            F.col(ID_COL), F.lit(0).cast("int").alias("kmeans_cluster")
        ).limit(0)
    if len({len(r["_v"]) for r in seed_rows}) > 1:
        raise ValueError("kmeans_assign: the seed vectors differ in length")
    # cluster ids ordered by first vector component (stable, data-derived)
    C = np.array(
        [r["_v"] for r in sorted(seed_rows, key=lambda r: r["_v"][0])],
        dtype=np.float64,
    )
    for _ in range(max_iter):
        Cb = C

        def _partials(batches):
            S = np.zeros(Cb.shape, dtype=np.float64)
            N = np.zeros(Cb.shape[0], dtype=np.float64)
            for batch in batches:
                for _, X in _length_groups(batch.column("_v")):
                    if X.shape[1] != Cb.shape[1]:
                        continue
                    a = _nearest(X, Cb)
                    for c in range(Cb.shape[0]):
                        rows = X[a == c]
                        # sequential row fold — the old posexplode partial
                        # avg accumulated rows in this exact per-task order;
                        # a numpy pairwise sum would drift the centroids
                        for r_ in rows:
                            S[c] += r_
                        N[c] += len(rows)
            if not N.any():
                return
            cc, pp = np.indices(S.shape, dtype=np.int32)
            yield pa.RecordBatch.from_pydict(
                {
                    "cluster": cc.ravel(),
                    "pos": pp.ravel(),
                    "s": S.ravel(),
                    "n": np.repeat(N, S.shape[1]),
                }
            )

        sums = (
            vecs.select("_v")
            .mapInArrow(_partials, "cluster int, pos int, s double, n double")
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
        F.col("_id").alias(ID_COL), F.col("cluster").alias("kmeans_cluster")
    )


def hyperplanes() -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes for sign-LSH: component
    (j, d) = md5("LSH_SEED|j|d") first 12 hex nibbles, normalized to
    (-1, 1), for ``LSH_BITS`` planes over ``LSH_DIM`` dims.

    Derived driver-side with hashlib so the SAME float literals can be
    embedded in both the Spark plan and a SQL oracle — cross-engine
    bitwise-identical bucketing without sharing any RNG.
    """
    import hashlib

    return [
        [
            int(hashlib.md5(f"{LSH_SEED}|{j}|{d}".encode()).hexdigest()[:12], 16)
            / float(1 << 48)
            * 2.0
            - 1.0
            for d in range(LSH_DIM)
        ]
        for j in range(LSH_BITS)
    ]


def random_hyperplane_bands(df: DataFrame) -> DataFrame:
    """(id, band, bsig) rows: sign-LSH signature split into bands.

    bit_j = [dot(v, w_j) > 0]; bands of ``LSH_BAND_BITS`` bits bucket
    together (two vectors collide in a band with probability
    (1 - theta/pi)^LSH_BAND_BITS — the random-projection analog of
    MinHash banding).

    The projections are computed in an Arrow UDF: a
    higher-order-function fold is interpreted per element (16 planes x 64
    dims = 1024 interpreted ops per row — measured ~1 ms/row), while the
    UDF does one :func:`_fold` over all planes per BATCH, with the exact
    IEEE operation sequence of the DuckDB oracle's list_dot_product —
    sign bits, and therefore buckets, stay bitwise-identical cross-engine.
    A NULL vector, one whose length is not ``LSH_DIM``, or one with a
    NULL, NaN or infinite element has no finite dot product with the
    planes and gets no band rows. The band explode
    multiplies rows only after signatures are computed.
    """
    W = np.array(hyperplanes())
    n_bands = LSH_BITS // LSH_BAND_BITS
    place = 1 << np.arange(LSH_BAND_BITS - 1, -1, -1)  # first bit is the MSB

    @arrow_udf("array<int>")
    def band_sigs(vecs: pa.Array) -> pa.Array:
        parts = []
        for idx, X in _length_groups(vecs):
            if X.shape[1] == W.shape[1]:
                P = _fold(X[:, None], W[None])  # (rows, LSH_BITS)
                ok = np.isfinite(P).all(axis=1)
                sigs = (P[ok] > 0).reshape(-1, n_bands, LSH_BAND_BITS) @ place
                parts.append((idx[ok], sigs))
        return _list_rows(len(vecs), parts, pa.int32())

    return df.select(
        F.col(ID_COL).alias("vec_id_"),
        F.posexplode(band_sigs(F.col(VEC_COL).cast("array<double>"))).alias(
            "band", "bsig"
        ),
    ).select(
        F.col("vec_id_").alias(ID_COL),
        "band",
        F.col("bsig").cast("int").alias("bsig"),
    )


def rp_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    corpus_bands: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via random-hyperplane (sign) LSH: candidates are
    pairs sharing ANY signature band; exact cosine ranks them. The
    candidate step is an equi-join on (band, bsig) — at scale the corpus is
    bucketed by band signature so a query touches only colliding buckets,
    the same access pattern as the MinHash-LSH dedup path.

    ``corpus_bands``: the corpus's (id, band, bsig) relation from
    :func:`random_hyperplane_bands` — a persisted ANN index shared across
    queries, what a real deployment maintains instead of re-signing the
    corpus per lookup.
    """
    qb = random_hyperplane_bands(queries)
    pairs = (
        qb.withColumnRenamed(ID_COL, "q_id")
        .join(
            F.broadcast(corpus_bands.withColumnRenamed(ID_COL, "n_id")),
            ["band", "bsig"],
        )
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    scored = (
        pairs.join(F.broadcast(pair_side(queries, "q")), "q_id")
        .join(pair_side(corpus, "n"), "n_id")
        .select("q_id", "n_id", pair_cosine())
    )
    return cosine_topk(scored, k)


def ivf_parts(
    corpus: DataFrame,
    queries: DataFrame,
    nprobe: int = 2,
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
        F.posexplode(F.col(VEC_COL)).alias("pos", "x"),
    )
    centroids = (
        exploded.groupBy("cluster", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cluster", F.col("pm").getField("m").alias("centroid"))
    )
    q = pair_side(queries, "q")
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
    c = pair_side(corpus, "n", F.col(cluster_col).alias("cluster"))
    scored = (
        c.join(F.broadcast(probes), "cluster")
        .filter(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", "cluster", pair_cosine())
    )
    return probes.select("q_id", "cluster"), scored


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    cluster_col: str = "label",
) -> DataFrame:
    """Approximate top-k: probe the nprobe clusters whose centroids are
    nearest each query, brute-force only inside them.

    Centroids are a tiny aggregate (one row per cluster) — broadcast to the
    query side; the candidate search is an equi-join on cluster id, which at
    scale hits only the probed partitions of a cluster-bucketed corpus.
    """
    _, scored = ivf_parts(corpus, queries, nprobe=nprobe, cluster_col=cluster_col)
    return cosine_topk(scored, k).select("q_id", "n_id", "cos_sim", "rk")


# ---------------------------------------------------------------------------
# scalar (int8) quantization
# ---------------------------------------------------------------------------


def scalar_quantize_stats(df: DataFrame) -> DataFrame:
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
    IEEE doubles in the same order. Rows are stacked by length, so a
    dense batch is one matrix and ragged rows still get per-row results.
    Hostile rows get what the lambda gave: a NULL or empty vector has no
    range and yields NULL, and a NULL element (NaN in the batch) is
    skipped by ``nanmax`` as array_max skipped the lambda's NULL cell."""
    mn = F.array_min(F.col(VEC_COL)).cast("double")
    mx = F.array_max(F.col(VEC_COL)).cast("double")

    @arrow_udf("double")
    def _max_abs_err(vs: pa.Array, mns: pa.Array, mxs: pa.Array) -> pa.Array:
        out = np.full(len(vs), np.nan)
        for idx, X in _length_groups(vs):
            if X.shape[1] == 0:
                continue
            mn_a = mns.to_numpy(zero_copy_only=False)[idx, None]
            s = (mxs.to_numpy(zero_copy_only=False)[idx, None] - mn_a) / 255.0
            q = (X - mn_a) / s
            fl = np.floor(q)
            r = fl + ((q - fl) >= 0.5)  # exact HALF_UP for non-negative q
            out[idx] = np.nanmax(np.abs(X - (r * s + mn_a)), axis=1)
        return _nulled(out)

    return df.select(
        F.col(ID_COL),
        F.round(mn, 6).alias("q_min"),
        F.round(mx, 6).alias("q_max"),
        F.when(mx == mn, F.lit(0.0))
        .otherwise(
            F.round(
                _max_abs_err(F.col(VEC_COL).cast("array<double>"), mn, mx), 6
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
    k: int = 8,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-Marginal-Relevance selection: pick k vectors maximizing
    ``lam * rel(q, x) - (1 - lam) * max_sim(x, selected)`` — the
    diversity-aware sampling step of dataset curation (pure top-k returns
    near-duplicates; MMR spends the budget on coverage).

    Two stages, the standard retrieve-then-rerank split:
      1. DISTRIBUTED shortlist: one Arrow-vectorized relevance pass over
         the corpus, TakeOrdered top-64 — the only part that
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
    relevance) for the k picks. A NULL vector, or one whose length is not
    the query's, has a NULL relevance and is never shortlisted."""
    q = np.asarray(query_vec, dtype=np.float64)
    q /= np.sqrt((q * q).sum())

    @arrow_udf("array<double>")
    def unit_pa(xs: pa.Array) -> pa.Array:
        parts = [
            (idx, X / np.sqrt((X * X).sum(axis=1, keepdims=True)))
            for idx, X in _length_groups(xs)
        ]
        return _list_rows(len(xs), parts, pa.float64())

    base = df.select(F.col(ID_COL).alias("_id"), unit_pa(F.col(VEC_COL)).alias("_u"))
    qb = F.array(*[F.lit(float(v)) for v in q])
    short = (
        base.select("_id", "_u", dot_pandas(F.col("_u"), qb).alias("_rel"))
        .where(F.col("_rel").isNotNull())
        .orderBy(F.desc("_rel"), F.asc("_id"))
        .limit(64)
        .collect()
    )
    ids = [r["_id"] for r in short]
    rel = np.asarray([r["_rel"] for r in short], dtype=np.float64)
    # every shortlisted vector has the query's length: at most one group
    us = pa.array([r["_u"] for r in short], pa.list_(pa.float64()))
    _, U = next(_length_groups(us), (None, None))

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

    out = rows(
        df.sparkSession,
        [(ids[i], rank + 1, float(rel[i])) for rank, i in enumerate(picked)],
        f"{ID_COL} long, mmr_rank int, relevance double",
    )
    return out.select(ID_COL, "mmr_rank", F.round("relevance", 6).alias("relevance"))


# ---------------------------------------------------------------------------
# within-block exact cosine pairs
# ---------------------------------------------------------------------------


def block_cosine_pairs(
    df: DataFrame,
    block_cols: "list[str]",
    floor: float,
) -> DataFrame:
    """``(id_a, id_b, raw)``: every pair ``id_a < id_b`` of one block whose
    cosine ``raw`` is not under ``floor``, ids of ``ID_COL``'s type.

    One grouped Arrow pass: a block's vectors cross the Python boundary
    once (a per-pair formulation ships both vectors per pair), sorted by
    id, and each :func:`_length_groups` matrix runs through the
    :func:`_cosine_tiles` scan — quadratic only within a block, in
    ``TILE x TILE`` memory. Only pairs not under ``floor`` come back, so
    a block yields its near pairs, not all n(n-1)/2; the caller's exact
    decision stays in Spark. A NULL vector forms no pair, vectors of
    different lengths are never paired, and a NaN cosine (a zero-norm
    vector) is never under the floor: it crosses Arrow as NULL, and the
    Spark-side decision drops it."""

    def verify(block: pa.Table) -> pa.Table:
        block = block.sort_by("_id")
        ids = block.column("_id")
        out = [(np.empty(0, dtype=np.int64),) * 2 + (np.empty(0),)]
        for idx, X in _length_groups(block.column("_v")):
            for i0, j0, cos in _cosine_tiles(X, X):
                ii, jj = np.indices(cos.shape)
                # upper triangle (id_a < id_b), minus pairs under the floor
                keep = ((i0 + ii) < (j0 + jj)) & ~(cos < floor)
                out.append((idx[i0 + ii[keep]], idx[j0 + jj[keep]], cos[keep]))
        a, b, raw = (np.concatenate(c) for c in zip(*out))
        return pa.table({"id_a": ids.take(a), "id_b": ids.take(b), "raw": _nulled(raw)})

    id_type = df.schema[ID_COL].dataType.simpleString()
    return (
        df.select(*block_cols, F.col(ID_COL).alias("_id"), F.col(VEC_COL).alias("_v"))
        .groupBy(*block_cols)
        .applyInArrow(verify, f"id_a {id_type}, id_b {id_type}, raw double")
    )


def semantic_dedup_prune(
    emb: DataFrame,
    bands: DataFrame,
    max_bucket_size: int,
    tau: float = 0.35,
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

    ``bands``: the (id, band, bsig) relation of :func:`random_hyperplane_bands`
    over ``emb`` — the persisted sign-LSH index that also serves
    :func:`rp_lsh_topk`.

    Output: (id, kept, n_near) — n_near counts verified partners on either
    side, the neighborhood-density signal SemDedup thresholds on.
    Quadratic only within an LSH bucket — and, round-7 fix, a bucket is
    CAPPED: the band space is a fixed 2^LSH_BAND_BITS signatures, so with
    clustered vectors (the whole point of SemDedup) a bucket's size
    grows with the corpus and its self-join grows quadratically (the
    100x probe measured the blow-up at 128k vectors: most of a label's
    vectors share a sign signature). ``max_bucket_size`` (an int >= 1,
    required so no caller gets the quadratic by omission) hash-splits
    over-cap (band, bsig) buckets into ceil(n/cap) deterministic
    md5-hex4 sub-buckets — pairs are generated within a sub-bucket only,
    bounding candidates at ~N*cap/2 per band (LINEAR), the
    blocked_jaccard_pairs recipe. A bucket at or under the cap is one
    sub-bucket, i.e. all its pairs; pass a cap at least the largest
    bucket's size for plain banding. Cross-sub near-dups are the
    documented recall trade (a greedy keep-first dedup tolerates it).
    """
    if not isinstance(max_bucket_size, int) or max_bucket_size < 1:
        raise ValueError(f"max_bucket_size must be an int >= 1, got {max_bucket_size!r}")
    counts = bands.groupBy("band", "bsig").agg(F.count(F.lit(1)).alias("_bn"))
    bands = bands.join(F.broadcast(counts), ["band", "bsig"]).select(
        ID_COL, "band", "bsig",
        sub_block(F.col(ID_COL), "_bn", max_bucket_size).alias("_sub"),
    )
    # Round-14 verify (guide §8 / §4.2, VERDICT-r13 #7): candidate
    # generation AND cosine verify run in ONE grouped Arrow pass per
    # (band, bsig, _sub) bucket (block_cosine_pairs), replacing the JVM
    # per-pair path that joined BOTH 64-dim vectors onto ~465k candidate
    # pairs (sf0.1) and folded them through the interpreted
    # zip_with/aggregate lambda. History of this hot loop, all measured
    # at sf0.1: per-pair Arrow dot (both vectors shipped per pair)
    # 2x SLOWER than the JVM fold (6.2 vs 3.0 s, round 12); 64-term
    # unrolled codegen dot REJECTED (cold 9.1 -> 26.1 s — JIT bloat,
    # round 13); this per-bucket shape measured cold 6.96 -> 2.07 s /
    # warm 1.22 -> 0.63 s with byte-identical output (round 14 probe).
    # The 6-dp round + >= tau decision stays in Spark; the pass drops
    # only pairs under a floor below it.
    cand = bands.join(emb.select(ID_COL, VEC_COL), ID_COL)
    raw_pairs = block_cosine_pairs(cand, ["band", "bsig", "_sub"], tau - 1e-6)
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
        dup.select(F.col("id_a").alias(ID_COL))
        .unionAll(dup.select(F.col("id_b").alias(ID_COL)))
        .groupBy(ID_COL)
        .agg(F.count(F.lit(1)).cast("long").alias("n_near"))
    )
    dropped = dup.select(F.col("id_b").alias(ID_COL)).distinct().withColumn(
        "_dropped", F.lit(True)
    )
    return (
        emb.select(ID_COL)
        .join(partners, ID_COL, "left")
        .join(dropped, ID_COL, "left")
        .select(
            ID_COL,
            F.coalesce("_dropped", F.lit(False)).alias("is_dropped"),
            F.coalesce("n_near", F.lit(0)).alias("n_near"),
        )
        .withColumn("kept", ~F.col("is_dropped"))
        .drop("is_dropped")
    )
