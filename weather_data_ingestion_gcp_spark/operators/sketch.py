"""Portable sketches: Bloom membership, Count-Min frequency, KMV distinct
count and Misra-Gries heavy hitters, each decision spelled once.

Every sketch hashes with md5 hex slices read by base conversion
(``sampling.hex_int``; DuckDB mirror ``oracle_sql.hex_sql``), never an
engine-native hash, so a sketch comes out bit-for-bit the same on any
engine, run and partitioning. ``plans/oracle_sql.py`` builds each one's
DuckDB mirror from the constants here.

- **Bloom** (``BLOOM_K``): a key's ``BLOOM_K`` bit positions are disjoint
  ``hexw``-digit slices of its md5 (m = 16^hexw bits). The build folds
  them into one packed int64 bitset on the driver
  (``bloom_bitset_words``; ``bloom_xl_build`` picks ``hexw`` from the
  build cardinality); a probe row's hit count is how many of its
  positions are lit (``bloom_hits``), and a member has all ``BLOOM_K``.
  No false negatives by construction. A NULL build key lights nothing; a
  NULL probe key has 0 hits.
- **Count-Min** (``CMS_D``): row ``seed``'s bucket of a key is the
  md5-hex4 integer of ``"seed|key"`` mod the caller's width; a key's
  estimate is the min over the rows of its cells' count sums, never
  under the true count. A NULL key has no bucket: it adds to no cell and
  gets no estimate.
- **KMV** (``KMV_K``, ``KMV_SPACE``): per group, the ``KMV_K`` smallest
  distinct md5 fingerprints of the key; the estimate is the exact count
  below ``KMV_K``, else (k - 1) / u_k with u_k the k-th minimum's first
  12 hex digits over ``KMV_SPACE``. NULL keys are skipped.
- **Misra-Gries**: one k-counter step (``mg_update``) runs in the batch
  candidates (``mg_partial_candidates``) and in the streaming twin
  (``streaming/stateful.py``). NULL is a key like any other, as in
  ``GROUP BY``.

The PLAN-level Bloom analog, Spark's runtime bloom-filter join pruning,
is pinned in tests/test_scale_plans.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import store
from .sampling import hex_int

# ---------------------------------------------------------------------------
# Bloom: one position spelling, one packed bitset, one per-row hit count
# ---------------------------------------------------------------------------

#: bit positions per key
BLOOM_K = 4
#: the prefilter's default slice width: 5 hex digits -> m = 2^20 bits, a
#: packed bitset of m/64 longs = 128 KB, ~1% false positives at ~100k
#: build keys (kn/m = 0.38 -> (1 - e^-0.38)^4). A FIXED width saturates:
#: at ~2.4M build grams every bit is lit and the prune passes everything
#: (decontaminate_bloom_prefilter warm 13.5 s -> 220 s across sf1 ->
#: sf10), so `bloom_xl_width` picks the width from the build cardinality:
#: 5 hex up to ~130k keys, 6 hex (2^24 bits / 2 MB) to ~2M, 7 hex (2^28 /
#: 32 MB, still a bounded broadcast) beyond, holding >= ~8 bits per key.
#: A prune is result-transparent at any width (an exact join removes the
#: false positives), so width only moves the perf curve.
BLOOM_XL_HEXW = 5
BLOOM_XL_M = 1 << (4 * BLOOM_XL_HEXW)


def bloom_xl_width(n_keys: float) -> int:
    """Smallest supported hex-slice width giving >= ~8 bits per key."""
    for hexw in (5, 6, 7):
        if (1 << (4 * hexw)) >= 8 * max(n_keys, 1):
            return hexw
    return 7


def bloom_positions(key: Column, hexw: int) -> list[Column]:
    """The ``BLOOM_K`` bit positions of ``key`` in [0, 16^hexw): disjoint
    ``hexw``-digit slices of its md5 (NULL for a NULL key)."""
    fp = F.md5(key)
    return [hex_int(fp, start=hexw * j + 1, width=hexw) for j in range(BLOOM_K)]


def bloom_bitset_words(
    df: DataFrame, key_col: str, hexw: int = BLOOM_XL_HEXW
) -> np.ndarray:
    """Fold the non-NULL build keys' positions into a packed ``m/64``-long
    int64 bitset on the driver. The fold is distributed: positions group
    to word indexes with a BIT_OR partial aggregate, so the collect is at
    most m/64 rows, NOT O(build keys), and it rides Arrow (``toArrow`` +
    a numpy scatter), never py4j Rows. The words stay one ndarray into
    the probe (a Python-int list of 2^22 words took ~1 s to convert
    back)."""
    m = 1 << (4 * hexw)
    folded = (
        df.where(F.col(key_col).isNotNull())
        .select(F.explode(F.array(*bloom_positions(F.col(key_col), hexw))).alias("pos"))
        .groupBy(F.expr("CAST(pos DIV 64 AS INT)").alias("w"))
        .agg(
            F.expr(
                "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT)))"
            ).alias("bits")
        )
        .toArrow()
    )
    words = np.zeros(m >> 6, dtype=np.int64)
    words[folded.column("w").to_numpy()] = folded.column("bits").to_numpy()
    return words


def bloom_xl_build(df: DataFrame, key_col: str) -> tuple[np.ndarray, int]:
    """Adaptively-sized build: fold at ``BLOOM_XL_HEXW``, estimate the
    build cardinality from that fold's fill by linear counting (``lit`` of
    m bits lit by ``BLOOM_K`` positions per key: n = -(m/k) ln(1 - lit/m)),
    and refold only when ``bloom_xl_width(n)`` is wider, past ~131k keys;
    a full bitset estimates infinity, the widest slice. Below that it is
    one fold, one Spark job. Returns (words, hexw) — hand both to the
    probe so its positions use the same slices."""
    words = bloom_bitset_words(df, key_col)
    lit = int(np.unpackbits(words.view(np.uint8)).sum())
    with np.errstate(divide="ignore"):
        n = -(BLOOM_XL_M / BLOOM_K) * np.log1p(-lit / BLOOM_XL_M)
    hexw = bloom_xl_width(n)
    if hexw != BLOOM_XL_HEXW:
        words = bloom_bitset_words(df, key_col, hexw)
    return words, hexw


def _bloom_lit(
    df: DataFrame, key_col: str, words: np.ndarray, hexw: int
) -> tuple[DataFrame, list[Column]]:
    """``df`` plus the bitset column ``_bf`` (drop it after use), and per
    position of the key, 1 if its bit is lit, else 0 (NULL for a NULL
    key). The bitset enters the plan as a scalar subquery over a 1-row
    Arrow relation, computed once and shipped with the stage; projecting
    it as one column keeps it one subquery, where each slice naming it
    would plan four, each holding its own copy of the words. The test is
    pure codegen bit arithmetic (array subscript + shiftright + mask) per
    row — no join, no exchange on the probe side."""
    bits = store.rows(df.sparkSession, [(words,)], "_bf array<bigint>").scalar()
    lit = [
        F.call_function(
            "shiftright",
            F.element_at(F.col("_bf"), F.shiftright(p, 6).cast("int") + 1),
            p.bitwiseAND(63).cast("int"),
        ).bitwiseAND(1)
        for p in bloom_positions(F.col(key_col), hexw)
    ]
    return df.withColumn("_bf", bits), lit


def bloom_hits(df: DataFrame, key_col: str, words: np.ndarray, hexw: int) -> DataFrame:
    """``df`` plus ``n_hits`` (long): how many of the key's ``BLOOM_K``
    positions are lit in ``words`` (folded at the same ``hexw``); 0 for a
    NULL key. ``n_hits == BLOOM_K`` is the maybe-member verdict."""
    out, lit = _bloom_lit(df, key_col, words, hexw)
    n_hits = sum(F.coalesce(b, F.lit(0)) for b in lit).cast("long")
    return out.withColumn("n_hits", n_hits).drop("_bf")


def bloom_xl_prune(
    df: DataFrame, key_col: str, words: np.ndarray, hexw: int = BLOOM_XL_HEXW
) -> DataFrame:
    """Map-side prune: keep only rows whose key has all ``BLOOM_K`` bits
    lit — the ``bloom_hits`` test as a short-circuit conjunction (a filter
    on the hit count evaluates every slice: 2x slower on 3M rows),
    evaluated per row before any downstream exchange, so the pruned
    relation is what shuffles, not the input."""
    out, lit = _bloom_lit(df, key_col, words, hexw)
    cond = lit[0] == 1
    for b in lit[1:]:
        cond = cond & (b == 1)
    return out.filter(cond).drop("_bf")


# ---------------------------------------------------------------------------
# Count-Min: one seeded bucket, one estimator over a (key, count) relation
# ---------------------------------------------------------------------------

#: independent hash rows; the width (buckets per row) is the caller's
CMS_D = 4


def cms_bucket(key: Column, seed: int, width: int) -> Column:
    """Row-``seed`` bucket of ``key`` in [0, width): the md5-hex4 integer
    of ``"seed|key"`` mod ``width``; NULL for a NULL key."""
    return hex_int(F.md5(F.concat(F.lit(f"{seed}|"), key.cast("string")))) % width


def countmin_estimate(
    counts: DataFrame, key_col: str, count_col: str, width: int
) -> DataFrame:
    """(key_col, count_col, est_count): the Count-Min estimate of each
    key of the ``(key, count)`` relation ``counts`` (one row per key).
    The sketch is ``CMS_D`` x ``width`` cells of count sums — bounded,
    mergeable (cells add) and broadcast back to the keys; the estimate
    is the min over rows of the key's cells, never under its count. A
    NULL key has no bucket and no estimate row."""
    seeds = F.array(
        *[
            F.struct(F.lit(s).alias("seed"), cms_bucket(F.col(key_col), s, width).alias("bucket"))
            for s in range(CMS_D)
        ]
    )
    sb = counts.select(key_col, count_col, F.inline(seeds))
    cells = sb.groupBy("seed", "bucket").agg(F.sum(count_col).cast("long").alias("c"))
    return (
        sb.join(F.broadcast(cells), ["seed", "bucket"])
        .groupBy(key_col, count_col)
        .agg(F.min("c").cast("long").alias("est_count"))
    )


# ---------------------------------------------------------------------------
# KMV: one grouped k-minimum-values estimator
# ---------------------------------------------------------------------------

#: fingerprints kept per group
KMV_K = 64
#: 2^48: 12 hex digits normalize to (0, 1) with exact double representation
KMV_SPACE = float(1 << 48)


def kmv_estimate(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """(group_col, est): the KMV distinct-count estimate of non-NULL
    ``key_col`` per ``group_col`` — the exact count below ``KMV_K``
    fingerprints, else (k - 1) / u_k. The rank window runs over the
    DISTINCT (group, fingerprint) relation (partial aggregation collapses
    duplicates before the shuffle) and plans as a WindowGroupLimit; KMV
    merges hierarchically (k-min of per-partition k-mins) at any scale."""
    h = (
        df.where(F.col(key_col).isNotNull())
        .select(group_col, F.md5(F.col(key_col).cast("string")).alias("hh"))
        .distinct()
    )
    sk = (
        h.withColumn("rn", F.row_number().over(Window.partitionBy(group_col).orderBy("hh")))
        .filter(F.col("rn") <= KMV_K)
        .groupBy(group_col)
        .agg(F.max("hh").alias("kth"), F.count(F.lit(1)).alias("m"))
    )
    u_k = hex_int(F.col("kth"), width=12).cast("double") / F.lit(KMV_SPACE)
    est = F.when(F.col("m") < KMV_K, F.col("m").cast("double")).otherwise(
        F.lit(KMV_K - 1.0) / u_k
    )
    return sk.select(group_col, est.alias("est"))


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (MG'82): per-partition k-counter summaries,
# whose key-union is a guaranteed SUPERSET of every item with global
# frequency > n/k (pigeonhole: a global heavy hitter exceeds the local
# n_p/k bar in at least one partition). An exact count of only the
# candidates then yields the exact heavy-hitter set with one narrow
# shuffle — the two-phase shape that scans 100 TB once and shuffles
# O(partitions * k) rows instead of O(distinct keys).
# ---------------------------------------------------------------------------


def _mg_kernel():
    """The k-counter step, built as a closure so cloudpickle ships it BY
    VALUE into the Arrow and state-store workers: a module-level function
    is pickled by reference, and a Python worker whose sys.path lacks
    this repo dies importing it (the ``similarity._numpy_kernels``
    pattern)."""

    def mg_update(counters: dict, keys, k: int) -> None:
        """Feed ``keys`` through the k-counter summary ``counters`` in
        place: increment a held key; admit a new one while fewer than k
        are held; else decrement every counter, dropping those at 0."""
        for key in keys:
            if key in counters:
                counters[key] += 1
            elif len(counters) < k:
                counters[key] = 1
            else:
                for c in list(counters):
                    counters[c] -= 1
                    if counters[c] == 0:
                        del counters[c]

    return mg_update


mg_update = _mg_kernel()


def mg_partial_candidates(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries -> distinct candidate keys, in
    the key's own type (NULL included). mapInArrow runs ``mg_update`` over
    each partition, emitting at most k keys per partition, so shuffle
    state is bounded by partitions * k rows at any input cardinality."""
    import pyarrow as pa

    keys = df.select(key_col)

    def summarize(batches):
        counters: dict = {}
        field = None
        for batch in batches:
            field = batch.schema.field(0)
            mg_update(counters, batch.column(0).to_pylist(), k)
        if counters:
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(counters), type=field.type)], schema=pa.schema([field])
            )

    return keys.mapInArrow(summarize, schema=keys.schema).distinct()


def mg_heavy_hitters(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Exact heavy hitters (count * k > n) via the MG candidate superset.

    Phase 1 scans once and emits <= partitions * k candidates; phase 2
    exact-counts ONLY rows matching a candidate (a broadcast null-safe
    semi-join, so a NULL key counts as its GROUP BY group does) and keeps
    those over the n/k bar. Output equals the exact answer by the
    superset guarantee -- hash-checkable against a plain GROUP BY oracle."""
    cands = mg_partial_candidates(df, key_col, k).withColumnRenamed(key_col, "_cand")
    total = df.select(F.count(F.lit(1)).alias("n_total"))
    return (
        df.join(F.broadcast(cands), F.col(key_col).eqNullSafe(F.col("_cand")), "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .crossJoin(F.broadcast(total))
        .where(F.col("exact_count") * k > F.col("n_total"))
        .select(key_col, "exact_count", "n_total")
    )
