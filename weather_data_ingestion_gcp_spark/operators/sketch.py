"""Portable Bloom-filter membership sketch.

The sketch is a RELATION: the distinct set of hash positions lit by the
build side's keys — at most ``m`` rows regardless of build cardinality,
so it broadcasts. Hashing is k disjoint 16-bit slices of md5 (no
engine-native hash functions), making the sketch bit-for-bit reproducible
across engines, runs, and partitionings — the same portability contract
as the KMV sketch and the hash samplers.

No false negatives by construction: a probed key whose positions were all
lit by an identical build key always reports maybe_member. False-positive
rate is the standard (1 - e^{-kn/m})^k.

This is the DATA-level bloom (a query you can run and oracle-check); the
PLAN-level analog — Spark's runtime bloom-filter join pruning injecting
might_contain on the probe side — is pinned in tests/test_scale_plans.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import store
from .sampling import hex_int

#: k hash positions from disjoint 16-bit md5 slices -> m = 65536 bits.
BLOOM_K = 4
BLOOM_M = 1 << 16


def bloom_positions(key: Column) -> list[Column]:
    """k position columns in [0, m) for a key: nibble-group slices of its
    md5, converted via base-16 string conv (portable to any SQL dialect)."""
    fp = F.md5(key)
    return [hex_int(fp, start=4 * j + 1) for j in range(BLOOM_K)]


def bloom_build(df: DataFrame, key_col: str) -> DataFrame:
    """Build the bit-set relation: one row per DISTINCT lit position
    (column ``pos``). Bounded by m rows — always broadcastable."""
    return (
        df.select(F.explode(F.array(*bloom_positions(F.col(key_col)))).alias("pos"))
        .distinct()
    )


def bloom_probe(df: DataFrame, bits: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """Probe: per row, how many of its k positions are lit, and the
    maybe_member verdict (all k lit). The join is a broadcast of the
    bit set against a map-side explode of the probe keys — the probe
    relation never shuffles."""
    probe = df.select(
        F.col(id_col),
        F.explode(F.array(*bloom_positions(F.col(key_col)))).alias("pos"),
    )
    return (
        probe.join(F.broadcast(bits.withColumn("_hit", F.lit(1))), "pos", "left")
        .groupBy(id_col)
        .agg(F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hits"))
        .select(
            id_col,
            "n_hits",
            (F.col("n_hits") == BLOOM_K).cast("int").alias("maybe_member"),
        )
    )


# ---------------------------------------------------------------------------
# count-min sketch (heavy hitters / frequency estimation)
# ---------------------------------------------------------------------------

#: d independent hash rows x w buckets -> d*w cells total.
CMS_D = 4
CMS_W = 256


def cms_bucket(key: Column, seed: int) -> Column:
    """Bucket in [0, w) for one hash row: 16-bit md5 slice of the seeded
    key, mod w — portable (md5 + base conversion only) like the Bloom and
    KMV sketches, so estimates reproduce bit-for-bit anywhere."""
    h = F.md5(F.concat_ws("|", F.lit(str(seed)), key.cast("string")))
    return (hex_int(h) % CMS_W).alias("bucket")


def countmin_build(df: DataFrame, key_col: str) -> DataFrame:
    """Build the sketch: (seed, bucket, c) cell counts. At most d*w rows
    (1024 here) regardless of input cardinality — a bounded, broadcastable,
    MERGEABLE summary (cells of two sketches add), which is what makes it
    the streaming/distributed frequency sketch."""
    sb = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"), cms_bucket(F.col(key_col), s).alias("bucket")
            )
            for s in range(CMS_D)
        ]
    )
    return (
        df.select(F.explode(sb).alias("sb"))
        .select("sb.seed", "sb.bucket")
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def countmin_estimate(cells: DataFrame, probes: DataFrame, key_col: str) -> DataFrame:
    """Estimate each probe key's frequency: MIN over the d rows of its
    cell counts (classic CMS upper-bound estimate; never underestimates).
    The sketch side broadcasts; the probe side never shuffles."""
    sb = F.array(
        *[
            F.struct(
                F.lit(s).alias("seed"), cms_bucket(F.col(key_col), s).alias("bucket")
            )
            for s in range(CMS_D)
        ]
    )
    probe = probes.select(F.col(key_col), F.explode(sb).alias("sb")).select(
        key_col, "sb.seed", "sb.bucket"
    )
    return (
        probe.join(F.broadcast(cells), ["seed", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("c", F.lit(0))).cast("long").alias("est_count"))
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (MG'82): per-partition k-counter summaries,
# whose key-union is a guaranteed SUPERSET of every item with global
# frequency > n/k (pigeonhole: a global heavy hitter exceeds the local
# n_p/k bar in at least one partition). An exact count of only the
# candidates then yields the exact heavy-hitter set with one narrow
# shuffle — the two-phase shape that scans 100 TB once and shuffles
# O(partitions * k) rows instead of O(distinct keys).
# ---------------------------------------------------------------------------


def mg_partial_candidates(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries -> distinct candidate keys.

    mapInPandas runs the classic k-counter stream over each partition
    (increment if present; admit if a slot is free; else decrement all),
    emitting at most k candidate keys per partition. Driver/shuffle state
    is bounded by partitions * k rows regardless of input cardinality.
    """
    import pandas as pd

    out_schema = f"{key_col} string"

    def summarize(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for key in pdf[key_col]:
                if key in counters:
                    counters[key] += 1
                elif len(counters) < k:
                    counters[key] = 1
                else:
                    for c in list(counters):
                        counters[c] -= 1
                        if counters[c] == 0:
                            del counters[c]
        yield pd.DataFrame({key_col: list(counters)})

    return df.select(key_col).mapInPandas(summarize, schema=out_schema).distinct()


def mg_heavy_hitters(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Exact heavy hitters (count * k > n) via the MG candidate superset.

    Phase 1 scans once and emits <= partitions * k candidates; phase 2
    exact-counts ONLY rows matching a candidate (broadcast semi-join
    reaches the scan as a pushed filter at real scale) and keeps those
    over the n/k bar. Output equals the exact answer by the superset
    guarantee -- hash-checkable against a plain GROUP BY oracle."""
    cands = mg_partial_candidates(df, key_col, k)
    total = df.select(F.count(F.lit(1)).alias("n_total"))
    return (
        df.join(F.broadcast(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .crossJoin(F.broadcast(total))
        .where(F.col("exact_count") * k > F.col("n_total"))
        .select(key_col, "exact_count", "n_total")
    )


# ---------------------------------------------------------------------------
# packed-bitset bloom (the broadcast map-side prefilter)
# ---------------------------------------------------------------------------

#: the prefilter bloom is wider than the 16-bit demo sketch above:
#: m = 2^20 bits (the default) keeps the false-positive rate ~1% at
#: ~100k build keys (kn/m = 0.38 -> (1 - e^-0.38)^4), and the packed
#: bitset is m/64 longs = 128 KB. Positions come from four disjoint
#: hex-slice md5 windows, same cross-engine portability contract as
#: above. The round-7 100x probe caught the FIXED width saturating: at
#: ~2.4M build grams every bit is lit, FP ~ 1, the prune passes
#: everything, and the "prefiltered" join degenerates to the unpruned
#: one (decontaminate_bloom_prefilter warm 13.5 s -> 220 s across the
#: sf1 -> sf10 decade). `bloom_xl_width` therefore picks the slice
#: width from the build cardinality: 5 hex (2^20 bits / 128 KB) up to
#: ~130k keys, 6 hex (2^24 / 2 MB) to ~2M, 7 hex (2^28 / 32 MB — still
#: a bounded broadcast) beyond, holding bits-per-key >= ~8 so FP stays
#: ~<3%. The prune is result-transparent either way (the exact join
#: removes false positives), so width only moves the perf curve.
BLOOM_XL_K = 4
BLOOM_XL_HEXW = 5
BLOOM_XL_M = 1 << 20


def bloom_xl_width(n_keys: int) -> int:
    """Smallest supported hex-slice width giving >= ~8 bits per key."""
    for hexw in (5, 6, 7):
        if (1 << (4 * hexw)) >= 8 * max(n_keys, 1):
            return hexw
    return 7


def bloom_xl_positions(key: Column, hexw: int = BLOOM_XL_HEXW) -> list[Column]:
    fp = F.md5(key)
    return [hex_int(fp, start=hexw * j + 1, width=hexw) for j in range(BLOOM_XL_K)]


def bloom_bitset_words(
    df: DataFrame, key_col: str, hexw: int = BLOOM_XL_HEXW
) -> np.ndarray:
    """Fold the build side's lit positions into a packed ``m/64``-long
    bitset on the driver. The fold is distributed: positions group to
    word indexes with a BIT_OR partial aggregate, so the collect is at
    most m/64 rows (16 KiB of longs per 2^20 bits), NOT O(build keys).
    The collect rides Arrow (``toArrow`` + a numpy scatter), never py4j
    Rows — at the 7-hex width the fold is up to 2^22 words, and Row
    objects cost ~10x the raw longs (the round-7 advisor finding). The
    words stay one int64 ndarray all the way into the probe's Arrow
    relation (a Python-int list of 2^22 words took ~1 s to convert back).
    No false negatives by construction (identical md5 arithmetic on build
    and probe)."""
    m = 1 << (4 * hexw)
    folded = (
        df.select(
            F.explode(
                F.array(*bloom_xl_positions(F.col(key_col), hexw))
            ).alias("pos")
        )
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
    """Adaptively-sized build: estimate the build cardinality (HLL,
    one bounded aggregate), pick the slice width that keeps >= ~8 bits
    per key, and fold the bitset at that width. Returns (words, hexw) —
    hand both to `bloom_xl_prune` so probe positions use the same
    slices."""
    n = df.agg(F.approx_count_distinct(key_col).alias("n")).first()["n"]
    hexw = bloom_xl_width(int(n))
    return bloom_bitset_words(df, key_col, hexw), hexw


def bloom_xl_prune(
    df: DataFrame,
    key_col: str,
    words: np.ndarray,
    hexw: int = BLOOM_XL_HEXW,
    bits_col: str = "_bf",
) -> DataFrame:
    """Map-side prune: keep only rows whose key has ALL k bloom bits lit.

    The bitset rides a 1-row broadcast (the scalar-broadcast pattern —
    never a shuffle), and the membership test is pure codegen bit
    arithmetic (array subscript + shiftright + mask) evaluated per row
    before any downstream exchange: the pruned relation is what shuffles,
    not the input."""
    bits = store.rows(df.sparkSession, [(words,)], f"{bits_col} array<bigint>")
    out = df.crossJoin(F.broadcast(bits))
    pcols = []
    for j, pos in enumerate(bloom_xl_positions(F.col(key_col), hexw)):
        out = out.withColumn(f"_bfp{j}", pos)
        pcols.append(f"_bfp{j}")
    cond = " AND ".join(
        f"((shiftright(element_at({bits_col}, CAST({p} DIV 64 AS INT) + 1),"
        f" CAST({p} % 64 AS INT)) & 1) = 1)"
        for p in pcols
    )
    return out.filter(F.expr(cond)).drop(bits_col, *pcols)
