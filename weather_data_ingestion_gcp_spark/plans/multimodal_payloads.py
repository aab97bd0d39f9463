"""Multimodal payload queries over the binary ``documents`` payloads:
container metadata, decode and feature extraction through mapInPandas,
frame sampling plans, and the patch-statistics and frame-energy
analytics over decoded bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import multimodal
from .registry import load_table, register


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


# multimodal_patch_stats deepens the multimodal family past plumbing
# (round-12 VERDICT "Next round" #5): the first registered entry that
# computes an ANALYTIC over the decoded payload bytes, not just container
# metadata/offsets — per-channel patch statistics of the kind an image
# training-data curation pass runs (patch brightness profile, clipped /
# dead-patch detection). The decode tier is the deterministic byte-level
# stand-in the multimodal family uses throughout (no image libs in this
# environment; a Pillow/CNN decode replaces one inner function), so the
# DuckDB oracle can mirror the arithmetic positionally and hash-verify
# the whole Arrow round trip.


#: bytes per (patch, channel): payload bytes are interpreted as
#: interleaved RGB (byte i -> channel i%3), tiled into patches of 16
#: samples per channel (48 payload bytes per patch).
_PATCH = 16
_CHANNELS = 3

#: Output schema of patch_stats — scalar-only so the driver hash
#: canonicalizer applies; counts are exact integers, the two doubles
#: are single-division results rounded to 6 (bitwise-stable cross-engine,
#: the multimodal_feature_extract precedent).
PATCH_STATS_SCHEMA = (
    "doc_id bigint, channel int, n_patches bigint, mean_byte double, "
    "max_patch_mean double, p_dark bigint, p_dim bigint, p_mid bigint, "
    "p_bright bigint"
)


def patch_stats(media: DataFrame) -> DataFrame:
    """mapInPandas per-channel patch statistics over binary payloads:
    for every (doc, channel), the patch count, overall byte mean, max
    patch mean, and a 4-bucket histogram of patch means ([0,64) dark,
    [64,128) dim, [128,192) mid, [192,256) bright — integer counts, so
    the histogram hashes exactly cross-engine).

    Vectorized per Arrow batch with numpy bincounts (key = patch *
    channels + channel) — no per-byte Python. The payload column is
    projected away in the output, so the row blowup downstream carries
    only the per-channel stats. At 100 TB this is one linear pass over
    the media scan with bounded Arrow batches; the output is
    O(docs x channels), payload-free."""
    import numpy as np

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                a = np.frombuffer(bytes(payload), dtype=np.uint8).astype(
                    np.float64
                )
                if len(a) == 0:
                    continue
                idx = np.arange(len(a))
                ch = idx % _CHANNELS
                key = (idx // (_PATCH * _CHANNELS)) * _CHANNELS + ch
                cnt = np.bincount(key)
                tot = np.bincount(key, weights=a)
                means = tot / cnt  # every key occurs: cnt >= 1
                buckets = np.minimum(means // 64, 3).astype(np.int64)
                for c in range(_CHANNELS):
                    sel = np.nonzero(
                        (np.arange(len(cnt)) % _CHANNELS == c) & (cnt > 0)
                    )[0]
                    if len(sel) == 0:
                        continue
                    bc = np.bincount(buckets[sel], minlength=4)
                    rows.append(
                        (
                            int(doc_id),
                            c,
                            int(len(sel)),
                            round(float(tot[sel].sum() / cnt[sel].sum()), 6),
                            round(float(means[sel].max()), 6),
                            int(bc[0]),
                            int(bc[1]),
                            int(bc[2]),
                            int(bc[3]),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "channel", "n_patches", "mean_byte",
                    "max_patch_mean", "p_dark", "p_dim", "p_mid", "p_bright",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        stats, PATCH_STATS_SCHEMA
    )


@register(
    "multimodal_patch_stats",
    # positional byte arithmetic mirrors the fake decode exactly (the
    # documents text is the payload's utf-8 bytes; ASCII corpus, so
    # char position == byte position — the multimodal_feature_extract
    # precedent). mean_byte: exact integer sums, ONE division; max
    # patch mean: max over single-division doubles; histogram: integer
    # counts of double-vs-64k comparisons — all bitwise-stable.
    oracle="""
    WITH pos AS (
        SELECT doc_id,
               (i - 1) % 3 AS ch,
               (i - 1) // 48 AS patch,
               ascii(substr(text, CAST(i AS INT), 1)) AS b
        FROM documents, UNNEST(generate_series(1, length(text))) AS g(i)
        WHERE doc_id < 300
    ),
    pm AS (
        SELECT doc_id, ch, patch,
               SUM(b) AS s, COUNT(*) AS c,
               SUM(b) * 1.0 / COUNT(*) AS m
        FROM pos GROUP BY doc_id, ch, patch
    )
    SELECT doc_id,
           CAST(ch AS INTEGER) AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_patches,
           ROUND(SUM(s) * 1.0 / SUM(c), 6) AS mean_byte,
           ROUND(MAX(m), 6) AS max_patch_mean,
           CAST(SUM(CASE WHEN m < 64 THEN 1 ELSE 0 END) AS BIGINT) AS p_dark,
           CAST(SUM(CASE WHEN m >= 64 AND m < 128 THEN 1 ELSE 0 END) AS BIGINT) AS p_dim,
           CAST(SUM(CASE WHEN m >= 128 AND m < 192 THEN 1 ELSE 0 END) AS BIGINT) AS p_mid,
           CAST(SUM(CASE WHEN m >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS p_bright
    FROM pm GROUP BY doc_id, ch
    ORDER BY doc_id, channel
    """,
)
def multimodal_patch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel patch statistics over decoded payload bytes — the
    multimodal family's first registered ANALYTIC (the siblings verify
    decode/offset plumbing): interleaved-RGB interpretation, 16-sample
    patches, per (doc, channel) patch count / byte mean / max patch
    mean / 4-bucket patch-brightness histogram. Mirrors the curation
    pass that drops clipped or dead images from a training corpus.
    Same doc_id < 300 cap as multimodal_feature_extract: bounds the
    oracle's positional UNNEST, not the operator (the decade probe runs
    patch_stats uncapped)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.with_binary_payload(d, "text", "doc_id")
    return patch_stats(media).orderBy("doc_id", "channel")


#: samples per energy frame (128 payload bytes: little-endian signed
#: 16-bit PCM, the wav stand-in's sample format — operators/multimodal.py
#: make_wav_payload)
_FRAME_SAMPLES = 64

#: integer energy thresholds (sum of squared int16 samples per frame;
#: exact comparisons, no floats anywhere in this entry)
_SILENT_BELOW = 25_000_000_000
_LOUD_AT_LEAST = 50_000_000_000

FRAME_ENERGY_SCHEMA = (
    "doc_id bigint, n_frames bigint, total_energy bigint, "
    "max_frame_energy bigint, n_silent bigint, n_loud bigint"
)


def frame_energy(media: DataFrame) -> DataFrame:
    """mapInPandas per-document frame-energy profile over binary
    payloads interpreted as little-endian signed 16-bit PCM — the audio
    sibling of patch_stats, mirroring the curation pass that drops
    silent / clipped clips from a speech corpus: frame the sample
    stream into fixed windows and aggregate each frame's energy
    (sum of squared samples — EXACT integers end to end: a frame's
    energy is <= 64 * 32768^2 ~ 6.9e10 and a document's total stays
    far under 2^53, so numpy's float64 bincount accumulates exactly
    and the output hashes bitwise cross-engine).

    Vectorized per Arrow batch (frombuffer + bincount; no per-sample
    Python). A trailing odd byte is dropped (no complete sample); a
    trailing partial frame is kept. Output is O(docs), payload-free —
    at 100 TB one linear scan with bounded Arrow batches, no shuffle
    until the (already tiny) result."""
    import numpy as np

    def energies(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                a = np.frombuffer(bytes(payload), dtype=np.uint8)
                n2 = (len(a) // 2) * 2
                if n2 == 0:
                    continue
                s = (
                    a[0:n2:2].astype(np.int64)
                    + 256 * a[1:n2:2].astype(np.int64)
                )
                s = np.where(s >= 32768, s - 65536, s)
                fk = np.arange(len(s)) // _FRAME_SAMPLES
                e = np.bincount(fk, weights=(s * s).astype(np.float64))
                e = e.astype(np.int64)  # exact: each frame < 2^37
                rows.append(
                    (
                        int(doc_id),
                        int(len(e)),
                        int(e.sum()),
                        int(e.max()),
                        int((e < _SILENT_BELOW).sum()),
                        int((e >= _LOUD_AT_LEAST).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "total_energy",
                    "max_frame_energy", "n_silent", "n_loud",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        energies, FRAME_ENERGY_SCHEMA
    )


@register(
    "multimodal_frame_energy",
    # positional byte arithmetic over the utf-8/ASCII payload stand-in
    # (char position == byte position, the patch_stats precedent):
    # sample i = byte(2i) + 256*byte(2i+1), sign-folded at 32768; the
    # HAVING COUNT(*) = 2 mirrors numpy's odd-tail-byte truncation.
    # Every output is an integer; SUMs are cast back from DuckDB's
    # HUGEINT widening.
    oracle="""
    WITH pos AS (
        SELECT doc_id,
               (i - 1) AS p,
               ascii(substr(text, CAST(i AS INT), 1)) AS b
        FROM documents, UNNEST(generate_series(1, length(text))) AS g(i)
        WHERE doc_id < 300
    ),
    smp AS (
        SELECT doc_id, p // 2 AS si,
               CAST(SUM(CASE WHEN p % 2 = 0 THEN b ELSE 256 * b END)
                    AS BIGINT) AS raw
        FROM pos GROUP BY doc_id, p // 2 HAVING COUNT(*) = 2
    ),
    s2 AS (
        SELECT doc_id, si,
               CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS s
        FROM smp
    ),
    frm AS (
        SELECT doc_id, si // 64 AS f, CAST(SUM(s * s) AS BIGINT) AS e
        FROM s2 GROUP BY doc_id, si // 64
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(e) AS BIGINT) AS total_energy,
           CAST(MAX(e) AS BIGINT) AS max_frame_energy,
           CAST(SUM(CASE WHEN e < 25000000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_silent,
           CAST(SUM(CASE WHEN e >= 50000000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_loud
    FROM frm GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PCM frame-energy profile — the audio analytic
    sibling of multimodal_patch_stats (image) over the same binary
    payload tier: 64-sample frames of little-endian int16, per doc the
    frame count, total and max frame energy, and silent/loud frame
    counts at fixed integer thresholds. Same doc_id < 300 cap as the
    siblings: bounds the oracle's positional UNNEST, not the operator."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    media = multimodal.with_binary_payload(d, "text", "doc_id")
    return frame_energy(media).orderBy("doc_id")
