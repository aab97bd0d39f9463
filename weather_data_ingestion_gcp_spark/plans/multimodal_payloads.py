"""Multimodal payload queries over the binary ``documents`` payloads:
container metadata, decode and feature extraction through mapInArrow,
frame sampling plans, and the patch-statistics and frame-energy
analytics over decoded bytes.
"""

from __future__ import annotations

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
    """The mapInArrow decode path with the deterministic fake codec: the
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
    """mapInArrow feature extraction over binary payloads
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
    return multimodal.patch_stats(media).orderBy("doc_id", "channel")


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
    return multimodal.frame_energy(media).orderBy("doc_id")
