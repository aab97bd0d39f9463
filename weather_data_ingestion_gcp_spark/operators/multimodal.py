"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side contract — schema, Arrow batching, ``mapInPandas``
signatures, partitioning — is real and tested. Decoding is real too, with
two tiers: Pillow when importable (full pixel decode), else a pure-bytes
container-header parse that reads width/height/channels/format straight
from PNG / JPEG / GIF / BMP headers with no image library at all. The
``fake=True`` path keeps the deterministic length-derived decoder used by
the cross-engine oracles (DuckDB can mirror arithmetic on byte length, not
a JPEG bitstream).

At scale: binary payloads dominate row size, so every operator here projects
the payload away as early as possible and mapInPandas batches are bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` to keep Arrow buffers in
executor memory.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The parser helpers the mapInPandas closures call live in _mm_parsers,
# a module registered with cloudpickle for by-value pickling: the UDF
# payload is self-contained stdlib-only bytecode, so a Python worker
# whose sys.path lacks this repo still runs the decode tasks. They are
# re-imported here (not just used) because they ARE this module's public
# parsing surface — tests and downstream callers address them as
# multimodal._parse_image_header etc. Keeping the registered module to
# the three pure parsers bounds cloudpickle's process-global by-value
# state to a few KB of stateless bytecode (round-10 registered THIS
# module, leaking the whole pandas/pyspark-importing namespace into any
# pickle that touched it).
from ._mm_parsers import (  # noqa: F401  (re-exported parsing surface)
    _PNG_CHANNELS,
    _decode_image_bytes,
    _parse_image_header,
    _parse_wav_header,
)

#: Output columns of decode_metadata after ``doc_id`` — stable contract
#: for downstream ops.
DECODE_META_SCHEMA = (
    "byte_len bigint, width int, height int, channels int, format string"
)

#: Output columns of resize_payloads after ``doc_id`` — payload out, dims
#: pinned.
RESIZE_SCHEMA = "width int, height int, payload binary"

#: Output columns of extract_features after ``doc_id`` — fixed-dim
#: embedding per payload.
FEATURE_SCHEMA = "feature array<double>"


def with_binary_payload(df: DataFrame, src_col: str, id_col: str) -> DataFrame:
    """Attach an opaque binary payload column (here: utf-8 bytes of a text
    column standing in for real media bytes) + typed metadata."""
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(src_col).cast("binary").alias("payload"),
        F.octet_length(F.col(src_col).cast("binary")).alias("byte_len"),
        F.sha2(F.col(src_col).cast("binary"), 256).alias("sha256"),
    )


def _map_payloads(media: DataFrame, fn, cols: str) -> DataFrame:
    """``fn`` over the (doc_id, payload) Arrow batches of ``media``; the
    output ``doc_id`` keeps its input type, followed by ``cols``. A NULL
    payload reaches ``fn`` as ``None`` and gets NULL cells, never a
    worker crash."""
    id_type = media.schema["doc_id"].dataType.simpleString()
    return media.select("doc_id", "payload").mapInPandas(
        fn, f"doc_id {id_type}, {cols}"
    )


def decode_metadata(media: DataFrame, fake: bool = False) -> DataFrame:
    """mapInPandas decode: (doc_id, payload) -> typed image metadata.

    Arrow-batched: each pandas batch decodes vectorized-ish in one Python
    call per batch, not per row; output drops the payload immediately.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = [
                (None,) * 4 if p is None else _decode_image_bytes(p, fake)
                for p in pdf["payload"]
            ]
            n = pdf["payload"].map(len, na_action="ignore")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": n.astype("Int64"),
                    "width": pd.Series([m[0] for m in meta], dtype="Int32"),
                    "height": pd.Series([m[1] for m in meta], dtype="Int32"),
                    "channels": pd.Series([m[2] for m in meta], dtype="Int32"),
                    "format": [m[3] for m in meta],
                }
            )

    return _map_payloads(media, decode, DECODE_META_SCHEMA)


def resize_payloads(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """mapInPandas resize: (doc_id, payload) -> payload re-encoded at the
    target dimensions. STUB codec (no image library here): the fake
    "resize" deterministically truncates/pads the byte stream to
    width*height bytes, so batch shapes, Arrow binary round-tripping,
    and output sizing are all real and testable; a Pillow-backed resize
    replaces one inner function. Payload-carrying output, so batches are
    bounded by arrow.maxRecordsPerBatch (the executor-memory contract
    documented at module top). A NULL payload stays NULL at the pinned
    dims."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in batches:
            out_payload = [
                None if p is None else bytes(p[:target]).ljust(target, b"\0")
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "payload": out_payload,
                }
            )

    return _map_payloads(media, resize, RESIZE_SCHEMA)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInPandas feature extraction: (doc_id, payload) -> fixed-dim
    float vector. STUB featurizer: component j is the mean of payload
    byte values at positions congruent to j mod ``dim`` — deterministic
    and vectorized with numpy per batch, so the Arrow batch path, the
    array<double> output column, and downstream similarity-search
    compatibility (same shape as the embeddings table) are all real;
    a CLIP/CNN encoder replaces one inner function. A NULL payload gets
    a NULL feature."""
    import numpy as np

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                if p is None:
                    feats.append(None)
                    continue
                a = np.frombuffer(bytes(p), dtype=np.uint8).astype(np.float64)
                if len(a) == 0:
                    feats.append([0.0] * dim)
                    continue
                pad = (-len(a)) % dim
                a = np.pad(a, (0, pad))
                feats.append(a.reshape(-1, dim).mean(axis=0).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feature": feats})

    return _map_payloads(media, featurize, FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n_bytes: int = 1000) -> DataFrame:
    """Video-frame-sampling *plumbing*: emit one row per sampled offset
    (the decode of each frame is the same stub boundary). Pure JVM:
    sequence + explode, no Python in the row path."""
    return media.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("byte_len") - 1, F.lit(0)), F.lit(every_n_bytes))
        ).alias("frame_offset"),
    )


# ---------------------------------------------------------------------------
# audio containers — same pure-bytes discipline as the image parsers
# ---------------------------------------------------------------------------

AUDIO_META_SCHEMA = (
    "doc_id bigint, byte_len bigint, sample_rate int, channels int, "
    "bits_per_sample int, n_samples bigint, duration_ms bigint, format string"
)


def audio_metadata(media: DataFrame) -> DataFrame:
    """Per-payload audio container metadata over Arrow batches — the
    audio member of the decode family (images: decode_metadata). Bad
    payloads yield nulled metadata rows with format='error' rather than
    failing the batch (quarantine-not-crash, like the pipeline's
    corrupt-NDJSON handling)."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                try:
                    rate, ch, bits, n, ms, fmt = _parse_wav_header(b)
                    out.append((doc_id, len(b), rate, ch, bits, n, ms, fmt))
                except ValueError:
                    out.append(
                        (doc_id, len(b), None, None, None, None, None, "error")
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "byte_len", "sample_rate", "channels",
                    "bits_per_sample", "n_samples", "duration_ms", "format",
                ],
            )

    return media.select("doc_id", "payload").mapInPandas(
        decode, AUDIO_META_SCHEMA
    )


def make_wav_payload(
    doc_id: int, rate: int = 16000, channels: int = 1, bits: int = 16
) -> bytes:
    """Deterministic valid WAVE bytes for tests/fixtures: a doc_id-seeded
    sample count so every payload differs but reproducibly."""
    n = 100 + (doc_id % 50)
    data = bytes((doc_id + i) % 256 for i in range(n * channels * (bits // 8)))
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate,
        rate * channels * (bits // 8), channels * (bits // 8), bits,
    )
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
