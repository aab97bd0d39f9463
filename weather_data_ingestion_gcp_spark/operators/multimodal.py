"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side contract — schema, Arrow batching, ``mapInArrow``
signatures, partitioning — is real and tested. Decoding is real too, with
two tiers: Pillow when importable (full pixel decode), else a pure-bytes
container-header parse that reads width/height/channels/format straight
from PNG / JPEG / GIF / BMP headers with no image library at all. The
``fake=True`` path keeps the deterministic length-derived decoder used by
the cross-engine oracles (DuckDB can mirror arithmetic on byte length, not
a JPEG bitstream).

At scale: binary payloads dominate row size, so every operator here projects
the payload away as early as possible and mapInArrow batches are bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch`` to keep Arrow buffers in
executor memory.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# The parser helpers the mapInArrow closures call live in _mm_parsers,
# a module registered with cloudpickle for by-value pickling: the UDF
# payload is self-contained stdlib-only bytecode, so a Python worker
# whose sys.path lacks this repo still runs the decode tasks. They are
# re-imported here (not just used) because they ARE this module's public
# parsing surface — tests and downstream callers address them as
# multimodal._parse_image_header etc. Keeping the registered module to
# the three pure parsers bounds cloudpickle's process-global by-value
# state to a few KB of stateless bytecode (round-10 registered THIS
# module, leaking the whole pyarrow/pyspark-importing namespace into any
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
    """``fn(payload)`` over the (doc_id, payload) Arrow batches of
    ``media``: each tuple it yields is one output row, after its input
    row's ``doc_id``. ``doc_id`` keeps its input type and the DDL
    ``cols`` types the rest, with the ``to_arrow_schema`` typing of
    ``store.rows``. A NULL payload reaches ``fn`` as ``None``, never a
    worker crash."""
    schema = StructType([media.schema["doc_id"], *StructType.fromDDL(cols).fields])
    arrow = to_arrow_schema(schema)

    def run(batches):
        for b in batches:
            ids, payloads = b.column("doc_id").to_pylist(), b.column("payload").to_pylist()
            yield pa.RecordBatch.from_pylist(
                [dict(zip(arrow.names, (d, *r))) for d, p in zip(ids, payloads) for r in fn(p)],
                schema=arrow,
            )

    return media.select("doc_id", "payload").mapInArrow(run, schema)


def decode_metadata(media: DataFrame, fake: bool = False) -> DataFrame:
    """mapInArrow decode: (doc_id, payload) -> typed image metadata.

    Arrow-batched: each batch decodes in one Python call per batch, not
    per row; output drops the payload immediately. A NULL payload gets
    NULL cells.
    """

    def decode(p):
        yield (None,) * 5 if p is None else (len(p), *_decode_image_bytes(p, fake))

    return _map_payloads(media, decode, DECODE_META_SCHEMA)


def resize_payloads(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """mapInArrow resize: (doc_id, payload) -> payload re-encoded at the
    target dimensions. STUB codec (no image library here): the fake
    "resize" deterministically truncates/pads the byte stream to
    width*height bytes, so batch shapes, Arrow binary round-tripping,
    and output sizing are all real and testable; a Pillow-backed resize
    replaces one inner function. Payload-carrying output, so batches are
    bounded by arrow.maxRecordsPerBatch (the executor-memory contract
    documented at module top). A NULL payload stays NULL at the pinned
    dims."""

    target = width * height

    def resize(p):
        yield width, height, None if p is None else p[:target].ljust(target, b"\0")

    return _map_payloads(media, resize, RESIZE_SCHEMA)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """mapInArrow feature extraction: (doc_id, payload) -> fixed-dim
    float vector. STUB featurizer: component j is the mean of payload
    byte values at positions congruent to j mod ``dim`` — deterministic
    and vectorized with numpy per batch, so the Arrow batch path, the
    array<double> output column, and downstream similarity-search
    compatibility (same shape as the embeddings table) are all real;
    a CLIP/CNN encoder replaces one inner function. A NULL payload gets
    a NULL feature."""

    def featurize(p):
        if not p:
            yield (None if p is None else [0.0] * dim,)
            return
        a = np.frombuffer(p, dtype=np.uint8).astype(np.float64)
        a = np.pad(a, (0, (-len(a)) % dim))
        yield (a.reshape(-1, dim).mean(axis=0).tolist(),)

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


#: bytes per (patch, channel): payload bytes are interpreted as
#: interleaved RGB (byte i -> channel i%3), tiled into patches of 16
#: samples per channel (48 payload bytes per patch).
_PATCH = 16
_CHANNELS = 3

#: Output columns of patch_stats after ``doc_id`` — scalar-only so the
#: driver hash canonicalizer applies; counts are exact integers, the two
#: doubles are single-division results rounded to 6 (bitwise-stable
#: cross-engine, the extract_features precedent).
PATCH_STATS_SCHEMA = (
    "channel int, n_patches bigint, mean_byte double, max_patch_mean double, "
    "p_dark bigint, p_dim bigint, p_mid bigint, p_bright bigint"
)


def patch_stats(media: DataFrame) -> DataFrame:
    """mapInArrow per-channel patch statistics over binary payloads:
    for every (doc, channel), the patch count, overall byte mean, max
    patch mean, and a 4-bucket histogram of patch means ([0,64) dark,
    [64,128) dim, [128,192) mid, [192,256) bright — integer counts, so
    the histogram hashes exactly cross-engine). The analytic an image
    curation pass runs to drop clipped or dead images.

    Vectorized per Arrow batch with numpy bincounts (key = patch *
    channels + channel) — no per-byte Python. The payload column is
    projected away in the output, so the row blowup downstream carries
    only the per-channel stats. At 100 TB this is one linear pass over
    the media scan with bounded Arrow batches; the output is
    O(docs x channels), payload-free. A NULL or empty payload emits no
    row."""

    def stats(payload):
        if not payload:
            return
        a = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
        idx = np.arange(len(a))
        ch = idx % _CHANNELS
        key = (idx // (_PATCH * _CHANNELS)) * _CHANNELS + ch
        cnt = np.bincount(key)
        tot = np.bincount(key, weights=a)
        means = tot / cnt  # every key occurs: cnt >= 1
        buckets = np.minimum(means // 64, 3).astype(np.int64)
        for c in range(_CHANNELS):
            sel = np.nonzero((np.arange(len(cnt)) % _CHANNELS == c) & (cnt > 0))[0]
            if len(sel) == 0:
                continue
            bc = np.bincount(buckets[sel], minlength=4)
            yield (
                c,
                int(len(sel)),
                round(float(tot[sel].sum() / cnt[sel].sum()), 6),
                round(float(means[sel].max()), 6),
                *(int(x) for x in bc),
            )

    return _map_payloads(media, stats, PATCH_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# audio containers — same pure-bytes discipline as the image parsers
# ---------------------------------------------------------------------------

#: Output columns of audio_metadata after ``doc_id``.
AUDIO_META_SCHEMA = (
    "byte_len bigint, sample_rate int, channels int, bits_per_sample int, "
    "n_samples bigint, duration_ms bigint, format string"
)


def audio_metadata(media: DataFrame) -> DataFrame:
    """Per-payload audio container metadata over Arrow batches — the
    audio member of the decode family (images: decode_metadata). Bad
    payloads yield nulled metadata rows with format='error' rather than
    failing the batch (quarantine-not-crash, like the pipeline's
    corrupt-NDJSON handling); a NULL payload gets NULL cells."""

    def decode(p):
        if p is None:
            yield (None,) * 7
            return
        try:
            yield (len(p), *_parse_wav_header(p))
        except ValueError:
            yield (len(p),) + (None,) * 5 + ("error",)

    return _map_payloads(media, decode, AUDIO_META_SCHEMA)


#: samples per energy frame (128 payload bytes: little-endian signed
#: 16-bit PCM, make_wav_payload's sample format)
_FRAME_SAMPLES = 64

#: integer energy thresholds (sum of squared int16 samples per frame;
#: exact comparisons, no floats anywhere in frame_energy's output)
_SILENT_BELOW = 25_000_000_000
_LOUD_AT_LEAST = 50_000_000_000

#: Output columns of frame_energy after ``doc_id``.
FRAME_ENERGY_SCHEMA = (
    "n_frames bigint, total_energy bigint, max_frame_energy bigint, "
    "n_silent bigint, n_loud bigint"
)


def frame_energy(media: DataFrame) -> DataFrame:
    """mapInArrow per-document frame-energy profile over binary
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
    trailing partial frame is kept; a NULL payload, or one too short
    for a sample, emits no row. Output is O(docs), payload-free — at
    100 TB one linear scan with bounded Arrow batches, no shuffle until
    the (already tiny) result."""

    def energies(payload):
        n2 = 0 if payload is None else (len(payload) // 2) * 2
        if n2 == 0:
            return
        a = np.frombuffer(payload, dtype=np.uint8)
        s = a[0:n2:2].astype(np.int64) + 256 * a[1:n2:2].astype(np.int64)
        s = np.where(s >= 32768, s - 65536, s)
        fk = np.arange(len(s)) // _FRAME_SAMPLES
        e = np.bincount(fk, weights=(s * s).astype(np.float64))
        e = e.astype(np.int64)  # exact: each frame < 2^37
        yield (
            int(len(e)),
            int(e.sum()),
            int(e.max()),
            int((e < _SILENT_BELOW).sum()),
            int((e >= _LOUD_AT_LEAST).sum()),
        )

    return _map_payloads(media, energies, FRAME_ENERGY_SCHEMA)


def make_wav_payload(doc_id: int) -> bytes:
    """Deterministic valid WAVE bytes for tests/fixtures (16 kHz mono
    16-bit PCM): a doc_id-seeded sample count so every payload differs
    but reproducibly."""
    n = 100 + (doc_id % 50)
    data = bytes((doc_id + i) % 256 for i in range(n * 2))
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
