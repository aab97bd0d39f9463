"""Pure-bytes media-container parsers — the mapInArrow UDF payload of
``operators.multimodal``, isolated in their own module so cloudpickle's
by-value registration covers EXACTLY these helpers.

The multimodal closures are nested functions (always pickled by value),
but they call these module-level helpers, which cloudpickle serializes by
REFERENCE — so a Python worker whose sys.path lacks this repo (any
executor the package was not shipped to; measured: a driver process
launched from another cwd) dies with ModuleNotFoundError on the first
decode task. Registering a module pickles its functions by value, making
the UDF payload self-contained stdlib-only bytecode — but registration
is process-global cloudpickle state: every dump anywhere that references
anything from the registered module inlines it. Keeping this module to
the three small pure parsers (plus one lookup table) bounds that blast
radius to a few KB of stateless bytecode; registering the full
``multimodal`` module (as round 10 did) would also inline its pyarrow- and
pyspark-importing namespace into unrelated pickles.
"""

from __future__ import annotations

import struct
import sys

from pyspark import cloudpickle as _cloudpickle

#: PNG color type -> sample count (PNG spec, IHDR color-type field).
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _parse_image_header(p: bytes) -> tuple[int, int, int, str]:
    """(width, height, channels, format) parsed from real container bytes.

    Pure-bytes, dependency-free readers for the four ubiquitous formats —
    all per their public specs:

    - PNG: 8-byte signature, then the IHDR chunk at a fixed offset —
      width/height are big-endian u32 at bytes 16/20, color type at 25.
    - JPEG: walk the marker stream to the first SOF frame header
      (0xC0–0xCF minus DHT/JPG/DAC); height/width are big-endian u16 at
      +5/+7 inside it, component count at +9.
    - GIF: 6-byte version signature then little-endian u16 logical-screen
      width/height; palette formats decode to RGB (3 channels).
    - BMP: 'BM' + BITMAPINFOHEADER — little-endian i32 width/height at
      18/22, bits-per-pixel at 28 (height may be negative = top-down).

    Raises ``ValueError`` on anything else — the caller surfaces it as a
    per-row decode error, the honest behavior for corrupt media at scale.
    """
    if len(p) >= 26 and p[:8] == b"\x89PNG\r\n\x1a\n" and p[12:16] == b"IHDR":
        w, h = struct.unpack(">II", p[16:24])
        color_type = p[25]
        return w, h, _PNG_CHANNELS.get(color_type, 3), "png"
    if len(p) >= 4 and p[:2] == b"\xff\xd8":
        i = 2
        while i + 9 < len(p):
            if p[i] != 0xFF:
                i += 1
                continue
            marker = p[i + 1]
            if marker == 0xFF:  # legal fill/padding byte before a marker
                i += 1
                continue
            if marker == 0xD9:  # EOI — end of image, no SOF found
                break
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length
                continue
            seg_len = struct.unpack(">H", p[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", p[i + 5 : i + 9])
                return w, h, p[i + 9], "jpeg"
            i += 2 + seg_len
        raise ValueError("jpeg: no SOF frame header found")
    if len(p) >= 10 and p[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", p[6:10])
        return w, h, 3, "gif"
    if len(p) >= 30 and p[:2] == b"BM":
        w, h = struct.unpack("<ii", p[18:26])
        bpp = struct.unpack("<H", p[28:30])[0]
        return w, abs(h), max(1, bpp // 8), "bmp"
    raise ValueError("unsupported or corrupt image container")


def _decode_image_bytes(payload: bytes, fake: bool) -> tuple[int, int, int, str]:
    """(width, height, channels, format) for one payload.

    Real path: Pillow when available (full decode), else the pure-bytes
    header parse above — works on genuine PNG/JPEG/GIF/BMP files with no
    image library in the container. Fake path: deterministic in payload
    length, mirrored arithmetic in the DuckDB oracles.
    """
    if fake:
        n = len(payload)
        return (n % 640 + 1, (n * 7) % 480 + 1, 3, "fake-rgb")
    try:
        import io

        from PIL import Image  # optional; not in this container

        with Image.open(io.BytesIO(payload)) as im:
            return (im.width, im.height, len(im.getbands()), im.format.lower())
    except ImportError:
        return _parse_image_header(bytes(payload))


def _parse_wav_header(p: bytes) -> tuple[int, int, int, int, int, str]:
    """(sample_rate, channels, bits, n_samples, duration_ms, format) from
    real RIFF/WAVE bytes, per the public WAVE spec: 'RIFF' + size +
    'WAVE', then a chunk walk — 'fmt ' carries channels/rate/bits at
    fixed little-endian offsets, 'data''s size gives the sample count.
    Chunk sizes pad to even offsets (RIFF rule). Raises ValueError on
    anything else — corrupt media surfaces per-row, as with images."""
    if len(p) < 44 or p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    i = 12
    fmt = None
    data_len = None
    while i + 8 <= len(p):
        cid = p[i : i + 4]
        size = struct.unpack("<I", p[i + 4 : i + 8])[0]
        body = p[i + 8 : i + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            channels = struct.unpack("<H", body[2:4])[0]
            rate = struct.unpack("<I", body[4:8])[0]
            bits = struct.unpack("<H", body[14:16])[0]
            fmt = (rate, channels, bits)
        elif cid == b"data":
            data_len = size
        i += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data_len is None:
        raise ValueError("wav: missing fmt or data chunk")
    rate, channels, bits = fmt
    if rate <= 0 or channels <= 0 or bits <= 0:
        raise ValueError("wav: degenerate fmt chunk")
    n_samples = data_len // (channels * max(1, bits // 8))
    duration_ms = (n_samples * 1000) // rate
    return rate, channels, bits, n_samples, duration_ms, "wav"


_cloudpickle.register_pickle_by_value(sys.modules[__name__])
