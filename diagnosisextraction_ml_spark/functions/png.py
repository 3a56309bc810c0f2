"""Minimal from-spec PNG codec (stdlib only) for the multimodal path.

The container has no image libraries, but PNG's baseline profile is
decodable with nothing beyond ``zlib`` (the format is public spec:
RFC 2083 / the W3C PNG recommendation): 8-byte signature, length-typed
chunks with CRC32, IDAT = zlib stream of filter-prefixed scanlines,
five standard per-row filters. Supporting 8-bit depth, non-interlaced,
color types 0 (gray), 2 (RGB), 4 (gray+alpha), 6 (RGBA) covers what a
training-data pipeline's thumbnails/fixtures need, and makes
``multimodal.extract_features`` a REAL decode path end-to-end instead
of a stub — while staying deterministic (pure integer arithmetic).

The tiny encoder exists for fixtures/round-trip tests (filter 0 rows);
production writers would use a real imaging library.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunks(data: bytes):
    pos = 8
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        # crc = data[pos+8+length : pos+12+length] — validated implicitly
        # by zlib failing on corrupt IDAT; skipped for speed.
        yield ctype, body
        pos += 12 + length


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> np.ndarray:
    """Decode a baseline PNG → uint8 array of shape (h, w, channels).

    Supports bit depth 8, color types 0/2/4/6, non-interlaced. Raises
    ``ValueError`` on anything else (signature, depth, interlace).
    """
    if not payload or payload[:8] != _SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    width = height = None
    color_type = None
    idat = b""
    for ctype, body in _chunks(bytes(payload)):
        if ctype == b"IHDR":
            width, height, depth, color_type, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth} (only 8)")
            if color_type not in _CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if interlace != 0:
                raise ValueError("interlaced PNG not supported")
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    ch = _CHANNELS[color_type]
    raw = zlib.decompress(idat)
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise ValueError("IDAT length does not match dimensions")
    out = np.empty((height, stride), dtype=np.uint8)
    prev = bytearray(stride)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                ul = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(left, prev[i], ul)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        out[y] = np.frombuffer(bytes(line), dtype=np.uint8)
        prev = line
    return out.reshape(height, width, ch)


def encode_png(arr: np.ndarray) -> bytes:
    """Encode a uint8 (h, w) or (h, w, {1,2,3,4}) array as a PNG
    (filter 0 rows) — fixture/round-trip helper."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = b"".join(b"\x00" + a[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    return (
        _SIGNATURE
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 9))
        + chunk(b"IEND", b"")
    )


def image_features(img: np.ndarray, dim: int) -> np.ndarray:
    """The fixed-width feature vector of a decoded (h, w, ch) uint8
    image: [w, h, channels, mean, std, min, max, first-channel mean],
    pixel stats normalized to [0, 1], truncated to ``dim``. Shared by
    the PNG, BMP and JPEG feature hooks."""
    h, w, ch = img.shape
    px = img.astype(np.float64) / 255.0
    feats = np.array(
        [
            float(w),
            float(h),
            float(ch),
            float(px.mean()),
            float(px.std()),
            float(px.min()),
            float(px.max()),
            float(px[:, :, 0].mean()),
        ]
    )
    return feats[:dim]


def png_feature_decoder(payload: bytes, dim: int = 8) -> np.ndarray:
    """Real-decode feature hook for ``multimodal.extract_features``:
    decode the PNG and emit :func:`image_features`."""
    return image_features(decode_png(payload), dim)
