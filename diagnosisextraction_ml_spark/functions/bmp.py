"""Minimal from-spec BMP codec (stdlib only) for the multimodal path.

Third sibling to :mod:`.png` and :mod:`.wav`: the classic Windows
bitmap is a public spec (Microsoft BITMAPFILEHEADER +
BITMAPINFOHEADER, unchanged since Windows 3.0) and the uncompressed
``BI_RGB`` profile needs nothing beyond ``struct``: a 14-byte file
header pointing at the pixel array, a 40-byte (or larger) DIB header
with dimensions and bit depth, then bottom-up rows of BGR(A) pixels
padded to 4-byte boundaries. Supporting 24-bit BGR and 32-bit BGRA,
bottom-up and top-down (negative height), covers what a
training-data pipeline's uncompressed image fixtures need — and turns
one more ``NotImplementedError`` branch of
``multimodal.sniffing_decoder`` into a REAL, measured decode
(``mm_decode_health`` scores it per corruption mode).

The encoder exists for fixtures/round-trip tests (24-bit, bottom-up);
production writers would use a real imaging library.
"""

from __future__ import annotations

import struct

import numpy as np

from diagnosisextraction_ml_spark.functions.png import image_features

_MAGIC = b"BM"
_BI_RGB = 0


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed BI_RGB BMP → uint8 array (h, w, 3|4) in
    RGB(A) channel order, top row first regardless of on-disk row
    direction. Raises ``ValueError`` on anything that is not a
    supported BMP (bad magic, compressed, unsupported depth) and lets
    ``struct.error`` surface on truncation mid-header — the same
    fault surface contract the PNG/WAV codecs give
    ``extract_features_robust``."""
    b = bytes(payload or b"")
    if len(b) < 2 or b[:2] != _MAGIC:
        raise ValueError("not a BMP (bad magic)")
    # BITMAPFILEHEADER: magic, file size, 2 reserved, pixel offset
    _size, _r1, _r2, pix_offset = struct.unpack("<IHHI", b[2:14])
    (hdr_size,) = struct.unpack("<I", b[14:18])
    if hdr_size < 40:
        raise ValueError(f"unsupported DIB header size {hdr_size} (< 40)")
    width, height, planes, bpp, compression = struct.unpack(
        "<iihHI", b[18:34]
    )
    if planes != 1:
        raise ValueError(f"invalid plane count {planes}")
    if compression != _BI_RGB:
        raise ValueError(f"unsupported compression {compression} (BI_RGB only)")
    if bpp not in (24, 32):
        raise ValueError(f"unsupported bit depth {bpp} (24/32-bit BI_RGB only)")
    top_down = height < 0
    height = abs(height)
    if width <= 0 or height == 0:
        raise ValueError(f"invalid dimensions {width}x{height}")
    ch = bpp // 8
    stride = (width * ch + 3) & ~3  # rows pad to 4-byte boundaries
    need = pix_offset + stride * height
    if len(b) < need:
        raise ValueError(
            f"pixel array truncated: need {need} bytes, have {len(b)}"
        )
    rows = np.frombuffer(
        b, dtype=np.uint8, count=stride * height, offset=pix_offset
    ).reshape(height, stride)[:, : width * ch].reshape(height, width, ch)
    if not top_down:
        rows = rows[::-1]  # bottom-up storage → top row first
    # BGR(A) on disk → RGB(A)
    out = rows.copy()
    out[:, :, 0], out[:, :, 2] = rows[:, :, 2], rows[:, :, 0]
    return out


def encode_bmp(arr: np.ndarray) -> bytes:
    """Encode a uint8 (h, w, 3) RGB array as a 24-bit bottom-up BI_RGB
    BMP — fixture/round-trip helper."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_bmp expects (h, w, 3) RGB")
    h, w, _ = a.shape
    stride = (w * 3 + 3) & ~3
    pad = b"\x00" * (stride - w * 3)
    bgr = a[:, :, ::-1]
    body = b"".join(bgr[y].tobytes() + pad for y in range(h - 1, -1, -1))
    pix_offset = 14 + 40
    file_size = pix_offset + len(body)
    file_hdr = _MAGIC + struct.pack("<IHHI", file_size, 0, 0, pix_offset)
    dib = struct.pack(
        "<IiihHIIiiII", 40, w, h, 1, 24, _BI_RGB, len(body), 2835, 2835, 0, 0
    )
    return file_hdr + dib + body


def bmp_feature_decoder(payload: bytes, dim: int = 8) -> np.ndarray:
    """Real-decode feature hook for ``multimodal.extract_features``:
    decode the BMP and emit :func:`image_features`."""
    return image_features(decode_bmp(payload), dim)
