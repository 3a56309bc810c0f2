"""Minimal from-spec baseline JPEG codec (stdlib + numpy only).

Fourth sibling to :mod:`.png` / :mod:`.wav` / :mod:`.bmp`: baseline
sequential DCT JPEG is a public spec (ITU-T T.81 / ISO 10918-1, 1992)
and its decode path needs nothing beyond ``struct`` and numpy —
marker segments, Huffman-coded 8×8 DCT blocks, dequantization,
inverse DCT, chroma upsampling, YCbCr→RGB. Supporting baseline and
extended-sequential Huffman frames (SOF0/SOF1), 8-bit samples, 1- or
3-component scans, restart intervals, and the standard subsampling
factors covers what real encoders emit for photographic thumbnails;
progressive (SOF2) and arithmetic coding raise ``ValueError`` with a
clear message. This converts the LAST image-format branch of
``multimodal.sniffing_decoder`` from a NotImplementedError boundary
into a real, measured decode (mm_decode_health scores it per
corruption mode); the remaining external-library boundary is video
containers only.

The encoder (baseline, 4:4:4, Annex K quantization tables scaled
libjpeg-style by ``quality``, spec-structured Huffman tables emitted
in the stream's own DHT segments) exists for fixtures and round-trip
tests; production writers would use a real imaging library. The
decoder reads ALL tables from the stream — nothing about decode
depends on the encoder's constants, which is what lets round-trip
tests and real-world-file decodes validate the two halves
independently.

Per-block Huffman decoding is interpreted Python — right for
fixture/probe-sized payloads on the mapInPandas path (the same
contract as the PNG codec); a production pipeline would swap a
libjpeg-backed callable into the same decoder hook.
"""

from __future__ import annotations

import struct

import numpy as np

from diagnosisextraction_ml_spark.functions.png import image_features

# -- spec constants ---------------------------------------------------------

# Zigzag scan: position in the 64-coefficient scan order → natural
# (row-major) index. Generated, not transcribed (T.81 figure 5).
def _zigzag_order() -> list[int]:
    order = []
    for s in range(15):  # anti-diagonals of an 8x8 grid
        rng = range(max(0, s - 7), min(s, 7) + 1)
        idx = [(s - j) * 8 + j for j in rng]  # (row, col) = (s-j, j)
        # even diagonals run bottom-left→top-right (ascending col),
        # odd ones top-right→bottom-left (descending col)
        order.extend(idx[::-1] if s % 2 else idx)
    return order


ZIGZAG = _zigzag_order()

# Annex K.1/K.2 quantization tables (natural row-major order).
_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
_QUANT_CHROMA = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32,
    dtype=np.int64,
)

# Annex K Huffman specs: (BITS[1..16], HUFFVAL). The decoder never
# uses these (it reads DHT from the stream); the encoder emits them.
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)

# 8x8 DCT-II basis: T[u, x] = c(u)/2 · cos((2x+1)uπ/16); IDCT is TᵀFT.
def _dct_matrix() -> np.ndarray:
    T = np.zeros((8, 8))
    for u in range(8):
        c = np.sqrt(0.5) if u == 0 else 1.0
        for x in range(8):
            T[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return T


_T = _dct_matrix()


def build_huffman_decoder(bits: list[int], values: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman per T.81 Annex C: codes of each length are
    consecutive, starting from (previous code + 1) << 1 at each new
    length. Returns {(length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[vi]
            vi += 1
            code += 1
        code <<= 1
    return table


def _build_huffman_encoder(bits: list[int], values: list[int]) -> dict[int, tuple[int, int]]:
    return {sym: (ln, code) for (ln, code), sym in build_huffman_decoder(bits, values).items()}


class _BitReader:
    """Entropy-segment bit reader with T.81 byte unstuffing: 0xFF 0x00
    → literal 0xFF; 0xFF D0-D7 → restart marker (surfaced to the MCU
    loop); 0xFF D9 (EOI) or any other marker ends the segment."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bit = 0
        self.cur = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        if self.marker is not None:
            raise ValueError("JPEG entropy data exhausted at marker")
        if self.pos >= len(self.data):
            raise ValueError("JPEG entropy data truncated")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("JPEG entropy data truncated after 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed byte: literal 0xFF
            else:
                self.marker = nxt  # restart / EOI / next segment
                self.pos += 1
                raise ValueError("JPEG entropy data exhausted at marker")
        self.cur = (self.cur << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code")

    def sync_restart(self, expect: int) -> None:
        """Consume the pending RSTn marker and reset bit state."""
        if self.marker is None:
            # we may be mid-byte just before the marker: scan forward
            while self.pos < len(self.data):
                if (
                    self.data[self.pos] == 0xFF
                    and self.pos + 1 < len(self.data)
                    and self.data[self.pos + 1] != 0x00
                ):
                    self.marker = self.data[self.pos + 1]
                    self.pos += 2
                    break
                self.pos += 1
        if self.marker != 0xD0 + (expect % 8):
            raise ValueError(
                f"expected RST{expect % 8}, found marker {self.marker!r}"
            )
        self.marker = None
        self.cur = 0
        self.nbits = 0


def _extend(v: int, t: int) -> int:
    """T.81 EXTEND: map a t-bit magnitude pattern to its signed value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline/extended-sequential Huffman JPEG → uint8
    array (h, w, 3) RGB (3-component YCbCr scans) or (h, w, 1)
    (grayscale). Raises ``ValueError`` on non-JPEG input, progressive
    (SOF2) or arithmetic-coded frames, and corrupt streams; truncation
    inside a fixed-width header surfaces as ``struct.error`` — the
    same fault surface contract as the PNG/WAV/BMP codecs."""
    b = bytes(payload or b"")
    if len(b) < 2 or b[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict] = {}  # (class, id) -> decoder
    frame = None  # (h, w, comps) with comps = [(cid, H, V, tq)]
    restart_interval = 0
    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}, got {b[pos]:#x}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
        # marker — skip them so the marker code is never read as 0xFF.
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1] if pos + 1 < len(b) else None
        if marker is None:
            raise ValueError("truncated at marker prefix")
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue  # parameterless
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("EOI before scan data")
        (seglen,) = struct.unpack(">H", b[pos:pos + 2])
        seg = b[pos + 2: pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0xF
                sp += 1
                if pq == 0:
                    vals = np.frombuffer(seg[sp:sp + 64], dtype=np.uint8).astype(np.int64)
                    sp += 64
                else:
                    vals = np.frombuffer(seg[sp:sp + 128], dtype=">u2").astype(np.int64)
                    sp += 128
                if len(vals) != 64:
                    raise ValueError("truncated quantization table")
                nat = np.zeros(64, dtype=np.int64)
                nat[ZIGZAG] = vals  # DQT payload is in zigzag order
                qtables[tq] = nat
        elif marker == 0xC4:  # DHT
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0xF
                bits = list(seg[sp + 1: sp + 17])
                n = sum(bits)
                vals = list(seg[sp + 17: sp + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    raise ValueError("truncated Huffman table")
                htables[(tc, th)] = build_huffman_decoder(bits, vals)
                sp += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1
            prec, h, w, ncomp = struct.unpack(">BHHB", seg[0:6])
            if prec != 8:
                raise ValueError(f"unsupported sample precision {prec}")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i: 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (h, w, comps)
        elif marker == 0xC2:
            raise ValueError("progressive JPEG (SOF2) not supported")
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG frame type {marker:#x}")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[0:2])
        elif marker == 0xDA:  # SOS → entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = []
            for i in range(ns):
                cid, tt = seg[1 + 2 * i: 3 + 2 * i]
                scan.append((cid, tt >> 4, tt & 0xF))
            if len(scan) != len(frame[2]):
                # a non-interleaved multi-scan file: decoding only the
                # first scan would silently return zeroed planes for
                # the remaining components — refuse loudly instead
                raise ValueError(
                    "non-interleaved multi-scan JPEG not supported "
                    f"(scan has {len(scan)} of {len(frame[2])} components)"
                )
            return _decode_scan(
                b, pos + seglen, frame, scan, qtables, htables, restart_interval
            )
        pos += seglen
    raise ValueError("no scan (SOS) in JPEG stream")


def _decode_scan(b, pos, frame, scan, qtables, htables, restart_interval):
    import numpy as np

    h, w, comps = frame
    if h == 0 or w == 0:
        raise ValueError(f"invalid dimensions {w}x{h}")
    if h * w > 16_000_000:
        # A corrupt SOF claiming 65535×65535 would allocate ~10 GB of
        # planes INSIDE the per-row-quarantined mapInPandas path —
        # turning a row fault into an executor OOM. This from-spec
        # path serves fixture/thumbnail payloads; a real >16 MP photo
        # belongs to a production codec library behind the same hook.
        raise ValueError(
            f"{w}x{h} exceeds the from-spec decoder's 16 MP bound"
        )
    by_id = {c[0]: c for c in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    # Replication upsampling (below) needs integer factors; spec-legal
    # ratios like 3:2 would floor to 1 and produce a short plane that
    # crashes np.stack — surface the codec's documented clean fault
    # instead (same ValueError contract as every other unsupported
    # frame feature).
    for cid, ch, cv, _tq in comps:
        if hmax % ch or vmax % cv:
            raise ValueError(
                f"unsupported sampling factors for component {cid}: "
                f"{ch}x{cv} does not divide frame max {hmax}x{vmax}"
            )
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    planes = {}
    for cid, ch, cv, _tq in comps:
        planes[cid] = np.zeros((mcuy * cv * 8, mcux * ch * 8), dtype=np.float64)

    reader = _BitReader(b, pos)
    dc_pred = {c[0]: 0 for c in comps}
    Tt = _T.T
    mcu_count = 0
    rst_idx = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.sync_restart(rst_idx)
                rst_idx += 1
                dc_pred = {c[0]: 0 for c in comps}
            for cid, td, ta in scan:
                _, ch, cv, tq = by_id[cid]
                if tq not in qtables:
                    raise ValueError(f"missing quantization table {tq}")
                q = qtables[tq]
                dct = htables.get((0, td))
                act = htables.get((1, ta))
                if dct is None or act is None:
                    raise ValueError("missing Huffman table for scan")
                for by in range(cv):
                    for bx in range(ch):
                        zz = np.zeros(64, dtype=np.int64)
                        t = reader.decode_symbol(dct)
                        diff = _extend(reader.read_bits(t), t)
                        dc_pred[cid] += diff
                        zz[0] = dc_pred[cid]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(act)
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        nat = np.zeros(64, dtype=np.int64)
                        nat[ZIGZAG] = zz
                        F_blk = (nat * q).reshape(8, 8).astype(np.float64)
                        blk = Tt @ F_blk @ _T + 128.0
                        y0 = (my * cv + by) * 8
                        x0 = (mx * ch + bx) * 8
                        planes[cid][y0:y0 + 8, x0:x0 + 8] = blk
            mcu_count += 1

    out_planes = []
    for cid, ch, cv, _tq in comps:
        p = planes[cid]
        # upsample to full-frame resolution by sample replication
        p = np.repeat(np.repeat(p, vmax // cv, axis=0), hmax // ch, axis=1)
        out_planes.append(p[:h, :w])
    if len(out_planes) == 1:
        y = np.clip(np.round(out_planes[0]), 0, 255)
        return y[:, :, None].astype(np.uint8)
    y, cb, cr = out_planes[0], out_planes[1] - 128.0, out_planes[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bch = y + 1.772 * cb
    rgb = np.stack([r, g, bch], axis=2)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# -- encoder (baseline, 4:4:4) ----------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _quality_scale(table: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((table * scale + 50) // 100, 1, 255).astype(np.int64)


def _magnitude(v: int) -> tuple[int, int]:
    """(category t, t-bit pattern) for a signed coefficient (T.81 F.1.2)."""
    if v == 0:
        return 0, 0
    t = int(v if v > 0 else -v).bit_length()
    pattern = v if v >= 0 else v + (1 << t) - 1
    return t, pattern


def encode_jpeg(arr: np.ndarray, quality: int = 85) -> bytes:
    """Encode a uint8 (h, w, 3) RGB (or (h, w)/(h, w, 1) grayscale)
    array as a baseline 4:4:4 JFIF JPEG — fixture/round-trip helper."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, nch = a.shape
    if nch not in (1, 3):
        raise ValueError("encode_jpeg expects 1 or 3 channels")
    if nch == 3:
        r, g, bl = a[:, :, 0], a[:, :, 1], a[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * bl
        cb = -0.168736 * r - 0.331264 * g + 0.5 * bl + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * bl + 128.0
        planes = [y, cb, cr]
    else:
        planes = [a[:, :, 0]]

    ql = _quality_scale(_QUANT_LUMA, quality)
    qc = _quality_scale(_QUANT_CHROMA, quality)
    qmap = [ql] + ([qc, qc] if nch == 3 else [])
    enc_dc = [_build_huffman_encoder(*_DC_LUMA)] + (
        [_build_huffman_encoder(*_DC_CHROMA)] * 2 if nch == 3 else []
    )
    enc_ac = [_build_huffman_encoder(*_AC_LUMA)] + (
        [_build_huffman_encoder(*_AC_CHROMA)] * 2 if nch == 3 else []
    )

    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", len(app0) + 2) + app0
    # DQT (zigzag order on the wire)
    for tid, q in ([(0, ql)] + ([(1, qc)] if nch == 3 else [])):
        zz = q[ZIGZAG].astype(np.uint8).tobytes()
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tid]) + zz
    # SOF0
    comps = struct.pack(">BHHB", 8, h, w, nch)
    for i in range(nch):
        comps += bytes([i + 1, 0x11, 0 if i == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(comps) + 2) + comps
    # DHT
    specs = [(0x00, _DC_LUMA), (0x10, _AC_LUMA)]
    if nch == 3:
        specs += [(0x01, _DC_CHROMA), (0x11, _AC_CHROMA)]
    for tid, (bits, vals) in specs:
        body = bytes([tid]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    # SOS
    sos = bytes([nch])
    for i in range(nch):
        sos += bytes([i + 1, 0x00 if i == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    bw = _BitWriter()
    blocks_y = -(-h // 8)
    blocks_x = -(-w // 8)
    dc_pred = [0] * nch
    for by in range(blocks_y):
        for bx in range(blocks_x):
            for ci in range(nch):
                p = planes[ci]
                blk = np.full((8, 8), float(p[min(by * 8, h - 1), min(bx * 8, w - 1)]))
                ys, xs = min(8, h - by * 8), min(8, w - bx * 8)
                blk[:ys, :xs] = p[by * 8: by * 8 + ys, bx * 8: bx * 8 + xs]
                # edge padding: replicate last row/col (bounded ringing)
                if ys < 8:
                    blk[ys:, :] = blk[ys - 1, :]
                if xs < 8:
                    blk[:, xs:] = blk[:, xs - 1: xs]
                F_blk = _T @ (blk - 128.0) @ _T.T
                q = qmap[ci]
                coef = np.round(F_blk.reshape(64) / q).astype(np.int64)
                zz = coef[ZIGZAG]
                diff = int(zz[0]) - dc_pred[ci]
                dc_pred[ci] = int(zz[0])
                t, pattern = _magnitude(diff)
                ln, code = enc_dc[ci][t]
                bw.write(code, ln)
                if t:
                    bw.write(pattern, t)
                run = 0
                last_nz = max(np.nonzero(zz)[0]) if np.any(zz[1:]) else 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        ln, code = enc_ac[ci][0xF0]  # ZRL
                        bw.write(code, ln)
                        run -= 16
                    t, pattern = _magnitude(v)
                    ln, code = enc_ac[ci][(run << 4) | t]
                    bw.write(code, ln)
                    bw.write(pattern, t)
                    run = 0
                if last_nz < 63:
                    ln, code = enc_ac[ci][0x00]  # EOB
                    bw.write(code, ln)
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def jpeg_feature_decoder(payload: bytes, dim: int = 8) -> np.ndarray:
    """Real-decode feature hook for ``multimodal.extract_features``:
    decode the JPEG and emit :func:`image_features`."""
    return image_features(decode_jpeg(payload), dim)
