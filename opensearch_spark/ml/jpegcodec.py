"""Baseline JPEG codec with zero external dependencies.

Closes the last stubbed decode path: baseline sequential JPEG (ITU-T
T.81) is DCT + quantization + canonical Huffman coding — all
implementable with numpy + pure Python (the bit-level entropy coder is
Python-side; block math is vectorized numpy). Scope, stated honestly:

- 8-bit baseline sequential (SOF0), greyscale or YCbCr 4:4:4
  (all sampling factors 1x1). Progressive (SOF2), 4:2:0 subsampling,
  restart intervals, arithmetic coding → NotImplementedError.
- The encoder exists to build fixtures: ITU T.81 Annex K quantization
  and Huffman tables, JFIF color transform, 0xFF byte stuffing.
- decode(encode(img)) is LOSSY by spec; tests bound the error with the
  Annex K tables and verify near-exactness with flat (all-ones) tables.

Used by ml/multimodal.py's `real_decode` (magic FFD8) and the
`mm_jpeg_features` path; round-trip bounds are property-tested in
tests/test_codecs.py.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# ---------------------------------------------------------------------------
# tables (ITU-T T.81 Annex K)
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32).reshape(8, 8)

QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32).reshape(8, 8)

# (bits[1..16], huffval) per Annex K
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
              list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
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
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

_DCT = np.array([[math.cos((2 * x + 1) * u * math.pi / 16)
                  * (math.sqrt(1 / 8) if u == 0 else math.sqrt(2 / 8))
                  for x in range(8)] for u in range(8)])

# pixel block contributed by a unit coefficient at row-major (u, v)
_BASIS = np.einsum("ux,vy->uvxy", _DCT, _DCT).reshape(64, 8, 8)


def _canonical_codes(bits, huffval):
    """(symbol → (code, length)) canonical Huffman assignment (T.81 C.2)."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits, huffval):
    """((length, code) → symbol) for the decoder."""
    enc = _canonical_codes(bits, huffval)
    return {(ln, cd): sym for sym, (cd, ln) in enc.items()}


# ---------------------------------------------------------------------------
# bit I/O with 0xFF stuffing
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.out)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated entropy stream")
        b = self.data[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(self.data):
                raise ValueError("dangling 0xFF")
            nxt = self.data[self.pos]
            if nxt == 0x00:
                self.pos += 1  # stuffed
            else:
                raise NotImplementedError(
                    f"marker 0xFF{nxt:02X} inside scan (restart intervals"
                    " unsupported)")
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v


def _extend(v: int, size: int) -> int:
    return v if size == 0 or v >= (1 << (size - 1)) else v - (1 << size) + 1


def _category(v: int) -> tuple[int, int]:
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v >= 0 else v + (1 << size) - 1
    return size, bits


# ---------------------------------------------------------------------------
# color transforms (JFIF)
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r, g, b = (img[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


# rows: R, G, B from (Y, Cb - 128, Cr - 128); the decoder's inverse
_YCC_TO_RGB = np.array([[1.0, 0.0, 1.402],
                        [1.0, -0.344136, -0.714136],
                        [1.0, 1.772, 0.0]])


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    out = (ycc - [0.0, 128.0, 128.0]) @ _YCC_TO_RGB.T
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# decoded samples must round back within this many counts of the source
_FLAT_TOLERANCE = 2.25
_FLAT_MAX_STEPS = 64


def _refine_flat(qz: np.ndarray, src: np.ndarray,
                 valid: np.ndarray) -> np.ndarray:
    """Near-lossless MCU refinement for all-ones quant tables.

    Rounding each coefficient is the L2-optimal lattice point, but the
    YCbCr->RGB matrix amplifies chroma error (B = Y + 1.772 Cb), so a
    rounded MCU can decode up to 3 counts off. Greedily step single
    coefficients by +-1 while that lowers the worst decoded error over
    the visible pixels, until every sample is within _FLAT_TOLERANCE.

    qz: (nc, 64) integer coefficients; src: (nc, 8, 8) source samples
    (grey or RGB); valid: (8, 8) mask of pixels inside the image.
    """
    nc = len(qz)
    mix = np.eye(1) if nc == 1 else _YCC_TO_RGB
    offset = np.array([128.0] if nc == 1 else [128.0, 0.0, 0.0])
    planes = np.einsum("ck,kxy->cxy", qz, _BASIS) + offset[:, None, None]
    err = np.einsum("oc,cxy->oxy", mix, planes) - src
    # steps[c, k] = change of err when coefficient k of component c += 1
    steps = np.einsum("oc,kxy->ckoxy", mix, _BASIS)[..., valid]
    err = err[:, valid]
    worst = np.abs(err).max()
    for _ in range(_FLAT_MAX_STEPS):
        if worst <= _FLAT_TOLERANCE:
            break
        trial = np.abs(err + np.stack([steps, -steps])).max(axis=(3, 4))
        sign, c, k = np.unravel_index(np.argmin(trial), trial.shape)
        if trial[sign, c, k] >= worst:
            break
        delta = 1 if sign == 0 else -1
        qz[c, k] += delta
        err = err + delta * steps[c, k]
        worst = trial[sign, c, k]
    return qz


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def encode_jpeg(img: np.ndarray,
                quant_luma: np.ndarray | None = None,
                quant_chroma: np.ndarray | None = None) -> bytes:
    """Baseline sequential JPEG encoder: (H, W) greyscale or (H, W, 3)
    RGB uint8 → SOF0 4:4:4 bitstream with Annex K tables (override the
    quant tables for near-lossless fixtures). With all-ones tables every
    MCU is refined so each decoded sample lands within 2 counts."""
    if img.dtype != np.uint8:
        raise ValueError("8-bit images only")
    ql = QUANT_LUMA if quant_luma is None else np.asarray(quant_luma)
    qc = QUANT_CHROMA if quant_chroma is None else np.asarray(quant_chroma)
    grey = img.ndim == 2
    h, w = img.shape[:2]
    planes = ([img.astype(np.float64)] if grey
              else [(_rgb_to_ycbcr(img))[..., i] for i in range(3)])
    qtabs = [ql] if grey else [ql, qc, qc]
    dc_tabs = [_DC_LUMA] if grey else [_DC_LUMA, _DC_CHROMA, _DC_CHROMA]
    ac_tabs = [_AC_LUMA] if grey else [_AC_LUMA, _AC_CHROMA, _AC_CHROMA]
    dc_codes = [_canonical_codes(*t) for t in dc_tabs]
    ac_codes = [_canonical_codes(*t) for t in ac_tabs]

    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    padded = [np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge")
              for p in planes]
    flat = all(np.all(q == 1) for q in qtabs)
    src = (img[..., None] if grey else img).astype(np.float64)
    src = np.pad(src, ((0, ph - h), (0, pw - w), (0, 0)), mode="edge")
    inside = np.zeros((ph, pw), bool)
    inside[:h, :w] = True

    bw = _BitWriter()
    pred = [0] * len(planes)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            rows = slice(by * 8, (by + 1) * 8)
            cols = slice(bx * 8, (bx + 1) * 8)
            mcu = np.stack([
                np.round(_DCT @ (plane[rows, cols] - 128.0) @ _DCT.T
                         / qtabs[ci]).astype(np.int32).reshape(64)
                for ci, plane in enumerate(padded)])
            if flat:
                mcu = _refine_flat(mcu, src[rows, cols].transpose(2, 0, 1),
                                   inside[rows, cols])
            for ci, qz in enumerate(mcu):
                zz = qz[ZIGZAG]
                diff = int(zz[0]) - pred[ci]
                pred[ci] = int(zz[0])
                size, vbits = _category(diff)
                code, ln = dc_codes[ci][size]
                bw.write(code, ln)
                if size:
                    bw.write(vbits, size)
                run = 0
                last_nz = max(np.nonzero(zz)[0]) if np.any(zz) else 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        if k > last_nz:
                            code, ln = ac_codes[ci][0x00]  # EOB
                            bw.write(code, ln)
                            break
                        run += 1
                        if run == 16:
                            code, ln = ac_codes[ci][0xF0]  # ZRL
                            bw.write(code, ln)
                            run = 0
                        continue
                    size, vbits = _category(v)
                    code, ln = ac_codes[ci][(run << 4) | size]
                    bw.write(code, ln)
                    bw.write(vbits, size)
                    run = 0
    scan = bw.flush()

    out = bytearray(b"\xFF\xD8")  # SOI
    for tid, q in enumerate(qtabs[:2] if not grey else qtabs[:1]):
        zzq = q.flatten()[ZIGZAG].astype(np.uint8).tobytes()
        out += _seg(0xFFDB, bytes([tid]) + zzq)
    ncomp = 1 if grey else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += _seg(0xFFC0, sof)
    for cls, tid, (bits, vals) in (
            [(0, 0, _DC_LUMA), (1, 0, _AC_LUMA)] if grey else
            [(0, 0, _DC_LUMA), (1, 0, _AC_LUMA),
             (0, 1, _DC_CHROMA), (1, 1, _AC_CHROMA)]):
        out += _seg(0xFFC4, bytes([(cls << 4) | tid]) + bytes(bits)
                    + bytes(vals))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += _seg(0xFFDA, sos)
    out += scan + b"\xFF\xD9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline sequential JPEG decoder (SOF0, 8-bit, greyscale or
    4:4:4): marker walk, canonical Huffman entropy decode with
    unstuffing, dequantize, inverse zigzag, IDCT, YCbCr→RGB. Returns
    uint8 (H, W) or (H, W, 3). Progressive / subsampled / restart-marked
    streams raise NotImplementedError (honest scope)."""
    if data[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps = None
    h = w = 0
    scan_comps = None
    scan_start = None
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad the stream
        # before a marker code — skip them instead of reading a garbage
        # segment length out of the padding
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 1 >= len(data):
            raise ValueError("truncated marker at end of stream")
        marker = data[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / RSTn are standalone (length-less) marker codes
            pos += 2
            continue
        (ln,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + ln]
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0xF
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                zzq = np.frombuffer(body, np.uint8, 64, i + 1)
                q = np.zeros(64, np.int32)
                q[ZIGZAG] = zzq
                qtabs[tq] = q.reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0xF
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                vals = list(body[i + 17:i + 17 + n])
                huff[(cls, tid)] = _decode_table(bits, vals)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise NotImplementedError("8-bit precision only")
            comps = []
            for ci in range(nc):
                cid, samp, tq = body[6 + 3 * ci:9 + 3 * ci]
                if samp != 0x11:
                    raise NotImplementedError(
                        "chroma subsampling (only 4:4:4 / greyscale)")
                comps.append((cid, tq))
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"SOF{marker - 0xC0} (non-baseline) unsupported")
        elif marker == 0xDD:
            raise NotImplementedError("restart intervals (DRI)")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            scan_comps = []
            for ci in range(ns):
                cid, tt = body[1 + 2 * ci:3 + 2 * ci]
                scan_comps.append((cid, tt >> 4, tt & 0xF))
            scan_start = pos + 2 + ln
            break
        pos += 2 + ln
    if comps is None or scan_start is None:
        raise ValueError("missing SOF0/SOS")
    end = data.rfind(b"\xFF\xD9")
    if end < 0:
        raise ValueError("missing EOI")
    br = _BitReader(data[scan_start:end])

    def read_symbol(table) -> int:
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | br.bit()
            ln += 1
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    nc = len(comps)
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = [np.zeros((ph, pw), np.float64) for _ in range(nc)]
    pred = [0] * nc
    comp_t = {cid: (dct, act) for cid, dct, act in scan_comps}
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci, (cid, tq) in enumerate(comps):
                dct, act = comp_t[cid]
                zz = np.zeros(64, np.int32)
                size = read_symbol(huff[(0, dct)])
                diff = _extend(br.bits(size), size) if size else 0
                pred[ci] += diff
                zz[0] = pred[ci]
                k = 1
                while k < 64:
                    rs = read_symbol(huff[(1, act)])
                    run, size = rs >> 4, rs & 0xF
                    if rs == 0x00:  # EOB
                        break
                    if rs == 0xF0:  # ZRL
                        k += 16
                        continue
                    k += run
                    if k > 63:
                        raise ValueError("AC run overflow")
                    zz[k] = _extend(br.bits(size), size)
                    k += 1
                qz = np.zeros(64, np.int32)
                qz[ZIGZAG] = zz
                coef = qz.reshape(8, 8) * qtabs[tq]
                block = _DCT.T @ coef @ _DCT + 128.0
                planes[ci][by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = block
    planes = [p[:h, :w] for p in planes]
    if nc == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    if nc == 3:
        return _ycbcr_to_rgb(np.stack(planes, axis=-1))
    raise NotImplementedError(f"{nc}-component scan")
