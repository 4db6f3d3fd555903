"""Pure-numpy JPEG codec (ITU T.81): baseline sequential AND progressive.

Implements the full pipeline with no media libraries:

* **encode_jpeg** — RGB→YCbCr (BT.601/JFIF), optional 4:2:0 chroma
  subsampling (2x2 box mean) or 4:4:4, edge-replicated padding to the MCU
  grid, 8x8 forward DCT (orthonormal matrix product, vectorized over all
  blocks), Annex-K quantization tables scaled by the IJG quality formula,
  zigzag scan, differential-DC + run-length-AC Huffman entropy coding with
  the Annex-K typical tables, 0xFF byte stuffing, optional restart
  intervals (DRI + RST0-7), JFIF APP0 + SOF0 headers.  Grayscale arrays
  encode as single-component JPEGs.
* **decode_jpeg** — marker parse (multi-table DQT/DHT segments, DRI,
  APPn/COM skip), canonical-Huffman decode of the entropy stream, restart
  segmentation, dequantize + de-zigzag + batch inverse DCT (one einsum
  over every block of a component), chroma upsampling for any sampling
  factor in {1, 2}, YCbCr→RGB, crop to the frame size.  Both frame
  types decode: baseline (SOF0/SOF1) and progressive (SOF2 — r12:
  multi-scan spectral selection + successive approximation per T.81
  Annex G, with EOB-run codes, AC/DC refinement scans, and per-scan
  restart markers).
* **encode_jpeg_progressive** — the same quantized coefficients as
  ``encode_jpeg`` through a libjpeg-style scan script (DC first at Al=1,
  spectral-banded AC first scans, successive-approximation refinements
  to Al=0) with OPTIMAL per-scan Huffman tables (T.81 Annex K.2) — a
  progressive file's pixels must therefore decode EXACTLY equal to the
  baseline encode's, which is the round-trip equivalence the tests pin.

Scope: arithmetic coding, hierarchical, 12-bit precision, and 16-bit
quant tables raise ``ValueError`` — they'd be silent wrong-pixel bugs if
half-supported.

Validation stance: the container has no PIL/libjpeg to cross-check
against, so conformance is established by (a) round-trip property tests
(encode→decode error bounded by the quantization step; exact-ish at
quality 100), (b) DCT/IDCT verified as an inverse pair independently of
the entropy coder, (c) spec-constant tables (zigzag, Annex-K quant +
Huffman) transcribed literally and consistency-checked at import (each
``bits`` histogram must form a feasible canonical prefix code), and (d)
structural checks of the emitted marker stream.  Because the DHT segments
written into the file are the tables the decoder reads back, a transcription
slip in the "typical" tables could not corrupt pixels — any valid Huffman
table is legal JPEG.

Throughput (measured in-container, 64x64 RGB q85): encode ~17 ms, decode
~33 ms — entropy coding is a per-symbol Python loop (the DCT/IDCT and
color transforms are vectorized), so this is for test assets and metadata
probes; a 100 TB image corpus swaps in libjpeg-turbo at the
``operators.multimodal`` extension point with an identical Arrow batch
shape.
"""

from __future__ import annotations

import struct

import numpy as np

# --- spec constants (ITU T.81) ---------------------------------------------

#: Zigzag scan: position i of the scan reads natural (row-major) index
#: ``ZIGZAG[i]`` of the 8x8 block (T.81 Figure 5).
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

#: Annex-K Table K.1 (luminance) / K.2 (chrominance), natural order.
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int64)

# Annex-K "typical" Huffman tables: (bits[1..16], huffval).
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C: symbol -> (code, length), codes assigned in length
    order then huffval order.  Raises at import if the histogram cannot
    form a prefix code (guards table transcription)."""
    if sum(bits) != len(vals):
        raise ValueError("Huffman bits/vals length mismatch")
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        if code >= (1 << length):
            raise ValueError("Huffman bits histogram overflows prefix space")
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


# Import-time consistency check of every shipped table.
_ENC_DC = (_canonical_codes(_DC_LUMA_BITS, _DC_LUMA_VALS),
           _canonical_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS))
_ENC_AC = (_canonical_codes(_AC_LUMA_BITS, _AC_LUMA_VALS),
           _canonical_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS))

#: Orthonormal 8x8 DCT-II matrix: forward F = M @ f @ M.T, inverse
#: f = M.T @ F @ M.
_DCT_M = np.zeros((8, 8))
for _u in range(8):
    _c = np.sqrt(0.5) if _u == 0 else 1.0
    for _x in range(8):
        _DCT_M[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16)


def scaled_quant_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex-K tables (natural order)."""
    if not 1 <= quality <= 100:
        raise ValueError("JPEG quality must be in [1, 100]")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for tbl in (QUANT_LUMA, QUANT_CHROMA):
        scaled = (tbl * scale + 50) // 100
        out.append(np.clip(scaled, 1, 255).astype(np.int64))
    return out[0], out[1]


# --- bit-level I/O -----------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            byte = (self.acc >> self.n) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:        # T.81 byte stuffing
                self.buf.append(0x00)
        self.acc &= (1 << self.n) - 1

    def flush(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def read(self, k: int) -> int:
        if k == 0:
            return 0
        while self.n < k:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= k
        value = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1
        return value


def _decode_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _extend(value: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the `size` magnitude bits to a signed
    coefficient (low half of the range is negative, ones'-complement)."""
    if size == 0:
        return 0
    return value - (1 << size) + 1 if value < (1 << (size - 1)) else value


# --- color transforms --------------------------------------------------------


def _rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 RGB -> float64 YCbCr planes (JFIF / BT.601)."""
    x = img.astype(np.float64)
    r, g, b = x[..., 0], x[..., 1], x[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# --- block helpers -----------------------------------------------------------


def _pad_edge(plane: np.ndarray, ph: int, pw: int) -> np.ndarray:
    h, w = plane.shape
    return np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H, W multiples of 8 -> (H//8, W//8, 8, 8)."""
    bh, bw = plane.shape[0] // 8, plane.shape[1] // 8
    return plane.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3)


def _from_blocks(blocks: np.ndarray) -> np.ndarray:
    bh, bw = blocks.shape[:2]
    return blocks.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)


def _forward_dct_quant(plane: np.ndarray, qtable: np.ndarray) -> np.ndarray:
    """Level-shift + batch DCT + quantize -> (bh, bw, 64) int zigzag coeffs."""
    blocks = _to_blocks(plane.astype(np.float64) - 128.0)
    freq = np.einsum("ij,rcjk,lk->rcil", _DCT_M, blocks, _DCT_M)
    q = np.round(freq / qtable.reshape(8, 8)).astype(np.int64)
    return q.reshape(*q.shape[:2], 64)[..., ZIGZAG]


def _dequant_idct(zz: np.ndarray, qtable_zz: np.ndarray) -> np.ndarray:
    """(n_blocks, 64) zigzag coeffs + zigzag quant table -> (n, 8, 8) pixels."""
    natural = np.zeros_like(zz)
    natural[:, ZIGZAG] = zz * qtable_zz
    blocks = natural.reshape(-1, 8, 8).astype(np.float64)
    pix = np.einsum("ji,njk,kl->nil", _DCT_M, blocks, _DCT_M)
    return pix + 128.0


# --- encoder -----------------------------------------------------------------


def _encode_block(w: _BitWriter, zz: np.ndarray, prev_dc: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    dc = int(zz[0])
    diff = dc - prev_dc
    size = abs(diff).bit_length()
    code, length = dc_codes[size]
    w.write(code, length)
    if size:
        w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]      # ZRL
            w.write(code, length)
            run -= 16
        size = abs(v).bit_length()
        code, length = ac_codes[(run << 4) | size]
        w.write(code, length)
        w.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if run:
        code, length = ac_codes[0x00]           # EOB
        w.write(code, length)
    return dc


def _segment(marker: int, payload: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def _dht_payload(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    return bytes([(tclass << 4) | tid] + bits + vals)


def _frame_setup(img: np.ndarray, quality: int, subsampling: str,
                 restart_interval: int | None):
    """Shared encoder front half: validation, color transform, padding,
    subsampling, forward DCT + quantization.  Returns
    (h, w, gray, factors, qy, qc, coeffs, mcus_x, mcus_y) where
    ``coeffs[ci]`` is the (block_rows, block_cols, 64) zigzag coefficient
    grid padded to the MCU lattice."""
    if img.dtype != np.uint8:
        raise ValueError("encode_jpeg needs a uint8 array")
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[:, :, 0]
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError("encode_jpeg needs (h, w), (h, w, 1) or (h, w, 3)")
    if subsampling not in ("444", "420"):
        raise ValueError("subsampling must be '444' or '420'")
    if restart_interval is not None and restart_interval <= 0:
        raise ValueError("restart_interval must be positive")
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("cannot encode an empty image")
    qy, qc = scaled_quant_tables(quality)

    sub = (2, 2) if (subsampling == "420" and not gray) else (1, 1)
    mcu_h, mcu_w = 8 * sub[1], 8 * sub[0]
    mcus_y = -(-h // mcu_h)
    mcus_x = -(-w // mcu_w)
    ph, pw = mcus_y * mcu_h, mcus_x * mcu_w

    if gray:
        planes = [_pad_edge(img.astype(np.float64), ph, pw)]
        factors = [(1, 1)]
        qtables = [qy]
    else:
        ycc = _rgb_to_ycbcr(img)
        ypad = _pad_edge(ycc[..., 0], ph, pw)
        cb = _pad_edge(ycc[..., 1], ph, pw)
        cr = _pad_edge(ycc[..., 2], ph, pw)
        if sub == (2, 2):
            cb = cb.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
        planes = [ypad, cb, cr]
        factors = [sub, (1, 1), (1, 1)]
        qtables = [qy, qc, qc]

    coeffs = [_forward_dct_quant(p, q) for p, q in zip(planes, qtables)]
    return h, w, gray, factors, qy, qc, coeffs, mcus_x, mcus_y


def encode_jpeg(img: np.ndarray, *, quality: int = 85,
                subsampling: str = "444",
                restart_interval: int | None = None) -> bytes:
    """uint8 array -> baseline JFIF JPEG bytes.

    (h, w, 3) RGB encodes 3-component YCbCr; (h, w) or (h, w, 1) encodes a
    single-component grayscale JPEG.  ``subsampling`` is ``"444"`` (no
    chroma subsampling) or ``"420"`` (2x2 box-mean chroma).
    ``restart_interval`` (in MCUs) emits DRI + RST0-7 markers, the
    mechanism a parallel decoder shards the entropy stream with.
    """
    (h, w, gray, factors, qy, qc, coeffs,
     mcus_x, mcus_y) = _frame_setup(img, quality, subsampling,
                                    restart_interval)

    writer = _BitWriter()
    out = bytearray(b"\xff\xd8")                              # SOI
    out += _segment(0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0))
    out += _segment(0xDB, bytes([0x00]) + bytes(qy[ZIGZAG].tolist()))
    if not gray:
        out += _segment(0xDB, bytes([0x01]) + bytes(qc[ZIGZAG].tolist()))
    ncomp = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hv = (factors[ci][0] << 4) | factors[ci][1]
        sof += bytes([ci + 1, hv, 0 if ci == 0 else 1])
    out += _segment(0xC0, sof)                                # SOF0 baseline
    out += _segment(0xC4, _dht_payload(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS))
    out += _segment(0xC4, _dht_payload(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS))
    if not gray:
        out += _segment(0xC4, _dht_payload(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS))
        out += _segment(0xC4, _dht_payload(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS))
    if restart_interval:
        out += _segment(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        tid = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (tid << 4) | tid])
    sos += bytes([0, 63, 0])
    out += _segment(0xDA, sos)

    prev_dc = [0] * ncomp
    mcu_index = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                writer.flush()
                writer.buf += bytes([0xFF, 0xD0 + rst])
                rst = (rst + 1) % 8
                prev_dc = [0] * ncomp
            for ci in range(ncomp):
                fh, fv = factors[ci]
                tid = 0 if ci == 0 else 1
                for r in range(fv):
                    for c in range(fh):
                        zz = coeffs[ci][my * fv + r, mx * fh + c]
                        prev_dc[ci] = _encode_block(
                            writer, zz, prev_dc[ci], _ENC_DC[tid], _ENC_AC[tid])
            mcu_index += 1
    writer.flush()
    out += writer.buf
    out += b"\xff\xd9"                                        # EOI
    return bytes(out)


# --- progressive encoder (ITU T.81 Annex G) ---------------------------------


def _optimal_huffman(freq_map: dict[int, int]) -> tuple[list[int], list[int]]:
    """T.81 Annex K.2: optimal length-limited canonical Huffman table
    from symbol frequencies.  The 257th pseudo-symbol (index 256, freq 1)
    reserves the all-ones code as the spec requires; Figure K.3's
    Adjust_BITS folds lengths >16 back into the 16-level histogram.
    Returns (bits[1..16], huffval) ready for a DHT segment."""
    freq = np.zeros(257, dtype=np.int64)
    for sym, count in freq_map.items():
        freq[sym] = count
    freq[256] = 1
    codesize = np.zeros(257, dtype=np.int64)
    others = np.full(257, -1, dtype=np.int64)
    while True:
        # v1 = least-frequency symbol (ties -> LARGEST index), v2 = next.
        nz = np.flatnonzero(freq > 0)
        if nz.size <= 1:
            break
        order = nz[np.lexsort((-nz, freq[nz]))]  # by freq asc, index desc
        v1, v2 = int(order[0]), int(order[1])
        freq[v1] += freq[v2]
        freq[v2] = 0
        codesize[v1] += 1
        while others[v1] != -1:
            v1 = int(others[v1])
            codesize[v1] += 1
        others[v1] = v2
        codesize[v2] += 1
        while others[v2] != -1:
            v2 = int(others[v2])
            codesize[v2] += 1
    # A Huffman tree over 257 leaves can be up to 256 deep for
    # pathologically skewed (Fibonacci-like) frequencies, so size the
    # histogram by the actual maximum instead of K.3's literal 32.
    bits = [0] * (max(17, int(codesize.max()) + 1))
    for i in range(257):
        if codesize[i]:
            bits[int(codesize[i])] += 1
    # Adjust_BITS: fold lengths >16 (K.3).
    i = len(bits) - 1
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # remove the reserved pseudo-symbol
    # HUFFVAL: symbols sorted by code length then value (K.4).
    syms = [s for s in range(256) if codesize[s]]
    syms.sort(key=lambda s: (int(codesize[s]), s))
    return bits[1:17], syms


class _ScanOps:
    """Two-pass scan emission: record (table, symbol) / raw-bit ops while
    counting per-table symbol frequencies, then render with the optimal
    canonical tables built from those counts — the same
    optimal-per-scan-table strategy libjpeg uses for progressive."""

    def __init__(self) -> None:
        self.ops: list[tuple] = []
        self.freq: dict[int, dict[int, int]] = {}

    def symbol(self, tid: int, sym: int) -> None:
        self.ops.append(("s", tid, sym))
        tbl = self.freq.setdefault(tid, {})
        tbl[sym] = tbl.get(sym, 0) + 1

    def bits(self, value: int, length: int) -> None:
        if length:
            self.ops.append(("b", value, length))

    def rst(self, index: int) -> None:
        self.ops.append(("r", index))

    def render(self, writer: _BitWriter,
               codes: dict[int, dict[int, tuple[int, int]]]) -> None:
        for op in self.ops:
            if op[0] == "s":
                code, length = codes[op[1]][op[2]]
                writer.write(code, length)
            elif op[0] == "b":
                writer.write(op[1], op[2])
            else:
                writer.flush()
                writer.buf += bytes([0xFF, 0xD0 + op[1]])


class _EobState:
    """Pending end-of-block run + the buffered correction bits that must
    ride behind its EOBn symbol (T.81 G.1.2.3; libjpeg's BE buffer)."""

    def __init__(self) -> None:
        self.run = 0
        self.bits: list[int] = []

    def flush(self, ops: _ScanOps, tid: int) -> None:
        if self.run > 0:
            r = self.run.bit_length() - 1
            ops.symbol(tid, r << 4)
            ops.bits(self.run - (1 << r), r)
        for b in self.bits:
            ops.bits(b, 1)
        self.run = 0
        self.bits = []


def _prog_ac_first_block(ops: _ScanOps, tid: int, zz: np.ndarray,
                         ss: int, se: int, al: int, eob: _EobState) -> None:
    run = 0
    coded_any = False
    for k in range(ss, se + 1):
        v = int(zz[k])
        t = abs(v) >> al
        if t == 0:
            run += 1
            continue
        if not coded_any:
            eob.flush(ops, tid)
            coded_any = True
        while run > 15:
            ops.symbol(tid, 0xF0)
            run -= 16
        size = t.bit_length()
        ops.symbol(tid, (run << 4) | size)
        mag = t if v >= 0 else -t
        ops.bits(mag if mag >= 0 else mag + (1 << size) - 1, size)
        run = 0
    if run or not coded_any:
        eob.run += 1
        if eob.run == 0x7FFF:
            eob.flush(ops, tid)


def _prog_ac_refine_block(ops: _ScanOps, tid: int, zz: np.ndarray,
                          ss: int, se: int, al: int, eob: _EobState) -> None:
    absval = [abs(int(zz[k])) >> al for k in range(ss, se + 1)]
    last_new = -1
    for i, t in enumerate(absval):
        if t == 1:
            last_new = i
    run = 0
    pending: list[int] = []
    for i, t in enumerate(absval):
        if t == 0:
            run += 1
            continue
        while run > 15 and i <= last_new:
            eob.flush(ops, tid)
            ops.symbol(tid, 0xF0)
            run -= 16
            for b in pending:
                ops.bits(b, 1)
            pending = []
        if t > 1:
            # History coefficient: just its next magnitude bit, buffered
            # behind whatever symbol gets emitted next.
            pending.append(t & 1)
            continue
        eob.flush(ops, tid)
        ops.symbol(tid, (run << 4) | 1)
        ops.bits(1 if int(zz[ss + i]) >= 0 else 0, 1)
        for b in pending:
            ops.bits(b, 1)
        pending = []
        run = 0
    if run or pending:
        eob.run += 1
        eob.bits.extend(pending)
        if eob.run == 0x7FFF:
            eob.flush(ops, tid)


def _comp_block_dims(h: int, w: int, fh: int, fv: int, hmax: int, vmax: int,
                     ncomp: int) -> tuple[int, int]:
    """True (block_rows, block_cols) of a component for non-interleaved
    scans (T.81 A.2.2): from the component's own sample dims, not the
    padded MCU lattice.  Single-component frames use the frame dims."""
    if ncomp == 1:
        ch, cw = h, w
    else:
        ch = -(-h * fv // vmax)
        cw = -(-w * fh // hmax)
    return -(-ch // 8), -(-cw // 8)


def encode_jpeg_progressive(img: np.ndarray, *, quality: int = 85,
                            subsampling: str = "444",
                            restart_interval: int | None = None) -> bytes:
    """uint8 array -> progressive (SOF2) JFIF JPEG bytes.

    Same input contract as :func:`encode_jpeg`; the quantized
    coefficients are identical, only the entropy layer differs, so
    ``decode_jpeg`` must reproduce the baseline encode's pixels EXACTLY
    (the round-trip equivalence the tests pin).  The scan script mirrors
    libjpeg's default: an Al=1 DC scan, spectral-banded AC first scans
    (luma split 1-5 / 6-63, chroma 1-63), then successive-approximation
    refinements down to Al=0.  Each scan gets optimal per-scan Huffman
    tables (T.81 K.2) — which exercises the EOBn > 1 run codes the
    Annex-K typical tables cannot express.  ``restart_interval`` (in
    MCUs; blocks for the non-interleaved AC scans) emits DRI + RST0-7
    in every scan."""
    (h, w, gray, factors, qy, qc, coeffs,
     mcus_x, mcus_y) = _frame_setup(img, quality, subsampling,
                                    restart_interval)
    ncomp = 1 if gray else 3
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    n_mcus = mcus_x * mcus_y
    if gray:
        script: list[tuple] = [
            ("dc", [0], 0, 0, 0, 1),
            ("ac", 0, 1, 63, 0, 2),
            ("ac", 0, 1, 63, 2, 1),
            ("dc", [0], 0, 0, 1, 0),
            ("ac", 0, 1, 63, 1, 0),
        ]
    else:
        script = [
            ("dc", [0, 1, 2], 0, 0, 0, 1),
            ("ac", 0, 1, 5, 0, 2),
            ("ac", 1, 1, 63, 0, 1),
            ("ac", 2, 1, 63, 0, 1),
            ("ac", 0, 6, 63, 0, 2),
            ("ac", 0, 1, 63, 2, 1),
            ("dc", [0, 1, 2], 0, 0, 1, 0),
            ("ac", 1, 1, 63, 1, 0),
            ("ac", 2, 1, 63, 1, 0),
            ("ac", 0, 1, 63, 1, 0),
        ]

    out = bytearray(b"\xff\xd8")
    out += _segment(0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0))
    out += _segment(0xDB, bytes([0x00]) + bytes(qy[ZIGZAG].tolist()))
    if not gray:
        out += _segment(0xDB, bytes([0x01]) + bytes(qc[ZIGZAG].tolist()))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hv = (factors[ci][0] << 4) | factors[ci][1]
        sof += bytes([ci + 1, hv, 0 if ci == 0 else 1])
    out += _segment(0xC2, sof)                                # SOF2
    if restart_interval:
        out += _segment(0xDD, struct.pack(">H", restart_interval))

    for kind, comp, ss, se, ah, al in script:
        ops = _ScanOps()
        if kind == "dc":
            pred = [0] * ncomp
            rst = 0
            for m in range(n_mcus):
                if restart_interval and m and m % restart_interval == 0:
                    ops.rst(rst)
                    rst = (rst + 1) % 8
                    pred = [0] * ncomp
                my, mx = divmod(m, mcus_x)
                for ci in comp:
                    fh, fv = factors[ci] if ncomp > 1 else (1, 1)
                    tid = 0 if ci == 0 else 1
                    for r in range(fv):
                        for c in range(fh):
                            dc = int(coeffs[ci][my * fv + r, mx * fh + c, 0])
                            if ah == 0:
                                d = (dc >> al) - pred[ci]
                                pred[ci] = dc >> al
                                size = abs(d).bit_length()
                                ops.symbol(tid, size)
                                ops.bits(d if d >= 0 else d + (1 << size) - 1,
                                         size)
                            else:
                                ops.bits((dc >> al) & 1, 1)
        else:
            ci = comp
            fh, fv = factors[ci]
            tid = 0 if ci == 0 else 1
            bh, bw = _comp_block_dims(h, w, fh, fv, hmax, vmax, ncomp)
            eob = _EobState()
            rst = 0
            for b in range(bh * bw):
                if restart_interval and b and b % restart_interval == 0:
                    eob.flush(ops, tid)
                    ops.rst(rst)
                    rst = (rst + 1) % 8
                by, bx = divmod(b, bw)
                zz = coeffs[ci][by, bx]
                if ah == 0:
                    _prog_ac_first_block(ops, tid, zz, ss, se, al, eob)
                else:
                    _prog_ac_refine_block(ops, tid, zz, ss, se, al, eob)
            eob.flush(ops, tid)

        # Per-scan optimal tables; DC refinement scans emit raw bits only.
        codes: dict[int, dict[int, tuple[int, int]]] = {}
        tclass = 0 if kind == "dc" else 1
        for tid, freq in sorted(ops.freq.items()):
            bits, vals = _optimal_huffman(freq)
            out += _segment(0xC4, _dht_payload(tclass, tid, bits, vals))
            codes[tid] = _canonical_codes(bits, vals)
        sel = comp if kind == "dc" else [comp]
        sos = bytes([len(sel)])
        for ci in sel:
            tid = 0 if ci == 0 else 1
            sos += bytes([ci + 1,
                          (tid << 4) if kind == "dc" else tid])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _segment(0xDA, sos)
        writer = _BitWriter()
        ops.render(writer, codes)
        writer.flush()
        out += writer.buf

    out += b"\xff\xd9"
    return bytes(out)


def probe_dims(data: bytes) -> tuple[int, int]:
    """(width, height) from the SOF header without touching the entropy
    stream — O(marker segments), not O(pixels).  Rejects exactly the
    coding processes ``decode_jpeg`` rejects so a probe-then-decode
    pipeline never disagrees with itself.  Same total error contract:
    malformed input raises ``ValueError``."""
    try:
        return _probe_dims_impl(bytes(data))
    except (IndexError, OverflowError, struct.error) as exc:
        raise ValueError(f"malformed JPEG stream: {exc}") from exc


def _next_marker(data: bytes, pos: int) -> tuple[int, int]:
    """Next marker code at ``pos``, skipping fill bytes (T.81 B.1.1.2
    allows any run of extra 0xFF before the marker code — some encoders
    pad with them, and libjpeg's next_marker skips them).  Returns
    (marker, position after the marker)."""
    n = len(data)
    if pos >= n or data[pos] != 0xFF:
        raise ValueError("JPEG marker expected")
    while pos + 1 < n and data[pos + 1] == 0xFF:
        pos += 1
    if pos + 1 >= n:
        raise ValueError("truncated JPEG marker")
    return data[pos + 1], pos + 2


def _is_supported_sof(marker: int) -> bool:
    """True for the supported frame markers (SOF0/SOF1 baseline, SOF2
    progressive — r12); raises for every other SOF class.  The ONE list
    both the decoder and the header probe consult, so they cannot drift
    apart on which coding processes they reject."""
    if marker in (0xC0, 0xC1, 0xC2):
        return True
    if marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                  0xCD, 0xCE, 0xCF):
        raise ValueError("unsupported JPEG coding process "
                         f"(SOF marker 0x{marker:02X})")
    return False


def _probe_dims_impl(data: bytes) -> tuple[int, int]:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file")
    pos = 2
    n = len(data)
    while pos + 2 <= n:
        marker, pos = _next_marker(data, pos)
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment header")
        length = struct.unpack_from(">H", data, pos)[0]
        if pos + length > n:
            raise ValueError("truncated JPEG segment")
        if _is_supported_sof(marker):
            precision, fh_, fw_ = struct.unpack_from(">BHH", data, pos + 2)
            if precision != 8:
                raise ValueError("only 8-bit JPEG precision supported")
            if fh_ == 0:
                raise ValueError("DNL-deferred height not supported")
            return int(fw_), int(fh_)
        if marker == 0xDA:
            break       # scan reached without a frame header
        pos += length
    raise ValueError("JPEG SOF missing")


# --- decoder -----------------------------------------------------------------


def _split_entropy(data: bytes, pos: int) -> tuple[list[bytes], int]:
    """Entropy-coded bytes from `pos` to the next non-RST marker, unstuffed
    (FF 00 -> FF) and split on RST0-7 boundaries."""
    segments: list[bytes] = []
    cur = bytearray()
    n = len(data)
    while pos < n:
        b = data[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            break
        nxt = data[pos + 1]
        if nxt == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= nxt <= 0xD7:
            segments.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            break
    segments.append(bytes(cur))
    return segments, pos


def _decode_prog_scan(segments: list[bytes], sel: list[tuple[int, int, int]],
                      ss: int, se: int, ah: int, al: int, state: dict,
                      dc_tables: dict, ac_tables: dict,
                      restart_interval: int) -> None:
    """Decode one progressive scan (T.81 Annex G.2), accumulating into
    ``state['blocks']``.  Four scan shapes: DC first / DC refinement
    (interleaved or not), AC first / AC refinement (spec-required
    non-interleaved).  Restart markers reset both the DC predictors and
    the EOB run."""
    blocks = state["blocks"]
    factors = state["factors"]
    mcus_x, mcus_y = state["mcus_x"], state["mcus_y"]
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ah == 0:
            state["dc_done"].update(ci for ci, _, _ in sel)
        elif not all(ci in state["dc_done"] for ci, _, _ in sel):
            raise ValueError("JPEG DC refinement before DC first scan")
    else:
        if len(sel) > 1:
            raise ValueError("progressive AC scan must be non-interleaved")
        if not 0 < ss <= se <= 63:
            raise ValueError("invalid progressive spectral band")
        if sel[0][0] not in state["dc_done"]:
            raise ValueError("JPEG AC scan before the DC first scan")

    interleaved = len(sel) > 1
    if interleaved:
        units = mcus_x * mcus_y
    else:
        ci0 = sel[0][0]
        fh0, fv0 = factors[ci0]
        bh0, bw0 = _comp_block_dims(state["h"], state["w"], fh0, fv0,
                                    state["hmax"], state["vmax"],
                                    state["ncomp"])
        units = bh0 * bw0

    def block_views(unit: int):
        """Yield (ci, dc_id, ac_id, coef_row) for every block of a unit."""
        if interleaved:
            my, mx = divmod(unit, mcus_x)
            for ci, dc_id, ac_id in sel:
                fh, fv = factors[ci]
                for r in range(fv):
                    for c in range(fh):
                        yield ci, dc_id, ac_id, blocks[ci][my * fv + r,
                                                           mx * fh + c]
        else:
            ci, dc_id, ac_id = sel[0]
            by, bx = divmod(unit, bw0)
            yield ci, dc_id, ac_id, blocks[ci][by, bx]

    p1 = 1 << al
    m1 = -p1
    done = 0
    seg_idx = 0
    while done < units:
        count = (min(restart_interval, units - done)
                 if restart_interval else units - done)
        if seg_idx >= len(segments):
            raise ValueError("JPEG restart segments missing")
        reader = _BitReader(segments[seg_idx])
        seg_idx += 1
        pred = [0] * len(blocks)
        eobrun = 0
        for unit in range(done, done + count):
            for ci, dc_id, ac_id, coef in block_views(unit):
                if ss == 0 and ah == 0:          # DC first
                    try:
                        dc_tbl = dc_tables[dc_id]
                    except KeyError:
                        raise ValueError("JPEG scan references missing "
                                         "Huffman table") from None
                    size = _decode_symbol(reader, dc_tbl)
                    if size > 11:
                        raise ValueError(f"invalid JPEG DC category {size}")
                    pred[ci] += _extend(reader.read(size), size)
                    coef[0] = pred[ci] << al
                elif ss == 0:                    # DC refinement: raw bit
                    if reader.read(1):
                        coef[0] |= p1
                elif ah == 0:                    # AC first
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    try:
                        ac_tbl = ac_tables[ac_id]
                    except KeyError:
                        raise ValueError("JPEG scan references missing "
                                         "Huffman table") from None
                    k = ss
                    while k <= se:
                        sym = _decode_symbol(reader, ac_tbl)
                        r, s = sym >> 4, sym & 0xF
                        if s == 0:
                            if r < 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += reader.read(r)
                                break
                            k += 16              # ZRL
                        else:
                            k += r
                            if k > se:
                                raise ValueError("JPEG AC run past band end")
                            coef[k] = _extend(reader.read(s), s) << al
                            k += 1
                else:                            # AC refinement (G.2, the
                    # libjpeg decode_mcu_AC_refine structure: correction
                    # bits for history coefficients, ±1<<Al insertions)
                    try:
                        ac_tbl = ac_tables[ac_id]
                    except KeyError:
                        raise ValueError("JPEG scan references missing "
                                         "Huffman table") from None
                    k = ss
                    if eobrun == 0:
                        while k <= se:
                            sym = _decode_symbol(reader, ac_tbl)
                            r, s = sym >> 4, sym & 0xF
                            val = 0
                            if s == 0:
                                if r < 15:
                                    # NOTE the convention difference from
                                    # the first-scan branch: the run count
                                    # here INCLUDES the current block,
                                    # whose remaining correction bits the
                                    # tail below still has to consume —
                                    # the tail decrements per block.
                                    eobrun = 1 << r
                                    if r:
                                        eobrun += reader.read(r)
                                    break
                                # r == 15: ZRL, skip 16 zero-history slots
                            else:
                                if s != 1:
                                    raise ValueError(
                                        "invalid JPEG AC refinement "
                                        "magnitude")
                                val = p1 if reader.read(1) else m1
                            while k <= se:
                                c = int(coef[k])
                                if c != 0:
                                    if reader.read(1) and (c & p1) == 0:
                                        coef[k] = c + (p1 if c >= 0 else m1)
                                else:
                                    if r == 0:
                                        break
                                    r -= 1
                                k += 1
                            if val:
                                if k > se:
                                    raise ValueError(
                                        "JPEG refinement run past band end")
                                coef[k] = val
                            k += 1
                    if eobrun > 0:
                        while k <= se:
                            c = int(coef[k])
                            if c != 0 and reader.read(1) and (c & p1) == 0:
                                coef[k] = c + (p1 if c >= 0 else m1)
                            k += 1
                        eobrun -= 1
        done += count


def decode_jpeg(data: bytes) -> np.ndarray:
    """Baseline or progressive JPEG bytes -> (h, w, 3) uint8 RGB (or
    (h, w, 1) for single-component grayscale streams).

    Total error contract: any malformed input raises ``ValueError`` —
    foreign exceptions from corrupt streams (truncated tables, insane
    DC categories, unpack shortfalls) are normalized here, fuzz-pinned
    by ``tests/test_jpeg_codec.py``."""
    try:
        return _decode_jpeg_impl(bytes(data))
    except (IndexError, OverflowError, struct.error) as exc:
        raise ValueError(f"malformed JPEG stream: {exc}") from exc


def _decode_jpeg_impl(data: bytes) -> np.ndarray:
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG file")
    pos = 2
    n = len(data)
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict[tuple[int, int], int]] = {}
    ac_tables: dict[int, dict[tuple[int, int], int]] = {}
    frame = None            # (h, w, [(comp_id, fh, fv, tq), ...])
    restart_interval = 0
    scan = None             # ([(comp_idx, dc_id, ac_id), ...], entropy segments)
    progressive = False
    prog: dict | None = None  # progressive accumulation state

    while pos + 2 <= n:
        marker, pos = _next_marker(data, pos)
        if marker == 0xD9:              # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue                    # TEM / stray RST: no payload
        if pos + 2 > n:
            raise ValueError("truncated JPEG segment header")
        length = struct.unpack_from(">H", data, pos)[0]
        payload = data[pos + 2:pos + length]
        if len(payload) != length - 2:
            raise ValueError("truncated JPEG segment")
        pos += length
        if marker == 0xDB:              # DQT (possibly several tables)
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quantization tables not supported")
                tbl = np.frombuffer(payload, dtype=np.uint8,
                                    count=64, offset=p + 1).astype(np.int64)
                qtables[tq] = tbl       # zigzag order, as stored
                p += 65
        elif marker == 0xC4:            # DHT (possibly several tables)
            p = 0
            while p < len(payload):
                tc, th = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1:p + 17])
                nv = sum(bits)
                vals = list(payload[p + 17:p + 17 + nv])
                codes = _canonical_codes(bits, vals)
                decode_map = {(ln, code): sym for sym, (code, ln) in codes.items()}
                (dc_tables if tc == 0 else ac_tables)[th] = decode_map
                p += 17 + nv
        elif marker != 0xDA and _is_supported_sof(marker):
            # SOF0/SOF1 baseline or SOF2 progressive (shared probe gate).
            if frame is not None:
                raise ValueError("multiple JPEG frame headers")
            progressive = marker == 0xC2
            precision, fh_, fw_, nf = struct.unpack_from(">BHHB", payload, 0)
            if precision != 8:
                raise ValueError("only 8-bit JPEG precision supported")
            if fh_ == 0:
                raise ValueError("DNL-deferred height not supported")
            comps = []
            for ci in range(nf):
                cid, hv, tq = payload[6 + 3 * ci:9 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (fh_, fw_, comps)
        elif marker == 0xDD:            # DRI
            restart_interval = struct.unpack_from(">H", payload, 0)[0]
        elif marker == 0xDA:            # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = payload[0]
            sel = []
            comp_ids = [c[0] for c in frame[2]]
            for si in range(ns):
                cid, tbls = payload[1 + 2 * si:3 + 2 * si]
                if cid not in comp_ids:
                    raise ValueError("JPEG scan references unknown component")
                sel.append((comp_ids.index(cid), tbls >> 4, tbls & 0xF))
            segments, pos = _split_entropy(data, pos)
            if not progressive:
                scan = (sel, segments)
                break                   # single-scan baseline: decode now
            ss, se, ahal = payload[1 + 2 * ns:4 + 2 * ns]
            if prog is None:
                prog = _prog_state(frame, segments, ss, ahal >> 4)
            _decode_prog_scan(segments, sel, ss, se, ahal >> 4, ahal & 0xF,
                              prog, dc_tables, ac_tables, restart_interval)
        # else: APPn / COM / unknown — skipped via the length field

    if frame is None or (scan is None and prog is None):
        raise ValueError("JPEG SOF/SOS missing")
    if progressive:
        return _reconstruct(frame, prog["factors"], prog["blocks"],
                            prog["hmax"], prog["vmax"], qtables)
    h, w, comps = frame
    sel, segments = scan
    if len(sel) != len(comps):
        raise ValueError("multi-scan (non-interleaved) baseline JPEG "
                         "not supported")
    for _, fh, fv, _ in comps:
        if fh not in (1, 2) or fv not in (1, 2):
            raise ValueError(f"unsupported sampling factor {fh}x{fv}")

    single = len(comps) == 1
    if single:
        # Non-interleaved single-component scan: MCU = one block (T.81
        # A.2.2), sampling factors don't tile.
        hmax = vmax = 1
        factors = [(1, 1)]
    else:
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        factors = [(c[1], c[2]) for c in comps]
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    n_mcus = mcus_x * mcus_y
    # Allocation guard against corrupt SOF dims: every coded block costs
    # ≥2 bits (a DC code + an EOB), so the declared geometry cannot need
    # more blocks than the entropy stream could possibly carry.  Without
    # this, a flipped dimension byte could ask for a multi-GB coefficient
    # buffer before the truncated-stream error ever fires.
    blocks_per_mcu = sum(fh * fv for fh, fv in factors)
    entropy_bits = 8 * sum(len(s) for s in segments)
    if n_mcus * blocks_per_mcu * 2 > entropy_bits + 16:
        raise ValueError("truncated JPEG entropy stream for declared frame size")
    if n_mcus * blocks_per_mcu * 64 > (1 << 28):
        # Absolute in-memory budget on top of the per-bit guard: the
        # coefficient grids are int64, and a MemoryError is not in the
        # totality contract's catchable set.
        raise ValueError("JPEG frame exceeds the in-memory decode budget")
    blocks = []
    for ci, (fh, fv) in enumerate(factors):
        blocks.append(np.zeros((mcus_y * fv, mcus_x * fh, 64), dtype=np.int64))

    def decode_mcu_range(reader: _BitReader, start: int, count: int,
                         prev_dc: list[int]) -> None:
        for m in range(start, start + count):
            my, mx = divmod(m, mcus_x)
            for ci, dc_id, ac_id in sel:
                try:
                    dc_tbl = dc_tables[dc_id]
                    ac_tbl = ac_tables[ac_id]
                except KeyError:
                    raise ValueError("JPEG scan references missing "
                                     "Huffman table") from None
                fh, fv = factors[ci]
                for r in range(fv):
                    for c in range(fh):
                        zz = np.zeros(64, dtype=np.int64)
                        size = _decode_symbol(reader, dc_tbl)
                        if size > 11:   # T.81: DC categories 0-11 at 8-bit
                            raise ValueError(
                                f"invalid JPEG DC category {size}")
                        prev_dc[ci] += _extend(reader.read(size), size)
                        zz[0] = prev_dc[ci]
                        k = 1
                        while k < 64:
                            sym = _decode_symbol(reader, ac_tbl)
                            run, ssss = sym >> 4, sym & 0xF
                            if ssss == 0:
                                if run == 15:
                                    k += 16
                                    continue
                                break           # EOB
                            k += run
                            if k > 63:
                                raise ValueError("JPEG AC run past block end")
                            zz[k] = _extend(reader.read(ssss), ssss)
                            k += 1
                        blocks[ci][my * fv + r, mx * fh + c] = zz

    if restart_interval:
        expected = -(-n_mcus // restart_interval)
        if len(segments) < expected:
            raise ValueError("JPEG restart segments missing")
        done = 0
        for seg in segments:
            if done >= n_mcus:
                break
            count = min(restart_interval, n_mcus - done)
            decode_mcu_range(_BitReader(seg), done, count, [0] * len(comps))
            done += count
    else:
        decode_mcu_range(_BitReader(segments[0]), 0, n_mcus, [0] * len(comps))

    return _reconstruct(frame, factors, blocks, hmax, vmax, qtables)


def _prog_state(frame: tuple, segments: list[bytes], ss: int,
                ah: int) -> dict:
    """Allocate the progressive coefficient accumulators at the first
    SOS.  Spec order: the first scan of a progressive frame must be a DC
    first scan (T.81 G.1.1.1.1), which also gives the allocation guard —
    a DC first scan Huffman-codes every block of its components at ≥1
    bit, so corrupt SOF dims cannot demand a buffer the stream could
    never fill."""
    h, w, comps = frame
    for _, fh, fv, _ in comps:
        if fh not in (1, 2) or fv not in (1, 2):
            raise ValueError(f"unsupported sampling factor {fh}x{fv}")
    if ss != 0 or ah != 0:
        raise ValueError("progressive JPEG must start with a DC first scan")
    if len(comps) == 1:
        hmax = vmax = 1
        factors = [(1, 1)]
    else:
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        factors = [(c[1], c[2]) for c in comps]
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    entropy_bits = 8 * sum(len(s) for s in segments)
    if mcus_x * mcus_y > entropy_bits + 16:
        raise ValueError("truncated JPEG entropy stream for declared "
                         "frame size")
    if (mcus_x * mcus_y * 64
            * sum(fh * fv for fh, fv in factors)) > (1 << 28):
        raise ValueError("JPEG frame exceeds the in-memory decode budget")
    blocks = [np.zeros((mcus_y * fv, mcus_x * fh, 64), dtype=np.int64)
              for fh, fv in factors]
    return {"blocks": blocks, "factors": factors, "hmax": hmax,
            "vmax": vmax, "mcus_x": mcus_x, "mcus_y": mcus_y,
            "h": h, "w": w, "ncomp": len(comps), "dc_done": set()}


def _reconstruct(frame: tuple, factors: list[tuple[int, int]],
                 blocks: list[np.ndarray], hmax: int, vmax: int,
                 qtables: dict[int, np.ndarray]) -> np.ndarray:
    """Shared decoder back half: dequantize + IDCT every component grid,
    crop to true dims, upsample to the frame lattice, color-convert."""
    h, w, comps = frame
    single = len(comps) == 1
    planes = []
    for ci, (cid, fh_c, fv_c, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("JPEG component references missing quant table")
        fh, fv = factors[ci]
        grid = blocks[ci]
        bh, bw = grid.shape[:2]
        pix = _dequant_idct(grid.reshape(-1, 64), qtables[tq])
        plane = _from_blocks(pix.reshape(bh, bw, 8, 8))
        # Crop to the component's true dims, then upsample to frame grid.
        ch = -(-h * fv // vmax) if not single else h
        cw = -(-w * fh // hmax) if not single else w
        plane = plane[:ch, :cw]
        if fv < vmax:
            plane = np.repeat(plane, vmax // fv, axis=0)
        if fh < hmax:
            plane = np.repeat(plane, hmax // fh, axis=1)
        planes.append(plane[:h, :w])

    if single:
        gray = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])
