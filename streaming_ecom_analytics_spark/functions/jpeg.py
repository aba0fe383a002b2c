"""Dependency-free baseline JPEG codec (pure numpy), from the public
ITU-T T.81 spec — closes the "JPEG stays stubbed" gap in
``functions/imaging.py`` so ``multimodal.decode_image_with_status``
covers the dominant ML-dataset image format for real.

Scope (the baseline-sequential subset that covers the overwhelming
majority of dataset JPEGs):

- **Decoder**: SOI/APPn/DQT/SOF0/SOF1/DHT/DRI/SOS/RSTn/EOI marker walk,
  generic Huffman tables read from the file's own DHT segments (any
  valid table, not just Annex K), 8-bit precision, 1- or 3-component
  scans, chroma subsampling up to 2×2 (4:4:4, 4:2:2, 4:2:0), restart
  intervals, byte-stuffing. Dequantize → de-zigzag → vectorized 8×8
  IDCT (matrix form, all blocks at once) → upsample → YCbCr→RGB
  (BT.601, the JFIF convention).
- **Encoder**: baseline 4:4:4 (or single-component greyscale), Annex K
  quantization tables scaled by a libjpeg-style quality factor, Annex K
  Huffman tables, restart-free single scan. Exists so the decoder can
  be verified against an independent implementation of the forward
  path (FDCT vs IDCT, canonical-code build vs bitstream decode) without
  any codec library in the container.

Progressive (SOF2), arithmetic coding, 12-bit precision, and CMYK
raise ValueError with a precise message — callers fall back per
``multimodal.decode_image_with_status``'s documented contract.

Reference context: DrUkachi/streaming-ecom-analytics has no media
path at all; this module serves the brief's multimodal-column tier
(decode / feature-extract as Arrow-batched UDFs over binary columns).
"""

from __future__ import annotations

import struct

import numpy as np

# Zigzag scan order (T.81 Figure 5): zigzag index -> raster index.
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Annex K.1 quantization tables (quality 50), zigzag order NOT applied
# (these are raster order, row-major).
QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
)
QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
)

# Annex K.3 typical Huffman tables: (BITS counts per code length 1..16,
# HUFFVAL symbol list). Only the ENCODER depends on these — the decoder
# always uses the tables carried in the file's DHT segments.
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
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
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8-point DCT-II basis matrix: row k, col x = c(k)/2 * cos((2x+1)kπ/16).
# FDCT of block B (raster 8×8, level-shifted) = A @ B @ A.T;
# IDCT of coefficients C = A.T @ C @ A. Orthonormal, so the pair is an
# exact inverse up to float rounding.
_A = np.zeros((8, 8))
for _k in range(8):
    _c = np.sqrt(0.125) if _k == 0 else 0.5
    for _x in range(8):
        _A[_k, _x] = _c * np.cos((2 * _x + 1) * _k * np.pi / 16)
del _k, _c, _x


def _build_huffman_decode(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman table -> {(code_length, code): symbol}."""
    table, code, idx = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[idx]
            code += 1
            idx += 1
        code <<= 1
    return table


def _build_huffman_encode(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman table -> {symbol: (code, code_length)}."""
    return {
        sym: (code, length)
        for (length, code), sym in _build_huffman_decode(bits, vals).items()
    }


class _BitReader:
    """MSB-first bit reader over entropy-coded JPEG data with byte
    stuffing (0xFF 0x00) and restart-marker awareness."""

    __slots__ = ("data", "pos", "bitbuf", "nbits", "hit_marker")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.hit_marker = False

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG stream (EOF mid-scan)")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated JPEG stream (EOF mid-scan)")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:  # stuffed literal 0xFF
                self.pos += 2
            else:  # a real marker terminates entropy data
                self.hit_marker = True
                self.bitbuf = (self.bitbuf << 8) | 0xFF  # pad; spec: 1-bits
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.bitbuf = (self.bitbuf << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_restart(self) -> None:
        """Byte-align and consume an RSTn marker (T.81 §E.2.4)."""
        self.bitbuf = 0
        self.nbits = 0
        self.hit_marker = False
        while self.pos + 1 < len(self.data) and (
            self.data[self.pos] != 0xFF or self.data[self.pos + 1] == 0x00
        ):
            self.pos += 1  # tolerate garbage up to the marker
        if self.pos + 1 >= len(self.data):
            raise ValueError("truncated JPEG stream (EOF at restart marker)")
        if 0xD0 <= self.data[self.pos + 1] <= 0xD7:
            self.pos += 2

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid JPEG Huffman code (corrupt stream)")


def _extend(v: int, size: int) -> int:
    """T.81 EXTEND: map a SIZE-bit magnitude to its signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def decode_jpeg(content: bytes) -> np.ndarray:
    """Baseline JPEG bytes → uint8 (H, W) grey or (H, W, 3) RGB.

    Raises ValueError on non-baseline streams (progressive, 12-bit,
    arithmetic, >3 components) — never returns garbage pixels.
    """
    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None  # (h, w, [(comp_id, hs, vs, tq)])
    restart_interval = 0
    scan_comps = None
    while pos < len(content):
        if content[pos] != 0xFF:
            pos += 1
            continue
        marker = content[pos + 1]
        pos += 2
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", content, pos)
        seg = content[pos + 2 : pos + seglen]
        end = pos + seglen
        if marker == 0xDB:  # DQT — one or more tables per segment
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                if pq == 0:
                    tbl = np.frombuffer(seg, np.uint8, 64, p).astype(np.int64)
                    p += 64
                else:
                    tbl = np.frombuffer(seg, ">u2", 64, p).astype(np.int64)
                    p += 128
                raster = np.empty(64, np.int64)
                raster[ZIGZAG] = tbl  # DQT is stored in zigzag order
                qt[tq] = raster
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1 (baseline/ext-seq)
            precision, h, w, ncomp = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if precision != 8:
                raise ValueError(f"unsupported JPEG precision {precision}")
            if ncomp not in (1, 3):
                raise ValueError(f"unsupported JPEG component count {ncomp}")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (h, w, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG frame type SOF{marker - 0xC0} "
                "(only baseline/extended sequential)"
            )
        elif marker == 0xC4:  # DHT — one or more tables per segment
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1 : p + 17])
                nsym = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nsym])
                p += 17 + nsym
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman_decode(bits, vals)
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS — entropy data follows the header
            ns = seg[0]
            scan_comps = []
            for i in range(ns):
                cs, tables = seg[1 + 2 * i], seg[2 + 2 * i]
                scan_comps.append((cs, tables >> 4, tables & 0x0F))
            pos = end
            break
        pos = end
    if frame is None or scan_comps is None:
        raise ValueError("JPEG missing SOF/SOS")

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    # Per-component coefficient planes in block units.
    planes = {}
    for cid, hs, vs, _tq in comps:
        planes[cid] = np.zeros((mcus_y * vs, mcus_x * hs, 64), dtype=np.int32)

    reader = _BitReader(content, pos)
    pred = {cid: 0 for cid, *_ in comps}
    comp_by_id = {cid: (hs, vs, tq) for cid, hs, vs, tq in comps}
    mcu_index = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                reader.align_restart()
                pred = {cid: 0 for cid in pred}
            for cs, td, ta in scan_comps:
                hs, vs, _tq = comp_by_id[cs]
                dc_tbl, ac_tbl = huff_dc[td], huff_ac[ta]
                for by in range(vs):
                    for bx in range(hs):
                        block = planes[cs][my * vs + by, mx * hs + bx]
                        size = reader.decode_symbol(dc_tbl)
                        pred[cs] += _extend(reader.read_bits(size), size)
                        block[0] = pred[cs]
                        k = 1
                        while k < 64:
                            rs = reader.decode_symbol(ac_tbl)
                            run, size = rs >> 4, rs & 0x0F
                            if size == 0:
                                if run == 15:  # ZRL: 16 zeros
                                    k += 16
                                    continue
                                break  # EOB
                            k += run
                            if k > 63:
                                raise ValueError("JPEG AC index overflow")
                            block[k] = _extend(reader.read_bits(size), size)
                            k += 1
            mcu_index += 1

    # Dequantize + de-zigzag + IDCT, all blocks of a component at once.
    out_planes = {}
    for cid, hs, vs, tq in comps:
        coeffs = planes[cid].astype(np.float64)  # (by, bx, 64) zigzag
        deq = np.empty_like(coeffs)
        deq[..., ZIGZAG] = coeffs * qt[tq][ZIGZAG]
        blocks = deq.reshape(-1, 8, 8)
        pix = np.einsum("kb,nkl,lc->nbc", _A, blocks, _A, optimize=True) + 128.0
        by, bx = planes[cid].shape[:2]
        plane = (
            pix.reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )
        # upsample to full resolution (nearest, per T.81 simple expansion)
        plane = np.repeat(np.repeat(plane, vmax // vs, axis=0), hmax // hs, axis=1)
        out_planes[cid] = plane[:h, :w]

    if len(comps) == 1:
        return np.clip(out_planes[comps[0][0]], 0, 255).astype(np.uint8)
    y, cb, cr = (out_planes[cid] for cid, *_ in comps)
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# ---- encoder ----


def _quality_scale(tbl: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-style quality scaling of an Annex K table (public
    jpeg_quality_scaling formula)."""
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((tbl * scale + 50) // 100, 1, 255)


class _BitWriter:
    __slots__ = ("out", "bitbuf", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.bitbuf = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.bitbuf = (self.bitbuf << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.bitbuf >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _csize(v: int) -> int:
    """Bit category of a signed coefficient value."""
    return int(abs(v)).bit_length()


def _encode_block(
    wr: _BitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    dc = int(zz[0])
    diff = dc - pred
    size = _csize(diff)
    code, length = dc_codes[size]
    wr.write(code, length)
    if size:
        wr.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if k > last_nz:
            break
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            wr.write(code, length)
            run -= 16
        size = _csize(v)
        code, length = ac_codes[(run << 4) | size]
        wr.write(code, length)
        wr.write(v if v >= 0 else v + (1 << size) - 1, size)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        wr.write(code, length)
    return dc


def _component_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """float plane (H8, W8) -> quantized zigzag blocks (nby, nbx, 64)."""
    h, w = plane.shape
    blocks = (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )
    coeffs = np.einsum("kb,nbc,cl->nkl", _A, blocks - 128.0, _A.T, optimize=True)
    qmat = q.reshape(8, 8).astype(np.float64)
    quant = np.round(coeffs / qmat).astype(np.int32).reshape(-1, 64)
    return quant[:, ZIGZAG].reshape(h // 8, w // 8, 64)  # raster -> zigzag


def encode_jpeg(
    img: np.ndarray,
    *,
    quality: int = 85,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """uint8 (H, W) grey or (H, W, 3) RGB → baseline JFIF JPEG bytes
    (Annex K tables scaled by ``quality``; 4:4:4 by default,
    ``subsample=True`` emits 4:2:0 with 2×2 box-averaged chroma —
    which also exercises the decoder's interleaved-MCU path;
    ``restart_interval=N`` emits DRI + RSTn every N MCUs, the
    error-resilience feature real-world encoders use)."""
    img = np.asarray(img, dtype=np.uint8)
    grey = img.ndim == 2
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    qy = _quality_scale(QUANT_LUMA, quality)
    qc = _quality_scale(QUANT_CHROMA, quality)

    sub = subsample and not grey
    if grey:
        planes = [img.astype(np.float64)]
    else:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        planes = [y, cb, cr]
    # pad with edge replication: MCU is 16×16 for 4:2:0, else 8×8
    mcu = 16 if sub else 8
    ph, pw = -(-h // mcu) * mcu, -(-w // mcu) * mcu
    planes = [
        np.pad(p, ((0, ph - h), (0, pw - w)), mode="edge") for p in planes
    ]
    if sub:  # 2×2 box-average chroma down to half resolution
        planes[1:] = [
            p.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3)) for p in planes[1:]
        ]
    quants = [qy] if grey else [qy, qc, qc]
    blocks = [_component_blocks(p, q) for p, q in zip(planes, quants)]

    dc_l = _build_huffman_encode(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_l = _build_huffman_encode(AC_LUMA_BITS, AC_LUMA_VALS)
    dc_c = _build_huffman_encode(DC_CHROMA_BITS, DC_CHROMA_VALS)
    ac_c = _build_huffman_encode(AC_CHROMA_BITS, AC_CHROMA_VALS)
    codes = [(dc_l, ac_l)] if grey else [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]

    wr = _BitWriter()
    preds = [0] * len(planes)
    mcu_no = 0

    def maybe_restart() -> None:
        nonlocal mcu_no
        if restart_interval and mcu_no and mcu_no % restart_interval == 0:
            wr.flush()
            wr.out += bytes(
                [0xFF, 0xD0 + (mcu_no // restart_interval - 1) % 8]
            )
            preds[:] = [0] * len(preds)
        mcu_no += 1

    if sub:  # interleaved MCU: 4 Y blocks (2×2), then Cb, then Cr
        for my in range(ph // 16):
            for mx in range(pw // 16):
                maybe_restart()
                for by in range(2):
                    for bx in range(2):
                        preds[0] = _encode_block(
                            wr, blocks[0][my * 2 + by, mx * 2 + bx],
                            preds[0], dc_l, ac_l,
                        )
                for ci in (1, 2):
                    preds[ci] = _encode_block(
                        wr, blocks[ci][my, mx], preds[ci], dc_c, ac_c
                    )
    else:  # 4:4:4 → MCU = one block per component, raster order
        for my in range(ph // 8):
            for mx in range(pw // 8):
                maybe_restart()
                for ci in range(len(planes)):
                    preds[ci] = _encode_block(
                        wr, blocks[ci][my, mx], preds[ci], codes[ci][0], codes[ci][1]
                    )
    wr.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(qy[ZIGZAG].astype(np.uint8)))
    if not grey:
        out += seg(0xDB, bytes([0x01]) + bytes(qc[ZIGZAG].astype(np.uint8)))
    ncomp = 1 if grey else 3
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        hv = 0x22 if (sub and ci == 0) else 0x11
        sof += bytes([ci + 1, hv, 0 if ci == 0 else 1])
    out += seg(0xC0, sof)
    for tc, th, bits, vals in [
        (0, 0, DC_LUMA_BITS, DC_LUMA_VALS),
        (1, 0, AC_LUMA_BITS, AC_LUMA_VALS),
    ] + ([] if grey else [
        (0, 1, DC_CHROMA_BITS, DC_CHROMA_VALS),
        (1, 1, AC_CHROMA_BITS, AC_CHROMA_VALS),
    ]):
        out += seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, sos)
    out += wr.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)
