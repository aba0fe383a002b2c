"""Dependency-free image codecs: PNG and PPM/PGM decode + encode in
pure numpy/zlib, straight from the public specs.

Why this exists: the container has no PIL/libjpeg, but "multimodal
columns are contract-only until a real codec path exists" is a real
gap — so the two formats that need nothing beyond zlib (in the stdlib)
are implemented for real:

- **PNG** (spec: https://www.w3.org/TR/png-3/): IHDR/IDAT/IEND chunk
  walk, zlib inflate, scanline de-filtering (None/Sub/Up/Average/
  Paeth), 8-bit greyscale / RGB / RGBA, non-interlaced — the standard
  subset that covers ML-dataset PNGs. Encoder writes filter-0
  scanlines with correct CRCs.
- **PPM/PGM binary** (P5/P6, spec: https://netpbm.sourceforge.net/doc/ppm.html):
  ASCII header + raw bytes.
- **JPEG** (baseline sequential, ITU-T T.81) lives in the sibling
  ``functions/jpeg.py`` — full Huffman + IDCT decode and an Annex-K
  encoder, pure numpy.
- **GIF** (87a/89a incl. LZW, interlace, animation) lives in
  ``functions/gif.py``.
- **BMP** (BI_RGB 8/24/32-bit, both row orders) below.

WebP and AVIF stay stubbed — lossy WebP needs VP8's boolean
arithmetic decoder and AVIF needs AV1; lossless WebP (VP8L) is
prefix-coded but still a full transform+LZ77+color-cache pipeline —
all deliberately out of scope rather than half-implemented.
``multimodal.decode_image_with_status`` sniffs magic bytes and routes
here first.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# PNG color type → samples per pixel (8-bit depth only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def sniff_format(content: bytes) -> str | None:
    """'png' | 'jpeg' | 'gif' | 'bmp' | 'ppm' | 'pgm' | None from
    magic bytes."""
    if content[:8] == PNG_MAGIC:
        return "png"
    if content[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if content[:2] == b"BM":
        return "bmp"
    if content[:2] == b"P6":
        return "ppm"
    if content[:2] == b"P5":
        return "pgm"
    return None


# ---- PNG ----


def decode_png(content: bytes) -> np.ndarray:
    """PNG → uint8 array (H, W) for greyscale or (H, W, C) otherwise.

    Supports bit depth 8, color types 0/2/4/6, no interlacing — raises
    ValueError (not garbage pixels) on anything else.
    """
    if content[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos, idat, meta = 8, [], None
    while pos < len(content):
        (length,) = struct.unpack_from(">I", content, pos)
        ctype = content[pos + 4 : pos + 8]
        data = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8:
                raise ValueError(f"unsupported PNG bit depth {depth} (only 8)")
            if color not in _PNG_CHANNELS:
                raise ValueError(f"unsupported PNG color type {color}")
            if interlace:
                raise ValueError("interlaced PNG unsupported")
            meta = (w, h, _PNG_CHANNELS[color])
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if meta is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, ch = meta
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG payload size mismatch")
    # de-filter scanline by scanline (spec §9): each line is prefixed
    # by its filter type; Sub/Paeth are sequential in x, so the inner
    # loop is per-pixel-in-row but rows are numpy-wide for Up/Average
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    # PNG filter reconstruction is DEFINED mod 256 (spec §9.2) — the
    # uint8 wraparound below is the algorithm, not an accident
    np_err = np.seterr(over="ignore")
    for y in range(h):
        f = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
        ).copy()
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up
            cur = line + prev
        elif f == 1:  # Sub
            cur = line
            for x in range(ch, stride):
                cur[x] += cur[x - ch]
        elif f == 3:  # Average
            cur = line
            for x in range(stride):
                left = int(cur[x - ch]) if x >= ch else 0
                cur[x] += (left + int(prev[x])) // 2
        elif f == 4:  # Paeth
            cur = line
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] += pred
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur
        prev = out[y]
    np.seterr(**np_err)
    img = out.reshape(h, w, ch)
    return img[:, :, 0] if ch == 1 else img


def encode_png(img: np.ndarray) -> bytes:
    """uint8 (H, W) or (H, W, 3|4) → PNG bytes (filter 0, one IDAT)."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        h, w, ch, color = *img.shape, 1, 0
        flat = img
    else:
        h, w, ch = img.shape
        color = {1: 0, 3: 2, 4: 6}[ch]
        flat = img.reshape(h, w * ch)
    scan = b"".join(b"\x00" + flat[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(scan))
        + chunk(b"IEND", b"")
    )


# ---- PPM / PGM (binary) ----


def decode_ppm(content: bytes) -> np.ndarray:
    """P6 (RGB) / P5 (grey) binary netpbm → uint8 array."""
    if content[:2] not in (b"P5", b"P6"):
        raise ValueError("not a binary PGM/PPM")
    ch = 3 if content[:2] == b"P6" else 1
    # header: magic, width, height, maxval — whitespace/comment separated
    fields, pos = [], 2
    while len(fields) < 3:
        while pos < len(content) and content[pos : pos + 1].isspace():
            pos += 1
        if content[pos : pos + 1] == b"#":  # comment to EOL
            while content[pos : pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while pos < len(content) and not content[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(content[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError("only 8-bit netpbm supported")
    arr = np.frombuffer(content, dtype=np.uint8, count=w * h * ch, offset=pos)
    return arr.reshape(h, w, ch) if ch == 3 else arr.reshape(h, w)


def encode_ppm(img: np.ndarray) -> bytes:
    """uint8 (H, W) → P5, (H, W, 3) → P6."""
    img = np.ascontiguousarray(img, dtype=np.uint8)
    if img.ndim == 2:
        magic, (h, w) = b"P5", img.shape
    else:
        h, w, ch = img.shape
        if ch != 3:
            raise ValueError("P6 requires 3 channels")
        magic = b"P6"
    return magic + f"\n{w} {h}\n255\n".encode() + img.tobytes()


# ---- transforms ----


def to_luma(img: np.ndarray) -> np.ndarray:
    """uint8 image (grey / RGB / RGBA) → float64 luma plane (ITU-R
    BT.601 weights for RGB)."""
    if img.ndim == 2:
        return img.astype(np.float64)
    rgb = img[:, :, :3].astype(np.float64)
    return rgb @ np.array([0.299, 0.587, 0.114])


# ---- BMP (Windows DIB, BI_RGB uncompressed) ----


def decode_bmp(content: bytes) -> np.ndarray:
    """BMP → uint8 (H, W) for 8-bit palettized-greyscale or (H, W, 3)
    RGB. Supports BITMAPINFOHEADER (and longer V4/V5 headers), 8/24/32
    bpp, BI_RGB only, bottom-up and top-down row orders, 4-byte row
    padding. RLE compression raises ValueError."""
    if content[:2] != b"BM":
        raise ValueError("not a BMP (missing BM)")
    (data_off,) = struct.unpack_from("<I", content, 10)
    (hdr_size,) = struct.unpack_from("<I", content, 14)
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    w, h_raw = struct.unpack_from("<ii", content, 18)
    planes, bpp = struct.unpack_from("<HH", content, 26)
    (compression,) = struct.unpack_from("<I", content, 30)
    if compression != 0:
        raise ValueError(f"unsupported BMP compression {compression} (BI_RGB only)")
    if bpp not in (8, 24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    h = abs(h_raw)
    top_down = h_raw < 0
    row_bytes = (w * bpp // 8 + 3) & ~3
    rows = np.frombuffer(content, np.uint8, row_bytes * h, data_off).reshape(
        h, row_bytes
    )
    if not top_down:
        rows = rows[::-1]
    if bpp == 8:
        (colors_used,) = struct.unpack_from("<I", content, 46)
        n_pal = colors_used or 256
        pal = np.frombuffer(content, np.uint8, n_pal * 4, 14 + hdr_size).reshape(
            n_pal, 4
        )[:, :3][:, ::-1]  # BGRA -> RGB
        idx = rows[:, :w]
        rgb = pal[idx]
        # collapse to greyscale plane when the palette is grey (the
        # common 8-bit case); keep RGB otherwise
        if np.all(rgb[..., 0] == rgb[..., 1]) and np.all(rgb[..., 1] == rgb[..., 2]):
            return np.ascontiguousarray(rgb[..., 0])
        return np.ascontiguousarray(rgb)
    ch = bpp // 8
    px = rows[:, : w * ch].reshape(h, w, ch)
    return np.ascontiguousarray(px[:, :, 2::-1])  # BGR(A) -> RGB


def encode_bmp(img: np.ndarray) -> bytes:
    """uint8 (H, W) or (H, W, 3) → 24-bit bottom-up BI_RGB BMP."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    body = np.zeros((h, row_bytes), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = body.tobytes()
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    )
    return header + data
