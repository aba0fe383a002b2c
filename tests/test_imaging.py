"""Pure-numpy PNG/PPM codecs: round-trips, spec edge cases, and the
multimodal pipeline over real (non-fake) decodes."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from streaming_ecom_analytics_spark.functions import imaging, multimodal


@pytest.mark.parametrize("shape", [(5, 7), (8, 3, 3), (4, 4, 4)])
def test_png_roundtrip(shape):
    rng = np.random.default_rng(1)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    back = imaging.decode_png(imaging.encode_png(img))
    assert back.shape == img.shape
    assert np.array_equal(back, img)


def test_png_all_filter_types_decode():
    """Build a PNG whose scanlines use filters 0-4 explicitly and check
    the de-filter math against a straight reconstruction."""
    w, ch = 4, 1
    rng = np.random.default_rng(2)
    img = rng.integers(0, 256, size=(5, w), dtype=np.uint8)
    stride = w * ch
    lines = []
    prev = np.zeros(stride, dtype=np.uint8)
    for y, f in enumerate([0, 1, 2, 3, 4]):
        cur = img[y]
        if f == 0:
            enc = cur.copy()
        elif f == 1:
            enc = cur.copy()
            enc[ch:] = cur[ch:] - cur[:-ch]
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = np.empty(stride, np.uint8)
            for x in range(stride):
                left = int(cur[x - ch]) if x >= ch else 0
                enc[x] = (int(cur[x]) - (left + int(prev[x])) // 2) % 256
        else:
            enc = np.empty(stride, np.uint8)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc[x] = (int(cur[x]) - pred) % 256
        lines.append(bytes([f]) + enc.tobytes())
        prev = cur

    def chunk(ctype, data):
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    png = (
        imaging.PNG_MAGIC
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, 5, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(imaging.decode_png(png), img)


def test_png_rejects_unsupported():
    img = np.zeros((2, 2), np.uint8)
    png = bytearray(imaging.encode_png(img))
    png[24] = 16  # bit depth byte inside IHDR
    # fix IHDR crc so we hit the depth check, not a crc mismatch
    with pytest.raises(ValueError, match="bit depth"):
        imaging.decode_png(bytes(png))
    with pytest.raises(ValueError, match="signature"):
        imaging.decode_png(b"JFIF not a png")


@pytest.mark.parametrize("shape", [(6, 4), (3, 5, 3)])
def test_ppm_roundtrip(shape):
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=shape, dtype=np.uint8)
    back = imaging.decode_ppm(imaging.encode_ppm(img))
    assert np.array_equal(back, img)


def test_ppm_header_with_comment():
    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    raw = b"P5\n# a comment\n4 3\n255\n" + img.tobytes()
    assert np.array_equal(imaging.decode_ppm(raw), img)


def test_to_luma_bt601():
    rgb = np.zeros((2, 2, 3), np.uint8)
    rgb[..., 1] = 255  # pure green
    luma = imaging.to_luma(rgb)
    assert luma.shape == (2, 2)
    assert abs(luma[0, 0] - 0.587 * 255) < 1e-9


def test_decode_image_sniffs_real_formats():
    rng = np.random.default_rng(4)
    img = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
    out = multimodal.decode_image_with_status(imaging.encode_png(img), 6, 5)[0]
    assert np.array_equal(out, img)
    grey = rng.integers(0, 256, size=(5, 6), dtype=np.uint8)
    out = multimodal.decode_image_with_status(imaging.encode_ppm(grey), 6, 5)[0]
    assert np.array_equal(out, grey)
    # JPEG now routes to the real baseline decoder (functions/jpeg.py);
    # a truncated stream fails loudly rather than yielding pixels
    with pytest.raises(ValueError, match="SOF"):
        multimodal.decode_image_with_status(b"\xff\xd8\xff JPEG bytes", 2, 2)[0]
    # WebP remains the honestly-stubbed boundary
    with pytest.raises(NotImplementedError, match="WebP"):
        multimodal.decode_image_with_status(b"RIFF\x00\x00\x00\x00WEBP", 2, 2)[0]


def test_image_features_over_real_codecs(spark):
    """The pipeline decodes PNG and PPM rows for real (fake only for
    raw rasters) and yields stable features."""
    media = multimodal.synthesize_media(spark, n=12)
    out = multimodal.image_features(media, target_dim=8).collect()
    assert len(out) == 12
    for r in out:
        assert len(r.feature) == 8
        assert 0.0 <= r.mean_luma <= 255.0
    # determinism across runs
    out2 = multimodal.image_features(media, target_dim=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_gif_roundtrip_and_features():
    rng = np.random.default_rng(9)
    pal = np.unique(rng.integers(0, 256, (40, 3), dtype=np.uint8), axis=0)
    img = pal[rng.integers(0, len(pal), (21, 33))]
    from streaming_ecom_analytics_spark.functions import gif

    enc = gif.encode_gif(img)
    assert imaging.sniff_format(enc) == "gif"
    assert np.array_equal(gif.decode_gif(enc)[0], img)  # lossless
    assert np.array_equal(multimodal.decode_image_with_status(enc, 33, 21)[0], img)
    with pytest.raises(ValueError, match="256 unique"):
        gif.encode_gif(rng.integers(0, 256, (64, 64, 3), dtype=np.uint8))


def test_gif_frame_exceeding_screen_raises_value_error():
    """A frame rect past the logical screen must be a clear corrupt-file
    diagnostic, not a numpy broadcast error."""
    import struct

    from streaming_ecom_analytics_spark.functions import gif

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    enc = bytearray(gif.encode_gif(img))
    # image descriptor: 0x2C left(2) top(2) iw(2) ih(2) flags(1)
    pos = enc.find(0x2C, 13)
    struct.pack_into("<HH", enc, pos + 1, 4, 4)  # left=4, top=4 → 4+8 > 8
    with pytest.raises(ValueError, match="exceeds logical screen"):
        gif.decode_gif(bytes(enc))


def test_bmp_roundtrip_and_row_orders():
    rng = np.random.default_rng(10)
    img = rng.integers(0, 256, (13, 14, 3), dtype=np.uint8)
    enc = imaging.encode_bmp(img)
    assert imaging.sniff_format(enc) == "bmp"
    assert np.array_equal(imaging.decode_bmp(enc), img)
    assert np.array_equal(multimodal.decode_image_with_status(enc, 14, 13)[0], img)
    # hand-build a TOP-DOWN 32bpp variant and check row order handling
    import struct

    h, w = img.shape[:2]
    bgra = np.dstack([img[:, :, ::-1], np.zeros((h, w, 1), np.uint8)])
    row_bytes = w * 4
    data = bgra.reshape(h, row_bytes).tobytes()
    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 32, 0, len(data), 0, 0, 0, 0)
    )
    assert np.array_equal(imaging.decode_bmp(hdr + data), img)
    with pytest.raises(ValueError, match="compression"):
        bad = bytearray(enc)
        struct.pack_into("<I", bad, 30, 1)  # BI_RLE8
        imaging.decode_bmp(bytes(bad))
