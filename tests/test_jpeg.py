"""Baseline JPEG codec tests (functions/jpeg.py).

The encoder and decoder are independent implementations of the two
directions of T.81 (FDCT + canonical-code build vs bitstream Huffman
decode + IDCT), so round-trip-within-quantization-error is a real
spec-level check, not a tautology. PSNR floors are far above what a
broken Huffman table, zigzag map, or IDCT could produce (those fail
catastrophically, not by a few dB).
"""

from __future__ import annotations

import numpy as np
import pytest

from streaming_ecom_analytics_spark.functions import imaging, jpeg, multimodal


def _gradient_rgb(h: int, w: int) -> np.ndarray:
    yy, xx = np.mgrid[0:h, 0:w]
    base = (yy * 3 + xx * 2) % 256
    return np.stack([base, 255 - base, (base // 2) + 30], -1).astype(np.uint8)


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    return float("inf") if mse == 0 else 10 * np.log10(255.0**2 / mse)


def test_annex_k_tables_are_consistent():
    # canonical-code preconditions: counts match symbol lists and the
    # code space is not over-subscribed (Kraft sum <= 1)
    for bits, vals in [
        (jpeg.DC_LUMA_BITS, jpeg.DC_LUMA_VALS),
        (jpeg.DC_CHROMA_BITS, jpeg.DC_CHROMA_VALS),
        (jpeg.AC_LUMA_BITS, jpeg.AC_LUMA_VALS),
        (jpeg.AC_CHROMA_BITS, jpeg.AC_CHROMA_VALS),
    ]:
        assert sum(bits) == len(vals)
        assert sum(n * 2.0 ** -(i + 1) for i, n in enumerate(bits)) <= 1.0
        table = jpeg._build_huffman_decode(bits, vals)
        assert len(table) == len(vals)  # no code collisions


def test_zigzag_is_a_permutation():
    assert sorted(jpeg.ZIGZAG.tolist()) == list(range(64))
    # spec spot-checks (T.81 Figure 5)
    assert jpeg.ZIGZAG[:6].tolist() == [0, 1, 8, 16, 9, 2]
    assert jpeg.ZIGZAG[63] == 63


def test_dct_basis_is_orthonormal():
    ident = jpeg._A @ jpeg._A.T
    assert np.allclose(ident, np.eye(8), atol=1e-12)


@pytest.mark.parametrize("shape", [(32, 48), (33, 47), (8, 8), (1, 1), (9, 130)])
def test_grey_roundtrip(shape):
    h, w = shape
    yy, xx = np.mgrid[0:h, 0:w]
    img = ((yy * 7 + xx * 3) % 256).astype(np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=95))
    assert dec.shape == img.shape and dec.dtype == np.uint8
    assert _psnr(img, dec) > 40


@pytest.mark.parametrize("subsample", [False, True])
@pytest.mark.parametrize("restart_interval", [0, 3])
def test_rgb_roundtrip_all_modes(subsample, restart_interval):
    img = _gradient_rgb(37, 53)
    enc = jpeg.encode_jpeg(
        img, quality=92, subsample=subsample, restart_interval=restart_interval
    )
    dec = jpeg.decode_jpeg(enc)
    assert dec.shape == img.shape
    # luma must survive regardless of chroma subsampling
    to_y = np.array([0.299, 0.587, 0.114])
    assert _psnr(img @ to_y, dec @ to_y) > 35
    assert _psnr(img, dec) > (28 if subsample else 35)


def test_noise_roundtrip_low_quality_stays_bounded():
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
    dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=50))
    assert dec.shape == img.shape
    assert np.abs(dec.astype(float) - img).mean() < 64  # lossy but sane


def test_quality_monotonicity():
    img = _gradient_rgb(40, 40)
    p = [
        _psnr(img, jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=q)))
        for q in (30, 60, 95)
    ]
    assert p[0] < p[2]  # higher quality → higher fidelity
    sizes = [len(jpeg.encode_jpeg(img, quality=q)) for q in (30, 95)]
    assert sizes[0] < sizes[1]  # and bigger files


def test_decoder_rejects_non_baseline():
    img = _gradient_rgb(16, 16)
    enc = bytearray(jpeg.encode_jpeg(img))
    sof = enc.find(b"\xff\xc0")
    enc[sof + 1] = 0xC2  # rewrite SOF0 → SOF2 (progressive)
    with pytest.raises(ValueError, match="SOF2"):
        jpeg.decode_jpeg(bytes(enc))
    with pytest.raises(ValueError, match="SOI"):
        jpeg.decode_jpeg(b"\x00\x01\x02")


def test_truncated_entropy_segment_raises_value_error():
    """EOF mid-scan must surface as the documented ValueError, not an
    IndexError leaking out of the bit reader."""
    img = _gradient_rgb(24, 24)
    enc = jpeg.encode_jpeg(img)
    for cut in (10, 30, 60):
        with pytest.raises(ValueError, match="truncated|SOI|marker"):
            jpeg.decode_jpeg(enc[: len(enc) - cut])


def test_sniff_and_decode_image_route_jpeg():
    img = _gradient_rgb(12, 20)
    enc = jpeg.encode_jpeg(img)
    assert imaging.sniff_format(enc) == "jpeg"
    dec = multimodal.decode_image_with_status(enc, 20, 12, fake=False)[0]
    assert dec.shape == (12, 20, 3)


def test_image_features_exercises_real_jpeg_rows(spark):
    media = multimodal.synthesize_media(spark, n=12)
    codecs = {r.codec for r in media.select("codec").collect()}
    assert "jpeg" in codecs
    out = multimodal.image_features(media, fake_decode=True).collect()
    assert len(out) == 12
    # JPEG rows decode at their true dimensions (from the bitstream,
    # not the metadata struct)
    by_id = {r.media_id: r for r in out}
    for row in media.select("media_id", "codec", "meta").collect():
        if row.codec == "jpeg":
            assert by_id[row.media_id].width == row.meta.width
            assert by_id[row.media_id].height == row.meta.height
