"""Multimodal plumbing tests: schema, batch shapes, determinism of the
fake-decode pipeline, and the stub contract for real decoding."""

from __future__ import annotations

import pytest

from streaming_ecom_analytics_spark.functions import multimodal


@pytest.fixture(scope="module")
def media(spark):
    return multimodal.synthesize_media(spark, n=16)


def test_image_features_shape_and_determinism(media):
    out1 = multimodal.image_features(media, target_dim=8).orderBy("media_id").collect()
    out2 = multimodal.image_features(media, target_dim=8).orderBy("media_id").collect()
    assert len(out1) == 16
    for r1, r2 in zip(out1, out2):
        assert len(r1.feature) == 8
        assert r1.feature == r2.feature  # deterministic across runs
        assert 0.0 <= r1.mean_luma <= 255.0


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_image_with_status(b"\x00\x01", 1, 2, fake=False)[0]


def test_decode_status_labels_fake_rows(media):
    """synthesize_media routes every 6th row (raw raster) through the
    synthetic decoder; decode_status must expose exactly those rows as
    'fake' and label every real codec row 'real:<fmt>'."""
    out = {r.media_id: r.decode_status for r in multimodal.image_features(media).collect()}
    codecs = {r.media_id: r.codec for r in media.collect()}
    for mid, status in out.items():
        if codecs[mid] == "fake-raw":
            assert status == "fake"
        else:
            assert status == f"real:{codecs[mid]}"
    assert sum(1 for s in out.values() if s == "fake") == 2  # ids 5 and 11 of n=16


def test_real_corpus_never_gets_silent_fakes(spark):
    """With fake_decode=False, an undecodable format fails loudly
    instead of producing synthetic features."""
    rows = [(0, "image", "webp", bytearray(b"RIFF\x00\x00\x00\x00WEBP"), (4, 4, None, 12))]
    df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    with pytest.raises(Exception, match="NotImplementedError|codec library"):
        multimodal.image_features(df, fake_decode=False).collect()


def test_metadata_pruning_plan(media):
    plan = multimodal.image_features(media)._jdf.queryExecution().optimizedPlan().toString()
    # the binary column flows only into the UDF; codec/media_type
    # predicates stay JVM-side before it
    assert "media_type" in plan


def test_video_features_pipeline(spark):
    from streaming_ecom_analytics_spark.functions import multimodal as mm

    media = mm.synthesize_video(spark, n=8)
    out1 = {r.media_id: r for r in mm.video_features(media).collect()}
    out2 = {r.media_id: r for r in mm.video_features(media).collect()}
    assert len(out1) == 8
    for mid, r in out1.items():
        assert r == out2[mid]  # deterministic
        meta = {m.media_id: m.meta for m in media.collect()}[mid]
        assert r.n_frames == meta.duration_ms // 100
        assert r.decode_status == "real:y4m"
    # static clips (every 4th) have zero motion; moving ones don't
    assert out1[0].motion_score == 0.0 and out1[4].motion_score == 0.0
    assert out1[1].motion_score > 1.0


def test_y4m_rejects_compressed_and_truncated():
    import pytest as _pytest

    from streaming_ecom_analytics_spark.functions import video

    with _pytest.raises(ValueError, match="YUV4MPEG2"):
        video.decode_y4m(b"\x00\x00\x01\xba mpeg-ps")
    frames = [__import__("numpy").zeros((8, 8), "uint8")]
    enc = video.encode_y4m(frames)
    with _pytest.raises(ValueError, match="truncated"):
        video.decode_y4m(enc[: len(enc) - 5])


def test_image_dhash_near_dups_finds_cross_codec_pairs(spark):
    """A JPEG re-encoding of a PNG raster must land within a few dHash
    bits of the original — and ONLY the planted pairs may match."""
    media = multimodal.synthesize_media(spark, n=48, with_dups=True)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.image_near_dups(media, max_hamming=6).collect()
    }
    assert set(pairs) == {(i, 1000 + i) for i in range(0, 48, 6)}
    assert all(h <= 6 for h in pairs.values())


def test_image_dhash_deterministic_and_labeled(spark):
    media = multimodal.synthesize_media(spark, n=12)
    one = {r.media_id: (r.dhash, r.decode_status) for r in multimodal.image_dhash(media).collect()}
    two = {r.media_id: (r.dhash, r.decode_status) for r in multimodal.image_dhash(media).collect()}
    assert one == two and len(one) == 12
    assert one[5][1] == "fake" and one[0][1] == "real:png"


def test_video_vhash_near_dups(spark):
    """A per-pixel-noise re-take of a clip must match its original —
    and ONLY the planted pairs may match."""
    media = multimodal.synthesize_video_with_dups(spark, n=12)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in multimodal.video_near_dups(media).collect()
    }
    assert set(pairs) == {(i, 1000 + i) for i in range(0, 12, 3)}
    assert all(h <= 8 for h in pairs.values())
