"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed by Arrow-batched UDFs.

Design for 100 TB of media:
- Media bytes live in a ``binary`` column (or a path column pointing at
  an object store) beside a typed metadata struct — schema below. Bytes
  are NEVER shuffled by analytic ops: metadata predicates (codec, size,
  dims) push down to parquet and prune files before any decode.
- Decode / resize / frame-sample run in ``mapInPandas``: one Python
  worker per partition, Arrow batches in, so the expensive step scales
  with executors and keeps the JVM row path untouched.
- PNG, baseline JPEG, and binary PPM/PGM images decode for REAL via
  the pure-numpy codecs in ``functions/imaging.py`` and
  ``functions/jpeg.py`` (zlib is stdlib; JPEG Huffman+IDCT is
  implemented from the T.81 spec); WAV/PCM audio via
  ``functions/audio.py``; uncompressed y4m video via
  ``functions/video.py``. Formats that still need an entropy-codec
  library (WebP/AVIF images, MP3/AAC audio, H.264/VP9/AV1 video —
  PIL/ffmpeg are NOT in this container) raise NotImplementedError
  unless ``fake=True``, which substitutes a deterministic synthetic
  decode (seeded by content hash) so the full pipeline — schema,
  partitioning, UDF signatures, batch shapes — stays testable too.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("codec", T.StringType(), True),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
        # "real:<fmt>" when pixels came from an actual codec,
        # "fake" when the deterministic synthetic decoder ran —
        # downstream consumers can always tell them apart.
        T.StructField("decode_status", T.StringType()),
    ]
)


def synthesize_media(spark, n: int = 64, *, seed: int = 42, with_dups: bool = False) -> DataFrame:
    """Deterministic synthetic media table matching MEDIA_SCHEMA —
    fixture generator for tests and pipeline dry-runs. Rows rotate
    through REAL PNG / PGM / baseline-JPEG / GIF / BMP encodings
    (exercising all five actual codecs); every sixth row is a raw
    raster for the fake-decode path. ``with_dups=True`` additionally
    appends a JPEG re-encoding of every PNG row as media_id+1000 —
    planted cross-codec near-duplicate pairs for perceptual-hash
    dedup (the rng sequence is untouched, so the base rows are
    bit-identical either way)."""
    from streaming_ecom_analytics_spark.functions import gif, imaging, jpeg

    rng = np.random.default_rng(seed)
    rows = []
    dup_rows = []
    for i in range(n):
        w, h = int(rng.integers(8, 64)), int(rng.integers(8, 64))
        if i % 6 == 0:
            # smooth low-frequency pattern, unique per image: JPEG
            # re-encodes stay perceptually identical (pure noise would
            # decorrelate the dHash bits; a plain gradient would make
            # every PNG row a near-dup of every other)
            yy, xx = np.mgrid[0:h, 0:w]
            f1, f2, f3, f4 = rng.uniform(0.5, 3.0, 4)
            p1, p2 = rng.uniform(0, 2 * np.pi, 2)
            base = (
                127
                + 55 * np.sin(2 * np.pi * (f1 * yy / h + f2 * xx / w) + p1)
                + 40 * np.sin(2 * np.pi * (f3 * yy / h - f4 * xx / w) + p2)
            )
            img = np.clip(
                base[:, :, None] + rng.integers(-8, 9, size=(h, w, 3)), 0, 255
            ).astype(np.uint8)
            content, codec = imaging.encode_png(np.asarray(img)), "png"
            if with_dups:
                dup = jpeg.encode_jpeg(np.asarray(img), quality=90)
                dup_rows.append(
                    (1000 + i, "image", "jpeg", bytearray(dup), (w, h, None, len(dup)))
                )
        elif i % 6 == 1:
            img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            content, codec = imaging.encode_ppm(np.asarray(img)), "pgm"
        elif i % 6 == 2:
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            content = jpeg.encode_jpeg(np.asarray(img), subsample=i % 12 == 2)
            codec = "jpeg"
        elif i % 6 == 3:
            pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
            img = pal[rng.integers(0, 16, size=(h, w))]
            content, codec = gif.encode_gif(np.asarray(img)), "gif"
        elif i % 6 == 4:
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            content, codec = imaging.encode_bmp(np.asarray(img)), "bmp"
        else:
            content = rng.integers(0, 256, size=w * h, dtype=np.uint8).tobytes()
            codec = "fake-raw"
        rows.append(
            (i, "image", codec, bytearray(content), (w, h, None, len(content)))
        )
    return spark.createDataFrame(rows + dup_rows, MEDIA_SCHEMA)


def _fake_decode(content: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for a real image decoder: interprets the
    bytes as a single-channel raster. Seeded by content, so identical
    inputs give identical 'pixels' on every executor."""
    arr = np.frombuffer(content, dtype=np.uint8)
    if arr.size < width * height:
        pad = int(hashlib.md5(content).hexdigest()[:8], 16) % 256
        arr = np.concatenate([arr, np.full(width * height - arr.size, pad, np.uint8)])
    return arr[: width * height].reshape(height, width)


def decode_image_with_status(
    content: bytes, width: int, height: int, *, fake: bool = False
) -> tuple[np.ndarray, str]:
    """Decode one image to (uint8 array, decode_status).

    PNG, baseline JPEG, GIF, BMP, and binary PPM/PGM decode for REAL
    (pure numpy — see functions/imaging.py and functions/jpeg.py);
    status is ``"real:<fmt>"``. Formats still needing a codec library
    (WebP, AVIF, video) raise NotImplementedError unless ``fake=True``,
    which substitutes the deterministic synthetic decoder and labels the
    row ``"fake"`` so real and synthetic pixels are never conflated."""
    from streaming_ecom_analytics_spark.functions import imaging, jpeg

    fmt = imaging.sniff_format(bytes(content))
    if fmt == "png":
        return imaging.decode_png(bytes(content)), "real:png"
    if fmt == "jpeg":
        return jpeg.decode_jpeg(bytes(content)), "real:jpeg"
    if fmt == "gif":
        from streaming_ecom_analytics_spark.functions import gif

        return gif.decode_gif(bytes(content))[0], "real:gif"  # first frame
    if fmt == "bmp":
        return imaging.decode_bmp(bytes(content)), "real:bmp"
    if fmt in ("ppm", "pgm"):
        return imaging.decode_ppm(bytes(content)), f"real:{fmt}"
    if not fake:
        raise NotImplementedError(
            "only PNG/JPEG/GIF/BMP/PPM/PGM decode without a codec library "
            "(WebP/AVIF/video need one; PIL/ffmpeg not in this container); "
            "pass fake=True for the deterministic synthetic decoder"
        )
    return _fake_decode(content, width, height), "fake"


def image_features(
    media: DataFrame, *, target_dim: int = 16, fake_decode: bool = True
) -> DataFrame:
    """Decode → downsample → feature-vector pipeline over mapInPandas.

    Output: (media_id, width, height, mean_luma, feature[target_dim],
    decode_status). The Spark-side contract — Arrow batch iteration,
    pruned input columns, typed output schema — plus PNG/JPEG/GIF/BMP/
    netpbm pixel decode are all real; only codec-library formats fall
    back to the deterministic fake, and every row carries
    ``decode_status`` ("real:<fmt>" / "fake") so a real corpus can
    never silently receive synthetic features.
    """

    from streaming_ecom_analytics_spark.functions import imaging

    def extract(batches):
        for pdf in batches:
            out = []
            for media_id, content, meta in zip(
                pdf["media_id"], pdf["content"], pdf["meta"]
            ):
                img, status = decode_image_with_status(
                    bytes(content), meta["width"], meta["height"], fake=fake_decode
                )
                luma = imaging.to_luma(img)  # (H, W) float64, any channel count
                # crude box-downsample to a fixed-length feature
                ys = np.array_split(luma.ravel(), target_dim)
                feat = [float(chunk.mean()) for chunk in ys]
                out.append(
                    (
                        media_id,
                        int(luma.shape[1]),
                        int(luma.shape[0]),
                        float(luma.mean()),
                        [np.float32(x) for x in feat],
                        status,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "mean_luma", "feature",
                    "decode_status",
                ],
            )

    pruned = media.filter(F.col("media_type") == "image").select(
        "media_id", "content", "meta"
    )
    return pruned.mapInPandas(extract, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms_mean", T.DoubleType()),
        T.StructField("rms_max", T.DoubleType()),
        T.StructField("zcr_mean", T.DoubleType()),
        T.StructField("centroid_hz", T.DoubleType()),
        T.StructField("rolloff_hz", T.DoubleType()),
        T.StructField("decode_status", T.StringType()),
    ]
)


def audio_features(media: DataFrame, *, frame: int = 1024, hop: int = 512) -> DataFrame:
    """WAV decode → cheap-DSP descriptor set (RMS / ZCR / spectral
    centroid / rolloff) over mapInPandas — the audio twin of
    ``image_features``. Real decode (functions/audio.py); compressed
    codecs would raise, so filter on codec='wav' upstream when mixing.
    Every row carries ``decode_status`` ("real:wav") — the same
    provenance contract as image_features, so a mixed-provenance
    corpus can always be audited downstream.
    """
    from streaming_ecom_analytics_spark.functions import audio as audiolib

    def extract(batches):
        for pdf in batches:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                samples, rate = audiolib.decode_wav(bytes(content))
                fv = audiolib.audio_feature_vector(samples, rate, frame=frame, hop=hop)
                out.append(
                    (
                        media_id,
                        int(rate),
                        fv["duration_s"],
                        fv["rms_mean"],
                        fv["rms_max"],
                        fv["zcr_mean"],
                        fv["centroid_hz"],
                        fv["rolloff_hz"],
                        "real:wav",
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields],
            )

    pruned = media.filter(F.col("media_type") == "audio").select("media_id", "content")
    return pruned.mapInPandas(extract, schema=AUDIO_FEATURES_SCHEMA)


def synthesize_audio(spark, n: int = 32, *, seed: int = 42) -> DataFrame:
    """Deterministic synthetic audio table matching MEDIA_SCHEMA: sine
    tones at varied frequencies/durations, PCM16 WAV-encoded through
    the real encoder."""
    from streaming_ecom_analytics_spark.functions import audio as audiolib

    rows = []
    for i in range(n):
        freq = 110.0 * (1 + i % 8)
        seconds = 0.25 + (i % 4) * 0.25
        sig = audiolib.synth_tone(freq=freq, seconds=seconds, rate=8000, seed=seed + i)
        content = audiolib.encode_wav(sig, 8000)
        rows.append(
            (
                i,
                "audio",
                "wav",
                bytearray(content),
                (None, None, int(seconds * 1000), len(content)),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("luma_mean", T.DoubleType()),
        T.StructField("luma_std", T.DoubleType()),
        T.StructField("motion_score", T.DoubleType()),
        T.StructField("decode_status", T.StringType()),
    ]
)


def video_features(media: DataFrame, *, sample_every: int = 1) -> DataFrame:
    """y4m container parse → frame sampling → luma/motion triage
    features over mapInPandas — the video twin of image_features/
    audio_features, with the decode REAL for uncompressed video
    (functions/video.py); compressed codecs raise upstream."""
    from streaming_ecom_analytics_spark.functions import video as videolib

    def extract(batches):
        for pdf in batches:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                frames, fps = videolib.decode_y4m(bytes(content))
                fv = videolib.video_feature_vector(
                    frames, fps, sample_every=sample_every
                )
                out.append(
                    (
                        media_id,
                        int(fv["n_frames"]),
                        fv["duration_s"],
                        fv["luma_mean"],
                        fv["luma_std"],
                        fv["motion_score"],
                        "real:y4m",
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in VIDEO_FEATURES_SCHEMA.fields]
            )

    pruned = media.filter(F.col("media_type") == "video").select("media_id", "content")
    return pruned.mapInPandas(extract, schema=VIDEO_FEATURES_SCHEMA)


def synthesize_video(spark, n: int = 16, *, seed: int = 42) -> DataFrame:
    """Deterministic synthetic video table matching MEDIA_SCHEMA:
    moving-gradient y4m clips (static for every fourth row, so the
    motion feature has both regimes to separate)."""
    from streaming_ecom_analytics_spark.functions import video as videolib

    rows = []
    for i in range(n):
        w, h = 16 + 8 * (i % 3), 16 + 8 * ((i + 1) % 3)
        n_frames = 4 + i % 5
        yy, xx = np.mgrid[0:h, 0:w]
        static = i % 4 == 0
        frames = [
            ((yy * 3 + xx * 2 + (0 if static else t * 17)) % 256).astype(np.uint8)
            for t in range(n_frames)
        ]
        content = videolib.encode_y4m(frames, fps=10)
        rows.append(
            (
                i,
                "video",
                "y4m",
                bytearray(content),
                (w, h, int(n_frames * 100), len(content)),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def dhash_bits(luma: np.ndarray, hash_size: int = 8) -> int:
    """Difference hash over a luma plane: box-mean downsample to
    (hash_size, hash_size+1), bit j = cell brighter than its right
    neighbor. Box means (not nearest-neighbor) make the hash stable
    under re-encoding noise — the property that lets a JPEG of a
    raster land within a few bits of its PNG."""
    h, w = luma.shape
    th, tw = hash_size, hash_size + 1
    ys = (np.arange(th + 1) * h) // th
    xs = (np.arange(tw + 1) * w) // tw
    cells = np.empty((th, tw))
    for r in range(th):
        for c in range(tw):
            block = luma[ys[r] : max(ys[r + 1], ys[r] + 1), xs[c] : max(xs[c + 1], xs[c] + 1)]
            cells[r, c] = block.mean()
    bits = (cells[:, :-1] > cells[:, 1:]).ravel()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    # two's-complement into signed 64-bit so Spark's LongType holds it
    return out - (1 << 64) if out >= (1 << 63) else out


def image_dhash(
    media: DataFrame, *, hash_size: int = 8, fake_decode: bool = True
) -> DataFrame:
    """Perceptual (difference) hash per image — decode → luma → 64-bit
    dHash over mapInPandas, with the same decode_status labeling as
    image_features. The multimodal twin of text SimHash: re-encoded /
    lightly edited copies land within a few bits, so near-dup pairs
    fall out of the shared chunk-blocked Hamming join."""
    from streaming_ecom_analytics_spark.functions import imaging

    def extract(batches):
        for pdf in batches:
            out = []
            for media_id, content, meta in zip(
                pdf["media_id"], pdf["content"], pdf["meta"]
            ):
                img, status = decode_image_with_status(
                    bytes(content), meta["width"], meta["height"], fake=fake_decode
                )
                luma = imaging.to_luma(img)
                out.append((media_id, dhash_bits(luma, hash_size), status))
            yield pd.DataFrame(out, columns=["media_id", "dhash", "decode_status"])

    pruned = media.filter(F.col("media_type") == "image").select(
        "media_id", "content", "meta"
    )
    return pruned.mapInPandas(
        extract, schema="media_id long, dhash long, decode_status string"
    )


def image_near_dups(
    media: DataFrame,
    *,
    max_hamming: int = 6,
    hash_size: int = 8,
    fake_decode: bool = True,
) -> DataFrame:
    """Image near-duplicate pairs by dHash Hamming distance ≤
    ``max_hamming`` — chunk-blocked join (dedup.hamming_pairs), never
    all-pairs; exact for distances ≤ 7 by pigeonhole. Output:
    (id_a, id_b, hamming)."""
    from streaming_ecom_analytics_spark.functions.dedup import hamming_pairs

    sig = image_dhash(media, hash_size=hash_size, fake_decode=fake_decode)
    return hamming_pairs(
        sig, id_col="media_id", sig_col="dhash", max_hamming=max_hamming
    )


def audio_spectral_hash(samples: np.ndarray, rate: int) -> int:
    """64-bit spectral hash of one clip — the Haitsma-Kalker (2002)
    bit: sign of the TIME-derivative of adjacent-band log-energy
    differences over a 9×9 (time, log-band) energy grid → 8×8 = 64
    bits. Double differencing cancels gain exactly and per-band
    equalization approximately; the log-energy floor (1e-6 × clip mean
    energy) clamps silent cells to a constant, so bits over silent
    regions are stable zeros instead of numeric-noise coin flips —
    which is what keeps a -34 dB re-take within a few bits while
    distinct clips differ in the bits around their own hot bands."""
    g = 9
    mono = np.asarray(samples, dtype=np.float64)
    if mono.ndim > 1:
        mono = mono.mean(axis=1)
    if len(mono) < g * 2:
        mono = np.pad(mono, (0, g * 2 - len(mono)))
    bounds = (np.arange(g + 1) * len(mono)) // g
    cells = np.empty((g, g))
    for t in range(g):
        seg = mono[bounds[t] : bounds[t + 1]]
        spec = np.abs(np.fft.rfft(seg)) ** 2
        # log-spaced band edges over [1, len(spec)) — emphasizes lows
        # like human hearing without needing a mel filterbank
        edges = np.maximum.accumulate(
            np.geomspace(1, max(len(spec) - 1, 2), g + 1).astype(int)
        )
        for b in range(g):
            lo, hi = edges[b], max(edges[b + 1], edges[b] + 1)
            cells[t, b] = spec[lo:hi].mean() if lo < len(spec) else 0.0
    floor = 1e-6 * max(cells.mean(), 1e-30)
    loge = np.log(cells + floor)
    band_diff = loge[:, :-1] - loge[:, 1:]          # (9, 8)
    # deadband 0.5 nat: a cell whose clean derivative is ~0 (silent
    # regions, steady tones) stays a stable 0-bit under added noise
    # instead of a sign-at-zero coin flip; real spectral structure
    # (amplitude modulation, onsets) clears 0.5 easily
    bits = (band_diff[:-1] - band_diff[1:] > 0.5).ravel()  # (8, 8)
    out = 0
    for bit in bits:
        out = (out << 1) | int(bit)
    return out - (1 << 64) if out >= (1 << 63) else out


def audio_ahash(media: DataFrame) -> DataFrame:
    """(media_id, ahash) — spectral-grid hash per WAV clip over
    mapInPandas; the audio twin of image_dhash."""
    from streaming_ecom_analytics_spark.functions import audio as audiolib

    def extract(batches):
        for pdf in batches:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                samples, rate = audiolib.decode_wav(bytes(content))
                out.append((media_id, audio_spectral_hash(samples, rate)))
            yield pd.DataFrame(out, columns=["media_id", "ahash"])

    pruned = media.filter(F.col("media_type") == "audio").select("media_id", "content")
    return pruned.mapInPandas(extract, schema="media_id long, ahash long")


def audio_near_dups(media: DataFrame, *, max_hamming: int = 12) -> DataFrame:
    """Audio near-duplicate pairs by spectral-hash Hamming distance —
    the same chunk-blocked kernel as text SimHash and image dHash, with
    16 4-bit chunks (pigeonhole-exact to distance 15): audio re-takes
    land farther apart than image re-encodes (additive noise perturbs
    every band a little), so the radius and the exactness guarantee
    are both wider than the image defaults."""
    from streaming_ecom_analytics_spark.functions.dedup import hamming_pairs

    sig = audio_ahash(media)
    return hamming_pairs(
        sig, id_col="media_id", sig_col="ahash", max_hamming=max_hamming, n_chunks=16
    )


def synthesize_audio_with_dups(spark, n: int = 32, *, seed: int = 42) -> DataFrame:
    """synthesize_audio plus a noisy re-take of every 4th clip at
    media_id+1000 (same tone mix, -34 dB noise) — planted near-dup
    pairs for spectral-hash dedup. Distinct clips use distinct
    two-tone mixes so non-dups stay far in Hamming space."""
    from streaming_ecom_analytics_spark.functions import audio as audiolib

    rng = np.random.default_rng(seed)
    rows = []
    rate = 8000
    seconds = 0.5
    n_seg = 8
    for i in range(n):
        # four log-uniform random partials with per-segment amplitude
        # modulation: each clip gets a dense, unique (time, band)
        # energy grid — the structure the spectral hash keys on
        freqs = np.exp(rng.uniform(np.log(40.0), np.log(3200.0), 4))
        amps = rng.uniform(0.15, 1.0, (n_seg, 4))
        t = np.arange(int(rate * seconds)) / rate
        seg_idx = np.minimum((t / seconds * n_seg).astype(int), n_seg - 1)
        sig = sum(
            amps[seg_idx, k] * np.sin(2 * np.pi * freqs[k] * t) for k in range(4)
        ) / 4.0
        content = audiolib.encode_wav(sig, rate)
        rows.append(
            (i, "audio", "wav", bytearray(content), (None, None, 500, len(content)))
        )
        if i % 4 == 0:
            noisy = sig + rng.normal(0, 0.015, len(sig))
            dup = audiolib.encode_wav(noisy, rate)
            rows.append(
                (1000 + i, "audio", "wav", bytearray(dup), (None, None, 500, len(dup)))
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def video_vhash(media: DataFrame, *, hash_size: int = 8, sample_every: int = 1) -> DataFrame:
    """(media_id, vhash) — temporal-majority perceptual hash per clip:
    dHash every sampled frame, take the per-bit MAJORITY across frames.
    Frame-level noise/re-encode jitter averages out, so a noisy re-take
    lands within a few bits while different clips (different spatial
    structure) stay far — the video member of the shared Hamming-dedup
    family."""
    from streaming_ecom_analytics_spark.functions import video as videolib

    def extract(batches):
        for pdf in batches:
            out = []
            for media_id, content in zip(pdf["media_id"], pdf["content"]):
                frames, _fps = videolib.decode_y4m(bytes(content))
                votes = np.zeros(64)
                n_used = 0
                for fr in frames[::sample_every]:
                    h = dhash_bits(fr.astype(np.float64), hash_size)
                    u = h & ((1 << 64) - 1)
                    votes += np.array([(u >> (63 - j)) & 1 for j in range(64)])
                    n_used += 1
                maj = (votes * 2 > n_used).astype(int)
                u = 0
                for b in maj:
                    u = (u << 1) | int(b)
                out.append((media_id, u - (1 << 64) if u >= (1 << 63) else u))
            yield pd.DataFrame(out, columns=["media_id", "vhash"])

    pruned = media.filter(F.col("media_type") == "video").select("media_id", "content")
    return pruned.mapInPandas(extract, schema="media_id long, vhash long")


def video_near_dups(media: DataFrame, *, max_hamming: int = 8) -> DataFrame:
    """Video near-duplicate pairs by temporal-majority dHash Hamming
    distance — shared chunk-blocked kernel, 16 chunks (exact ≤15)."""
    from streaming_ecom_analytics_spark.functions.dedup import hamming_pairs

    sig = video_vhash(media)
    return hamming_pairs(
        sig, id_col="media_id", sig_col="vhash", max_hamming=max_hamming, n_chunks=16
    )


def synthesize_video_with_dups(spark, n: int = 12, *, seed: int = 42) -> DataFrame:
    """Distinct low-frequency moving patterns per clip plus a noisy
    re-take of every 3rd clip at media_id+1000 — planted near-dup
    pairs for video perceptual dedup."""
    from streaming_ecom_analytics_spark.functions import video as videolib

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        w, h = 32, 24
        n_frames = 6
        yy, xx = np.mgrid[0:h, 0:w]
        f1, f2 = rng.uniform(0.5, 2.5, 2)
        p1 = rng.uniform(0, 2 * np.pi)
        drift = rng.uniform(0.1, 0.6)
        frames = []
        for t in range(n_frames):
            base = 127 + 100 * np.sin(
                2 * np.pi * (f1 * yy / h + f2 * xx / w) + p1 + drift * t
            )
            frames.append(np.clip(base, 0, 255).astype(np.uint8))
        content = videolib.encode_y4m(frames, fps=10)
        rows.append(
            (i, "video", "y4m", bytearray(content), (w, h, n_frames * 100, len(content)))
        )
        if i % 3 == 0:
            noisy = [
                np.clip(fr.astype(int) + rng.integers(-6, 7, fr.shape), 0, 255).astype(
                    np.uint8
                )
                for fr in frames
            ]
            dup = videolib.encode_y4m(noisy, fps=10)
            rows.append(
                (1000 + i, "video", "y4m", bytearray(dup), (w, h, n_frames * 100, len(dup)))
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
