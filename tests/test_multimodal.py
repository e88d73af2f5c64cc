"""Multimodal plumbing tests: binary columns through mapInPandas."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: the asset-table layout the multimodal operators read: opaque binary
#: payload next to a typed metadata struct
ASSET_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("mime", StringType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                    StructField("duration_ms", IntegerType()),
                ]
            ),
        ),
    ]
)


def _encode_ppm(img: np.ndarray) -> bytes:
    """(H, W, 3) or (H, W) uint8 → binary PNM bytes (P6 / P5)."""
    magic = "P6" if img.ndim == 3 else "P5"
    return f"{magic}\n{img.shape[1]} {img.shape[0]}\n255\n".encode() + img.astype(np.uint8).tobytes()


def _md5_assets(spark, n: int = 32):
    """Deterministic binary assets (payload = repeated md5 bytes), for the
    format-agnostic ``fake=True`` path."""
    rows = []
    for i in range(n):
        payload = hashlib.md5(f"asset-{i}".encode()).digest() * (4 + i % 5)
        kind = ["image", "audio", "video"][i % 3]
        rows.append(
            (i, kind, bytearray(payload), ("application/octet-stream", 64, 64, 1000 + i))
        )
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def _pnm_stream_assets(spark, n: int = 4, frames: int = 10, size: int = 8):
    """Concatenated-PNM 'video' clips whose frames brighten linearly."""
    rows = []
    for i in range(n):
        clip = b""
        for f in range(frames):
            val = min(255, (f * 255) // max(frames - 1, 1))
            clip += _encode_ppm(np.full((size, size, 3), val, dtype=np.uint8))
        rows.append(
            (i, "video", bytearray(clip), ("video/x-pnm-stream", size, size, frames * 40))
        )
    return spark.createDataFrame(rows, ASSET_SCHEMA)


def test_decoder_edge_cases():
    """Degenerate payloads are rejected or decoded empty, never crash."""
    import io
    import wave

    from science_datalake_spark.operators.multimodal import (
        decode_image,
        decode_wav,
    )

    # 0x0 PNM → rejected (None)
    assert decode_image(b"P5 0 0 255\n") is None
    # CRLF after maxval (Windows writers) → raster not shifted
    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    crlf = b"P6 2 2 255\r\n" + img.tobytes()
    assert np.array_equal(decode_image(crlf), img)
    # normal single-\n path still exact
    assert np.array_equal(decode_image(_encode_ppm(img)), img)
    # zero-frame WAV → empty sample array at the declared rate
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(b"")
    samples, rate = decode_wav(buf.getvalue())
    assert samples.size == 0 and rate == 8000


def test_split_pnm_stream_and_uniform_sampling():
    from science_datalake_spark.operators.multimodal import split_pnm_stream

    frames = [np.full((4, 4, 3), v, dtype=np.uint8) for v in (0, 100, 200)]
    stream = b"".join(_encode_ppm(f) for f in frames)
    parts = split_pnm_stream(stream)
    assert parts is not None and len(parts) == 3
    assert split_pnm_stream(b"RIFFnotvideo") is None
    assert split_pnm_stream(stream[:-5]) is None  # truncated last frame


def _wav_bytes(samples: np.ndarray, rate: int = 8000) -> bytes:
    """Mono float samples in [-1, 1] → 16-bit PCM WAV bytes."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes((samples * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def _gradient_image(size: int = 16) -> np.ndarray:
    """RGB raster whose luminance strictly rises left to right."""
    y, x = np.mgrid[0:size, 0:size]
    return np.stack([(x * 17) % 256, (y * 33) % 256, (x + y) % 256], axis=-1).astype(np.uint8)


def test_feature_extraction_shapes(spark):
    """Every asset gets one ``bits``-wide 0/1 fingerprint, the same on a
    re-run; the real image hash rejects a non-square bit count."""
    from science_datalake_spark.operators.multimodal import image_dhash, perceptual_hashes

    hashes = perceptual_hashes(_md5_assets(spark, n=24)).collect()
    assert len(hashes) == 24
    assert all(len(r["simhash"]) == 64 and set(r["simhash"]) <= {"0", "1"} for r in hashes)
    again = perceptual_hashes(_md5_assets(spark, n=24)).collect()
    assert sorted(map(tuple, hashes)) == sorted(map(tuple, again))
    short = perceptual_hashes(_md5_assets(spark, n=3), bits=16).collect()
    assert all(len(r["simhash"]) == 16 for r in short)
    with pytest.raises(ValueError, match="perfect square"):
        image_dhash(_gradient_image(), bits=10)


def test_features_drop_payload(spark):
    """Payload bytes never leave the hashing stage, so they never reach
    the banding shuffle."""
    from science_datalake_spark.operators.multimodal import perceptual_hashes

    hashes = perceptual_hashes(_md5_assets(spark, n=4))
    assert hashes.columns == ["asset_id", "kind", "simhash"]
    assert hashes.count() == 4


def test_unknown_format_real_decode_raises(spark):
    """md5-junk payloads are neither PNM, WAV nor a PNM stream → the real
    path names the plug-in point instead of fabricating a hash."""
    from science_datalake_spark.operators.multimodal import perceptual_hashes

    with pytest.raises(Exception) as exc:
        perceptual_hashes(_md5_assets(spark, n=2), fake=False).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


def test_real_ppm_decode_features(spark):
    """fake=False really decodes PPM/PGM rasters (lossless round trip)
    and hashes the decoded pixels: a rightward-brightening image is all
    ones, its mirror all zeros."""
    from science_datalake_spark.operators.multimodal import decode_image, perceptual_hashes

    img = _gradient_image()
    assert np.array_equal(decode_image(_encode_ppm(img)), img)
    gray = img[:, :, 0]
    assert np.array_equal(decode_image(_encode_ppm(gray)), gray)

    rows = [
        (0, "image", bytearray(_encode_ppm(img)), (None, 16, 16, None)),
        (1, "image", bytearray(_encode_ppm(img[:, ::-1])), (None, 16, 16, None)),
        (2, "image", bytearray(_encode_ppm(gray)), (None, 16, 16, None)),
    ]
    got = {
        r["asset_id"]: r["simhash"]
        for r in perceptual_hashes(spark.createDataFrame(rows, ASSET_SCHEMA), fake=False).collect()
    }
    assert got == {0: "1" * 64, 1: "0" * 64, 2: "1" * 64}


def test_real_ppm_resize_changes_raster():
    """resize_nearest actually resamples the decoded raster: new shape,
    corner pixels kept, every output pixel taken from the input."""
    from science_datalake_spark.operators.multimodal import decode_image, resize_nearest

    img = decode_image(_encode_ppm(_gradient_image()))
    out = resize_nearest(img, 8, 4)
    assert out.shape == (4, 8, 3)
    assert np.array_equal(out[0, 0], img[0, 0]) and np.array_equal(out[-1, -1], img[-1, -1])
    rows = np.round(np.linspace(0, 15, 4)).astype(int)
    cols = np.round(np.linspace(0, 15, 8)).astype(int)
    assert np.array_equal(out, img[np.ix_(rows, cols)])
    assert resize_nearest(img[:, :, 0], 8, 4).shape == (4, 8)


def test_real_wav_decode_features(spark):
    """decode_wav really decodes PCM: the declared rate, a sine of
    amplitude 0.5 at RMS 0.5/√2, higher tones peaking in later FFT bins;
    the real hash of a silence-then-tone clip is its energy envelope."""
    from science_datalake_spark.operators.multimodal import decode_wav, perceptual_hashes

    rate = 8000
    t = np.arange(6400) / rate  # 64 hash windows of 100 samples
    peaks = []
    for freq in (220.0, 440.0, 880.0):
        samples, got_rate = decode_wav(_wav_bytes(0.5 * np.sin(2 * np.pi * freq * t), rate))
        assert got_rate == rate and samples.size == t.size
        assert float(np.sqrt(np.mean(samples**2))) == pytest.approx(0.3535, abs=0.01)
        peaks.append(int(np.argmax(np.abs(np.fft.rfft(samples)))))
    assert peaks[0] < peaks[1] < peaks[2]

    tone = 0.5 * np.sin(2 * np.pi * 440.0 * t)
    clip = np.where(np.arange(t.size) < t.size // 2, 0.0, tone)
    assets = spark.createDataFrame(
        [(0, "audio", bytearray(_wav_bytes(clip, rate)), ("audio/wav", 0, 0, 800))],
        ASSET_SCHEMA,
    )
    (row,) = perceptual_hashes(assets, fake=False).collect()
    assert row["simhash"] == "0" * 32 + "1" * 32


def test_sample_frames_real_pnm_stream(spark):
    """A concatenated-PNM clip splits into its frames in order (brightness
    rises with the frame index), and the real video hash is the dHash of
    the middle frame — the only one that brightens rightward."""
    from science_datalake_spark.operators.multimodal import (
        decode_image,
        perceptual_hashes,
        split_pnm_stream,
    )

    n_frames, size = 10, 16
    ramp = np.arange(size) * 4
    clip = b""
    for f in range(n_frames):
        row = f * 20 + (ramp if f == n_frames // 2 else ramp[::-1])
        clip += _encode_ppm(np.repeat(np.tile(row, (size, 1))[:, :, None], 3, axis=2))
    frames = split_pnm_stream(clip)
    assert frames is not None and len(frames) == n_frames
    decoded = [decode_image(fr) for fr in frames]
    assert all(d.shape == (size, size, 3) for d in decoded)
    means = [float(d.mean()) for d in decoded]
    assert means == sorted(means) and means[-1] > means[0]

    assets = spark.createDataFrame(
        [(0, "video", bytearray(clip), ("video/x-pnm-stream", size, size, 400))], ASSET_SCHEMA
    )
    (row,) = perceptual_hashes(assets, fake=False).collect()
    assert row["simhash"] == "1" * 64


# ---------------------------------------------------------------------------
# perceptual hashing (round 8)
# ---------------------------------------------------------------------------


def test_image_dhash_invariances():
    """dHash is bit-identical under uniform brightness shift and under an
    upscale that preserves gradient signs, and far from a different image."""
    from science_datalake_spark.operators.multimodal import (
        image_dhash,
        resize_nearest,
    )

    rng_grid = np.add.outer(np.arange(16) * 7, np.arange(16) * 13) % 200
    img = np.stack([rng_grid, rng_grid, rng_grid], axis=-1).astype(np.uint8)
    h = image_dhash(img)
    assert len(h) == 64 and set(h) <= {"0", "1"}
    # uniform brightness shift (no clipping): identical bits
    assert image_dhash((img + 40).astype(np.uint8)) == h
    # 4x nearest upscale replicates pixels: gradient signs at the sampled
    # grid are preserved
    big = resize_nearest(img, 64, 64)
    assert image_dhash(big) == h
    # a structurally different image lands far away
    other = np.stack([rng_grid.T, rng_grid.T, rng_grid.T], axis=-1).astype(np.uint8)
    dist = sum(a != b for a, b in zip(h, image_dhash(other)))
    assert dist > 10


def test_audio_envelope_hash_invariances():
    from science_datalake_spark.operators.multimodal import audio_envelope_hash

    t = np.arange(8000) / 8000.0
    # amplitude-modulated tone: distinct on/off envelope structure
    env = (np.sin(2 * np.pi * 3 * t) > 0).astype(np.float32)
    sig = (np.sin(2 * np.pi * 440 * t) * env).astype(np.float32)
    h = audio_envelope_hash(sig, 8000)
    assert len(h) == 64 and "1" in h and "0" in h
    # amplitude scaling: identical bits
    assert audio_envelope_hash(sig * 0.25, 8000) == h
    # different envelope: far away
    sig2 = (np.sin(2 * np.pi * 440 * t) * (1.0 - env)).astype(np.float32)
    dist = sum(a != b for a, b in zip(h, audio_envelope_hash(sig2, 8000)))
    assert dist > 10
    # degenerate clips hash to all-zeros instead of crashing
    assert audio_envelope_hash(np.array([], dtype=np.float32), 8000) == "0" * 64


def test_perceptual_hashes_real_and_near_dup_pairs(spark):
    """A perturbed copy of each PPM image pairs with its original at small
    Hamming distance; structurally different images don't pair."""
    from science_datalake_spark.operators.multimodal import (
        asset_near_dup_pairs,
        perceptual_hashes,
    )

    rows = []
    for i in range(4):
        # seeded random rasters: distinct images are ~32 bits apart in
        # dHash space (smooth analytic gradients would all share the
        # monotone-row sign pattern and falsely pair)
        g = np.random.default_rng(i).integers(0, 200, size=(16, 16))
        img = np.stack([g, g, g], axis=-1).astype(np.uint8)
        rows.append((i, "image", bytearray(_encode_ppm(img)), (None, 16, 16, None)))
        # near-copy: uniform brightness +25 (gradient-sign preserving,
        # no clipping at max 199+25)
        rows.append(
            (100 + i, "image", bytearray(_encode_ppm((img + 25).astype(np.uint8))), (None, 16, 16, None))
        )
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    hashes = perceptual_hashes(assets, fake=False)
    pairs = asset_near_dup_pairs(hashes, bands=8, max_hamming=4).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    for i in range(4):
        assert (i, 100 + i) in got, (i, got)
    # no pair between different base images
    for a, b in got:
        assert b - a == 100, (a, b)
    assert all(r["kind"] == "image" for r in pairs)


def test_asset_near_dup_pairs_scoped_by_kind(spark):
    """Identical signatures in different modalities must NOT pair (the
    scope_cols guard), while same-kind identical signatures do."""
    from science_datalake_spark.operators.multimodal import asset_near_dup_pairs

    hashes = spark.createDataFrame(
        [
            (1, "image", "0" * 64),
            (2, "audio", "0" * 64),
            (3, "image", "0" * 64),
        ],
        "asset_id LONG, kind STRING, simhash STRING",
    )
    got = {
        (r["id_a"], r["id_b"], r["kind"])
        for r in asset_near_dup_pairs(hashes).collect()
    }
    assert got == {(1, 3, "image")}


def test_perceptual_hash_video_stream_and_plumbing(spark):
    """PNM-stream 'video' payloads hash via their middle frame; the fake
    path stays format-agnostic and deterministic."""
    from science_datalake_spark.operators.multimodal import perceptual_hashes

    vids = _pnm_stream_assets(spark, n=2)
    out = perceptual_hashes(vids, fake=False).collect()
    assert len(out) == 2
    assert all(len(r["simhash"]) == 64 for r in out)
    fake = perceptual_hashes(_md5_assets(spark, n=6)).collect()
    again = perceptual_hashes(_md5_assets(spark, n=6)).collect()
    assert sorted(map(tuple, fake)) == sorted(map(tuple, again))
