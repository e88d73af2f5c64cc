"""Multimodal columns: opaque binary payloads + typed metadata, processed
by Arrow-batched mapInPandas (BASELINE.json north star).

Design: image/audio/video bytes live in a BINARY column next to a typed
metadata struct; decode and perceptual hashing run as mapInPandas so
each Arrow batch is processed vectorized in Python.

Decode is REAL for the uncompressed formats this container can handle
without native libraries — PPM/PGM images (numpy header+raster parse)
and RIFF/WAV audio (stdlib ``wave`` + numpy). Compressed
formats (JPEG/PNG/MP3/video) need PIL/ffmpeg, which are not in this
container: payloads that sniff as anything else raise
``NotImplementedError`` naming the plug-in point. ``fake=True`` keeps
deterministic md5-derived hashes for format-agnostic plumbing tests.

Scale: binary payloads make wide rows — the operators keep payloads out
of shuffles (hashes are computed in a map-only stage, then the bytes
are dropped before any wide transformation), and the asset table would
be written with small row groups like the reference's fat-text tables
(convert_s2ag.py:37-70).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType

# --- real decoders (dependency-free formats) --------------------------------


def _read_pnm_header(data: bytes) -> tuple[bytes, int, int, int, int]:
    """(magic, width, height, maxval, raster_offset) for P5/P6."""
    pos = 0

    def token() -> bytes:
        nonlocal pos
        while pos < len(data):
            c = data[pos : pos + 1]
            if c == b"#":
                while pos < len(data) and data[pos : pos + 1] != b"\n":
                    pos += 1
            elif c.isspace():
                pos += 1
            else:
                break
        start = pos
        while pos < len(data) and not data[pos : pos + 1].isspace():
            pos += 1
        return data[start:pos]

    magic = token()
    width, height, maxval = int(token()), int(token()), int(token())
    # exactly one whitespace separator after maxval per spec; tolerate the
    # common out-of-spec CRLF from Windows writers (a raster may begin
    # with byte 0x0A, so never skip more than this)
    if data[pos : pos + 2] == b"\r\n":
        pos += 2
    else:
        pos += 1
    return magic, width, height, maxval, pos


def _pil_decode(data: bytes) -> np.ndarray | None:
    """Compressed-format upgrade path: decode via PIL when it is
    importable (the plug-in the NotImplementedError below names). Probe
    and decode both executor-side; any failure degrades to None so the
    caller's format dispatch continues unchanged."""
    from science_datalake_spark.util import optional_import

    pil_image = optional_import("PIL.Image")
    if pil_image is None:
        return None
    try:
        img = pil_image.open(io.BytesIO(data))
        if img.mode not in ("L", "RGB"):
            img = img.convert("RGB")
        return np.asarray(img, dtype=np.uint8)
    except Exception:  # boundary: outside bytes; any decoder error means "cannot decode"
        return None


def decode_image(data: bytes) -> np.ndarray | None:
    """PPM (P6) → (H, W, 3) uint8; PGM (P5) → (H, W) uint8. Non-PNM
    payloads try the PIL upgrade path (JPEG/PNG/... when the library is
    present); None if nothing can decode it."""
    if not data[:2] in (b"P5", b"P6"):
        return _pil_decode(data)
    try:
        magic, w, h, maxval, off = _read_pnm_header(data)
        channels = 3 if magic == b"P6" else 1
        if maxval > 255 or w <= 0 or h <= 0:
            return None  # 16-bit or degenerate-dimension PNM rejected
        raster = np.frombuffer(data, dtype=np.uint8, count=w * h * channels, offset=off)
        return raster.reshape((h, w, 3)) if channels == 3 else raster.reshape((h, w))
    except (ValueError, struct.error):
        return None


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resample via index arrays (pure numpy)."""
    rows = np.round(np.linspace(0, img.shape[0] - 1, height)).astype(int)
    cols = np.round(np.linspace(0, img.shape[1] - 1, width)).astype(int)
    return img[rows][:, cols]


def decode_wav(data: bytes) -> tuple[np.ndarray, int] | None:
    """RIFF/WAV → (mono float32 samples in [-1,1], sample_rate); None if
    not a WAV or not 8/16-bit PCM."""
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(data)) as wf:
            rate = wf.getframerate()
            n = wf.getnframes()
            raw = wf.readframes(n)
            width = wf.getsampwidth()
            channels = wf.getnchannels()
        if width == 2:
            samples = np.frombuffer(raw, dtype=np.int16).astype(np.float32) / 32768.0
        elif width == 1:
            samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
        else:
            return None
        if channels > 1:
            samples = samples.reshape(-1, channels).mean(axis=1)
        return samples, rate
    except (wave.Error, EOFError, ValueError):
        return None


# --- video: frame splitting + sampling --------------------------------------


def split_pnm_stream(data: bytes) -> list[bytes] | None:
    """Parse a concatenated-PNM video stream (the dependency-free 'video'
    container ffmpeg itself emits/reads as ``image2pipe -vcodec ppm``):
    back-to-back P5/P6 frames. Returns frame byte slices, or None if the
    payload doesn't start with a PNM magic."""
    if data[:2] not in (b"P5", b"P6"):
        return None
    frames: list[bytes] = []
    pos = 0
    try:
        while pos < len(data) and data[pos : pos + 2] in (b"P5", b"P6"):
            magic, w, h, maxval, off = _read_pnm_header(data[pos:])
            if maxval > 255 or w <= 0 or h <= 0:
                return None
            size = off + w * h * (3 if magic == b"P6" else 1)
            if pos + size > len(data):
                return None  # truncated frame
            frames.append(data[pos : pos + size])
            pos += size
    except (ValueError, struct.error):
        return None
    return frames or None


# --- perceptual hashing: modality-aware near-dup fingerprints ---------------

PHASH_BITS = 64


def image_dhash(img: np.ndarray, bits: int = PHASH_BITS) -> str:
    """Difference hash (dHash): luminance → nearest-resample to a
    (side+1)×side grid → one bit per horizontal gradient sign. The
    standard crawl-image near-dup fingerprint: invariant to uniform
    brightness shifts and any resize that preserves gradient signs,
    unlike a byte hash which a 1-pixel re-encode defeats. Returned as a
    '0'/'1' bit string so the SimHash band machinery
    (dedup.simhash_candidate_pairs) consumes it unchanged."""
    side = int(bits**0.5)
    if side * side != bits:
        raise ValueError("bits must be a perfect square (8x8 default)")
    lum = img.astype(np.float32).mean(axis=2) if img.ndim == 3 else img.astype(np.float32)
    small = resize_nearest(lum, side + 1, side)
    grad = small[:, 1:] > small[:, :-1]
    return "".join("1" if b else "0" for b in grad.reshape(-1))


def audio_envelope_hash(
    samples: np.ndarray, rate: int, bits: int = PHASH_BITS
) -> str:
    """Energy-envelope hash: the mono signal is split into ``bits`` equal
    time windows; each bit is that window's RMS vs the per-clip median
    RMS. Invariant to amplitude scaling (both sides of the comparison
    scale together) and to codec-level noise far below the envelope;
    sensitive to structure (silence/attack patterns). Degenerate clips
    (empty / all-constant) hash to all-zeros."""
    if samples.size == 0 or rate <= 0:
        return "0" * bits
    windows = np.array_split(samples.astype(np.float32), bits)
    rms = np.array([np.sqrt(np.mean(w**2)) if w.size else 0.0 for w in windows])
    med = np.median(rms)
    return "".join("1" if v > med else "0" for v in rms)


def _fake_hash(payload: bytes, bits: int = PHASH_BITS) -> str:
    """md5-derived stand-in for the format-agnostic plumbing path."""
    digest = hashlib.md5(payload).digest()
    return "".join(f"{b:08b}" for b in digest)[:bits]


def _real_hash(payload: bytes, bits: int = PHASH_BITS) -> str:
    frames = split_pnm_stream(payload)
    if frames and len(frames) > 1:
        # video: dHash of the middle frame (scene-representative); checked
        # first because decode_image reads a stream's first frame alone
        payload = frames[len(frames) // 2]
    img = decode_image(payload)
    if img is not None:
        return image_dhash(img, bits)
    wav = decode_wav(payload)
    if wav is not None:
        return audio_envelope_hash(*wav, bits=bits)
    raise NotImplementedError(
        "payload is neither PNM, PCM WAV, nor a PNM stream — compressed "
        "formats (JPEG/PNG/MP3/video) need PIL/ffmpeg; plug the decoder in here"
    )


PHASH_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("kind", StringType()),
        StructField("simhash", StringType()),
    ]
)


def perceptual_hashes(
    assets: DataFrame, fake: bool = True, bits: int = PHASH_BITS
) -> DataFrame:
    """Per-asset perceptual fingerprint (``simhash`` bit-string column) via
    mapInPandas — the multimodal twin of the text SimHash stage. Map-only;
    payload bytes never reach a shuffle (dropped in the same stage that
    reads them). ``fake=False`` runs the real decoders (PNM/WAV/PNM-stream)
    and raises at the named plug-in point for compressed formats."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        hasher = _fake_hash if fake else _real_hash
        for pdf in it:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "kind": pdf["kind"],
                    "simhash": pdf["payload"].map(lambda p: hasher(bytes(p), bits)),
                }
            )

    return assets.mapInPandas(batches, schema=PHASH_SCHEMA)


def asset_near_dup_pairs(
    hashes: DataFrame,
    bands: int = 8,
    max_hamming: int = 6,
    bits: int = PHASH_BITS,
) -> DataFrame:
    """Near-duplicate asset pairs from perceptual hashes: delegates to the
    SimHash band-bucket + exact-Hamming machinery
    (dedup.simhash_candidate_pairs — same pigeonhole recall guarantee,
    same O(Σ bucket²) bound, never all-pairs), scoped by ``kind`` so
    cross-modality hash coincidences never pair (and modality shrinks
    the buckets). One self-join; pairs carry their ``kind``."""
    from science_datalake_spark.operators.dedup import simhash_candidate_pairs

    return simhash_candidate_pairs(
        hashes.select("asset_id", "kind", "simhash"),
        "asset_id",
        bits=bits,
        bands=bands,
        max_hamming=max_hamming,
        scope_cols=("kind",),
    )
