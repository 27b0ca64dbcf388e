"""Multimodal column operators (training-data pipeline ops).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata. The Spark-side plumbing — schemas, Arrow batch shapes, UDF
signatures, partition sizing — is real and tested. Decode status: PNG
images decode/resize/re-encode for REAL via the vendored from-scratch codec
(functions/png.py — authoritative for PNG on every cluster so results don't
depend on whether PIL is installed; PIL handles non-PNG formats when the
environment provides it),
RIFF/WAVE PCM audio decodes for REAL (functions/wav.py), and PNGV videos
(a minimal concatenated-PNG container defined here) sample REAL decodable
frames; other codecs fall back to a deterministic fake so pipelines stay
testable end-to-end in this codec-less container.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, mean_luma double, feature array<float>"
)

FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame binary"


try:  # preferred codec when the environment provides it (feature-gated)
    from PIL import Image as _PILImage  # type: ignore
except ImportError:
    _PILImage = None

from ..functions import png as _png  # vendored from-scratch PNG codec
from ._worker import task_entry


def _decode_image(payload: bytes) -> np.ndarray:
    """Image decode behind a feature gate, tried in order:

    1. the vendored from-scratch PNG codec (functions/png.py) for PNG
       payloads — a REAL decode that runs in this container, and the
       AUTHORITATIVE path for PNG on every cluster: PIL's 'L' mode rounds
       its ITU-R 601 luma ((R·19595+G·38470+B·7471+0x8000)>>16) while the
       codec truncates (·299/587/114 // 1000), so letting an installed PIL
       take PNG would flip mean_luma by ±1 on some pixels and break the
       captured oracle hash between PIL-present and PIL-absent clusters;
    2. PIL (non-PNG formats: JPEG, WebP, …) when the library is importable;
    3. a deterministic fake (bytes → 16×16 pseudo-pixel grid) for opaque
       fixture payloads, so the Spark-side plumbing — schema, Arrow batch
       shape, UDF signature — is exercised end-to-end regardless."""
    if payload is None:
        raise NotImplementedError("image decode requires a payload")
    if _png.is_png(payload):
        return _png.to_grayscale(_png.decode_png(payload))
    if _PILImage is not None:
        import io
        try:
            with _PILImage.open(io.BytesIO(payload)) as im:
                return np.asarray(im.convert("L"), dtype=np.uint8)
        except Exception:
            pass  # not PIL-decodable → deterministic fake path
    arr = np.frombuffer(bytes(payload[:256]).ljust(256, b"\0"), dtype=np.uint8)
    return arr.reshape(16, 16)


def image_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """mapInPandas feature extraction over image rows: width/height echo,
    mean luminance, and a 16-float row-profile feature vector. Arrow batch
    shape: one pandas batch per ~batch_hint rows (spark.sql.execution.arrow
    .maxRecordsPerBatch governs; set by caller for large payloads)."""

    @task_entry
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            imgs = [_decode_image(p) for p in b["payload"]]
            yield pd.DataFrame({
                "media_id": b["media_id"],
                "width": b["width"],
                "height": b["height"],
                "mean_luma": [float(i.mean()) for i in imgs],
                "feature": [i.mean(axis=1).astype(np.float32).tolist() for i in imgs],
            })

    return media.filter(F.col("kind") == "image").mapInPandas(extract, IMAGE_FEATURES_SCHEMA)


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Decode → nearest-neighbor resize → re-encode per Arrow batch.

    PNG payloads (and anything PIL can open, when present) go through the
    real chain and come back as greyscale PNGs of the requested size;
    opaque fixture payloads take the deterministic fake decode and are
    re-encoded the same way, so the output column is uniformly valid PNG.
    Executor-side mapInPandas — no driver hop, batch shape set by
    spark.sql.execution.arrow.maxRecordsPerBatch."""

    @task_entry
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.png import encode_png_gray, resize_nearest
        for b in batches:
            payloads = [
                encode_png_gray(resize_nearest(_decode_image(p), width, height))
                for p in b["payload"]
            ]
            out = b.copy()
            out["payload"] = payloads
            out["mime"] = "image/png"
            out["width"] = np.int32(width)
            out["height"] = np.int32(height)
            yield out

    return media.filter(F.col("kind") == "image").mapInPandas(run, MEDIA_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "media_id long, sample_rate int, duration_s double, rms double, "
    "peak double, zero_crossing_rate double"
)


def _decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    """Mono samples + rate. RIFF/WAVE PCM payloads decode for REAL via the
    vendored codec (functions/wav.py); anything else takes a deterministic
    fake (byte values as samples at a nominal 8kHz) so plumbing stays
    testable on opaque fixtures."""
    from ..functions import wav as _wav
    if payload is None or len(payload) == 0:
        raise NotImplementedError("audio decode requires a payload")
    if _wav.is_wav(bytes(payload)):
        return _wav.decode_wav(bytes(payload))
    fake = np.frombuffer(bytes(payload[:4096]), dtype=np.uint8).astype(np.float64)
    return (fake - 128.0) / 128.0, 8000


def audio_features(media: DataFrame, batch_hint: int = 1024) -> DataFrame:
    """Per-clip audio features: duration, RMS, peak, zero-crossing rate.
    Executor-side mapInPandas (Arrow batches); WAV payloads take the real
    decode, unknown codecs the deterministic fake."""

    @task_entry
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"media_id": [], "sample_rate": [], "duration_s": [],
                    "rms": [], "peak": [], "zero_crossing_rate": []}
            for mid, payload in zip(b["media_id"], b["payload"]):
                s, rate = _decode_audio(payload)
                n = max(len(s), 1)
                # (s < 0), not signbit: -0.0 must compare like SQL's v < 0
                zc = float(np.count_nonzero((s[1:] < 0) != (s[:-1] < 0)))
                rows["media_id"].append(mid)
                rows["sample_rate"].append(np.int32(rate))
                rows["duration_s"].append(len(s) / float(rate))
                rows["rms"].append(float(np.sqrt(np.mean(s * s))) if len(s) else 0.0)
                rows["peak"].append(float(np.abs(s).max()) if len(s) else 0.0)
                rows["zero_crossing_rate"].append(zc / n)
            yield pd.DataFrame(rows)

    return media.filter(F.col("kind") == "audio").mapInPandas(
        extract, AUDIO_FEATURES_SCHEMA)


def gen_wav_media_df(spark, n: int = 8, rate: int = 8000) -> DataFrame:
    """Deterministic REAL-WAV audio table: triangle tones with known
    frequency/amplitude so audio_features' outputs have closed forms.

    Triangle (not sine) on purpose: every sample derives from IEEE-exact
    ops only (*, /, floor, abs — all correctly rounded and therefore
    bit-identical between numpy and any SQL engine), so the DuckDB oracle
    can recompute the exact quantized PCM samples without depending on
    cross-engine libm SIN bit-parity at ×32767 rounding midpoints."""
    from ..functions.wav import encode_wav_pcm16

    rows = []
    for i in range(n):
        freq = 200.0 * (i + 1)
        amp = 0.1 + 0.1 * (i % 8)
        dur_s = 0.5 + 0.25 * (i % 3)
        k = np.arange(int(rate * dur_s), dtype=np.float64)
        ph = k * freq / rate
        phase = ph - np.floor(ph)
        tri = 4.0 * np.abs(phase - 0.5) - 1.0
        payload = encode_wav_pcm16(amp * tri, rate)
        rows.append((i, "audio", bytearray(payload), "audio/wav",
                     0, 0, int(dur_s * 1000)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def frame_mean_luma(frames: DataFrame) -> DataFrame:
    """Per-sampled-frame mean luminance: decode each frame payload (same
    gate as image decode — PIL, then the vendored PNG codec, then the
    deterministic fake) inside Arrow batches. Turns sample_frames' binary
    output into a hashable numeric relation for the correctness gate."""

    @task_entry
    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame({
                "media_id": b["media_id"],
                "frame_idx": b["frame_idx"],
                "mean_luma": [float(_decode_image(p).mean()) for p in b["frame"]],
            })

    return frames.mapInPandas(extract, "media_id long, frame_idx int, mean_luma double")


# --- PNGV: a minimal deterministic video container (concatenated PNG
# frames) so frame sampling is REAL in this container: no video codec
# exists here, but the vendored PNG codec lets a toy-but-valid container
# exercise the full sample path (parse → index → extract decodable frame).
# Layout: b"PNGV" | uint32 n_frames | uint32 frame_interval_ms |
#         n × (uint32 frame_len | PNG bytes)         (all big-endian)
_PNGV_MAGIC = b"PNGV"


def encode_pngv(frames: list[bytes], interval_ms: int) -> bytes:
    import struct
    out = [_PNGV_MAGIC, struct.pack(">II", len(frames), interval_ms)]
    for f in frames:
        out.append(struct.pack(">I", len(f)))
        out.append(f)
    return b"".join(out)


def decode_pngv(payload: bytes) -> tuple[list[bytes], int]:
    """→ (frames, interval_ms). Raises ValueError on a non-PNGV payload."""
    import struct
    if bytes(payload[:4]) != _PNGV_MAGIC:
        raise ValueError("not a PNGV payload")
    n, interval = struct.unpack(">II", bytes(payload[4:12]))
    frames, off = [], 12
    for _ in range(n):
        (ln,) = struct.unpack(">I", bytes(payload[off:off + 4]))
        off += 4
        frames.append(bytes(payload[off:off + ln]))
        off += ln
    return frames, interval


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Sample one frame per ``every_ms`` of video. PNGV payloads take the
    real chain — container parse, timestamp→frame index, extraction of the
    actual (decodable) PNG frame; unknown codecs fall back to a
    deterministic stub (leading payload bytes) so pipelines stay testable.
    Executor-side mapInPandas; one output row per sampled timestamp."""

    @task_entry
    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"media_id": [], "frame_idx": [], "frame": []}
            for mid, payload, dur in zip(b["media_id"], b["payload"], b["duration_ms"]):
                if payload is not None and bytes(payload[:4]) == _PNGV_MAGIC:
                    # degenerate containers (truncated payload, or 0 frames
                    # with nonzero duration) fall through to the stub path
                    # instead of failing the whole job on one bad row
                    try:
                        frames, interval = decode_pngv(payload)
                    except Exception:  # ValueError / struct.error: bad container
                        frames = []
                    if frames:
                        dur = dur or len(frames) * interval
                        ts = range(0, int(dur), every_ms)
                        for i, t in enumerate(ts):
                            k = min(t // max(interval, 1), len(frames) - 1)
                            rows["media_id"].append(mid)
                            rows["frame_idx"].append(i)
                            rows["frame"].append(frames[k])
                        continue
                n = max(int((dur or 0) // every_ms), 0)
                for i in range(n):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["frame"].append(bytes(payload[:16]) if payload is not None else b"")
            yield pd.DataFrame(rows)

    return media.filter(F.col("kind") == "video").mapInPandas(sample, FRAME_SAMPLE_SCHEMA)


def gen_pngv_media_df(spark, n_videos: int = 4, n_frames: int = 6,
                      interval_ms: int = 500) -> DataFrame:
    """Deterministic REAL-PNGV video table: each video is ``n_frames``
    gradient PNGs (frame index baked into the pixels) in a PNGV container,
    so sample_frames exercises the actual parse/extract/decode path."""
    from ..functions.png import encode_png_gray

    rows = []
    for v in range(n_videos):
        frames = []
        for k in range(n_frames):
            yy, xx = np.mgrid[0:8, 0:8]
            img = ((yy * 3 + xx * 5 + v * 11 + k * 29) % 256).astype(np.uint8)
            frames.append(encode_png_gray(img))
        payload = encode_pngv(frames, interval_ms)
        rows.append((v, "video", bytearray(payload), "video/x-pngv",
                     8, 8, n_frames * interval_ms))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def gen_png_media_df(spark, n: int = 32) -> DataFrame:
    """Deterministic REAL-PNG media table: gradient + checkerboard patterns
    encoded with the vendored codec, so image_features/resize_images
    exercise the actual decode path in this container (no PIL needed)."""
    from ..functions.png import encode_png_gray

    rows = []
    for i in range(n):
        h, w = 8 + (i % 4) * 4, 8 + (i % 3) * 8
        yy, xx = np.mgrid[0:h, 0:w]
        if i % 2 == 0:
            img = ((yy * 17 + xx * 31 + i) % 256).astype(np.uint8)      # gradient
        else:
            img = (((yy // 2 + xx // 2 + i) % 2) * 255).astype(np.uint8)  # checker
        rows.append((i, "image", bytearray(encode_png_gray(img)), "image/png",
                     int(w), int(h), 0))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def gen_media_df(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table for plumbing tests."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        kind = ("image", "audio", "video")[i % 3]
        payload = bytes(rng.randrange(256) for _ in range(64))
        rows.append((i, kind, payload, f"application/x-{kind}", 16, 16,
                     1000 * (1 + i % 5)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
