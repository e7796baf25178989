"""Multimodal columns: image/audio/video as opaque binary columns with typed
metadata, decoded and featurized with REAL pure-numpy codecs for the
container formats that need no external libraries:

- audio: RIFF/WAVE PCM (8/16/32-bit int and 32-bit float)
- image: PPM (P6) and uncompressed 24-bit BMP
- video: YUV4MPEG2 (y4m) — raw 4:2:0 frames, the standard uncompressed
  interchange format

Compressed codecs (PNG/JPEG/MP4/...) genuinely require codec libraries that
do not exist in this environment; those payloads produce a per-row error
("unsupported codec ...") in the ``error`` column rather than failing the
job — the standard large-pipeline posture where a fraction of a 100 TB media
crawl is always undecodable and must be quarantined, not fatal.

Spark shape: decode + featurize runs inside ONE ``mapInPandas`` stage; Arrow
moves the binary payloads columnar; per-row numpy work touches only that
row's bytes. Partition sizing guidance: keep
``spark.sql.files.maxPartitionBytes`` low enough that a partition of
payloads fits executor memory (binaries do not split mid-row).
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxahfe_spark.session import local_frame

MEDIA_SCHEMA = (
    "media_id string, modality string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

FEATURE_SCHEMA = (
    "media_id string, modality string, ok boolean, error string, "
    "feature array<float>, n_bytes int"
)


# -- decoders (pure numpy / struct — no external codec libraries) -------------


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM -> (samples float64 in [-1, 1], shape (n, channels),
    sample_rate). Supports PCM 8/16/32-bit int and IEEE float32."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt/data chunk")
    audio_format, channels, rate = struct.unpack("<HHI", fmt[:8])
    bits = struct.unpack("<H", fmt[14:16])[0]
    if audio_format == 1 and bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    elif audio_format == 1 and bits == 8:
        x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif audio_format == 1 and bits == 32:
        x = np.frombuffer(data, dtype="<i4").astype(np.float64) / 2147483648.0
    elif audio_format == 3 and bits == 32:
        x = np.frombuffer(data, dtype="<f4").astype(np.float64)
    else:
        raise ValueError(f"unsupported codec: WAVE format={audio_format} bits={bits}")
    n = (len(x) // max(channels, 1)) * channels
    return x[:n].reshape(-1, channels), rate


def decode_ppm(payload: bytes) -> np.ndarray:
    """PPM P6 -> (h, w, 3) float64 in [0, 1]."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header tokens: magic, width, height, maxval — whitespace-delimited,
    # '#' comments to end of line
    tokens, pos = [], 2
    while len(tokens) < 3 and pos < len(payload):
        c = payload[pos : pos + 1]
        if c == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif c.isspace():
            pos += 1
        else:
            end = pos
            while end < len(payload) and not payload[end : end + 1].isspace():
                end += 1
            tokens.append(int(payload[pos:end]))
            pos = end
    pos += 1  # single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("unsupported codec: 16-bit PPM")
    px = np.frombuffer(payload[pos : pos + w * h * 3], dtype=np.uint8)
    if px.size < w * h * 3:
        raise ValueError("truncated PPM pixel data")
    return px.reshape(h, w, 3).astype(np.float64) / maxval


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP -> (h, w, 3) float64 RGB in [0, 1]."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported codec: BMP bpp={bpp} compression={compression}")
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    rows = []
    for r in range(h):
        off = data_off + r * stride
        rows.append(np.frombuffer(payload[off : off + w * 3], dtype=np.uint8))
    img = np.stack(rows).reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if bottom_up:
        img = img[::-1]
    return img.astype(np.float64) / 255.0


def decode_y4m(payload: bytes) -> tuple[np.ndarray, float]:
    """YUV4MPEG2 (4:2:0) -> (luminance frames (n, h, w) float64 in [0,1],
    fps). Only the Y plane is kept — the luma channel carries the structure
    features use."""
    if payload[:9] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    hdr_end = payload.index(b"\n")
    w = h = 0
    fps = 25.0
    for tok in payload[9:hdr_end].split(b" "):
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"F":
            num, den = tok[1:].split(b":")
            fps = int(num) / max(int(den), 1)
        elif tok[:1] == b"C" and tok[1:] not in (b"420", b"420jpeg", b"420mpeg2"):
            raise ValueError(f"unsupported codec: y4m chroma {tok[1:].decode()}")
    frame_bytes = w * h * 3 // 2  # 4:2:0
    frames = []
    pos = hdr_end + 1
    while pos + 6 <= len(payload) and payload[pos : pos + 5] == b"FRAME":
        pos = payload.index(b"\n", pos) + 1
        y = np.frombuffer(payload[pos : pos + w * h], dtype=np.uint8)
        if y.size < w * h:
            break
        frames.append(y.reshape(h, w))
        pos += frame_bytes
    if not frames:
        raise ValueError("y4m payload has no complete frames")
    return np.stack(frames).astype(np.float64) / 255.0, fps


# -- featurizers --------------------------------------------------------------


def _block_resize(gray: np.ndarray, k: int) -> np.ndarray:
    """(h, w) -> (k, k) by block averaging (crop-to-multiple, no interp)."""
    h, w = gray.shape
    if h < k or w < k:
        gray = np.pad(gray, ((0, max(0, k - h)), (0, max(0, k - w))), mode="edge")
        h, w = gray.shape
    hh, ww = (h // k) * k, (w // k) * k
    g = gray[:hh, :ww].reshape(k, hh // k, k, ww // k)
    return g.mean(axis=(1, 3))


def image_feature(img: np.ndarray, dim: int) -> np.ndarray:
    """Luminance thumbnail + channel stats, padded/truncated to dim."""
    gray = img.mean(axis=2)
    k = max(2, int(np.sqrt(max(dim - 6, 4))))
    thumb = _block_resize(gray, k).ravel()
    stats = np.concatenate([img.mean(axis=(0, 1)), img.std(axis=(0, 1))])
    v = np.concatenate([stats, thumb])
    out = np.zeros(dim)
    out[: min(dim, v.size)] = v[:dim]
    return out.astype(np.float32)


def audio_feature(samples: np.ndarray, rate: int, dim: int) -> np.ndarray:
    """Windowed RMS envelope + log-magnitude spectrum bins."""
    mono = samples.mean(axis=1)
    n_env = max(1, dim // 2)
    edges = np.linspace(0, mono.size, n_env + 1, dtype=int)
    env = np.array(
        [np.sqrt((mono[a:b] ** 2).mean()) if b > a else 0.0 for a, b in zip(edges, edges[1:])]
    )
    n_spec = dim - n_env
    spec = np.abs(np.fft.rfft(mono))
    sedges = np.linspace(0, spec.size, n_spec + 1, dtype=int)
    sb = np.array(
        [np.log1p(spec[a:b].mean()) if b > a else 0.0 for a, b in zip(sedges, sedges[1:])]
    )
    return np.concatenate([env, sb]).astype(np.float32)


def video_feature(frames: np.ndarray, dim: int) -> np.ndarray:
    """Per-frame mean luminance resampled to dim//2 + a first-frame thumb."""
    n_t = max(1, dim // 2)
    means = frames.mean(axis=(1, 2))
    idx = np.linspace(0, means.size - 1, n_t).round().astype(int)
    temporal = means[idx]
    k = max(2, int(np.sqrt(max(dim - n_t, 4))))
    thumb = _block_resize(frames[0], k).ravel()
    v = np.concatenate([temporal, thumb])
    out = np.zeros(dim)
    out[: min(dim, v.size)] = v[:dim]
    return out.astype(np.float32)


def decode_and_featurize(payload: bytes, modality: str, dim: int) -> np.ndarray:
    if modality == "audio":
        samples, rate = decode_wav(payload)
        return audio_feature(samples, rate, dim)
    if modality == "image":
        if payload[:2] == b"P6":
            img = decode_ppm(payload)
        elif payload[:2] == b"BM":
            img = decode_bmp(payload)
        else:
            raise ValueError("unsupported codec: image is neither PPM nor 24-bit BMP")
        return image_feature(img, dim)
    if modality == "video":
        frames, _ = decode_y4m(payload)
        return video_feature(frames, dim)
    raise ValueError(f"unknown modality {modality!r}")


def extract_media_features(
    media: DataFrame, dim: int = 32, batch_hint: int = 256
) -> DataFrame:
    """mapInPandas decode + featurize over binary media columns.

    Per-row failures (unsupported codec, truncated payload) populate the
    ``error`` column with ok=false — a decode error in one row of a 100 TB
    crawl must quarantine the row, never kill the job.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, oks, errs, sizes = [], [], [], []
            for payload, modality in zip(pdf["payload"], pdf["modality"]):
                try:
                    if payload is None:
                        raise ValueError("null payload")
                    b = bytes(payload)
                    feats.append(decode_and_featurize(b, modality, dim).tolist())
                    oks.append(True)
                    errs.append(None)
                    sizes.append(len(b))
                except Exception as e:  # noqa: BLE001 - per-row error capture
                    feats.append(None)
                    oks.append(False)
                    errs.append(str(e))
                    sizes.append(len(payload) if payload is not None else 0)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "modality": pdf["modality"],
                    "ok": oks,
                    "error": errs,
                    "feature": feats,
                    "n_bytes": sizes,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling PLAN: one output row per planned frame timestamp
    (duration-driven, no decode). A real pipeline feeds these (media_id,
    frame_ts_ms) rows to the decoder stage."""
    return media.filter(F.col("modality") == "video").select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


# -- deterministic REAL-format synthesis (tests / fixtures) -------------------


def make_wav(seed: int, rate: int = 8000, secs: float = 0.25) -> bytes:
    """16-bit PCM mono WAV of a seeded sine + noise mix."""
    rng = np.random.default_rng(seed)
    t = np.arange(int(rate * secs)) / rate
    f = float(rng.integers(100, 2000))
    x = 0.6 * np.sin(2 * np.pi * f * t) + 0.05 * rng.standard_normal(t.size)
    pcm = (np.clip(x, -1, 1) * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def make_ppm(seed: int, w: int = 24, h: int = 16) -> bytes:
    rng = np.random.default_rng(seed)
    base = rng.integers(0, 256, 3)
    gx = np.linspace(0, 255, w)[None, :, None]
    img = np.clip(base[None, None, :] * 0.3 + gx, 0, 255).astype(np.uint8)
    img = np.broadcast_to(img, (h, w, 3))
    return b"P6\n%d %d\n255\n" % (w, h) + img.tobytes()


def make_y4m(seed: int, w: int = 16, h: int = 16, frames: int = 5) -> bytes:
    rng = np.random.default_rng(seed)
    out = b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 C420\n" % (w, h)
    lum = rng.integers(0, 200, (frames,))
    for i in range(frames):
        y = np.full(w * h, lum[i], dtype=np.uint8)
        uv = np.full(w * h // 2, 128, dtype=np.uint8)
        out += b"FRAME\n" + y.tobytes() + uv.tobytes()
    return out


def synthesize_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic media table in MEDIA_SCHEMA shape with REAL payloads
    (PCM WAV / PPM / y4m) — decodable by this module's own pure-numpy
    decoders, byte-for-byte valid for any standard tool."""
    rows = []
    for i in range(n):
        modality = ["image", "audio", "video"][i % 3]
        if modality == "image":
            payload, mime, wd, ht, dur = make_ppm(seed + i), "image/x-portable-pixmap", 24, 16, None
        elif modality == "audio":
            payload, mime, wd, ht, dur = make_wav(seed + i), "audio/wav", None, None, 250
        else:
            payload, mime, wd, ht, dur = make_y4m(seed + i), "video/x-yuv4mpeg", 16, 16, 200
        rows.append((f"m{i:04d}", modality, bytearray(payload), mime, wd, ht, dur))
    return local_frame(spark, rows, MEDIA_SCHEMA)
