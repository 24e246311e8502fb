"""Multimodal column plumbing: image/audio as opaque binary columns
with typed metadata.

The Spark-side machinery (schemas, Arrow batch shapes, mapInPandas
partition flow, deterministic partitioning by content hash) is real
and tested. ``decode_image`` REALLY decodes the headerful
uncompressed image formats (BMP BI_RGB, PPM P6) and ``decode_wav``
the uncompressed audio one (RIFF PCM WAV, 8/16-bit) in pure
python/numpy — feature extraction over those is genuine pixel/signal
math; compressed codecs (JPEG/PNG/MP3) still raise
NotImplementedError because their libraries (Pillow/ffmpeg/librosa)
are not in this container, and ``fake_image_features`` stands in so
mixed corpora keep flowing through the one Arrow-batched UDF.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = [
    "MEDIA_SCHEMA",
    "attach_media_meta",
    "decode_image",
    "decode_wav",
    "fake_image_features",
    "image_features",
    "audio_features",
    "extract_features",
]

# binary payload + typed metadata — the multimodal table contract
MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)

_FEATURE_DIM = 8


def attach_media_meta(df: DataFrame) -> DataFrame:
    """Content-hash + size metadata of ``payload``, JVM-side (no UDF)."""
    return df.withColumn("content_hash", F.sha1(F.col("payload"))).withColumn(
        "n_bytes", F.length(F.col("payload")).cast("long")
    )


def decode_image(payload: bytes) -> "np.ndarray":
    """Pure-python image decode → HWC uint8 RGB.

    Real decoders for the two headerful uncompressed formats parseable
    without an imaging library:
    - BMP (BI_RGB 24/32-bit, bottom-up or top-down rows, 4-byte row
      padding),
    - PPM binary (P6, maxval 255).
    Compressed formats (JPEG/PNG/…) still raise — their codecs are not
    in this container; the mapInPandas plumbing downstream is format-
    agnostic, so a library decoder slots into this one function.
    """
    import struct

    buf = bytes(payload)
    if buf[:2] == b"BM":
        data_off = struct.unpack_from("<I", buf, 10)[0]
        width, height = struct.unpack_from("<ii", buf, 18)
        bpp = struct.unpack_from("<H", buf, 28)[0]
        compression = struct.unpack_from("<I", buf, 30)[0]
        if compression != 0 or bpp not in (24, 32):
            raise NotImplementedError(
                f"BMP variant not supported: bpp={bpp} compression={compression}"
            )
        top_down = height < 0
        height = abs(height)
        nchan = bpp // 8
        row_size = ((bpp * width + 31) // 32) * 4
        rows = []
        for r in range(height):
            off = data_off + r * row_size
            row = np.frombuffer(buf, dtype=np.uint8, count=width * nchan, offset=off)
            # BGR(A) → RGB
            rows.append(row.reshape(width, nchan)[:, :3][:, ::-1])
        img = np.stack(rows)
        return img if top_down else img[::-1]
    if buf[:2] == b"P6":
        return _parse_ppm(buf)
    raise NotImplementedError(
        "only BMP (BI_RGB) and PPM (P6) decode without an imaging library"
    )


def _parse_ppm(buf: bytes) -> "np.ndarray":
    """Parse one P6 frame → HWC uint8 image."""
    # header: P6 <ws> width <ws> height <ws> maxval <single ws> data
    i, vals = 2, []
    while len(vals) < 3:
        while i < len(buf) and buf[i : i + 1].isspace():
            i += 1
        if buf[i : i + 1] == b"#":  # comment line
            i = buf.index(b"\n", i) + 1
            continue
        j = i
        while j < len(buf) and not buf[j : j + 1].isspace():
            j += 1
        vals.append(int(buf[i:j]))
        i = j
    i += 1  # the single whitespace after maxval
    width, height, maxval = vals
    if maxval != 255:
        raise NotImplementedError("PPM maxval != 255")
    n = width * height * 3
    if i + n > len(buf):
        raise ValueError("truncated PPM frame")
    return (
        np.frombuffer(buf, dtype=np.uint8, count=n, offset=i)
        .reshape(height, width, 3)
        .copy()
    )


def decode_wav(payload: bytes) -> tuple[int, "np.ndarray"]:
    """Pure-python WAV decode → ``(sample_rate, samples)`` with
    ``samples`` shaped ``(n_frames, n_channels)`` as float64 in
    native units (int16 counts or uint8 counts re-centered to ±127).

    RIFF/WAVE is the uncompressed audio analogue of BMP: a chunked
    container (``fmt `` declares PCM layout, ``data`` carries raw
    samples) parseable with struct+numpy alone — a REAL decoder, like
    the BMP/PPM paths above. Non-PCM encodings (format tag != 1) and
    bit depths other than 8/16 raise: compressed audio needs codecs
    this container doesn't ship.
    """
    import struct

    buf = bytes(payload)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise NotImplementedError("not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = struct.unpack_from("<I", buf, pos + 4)[0]
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1:
        raise NotImplementedError(f"non-PCM WAV format tag {audio_format}")
    if bits == 16:
        samples = np.frombuffer(
            data, dtype="<i2", count=len(data) // 2
        ).astype(np.float64)
    elif bits == 8:
        samples = (
            np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
        )
    else:
        raise NotImplementedError(f"unsupported WAV bit depth {bits}")
    frames = len(samples) // channels
    return sample_rate, samples[: frames * channels].reshape(
        frames, channels
    )


def fake_image_features(payload: bytes | None) -> list[float]:
    """Deterministic stand-in 'decoder': 8 floats derived from the md5
    of the payload bytes. Same signature/shape as a real embedder."""
    if payload is None:
        return [0.0] * _FEATURE_DIM
    digest = hashlib.md5(bytes(payload)).digest()
    return [digest[i] / 255.0 for i in range(_FEATURE_DIM)]


def image_features(payload: bytes | None) -> list[float]:
    """Feature vector per media row: REAL pixel statistics when the
    payload decodes (BMP/PPM via :func:`decode_image`), the md5
    stand-in otherwise — so mixed corpora flow through one UDF.

    Decoded features: [w/4096, h/4096, mean_r/255, mean_g/255,
    mean_b/255, std/255, aspect, 1.0] (last element flags a real
    decode)."""
    if payload is None:
        return [0.0] * _FEATURE_DIM
    try:
        img = decode_image(payload)
    except Exception:
        # unsupported format OR magic-byte coincidence on non-image
        # bytes (struct/index errors) → the md5 stand-in path
        return fake_image_features(payload)
    h, w = img.shape[0], img.shape[1]
    flat = img.astype(np.float64)
    return [
        w / 4096.0,
        h / 4096.0,
        float(flat[:, :, 0].mean()) / 255.0,
        float(flat[:, :, 1].mean()) / 255.0,
        float(flat[:, :, 2].mean()) / 255.0,
        float(flat.std()) / 255.0,
        w / h,
        1.0,
    ]


def audio_features(payload: bytes | None) -> list[float]:
    """Feature vector per audio row: REAL signal statistics when the
    payload decodes (PCM WAV via :func:`decode_wav`), the md5
    stand-in otherwise.

    Decoded features: [sample_rate/48000, duration_s, rms/32768,
    zero_crossing_rate, peak/32768, mean/32768, n_channels, 1.0]
    (last element flags a real decode; zcr = sign transitions over
    frames-1, first channel)."""
    if payload is None:
        return [0.0] * _FEATURE_DIM
    try:
        sr, samples = decode_wav(payload)
    except Exception:
        return fake_image_features(payload)
    frames, channels = samples.shape
    ch0 = samples[:, 0]
    flips = np.sum(ch0[1:] * ch0[:-1] < 0) if frames > 1 else 0
    return [
        sr / 48000.0,
        frames / sr,
        float(np.sqrt(np.mean(samples**2))) / 32768.0,
        float(flips) / max(frames - 1, 1),
        float(np.abs(samples).max()) / 32768.0,
        float(samples.mean()) / 32768.0,
        float(channels),
        1.0,
    ]


def extract_features(df: DataFrame, feature_fn=image_features) -> DataFrame:
    """mapInPandas feature extraction of ``payload`` into
    ``features``: Arrow-batched, schema-stable, partition-parallel —
    the real scale plumbing around the codec (``feature_fn``:
    :func:`image_features` or :func:`audio_features`)."""
    # double, not float: keeps the feature values bit-comparable to a
    # float64 oracle (f32 truncation shifts the 6th decimal)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", features array<double>"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["features"] = pdf["payload"].map(feature_fn)
            yield pdf

    return df.mapInPandas(gen, out_schema)
