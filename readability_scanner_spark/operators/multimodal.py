"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata structs.

What's REAL, stdlib(+numpy)-only: PNG pixel decode (inflate + all five
scanline filters, :func:`decode_png`), baseline JPEG pixel decode
(huffman + IDCT, operators/jpeg.py), GIF pixel decode (LZW + palette,
operators/gif.py), per-channel pixel-statistic features over all
three, RIFF/WAVE PCM16 parse + audio stats, and header-level dimension
parsing (:func:`parse_image_dimensions`). The ONE remaining stub,
clearly marked: video FRAME decode (h264/vp9 entropy coding genuinely
needs codec libraries this container lacks) — video rows get the
deterministic crc-fake feature vector and a real frame-sampling plan.
The Spark-side contract is real and tested throughout: schema, Arrow
batch shape, mapInPandas signatures, partition sizing.
"""

from __future__ import annotations

import struct
import zlib
from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),  # opaque bytes
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("checksum", LongType(), True),
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("features", ArrayType(FloatType()), True),
    ]
)


# per-pixel pure-python unfiltering cost cap (samples = w*h*channels);
# 4M ≈ a 1.2MP RGB image ≈ tens of ms. Larger images fall back to the
# marked fake features — a real codec library replaces the cap.
PNG_DECODE_MAX_SAMPLES = 4_000_000
# Real audio tops out at 384 kHz; anything beyond this in a fmt chunk is
# corrupt-or-hostile (a u32 rate > Int32 max would otherwise crash the
# resample_audio result batch rather than NULL the row).
WAV_MAX_SAMPLE_RATE = 1_000_000
# Output-size bound for resample_wav — the audio twin of
# PNG_DECODE_MAX_SAMPLES: a WAV claiming a 1 Hz input rate would
# otherwise demand n_samples*out_rate interpolation temporaries (TB
# scale from a 10 MB payload), OOM-killing the worker instead of
# NULLing the row. ~17 min of 16 kHz audio; bump deliberately if a
# pipeline genuinely resamples longer clips.
WAV_RESAMPLE_MAX_SAMPLES = 16_000_000


def decode_png(payload: bytes) -> tuple[int, int, int, bytearray]:
    """REAL stdlib-only PNG pixel decode → (width, height, channels,
    raw interleaved 8-bit samples). Supports 8-bit greyscale/RGB/RGBA
    (color types 0/2/6), non-interlaced, multi-IDAT, all five scanline
    filters (None/Sub/Up/Average/Paeth, §9 of the PNG spec). Raises
    ValueError on anything else — palette, 16-bit, and Adam7 are rare
    in ML corpora and explicitly out of scope."""
    if payload is None or not payload.startswith(b"\x89PNG\r\n\x1a\n"):
        raise ValueError("not a PNG")
    pos, n = 8, len(payload)
    width = height = None
    channels = 0
    idat = bytearray()
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if typ == b"IHDR":
            width, height, depth, ct, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if interlace != 0:
                raise ValueError("Adam7 interlacing unsupported")
            channels = {0: 1, 2: 3, 6: 4}.get(ct, 0)
            if not channels:
                raise ValueError(f"unsupported color type {ct}")
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if width is None or not idat:
        raise ValueError("missing IHDR or IDAT")
    if width * height * channels > PNG_DECODE_MAX_SAMPLES:
        # per-pixel pure-python unfiltering: a 12MP photo would take
        # minutes in the hot path — callers fall back to the marked
        # fake features (or plug a real codec) above this cap
        raise ValueError(
            f"image exceeds PNG_DECODE_MAX_SAMPLES ({width}x{height}x{channels})"
        )
    stride = width * channels
    expected = height * (stride + 1)
    # bounded inflate: a kB-sized zlib bomb must not materialize GBs
    # before the size check below can reject it
    raw = zlib.decompressobj().decompress(bytes(idat), expected)
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated pixel data")
    out = bytearray(height * stride)
    prev_start = -1
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = bytearray(raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)])
        row_start = y * stride
        if ftype == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif ftype == 2:  # Up
            if prev_start >= 0:
                for i in range(stride):
                    line[i] = (line[i] + out[prev_start + i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = out[prev_start + i] if prev_start >= 0 else 0
                line[i] = (line[i] + ((a + b) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = out[prev_start + i] if prev_start >= 0 else 0
                c = out[prev_start + i - channels] if (prev_start >= 0 and i >= channels) else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        out[row_start : row_start + stride] = line
        prev_start = row_start
    return width, height, channels, out


def _sample_stats(
    width: int, height: int, channels: int, pixels: bytes | bytearray
) -> list[float]:
    """Per-channel pixel statistics over interleaved 8-bit samples:
    [width, height, channels, mean_c0, std_c0, mean_c1, std_c1, ...]
    with means/stds scaled to 0..1. Deterministic — numpy-vectorized so
    the stats pass is C-speed regardless of image size (the decode caps
    bound the pure-python loops, not this)."""
    import numpy as np

    if width * height == 0:
        raise ValueError("degenerate zero-pixel image")
    arr = np.frombuffer(bytes(pixels), dtype=np.uint8).reshape(-1, channels)
    feats = [float(width), float(height), float(channels)]
    means = arr.mean(axis=0)
    stds = arr.std(axis=0)
    for c in range(channels):
        feats.append(float(means[c]) / 255.0)
        feats.append(float(stds[c]) / 255.0)
    return feats


def image_pixel_stats(payload: bytes) -> list[float]:
    """REAL per-channel pixel statistics for any decodable image format
    (PNG via :func:`decode_png`, baseline JPEG via operators/jpeg.py,
    GIF via operators/gif.py)."""
    return _sample_stats(*_decode_image(payload))


def _decode_image(payload: bytes):
    """Pixel decode dispatch — REAL, stdlib(+numpy)-only: PNG (inflate +
    unfilter, :func:`decode_png`), baseline JPEG (huffman + IDCT,
    operators/jpeg.py), and GIF (LZW + palette, operators/gif.py).
    Video FRAME decode is real too for MJPEG-in-MP4 (sample-table
    extraction + the same T.81 kernel — see video_frame_stats); only
    h264/vp9 entropy decoding remains out of reach without codec
    libraries, and those payloads raise here into the fake fallback."""
    if payload is not None and payload.startswith(b"\x89PNG\r\n\x1a\n"):
        return decode_png(payload)
    if payload is not None and payload[:2] == b"\xff\xd8":
        from readability_scanner_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    if payload is not None and payload[:6] in (b"GIF87a", b"GIF89a"):
        from readability_scanner_spark.operators.gif import decode_gif

        return decode_gif(payload)
    raise NotImplementedError(
        "video frame decode requires codec libraries not in this container"
    )


def parse_image_dimensions(payload: Optional[bytes]) -> Optional[tuple[int, int]]:
    """(width, height) from the container header — stdlib-only, real (not
    a stub): PNG IHDR, GIF87a/89a logical screen, JPEG SOFn segment
    scan, WebP (VP8/VP8L/VP8X chunks). None for anything unrecognized,
    truncated, or non-image."""
    if not payload or len(payload) < 10:
        return None
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return _webp_dimensions(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if len(payload) >= 24 and payload[12:16] == b"IHDR":
            w, h = struct.unpack(">II", payload[16:24])
            return (w, h)
        return None
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return (w, h)
    if payload[:2] == b"\xff\xd8":  # JPEG: walk segments to a SOFn frame
        i, n = 2, len(payload)
        while i + 3 < n:
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker == 0xFF:  # fill byte
                i += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD8:  # standalone
                i += 2
                continue
            if i + 4 > n:
                return None
            seg_len = int.from_bytes(payload[i + 2 : i + 4], "big")
            # SOF0..SOF15 carry dimensions, except DHT/JPG/DAC (C4/C8/CC)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 > n:
                    return None
                h = int.from_bytes(payload[i + 5 : i + 7], "big")
                w = int.from_bytes(payload[i + 7 : i + 9], "big")
                return (w, h)
            if marker == 0xDA:  # start of scan — dims must precede it
                return None
            i += 2 + seg_len
        return None
    return None


def _webp_dimensions(payload: bytes) -> Optional[tuple[int, int]]:
    """WebP dims from the first known chunk (RFC 9649 layouts): VP8X
    (extended: 24-bit minus-one), VP8L (lossless: 14-bit packed after
    the 0x2F signature), VP8 (lossy: 14-bit LE after the 3-byte frame
    tag + 0x9D012A sync code)."""
    pos, n = 12, len(payload)
    while pos + 8 <= n:
        typ = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = pos + 8
        # validate against the chunk's DECLARED length too, not just the
        # file bounds: a short chunk followed by more data would
        # otherwise read the next chunk's header as dimension fields
        if typ == b"VP8X" and length >= 10 and body + 10 <= n:
            w = int.from_bytes(payload[body + 4 : body + 7], "little") + 1
            h = int.from_bytes(payload[body + 7 : body + 10], "little") + 1
            return (w, h)
        if typ == b"VP8L" and length >= 5 and body + 5 <= n and payload[body] == 0x2F:
            bits = int.from_bytes(payload[body + 1 : body + 5], "little")
            return ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
        if typ == b"VP8 " and length >= 10 and body + 10 <= n:
            if payload[body + 3 : body + 6] != b"\x9d\x01\x2a":
                return None  # bad sync code: not a valid lossy frame
            w = int.from_bytes(payload[body + 6 : body + 8], "little") & 0x3FFF
            h = int.from_bytes(payload[body + 8 : body + 10], "little") & 0x3FFF
            return (w, h)
        pos = body + length + (length & 1)  # chunks are word-aligned
    return None


def encode_png(width: int, height: int, channels: int, pixels: bytes | bytearray) -> bytes:
    """General lossless PNG writer for 8-bit grey/RGB/RGBA interleaved
    samples (filter type 0 on every scanline, one zlib IDAT) — the
    re-encode half of :func:`resize_image`. Deterministic: zlib level 6
    on identical bytes. Round-trips exactly through decode_png."""
    color_type = {1: 0, 3: 2, 4: 6}.get(channels)
    if color_type is None:
        raise ValueError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer size does not match dimensions")
    if width * height * channels > PNG_DECODE_MAX_SAMPLES:
        # keep the round-trip contract honest: a larger output would
        # encode fine but decode_png would refuse it, silently dropping
        # downstream re-decodes (e.g. feature extraction over resized
        # payloads) to the fallback path
        raise ValueError("output exceeds PNG_DECODE_MAX_SAMPLES; cannot round-trip")

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    stride = width * channels
    raw = b"".join(
        b"\x00" + bytes(pixels[y * stride : (y + 1) * stride]) for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def resize_pixels(
    width: int,
    height: int,
    channels: int,
    pixels: bytes | bytearray,
    out_w: int,
    out_h: int,
):
    """Bilinear resize of interleaved 8-bit samples to (out_w, out_h):
    half-pixel centers (the standard align_corners=False mapping), all
    arithmetic float64 numpy, explicit floor(x+0.5) back to uint8 —
    bit-deterministic across runs/hosts (np.round's banker's rounding
    is avoided on the .5 boundary). Returns (out_w, out_h, channels,
    ndarray[out_h*out_w*channels] uint8)."""
    import numpy as np

    if width <= 0 or height <= 0 or out_w <= 0 or out_h <= 0:
        raise ValueError("degenerate dimensions")
    arr = (
        np.frombuffer(bytes(pixels), dtype=np.uint8)
        .reshape(height, width, channels)
        .astype(np.float64)
    )
    # source coordinate of each output pixel center, clamped to the grid
    sx = (np.arange(out_w, dtype=np.float64) + 0.5) * (width / out_w) - 0.5
    sy = (np.arange(out_h, dtype=np.float64) + 0.5) * (height / out_h) - 0.5
    sx = np.clip(sx, 0.0, width - 1.0)
    sy = np.clip(sy, 0.0, height - 1.0)
    x0 = np.floor(sx).astype(np.int64)
    y0 = np.floor(sy).astype(np.int64)
    x1 = np.minimum(x0 + 1, width - 1)
    y1 = np.minimum(y0 + 1, height - 1)
    fx = (sx - x0)[None, :, None]
    fy = (sy - y0)[:, None, None]
    r0 = arr[y0]  # gather each source-row selection once; arr[y0][:, x0]
    r1 = arr[y1]  # twice would re-materialize the (out_h, W, C) copy
    top = r0[:, x0] * (1.0 - fx) + r0[:, x1] * fx
    bot = r1[:, x0] * (1.0 - fx) + r1[:, x1] * fx
    out = top * (1.0 - fy) + bot * fy
    out8 = np.floor(out + 0.5).clip(0, 255).astype(np.uint8)
    return out_w, out_h, channels, out8.reshape(-1)


def resize_image(payload: bytes, out_w: int, out_h: int) -> bytes:
    """Decode any supported image (PNG/baseline-JPEG/GIF via the
    in-repo kernels), bilinear-resize, re-encode as lossless PNG. The
    decode→transform→encode round trip is fully real — no codec libs."""
    w, h, c, px = _decode_image(payload)
    rw, rh, rc, rpx = resize_pixels(w, h, c, px, out_w, out_h)
    return encode_png(rw, rh, rc, rpx.tobytes())


def resize_images(
    media: DataFrame, out_w: int, out_h: int
) -> DataFrame:
    """Thumbnail/normalization pass over binary image payloads — the
    resize step of a multimodal training pipeline (every vision model
    wants a fixed input size). mapInPandas like extract_media_features:
    the payload crosses Arrow once, decode+resize+re-encode happen in
    one python task, undecodable rows yield NULL output (never
    task-fatal). Output: media_id, width, height (originals), resized
    (PNG bytes or NULL), resized_bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, outs = [], [], []
            for p in pdf["payload"]:
                try:
                    w, h, c, px = _decode_image(p)
                    rw, rh, rc, rpx = resize_pixels(w, h, c, px, out_w, out_h)
                    outs.append(encode_png(rw, rh, rc, rpx.tobytes()))
                    ws.append(w)
                    hs.append(h)
                except Exception:
                    outs.append(None)
                    ws.append(None)
                    hs.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.array(ws, dtype="Int32"),
                    "height": pd.array(hs, dtype="Int32"),
                    "resized": outs,
                    "resized_bytes": pd.array(
                        [len(o) if o is not None else 0 for o in outs], dtype="int64"
                    ),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run,
        schema="media_id long, width int, height int, "
        "resized binary, resized_bytes long",
    )


def make_png(width: int, height: int, seed: int = 0) -> bytes:
    """A structurally complete deterministic RGB PNG — gives the
    synthetic media table REAL image payloads so the dimension parser is
    exercised end to end. Pixel formula + :func:`encode_png` (the single
    PNG writer; same filter-0/zlib-6 layout as before the refactor)."""
    pixels = b"".join(
        bytes((seed + y * 31 + x) % 256 for x in range(3 * width))
        for y in range(height)
    )
    return encode_png(width, height, 3, pixels)


def _wav_container(sample_rate: int, channels: int, frames: bytes) -> bytes:
    """Canonical RIFF/WAVE PCM16 container around raw frame bytes — the
    single writer shared by :func:`make_wav` and :func:`resample_wav`
    so their layouts can never desynchronize."""
    byte_rate = sample_rate * channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, sample_rate, byte_rate, channels * 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(frames)) + frames
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_wav(n_samples: int, sample_rate: int = 8000, channels: int = 1, seed: int = 0) -> bytes:
    """REAL RIFF/WAVE PCM16 writer (stdlib struct only): canonical
    fmt + data chunk layout, deterministic sample formula — gives the
    synthetic media table genuine audio payloads so the WAV parser and
    stats kernel are exercised end to end."""
    frames = bytearray()
    for j in range(n_samples * channels):
        v = ((seed * 31 + j * 2654435761) % 65536) - 32768
        frames += struct.pack("<h", v)
    return _wav_container(sample_rate, channels, bytes(frames))


def _parse_wav(payload: Optional[bytes]) -> Optional[tuple[int, int, int, int]]:
    """(sample_rate, channels, n_samples, data_offset) or None. Walks
    the chunk list (tolerating extra chunks like LIST/fact before
    data, word-aligned per RIFF); PCM16 only — compressed codecs need
    libraries this container lacks."""
    if payload is None or len(payload) < 44:
        return None
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos, n = 12, len(payload)
    sample_rate = channels = None
    data_len = data_off = None
    while pos + 8 <= n:
        typ = payload[pos : pos + 4]
        (length,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if typ == b"fmt " and length >= 16 and pos + 24 <= n:
            fmt_code, channels, sample_rate, _br, _ba, bits = struct.unpack(
                "<HHIIHH", payload[pos + 8 : pos + 24]
            )
            if fmt_code != 1 or bits != 16:
                return None  # non-PCM16: honestly out of stdlib scope
            if not 0 < sample_rate <= WAV_MAX_SAMPLE_RATE:
                # the u32 field can claim rates far beyond any real
                # codec (incl. > Int32 max, which would crash the
                # resample_audio result batch instead of NULLing the
                # row) — treat as unparseable
                return None
        elif typ == b"data" and data_off is None:
            # FIRST data chunk wins (the spec allows exactly one);
            # last-wins would let chunk-shaped trailing garbage silently
            # replace the real audio with wrong-but-plausible stats
            data_len = min(length, n - pos - 8)
            data_off = pos + 8
        pos += 8 + length + (length & 1)  # chunks are word-aligned
    if not (sample_rate and channels) or data_len is None:
        return None
    return sample_rate, channels, data_len // (channels * 2), data_off


def parse_wav_info(payload: Optional[bytes]) -> Optional[tuple[int, int, int, int]]:
    """REAL RIFF/WAVE header parse → (sample_rate, channels, n_samples,
    duration_ms), or None for non-WAV/undecodable bytes."""
    parsed = _parse_wav(payload)
    if parsed is None:
        return None
    sample_rate, channels, n_samples, _off = parsed
    return sample_rate, channels, n_samples, (n_samples * 1000) // sample_rate


def wav_audio_stats(payload: bytes) -> list[float]:
    """REAL audio statistics from the PCM16 frames:
    [sample_rate, channels, n_samples, rms, peak] with rms/peak scaled
    to 0..1 (numpy-vectorized over the raw frames)."""
    import numpy as np

    parsed = _parse_wav(payload)
    if parsed is None:
        raise ValueError("not a PCM16 WAV")
    sample_rate, channels, n_samples, data_off = parsed
    if n_samples == 0:
        raise ValueError("empty WAV")
    frames = np.frombuffer(
        payload, dtype="<i2", count=n_samples * channels, offset=data_off
    ).astype(np.float64)
    rms = float(np.sqrt(np.mean(frames**2))) / 32768.0
    peak = float(np.max(np.abs(frames))) / 32768.0
    return [float(sample_rate), float(channels), float(n_samples), rms, peak]


def resample_wav(
    payload: bytes,
    out_rate: int,
    parsed: Optional[tuple[int, int, int, int]] = None,
) -> bytes:
    """Linear-interpolation resample of a PCM16 WAV to ``out_rate`` —
    the audio twin of :func:`resize_image` (every speech model wants a
    fixed sample rate, usually 16 kHz). Same determinism contract:
    half-sample centers, float64 arithmetic, explicit floor(x+0.5) back
    to int16; re-encoded through the shared :func:`_wav_container`
    layout. Raises on non-PCM16 input or an output exceeding
    WAV_RESAMPLE_MAX_SAMPLES (callers wrap like resize_images does).
    ``parsed`` accepts a _parse_wav result the caller already computed,
    avoiding a second header walk per row."""
    import numpy as np

    if parsed is None:
        parsed = _parse_wav(payload)
    if parsed is None:
        raise ValueError("not a PCM16 WAV")
    in_rate, channels, n_samples, data_off = parsed
    if n_samples == 0 or out_rate <= 0:
        raise ValueError("degenerate WAV or rate")
    out_n = max(int(n_samples * out_rate // in_rate), 1)
    if out_n > WAV_RESAMPLE_MAX_SAMPLES:
        raise ValueError(
            f"resample output {out_n} samples exceeds WAV_RESAMPLE_MAX_SAMPLES"
        )
    frames = (
        np.frombuffer(payload, dtype="<i2", count=n_samples * channels, offset=data_off)
        .reshape(n_samples, channels)
        .astype(np.float64)
    )
    # source position of each output sample center, clamped to the grid
    pos = (np.arange(out_n, dtype=np.float64) + 0.5) * (n_samples / out_n) - 0.5
    pos = np.clip(pos, 0.0, n_samples - 1.0)
    i0 = np.floor(pos).astype(np.int64)
    i1 = np.minimum(i0 + 1, n_samples - 1)
    frac = (pos - i0)[:, None]
    out = frames[i0] * (1.0 - frac) + frames[i1] * frac
    out16 = np.floor(out + 0.5).clip(-32768, 32767).astype("<i2")
    return _wav_container(out_rate, channels, out16.tobytes())


def resample_audio(media: DataFrame, out_rate: int) -> DataFrame:
    """Sample-rate normalization over binary WAV payloads, mapInPandas
    like resize_images: one Arrow crossing, undecodable/non-PCM16 rows
    yield NULL (never task-fatal). Output: media_id, in_rate,
    n_samples (originals), resampled (WAV bytes or NULL),
    resampled_bytes."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rates, counts, outs = [], [], []
            for p in pdf["payload"]:
                try:
                    info = _parse_wav(p)
                    if info is None:
                        raise ValueError("not a PCM16 WAV")
                    outs.append(resample_wav(p, out_rate, parsed=info))
                    rates.append(info[0])
                    counts.append(info[2])
                except Exception:
                    outs.append(None)
                    rates.append(None)
                    counts.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "in_rate": pd.array(rates, dtype="Int32"),
                    "n_samples": pd.array(counts, dtype="Int64"),
                    "resampled": outs,
                    "resampled_bytes": pd.array(
                        [len(o) if o is not None else 0 for o in outs], dtype="int64"
                    ),
                }
            )

    return media.select("media_id", "payload").mapInPandas(
        run,
        schema="media_id long, in_rate int, n_samples long, "
        "resampled binary, resampled_bytes long",
    )


def _fake_features(payload: bytes, dim: int = 16) -> list[float]:
    """Deterministic fake feature vector (crc-seeded), standing in for a
    real encoder. Marked fake: values carry no semantics, but determinism
    lets the distributed plumbing be tested end to end."""
    if payload is None:
        return [0.0] * dim
    crc = zlib.crc32(payload)
    return [((crc >> (i % 32)) & 0xFF) / 255.0 for i in range(dim)]


def video_frame_stats(payload: bytes, max_frames: int = 8) -> list[float]:
    """REAL per-frame pixel statistics for MJPEG-in-MP4 video: extract
    the sample-table-referenced JPEG frames (operators/mp4.py) and
    decode each with the in-repo T.81 codec — no codec libraries.
    Features: [width, height, channels, n_frames_decoded, then per
    channel (mean of per-frame means, mean of per-frame stds)] scaled
    0..1 — same leading layout as _sample_stats plus the frame count.
    Raises for non-MJPEG video (h264/vp9 entropy decode genuinely needs
    absent codec libs; those rows fall back to the marked fake)."""
    import numpy as np

    from readability_scanner_spark.operators.jpeg import decode_jpeg
    from readability_scanner_spark.operators.mp4 import extract_mjpeg_samples

    samples = extract_mjpeg_samples(payload, max_frames=max_frames)
    if not samples:
        raise ValueError("not an MJPEG-in-MP4 payload (codec libs absent for h264/vp9)")
    means, stds = [], []
    width = height = channels = None
    for sample in samples:
        w, h, c, px = decode_jpeg(sample)
        if width is None:
            width, height, channels = w, h, c
        elif (w, h, c) != (width, height, channels):
            raise ValueError("frame geometry changed mid-stream")
        arr = np.frombuffer(bytes(px), dtype=np.uint8).reshape(-1, c)
        means.append(arr.mean(axis=0))
        stds.append(arr.std(axis=0))
    feats = [float(width), float(height), float(channels), float(len(samples))]
    mean_of_means = np.vstack(means).mean(axis=0)
    mean_of_stds = np.vstack(stds).mean(axis=0)
    for c in range(channels):
        feats.append(float(mean_of_means[c]) / 255.0)
        feats.append(float(mean_of_stds[c]) / 255.0)
    return feats


def _features_dispatch(payload: Optional[bytes]) -> list[float]:
    # never task-fatal: truncated IHDRs raise struct.error, corrupt
    # IDATs raise zlib.error, degenerate dims ZeroDivisionError — any
    # undecodable payload falls back to the marked fake, matching the
    # extraction pipeline's row-never-throws policy
    try:
        if payload is not None and payload[:4] == b"RIFF":
            return wav_audio_stats(payload)
        if payload is not None and len(payload) >= 12 and payload[4:8] == b"ftyp":
            return video_frame_stats(payload)
        return image_pixel_stats(payload)
    except Exception:
        return _fake_features(payload)


def parse_media_dimensions(payload: Optional[bytes]) -> Optional[tuple[int, int]]:
    """(width, height) from any recognized container header: image
    formats via parse_image_dimensions, MP4 video via the tkhd box —
    all REAL stdlib parses, None for unrecognized bytes."""
    dims = parse_image_dimensions(payload)
    if dims is not None:
        return dims
    if payload is not None and len(payload) >= 12 and payload[4:8] == b"ftyp":
        from readability_scanner_spark.operators.mp4 import parse_mp4_info

        info = parse_mp4_info(payload)
        if info is not None and info[0] and info[1]:
            return (info[0], info[1])
    return None


def extract_media_features(media: DataFrame, batch_limit_bytes: int = 64 << 20) -> DataFrame:
    """mapInPandas feature extraction over binary payloads. Arrow moves
    the bytes in bounded batches; at scale, repartition by media_id so
    each task holds ~batch_limit_bytes of payloads."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [parse_media_dimensions(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "checksum": [
                        zlib.crc32(p) if p is not None else 0 for p in pdf["payload"]
                    ],
                    "width": pd.array(
                        [d[0] if d else None for d in dims], dtype="Int32"
                    ),
                    "height": pd.array(
                        [d[1] if d else None for d in dims], dtype="Int32"
                    ),
                    # REAL pixel statistics for PNG payloads; the
                    # crc-seeded fake only for formats whose pixel
                    # decode needs absent codec libs
                    "features": [_features_dispatch(p) for p in pdf["payload"]],
                }
            )

    return media.select("media_id", "payload").mapInPandas(run, schema=FEATURE_SCHEMA)


def sampled_frame_stats(media: DataFrame, every_ms: int = 1000, max_frames: int = 32) -> DataFrame:
    """REAL downstream of the sample_frames plan: per sampled timestamp,
    decode the nearest MJPEG frame and emit its luma statistics. The
    payload crosses Arrow ONCE per media row (frames are extracted and
    decoded inside the same task, then exploded from python — never a
    JVM explode that would duplicate the binary per frame). Non-MJPEG
    video rows yield no frames (the honest h264/vp9 gap)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from readability_scanner_spark.operators.jpeg import decode_jpeg
        from readability_scanner_spark.operators.mp4 import extract_mjpeg_samples

        for pdf in batches:
            ids, idxs, tss, ws, hs, lumas = [], [], [], [], [], []
            for media_id, payload, duration in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                samples = extract_mjpeg_samples(payload, max_frames=max_frames)
                if not samples or not duration or duration <= 0:
                    continue
                n_ts = max(int(duration) // every_ms, 1)
                decoded: dict[int, tuple] = {}
                for k in range(n_ts):
                    ts = k * every_ms
                    # uniform frame spacing: nearest stored frame to ts
                    fi = min(
                        int(round(ts * len(samples) / int(duration))),
                        len(samples) - 1,
                    )
                    if fi not in decoded:
                        try:
                            decoded[fi] = decode_jpeg(samples[fi])
                        except Exception:
                            continue  # hostile frame: skip, never fatal
                    w, h, c, px = decoded[fi]
                    arr = np.frombuffer(bytes(px), dtype=np.uint8)
                    ids.append(media_id)
                    idxs.append(fi)
                    tss.append(ts)
                    ws.append(w)
                    hs.append(h)
                    lumas.append(float(arr.mean()) / 255.0)
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_idx": pd.array(idxs, dtype="int32"),
                    "frame_ts_ms": pd.array(tss, dtype="int64"),
                    "width": pd.array(ws, dtype="int32"),
                    "height": pd.array(hs, dtype="int32"),
                    "mean_luma": pd.array(lumas, dtype="float64"),
                }
            )

    return (
        media.where(F.col("kind") == "video")
        .select("media_id", "payload", "duration_ms")
        .mapInPandas(
            run,
            schema="media_id long, frame_idx int, frame_ts_ms long, "
            "width int, height int, mean_luma double",
        )
    )


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video rows: expands each video into frame
    timestamps JVM-side. sampled_frame_stats is the decoding twin (it
    keeps the binary payload on the python side instead of exploding
    it); this plan form remains for sinks that only need the schedule."""
    n_frames = F.greatest((F.col("duration_ms") / every_ms).cast("int"), F.lit(1))
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx"),
        )
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    )


def synthetic_media_row(i: int, seed: int = 42):
    """One deterministic synthetic media row: (kind, payload, width,
    height). Image rows cycle REAL PNG, baseline-JPEG, and GIF bytes
    (dimensions derived from i), audio rows carry REAL PCM16 WAV bytes,
    and video rows carry structurally REAL MP4 containers (header
    metadata parses for real; frame decode stays the marked stub).
    Shared by the table generator and the driver oracle so both
    recompute the same bytes."""
    kind = ("image", "audio", "video")[i % 3]
    if kind == "image":
        w, h = 16 + (i % 23), 16 + ((i * 3) % 17)
        fmt = (i // 3) % 3  # cycle all three real image codecs
        if fmt == 1:
            from readability_scanner_spark.operators.jpeg import make_jpeg

            return kind, make_jpeg(w, h, seed=seed + i), w, h
        if fmt == 2:
            from readability_scanner_spark.operators.gif import make_gif

            return kind, make_gif(w, h, seed=seed + i), w, h
        return kind, make_png(w, h, seed=seed + i), w, h
    if kind == "video":
        # REAL MJPEG-in-MP4: sample-table-referenced baseline-JPEG
        # frames, decoded end to end by the in-repo T.81 codec (small
        # dims keep the pure-python huffman decode cheap per row)
        from readability_scanner_spark.operators.mp4 import make_mjpeg_mp4

        w, h = 32 + (i % 5) * 8, 24 + (i % 3) * 8
        return kind, make_mjpeg_mp4(w, h, 2 + (i % 4), fps=4, seed=seed + i), w, h
    # audio: dimensions are meaningless -> None/None
    return kind, make_wav(50 + (i % 200), 8000, 1 + (i % 2), seed=seed + i), None, None


def synthetic_media_df(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic synthetic media table for tests."""
    rows = []
    for i in range(n):
        kind, payload, w, h = synthetic_media_row(i, seed)
        if kind == "audio":
            duration = parse_wav_info(payload)[3]  # REAL, from the bytes
        elif kind == "video":
            from readability_scanner_spark.operators.mp4 import parse_mp4_info

            duration = parse_mp4_info(payload)[2]  # REAL, from the bytes
        else:
            duration = None
        if kind == "image":
            if payload[:2] == b"\xff\xd8":
                mime = "image/jpeg"
            elif payload[:3] == b"GIF":
                mime = "image/gif"
            else:
                mime = "image/png"
        else:
            mime = {"audio": "audio/wav", "video": "video/mp4"}[kind]
        rows.append(
            (
                i,
                kind,
                mime,
                payload,
                w,
                h,
                duration,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
