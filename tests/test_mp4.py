"""MP4/ISO-BMFF container parse tests (operators/mp4.py) — writer →
box-walk parser roundtrip, version-1 boxes, hostile payloads, and the
multimodal dimension dispatch. Frame decode is out of scope by design
(the one remaining honest codec stub)."""

import hashlib
import struct

import pytest

from readability_scanner_spark.operators import multimodal
from readability_scanner_spark.operators.mp4 import make_mp4, parse_mp4_info


@pytest.mark.parametrize(
    "w,h,dur", [(640, 360, 5500), (160, 120, 1000), (1920, 1080, 3_600_000)]
)
def test_roundtrip(w, h, dur):
    assert parse_mp4_info(make_mp4(w, h, dur, seed=3)) == (w, h, dur)


def test_deterministic():
    assert make_mp4(320, 240, 2000, seed=1) == make_mp4(320, 240, 2000, seed=1)
    assert make_mp4(320, 240, 2000, seed=1) != make_mp4(320, 240, 2000, seed=2)
    # byte-for-byte pin: the writer's boxes must not drift
    assert hashlib.sha256(make_mp4(320, 240, 2000, seed=1)).hexdigest() == (
        "da1c9283603ec64081817a2701bfa9808aaaac4bf50df975b06b1d3da1fcbe4d"
    )


def test_version1_mvhd_parses():
    """Hand-build a v1 mvhd (64-bit times, 8-byte duration) — real
    encoders emit these for long recordings."""
    mvhd_v1 = struct.pack(">B3x", 1) + struct.pack(
        ">QQIQ", 0, 0, 90000, 90000 * 42
    )
    box = struct.pack(">I", len(mvhd_v1) + 8) + b"mvhd" + mvhd_v1
    moov = struct.pack(">I", len(box) + 8) + b"moov" + box
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    info = parse_mp4_info(ftyp + moov)
    assert info == (0, 0, 42_000)


def test_hostile_payloads():
    good = make_mp4(320, 240, 2000)
    assert parse_mp4_info(None) is None
    assert parse_mp4_info(b"\x00" * 30) is None  # no ftyp
    assert parse_mp4_info(good[:40]) is None  # truncated before moov
    # box claiming a size past EOF: walk stops, no exception/loop
    trunc = bytearray(good)
    moov_at = trunc.find(b"moov") - 4
    trunc[moov_at : moov_at + 4] = struct.pack(">I", 1 << 30)
    assert parse_mp4_info(bytes(trunc)) is None
    # size-0 box (extends to EOF) must not loop forever
    zero = bytearray(good)
    zero[moov_at : moov_at + 4] = struct.pack(">I", 0)
    parse_mp4_info(bytes(zero))  # returns something or None, terminates


def test_media_dimension_dispatch_and_duration():
    payload = make_mp4(224, 168, 7000, seed=5)
    assert multimodal.parse_media_dimensions(payload) == (224, 168)
    # image headers still win through the same dispatch
    png = multimodal.make_png(9, 4, seed=1)
    assert multimodal.parse_media_dimensions(png) == (9, 4)
    assert multimodal.parse_media_dimensions(b"junk" * 10) is None
    # synthetic video rows: REAL MJPEG container, REAL parsed duration
    kind, p, w, h = multimodal.synthetic_media_row(5)  # 5 % 3 == 2 -> video
    assert kind == "video"
    pw, ph, pdur = parse_mp4_info(p)
    assert (pw, ph) == (w, h)
    assert pdur == (2 + 5 % 4) * 1000 // 4  # n_frames / fps=4


def test_video_features_are_real_mjpeg_decode():
    """Synthetic video rows decode for REAL: sample-table extraction +
    per-frame T.81 decode. Layout: [w, h, ch, n_frames, then per-channel
    (mean, std)] — and the means must equal a direct per-frame numpy
    recompute of the extracted JPEG samples."""
    import numpy as np

    from readability_scanner_spark.operators.jpeg import decode_jpeg
    from readability_scanner_spark.operators.mp4 import extract_mjpeg_samples

    kind, p, w, h = multimodal.synthetic_media_row(5)
    feats = multimodal._features_dispatch(p)
    assert feats != multimodal._fake_features(p)
    samples = extract_mjpeg_samples(p)
    assert feats[:4] == [float(w), float(h), 3.0, float(len(samples))]
    means = np.vstack(
        [
            np.frombuffer(bytes(decode_jpeg(s)[3]), dtype=np.uint8)
            .reshape(-1, 3)
            .mean(axis=0)
            for s in samples
        ]
    ).mean(axis=0)
    assert feats[4] == pytest.approx(float(means[0]) / 255.0)
    assert feats[6] == pytest.approx(float(means[1]) / 255.0)


def test_non_mjpeg_video_still_falls_back_fake():
    """h264/vp9 territory stays the honest gap: a frame-less plain MP4
    (no 'jpeg' sample entry) falls back to the marked crc-fake vector,
    and a truncated-mdat MJPEG decodes only its surviving frames."""
    plain = make_mp4(224, 168, 7000, seed=5)
    assert multimodal._features_dispatch(plain) == multimodal._fake_features(plain)
    with pytest.raises(NotImplementedError):
        multimodal._decode_image(plain)

    from readability_scanner_spark.operators.mp4 import (
        extract_mjpeg_samples,
        make_mjpeg_mp4,
    )

    full = make_mjpeg_mp4(32, 24, 4, fps=4, seed=9)
    frames = extract_mjpeg_samples(full)
    assert len(frames) == 4
    cut = full[: len(full) - len(frames[-1]) - 3]  # kill frame 4 (+3 bytes of 3)
    feats = multimodal._features_dispatch(cut)
    assert feats[3] == 2.0  # frames 1-2 survive, decode stays real
    assert feats != multimodal._fake_features(cut)


def test_truncated_tkhd_and_largesize_do_not_throw():
    """Hostile container shapes stay row-safe: a bare 8-byte tkhd at
    EOF (no version byte) is skipped, and a 64-bit largesize smaller
    than its own header terminates the walk instead of inverting the
    payload range."""
    # ftyp + moov(trak(tkhd[empty]))
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    tkhd = struct.pack(">I", 8) + b"tkhd"  # no payload at all
    trak = struct.pack(">I", len(tkhd) + 8) + b"trak" + tkhd
    moov = struct.pack(">I", len(trak) + 8) + b"moov" + trak
    assert parse_mp4_info(ftyp + moov) is None  # skipped, not IndexError
    from readability_scanner_spark.operators import multimodal as _mm

    assert _mm.parse_media_dimensions(ftyp + moov) is None
    # largesize claiming 12 (< its own 16-byte header)
    bad = struct.pack(">I", 1) + b"mvhd" + struct.pack(">Q", 12) + b"\x00" * 24
    assert parse_mp4_info(ftyp + bad) is None


def test_compact_pipeline_output_preserves_meta_and_buckets(spark, tmp_path):
    """compact_parquet must REFUSE bucketed/checkpointed layouts (the
    flat rewrite would flatten bucket=K/ and delete _meta), and
    compact_pipeline_output compacts per bucket, keeping both."""
    import os

    from readability_scanner_spark.operators.io_ops import (
        compact_parquet,
        compact_pipeline_output,
        table_file_stats,
    )

    root = str(tmp_path / "out")
    for k in (0, 1):
        spark.range(k * 100, k * 100 + 100).repartition(6).write.parquet(
            f"{root}/bucket={k}"
        )
    os.makedirs(f"{root}/_meta")
    with open(f"{root}/_meta/bucket-0.json", "w") as fh:
        fh.write("{}")
    with pytest.raises(ValueError, match="refuses partitioned"):
        compact_parquet(spark, root)
    stats = compact_pipeline_output(spark, root, target_file_bytes=128 << 20)
    assert stats["buckets"] == 2
    assert stats["files_before"] == 12 and stats["files_after"] == 2
    assert os.path.exists(f"{root}/_meta/bucket-0.json")  # survived
    assert table_file_stats(f"{root}/bucket=0")["files"] == 1
    rows = sorted(
        r.id for r in spark.read.option("basePath", root).parquet(f"{root}/bucket=*").collect()
    )
    assert rows == list(range(0, 200))


def test_tkhd_version1_parses():
    """v1 tkhd widens the three time fields to 64-bit; the width/height
    offset math must track it (real muxers emit v1 for long tracks)."""
    tkhd_v1 = (
        struct.pack(">B3B", 1, 0, 0, 7)
        + struct.pack(">QQIxxxxQ", 0, 0, 1, 7000)  # ctime mtime id rsvd dur
        + struct.pack(">8x hh h 2x", 0, 0, 0)
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", 800 << 16, 600 << 16)
    )
    tkhd = struct.pack(">I", len(tkhd_v1) + 8) + b"tkhd" + tkhd_v1
    trak = struct.pack(">I", len(tkhd) + 8) + b"trak" + tkhd
    moov = struct.pack(">I", len(trak) + 8) + b"moov" + trak
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"isom" + struct.pack(">I", 0)
    assert parse_mp4_info(ftyp + moov) == (800, 600, 0)
