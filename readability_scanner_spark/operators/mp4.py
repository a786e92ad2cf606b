"""MP4/ISO-BMFF container header parse + minimal writer — pure stdlib.

Shrinks the video stub to its honest core: FRAME decode still needs
codec libraries (h264/vp9 entropy coding), but the CONTAINER metadata —
duration from `mvhd`, track dimensions from `tkhd` — is a plain box
walk (ISO/IEC 14496-12), the same stdlib-parser pattern as PNG/WAV/GIF.
The writer emits a minimal-but-valid `ftyp`+`moov(mvhd+trak(tkhd))`+
`mdat` file so the parser is exercised end to end and synthetic video
rows carry structurally real payloads.
"""

from __future__ import annotations

import struct
from typing import Optional

# boxes whose payload is more boxes (walked recursively down to the
# sample table, so stsd/stsz/stsc/stco are reachable for MJPEG extract)
_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


def _walk(data: bytes, start: int, end: int, depth: int = 0):
    """Yield (box_type, payload_start, payload_end) for the box list in
    data[start:end]; recurses into container boxes. Depth-capped and
    bounds-checked — truncated/hostile sizes terminate, never loop."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        typ = data[pos + 4 : pos + 8]
        body = pos + 8
        header = 8
        if size == 1:  # 64-bit largesize
            if body + 8 > end:
                return
            (size,) = struct.unpack(">Q", data[body : body + 8])
            body += 8
            header = 16
        elif size == 0:  # box extends to end of file
            size = end - pos
        if size < header or pos + size > end:
            # malformed size (incl. a largesize smaller than its own
            # 16-byte header, which would invert the payload range):
            # stop walking, parse what we had
            return
        yield typ, body, pos + size
        if typ in _CONTAINERS and depth < 8:
            yield from _walk(data, body, pos + size, depth + 1)
        pos += size


def parse_mp4_info(payload: Optional[bytes]) -> Optional[tuple[int, int, int]]:
    """(width, height, duration_ms) from the container header, or None
    for non-MP4/undecodable bytes. Width/height come from the first
    `tkhd` with non-zero dimensions (16.16 fixed point); duration from
    `mvhd` (movie timescale units)."""
    if payload is None or len(payload) < 12 or payload[4:8] != b"ftyp":
        return None
    duration_ms = None
    width = height = None
    for typ, b0, b1 in _walk(payload, 0, len(payload)):
        if typ == b"mvhd" and b1 - b0 >= 24 and duration_ms is None:
            version = payload[b0]
            if version == 1:
                if b1 - b0 < 32:
                    continue
                timescale, duration = struct.unpack(">IQ", payload[b0 + 20 : b0 + 32])
            else:
                timescale, duration = struct.unpack(">II", payload[b0 + 12 : b0 + 20])
            if timescale:
                duration_ms = duration * 1000 // timescale
        elif typ == b"tkhd" and width is None:
            if b1 - b0 < 4:  # truncated box: version byte itself missing
                continue  # (row-never-throws: skip, don't IndexError)
            version = payload[b0]
            # fixed header up to the 36-byte matrix: v0 = 4+4+4+4+4(dur)
            # +8+2+2+2+2 = 36 after the version/flags word; v1 widens the
            # three time fields by 4 each
            off = b0 + 4 + (32 if version == 1 else 20) + 8 + 2 + 2 + 2 + 2 + 36
            if off + 8 <= b1:
                w_fx, h_fx = struct.unpack(">II", payload[off : off + 8])
                if w_fx and h_fx:
                    width, height = w_fx >> 16, h_fx >> 16
    if duration_ms is None and width is None:
        return None
    return (width or 0, height or 0, duration_ms or 0)


def extract_mjpeg_samples(payload: Optional[bytes], max_frames: Optional[int] = None):
    """Per-frame JPEG byte slices from an MJPEG-in-MP4 file, or None if
    the container isn't MP4 or its first sample entry isn't the 'jpeg'
    coding (h264/vp9 etc. — those genuinely need codec libs and stay
    the documented fallback path). Reconstructs sample file offsets from
    the real stsd/stsz/stsc/stco tables (ISO/IEC 14496-12 §8.5-8.7);
    truncated tables or samples that point past EOF yield only the
    frames that fully fit — hostile bytes never raise."""
    if payload is None or len(payload) < 12 or payload[4:8] != b"ftyp":
        return None
    stsd = stsz = stsc = stco = None
    for typ, b0, b1 in _walk(payload, 0, len(payload)):
        if typ == b"stsd" and stsd is None:
            stsd = (b0, b1)
        elif typ == b"stsz" and stsz is None:
            stsz = (b0, b1)
        elif typ == b"stsc" and stsc is None:
            stsc = (b0, b1)
        elif typ == b"stco" and stco is None:
            stco = (b0, b1)
    if not (stsd and stsz and stsc and stco):
        return None
    b0, b1 = stsd  # ver/flags(4) entry_count(4) then entries(size+4cc+...)
    if b1 - b0 < 16 or payload[b0 + 12 : b0 + 16] != b"jpeg":
        return None

    def _u32s(span, skip, count_at):
        s0, s1 = span
        if s1 - s0 < count_at + 4:
            return None
        (count,) = struct.unpack(">I", payload[s0 + count_at : s0 + count_at + 4])
        vals = []
        pos = s0 + skip
        for _ in range(count):
            if pos + 4 > s1:
                break  # truncated table: keep what fits
            vals.append(struct.unpack(">I", payload[pos : pos + 4])[0])
            pos += 4
        return vals

    # stsz: ver/flags, sample_size, sample_count[, sizes]
    if stsz[1] - stsz[0] < 12:
        return None
    uniform, n_samples = struct.unpack(">II", payload[stsz[0] + 4 : stsz[0] + 12])
    if n_samples == 0 or n_samples > 1_000_000:
        return None
    sizes = [uniform] * n_samples if uniform else (_u32s(stsz, 12, 8) or [])
    offsets = _u32s(stco, 8, 4) or []
    # stsc entries are (first_chunk, samples_per_chunk, desc_idx) triples
    s0, s1 = stsc
    entries = []
    if s1 - s0 >= 8:
        (n_ent,) = struct.unpack(">I", payload[s0 + 4 : s0 + 8])
        pos = s0 + 8
        for _ in range(n_ent):
            if pos + 12 > s1:
                break
            entries.append(struct.unpack(">III", payload[pos : pos + 12]))
            pos += 12
    if not (sizes and offsets and entries):
        return None
    # walk chunks, mapping each sample to its absolute file offset
    frames = []
    sample = 0
    for ci, chunk_off in enumerate(offsets):
        per_chunk = 1
        for first, spc, _desc in entries:
            if ci + 1 >= first:
                per_chunk = spc
        off = chunk_off
        for _ in range(per_chunk):
            if sample >= len(sizes):
                break
            size = sizes[sample]
            if off + size > len(payload):
                return frames or None  # truncated mdat: partial decode
            frames.append(payload[off : off + size])
            off += size
            sample += 1
            if max_frames is not None and len(frames) >= max_frames:
                return frames
    return frames or None


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", len(payload) + 8) + typ + payload


def _mvhd_tkhd(width: int, height: int, duration_ms: int) -> tuple[bytes, bytes]:
    """The version-0 ``mvhd`` and one-track ``tkhd`` boxes every writer
    here emits. Timescale 1000 so duration_ms is exact."""
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0)  # version 0
        + struct.pack(">IIII", 0, 0, 1000, duration_ms)  # ctime mtime ts dur
        + struct.pack(">IH2x8x", 0x00010000, 0x0100)  # rate, volume
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0)  # pre_defined
        + struct.pack(">I", 2),  # next_track_id
    )
    tkhd = _box(
        b"tkhd",
        struct.pack(">B3B", 0, 0, 0, 7)  # version 0, flags: enabled
        + struct.pack(">IIIII", 0, 0, 1, 0, duration_ms)  # times, id, dur
        + struct.pack(">8x hh h 2x", 0, 0, 0)  # layer, alt_group, volume
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    return mvhd, tkhd


def make_mp4(width: int, height: int, duration_ms: int, seed: int = 0) -> bytes:
    """Minimal valid MP4: ftyp + moov(mvhd + trak(tkhd)) + mdat with
    deterministic filler bytes."""
    if width <= 0 or height <= 0 or duration_ms < 0:
        raise ValueError("degenerate video parameters")
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mvhd, tkhd = _mvhd_tkhd(width, height, duration_ms)
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd))
    filler = bytes((seed * 31 + j * 7) % 256 for j in range(64))
    return ftyp + moov + _box(b"mdat", filler)


def make_mjpeg_mp4(
    width: int, height: int, n_frames: int, fps: int = 4, seed: int = 0
) -> bytes:
    """MJPEG-in-MP4 with a REAL sample table: each frame is a baseline
    JPEG from operators/jpeg.py referenced through stsd('jpeg') + stts/
    stsc/stsz/stco, so extract_mjpeg_samples → decode_jpeg gives
    genuinely decoded pixels end to end with no codec libraries. One
    chunk holds all samples; stco carries the absolute mdat offset
    (computed by sizing moov first — all box sizes are offset-free)."""
    from readability_scanner_spark.operators.jpeg import make_jpeg

    if n_frames <= 0 or fps <= 0:
        raise ValueError("degenerate video parameters")
    frames = [make_jpeg(width, height, seed=seed + 97 * k) for k in range(n_frames)]
    duration_ms = n_frames * 1000 // fps
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2mp41")
    mvhd, tkhd = _mvhd_tkhd(width, height, duration_ms)
    mdhd = _box(
        b"mdhd",
        struct.pack(">B3x", 0) + struct.pack(">IIII", 0, 0, 1000, duration_ms)
        + struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _box(b"hdlr", struct.pack(">I4x", 0) + b"vide" + b"\x00" * 12 + b"mjpeg\x00")
    vmhd = _box(b"vmhd", struct.pack(">B3B", 0, 0, 0, 1) + struct.pack(">4H", 0, 0, 0, 0))
    dref = _box(b"dref", struct.pack(">II", 0, 1) + _box(b"url ", struct.pack(">B3B", 0, 0, 0, 1)))
    dinf = _box(b"dinf", dref)
    # 14496-12 VisualSampleEntry, coding 'jpeg' (86-byte fixed layout)
    entry = (
        struct.pack(">I", 86) + b"jpeg" + b"\x00" * 6 + struct.pack(">H", 1)
        + struct.pack(">HH", 0, 0) + b"\x00" * 12
        + struct.pack(">HH", width, height)
        + struct.pack(">II", 0x480000, 0x480000)  # 72 dpi
        + struct.pack(">I", 0) + struct.pack(">H", 1)  # frame_count
        + b"\x00" * 32 + struct.pack(">Hh", 24, -1)
    )
    stsd = _box(b"stsd", struct.pack(">II", 0, 1) + entry)
    stts = _box(b"stts", struct.pack(">IIII", 0, 1, n_frames, 1000 // fps))
    stsc = _box(b"stsc", struct.pack(">IIIII", 0, 1, 1, n_frames, 1))
    stsz = _box(
        b"stsz",
        struct.pack(">III", 0, 0, n_frames)
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )

    def moov_of(mdat_payload_off: int) -> bytes:
        stco = _box(b"stco", struct.pack(">III", 0, 1, mdat_payload_off))
        stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _box(b"minf", vmhd + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))

    # stco is fixed-width, so moov's size is offset-independent:
    # measure with 0, then rebuild with the real mdat payload offset
    probe = moov_of(0)
    moov = moov_of(len(ftyp) + len(probe) + 8)
    return ftyp + moov + _box(b"mdat", b"".join(frames))
