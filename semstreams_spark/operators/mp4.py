"""MP4 (ISO BMFF) container METADATA parsing — stdlib ``struct`` only.

Round-5 worklist item: video *metadata* becomes real — an ftyp/moov box
walk yielding (brand, duration, timescale, track count, per-track handler
+ codec fourcc) — while full video DECODE stays out of scope (a software H.264
decoder is out of proportion for this engine; the per-blob Arrow
``mapInPandas`` shape in ``multimodal.extract_video_metadata`` is where
a native codec lib would drop in at real deployment).

Implements the subset of ISO/IEC 14496-12 a metadata reader needs:
- box header walk (32-bit size, 64-bit largesize via size==1,
  size==0 = "to end of file"),
- container recursion (moov → trak → mdia → minf → stbl),
- mvhd / mdhd version 0 AND 1 (64-bit times),
- hdlr handler type, stsd first-sample-entry fourcc.

Synthesis (``synth_mp4_bytes``) builds deterministic, spec-shaped files
the parser round-trips, giving the ``media_mp4_metadata`` gate an
analytic oracle (duration/track-count/codec are closed-form in the row
id). Corrupt or truncated input raises ValueError — callers quarantine
the row (same contract as ``decode_png_pixels``).

Reference parity anchor: the reference treats media as opaque typed
payloads with extracted metadata predicates (SURVEY §2.10); box-walk
semantics are from the public ISO BMFF spec.
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}


# ---------------------------------------------------------------------------
# synthesis (deterministic, analytic-oracle-friendly)
# ---------------------------------------------------------------------------


def _box(tag: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + tag + payload


def _full(tag: bytes, version: int, payload: bytes) -> bytes:
    return _box(tag, struct.pack(">B3x", version) + payload)


def mp4_duration_ms(i: int) -> int:
    """Closed-form duration for synthetic file i (the oracle formula)."""
    return 1000 + 250 * i


def mp4_n_tracks(i: int) -> int:
    return 1 + (i % 2)


def synth_mp4_bytes(i: int) -> bytes:
    """Deterministic minimal-but-valid ISO BMFF file: ftyp + moov with
    mvhd (timescale 1000, duration = mp4_duration_ms(i)) and
    mp4_n_tracks(i) trak boxes (avc1 video, optional mp4a audio). Odd i
    exercises version-1 (64-bit) mvhd/mdhd headers so both parser paths
    stay covered."""
    timescale = 1000
    duration = mp4_duration_ms(i)
    v1 = i % 2 == 1

    if v1:
        mvhd_body = struct.pack(">QQIQ", 0, 0, timescale, duration)
    else:
        mvhd_body = struct.pack(">IIII", 0, 0, timescale, duration)
    mvhd_body += struct.pack(">i", 0x00010000)  # rate 1.0
    mvhd_body += struct.pack(">h", 0x0100)  # volume 1.0
    mvhd_body += b"\x00" * (2 + 8)  # reserved
    mvhd_body += struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    mvhd_body += b"\x00" * 24  # pre_defined
    mvhd_body += struct.pack(">I", mp4_n_tracks(i) + 1)  # next_track_ID
    mvhd = _full(b"mvhd", 1 if v1 else 0, mvhd_body)

    def trak(track_id: int, handler: bytes, fourcc: bytes) -> bytes:
        tkhd_body = struct.pack(">IIIxxxxI", 0, 0, track_id, duration)
        tkhd_body += b"\x00" * 8 + struct.pack(">hhhxx", 0, 0, 0)
        tkhd_body += struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        tkhd_body += struct.pack(">II", 64 << 16, 64 << 16)  # 16.16 w/h
        tkhd = _full(b"tkhd", 0, tkhd_body)

        if v1:
            mdhd_body = struct.pack(">QQIQ", 0, 0, timescale, duration)
        else:
            mdhd_body = struct.pack(">IIII", 0, 0, timescale, duration)
        mdhd_body += struct.pack(">HH", 0x55C4, 0)  # language 'und'
        mdhd = _full(b"mdhd", 1 if v1 else 0, mdhd_body)

        hdlr = _full(b"hdlr", 0, struct.pack(">I", 0) + handler + b"\x00" * 12 + b"synth\x00")

        # sample entry: only (size, fourcc) matter to a metadata reader;
        # body = 6 reserved + 2 data_reference_index per the SampleEntry
        # base class
        entry = _box(fourcc, b"\x00" * 6 + struct.pack(">H", 1))
        stsd = _full(b"stsd", 0, struct.pack(">I", 1) + entry)
        stbl = _box(b"stbl", stsd)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        return _box(b"trak", tkhd + mdia)

    traks = trak(1, b"vide", b"avc1")
    if mp4_n_tracks(i) == 2:
        traks += trak(2, b"soun", b"mp4a")

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isom" + b"mp42")
    moov = _box(b"moov", mvhd + traks)
    # trailing free box exercises the top-level walk past moov
    return ftyp + moov + _box(b"free", b"\x00" * (i % 7))


# ---------------------------------------------------------------------------
# parsing
# ---------------------------------------------------------------------------


def _walk(payload: bytes, start: int, end: int):
    """Yield (tag, body_start, body_end) for each box in [start, end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if body + 8 > end:
                raise ValueError("truncated largesize box")
            (size,) = struct.unpack_from(">Q", payload, pos + 8)
            body += 8
            if size < 16:
                raise ValueError("invalid largesize")
            box_end = pos + size
        elif size == 0:  # to end of enclosing scope
            box_end = end
        else:
            if size < 8:
                raise ValueError("invalid box size")
            box_end = pos + size
        if box_end > end:
            raise ValueError("box overruns container")
        yield tag, body, box_end
        pos = box_end


def _fullbox_times(payload: bytes, body: int):
    """(timescale, duration, after) for mvhd/mdhd v0 (32-bit) / v1 (64-bit)."""
    version = payload[body]
    p = body + 4
    if version == 1:
        # creation(8) modification(8) timescale(4) duration(8)
        (timescale,) = struct.unpack_from(">I", payload, p + 16)
        (duration,) = struct.unpack_from(">Q", payload, p + 20)
        return timescale, duration
    if version == 0:
        # creation(4) modification(4) timescale(4) duration(4)
        return struct.unpack_from(">II", payload, p + 8)
    raise ValueError(f"unsupported fullbox version {version}")


def parse_mp4_metadata(payload: bytes) -> dict:
    """ftyp/moov walk → {brand, duration_ms, timescale, n_tracks,
    codecs (comma-joined fourccs), handlers (comma-joined)}. Raises
    ValueError on non-BMFF or structurally corrupt input."""
    if len(payload) < 16 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF file (no ftyp)")
    brand = payload[8:12].decode("latin-1")

    timescale = duration = None
    codecs: list[str] = []
    handlers: list[str] = []

    def visit(start: int, end: int) -> None:
        nonlocal timescale, duration
        for tag, body, box_end in _walk(payload, start, end):
            if tag == b"mvhd":
                timescale, duration = _fullbox_times(payload, body)
            elif tag == b"hdlr":
                handlers.append(payload[body + 8 : body + 12].decode("latin-1"))
            elif tag == b"stsd":
                (n_entries,) = struct.unpack_from(">I", payload, body + 4)
                if n_entries >= 1:
                    codecs.append(payload[body + 12 : body + 16].decode("latin-1"))
            elif tag in _CONTAINERS:
                visit(body, box_end)

    visit(0, len(payload))
    if timescale is None or not timescale:
        raise ValueError("no mvhd (not a movie file)")
    return {
        "brand": brand,
        "timescale": int(timescale),
        "duration_ms": int(duration * 1000 // timescale),
        "n_tracks": len(codecs),
        "codecs": ",".join(codecs),
        "handlers": ",".join(handlers),
    }
