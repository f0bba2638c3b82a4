"""Multimodal column handling: image/audio/video as opaque binary columns
with typed metadata.

Three media families decode for REAL with stdlib + numpy only: WAV
audio (``decode_wav_features``, via ``wave``), non-interlaced 8-bit
RGB/RGBA PNG (``decode_png_pixels`` / ``decode_png_features``, via
``zlib`` inflate + full scanline unfiltering including Paeth), and MP4
video container METADATA (``extract_video_metadata`` via the stdlib
ISO BMFF box walk in ``operators/mp4.py`` — brand, movie
duration/timescale, track count, handler types, codec fourccs). Each
decoder is an Arrow-batched ``mapInPandas`` over the binary column with
a narrow numeric frame out.

Layout contract for a 100 TB media table:
  (media_id long, kind string ∈ {image,audio,video}, media binary,
   meta struct<width int, height int, sample_rate int, n_frames int,
   codec string>, ts timestamp)
binary payloads dominate size → partition by ingest hour, keep metadata
in columnar form so Catalyst prunes `media` entirely for metadata-only
queries (check ReadSchema in .explain).
"""

from __future__ import annotations

import datetime as dt
import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, media binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int, codec:string>, "
    "ts timestamp"
)


# ---------------------------------------------------------------------------
# Real PNG codec (stdlib zlib): encoder for synthetic fixtures, decoder for
# the pipeline. Non-interlaced 8-bit RGB (color type 2) and RGBA (6).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, payload: bytes) -> bytes:
    import struct
    import zlib as _z

    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", _z.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def encode_png(pixels: np.ndarray, filter_per_row: bool = True) -> bytes:
    """Minimal PNG encoder for synthetic fixtures: (H, W, 3|4) uint8 →
    non-interlaced 8-bit PNG. With filter_per_row, scanline y uses filter
    type y % 5 — every PNG filter (None/Sub/Up/Average/Paeth) appears, so
    round-tripping through decode_png_pixels exercises the full
    unfiltering path, not just the trivial one."""
    import struct
    import zlib as _z

    h, w, ch = pixels.shape
    color_type = {3: 2, 4: 6}[ch]
    bpp = ch
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        line = pixels[y].reshape(-1).astype(np.int32)
        ft = (y % 5) if filter_per_row else 0
        raw.append(ft)
        if ft == 0:
            out = line
        elif ft == 1:  # Sub
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), line[:-bpp]])
            out = (line - left) % 256
        elif ft == 2:  # Up
            out = (line - prev) % 256
        elif ft == 3:  # Average
            left = np.concatenate([np.zeros(bpp, dtype=np.int32), line[:-bpp]])
            out = (line - (left + prev) // 2) % 256
        else:  # Paeth
            out = np.empty_like(line)
            for x in range(len(line)):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                out[x] = (int(line[x]) - _paeth(a, b, c)) % 256
        raw += bytes(int(v) for v in out)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(raw), 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_pixels(payload: bytes) -> np.ndarray:
    """REAL stdlib PNG decode: signature + chunk walk, zlib inflate of
    concatenated IDAT, and per-scanline unfiltering (all five filter
    types, vectorized where the filter allows — Sub/Paeth carry a true
    sequential dependency along the scanline). Supports non-interlaced
    8-bit RGB (color type 2) and RGBA (6) — the PNGs our fixtures and
    any standard encoder's default RGB output produce. Returns
    (H, W, channels) uint8; raises ValueError on anything else (signals
    the caller to fall back / quarantine the row, never garbage)."""
    import struct
    import zlib as _z

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    w = h = None
    color_type = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        if pos + 8 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        body = payload[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            if length != 13:
                raise ValueError("malformed IHDR")
            w, h, depth, color_type, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or color_type not in (2, 6):
                raise ValueError(f"unsupported PNG: depth={depth} color_type={color_type}")
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length
    if w is None or not idat:
        raise ValueError("truncated PNG (no IHDR/IDAT)")
    ch = 3 if color_type == 2 else 4
    raw = _z.decompress(bytes(idat))
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1).astype(np.int32)
        if ft == 0:
            rec = line
        elif ft == 1:  # Sub: sequential along the row, vector over channels
            rec = line.copy()
            for x in range(ch, stride):
                rec[x] = (rec[x] + rec[x - ch]) % 256
        elif ft == 2:  # Up
            rec = (line + prev) % 256
        elif ft == 3:  # Average
            rec = line.copy()
            for x in range(stride):
                left = rec[x - ch] if x >= ch else 0
                rec[x] = (rec[x] + (left + prev[x]) // 2) % 256
        elif ft == 4:  # Paeth
            rec = line.copy()
            for x in range(stride):
                a = int(rec[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                rec[x] = (rec[x] + _paeth(a, b, c)) % 256
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, ch)


def synth_png_bytes(i: int) -> tuple[bytes, int, int]:
    """Deterministic RGB PNG for synthetic media row i: width
    8 + (i%4)·8, height 8 + (i%3)·8, pixel byte p (row-major, channel
    -interleaved) = (i·131 + p·197) mod 256 — the analytic contract the
    media_png_decode gate's DuckDB oracle recomputes. Scanline filters
    cycle through all five PNG filter types, so the gate proves the full
    decode path, not just zlib."""
    w = 8 + (i % 4) * 8
    h = 8 + (i % 3) * 8
    p = np.arange(h * w * 3, dtype=np.int64)
    px = ((i * 131 + p * 197) % 256).astype(np.uint8).reshape(h, w, 3)
    return encode_png(px), w, h


def decode_png_features(media: DataFrame) -> DataFrame:
    """REAL image decode over binary PNG payloads → (media_id, width,
    height, sum_r, sum_g, sum_b, sum_all) via Arrow-batched mapInPandas.
    All outputs are exact integers, so the gate has an analytic DuckDB
    oracle over the synth_png_bytes generator contract. Same plan shape
    as decode_wav_features: binary column through Arrow, narrow numeric
    frame out — the drop-in pattern for any codec."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["media"]):
                px = decode_png_pixels(bytes(payload)).astype(np.int64)
                h, w, _ = px.shape
                sums = px.sum(axis=(0, 1))
                rows.append((mid, w, h, int(sums[0]), int(sums[1]), int(sums[2]), int(px.sum())))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "sum_r", "sum_g", "sum_b", "sum_all"],
            )

    return media.filter(F.col("kind") == "image").mapInPandas(
        gen,
        schema=(
            "media_id long, width int, height int, "
            "sum_r long, sum_g long, sum_b long, sum_all long"
        ),
    )


def synthesize_png_media(spark, n: int = 64) -> DataFrame:
    """Deterministic image-only media table whose payloads are REAL PNGs
    (synth_png_bytes contract) — the media_png_decode gate's input."""
    import datetime as _dt

    rows = []
    base_ts = _dt.datetime(2025, 1, 1)
    for i in range(n):
        payload, w, h = synth_png_bytes(i)
        meta = {"width": w, "height": h, "sample_rate": None, "n_frames": None, "codec": "png"}
        rows.append((i, "image", bytearray(payload), meta, base_ts + _dt.timedelta(seconds=i)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def synthesize_mp4_media(spark, n: int = 48) -> DataFrame:
    """Deterministic video-only media table whose payloads are REAL
    ISO BMFF (MP4) containers (mp4.synth_mp4_bytes contract) — the
    media_mp4_metadata gate's input."""
    import datetime as _dt

    from .mp4 import mp4_duration_ms, synth_mp4_bytes

    rows = []
    base_ts = _dt.datetime(2025, 1, 1)
    for i in range(n):
        payload = synth_mp4_bytes(i)
        meta = {
            "width": None,
            "height": None,
            "sample_rate": None,
            "n_frames": int(mp4_duration_ms(i) * 30 // 1000),
            "codec": "h264",
        }
        rows.append((i, "video", bytearray(payload), meta, base_ts + _dt.timedelta(seconds=i)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


VIDEO_META_SCHEMA = (
    "media_id long, brand string, timescale int, duration_ms long, "
    "n_tracks int, codecs string, handlers string"
)


def extract_video_metadata(media: DataFrame) -> DataFrame:
    """video rows → container metadata via the stdlib ISO BMFF box walk
    (operators/mp4.py): (media_id, brand, timescale, duration_ms,
    n_tracks, codecs, handlers). Non-BMFF / corrupt payloads are
    QUARANTINED per row (all-null metadata), never fail the job.
    Arrow-batched mapInPandas: the
    right shape for per-blob container parsing; at real 100 TB scale a
    native demuxer drops in behind this one function."""
    from .mp4 import parse_mp4_metadata

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["media"]):
                try:
                    m = parse_mp4_metadata(bytes(payload))
                    rows.append(
                        (
                            int(mid),
                            m["brand"],
                            m["timescale"],
                            m["duration_ms"],
                            m["n_tracks"],
                            m["codecs"],
                            m["handlers"],
                        )
                    )
                except ValueError:
                    rows.append((int(mid), None, None, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "brand",
                    "timescale",
                    "duration_ms",
                    "n_tracks",
                    "codecs",
                    "handlers",
                ],
            )

    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", "media")
        .mapInPandas(gen, VIDEO_META_SCHEMA)
    )


def synth_wav_bytes(i: int) -> tuple[bytes, int, int]:
    """Deterministic mono 16-bit PCM WAV for synthetic media row i:
    sample_rate = 8000·(1 + (i%9)//3), n_frames = 400 + (i%5)·80,
    sample j = ((i·131 + j·197) mod 65536) − 32768. Returns
    (wav_bytes, sample_rate, n_frames); the standard PCM header is 44
    bytes, so len(wav_bytes) == 44 + 2·n_frames — the analytic contract
    the media gates' oracles recompute."""
    import io
    import wave

    rate = 8000 * (1 + (i % 9) // 3)
    n_frames = 400 + (i % 5) * 80
    samples = bytearray()
    for j in range(n_frames):
        v = ((i * 131 + j * 197) % 65536) - 32768
        samples += int(v).to_bytes(2, "little", signed=True)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(bytes(samples))
    return buf.getvalue(), rate, n_frames


def decode_wav_features(media: DataFrame) -> DataFrame:
    """REAL audio decode over binary WAV payloads (stdlib ``wave`` — no
    external codec needed): audio rows → (media_id, sample_rate,
    n_channels, sampwidth, n_frames, duration_ms, sum_samples) via
    Arrow-batched mapInPandas. All outputs are exact integers (duration
    truncated to ms; sum of int16 samples as int64), so the gate has an
    analytic DuckDB oracle over the generator contract.

    This is the drop-in shape for other codecs: same plan (binary column
    through Arrow, narrow numeric frame out), different decoder inside
    the batch loop."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            if not len(pdf):
                continue
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["media"]):
                with wave.open(io.BytesIO(bytes(payload)), "rb") as w:
                    rate = w.getframerate()
                    nch = w.getnchannels()
                    width = w.getsampwidth()
                    nf = w.getnframes()
                    raw = w.readframes(nf)
                samples = np.frombuffer(raw, dtype=np.int16)
                rows.append(
                    (
                        mid,
                        rate,
                        nch,
                        width,
                        nf,
                        nf * 1000 // rate,
                        int(samples.astype(np.int64).sum()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_channels",
                    "sampwidth",
                    "n_frames",
                    "duration_ms",
                    "sum_samples",
                ],
            )

    return media.filter(F.col("kind") == "audio").mapInPandas(
        gen,
        schema=(
            "media_id long, sample_rate int, n_channels int, sampwidth int, "
            "n_frames int, duration_ms long, sum_samples long"
        ),
    )


def synthesize_media(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table for tests (binary payloads
    derived from the row id; no external data). Audio rows carry REAL
    decodable WAV bytes (synth_wav_bytes contract); image/video payloads
    stay opaque hash bytes (their codecs aren't in this runtime)."""
    rows = []
    kinds = ["image", "audio", "video"]
    base_ts = dt.datetime(2025, 1, 1)
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "audio":
            payload, rate, n_frames = synth_wav_bytes(i)
        else:
            payload = hashlib.sha256(f"media{i}".encode()).digest() * (1 + i % 4)
            rate, n_frames = None, None
        meta = {
            "width": int(8 + (i % 4) * 8) if kind == "image" else None,
            "height": int(8 + (i % 3) * 8) if kind == "image" else None,
            "sample_rate": rate,
            "n_frames": n_frames if kind == "audio" else (int(30 + i) if kind == "video" else None),
            "codec": {"image": "png", "audio": "wav", "video": "h264"}[kind],
        }
        rows.append((i, kind, bytearray(payload), meta, base_ts + dt.timedelta(seconds=i)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
