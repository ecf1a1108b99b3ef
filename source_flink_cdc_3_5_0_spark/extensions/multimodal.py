"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns plus typed metadata structs;
decode / feature-extraction run as Arrow-batched ``mapInPandas`` stages so a
1000-executor cluster streams batches through Python workers without
materializing whole partitions.

Codecs that decode FOR REAL, pure numpy + stdlib, no external libs:
PPM (P6) images, 16-bit PCM WAV audio, PNG, and baseline JPEG — the PNG
path is a full spec decoder over stdlib ``zlib`` (every color type at
every spec bit depth — gray 1/2/4/8/16, gray+alpha, RGB/RGBA 8/16,
palette 1/2/4/8 — all five scanline filters, null AND Adam7 interlace)
with exact-value unit tests in ``tests/test_multimodal_codecs`` covering
every filter path against a built-in encoder plus hand-built palette /
16-bit / interlaced fixtures, and the JPEG path (``extensions/jpeg.py``)
decodes BOTH baseline sequential and progressive (SOF2) DCT streams —
gray + YCbCr, subsampling up to 2×2, restart markers, spectral selection
+ successive approximation, EOB runs (arithmetic-coded returns None) —
with matching baseline AND progressive encoders; progressive streams
are asserted to decode bit-identically to their baseline counterparts.
MP4 decodes through an AUTO-DETECTED system ffmpeg
(``SPARK_GRAFT_FFMPEG`` overrides); where no ffmpeg exists MP4 falls
back to a deterministic md5-seeded fake under ``decoder='auto'`` (the
default used by the driver queries, whose fixtures are opaque bytes), or
raises under ``decoder='real'``. The Spark-side plumbing (schema, batching,
partition sizing) is identical on every path.
"""

from __future__ import annotations

import hashlib
import io
import os
import shutil
import struct
import wave
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),      # 'image'|'audio'|'video'
    T.StructField("payload", T.BinaryType(), True),     # opaque encoded bytes
    T.StructField("mime", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])

_FEATURE_DIM = 16

_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("n_bytes", T.IntegerType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])


def _fake_decode_features(payload: bytes | None) -> list[float]:
    """Deterministic stand-in for decode→embed: md5-seeded pseudo-features.
    Used for formats whose codecs (PIL/ffmpeg) aren't in this container."""
    if payload is None:
        return [0.0] * _FEATURE_DIM
    h = hashlib.md5(bytes(payload)).digest()
    rng = np.random.RandomState(int.from_bytes(h[:4], "little"))
    return [float(x) for x in rng.rand(_FEATURE_DIM).astype(np.float32)]


# -- real codecs (pure numpy / stdlib — no PIL/ffmpeg needed) ---------------

def _decode_ppm(payload: bytes) -> np.ndarray | None:
    """Binary PPM (P6, maxval 255) -> (h, w, 3) uint8 array, or None if the
    payload isn't P6. Header = 'P6' + whitespace-separated width height
    maxval (comments '#…' allowed), one whitespace byte, then raw RGB."""
    if not payload.startswith(b"P6"):
        return None
    fields: list[int] = []
    i = 2
    while len(fields) < 3 and i < len(payload):
        c = payload[i:i + 1]
        if c == b"#":  # comment to end of line
            i = payload.find(b"\n", i)
            if i < 0:
                return None
            i += 1
        elif c.isspace():
            i += 1
        elif c.isdigit():
            j = i
            while j < len(payload) and payload[j:j + 1].isdigit():
                j += 1
            fields.append(int(payload[i:j]))
            i = j
        else:
            return None
    if len(fields) < 3 or fields[2] != 255:
        return None
    i += 1  # single whitespace after maxval
    w, h = fields[0], fields[1]
    raw = payload[i:i + w * h * 3]
    if len(raw) != w * h * 3:
        return None
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def _encode_ppm(arr: np.ndarray) -> bytes:
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(np.uint8).tobytes()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, pos: int, h: int, stride: int,
                  bpp: int) -> tuple[np.ndarray, int] | None:
    """Unfilter ``h`` scanlines of ``stride`` bytes starting at ``pos``
    (each preceded by its filter byte), per the PNG spec with filter
    unit ``bpp``.  Returns (rows, new_pos) or None on truncation / bad
    filter.  The Sub/Average/Paeth loops are byte-sequential by
    definition (each byte depends on the previous reconstructed byte);
    fine for thumbnail-scale media — a production decoder vectorizes
    Sub via cumsum and keeps Paeth in native code."""
    if len(raw) - pos < h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = raw[pos]
        cur = np.frombuffer(raw, np.uint8, stride, pos + 1).copy()
        pos += stride + 1
        if f == 0:
            pass
        elif f == 1:
            # Sub = cumulative sum over filter units; accumulate promotes
            # to uint64 and the final uint8 cast truncates mod 256, which
            # commutes with addition — same result as per-byte wrapping
            if stride % bpp == 0:
                cur = np.add.accumulate(
                    cur.reshape(-1, bpp), axis=0).astype(
                        np.uint8).reshape(-1)
            else:  # ragged tail (cannot occur for spec-valid strides)
                for i in range(bpp, stride):
                    cur[i] = (int(cur[i]) + int(cur[i - bpp])) & 0xFF
        elif f == 2:  # Up (uint8 addition wraps mod 256 — the spec)
            cur += prev
        elif f == 3:  # Average
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                cur[i] = (int(cur[i]) + ((a + int(prev[i])) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                q = a + b - c
                pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (int(cur[i]) + pr) & 0xFF
        else:
            return None
        out[y] = cur
        prev = cur
    return out, pos


def _png_samples(rows: np.ndarray, w: int, ch: int,
                 depth: int) -> np.ndarray:
    """Unfiltered scanline bytes -> (h, w, ch) uint8 samples.  16-bit
    samples keep the high byte (the spec's 16→8 reduction); sub-byte
    depths (1/2/4) unpack MSB-first and scale to full 8-bit range
    (palette indices are scaled back by the caller)."""
    h = rows.shape[0]
    if depth == 8:
        return rows.reshape(h, w, ch)
    if depth == 16:
        return rows.reshape(h, w, ch, 2)[:, :, :, 0]
    bits = np.unpackbits(rows, axis=1)  # MSB first, per spec
    vals = bits.reshape(h, -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    samples = (vals.astype(np.uint16) * weights).sum(axis=2)
    return samples[:, :w * ch].reshape(h, w, ch).astype(np.uint16)


_ADAM7 = [  # (x_start, y_start, x_step, y_step) per pass
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _decode_png(payload: bytes) -> np.ndarray | None:
    """PNG -> (h, w, 3) uint8, pure stdlib zlib + numpy (no PIL): every
    spec color type (gray, gray+alpha, RGB, RGBA, PALETTE) at every spec
    bit depth (1/2/4/8/16 where the spec allows it), all five scanline
    filters, BOTH interlace methods (null and Adam7).  Alpha is dropped,
    gray replicated to 3 channels, 16-bit reduced to the high byte,
    sub-byte gray scaled to full range, palette indices resolved through
    PLTE.  Returns None only for genuinely broken input (bad signature /
    header / zlib stream / truncation)."""
    import zlib

    if not payload.startswith(_PNG_SIG):
        return None
    pos, ihdr, idat, plte = len(_PNG_SIG), None, b"", None
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos:pos + 4], "big")
        typ = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if ihdr is None or len(ihdr) < 13:
        return None
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype, comp, filt, inter = ihdr[8:13]
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    allowed_depths = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
                      4: (8, 16), 6: (8, 16)}
    if (ch is None or comp != 0 or filt != 0 or inter not in (0, 1)
            or depth not in allowed_depths.get(ctype, ())
            or w <= 0 or h <= 0):
        return None
    if ctype == 3 and (not plte or len(plte) % 3):
        return None
    try:
        raw = zlib.decompress(idat)
    except zlib.error:
        return None
    bpp = max(1, (ch * depth) // 8)

    def stride_of(width: int) -> int:
        return (width * ch * depth + 7) // 8

    if inter == 0:
        got = _png_unfilter(raw, 0, h, stride_of(w), bpp)
        if got is None or got[1] != len(raw):
            return None
        samples = _png_samples(got[0], w, ch, depth)
    else:  # Adam7
        samples = np.zeros((h, w, ch),
                           dtype=np.uint16 if depth < 8 else np.uint8)
        p = 0
        for (sx, sy, dx, dy) in _ADAM7:
            wp = (w - sx + dx - 1) // dx
            hp = (h - sy + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            got = _png_unfilter(raw, p, hp, stride_of(wp), bpp)
            if got is None:
                return None
            rows, p = got
            samples[sy::dy, sx::dx] = _png_samples(rows, wp, ch, depth)
        if p != len(raw):
            return None

    if ctype == 3:
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = samples[:, :, 0].astype(np.int64)
        if int(idx.max(initial=0)) >= pal.shape[0]:
            return None
        return pal[idx]
    if depth < 8:
        # scale sub-byte gray to full 8-bit range (0..2^d-1 -> 0..255)
        samples = (samples.astype(np.uint16) * 255
                   // ((1 << depth) - 1)).astype(np.uint8)
    arr = samples.astype(np.uint8, copy=False)
    if ch == 1:
        return np.repeat(arr, 3, axis=2)
    if ch == 2:
        return np.repeat(arr[:, :, :1], 3, axis=2)
    return arr[:, :, :3]


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (len(data).to_bytes(4, "big") + typ + data
            + zlib.crc32(typ + data).to_bytes(4, "big"))


def _encode_png(arr: np.ndarray, filter_type: int = 0) -> bytes:
    """Minimal RGB PNG encoder (8-bit, non-interlaced) applying ONE
    forward scanline filter to every row — exists so tests can exercise
    each unfilter path against ground truth without an external
    encoder."""
    import zlib

    a = arr.astype(np.uint8)
    h, w = a.shape[:2]
    ch = 3
    flat = a.reshape(h, w * ch).astype(np.int32)
    rows = []
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = flat[y]
        left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
        upl = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
        if filter_type == 0:
            enc = cur
        elif filter_type == 1:
            enc = cur - left
        elif filter_type == 2:
            enc = cur - prev
        elif filter_type == 3:
            enc = cur - ((left + prev) >> 1)
        elif filter_type == 4:
            q = left + prev - upl
            pa, pb, pc = np.abs(q - left), np.abs(q - prev), np.abs(q - upl)
            pr = np.where((pa <= pb) & (pa <= pc), left,
                          np.where(pb <= pc, prev, upl))
            enc = cur - pr
        else:
            raise ValueError(f"filter_type must be 0..4, got {filter_type}")
        rows.append(bytes([filter_type]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0]))
    return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + _png_chunk(b"IEND", b""))


def _decode_image(raw: bytes) -> np.ndarray | None:
    """THE image decode dispatch (PPM → PNG → baseline JPEG by FFD8
    magic) — one definition shared by feature extraction, resize and
    perceptual hashing so a new format lands everywhere at once."""
    raw = bytes(raw)
    img = _decode_ppm(raw)
    if img is None:
        img = _decode_png(raw)
    if img is None and raw[:2] == b"\xFF\xD8":
        from .jpeg import decode_jpeg
        img = decode_jpeg(raw)
    return img


def _decode_wav(payload: bytes) -> np.ndarray | None:
    """RIFF/WAV 16-bit PCM -> mono float64 samples in [-1, 1), or None if
    not a 16-bit PCM WAV (stdlib ``wave`` — no external audio lib)."""
    if not payload.startswith(b"RIFF"):
        return None
    try:
        with wave.open(io.BytesIO(bytes(payload))) as f:
            if f.getsampwidth() != 2:
                return None
            frames = f.readframes(f.getnframes())
            ch = f.getnchannels()
    except (wave.Error, EOFError, struct.error):
        return None
    x = np.frombuffer(frames, dtype="<i2").astype(np.float64)
    if ch > 1:
        x = x.reshape(-1, ch).mean(axis=1)
    return x / 32768.0


def _image_features(arr: np.ndarray) -> list[float]:
    """16-dim REAL image feature: 4x4 grid of grayscale block means in
    [0, 1] (nearest-boundary blocks; the classic tiny-thumbnail feature)."""
    gray = arr.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    ys = np.linspace(0, h, 5).astype(int)
    xs = np.linspace(0, w, 5).astype(int)
    out = []
    for r in range(4):
        for c in range(4):
            block = gray[ys[r]:max(ys[r + 1], ys[r] + 1),
                         xs[c]:max(xs[c + 1], xs[c] + 1)]
            out.append(float(block.mean()) / 255.0)
    return out


def _audio_features(x: np.ndarray) -> list[float]:
    """16-dim REAL audio feature: RMS energy of 16 equal segments."""
    if x.size == 0:
        return [0.0] * _FEATURE_DIM
    bounds = np.linspace(0, x.size, _FEATURE_DIM + 1).astype(int)
    out = []
    for i in range(_FEATURE_DIM):
        seg = x[bounds[i]:max(bounds[i + 1], bounds[i] + 1)]
        out.append(float(np.sqrt(np.mean(seg * seg))))
    return out


def _real_decode_features(payload: bytes | None) -> list[float] | None:
    """Real decode for the formats we can parse without PIL/ffmpeg;
    None = unknown format (caller decides: fake fallback or raise)."""
    if payload is None:
        return None
    payload = bytes(payload)
    img = _decode_image(payload)
    if img is not None:
        return _image_features(img)
    audio = _decode_wav(payload)
    if audio is not None:
        return _audio_features(audio)
    return None


def extract_features(df: DataFrame, use_fake_decoder: bool = True,
                     batch_rows_hint: int = 1024,
                     decoder: str | None = None) -> DataFrame:
    """Decode + feature-extract media rows via ``mapInPandas``.

    ``decoder``: ``'fake'`` (md5-seeded pseudo-features — opaque test
    payloads), ``'real'`` (PPM/WAV decode for real, raise on formats
    needing PIL/ffmpeg), ``'auto'`` (real where the format is parseable,
    fake fallback otherwise). ``use_fake_decoder`` is the legacy boolean
    spelling (True -> 'fake', False -> 'real').

    The iterator-of-batches shape means constant memory per task regardless
    of partition size; tune ``spark.sql.execution.arrow.maxRecordsPerBatch``
    to bound decoded-payload memory (large blobs → smaller batches).
    """
    mode = decoder or ("fake" if use_fake_decoder else "real")
    if mode not in ("fake", "real", "auto"):
        raise ValueError(f"decoder must be fake|real|auto, got {mode!r}")

    def one(payload):
        if mode == "fake":
            return _fake_decode_features(payload)
        feats = _real_decode_features(payload)
        if feats is not None:
            return feats
        if mode == "auto":
            return _fake_decode_features(payload)
        raise NotImplementedError(
            "payload is not decodable: PPM, WAV, every spec PNG shape "
            "(all color types/bit depths/filters, null + Adam7 interlace) "
            "and baseline/progressive JPEG decode for real; other formats "
            "need PIL/ffmpeg (not installed) — use decoder='auto' to "
            "fall back")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(lambda b: 0 if b is None else len(b)).astype("int32"),
                "feature": pdf["payload"].map(one),
            })
            yield out

    return df.mapInPandas(run, schema=_FEATURES_SCHEMA)


_FRAMES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("ts_ms", T.LongType(), False),
    T.StructField("frame", T.BinaryType(), True),
])


_FFMPEG: str | None = None  # resolved lazily, once per process


def _ffmpeg_path() -> str | None:
    """Path of a system ``ffmpeg``, or None when absent.  Resolved once
    per process (each Spark Python worker probes at most once).  Override
    with ``SPARK_GRAFT_FFMPEG=/path/to/ffmpeg``; set it to the empty
    string to force the no-ffmpeg path even where one is installed."""
    global _FFMPEG
    if _FFMPEG is None:
        env = os.environ.get("SPARK_GRAFT_FFMPEG")
        _FFMPEG = (env if env is not None else
                   (shutil.which("ffmpeg") or ""))
    return _FFMPEG or None


def _decode_mp4_frames(payload: bytes, every_ms: int,
                       max_frames: int) -> list[tuple[int, int, bytes]] | None:
    """Real MP4 frame sampling through a DETECTED system ffmpeg: frames
    at the requested stride come back as P6 PPM bytes (decodable by this
    module's own codec).  Returns None — caller falls back / raises —
    when the payload is not an ISO-BMFF container, no ffmpeg binary is
    on PATH, or the decode fails.  One subprocess per video row: honest
    for curation-scan rates; a production hot path would keep a resident
    decoder per worker."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        return None
    ff = _ffmpeg_path()
    if ff is None:
        return None
    import subprocess
    import tempfile

    with tempfile.TemporaryDirectory(prefix="mp4dec_") as td:
        src = os.path.join(td, "in.mp4")
        with open(src, "wb") as f:
            f.write(payload)
        pat = os.path.join(td, "f_%05d.ppm")
        cmd = [ff, "-v", "error", "-i", src,
               "-vf", f"fps=1000/{every_ms}",
               "-frames:v", str(max_frames), "-start_number", "0", pat]
        try:
            subprocess.run(cmd, check=True, capture_output=True,
                           timeout=120)
        except Exception:
            return None
        out = []
        for i in range(max_frames):
            p = os.path.join(td, f"f_{i:05d}.ppm")
            if not os.path.exists(p):
                break
            with open(p, "rb") as f:
                out.append((i, i * every_ms, f.read()))
        return out or None


def sample_frames(df: DataFrame, every_ms: int = 1000, max_frames: int = 32,
                  use_fake_decoder: bool = True,
                  decoder: str | None = None) -> DataFrame:
    """Sample video frames at a fixed stride via ``mapInPandas`` — the
    1:N (row → frames) exploding shape: each Arrow batch of video rows
    yields one output batch carrying all its frames, so frame count per
    task is bounded by ``maxRecordsPerBatch × max_frames`` regardless of
    partition size. Frames land at t = 0, every_ms, 2·every_ms … ≤
    duration_ms, capped at ``max_frames``.

    ``decoder='real'`` demuxes MJPEG-in-AVI containers for real
    (``extensions/avi.py``): the sampled ``frame`` bytes are the actual
    JPEG of the frame nearest each timestamp (decodable downstream by
    ``extensions/jpeg.py``), timing from the container's ``avih`` header
    — duration_ms metadata is ignored in favor of the container's own
    clock. MP4 (ISO-BMFF) payloads decode for real through a DETECTED
    system ffmpeg (``_ffmpeg_path``, auto-probed once per worker;
    ``SPARK_GRAFT_FFMPEG`` overrides) — sampled frames come back as P6
    PPM bytes. Payloads neither AVI nor ffmpeg-decodable raise under
    ``'real'`` and fall back to the fake under ``'auto'``. The fake
    decoder (default — opaque driver fixtures) emits the 16-byte md5 of
    (payload, frame_idx) per frame."""
    mode = decoder or ("fake" if use_fake_decoder else "real")
    if mode not in ("fake", "real", "auto"):
        raise ValueError(f"decoder must be fake|real|auto, got {mode!r}")

    from .avi import demux_avi_mjpeg

    def fake_rows(mid, payload, dur):
        dur = 0 if dur is None or pd.isna(dur) else int(dur)
        n = min(dur // every_ms + 1, max_frames)
        base = b"" if payload is None else bytes(payload)
        return [(mid, i, i * every_ms,
                 hashlib.md5(base + i.to_bytes(4, "little")).digest())
                for i in range(n)]

    def real_rows(mid, payload, dur):
        demuxed = None if payload is None else demux_avi_mjpeg(bytes(payload))
        if demuxed is None:
            mp4 = (None if payload is None else
                   _decode_mp4_frames(bytes(payload), every_ms, max_frames))
            if mp4 is not None:
                return [(mid, i, ts, frame) for i, ts, frame in mp4]
            if mode == "auto":
                return fake_rows(mid, payload, dur)
            raise NotImplementedError(
                "payload is not an MJPEG AVI, and MP4 decode needs a "
                "system ffmpeg (none detected on PATH; set "
                "SPARK_GRAFT_FFMPEG to point at one) — use "
                "decoder='auto' to fall back to the deterministic fake")
        us_per_frame, frames = demuxed
        frame_ms = us_per_frame / 1000.0
        total_ms = int(len(frames) * frame_ms)
        out = []
        i = 0
        while i * every_ms <= total_ms and len(out) < max_frames:
            t = i * every_ms
            fi = min(int(t / frame_ms), len(frames) - 1)
            out.append((mid, i, t, frames[fi]))
            i += 1
        return out

    per_row = real_rows if mode in ("real", "auto") else fake_rows

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for mid, payload, dur in zip(pdf["media_id"], pdf["payload"],
                                         pdf["duration_ms"]):
                # nullable long arrives as float64 NaN in pandas, not None
                for mid_, idx, ts, fr in per_row(mid, payload, dur):
                    ids.append(mid_)
                    idxs.append(idx)
                    tss.append(ts)
                    frames.append(fr)
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "ts_ms": pd.Series(tss, dtype="int64"),
                "frame": pd.Series(frames, dtype=object),
            })

    return df.where(F.col("kind") == "video").mapInPandas(run, schema=_FRAMES_SCHEMA)


def synthetic_media(spark, n: int = 256) -> DataFrame:
    """Deterministic fake media table for tests (payload = seeded bytes)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.md5(f"media-{i}".encode()).digest() * (4 + i % 7)
        rows.append((i, kind, bytearray(payload), f"application/x-{kind}",
                     64 + i % 512 if kind == "image" else None,
                     64 + i % 256 if kind == "image" else None,
                     1000 * (i % 90) if kind != "image" else None))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# -- frame-level audio analysis (real decode, integer-exact) ----------------

_FRAME_ENERGY_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("frame_idx", T.IntegerType(), False),
    T.StructField("n_samples", T.IntegerType(), False),
    T.StructField("energy", T.LongType(), False),       # sum of sample^2
    T.StructField("peak", T.IntegerType(), False),      # max |sample|
])


def _decode_wav_raw(payload: bytes) -> np.ndarray | None:
    """16-bit PCM WAV -> RAW int32 samples of channel 0 (no normalization —
    downstream framing stays integer-exact). None if not 16-bit PCM."""
    if not payload.startswith(b"RIFF"):
        return None
    try:
        with wave.open(io.BytesIO(bytes(payload))) as f:
            if f.getsampwidth() != 2:
                return None
            frames = f.readframes(f.getnframes())
            ch = f.getnchannels()
    except (wave.Error, EOFError, struct.error):
        return None
    x = np.frombuffer(frames, dtype="<i2").astype(np.int32)
    if ch > 1:
        x = x.reshape(-1, ch)[:, 0]
    return x


def frame_audio_energy(df: DataFrame, frame_len: int = 16,
                       hop: int = 8) -> DataFrame:
    """Sliding-window audio framing — the first stage of every audio
    feature extractor (MFCC/VAD/silence trim): each 16-bit-PCM clip
    explodes into frames of ``frame_len`` samples every ``hop``, with the
    frame's ENERGY (sum of squared samples) and PEAK (max absolute
    sample), both exact integers — no float anywhere, so a SQL oracle can
    replay the values bit-for-bit from a deterministic waveform.

    Plumbing: non-audio rows are dropped JVM-side; the Arrow stage decodes
    each clip once and emits a strided view (numpy ``sliding_window_view``
    — no per-frame copy). 1:N fan-out is bounded by ``n_samples/hop``
    rows per clip; undecodable audio payloads are skipped (None rows
    would poison integer columns)."""
    if frame_len <= 0 or hop <= 0:
        raise ValueError("frame_len and hop must be positive")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, ns, es, ps = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                x = _decode_wav_raw(bytes(payload))
                if x is None or x.size < frame_len:
                    continue
                win = np.lib.stride_tricks.sliding_window_view(x, frame_len)
                win = win[::hop].astype(np.int64)
                n = win.shape[0]
                ids.extend([int(mid)] * n)
                idxs.extend(range(n))
                ns.extend([frame_len] * n)
                es.extend((win * win).sum(axis=1).tolist())
                ps.extend(np.abs(win).max(axis=1).tolist())
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "n_samples": pd.Series(ns, dtype="int32"),
                "energy": pd.Series(es, dtype="int64"),
                "peak": pd.Series(ps, dtype="int32"),
            })

    return (df.where(F.col("kind") == "audio")
              .mapInPandas(run, schema=_FRAME_ENERGY_SCHEMA))


# -- perceptual image hashing (real decode, integer-exact) ------------------

_AHASH_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("ahash_bits", T.StringType(), False),  # 64-char '0'/'1'
])


def image_ahash(df: DataFrame, grid: int = 8) -> DataFrame:
    """Perceptual average-hash (aHash) of decodable images: ``grid²`` bits,
    bit p = "block p is at least as bright as the image mean".  The
    threshold is the INTEGER inequality ``N·B_p ≥ Σ B`` (B_p = summed
    channel values over block p, N = grid²) — no float division, so the
    hash is bit-identical in any engine, and a uniform brightness shift
    +b changes both sides by exactly ``N·(pixels·channels·b)``:
    brightness-shifted copies hash IDENTICALLY (the property exact/md5
    dedup lacks — this is the image analog of MinHash text near-dup).

    Emits the raw 64-char bitstring; group near-dups by equality (or by
    band-substrings for hamming-tolerant LSH, exactly like SimHash's
    pigeonhole bands).  Images are average-pooled to ``grid×grid`` by
    exact integer block sums; edges beyond the largest multiple of
    ``grid`` are cropped.  Non-image rows drop JVM-side; undecodable
    payloads are skipped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_blocks = grid * grid
        for pdf in batches:
            ids, bits = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                if payload is None:
                    continue
                arr = _decode_image(payload)
                if arr is None:
                    continue
                h, w = arr.shape[:2]
                bh, bw = h // grid, w // grid
                if bh == 0 or bw == 0:
                    continue
                crop = arr[:bh * grid, :bw * grid].astype(np.int64)
                csum = crop.sum(axis=2)  # per-pixel channel sum
                blocks = (csum.reshape(grid, bh, grid, bw)
                              .sum(axis=(1, 3)))           # (grid, grid)
                total = int(blocks.sum())
                flat = (n_blocks * blocks.reshape(-1) >= total)
                ids.append(int(mid))
                bits.append("".join("1" if b else "0" for b in flat))
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "ahash_bits": pd.Series(bits, dtype=object),
            })

    return (df.where(F.col("kind") == "image")
              .mapInPandas(run, schema=_AHASH_SCHEMA))


# -- header-only metadata probing (no decode) --------------------------------

_PROBE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("format", T.StringType(), True),    # ppm|png|jpeg|wav|None
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
])


def _sane_dims(w: int, h: int) -> bool:
    """Headers are untrusted: dimensions must be positive and fit the
    probe schema's int32 — a crafted IHDR claiming width 4e9 must probe
    as corrupt, not crash the Arrow batch."""
    return 0 < w < 2 ** 31 and 0 < h < 2 ** 31


def probe_format_and_dims(payload: bytes) -> tuple[str, int, int] | None:
    """Container format + pixel dimensions from HEADERS ONLY — no pixel
    decode, no decompression: curating 100 TB of media by size/aspect
    must not pay the decode. PPM reads the ASCII header, PNG the fixed
    IHDR offsets, JPEG walks markers to the first SOF (any DCT variant —
    dims live in the frame header for baseline and progressive alike),
    WAV reports (None, None) dims."""
    d = bytes(payload)
    if d[:2] == b"P6":
        fields = []
        i = 2
        # header fields precede the raster but comments can push them
        # well past the first bytes — bound the scan generously
        while len(fields) < 2 and i < min(len(d), 4096):
            c = d[i:i + 1]
            if c == b"#":
                j = d.find(b"\n", i)
                if j < 0:
                    return None
                i = j + 1
            elif c.isspace():
                i += 1
            elif c.isdigit():
                j = i
                while j < len(d) and d[j:j + 1].isdigit():
                    j += 1
                fields.append(int(d[i:j]))
                i = j
            else:
                return None
        if len(fields) == 2 and _sane_dims(fields[0], fields[1]):
            return ("ppm", fields[0], fields[1])
        return None
    if d[:8] == _PNG_SIG and len(d) >= 24 and d[12:16] == b"IHDR":
        w, h = struct.unpack(">II", d[16:24])
        return ("png", w, h) if _sane_dims(w, h) else None
    if d[:2] == b"\xFF\xD8":
        i = 2
        while i + 9 <= len(d):
            if d[i] != 0xFF:
                return None
            while i + 2 < len(d) and d[i + 1] == 0xFF:   # fill padding
                i += 1
            if i + 9 > len(d):       # the skip moved past the loop guard
                return None
            marker = d[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seglen = struct.unpack(">H", d[i + 2:i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", d[i + 5:i + 9])
                return ("jpeg", w, h) if _sane_dims(w, h) else None
            if marker in (0xDA, 0xD9):
                return None
            i += 2 + seglen
        return None
    if d[:4] == b"RIFF" and d[8:12] == b"WAVE":
        return ("wav", None, None)
    return None


def probe_media(df: DataFrame) -> DataFrame:
    """Header-only probe over every media row via ``mapInPandas`` —
    unknown/corrupt payloads surface as NULL format, never an error."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fmts, ws, hs = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                got = None
                if payload is not None:
                    try:
                        got = probe_format_and_dims(bytes(payload))
                    except Exception:
                        got = None
                ids.append(int(mid))
                fmts.append(got[0] if got else None)
                ws.append(got[1] if got else None)
                hs.append(got[2] if got else None)
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "format": pd.Series(fmts, dtype=object),
                "width": pd.Series(ws, dtype="Int32"),
                "height": pd.Series(hs, dtype="Int32"),
            })

    return df.mapInPandas(run, schema=_PROBE_SCHEMA)
