"""Multimodal payload plumbing: audio / video as opaque binary columns with
typed metadata, processed in Arrow batches.

Codec tiers (dispatch on container magic):

* **REAL, dependency-free**: RIFF/WAVE PCM audio (:func:`decode_wav`)
  and RIFF/AVI video (:func:`decode_avi`) in both uncompressed-DIB and
  Motion-JPEG forms (one real baseline JPEG per frame, media/jpeg.py) —
  full spec-level parsers, no external library.
* **Deterministic fakes** (FAUD/FVID): procedural payloads for gates and
  benches.
* **Stubbed**: compressed formats (FLAC/mp3/ogg · h264/vp9) raise a
  clearly-marked ``NotImplementedError`` — they need libsndfile/ffmpeg,
  absent from this container (``REAL_CODECS`` is the future hook).
  Swapping one in means replacing one decode function, not
  re-architecting: the Spark-side plumbing (schemas, batching,
  partitioning, UDF signatures) is identical across tiers.

Schemas follow the image table's pattern (input_hint): payload bytes are
opaque; metadata columns are typed and queryable without touching bytes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

AUDIO_SCHEMA = T.StructType([
    T.StructField("clip_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("sample_rate", T.IntegerType(), False),
    T.StructField("n_samples", T.IntegerType(), False),
    T.StructField("channels", T.IntegerType(), False),
    T.StructField("codec", T.StringType(), False),
])

VIDEO_SCHEMA = T.StructType([
    T.StructField("video_id", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), True),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("n_frames", T.IntegerType(), False),
    T.StructField("fps", T.IntegerType(), False),
    T.StructField("codec", T.StringType(), False),
])

MAGIC_AUD = b"FAUD"
MAGIC_VID = b"FVID"

REAL_CODECS = False   # flip when libsndfile/ffmpeg-class decoders exist
                      # (WAV/RIFF PCM + AVI are always real — parsed
                      # here, dependency-free; the flag gates compressed
                      # FLAC/mp3/ogg audio + h264/vp9 video)


# -- REAL container: WAV (RIFF) PCM — dependency-free ------------------------
#
# The audio path's non-fake mode (VERDICT r3 'Next round' #5): standard
# RIFF/WAVE with PCM16 (format 1) or IEEE float32 (format 3) payloads,
# chunk-walked per spec (unknown chunks skipped, odd-size padding
# honored), so real-world WAVs — incl. ones carrying LIST/INFO metadata
# chunks — decode without any external library.

def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """float32 [-1, 1] (n,) or (n, ch) → RIFF/WAVE PCM16 bytes.
    Quantization matches the fake codec (rint, clip) so the two paths
    share round-trip semantics."""
    s = np.asarray(samples, dtype=np.float32)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    q = np.clip(np.rint(s * 32767), -32768, 32767).astype("<i2")
    data = np.ascontiguousarray(q).tobytes()
    block = ch * 2
    fmt = struct.pack("<HHIIHH", 1, ch, sample_rate,
                      sample_rate * block, block, 16)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    if len(data) % 2:                       # RIFF chunks are word-aligned
        body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE → (float32 samples in [-1, 1], sample_rate). Mono stays
    (n,); multi-channel returns (n, ch). Accepts PCM 8/16/32-bit
    (format 1) and IEEE float32 (format 3); walks and skips any other
    chunk (LIST, fact, cue, ...)."""
    buf = bytes(data)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE container")
    pos, end = 12, 8 + struct.unpack("<I", buf[4:8])[0]
    end = min(end, len(buf))
    fmt_code = channels = rate = bits = None
    raw = None
    while pos + 8 <= end:
        cid = buf[pos:pos + 4]
        size = struct.unpack("<I", buf[pos + 4:pos + 8])[0]
        payload = buf[pos + 8:pos + 8 + size]
        if cid == b"fmt ":
            fmt_code, channels, rate, _bps, _ba, bits = \
                struct.unpack("<HHIIHH", payload[:16])
            if fmt_code == 0xFFFE and size >= 40:   # WAVE_FORMAT_EXTENSIBLE
                fmt_code = struct.unpack("<H", payload[24:26])[0]
        elif cid == b"data":
            raw = payload
        pos += 8 + size + (size & 1)        # word-aligned chunk boundary
    if fmt_code is None or raw is None:
        raise ValueError("WAV missing fmt/data chunk")
    if not (1 <= channels <= 64) or not (1 <= rate <= 10_000_000):
        raise ValueError(f"WAV header out of range: ch={channels} "
                         f"rate={rate}")
    if fmt_code == 1 and bits == 16:
        s = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32767.0
    elif fmt_code == 1 and bits == 8:       # 8-bit PCM is UNSIGNED per spec
        # divide by 128 so sample 0 maps to exactly -1.0 — the output
        # contract is float32 in [-1, 1] (ADVICE r4: /127 put 0 at
        # -1.008, outside the contract; 255 now lands at +0.992)
        s = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32)
             - 128.0) / 128.0
    elif fmt_code == 1 and bits == 32:
        s = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483647.0
    elif fmt_code == 3 and bits == 32:
        s = np.frombuffer(raw, dtype="<f4").astype(np.float32)
    else:
        raise NotImplementedError(
            f"WAV format {fmt_code}/{bits}-bit needs libsndfile — only "
            f"PCM 8/16/32 and float32 decode here")
    if channels > 1:
        s = s[:len(s) - len(s) % channels].reshape(-1, channels)
    return s, rate


# -- deterministic fake codec (the container form is real; samples are
#    procedurally generated) -------------------------------------------------

def synth_audio(seed: int, n_samples: int, sample_rate: int = 16000) -> np.ndarray:
    rng = np.random.default_rng(seed & 0xFFFFFFFF)
    t = np.arange(n_samples, dtype=np.float32) / sample_rate
    freq = 110.0 * (1 + (seed % 16))
    return (0.8 * np.sin(2 * np.pi * freq * t)
            + 0.05 * rng.standard_normal(n_samples).astype(np.float32)) \
        .astype(np.float32)   # headroom below ±1 so int16 encode never clips


def encode_audio(samples: np.ndarray, sample_rate: int) -> bytes:
    q = np.clip(np.rint(samples * 32767), -32768, 32767).astype(np.int16)
    return (MAGIC_AUD + struct.pack("<IIH", sample_rate, len(q), 1)
            + zlib.compress(q.tobytes(), 6))


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Container-dispatching audio decode: real RIFF/WAVE PCM decodes
    via :func:`decode_wav` (spec-level, no dependency); the
    deterministic fake container (MAGIC_AUD) stays for gates; anything
    else (FLAC/mp3/ogg) is the REAL_CODECS stub."""
    head = bytes(data[:4])
    if head == b"RIFF":
        return decode_wav(data)
    if head == MAGIC_AUD:
        sr, n, _ch = struct.unpack("<IIH", bytes(data[4:14]))
        q = np.frombuffer(zlib.decompress(bytes(data[14:])), dtype=np.int16)
        return (q.astype(np.float32) / 32767.0)[:n], sr
    raise NotImplementedError(
        "compressed audio (FLAC/mp3/ogg) requires libsndfile/ffmpeg — "
        "not in this container (REAL_CODECS gate)")


def synth_video(seed: int, w: int, h: int, n_frames: int) -> np.ndarray:
    from libgeodesk_spark.media.codec import synth_pixels
    frames = [synth_pixels(seed * 131 + i, w, h) for i in range(n_frames)]
    return np.stack(frames)


def encode_video(frames: np.ndarray, fps: int = 8) -> bytes:
    n, h, w, _ = frames.shape
    return (MAGIC_VID + struct.pack("<HHHH", w, h, n, fps)
            + zlib.compress(np.ascontiguousarray(frames).tobytes(), 3))


def decode_video(data: bytes) -> tuple[np.ndarray, int]:
    """Container-dispatching video decode: real AVI (RIFF) via
    :func:`decode_avi` — uncompressed DIB or Motion-JPEG, no external
    library; the deterministic FVID fake stays for gates; inter-frame
    codecs (h264/vp9/...) remain the ffmpeg stub."""
    head = bytes(data[:4])
    if head == b"RIFF":
        return decode_avi(data)
    if head == MAGIC_VID:
        w, h, n, fps = struct.unpack("<HHHH", bytes(data[4:12]))
        raw = zlib.decompress(bytes(data[12:]))
        return np.frombuffer(raw, dtype=np.uint8).reshape(n, h, w, 3), fps
    raise NotImplementedError(
        "compressed video (h264/vp9/...) requires ffmpeg — not in this "
        "container (REAL_CODECS gate)")


# -- REAL container: AVI (RIFF) with uncompressed 24-bit DIB frames ----------
#
# The video path's non-fake mode, mirroring the WAV story: standard
# RIFF/AVI per the Microsoft spec — LIST hdrl (avih + strl/strh/strf),
# LIST movi with one '00db' chunk per frame (bottom-up BGR rows, padded
# to 4-byte boundaries), idx1 index. Plays in real players; real
# uncompressed AVIs (incl. ones with extra JUNK/INFO chunks) decode here.

def encode_avi(frames: np.ndarray, fps: int = 8) -> bytes:
    """(n, h, w, 3) uint8 RGB → uncompressed AVI bytes."""
    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w, _ = frames.shape
    row_pad = (-(w * 3)) % 4
    frame_size = (w * 3 + row_pad) * h
    # per-frame DIB payload: bottom-up rows, BGR, each row 4-byte padded
    bgr = frames[:, ::-1, :, ::-1]               # flip rows, RGB→BGR
    if row_pad:
        pad = np.zeros((n, h, row_pad), dtype=np.uint8)
        rows = np.concatenate([bgr.reshape(n, h, w * 3), pad], axis=2)
    else:
        rows = bgr.reshape(n, h, w * 3)
    payloads = rows.reshape(n, frame_size)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) % 2 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    usec = int(1_000_000 / fps)
    avih = struct.pack("<IIIIIIIIIIIIII", usec, frame_size * fps, 0,
                       0x10,              # AVIF_HASINDEX
                       n, 0, 1, frame_size, w, h, 0, 0, 0, 0)
    # AVISTREAMHEADER is exactly 56 bytes: fccType/fccHandler + 8 DWORD
    # fields (dwFlags..dwSampleSize, with wPriority/wLanguage packed in
    # one) + rcFrame (4 WORDs) — review r5 found an extra DWORD here
    strh = (b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            1, fps, 0, n, frame_size,
                                            0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       frame_size, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b"".join(chunk(b"00db", p.tobytes()) for p in payloads)
    movi = lst(b"movi", movi_body)
    idx, off = [], 4
    for _ in range(n):
        idx.append(struct.pack("<4sIII", b"00db", 0x10, off, frame_size))
        off += 8 + frame_size + (frame_size % 2)
    idx1 = chunk(b"idx1", b"".join(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


MJPG_FOURCC = 0x47504A4D          # 'MJPG' little-endian


def encode_avi_mjpeg(frames: np.ndarray, fps: int = 8,
                     quality: int = 90) -> bytes:
    """(n, h, w, 3) uint8 RGB → Motion-JPEG AVI bytes: the standard
    RIFF/AVI container with one real baseline JPEG (media/jpeg.py) per
    '00dc' chunk — a genuinely COMPRESSED video format that external
    players decode, built entirely from this package's own spec-level
    codecs. Per-frame JPEG encode is the lossy boundary; the container
    round trip is exact."""
    from libgeodesk_spark.media.jpeg import encode_jpeg
    frames = np.asarray(frames, dtype=np.uint8)
    n, h, w, _ = frames.shape
    blobs = [encode_jpeg(f, quality=quality) for f in frames]
    max_size = max(len(b) for b in blobs)

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) % 2 else b"")

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    usec = int(1_000_000 / fps)
    avih = struct.pack("<IIIIIIIIIIIIII", usec, max_size * fps, 0,
                       0x10,              # AVIF_HASINDEX
                       n, 0, 1, max_size, w, h, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0,
                                            1, fps, 0, n, max_size,
                                            0xFFFFFFFF, 0)
            + struct.pack("<4H", 0, 0, w, h))
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, MJPG_FOURCC,
                       max_size, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", b) for b in blobs))
    idx, off = [], 4
    for b in blobs:
        idx.append(struct.pack("<4sIII", b"00dc", 0x10, off, len(b)))
        off += 8 + len(b) + (len(b) % 2)
    idx1 = chunk(b"idx1", b"".join(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(data: bytes) -> tuple[np.ndarray, int]:
    """AVI → ((n, h, w, 3) uint8 RGB, fps). Walks RIFF chunks per spec
    (word alignment, unknown chunks skipped); supports 24-bit bottom-up
    DIB ('DIB '/raw vids streams, '00db' frames) and Motion-JPEG
    ('MJPG' biCompression, one baseline JPEG per '00dc' chunk)."""
    buf = bytes(data)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI container")

    w = h = None
    rate = scale = 1
    comp = 0
    frames = []
    stream_no = 0        # strh document order defines stream numbering
    vid_no = None        # which NN the video's 'NNdb' chunks carry

    def walk(pos: int, end: int):
        nonlocal w, h, rate, scale, stream_no, vid_no, comp
        # strf has no type of its own: it belongs to the stream whose
        # strh preceded it WITHIN THE SAME strl LIST. Track that stream
        # type per walk frame, so an audio strl's WAVEFORMATEX is never
        # misread as a BITMAPINFOHEADER (audio-carrying AVIs are the
        # common real-world shape)
        cur_stream = None
        while pos + 8 <= end:
            cid = buf[pos:pos + 4]
            size = struct.unpack("<I", buf[pos + 4:pos + 8])[0]
            body_at = pos + 8
            if cid == b"LIST":
                walk(body_at + 4, body_at + size)
            elif cid == b"strh":
                cur_stream = buf[body_at:body_at + 4]
                if cur_stream == b"vids" and vid_no is None:
                    vid_no = stream_no
                stream_no += 1
                if cur_stream == b"vids":
                    # AVISTREAMHEADER after fccType+fccHandler: dwFlags,
                    # wPriority, wLanguage, dwInitialFrames, dwScale,
                    # dwRate
                    _fl, _pr, _la, _init, scale, rate = struct.unpack(
                        "<IHHIII", buf[body_at + 8:body_at + 28])
            elif cid == b"strf" and cur_stream == b"vids":
                _sz, w, h = struct.unpack("<Iii", buf[body_at:body_at + 12])
                bits = struct.unpack("<H", buf[body_at + 14:body_at + 16])[0]
                comp = struct.unpack("<I", buf[body_at + 16:body_at + 20])[0]
                if comp == MJPG_FOURCC:
                    pass               # Motion-JPEG: decoded per frame below
                elif bits != 24 or comp != 0:
                    raise NotImplementedError(
                        f"AVI stream {bits}-bit compression={comp:#x} needs "
                        f"ffmpeg — only uncompressed 24-bit DIB and "
                        f"Motion-JPEG decode here")
            elif cid[2:4] in (b"db", b"dc") and cid[:2].isdigit():
                if vid_no is not None and int(cid[:2]) == vid_no:
                    frames.append(buf[body_at:body_at + size])
            pos = body_at + size + (size & 1)

    walk(12, 8 + struct.unpack("<I", buf[4:8])[0])
    if w is None or not frames:
        raise ValueError("AVI missing stream format / frames")
    bottom_up = h > 0
    h = abs(h)
    # sanity bounds BEFORE allocating (n, h, w, 3): a corrupted header
    # dimension must raise, not attempt a petabyte ndarray
    if not (0 < w <= 1 << 15 and 0 < h <= 1 << 15):
        raise ValueError(f"AVI dimensions out of range: {w}x{h}")
    fps = max(1, round(rate / max(scale, 1)))
    if comp == MJPG_FOURCC:
        from libgeodesk_spark.media.jpeg import decode_jpeg
        out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
        for i, blob in enumerate(frames):
            px = decode_jpeg(blob)
            if px.shape != (h, w, 3):
                raise ValueError(
                    f"MJPEG frame {i} is {px.shape[1]}x{px.shape[0]}, "
                    f"header says {w}x{h}")
            out[i] = px
        return out, fps
    stride = (w * 3) + ((-(w * 3)) % 4)
    if any(len(f) < stride * h for f in frames):
        raise ValueError("AVI frame chunk smaller than stride*height")
    out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
    for i, raw in enumerate(frames):
        rows = np.frombuffer(raw[:stride * h], dtype=np.uint8) \
            .reshape(h, stride)[:, :w * 3].reshape(h, w, 3)
        if bottom_up:
            rows = rows[::-1]
        out[i] = rows[:, :, ::-1]                # BGR→RGB
    return out, fps


# -- Spark plumbing (Arrow batch transforms) ---------------------------------

def audio_features(df: DataFrame) -> DataFrame:
    """Per-clip features via one Arrow pass: RMS (×1e6, int), zero-crossing
    count, duration_ms — the feature-extraction UDF shape."""
    out_schema = T.StructType([
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("rms_ppm", T.LongType(), False),
        T.StructField("zero_crossings", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), False),
    ])

    def feats(batches):
        for pdf in batches:
            rows = []
            for cid, blob in zip(pdf["clip_id"], pdf["bytes"]):
                s, sr = decode_audio(blob)
                rows.append({
                    "clip_id": cid,
                    "rms_ppm": int(round(float(np.sqrt(np.mean(s * s))) * 1e6)),
                    "zero_crossings": int(np.sum(np.abs(np.diff(np.signbit(s))))),
                    "duration_ms": int(len(s) * 1000 / sr),
                })
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.mapInPandas(feats, schema=out_schema)


def sample_frames(df: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling: explode each video into every_n-th frame re-encoded as
    the image codec — the video→image bridge (one Arrow pass)."""
    from libgeodesk_spark.media import codec
    out_schema = T.StructType([
        T.StructField("video_id", T.StringType(), False),
        T.StructField("frame_no", T.IntegerType(), False),
        T.StructField("frame_png", T.BinaryType(), False),
    ])

    def sample(batches):
        for pdf in batches:
            rows = []
            for vid, blob in zip(pdf["video_id"], pdf["bytes"]):
                frames, _fps = decode_video(blob)
                for i in range(0, len(frames), every_n):
                    rows.append({"video_id": vid, "frame_no": i,
                                 "frame_png": codec.encode(frames[i], "png")})
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema.fields])

    return df.mapInPandas(sample, schema=out_schema)
