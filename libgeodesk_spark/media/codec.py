"""Deterministic self-contained image codec — real PNG, stand-in lossy.

* ``png``  — REAL spec-level PNG (since r5): 8-byte signature,
  IHDR/IDAT/IEND chunks with big-endian lengths and CRC-32s, zlib
  stream of filter-prefixed scanlines. Encode emits filter 0 (None) RGB
  truecolor; decode accepts all five PNG filter types (None/Sub/Up/
  Average/Paeth), multiple IDAT chunks, and RGB (color type 2) or RGBA
  (6, alpha dropped) at bit depth 8 — i.e. the PNGs external tools
  actually write round-trip here, and blobs written here open in any
  external viewer. Interlace / palette / 16-bit raise the honest
  NotImplementedError.
* ``bmp``  — REAL spec-level Windows BMP (since r5): BITMAPFILEHEADER +
  BITMAPINFOHEADER, 24-bit BI_RGB, BGR rows bottom-up padded to 4-byte
  stride. Decode also accepts 32-bit (BGRA, alpha dropped), top-down
  (negative height) rows, and any info-header ≥ 40 bytes (V4/V5) —
  the BMPs external tools actually write. Palette / RLE / 16-bit raise
  the honest NotImplementedError.
* ``jpeg`` — uniform quantization (step Q=6) + zlib (LOSSY: decoded pixels
  differ from the source; PSNR ≈ 43 dB > the 40 dB gate), mirroring a
  quality-ladder JPEG in spirit: encode is deterministic and idempotent
  (re-encoding already-quantized pixels is the identity, like re-saving a
  JPEG with the same quant tables). This stays the hot-path FJPG
  container — the Huffman layer of real JPEG is inherently sequential
  and would dominate the memory-bandwidth-bound re-encode stage.
* ``jpeg_baseline`` — REAL spec-level JPEG/JFIF (since r5,
  media/jpeg.py): ITU-T T.81 SOF0 encode (Annex K tables, 4:4:4/
  4:2:2/4:2:0); decode accepts baseline AND progressive (SOF2)
  grayscale/YCbCr at any {1,2}x{1,2} sampling, restart markers,
  multi-segment DQT/DHT — i.e. the JPEGs external tools actually
  write, cross-validated against JDK ImageIO both directions
  (tests/test_interop.py). Inbound real JPEGs (0xFFD8 SOI) decode
  transparently; arithmetic/12-bit raise the honest
  NotImplementedError. This is the interchange boundary; the engine's
  internal quality ladder stays FJPG.

All functions are numpy-vectorized per image; batch loops live in Arrow
UDF wrappers (operators/tileagg.py), never per-pixel Python. (Decode of
inbound Average/Paeth-filtered rows is the one per-pixel path — a
sequential data dependency the spec imposes; our own blobs are filter 0
and stay vectorized.)

Private container format (little-endian):
  magic[4] = b'FJPG', then uint16 w, uint16 h, uint8 q, then the zlib
  stream of the quantized RGB pixels.

Every inflate is bounded by the size its header declares: dimensions
are checked against ``MAX_DIM`` first, and a stream whose inflated size
differs from the declared one raises ValueError (``_inflate``).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC_JPG = b"FJPG"
PNG_SIG = b"\x89PNG\r\n\x1a\n"
BMP_SIG = b"BM"

JPEG_Q = 6  # quantization step -> MSE ~ (Q^2-1)/12 ~ 2.9 -> PSNR ~ 43.5 dB

#: C-kernel dimension bound (also the pure decoder's sanity guard):
#: the engine's own tiles are <= 64 px; anything past 2^15 per axis is a
#: corrupt header, not an image
MAX_DIM = 1 << 15

_FC = None
_FC_CHECKED = False


def _fc():
    """The optional C kernel (media/_fastcodec.py) or None. Every C path
    is a bit-identical mirror of the numpy code below with a pure
    fallback, so callers never see a behavioral difference."""
    global _FC, _FC_CHECKED
    if not _FC_CHECKED:
        try:
            from libgeodesk_spark.media import _fastcodec
            _FC = _fastcodec.load()
        except Exception:
            _FC = None
        _FC_CHECKED = True
    return _FC


_SCRATCH: dict[str, np.ndarray] = {}


def _scratch(key: str, size: int) -> np.ndarray:
    """Per-process grow-on-demand uint8 scratch (heavy init once per
    worker, guide §4.5)."""
    buf = _SCRATCH.get(key)
    if buf is None or buf.size < size:
        buf = np.empty(max(size, 65536), dtype=np.uint8)
        _SCRATCH[key] = buf
    return buf


_GRADIENT_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _gradient(w: int, h: int) -> np.ndarray:
    base = _GRADIENT_CACHE.get((w, h))
    if base is None:
        yy, xx = np.mgrid[0:h, 0:w]
        base = np.stack([
            (xx * 255 // max(w - 1, 1)),
            (yy * 255 // max(h - 1, 1)),
            ((xx + yy) * 255 // max(w + h - 2, 1)),
        ], axis=-1).astype(np.int16)
        _GRADIENT_CACHE[(w, h)] = base
    return base


def synth_pixels(seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic procedural image: gradient + seeded noise (FIXTURES.md).
    The gradient base depends only on (w, h) and is cached per worker —
    the seeded noise carries all the per-image variation.

    In-place add/clip into the noise buffer: the codec path is
    memory-bandwidth-bound at full thread count (BENCH/BASELINE.md
    hardware controls), so every avoided intermediate array is direct
    throughput."""
    rng = np.random.default_rng(seed & 0xFFFFFFFF)
    acc = rng.integers(-32, 33, size=(h, w, 3), dtype=np.int16)
    lib = _fc()
    if lib is not None:
        # fused add+clip+narrow in one C pass (identical int math)
        out = np.empty((h, w, 3), dtype=np.uint8)
        lib.synth_finish(acc.ctypes.data, _gradient(w, h).ctypes.data,
                         out.ctypes.data, acc.size)
        return out
    acc += _gradient(w, h)
    np.clip(acc, 0, 255, out=acc)
    return acc.astype(np.uint8)


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    # incremental CRC (crc32(payload, crc32(ctype))) avoids the
    # ctype+payload concat copy the one-shot form pays per chunk
    crc = zlib.crc32(payload, zlib.crc32(ctype)) & 0xFFFFFFFF
    return (struct.pack(">I", len(payload)) + ctype + payload
            + struct.pack(">I", crc))


def encode_png(pixels: np.ndarray) -> bytes:
    """Spec-level PNG: RGB8 truecolor, filter 0 scanlines, one IDAT.

    Copy-lean: the scanline buffer is np.empty (only the filter column is
    zeroed) and feeds zlib.compress via the buffer protocol directly —
    two fewer full-image passes than zeros+tobytes, same bytes out."""
    h, w = pixels.shape[:2]
    u8 = np.ascontiguousarray(pixels, dtype=np.uint8).reshape(h, w * 3)
    lines = np.empty((h, 1 + w * 3), dtype=np.uint8)
    lines[:, 0] = 0                                    # filter 0 per row
    lines[:, 1:] = u8
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return b"".join((PNG_SIG, _png_chunk(b"IHDR", ihdr),
                     _png_chunk(b"IDAT", zlib.compress(lines, 6)),
                     _png_chunk(b"IEND", b"")))


def _png_defilter(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """Reverse PNG scanline filtering (spec §9): recon from the five
    filter types. None/Sub/Up rows are fully vectorized; Average and
    Paeth carry the spec's inherent left-pixel data dependency, so their
    serial pass runs over plain Python lists with local-variable
    arithmetic (~10x the old per-element numpy indexing; the remaining
    cost is the spec's, not the loop's — measured in BENCH/MEDIA.md)."""
    stride = w * bpp
    if len(raw) != h * (stride + 1):
        raise ValueError(f"PNG data length {len(raw)} != {h}×(1+{stride})")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    ftypes = arr[:, 0]
    if not ftypes.any():
        # all-None fast path (what our encoder and the hot re-encode
        # loop produce): defilter is a pure slice copy, no row loop
        px = np.ascontiguousarray(arr[:, 1:]).reshape(h, w, bpp)
        return px[:, :, :3] if bpp == 4 else px
    if (ftypes > 4).any():
        bad = int(ftypes[ftypes > 4][0])
        raise ValueError(f"PNG filter type {bad} out of range")
    out = np.empty((h, stride), dtype=np.uint8)
    prior_list: list | None = None          # prev recon row as python ints
    for y in range(h):
        ft = int(ftypes[y])
        row = arr[y, 1:]
        if ft == 0:
            out[y] = row
            rec_list = None
        elif ft == 1:    # Sub: + recon left — cumsum per channel lane
            out[y] = (np.cumsum(row.reshape(w, bpp), axis=0, dtype=np.int64)
                      .reshape(stride) & 0xFF)
            rec_list = None
        elif ft == 2:    # Up — uint8 addition wraps mod 256 natively
            np.add(row, out[y - 1] if y else 0, out=out[y],
                   dtype=np.uint8, casting="unsafe")
            rec_list = None
        else:            # Average (3) / Paeth (4): serial left dependency
            rl = row.tolist()
            pl = (prior_list if prior_list is not None
                  else (out[y - 1].tolist() if y else [0] * stride))
            if ft == 3:
                for x in range(bpp):
                    rl[x] = (rl[x] + (pl[x] >> 1)) & 0xFF
                for x in range(bpp, stride):
                    rl[x] = (rl[x] + ((rl[x - bpp] + pl[x]) >> 1)) & 0xFF
            else:
                # first pixel: a = c = 0 -> predictor is b (also when b=0)
                for x in range(bpp):
                    rl[x] = (rl[x] + pl[x]) & 0xFF
                for x in range(bpp, stride):
                    a = rl[x - bpp]
                    b = pl[x]
                    c = pl[x - bpp]
                    p = a + b - c
                    pa = p - a if p >= a else a - p
                    pb = p - b if p >= b else b - p
                    pc = p - c if p >= c else c - p
                    if pa <= pb and pa <= pc:
                        pr = a
                    elif pb <= pc:
                        pr = b
                    else:
                        pr = c
                    rl[x] = (rl[x] + pr) & 0xFF
            out[y] = rl
            rec_list = rl
        prior_list = rec_list
    px = out.reshape(h, w, bpp)
    return px[:, :, :3] if bpp == 4 else px


def _inflate(buf, expected: int, what: str) -> bytes:
    """Inflate at most ``expected + 1`` bytes: a stream whose output is
    not exactly the size its header declares raises ValueError without
    ever holding more than that (a decompression bomb costs its declared
    size, not its inflated size)."""
    raw = zlib.decompressobj().decompress(buf, expected + 1)
    if len(raw) != expected:
        raise ValueError(f"{what} data length {len(raw)} != {expected}")
    return raw


def decode_png(data: bytes) -> np.ndarray:
    """Parse a real PNG: chunk walk with CRC verification, IDAT concat,
    defilter. RGB/RGBA bit-depth-8 non-interlaced only (the honest
    boundary); alpha is dropped to the (h, w, 3) pixel contract.

    The walk runs over a memoryview (zero-copy payload slices,
    incremental CRC) — the single-IDAT common case touches the
    compressed bytes exactly once before inflate."""
    mv = memoryview(data)
    if bytes(mv[:8]) != PNG_SIG:
        raise ValueError("not a PNG signature")
    pos, w = 8, None
    n = len(mv)
    idat: list = []
    while pos + 8 <= n:
        (ln,) = struct.unpack_from(">I", mv, pos)
        ctype = bytes(mv[pos + 4:pos + 8])
        if pos + 12 + ln > n:
            raise ValueError(f"truncated {ctype!r} chunk")
        payload = mv[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", mv, pos + 8 + ln)
        if crc != (zlib.crc32(payload, zlib.crc32(ctype)) & 0xFFFFFFFF):
            raise ValueError(f"bad CRC on {ctype!r} chunk")
        pos += 12 + ln
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = \
                struct.unpack(">IIBBBBB", payload)
            if depth != 8 or color not in (2, 6) or comp or filt:
                raise NotImplementedError(
                    f"PNG depth={depth} color={color}: only RGB/RGBA "
                    f"bit-depth 8 decodes here (no palette/gray/16-bit)")
            if interlace:
                raise NotImplementedError("Adam7 interlace not supported")
        elif ctype == b"IDAT":
            idat.append(payload)
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    if not (0 < w <= MAX_DIM and 0 < h <= MAX_DIM):
        raise ValueError(f"PNG dimensions {w}x{h} out of range")
    bpp = 4 if color == 6 else 3
    raw = _inflate(idat[0] if len(idat) == 1 else b"".join(idat),
                   h * (1 + w * bpp), "PNG")
    return _png_defilter(raw, w, h, bpp)


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Spec-level Windows BMP: 14-byte file header + 40-byte
    BITMAPINFOHEADER, 24-bit BI_RGB, BGR bottom-up rows padded to a
    4-byte stride — the maximally-compatible shape every viewer reads.
    Fully vectorized (one reversed-slice copy into the padded row
    buffer; no per-pixel Python)."""
    h, w = pixels.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.empty((h, stride), dtype=np.uint8)
    if stride > w * 3:
        rows[:, w * 3:] = 0                   # zero only the pad columns
    rows[:, :w * 3] = pixels[::-1, :, ::-1].reshape(h, w * 3)
    img_size = h * stride
    header = (BMP_SIG
              + struct.pack("<IHHI", 14 + 40 + img_size, 0, 0, 14 + 40)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            img_size, 2835, 2835, 0, 0))
    return header + rows.tobytes()


def decode_bmp(data: bytes) -> np.ndarray:
    """Parse a real BMP: BI_RGB 24-bit (and 32-bit BGRA, alpha dropped),
    bottom-up or top-down rows, info header ≥ 40 bytes (accepts V4/V5
    headers external tools emit). Palette/RLE/16-bit raise — the honest
    boundary."""
    if bytes(data[:2]) != BMP_SIG:
        raise ValueError("not a BMP signature")
    (offset,) = struct.unpack("<I", bytes(data[10:14]))
    (hdr_size,) = struct.unpack("<I", bytes(data[14:18]))
    if hdr_size < 40:
        raise NotImplementedError(
            f"BMP core header ({hdr_size} B): only BITMAPINFOHEADER+ "
            f"(≥40 B) decodes here")
    w, hh, _planes, bpp, comp = struct.unpack("<iiHHI", bytes(data[18:34]))
    if comp != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP bpp={bpp} compression={comp}: only uncompressed "
            f"24/32-bit BI_RGB decodes here (no palette/RLE/16-bit)")
    top_down, h = hh < 0, abs(hh)
    # dimension guard (same policy as the PNG and FJPG decoders):
    # out-of-range dims raise instead of decoding to an absurd array
    if not (0 < w <= MAX_DIM and 0 < h <= MAX_DIM):
        raise ValueError(f"BMP dimensions {w}x{hh} out of range")
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    if offset + h * stride > len(data):
        raise ValueError(f"BMP data truncated: need {h * stride} B at "
                         f"offset {offset}, have {len(data)}")
    raw = np.frombuffer(data, dtype=np.uint8, count=h * stride,
                        offset=offset).reshape(h, stride)
    px = raw[:, :w * nch].reshape(h, w, nch)[:, :, 2::-1]  # BGR(A)→RGB
    if not top_down:
        px = px[::-1]
    return np.ascontiguousarray(px)


def _encode_fjpg_pure(u8: np.ndarray) -> bytes:
    h, w = u8.shape[:2]
    q = JPEG_Q
    # uint8-native quantization: (255//6)*6+3 = 255, so no overflow
    # and no clip — bit-identical to the int16+clip formulation but
    # without the 16-bit round-trip; the multiply/add run in-place on
    # the floor-div output and the contiguous array feeds
    # zlib.compress via the buffer protocol (no tobytes copy)
    quant = u8 // q
    np.multiply(quant, q, out=quant)
    np.add(quant, q // 2, out=quant)
    return (MAGIC_JPG + struct.pack("<HHB", w, h, q)
            + zlib.compress(quant, 6))


def _decode_fjpg_pure(data: bytes, w: int, h: int) -> np.ndarray:
    raw = _inflate(bytes(data[9:]), w * h * 3, "FJPG")
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    h, w = pixels.shape[:2]
    u8 = np.ascontiguousarray(pixels, dtype=np.uint8)
    lib = _fc()
    if (lib is not None and u8.ndim == 3 and u8.shape[2] == 3
            and 0 < w <= MAX_DIM and 0 < h <= MAX_DIM
            and fmt in ("png", "jpeg", "bmp")):
        n = u8.size
        out = _scratch("enc_out", n + (n >> 6) + 4096)
        if fmt == "png":
            tmp = _scratch("enc_tmp", n + h)
            ln = lib.png_encode(u8.ctypes.data, w, h, tmp.ctypes.data,
                                out.ctypes.data, out.size)
        elif fmt == "jpeg":
            tmp = _scratch("enc_tmp", n + h)
            ln = lib.fjpg_encode(u8.ctypes.data, w, h, tmp.ctypes.data,
                                 out.ctypes.data, out.size)
        else:
            ln = lib.bmp_encode(u8.ctypes.data, w, h,
                                out.ctypes.data, out.size)
        if ln > 0:
            return out[:ln].tobytes()
        # fall through to the authoritative pure path on any C refusal
    if fmt == "bmp":
        return encode_bmp(u8)
    if fmt == "png":
        return encode_png(u8)
    if fmt == "jpeg_baseline":     # real T.81 interchange encode
        from libgeodesk_spark.media import jpeg as _jpeg
        return _jpeg.encode_jpeg(u8, quality=95)
    if fmt == "jpeg":
        return _encode_fjpg_pure(u8)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode(data: bytes) -> tuple[np.ndarray, str]:
    if not isinstance(data, bytes):
        data = bytes(data)
    lib = _fc()
    if bytes(data[:8]) == PNG_SIG:
        if lib is not None:
            meta = np.empty(3, dtype=np.uint32)
            if lib.png_head(data, len(data), meta.ctypes.data) == 0:
                w, h, color = int(meta[0]), int(meta[1]), int(meta[2])
                if 0 < w <= MAX_DIM and 0 < h <= MAX_DIM:
                    bpp = 4 if color == 6 else 3
                    px = np.empty((h, w, 3), dtype=np.uint8)
                    tmp = _scratch("dec_tmp", h * (w * bpp + 1))
                    if lib.png_decode_f0(data, len(data), px.ctypes.data,
                                         px.size, tmp.ctypes.data,
                                         tmp.size) == 0:
                        return px, "png"
        return decode_png(data), "png"
    if bytes(data[:2]) == b"\xff\xd8":   # real JPEG SOI
        from libgeodesk_spark.media import jpeg as _jpeg
        return _jpeg.decode_jpeg(data), "jpeg_baseline"
    if bytes(data[:2]) == BMP_SIG:
        if lib is not None and len(data) >= 54:
            w, hh = struct.unpack("<ii", data[18:26])
            h = abs(hh)
            if 0 < w <= MAX_DIM and 0 < h <= MAX_DIM:
                px = np.empty((h, w, 3), dtype=np.uint8)
                meta = np.empty(2, dtype=np.int32)
                if lib.bmp_decode(data, len(data), px.ctypes.data,
                                  px.size, meta.ctypes.data) == 0:
                    return px, "bmp"
        return decode_bmp(data), "bmp"
    magic = bytes(data[:4])
    if magic == MAGIC_JPG:
        w, h, _q = struct.unpack("<HHB", bytes(data[4:9]))
        if not (w <= MAX_DIM and h <= MAX_DIM):
            raise ValueError(f"FJPG dimensions {w}x{h} out of range")
        if lib is not None and w > 0 and h > 0:
            px = np.empty((h, w, 3), dtype=np.uint8)
            if lib.fjpg_decode(data, len(data), px.ctypes.data,
                               px.size) == 0:
                return px, "jpeg"
        return _decode_fjpg_pure(data, w, h), "jpeg"
    raise ValueError(f"bad magic {magic!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images.

    Identical arrays short-circuit on a byte compare (1 read pass) before
    paying the float64 conversion (8x the memory traffic) — the common
    case on lossless formats and idempotent jpeg re-encodes."""
    if a.shape == b.shape and np.array_equal(a, b):
        return float("inf")
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def reencode(data: bytes, target_fmt: str | None = None) -> bytes:
    """Decode + re-encode (same format unless target given). Idempotent for
    jpeg (quantization of quantized pixels is the identity)."""
    px, fmt = decode(data)
    return encode(px, target_fmt or fmt)
