"""Optional C kernel for the deterministic image codec (guide §4.2: do
the per-task heavy lifting in native code; Spark keeps distribution).

The kernel links the SAME shared zlib CPython's ``zlib`` module links
(verified at load), so every deflate/crc32 byte it produces is identical
to the pure-Python path in :mod:`codec`; quantization, scanline packing
and BGR/RGB shuffles are plain C ports of the numpy expressions. Each
entry point is a *fallback pair*: any nonzero status makes the caller
re-run the pure-numpy implementation, which is authoritative for both
results and error messages — the C path only ever replaces work it can
do bit-for-bit (asserted by a golden self-test at load; on ANY doubt the
engine silently runs pure Python, same outputs, slower).

Build: ``cc -O2 -shared -fPIC -lz`` into a content-hash-named .so under
``$SPARK_GRAFT_FASTCODEC_DIR`` (default: a per-user 0700 directory in the
system temp dir) at first import, atomically (os.replace) so concurrent
Python workers race safely; later imports dlopen the cached artifact.
A cached .so is loaded only if the effective uid owns it and neither
group nor other can write it (checked on the opened file, so it cannot
be swapped between check and load); anything else runs the pure path.
Set ``LIBGEODESK_NO_FASTCODEC=1`` to force the pure path (used by tests
to prove the two paths agree).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import shutil
import stat
import subprocess
import tempfile

C_SOURCE = r"""
#include <stdint.h>
#include <string.h>
#include <zlib.h>

static void be32(uint8_t *p, uint32_t v) {
    p[0] = v >> 24; p[1] = v >> 16; p[2] = v >> 8; p[3] = v;
}
static uint32_t rd_be32(const uint8_t *p) {
    return ((uint32_t)p[0] << 24) | ((uint32_t)p[1] << 16)
         | ((uint32_t)p[2] << 8) | p[3];
}
static void le32(uint8_t *p, uint32_t v) {
    p[0] = v; p[1] = v >> 8; p[2] = v >> 16; p[3] = v >> 24;
}
static uint32_t rd_le32(const uint8_t *p) {
    return (uint32_t)p[0] | ((uint32_t)p[1] << 8)
         | ((uint32_t)p[2] << 16) | ((uint32_t)p[3] << 24);
}
static uint32_t rd_le16(const uint8_t *p) {
    return (uint32_t)p[0] | ((uint32_t)p[1] << 8);
}

const char *fastcodec_zlib_version(void) { return zlibVersion(); }

/* ---- synth tail: out = clip(noise + gradient, 0, 255) (int16 lanes) */
void synth_finish(const int16_t *noise, const int16_t *grad,
                  uint8_t *out, uint64_t n)
{
    for (uint64_t i = 0; i < n; i++) {
        int v = (int)noise[i] + (int)grad[i];
        out[i] = (uint8_t)(v < 0 ? 0 : (v > 255 ? 255 : v));
    }
}

/* ---- FJPG (private container): magic + u16le w,h + u8 q + zlib(quant) */
static void quant6(const uint8_t *pix, uint8_t *out, uint64_t n)
{
    for (uint64_t i = 0; i < n; i++)
        out[i] = (uint8_t)((pix[i] / 6) * 6 + 3);
}

int fjpg_encode(const uint8_t *pix, uint32_t w, uint32_t h,
                uint8_t *tmp, uint8_t *out, uint64_t outcap)
{
    uint64_t n = (uint64_t)w * h * 3;
    if (outcap < 9 + compressBound(n)) return -1;
    quant6(pix, tmp, n);
    memcpy(out, "FJPG", 4);
    out[4] = w; out[5] = w >> 8; out[6] = h; out[7] = h >> 8; out[8] = 6;
    uLongf dl = outcap - 9;
    if (compress2(out + 9, &dl, tmp, n, 6) != Z_OK) return -2;
    return (int)(9 + dl);
}

int fjpg_decode(const uint8_t *blob, uint64_t bloblen,
                uint8_t *pix, uint64_t n)
{
    if (bloblen < 9) return -1;
    uLongf dl = n;
    if (uncompress(pix, &dl, blob + 9, bloblen - 9) != Z_OK) return -2;
    if (dl != n) return -3;
    return 0;
}

/* ---- PNG: RGB8 filter-0 encode; decode fast path for filter-0 blobs */
int png_encode(const uint8_t *pix, uint32_t w, uint32_t h,
               uint8_t *tmp, uint8_t *out, uint64_t outcap)
{
    uint64_t stride = (uint64_t)w * 3;
    uint64_t lines_n = (uint64_t)h * (stride + 1);
    if (outcap < 8 + 25 + 12 + compressBound(lines_n) + 12) return -1;
    for (uint32_t y = 0; y < h; y++) {
        uint8_t *row = tmp + (uint64_t)y * (stride + 1);
        row[0] = 0;
        memcpy(row + 1, pix + (uint64_t)y * stride, stride);
    }
    static const uint8_t sig[8] = {0x89,'P','N','G','\r','\n',0x1A,'\n'};
    uint8_t *p = out;
    memcpy(p, sig, 8); p += 8;
    be32(p, 13); memcpy(p + 4, "IHDR", 4);
    be32(p + 8, w); be32(p + 12, h);
    p[16] = 8; p[17] = 2; p[18] = 0; p[19] = 0; p[20] = 0;
    be32(p + 21, (uint32_t)crc32(0, p + 4, 17));
    p += 25;
    uLongf dl = outcap - (uint64_t)(p - out) - 12 - 12;
    if (compress2(p + 8, &dl, tmp, lines_n, 6) != Z_OK) return -2;
    be32(p, (uint32_t)dl); memcpy(p + 4, "IDAT", 4);
    be32(p + 8 + dl, (uint32_t)crc32(0, p + 4, dl + 4));
    p += 12 + dl;
    be32(p, 0); memcpy(p + 4, "IEND", 4);
    be32(p + 8, (uint32_t)crc32(0, (const uint8_t *)"IEND", 4));
    p += 12;
    return (int)(p - out);
}

/* meta = {w, h, color}; rc 0 ok, -3 shape for the pure path, -1 not png */
int png_head(const uint8_t *b, uint64_t n, uint32_t *meta)
{
    static const uint8_t sig[8] = {0x89,'P','N','G','\r','\n',0x1A,'\n'};
    if (n < 33 || memcmp(b, sig, 8)) return -1;
    if (rd_be32(b + 8) != 13 || memcmp(b + 12, "IHDR", 4)) return -3;
    meta[0] = rd_be32(b + 16); meta[1] = rd_be32(b + 20);
    uint8_t depth = b[24], color = b[25];
    if (depth != 8 || (color != 2 && color != 6) || b[26] || b[27] || b[28])
        return -3;
    meta[2] = color;
    return 0;
}

/* reverse PNG §9 scanline filtering in place over the scanline buffer
   (rows keep their leading filter byte; reconstructed bytes overwrite
   the filtered ones). uint8 wraparound arithmetic == the spec's mod-256.
   rc 0 ok; -3 on a filter type > 4 (pure path raises the canonical
   error). */
static int defilter(uint8_t *tmp, uint32_t w, uint32_t h, int bpp)
{
    uint64_t stride = (uint64_t)w * bpp;
    for (uint32_t y = 0; y < h; y++) {
        uint8_t *row = tmp + (uint64_t)y * (stride + 1);
        uint8_t ft = row[0];
        uint8_t *cur = row + 1;
        const uint8_t *pri = y ? row - stride : (const uint8_t *)0;
        uint64_t x;
        switch (ft) {
        case 0:
            break;
        case 1:                                   /* Sub */
            for (x = bpp; x < stride; x++) cur[x] += cur[x - bpp];
            break;
        case 2:                                   /* Up */
            if (pri) for (x = 0; x < stride; x++) cur[x] += pri[x];
            break;
        case 3:                                   /* Average */
            if (pri) {
                for (x = 0; x < (uint64_t)bpp && x < stride; x++)
                    cur[x] += (uint8_t)(pri[x] >> 1);
                for (x = bpp; x < stride; x++)
                    cur[x] += (uint8_t)(((unsigned)cur[x - bpp]
                                         + pri[x]) >> 1);
            } else {
                for (x = bpp; x < stride; x++)
                    cur[x] += (uint8_t)(cur[x - bpp] >> 1);
            }
            break;
        case 4:                                   /* Paeth */
            if (pri) {
                for (x = 0; x < (uint64_t)bpp && x < stride; x++)
                    cur[x] += pri[x];
                for (x = bpp; x < stride; x++) {
                    int a = cur[x - bpp], b2 = pri[x], c = pri[x - bpp];
                    int p = a + b2 - c;
                    int pa = p >= a ? p - a : a - p;
                    int pb = p >= b2 ? p - b2 : b2 - p;
                    int pc = p >= c ? p - c : c - p;
                    cur[x] += (uint8_t)((pa <= pb && pa <= pc)
                                        ? a : (pb <= pc ? b2 : c));
                }
            } else {
                /* y = 0: b = c = 0 -> predictor is the left pixel */
                for (x = bpp; x < stride; x++) cur[x] += cur[x - bpp];
            }
            break;
        default:
            return -3;
        }
    }
    return 0;
}

/* rc 0 ok; <0: caller falls back to the pure decoder (which re-verifies
   and raises the canonical error). CRCs are verified chunk by chunk
   exactly like the pure path before any byte is trusted. All five
   PNG §9 filter types are reconstructed in C (r6: previously only
   filter-0 streams took this path). */
int png_decode_f0(const uint8_t *b, uint64_t n, uint8_t *pix,
                  uint64_t pixcap, uint8_t *tmp, uint64_t tmpcap)
{
    uint32_t meta[3];
    int rc = png_head(b, n, meta);
    if (rc) return rc;
    uint32_t w = meta[0], h = meta[1];
    int bpp = meta[2] == 6 ? 4 : 3;
    uint64_t stride = (uint64_t)w * bpp;
    uint64_t need = (uint64_t)h * (stride + 1);
    if (tmpcap < need || pixcap < (uint64_t)w * h * 3) return -6;
    z_stream zs; memset(&zs, 0, sizeof zs);
    if (inflateInit(&zs) != Z_OK) return -5;
    zs.next_out = tmp;
    zs.avail_out = (uInt)(need > 0xFFFFFFFFu ? 0xFFFFFFFFu : need);
    uint64_t pos = 8; int saw_idat = 0, ret = Z_OK;
    while (pos + 8 <= n) {
        uint32_t ln = rd_be32(b + pos);
        const uint8_t *ctype = b + pos + 4;
        if (pos + 12 + (uint64_t)ln > n) { inflateEnd(&zs); return -5; }
        const uint8_t *payload = b + pos + 8;
        uint32_t want = rd_be32(b + pos + 8 + ln);
        uLong c = crc32(0, ctype, 4);
        c = crc32(c, payload, ln);
        if (want != (uint32_t)c) { inflateEnd(&zs); return -4; }
        if (!memcmp(ctype, "IDAT", 4)) {
            saw_idat = 1;
            zs.next_in = (Bytef *)payload; zs.avail_in = ln;
            ret = inflate(&zs, Z_NO_FLUSH);
            if (ret != Z_OK && ret != Z_STREAM_END && ret != Z_BUF_ERROR) {
                inflateEnd(&zs); return -5;
            }
        } else if (!memcmp(ctype, "IEND", 4)) {
            pos += 12 + ln; break;
        }
        pos += 12 + (uint64_t)ln;
    }
    uint64_t got = need - zs.avail_out;
    if (!saw_idat || got != need) { inflateEnd(&zs); return -5; }
    if (ret != Z_STREAM_END) {
        /* stream must end exactly at `need` bytes: probe for surplus */
        uint8_t dummy;
        zs.next_out = &dummy; zs.avail_out = 1;
        ret = inflate(&zs, Z_FINISH);
        if (!(ret == Z_STREAM_END && zs.avail_out == 1)) {
            inflateEnd(&zs); return -5;
        }
    }
    inflateEnd(&zs);
    {
        int frc = defilter(tmp, w, h, bpp);
        if (frc) return frc;
    }
    if (bpp == 3) {
        for (uint32_t y = 0; y < h; y++)
            memcpy(pix + (uint64_t)y * stride,
                   tmp + (uint64_t)y * (stride + 1) + 1, stride);
    } else {
        for (uint32_t y = 0; y < h; y++) {
            const uint8_t *s = tmp + (uint64_t)y * (stride + 1) + 1;
            uint8_t *d = pix + (uint64_t)y * w * 3;
            for (uint32_t x = 0; x < w; x++) {
                d[0] = s[0]; d[1] = s[1]; d[2] = s[2]; d += 3; s += 4;
            }
        }
    }
    return 0;
}

/* ---- BMP: 24-bit BI_RGB bottom-up encode; 24/32 either-orientation decode */
int bmp_encode(const uint8_t *pix, uint32_t w, uint32_t h,
               uint8_t *out, uint64_t outcap)
{
    uint64_t stride = ((uint64_t)w * 3 + 3) & ~3ull;
    uint64_t img = (uint64_t)h * stride, total = 54 + img;
    if (outcap < total || total > 0xFFFFFFFFu) return -1;
    uint8_t *p = out;
    p[0] = 'B'; p[1] = 'M';
    le32(p + 2, (uint32_t)total); le32(p + 6, 0); le32(p + 10, 54);
    le32(p + 14, 40); le32(p + 18, w); le32(p + 22, h);
    p[26] = 1; p[27] = 0; p[28] = 24; p[29] = 0;
    le32(p + 30, 0); le32(p + 34, (uint32_t)img);
    le32(p + 38, 2835); le32(p + 42, 2835); le32(p + 46, 0); le32(p + 50, 0);
    for (uint32_t y = 0; y < h; y++) {
        const uint8_t *src = pix + (uint64_t)(h - 1 - y) * w * 3;
        uint8_t *dst = out + 54 + (uint64_t)y * stride;
        for (uint32_t x = 0; x < w; x++) {
            dst[0] = src[2]; dst[1] = src[1]; dst[2] = src[0];
            src += 3; dst += 3;
        }
        for (uint64_t x = (uint64_t)w * 3; x < stride; x++)
            out[54 + (uint64_t)y * stride + x] = 0;
    }
    return (int)total;
}

/* meta = {w, h}; rc 0 ok, -3 shape for the pure path (incl. its guards) */
int bmp_decode(const uint8_t *b, uint64_t n, uint8_t *pix, uint64_t pixcap,
               int32_t *meta)
{
    if (n < 54 || b[0] != 'B' || b[1] != 'M') return -3;
    uint32_t offset = rd_le32(b + 10), hdr = rd_le32(b + 14);
    if (hdr < 40) return -3;
    int32_t w = (int32_t)rd_le32(b + 18), hh = (int32_t)rd_le32(b + 22);
    uint32_t bits = rd_le16(b + 28), comp = rd_le32(b + 30);
    if (comp || (bits != 24 && bits != 32)) return -3;
    int top_down = hh < 0;
    int64_t h64 = hh < 0 ? -(int64_t)hh : (int64_t)hh;
    if (w <= 0 || w > 32768 || h64 <= 0 || h64 > 32768) return -3;
    uint32_t h = (uint32_t)h64, nch = bits / 8;
    uint64_t stride = ((uint64_t)w * nch + 3) & ~3ull;
    if ((uint64_t)offset + (uint64_t)h * stride > n) return -3;
    if (pixcap < (uint64_t)w * h * 3) return -6;
    for (uint32_t y = 0; y < h; y++) {
        const uint8_t *src = b + offset
            + (uint64_t)(top_down ? y : h - 1 - y) * stride;
        uint8_t *dst = pix + (uint64_t)y * w * 3;
        for (int32_t x = 0; x < w; x++) {
            dst[0] = src[2]; dst[1] = src[1]; dst[2] = src[0];
            src += nch; dst += 3;
        }
    }
    meta[0] = w; meta[1] = h;
    return 0;
}

/* ---- fused synth re-encode pipelines (the tile_reencode inner loop):
   encode -> decode -> re-encode -> decode -> compare, all honest work,
   only the metrics cross back to Python.
   res = {blob_len, out_len, equal}; ssd written for the lossy case.
   rc 0 ok; <0 caller falls back to the granular pure path. */
int reencode_pipeline(const uint8_t *pix, uint32_t w, uint32_t h, int fmt,
                      uint8_t *tmp, uint8_t *buf1, uint8_t *buf2,
                      uint64_t cap, int64_t *res, uint64_t *ssd)
{
    uint64_t n = (uint64_t)w * h * 3;
    int blen, olen, rc;
    /* decoded pixels land in tmp (buf at offset 0), re-decoded at tmp+n */
    uint8_t *px1 = tmp, *px2 = tmp + n, *scratch = tmp + 2 * n;
    if (fmt == 1) {                               /* fjpg */
        blen = fjpg_encode(pix, w, h, scratch, buf1, cap);
        if (blen < 0) return -1;
        if (fjpg_decode(buf1, (uint64_t)blen, px1, n)) return -1;
        olen = fjpg_encode(px1, w, h, scratch, buf2, cap);
        if (olen < 0) return -1;
        if (fjpg_decode(buf2, (uint64_t)olen, px2, n)) return -1;
    } else if (fmt == 0) {                        /* png */
        blen = png_encode(pix, w, h, scratch, buf1, cap);
        if (blen < 0) return -1;
        rc = png_decode_f0(buf1, (uint64_t)blen, px1, n,
                           scratch, (uint64_t)h * ((uint64_t)w * 3 + 1));
        if (rc) return -1;
        olen = png_encode(px1, w, h, scratch, buf2, cap);
        if (olen < 0) return -1;
        rc = png_decode_f0(buf2, (uint64_t)olen, px2, n,
                           scratch, (uint64_t)h * ((uint64_t)w * 3 + 1));
        if (rc) return -1;
    } else if (fmt == 2) {                        /* bmp */
        int32_t meta[2];
        blen = bmp_encode(pix, w, h, buf1, cap);
        if (blen < 0) return -1;
        if (bmp_decode(buf1, (uint64_t)blen, px1, n, meta)) return -1;
        olen = bmp_encode(px1, w, h, buf2, cap);
        if (olen < 0) return -1;
        if (bmp_decode(buf2, (uint64_t)olen, px2, n, meta)) return -1;
    } else {
        return -2;
    }
    res[0] = blen; res[1] = olen;
    if (!memcmp(px1, px2, n)) {
        res[2] = 1; *ssd = 0;
    } else {
        res[2] = 0;
        uint64_t s = 0;
        for (uint64_t i = 0; i < n; i++) {
            int d = (int)px1[i] - (int)px2[i];
            s += (uint64_t)(d * d);
        }
        *ssd = s;
    }
    return 0;
}
"""

_ENV_OFF = "LIBGEODESK_NO_FASTCODEC"


def _cache_dir() -> str:
    """``$SPARK_GRAFT_FASTCODEC_DIR``, else a per-user 0700 directory
    under the temp dir; a default directory another user owns is
    refused (PermissionError: the caller falls back to the pure path)."""
    d = os.environ.get("SPARK_GRAFT_FASTCODEC_DIR")
    if d:
        return d
    d = os.path.join(tempfile.gettempdir(),
                     f"libgeodesk_fastcodec-{os.geteuid()}")
    os.makedirs(d, mode=0o700, exist_ok=True)
    st = os.lstat(d)
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.geteuid():
        raise PermissionError(f"{d} is not a directory owned by this user")
    return d


def _build_so() -> str:
    tag = hashlib.sha256(C_SOURCE.encode()).hexdigest()[:16]
    cachedir = _cache_dir()
    so = os.path.join(cachedir, f"libgeodesk_fastcodec_{tag}.so")
    if os.path.lexists(so):
        return so
    # private build dir: no other process can race or pre-plant the
    # source or the half-written .so
    build = tempfile.mkdtemp(prefix="libgeodesk_fastcodec_build_",
                             dir=cachedir)
    try:
        src = os.path.join(build, "fastcodec.c")
        tmp_so = os.path.join(build, "fastcodec.so")
        with open(src, "w") as f:
            f.write(C_SOURCE)
        cc = os.environ.get("CC", "cc")
        subprocess.run([cc, "-O2", "-shared", "-fPIC", "-o", tmp_so, src,
                        "-lz"], check=True, capture_output=True, timeout=120)
        os.chmod(tmp_so, 0o755)                  # whatever the umask
        os.replace(tmp_so, so)                   # atomic vs racing workers
    finally:
        shutil.rmtree(build, ignore_errors=True)
    return so


def _open_trusted(so: str) -> ctypes.CDLL:
    """dlopen ``so`` only if the effective uid owns it and neither group
    nor other can write it. The check runs on the opened descriptor and
    the load goes through that descriptor, so the file cannot be swapped
    in between; symlinks are refused."""
    fd = os.open(so, os.O_RDONLY | os.O_NOFOLLOW)
    try:
        st = os.fstat(fd)
        if st.st_uid != os.geteuid() or st.st_mode & 0o022:
            raise PermissionError(f"refusing {so}: owner {st.st_uid}, "
                                  f"mode {stat.S_IMODE(st.st_mode):o}")
        return ctypes.CDLL(f"/proc/self/fd/{fd}")
    finally:
        os.close(fd)


def _bind(lib: ctypes.CDLL) -> ctypes.CDLL:
    vp = ctypes.c_void_p        # numpy buffers pass arr.ctypes.data (int)
    cp = ctypes.c_char_p        # blob params pass bytes directly
    u64 = ctypes.c_uint64
    u32 = ctypes.c_uint32
    lib.fastcodec_zlib_version.restype = ctypes.c_char_p
    lib.synth_finish.argtypes = [vp, vp, vp, u64]
    lib.synth_finish.restype = None
    lib.fjpg_encode.argtypes = [vp, u32, u32, vp, vp, u64]
    lib.fjpg_decode.argtypes = [cp, u64, vp, u64]
    lib.png_encode.argtypes = [vp, u32, u32, vp, vp, u64]
    lib.png_head.argtypes = [cp, u64, vp]
    lib.png_decode_f0.argtypes = [cp, u64, vp, u64, vp, u64]
    lib.bmp_encode.argtypes = [vp, u32, u32, vp, u64]
    lib.bmp_decode.argtypes = [cp, u64, vp, u64, vp]
    lib.reencode_pipeline.argtypes = [vp, u32, u32, ctypes.c_int,
                                      vp, vp, vp, u64, vp, vp]
    return lib


def _self_test(lib: ctypes.CDLL) -> bool:
    """C output must be byte-identical to the pure path on a probe image,
    both ways: each C encode equals the pure encode, and each C decode
    of those bytes equals the pure decode. In particular the dlopened
    zlib must behave exactly like CPython's."""
    import zlib

    import numpy as np
    if lib.fastcodec_zlib_version().decode() != zlib.ZLIB_RUNTIME_VERSION:
        return False
    from libgeodesk_spark.media import codec
    rng = np.random.default_rng(1234)
    px = np.ascontiguousarray(
        rng.integers(0, 256, size=(33, 17, 3), dtype=np.uint8))
    tmp = np.empty(4 * px.size + 4096, dtype=np.uint8)
    out = np.empty(2 * px.size + 4096, dtype=np.uint8)
    pp, tp, op = px.ctypes.data, tmp.ctypes.data, out.ctypes.data

    def round_trip(ln, blob, pure_decode, c_decode, *tail) -> bool:
        if ln <= 0 or out[:ln].tobytes() != blob:
            return False
        got = np.zeros_like(px)
        return (c_decode(blob, len(blob), got.ctypes.data, got.size,
                         *tail) == 0
                and np.array_equal(got, pure_decode(blob)))

    png = codec.encode_png(px)
    meta = np.zeros(3, dtype=np.uint32)
    if (lib.png_head(png, len(png), meta.ctypes.data) != 0
            or meta.tolist() != [17, 33, 2]):
        return False
    if not round_trip(lib.png_encode(pp, 17, 33, tp, op, out.size), png,
                      codec.decode_png, lib.png_decode_f0, tp, tmp.size):
        return False
    if not round_trip(lib.fjpg_encode(pp, 17, 33, tp, op, out.size),
                      codec._encode_fjpg_pure(px),
                      lambda b: codec._decode_fjpg_pure(b, 17, 33),
                      lib.fjpg_decode):
        return False
    return round_trip(lib.bmp_encode(pp, 17, 33, op, out.size),
                      codec.encode_bmp(px), codec.decode_bmp,
                      lib.bmp_decode, meta.ctypes.data)


_lib: ctypes.CDLL | bool | None = None


def load() -> ctypes.CDLL | None:
    """The kernel, or None (pure-Python fallback). Never raises."""
    global _lib
    if _lib is None:
        if os.environ.get(_ENV_OFF):
            _lib = False
        else:
            try:
                lib = _bind(_open_trusted(_build_so()))
                _lib = lib if _self_test(lib) else False
            except Exception:
                _lib = False
    return _lib or None
