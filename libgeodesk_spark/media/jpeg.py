"""Baseline JPEG/JFIF codec — spec-level ITU-T T.81, dependency-free.

Counterpart of the real PNG/BMP codecs (media/codec.py): the dominant
*lossy* training-data image format, implemented straight from the public
spec so blobs written here open in any external viewer and
externally-produced baseline JPEGs decode here.

Scope (the honest boundary, same policy as the other codecs):

* **Encode**: baseline sequential DCT (SOF0), 8-bit, JFIF APP0 header,
  Annex K quantization tables scaled by the libjpeg quality formula,
  Annex K Huffman tables, 4:4:4 or 4:2:0 chroma subsampling, optional
  restart intervals. Fully deterministic.
* **Decode**: baseline + extended-sequential Huffman (SOF0/SOF1) AND
  progressive (SOF2, Annex G: spectral selection, successive
  approximation with DC/AC refinement and EOB runs, per-scan DHT
  redefinition), grayscale or YCbCr with any sampling factors in
  {1,2}×{1,2} (4:4:4 / 4:2:2 / 4:2:0 / 4:4:0), multiple DQT/DHT
  segments (8- and 16-bit quant tables), restart markers, byte
  stuffing. Arithmetic coding and 12-bit precision raise
  NotImplementedError.

Performance shape: DCT/IDCT, quantization, color transform and
up/down-sampling are numpy-batched over all blocks of an image; only the
entropy (Huffman) layer walks coefficients in Python — an inherently
sequential bitstream the spec imposes. The engine's hot re-encode path
therefore keeps the private FJPG quality-ladder container
(media/codec.py:19); this codec is the interchange boundary, the same
split libgeodesk makes between its internal tile encoding and external
formats (reference: GolBuilder vs. OGR import/export pipeline).
"""

from __future__ import annotations

import struct

import numpy as np

# --- ITU-T T.81 Annex K.1/K.2: example quantization tables (zigzag=no,
# row-major 8x8) --------------------------------------------------------
QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)

QT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)

# --- Annex K.3: typical Huffman tables (BITS = #codes per length 1..16,
# VALS = symbols in code order) -----------------------------------------
DC_LUM_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUM_VALS = list(range(12))
DC_CHROM_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
DC_CHROM_VALS = list(range(12))

AC_LUM_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_LUM_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]

AC_CHROM_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
AC_CHROM_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
    0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
    0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
    0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]

# zigzag position -> row-major index (T.81 Figure 5)
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int64)
INV_ZIGZAG = np.argsort(ZIGZAG)

# markers
SOI, EOI, SOS, DQT, DHT, DRI, COM = 0xD8, 0xD9, 0xDA, 0xDB, 0xC4, 0xDD, 0xFE
SOF0, SOF1, SOF2 = 0xC0, 0xC1, 0xC2
APP0 = 0xE0
RST0 = 0xD0


def _dct_matrix() -> np.ndarray:
    """Orthonormal DCT-II matrix M (8x8): M @ B @ M.T == T.81 FDCT."""
    x = np.arange(8, dtype=np.float64)
    u = x[:, None]
    m = 0.5 * np.cos((2 * x[None, :] + 1) * u * np.pi / 16.0)
    m[0] /= np.sqrt(2.0)
    return m


_DCT_M = _dct_matrix()


def quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """Annex K tables scaled by the public libjpeg quality formula
    (quality_scaling in jcparam.c, itself spec-sanctioned linear
    scaling); quality 50 == the Annex K tables verbatim."""
    q = min(max(int(quality), 1), 100)
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (QT_LUM, QT_CHROM):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


def _assign_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C.2 canonical code assignment: symbol -> (code, length)."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _decode_table(bits: list[int], vals: list[int]) -> tuple[np.ndarray, np.ndarray]:
    """Peek-16 lookup: sym[65536], nbits[65536]; nbits 0 = invalid code."""
    sym = np.zeros(1 << 16, dtype=np.int16)
    nb = np.zeros(1 << 16, dtype=np.int8)
    for s, (code, length) in _assign_codes(bits, vals).items():
        lo = code << (16 - length)
        hi = lo + (1 << (16 - length))
        sym[lo:hi] = s
        nb[lo:hi] = length
    return sym, nb


def _csize(v: int) -> int:
    """Coefficient category (bit length of |v|), T.81 F.1.2.1."""
    return int(abs(v)).bit_length()


class _BitWriter:
    """MSB-first bit accumulator with 0xFF byte stuffing (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        """Pad to a byte boundary with 1-bits (spec-mandated fill)."""
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)

    def marker(self, m: int) -> None:
        self.align()
        self.out += bytes((0xFF, m))


class _BitReader:
    """MSB-first reader over entropy-coded data: un-stuffs 0xFF00,
    surfaces RSTn markers, stops at any other marker."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None   # pending non-RST marker

    def _fill(self, need: int) -> None:
        while self.nbits < need:
            if self.marker is not None or self.pos >= len(self.data):
                # past the scan: spec allows decoders to pad with 1s
                # (truncation is caught by block-count bookkeeping)
                self.acc = (self.acc << 8) | 0xFF
                self.nbits += 8
                continue
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else EOI
                if nxt == 0x00:
                    self.pos += 1            # stuffed 0xFF data byte
                else:
                    if nxt == 0xFF:
                        # 0xFF fill bytes may pad before a marker (T.81
                        # B.1.1.2): consume the run; a marker code must
                        # follow it
                        while (self.pos < len(self.data)
                               and self.data[self.pos] == 0xFF):
                            self.pos += 1
                        if (self.pos >= len(self.data)
                                or self.data[self.pos] == 0x00):
                            raise ValueError(
                                "JPEG: 0xFF fill bytes not followed by a "
                                "marker")
                        nxt = self.data[self.pos]
                    self.pos += 1
                    self.marker = nxt        # real marker ends the segment
                    continue
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def peek16(self) -> int:
        self._fill(16)
        return (self.acc >> (self.nbits - 16)) & 0xFFFF

    def skip(self, n: int) -> None:
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill(n)
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.skip(n)
        return v

    def restart(self) -> None:
        """Byte-align and consume the pending RSTn marker."""
        self.nbits = 0
        self.acc = 0
        if self.marker is None:
            # marker not yet pulled from the byte stream — scan for it
            self._fill(8)
            self.nbits = 0
            self.acc = 0
        m = self.marker
        if m is None or not (RST0 <= m <= RST0 + 7):
            raise ValueError(f"expected RSTn marker, got {m!r}")
        self.marker = None


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map s received bits to a signed coefficient."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def _rgb_to_ycbcr(px: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """JFIF full-range BT.601 transform (JFIF spec §7)."""
    f = px.astype(np.float32)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return y, cb, cr


def _pad_edge(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    """Pad to (bh, bw) by edge replication (minimizes ringing at borders)."""
    h, w = plane.shape
    return np.pad(plane, ((0, bh - h), (0, bw - w)), mode="edge")


def _blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) -> (H//8 * W//8, 8, 8) in raster block order."""
    h, w = plane.shape
    return (plane.reshape(h // 8, 8, w // 8, 8)
            .transpose(0, 2, 1, 3).reshape(-1, 8, 8))


def _fdct_quant_zz(plane: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """Batch FDCT + quantize + zigzag: (H, W) float -> (nblocks, 64) int32."""
    b = _blocks(plane) - 128.0
    coef = np.einsum("ux,nxy,vy->nuv", _DCT_M, b, _DCT_M, optimize=True)
    q = np.round(coef.reshape(-1, 64) / qtab[None, :]).astype(np.int32)
    return q[:, ZIGZAG]


def _encode_block(wr: _BitWriter, zz: np.ndarray, pred: int,
                  dc_codes: dict, ac_codes: dict) -> int:
    """Huffman-encode one zigzagged block; returns the new DC predictor."""
    dc = int(zz[0])
    diff = dc - pred
    s = _csize(diff)
    code, ln = dc_codes[s]
    wr.write(code, ln)
    if s:
        wr.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    nz = np.nonzero(zz[1:])[0]
    prev = 0
    for idx in nz:
        k = int(idx) + 1
        run = k - prev - 1
        while run >= 16:
            code, ln = ac_codes[0xF0]          # ZRL
            wr.write(code, ln)
            run -= 16
        v = int(zz[k])
        s = _csize(v)
        code, ln = ac_codes[(run << 4) | s]
        wr.write(code, ln)
        wr.write(v if v >= 0 else v + (1 << s) - 1, s)
        prev = k
    if prev != 63:
        code, ln = ac_codes[0x00]              # EOB
        wr.write(code, ln)
    return dc


def _seg(marker: int, payload: bytes) -> bytes:
    return bytes((0xFF, marker)) + struct.pack(">H", len(payload) + 2) + payload


def encode_jpeg(pixels: np.ndarray, quality: int = 95,
                subsampling: str = "444", restart_interval: int = 0) -> bytes:
    """Baseline JFIF encode of an (h, w, 3) uint8 RGB image.

    ``subsampling``: "444" (no chroma subsampling — highest fidelity,
    what the PSNR>=40dB tile gate wants), "422" (2x1 horizontal chroma,
    the broadcast/camera intermediate shape), or "420" (2x2 chroma, the
    shape most camera/web JPEGs use).
    """
    px = np.ascontiguousarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB, got {px.shape}")
    h, w = px.shape[:2]
    if not (0 < h < 65536 and 0 < w < 65536):
        raise ValueError(f"dims {w}x{h} out of JPEG range")
    if subsampling not in ("444", "422", "420"):
        raise ValueError(
            f"subsampling must be 444|422|420, got {subsampling!r}")
    qy, qc = quality_tables(quality)
    y, cb, cr = _rgb_to_ycbcr(px)

    if subsampling == "420":
        hy = vy = 2
        # pad to even dims, then 2x2 box-average the chroma planes
        ph, pw = (h + 1) & ~1, (w + 1) & ~1
        cb = _pad_edge(cb, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean((1, 3))
        cr = _pad_edge(cr, ph, pw).reshape(ph // 2, 2, pw // 2, 2).mean((1, 3))
    elif subsampling == "422":
        hy, vy = 2, 1
        # horizontal-only 2x1 box-average
        pw = (w + 1) & ~1
        cb = _pad_edge(cb, h, pw).reshape(h, pw // 2, 2).mean(2)
        cr = _pad_edge(cr, h, pw).reshape(h, pw // 2, 2).mean(2)
    else:
        hy = vy = 1

    # plane geometry: MCUs are (8*hy) x (8*vy) luma pixels
    mcux = -(-w // (8 * hy))
    mcuy = -(-h // (8 * vy))
    planes = [(y, hy, vy, qy), (cb, 1, 1, qc), (cr, 1, 1, qc)]
    comp_zz, comp_bw = [], []
    for plane, ch, cv, qtab in planes:
        bw_, bh_ = mcux * ch, mcuy * cv
        padded = _pad_edge(plane, bh_ * 8, bw_ * 8)
        comp_zz.append(_fdct_quant_zz(padded, qtab))
        comp_bw.append(bw_)

    dc_l = _assign_codes(DC_LUM_BITS, DC_LUM_VALS)
    ac_l = _assign_codes(AC_LUM_BITS, AC_LUM_VALS)
    dc_c = _assign_codes(DC_CHROM_BITS, DC_CHROM_VALS)
    ac_c = _assign_codes(AC_CHROM_BITS, AC_CHROM_VALS)
    comp_codes = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]
    samp = [(hy, vy), (1, 1), (1, 1)]

    wr = _BitWriter()
    preds = [0, 0, 0]
    n_rst = 0
    mcu_since_rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_since_rst == restart_interval:
                wr.marker(RST0 + (n_rst & 7))
                n_rst += 1
                mcu_since_rst = 0
                preds = [0, 0, 0]
            for ci in range(3):
                ch, cv = samp[ci]
                for by in range(cv):
                    for bx in range(ch):
                        bidx = (my * cv + by) * comp_bw[ci] + mx * ch + bx
                        preds[ci] = _encode_block(
                            wr, comp_zz[ci][bidx], preds[ci], *comp_codes[ci])
            mcu_since_rst += 1
    wr.align()
    scan = bytes(wr.out)

    # --- assemble the file ---
    app0 = b"JFIF\x00" + bytes((1, 1, 0)) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    dqt = (_seg(DQT, b"\x00" + bytes(qy[ZIGZAG].tolist()))
           + _seg(DQT, b"\x01" + bytes(qc[ZIGZAG].tolist())))
    sof = _seg(SOF0, struct.pack(">BHHB", 8, h, w, 3)
               + bytes((1, (hy << 4) | vy, 0))
               + bytes((2, 0x11, 1)) + bytes((3, 0x11, 1)))
    dht = b"".join(
        _seg(DHT, bytes([cls << 4 | dest]) + bytes(bits) + bytes(vals))
        for cls, dest, bits, vals in (
            (0, 0, DC_LUM_BITS, DC_LUM_VALS), (1, 0, AC_LUM_BITS, AC_LUM_VALS),
            (0, 1, DC_CHROM_BITS, DC_CHROM_VALS),
            (1, 1, AC_CHROM_BITS, AC_CHROM_VALS)))
    dri = _seg(DRI, struct.pack(">H", restart_interval)) if restart_interval else b""
    sos = _seg(SOS, bytes((3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0)))
    return (bytes((0xFF, SOI)) + _seg(APP0, app0) + dqt + sof + dht + dri
            + sos + scan + bytes((0xFF, EOI)))


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

def _idct_batch(zz: np.ndarray, qtab: np.ndarray) -> np.ndarray:
    """(nblocks, 64) zigzag int -> (nblocks, 8, 8) float pixels (+128)."""
    coef = (zz[:, INV_ZIGZAG] * qtab[None, :]).astype(np.float64).reshape(-1, 8, 8)
    px = np.einsum("xu,nuv,yv->nxy", _DCT_M.T, coef, _DCT_M.T, optimize=True)
    return px + 128.0


def decode_jpeg(data: bytes) -> np.ndarray:
    """Decode a baseline, extended-sequential, or PROGRESSIVE JPEG to
    (h, w, 3) uint8 RGB. Grayscale streams are replicated to 3 channels
    (codec pixel contract). Progressive (SOF2) streams accumulate
    coefficients across scans — spectral selection, successive
    approximation (DC/AC first + refinement, EOB runs), per-scan DHT
    redefinition, and restart markers are all handled; validated against
    JDK-ImageIO-encoded scan scripts (tests/test_interop.py)."""
    buf = bytes(data)
    if buf[:2] != bytes((0xFF, SOI)):
        raise ValueError("not a JPEG SOI")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
    restart_interval = 0
    frame = None     # (h, w, comps) ; comps = [(cid, ch, cv, tq)]
    progressive = False
    prog = None      # accumulated-coefficient state for SOF2
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}, got {buf[pos]:#x}")
        while pos + 2 <= len(buf) and buf[pos + 1] == 0xFF:
            pos += 1                      # fill bytes before a marker (B.1.1.2)
        m = buf[pos + 1]
        if m == EOI:
            break
        (seglen,) = struct.unpack(">H", buf[pos + 2:pos + 4])
        payload = buf[pos + 4:pos + 2 + seglen]
        if len(payload) != seglen - 2:
            raise ValueError(f"truncated segment {m:#x}")
        pos += 2 + seglen
        if m == DQT:
            p = 0
            while p < len(payload):
                pq, tq = payload[p] >> 4, payload[p] & 0xF
                if pq:                # Pq=1: 16-bit big-endian entries
                    t = np.frombuffer(payload[p + 1:p + 129],
                                      dtype=">u2")
                    step = 129
                else:
                    t = np.frombuffer(payload[p + 1:p + 65],
                                      dtype=np.uint8)
                    step = 65
                if t.size != 64:
                    raise ValueError("short DQT")
                # DQT payload is zigzag-ordered (B.2.4.1) -> row-major
                qtabs[tq] = t.astype(np.int32)[INV_ZIGZAG]
                p += step
        elif m == DHT:
            p = 0
            while p < len(payload):
                cls, dest = payload[p] >> 4, payload[p] & 0xF
                bits = list(payload[p + 1:p + 17])
                n = sum(bits)
                vals = list(payload[p + 17:p + 17 + n])
                if len(vals) != n:
                    raise ValueError("short DHT")
                htabs[(cls, dest)] = _decode_table(bits, vals)
                p += 17 + n
        elif m in (SOF0, SOF1, SOF2):
            prec, h, w, nc = struct.unpack(">BHHB", payload[:6])
            if prec != 8:
                raise NotImplementedError(f"{prec}-bit precision")
            if nc not in (1, 3):
                raise NotImplementedError(f"{nc}-component JPEG (CMYK?)")
            comps = []
            for i in range(nc):
                cid, hv, tq = payload[6 + 3 * i:9 + 3 * i]
                ch, cv = hv >> 4, hv & 0xF
                if ch not in (1, 2) or cv not in (1, 2):
                    raise NotImplementedError(f"sampling {ch}x{cv}")
                comps.append((cid, ch, cv, tq))
            frame = (h, w, comps)
            progressive = m == SOF2
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"SOF marker {m:#x} (non-baseline)")
        elif m == DRI:
            (restart_interval,) = struct.unpack(">H", payload[:2])
        elif m == SOS:
            if frame is None:
                raise ValueError("SOS before SOF")
            if not progressive and prog is None \
                    and payload[0] == len(frame[2]):
                # the common case: ONE full-component sequential scan
                return _decode_scan(buf, pos, payload, frame, qtabs,
                                    htabs, restart_interval)
            # progressive, or sequential split into per-component
            # scans (ns < nc, legal per T.81 B.2.3) — accumulate
            # coefficients across scans and assemble at EOI
            if prog is None:
                prog = _init_progressive(frame)
            if progressive:
                pos = _decode_scan_progressive(buf, pos, payload, frame,
                                               prog, htabs,
                                               restart_interval)
            else:
                pos = _decode_scan_seq_partial(buf, pos, payload, frame,
                                               prog, htabs,
                                               restart_interval)
        # APPn / COM / others: skip
    if prog is not None:
        return _finish_progressive(frame, prog, qtabs)
    raise ValueError("no SOS scan found")


def _decode_scan(buf: bytes, pos: int, payload: bytes, frame, qtabs, htabs,
                 restart_interval: int) -> np.ndarray:
    h, w, comps = frame
    ns = payload[0]
    if ns != len(comps):
        raise NotImplementedError("multi-scan / partial-component scans")
    scan_tabs = {}
    for i in range(ns):
        cs, tda = payload[1 + 2 * i:3 + 2 * i]
        scan_tabs[cs] = (tda >> 4, tda & 0xF)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))

    per_comp = []
    for cid, ch, cv, tq in comps:
        td, ta = scan_tabs[cid]
        if (0, td) not in htabs or (1, ta) not in htabs or tq not in qtabs:
            raise ValueError("scan references undefined DHT/DQT table")
        bw_, bh_ = mcux * ch, mcuy * cv
        per_comp.append({
            "zz": np.zeros((bh_ * bw_, 64), dtype=np.int32),
            "bw": bw_, "ch": ch, "cv": cv, "q": qtabs[tq],
            "dc": htabs[(0, td)], "ac": htabs[(1, ta)], "pred": 0,
        })

    rd = _BitReader(buf, pos)
    if ns == 1:
        # a single-component scan is NON-interleaved (T.81 A.2.2): one
        # data unit per MCU, blocks in the component's OWN raster grid
        # (ceil(comp_dim/8)), NOT the MCU-padded grid — a 1-component
        # frame may still declare sampling factors > 1
        c = per_comp[0]
        cw = -(-w * c["ch"] // hmax)
        chh = -(-h * c["cv"] // vmax)
        bwn, bhn = -(-cw // 8), -(-chh // 8)
        since = 0
        for by in range(bhn):
            for bx in range(bwn):
                if restart_interval and since == restart_interval:
                    rd.restart()
                    since = 0
                    c["pred"] = 0
                _decode_block(rd, c, by * c["bw"] + bx)
                since += 1
    else:
        n_rst = 0
        mcu_since_rst = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if restart_interval and mcu_since_rst == restart_interval:
                    rd.restart()
                    n_rst += 1
                    mcu_since_rst = 0
                    for c in per_comp:
                        c["pred"] = 0
                for c in per_comp:
                    for by in range(c["cv"]):
                        for bx in range(c["ch"]):
                            bidx = ((my * c["cv"] + by) * c["bw"]
                                    + mx * c["ch"] + bx)
                            _decode_block(rd, c, bidx)
                mcu_since_rst += 1

    planes = []
    for c in per_comp:
        px = _idct_batch(c["zz"], c["q"])
        bh_, bw_ = c["zz"].shape[0] // c["bw"], c["bw"]
        plane = (px.reshape(bh_, bw_, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(bh_ * 8, bw_ * 8))
        # upsample to full-res grid (nearest; spec leaves the filter open)
        ry, rx = vmax // c["cv"], hmax // c["ch"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        y = np.clip(planes[0], 0, 255)
        return np.repeat(y[:, :, None], 3, axis=2).astype(np.uint8)
    y, cb, cr = planes
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# progressive (SOF2) — coefficients accumulate across scans (T.81 Annex G)
# ---------------------------------------------------------------------------

def _init_progressive(frame) -> dict:
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    state = {"hmax": hmax, "vmax": vmax, "mcux": mcux, "mcuy": mcuy,
             "comps": {}}
    for cid, ch, cv, tq in comps:
        bw_, bh_ = mcux * ch, mcuy * cv
        # non-interleaved scans iterate the component's OWN block grid
        # (T.81 A.2.2), which is narrower than the MCU-padded storage
        cw = -(-w * ch // hmax)
        chh = -(-h * cv // vmax)
        state["comps"][cid] = {
            "zz": np.zeros((bh_ * bw_, 64), dtype=np.int32),
            "bw": bw_, "ch": ch, "cv": cv, "tq": tq,
            "bwn": -(-cw // 8), "bhn": -(-chh // 8),
        }
    return state


def _read_huff(rd: _BitReader, tab) -> int:
    sym, nb = tab
    peek = rd.peek16()
    n = int(nb[peek])
    if n == 0:
        raise ValueError("invalid Huffman code")
    rd.skip(n)
    return int(sym[peek])


def _decode_scan_progressive(buf, pos, payload, frame, state, htabs,
                             restart_interval) -> int:
    """One progressive scan; returns the byte offset of the next marker."""
    h, w, comps = frame
    ns = payload[0]
    scomps = []
    for i in range(ns):
        cs, tda = payload[1 + 2 * i:3 + 2 * i]
        scomps.append((cs, tda >> 4, tda & 0xF))
    ss, se, ahal = payload[1 + 2 * ns:4 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0xF
    rd = _BitReader(buf, pos)

    if ss == 0:                        # DC scan
        if se != 0:
            raise ValueError("DC scan with Se != 0")
        tabs = {}
        for cs, td, _ta in scomps:
            if ah == 0 and (0, td) not in htabs:
                raise ValueError("scan references undefined DC table")
            tabs[cs] = htabs.get((0, td))
        preds = {cs: 0 for cs, _, _ in scomps}
        if ns > 1:                     # MCU-interleaved
            order = [(cs, state["comps"][cs]) for cs, _, _ in scomps]
            n_rst = 0
            since = 0
            for my in range(state["mcuy"]):
                for mx in range(state["mcux"]):
                    if restart_interval and since == restart_interval:
                        rd.restart()
                        n_rst += 1
                        since = 0
                        preds = {cs: 0 for cs in preds}
                    for cs, c in order:
                        for by in range(c["cv"]):
                            for bx in range(c["ch"]):
                                bidx = ((my * c["cv"] + by) * c["bw"]
                                        + mx * c["ch"] + bx)
                                preds[cs] = _dc_prog(
                                    rd, c["zz"], bidx, tabs[cs],
                                    preds[cs], ah, al)
                    since += 1
        else:
            cs = scomps[0][0]
            c = state["comps"][cs]
            since = 0
            for by in range(c["bhn"]):
                for bx in range(c["bwn"]):
                    if restart_interval and since == restart_interval:
                        rd.restart()
                        since = 0
                        preds[cs] = 0
                    preds[cs] = _dc_prog(rd, c["zz"],
                                         by * c["bw"] + bx, tabs[cs],
                                         preds[cs], ah, al)
                    since += 1
    else:                              # AC scan: single component only
        if ns != 1:
            raise ValueError("interleaved AC scan is illegal (G.1.1.1)")
        if not (ss <= se <= 63):
            raise ValueError(f"bad spectral band {ss}..{se}")
        cs, _td, ta = scomps[0]
        if (1, ta) not in htabs:
            raise ValueError("scan references undefined AC table")
        actab = htabs[(1, ta)]
        c = state["comps"][cs]
        zz = c["zz"]
        eobrun = 0
        since = 0
        for by in range(c["bhn"]):
            for bx in range(c["bwn"]):
                if restart_interval and since == restart_interval:
                    rd.restart()
                    since = 0
                    eobrun = 0
                bidx = by * c["bw"] + bx
                if ah == 0:
                    eobrun = _ac_first(rd, actab, zz, bidx, ss, se, al,
                                       eobrun)
                else:
                    eobrun = _ac_refine(rd, actab, zz, bidx, ss, se, al,
                                        eobrun)
                since += 1

    return _next_marker(buf, rd)


def _next_marker(buf: bytes, rd: _BitReader) -> int:
    """Byte offset of the next non-RST marker after a finished scan."""
    if rd.marker is not None and not (RST0 <= rd.marker <= RST0 + 7):
        return rd.pos - 2
    p = rd.pos
    while p + 1 < len(buf):
        if buf[p] == 0xFF and buf[p + 1] != 0x00 \
                and not (RST0 <= buf[p + 1] <= RST0 + 7):
            return p
        p += 1
    return len(buf)


def _decode_scan_seq_partial(buf, pos, payload, frame, state, htabs,
                             restart_interval) -> int:
    """One SEQUENTIAL scan over a subset of the frame's components
    (T.81 B.2.3 allows any split, e.g. Y then Cb then Cr): full-band
    baseline block decode (DC diff + AC runs) into the accumulated
    coefficient state; returns the next marker offset."""
    h, w, comps = frame
    ns = payload[0]
    scomps = []
    for i in range(ns):
        cs, tda = payload[1 + 2 * i:3 + 2 * i]
        scomps.append((cs, tda >> 4, tda & 0xF))
    ss, se, ahal = payload[1 + 2 * ns:4 + 2 * ns]
    if ss != 0 or se != 63 or ahal != 0:
        raise ValueError("spectral band in a sequential-frame scan")
    locals_ = []
    for cs, td, ta in scomps:
        if (0, td) not in htabs or (1, ta) not in htabs:
            raise ValueError("scan references undefined DHT table")
        c = state["comps"][cs]
        locals_.append({"zz": c["zz"], "bw": c["bw"], "ch": c["ch"],
                        "cv": c["cv"], "bwn": c["bwn"], "bhn": c["bhn"],
                        "dc": htabs[(0, td)], "ac": htabs[(1, ta)],
                        "pred": 0})
    rd = _BitReader(buf, pos)
    since = 0
    if ns == 1:                        # non-interleaved raster
        c = locals_[0]
        for by in range(c["bhn"]):
            for bx in range(c["bwn"]):
                if restart_interval and since == restart_interval:
                    rd.restart()
                    since = 0
                    c["pred"] = 0
                _decode_block(rd, c, by * c["bw"] + bx)
                since += 1
    else:                              # MCU-interleaved subset
        for my in range(state["mcuy"]):
            for mx in range(state["mcux"]):
                if restart_interval and since == restart_interval:
                    rd.restart()
                    since = 0
                    for c in locals_:
                        c["pred"] = 0
                for c in locals_:
                    for by in range(c["cv"]):
                        for bx in range(c["ch"]):
                            bidx = ((my * c["cv"] + by) * c["bw"]
                                    + mx * c["ch"] + bx)
                            _decode_block(rd, c, bidx)
                since += 1
    return _next_marker(buf, rd)


def _dc_prog(rd, zz, bidx, tab, pred, ah, al):
    if ah == 0:                        # first pass: value << Al
        s = _read_huff(rd, tab)
        pred += _extend(rd.receive(s), s) if s else 0
        zz[bidx, 0] = pred << al
    else:                              # refinement: one bit
        if rd.receive(1):
            zz[bidx, 0] = int(zz[bidx, 0]) | (1 << al)
    return pred


def _ac_first(rd, actab, zz, bidx, ss, se, al, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_huff(rd, actab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r != 15:                # EOBn: run of 2^r (+ extension)
                eobrun = (1 << r) - 1
                if r:
                    eobrun += rd.receive(r)
                break
            k += 16                    # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past spectral band")
        zz[bidx, k] = _extend(rd.receive(s), s) << al
        k += 1
    return eobrun


def _ac_refine(rd, actab, zz, bidx, ss, se, al, eobrun):
    """Successive-approximation AC refinement (T.81 G.1.2.3): correction
    bits for already-nonzero coefficients, newly significant ones at
    ±2^Al, EOB runs absorb corrections for the rest of the band."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_huff(rd, actab)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.receive(r)
                    break
                # ZRL: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("AC refinement magnitude != 1")
                newval = p1 if rd.receive(1) else -p1
            while k <= se:
                v = int(zz[bidx, k])
                if v:
                    if rd.receive(1) and not (v & p1):
                        zz[bidx, k] = v + p1 if v >= 0 else v - p1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                zz[bidx, k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            v = int(zz[bidx, k])
            if v and rd.receive(1) and not (v & p1):
                zz[bidx, k] = v + p1 if v >= 0 else v - p1
            k += 1
        eobrun -= 1
    return eobrun


def _finish_progressive(frame, state, qtabs) -> np.ndarray:
    h, w, comps = frame
    hmax, vmax = state["hmax"], state["vmax"]
    planes = []
    for cid, ch, cv, tq in comps:
        c = state["comps"][cid]
        if tq not in qtabs:
            raise ValueError("frame references undefined DQT table")
        px = _idct_batch(c["zz"], qtabs[tq])
        bh_, bw_ = c["zz"].shape[0] // c["bw"], c["bw"]
        plane = (px.reshape(bh_, bw_, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(bh_ * 8, bw_ * 8))
        ry, rx = vmax // cv, hmax // ch
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        y = np.clip(planes[0], 0, 255)
        return np.repeat(y[:, :, None], 3, axis=2).astype(np.uint8)
    y, cb, cr = planes
    cb = cb - 128.0
    cr = cr - 128.0
    rgb = np.stack([y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _decode_block(rd: _BitReader, c: dict, bidx: int) -> None:
    dc_sym, dc_nb = c["dc"]
    ac_sym, ac_nb = c["ac"]
    zz = c["zz"]
    # DC
    peek = rd.peek16()
    n = int(dc_nb[peek])
    if n == 0:
        raise ValueError("invalid DC Huffman code")
    rd.skip(n)
    s = int(dc_sym[peek])
    diff = _extend(rd.receive(s), s) if s else 0
    c["pred"] += diff
    zz[bidx, 0] = c["pred"]
    # AC
    k = 1
    while k < 64:
        peek = rd.peek16()
        n = int(ac_nb[peek])
        if n == 0:
            raise ValueError("invalid AC Huffman code")
        rd.skip(n)
        rs = int(ac_sym[peek])
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:          # ZRL: 16 zeros
                k += 16
                continue
            break                # EOB
        k += r
        if k > 63:
            raise ValueError("AC run past end of block")
        zz[bidx, k] = _extend(rd.receive(s), s)
        k += 1
