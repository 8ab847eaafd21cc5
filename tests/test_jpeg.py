"""Real baseline JPEG codec tests (media/jpeg.py).

The key check is `_naive_decode`: an INDEPENDENT test-side T.81 decoder
(bit-by-bit dict Huffman, per-block double-loop IDCT — written straight
from the spec with none of the engine's vectorized machinery) that must
produce bit-identical dequantized coefficients and pixels from the
engine's streams. Same cross-validation pattern as _ext_png/_ext_bmp in
test_tileagg.py.
"""

import struct

import numpy as np
import pytest

from libgeodesk_spark.media import codec, jpeg


# ---------------------------------------------------------------------------
# independent naive decoder (test-side)
# ---------------------------------------------------------------------------

def _naive_huff(bits, vals):
    """(code, length) -> symbol dict per T.81 C.2, written independently."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(code, ln)] = vals[k]
            code += 1
            k += 1
        code *= 2
    return table


class _NaiveBits:
    """Bit-at-a-time reader with 0xFF00 unstuffing and RST handling."""

    def __init__(self, data):
        self.d = data
        self.i = 0
        self.bit = 0

    def next_bit(self):
        b = self.d[self.i]
        if b == 0xFF and self.bit == 0:
            nxt = self.d[self.i + 1]
            if nxt == 0x00:
                pass                       # stuffed: 0xFF is data
            elif 0xD0 <= nxt <= 0xD7:
                raise AssertionError("hit RST inside block")
            else:
                raise AssertionError("ran into a marker mid-block")
        v = (b >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.i += 1
            if b == 0xFF and self.d[self.i] == 0x00:
                self.i += 1                # skip the stuffed zero
        return v

    def read(self, n):
        v = 0
        for _ in range(n):
            v = (v << 1) | self.next_bit()
        return v

    def sync_rst(self):
        if self.bit:
            was_ff = self.d[self.i] == 0xFF
            self.bit = 0
            self.i += 1
            if was_ff and self.d[self.i] == 0x00:
                self.i += 1               # stuffed zero after a 0xFF pad byte
        assert self.d[self.i] == 0xFF and 0xD0 <= self.d[self.i + 1] <= 0xD7
        self.i += 2


def _naive_decode_block(br, dc_tab, ac_tab, pred):
    zz = [0] * 64

    def read_sym(tab):
        code, ln = 0, 0
        while True:
            code = (code << 1) | br.next_bit()
            ln += 1
            assert ln <= 16, "no Huffman code matched in 16 bits"
            if (code, ln) in tab:
                return tab[(code, ln)]

    s = read_sym(dc_tab)
    diff = 0
    if s:
        r = br.read(s)
        diff = r if r >= (1 << (s - 1)) else r - (1 << s) + 1
    pred += diff
    zz[0] = pred
    k = 1
    while k < 64:
        rs = read_sym(ac_tab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:
                k += 16
                continue
            break
        k += r
        v = br.read(s)
        zz[k] = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
        k += 1
    return zz, pred


def _naive_idct(block):
    out = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (cu * cv * block[u][v]
                          * np.cos((2 * x + 1) * u * np.pi / 16)
                          * np.cos((2 * y + 1) * v * np.pi / 16))
            out[x, y] = s / 4.0
    return out + 128.0


def _naive_decode(blob):
    """Parse an engine-emitted stream (SOF0, 3 comps) independently;
    returns (h, w, 3) uint8 RGB via the same JFIF color transform."""
    assert blob[:2] == b"\xff\xd8"
    i = 2
    qt, huff, dri, frame, scan_at = {}, {}, 0, None, None
    zig = [(0, 0)]
    # independent zigzag generation: walk diagonals
    x = y = 0
    for _ in range(63):
        if (x + y) % 2 == 0:        # moving up-right
            if y == 7:
                x += 1
            elif x == 0:
                y += 1
            else:
                x -= 1
                y += 1
        else:                        # moving down-left
            if x == 7:
                y += 1
            elif y == 0:
                x += 1
            else:
                x += 1
                y -= 1
        zig.append((x, y))
    while i < len(blob):
        assert blob[i] == 0xFF
        m = blob[i + 1]
        if m == 0xD9:
            break
        ln = struct.unpack(">H", blob[i + 2:i + 4])[0]
        pay = blob[i + 4:i + 2 + ln]
        i += 2 + ln
        if m == 0xDB:
            p = 0
            while p < len(pay):
                tq = pay[p] & 0xF
                tbl = np.zeros((8, 8), dtype=np.int32)
                for zzi in range(64):
                    tbl[zig[zzi]] = pay[p + 1 + zzi]
                qt[tq] = tbl
                p += 65
        elif m == 0xC4:
            p = 0
            while p < len(pay):
                cls, dest = pay[p] >> 4, pay[p] & 0xF
                bits = list(pay[p + 1:p + 17])
                n = sum(bits)
                huff[(cls, dest)] = _naive_huff(bits, list(pay[p + 17:p + 17 + n]))
                p += 17 + n
        elif m == 0xC0:
            _prec, h, w, nc = struct.unpack(">BHHB", pay[:6])
            comps = [(pay[6 + 3 * c], pay[7 + 3 * c] >> 4,
                      pay[7 + 3 * c] & 0xF, pay[8 + 3 * c])
                     for c in range(nc)]
            frame = (h, w, comps)
        elif m == 0xDD:
            dri = struct.unpack(">H", pay[:2])[0]
        elif m == 0xDA:
            sel = {pay[1 + 2 * c]: (pay[2 + 2 * c] >> 4, pay[2 + 2 * c] & 0xF)
                   for c in range(pay[0])}
            scan_at = i
            break
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    br = _NaiveBits(blob)
    br.i = scan_at
    planes, preds = {}, {}
    for cid, ch, cv, tq in comps:
        planes[cid] = np.zeros((mcuy * cv * 8, mcux * ch * 8))
        preds[cid] = 0
    mcu_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_n and mcu_n % dri == 0:
                br.sync_rst()
                for cid in preds:
                    preds[cid] = 0
            for cid, ch, cv, tq in comps:
                td, ta = sel[cid]
                for by in range(cv):
                    for bx in range(ch):
                        zz, preds[cid] = _naive_decode_block(
                            br, huff[(0, td)], huff[(1, ta)], preds[cid])
                        blk = np.zeros((8, 8), dtype=np.int64)
                        for zzi in range(64):
                            blk[zig[zzi]] = zz[zzi]
                        px = _naive_idct(blk * qt[tq])
                        py0 = (my * cv + by) * 8
                        px0 = (mx * ch + bx) * 8
                        planes[cid][py0:py0 + 8, px0:px0 + 8] = px
            mcu_n += 1
    full = []
    for cid, ch, cv, tq in comps:
        p = planes[cid]
        p = np.repeat(np.repeat(p, vmax // cv, axis=0), hmax // ch, axis=1)
        full.append(p[:h, :w])
    y, cb, cr = full
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(np.stack([r, g, b], -1)), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# tests
# ---------------------------------------------------------------------------

class TestPrimitives:
    def test_dct_matches_naive_spec_formula(self):
        rng = np.random.default_rng(0)
        B = rng.integers(-128, 128, (8, 8)).astype(np.float64)
        fast = jpeg._DCT_M @ B @ jpeg._DCT_M.T
        naive = np.zeros((8, 8))
        for u in range(8):
            for v in range(8):
                cu = 1 / np.sqrt(2) if u == 0 else 1.0
                cv = 1 / np.sqrt(2) if v == 0 else 1.0
                s = 0.0
                for x in range(8):
                    for y in range(8):
                        s += (B[x, y] * np.cos((2 * x + 1) * u * np.pi / 16)
                              * np.cos((2 * y + 1) * v * np.pi / 16))
                naive[u, v] = 0.25 * cu * cv * s
        assert np.abs(fast - naive).max() < 1e-10

    def test_idct_inverts_dct(self):
        rng = np.random.default_rng(1)
        b = rng.integers(0, 256, (3, 8, 8)).astype(np.float64) - 128.0
        coef = np.einsum("ux,nxy,vy->nuv", jpeg._DCT_M, b, jpeg._DCT_M)
        back = np.einsum("xu,nuv,yv->nxy", jpeg._DCT_M.T, coef, jpeg._DCT_M.T)
        assert np.abs(back - b).max() < 1e-9

    def test_zigzag_pin(self):
        assert jpeg.ZIGZAG[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
        assert jpeg.ZIGZAG[-3:].tolist() == [55, 62, 63]
        assert sorted(jpeg.ZIGZAG.tolist()) == list(range(64))
        assert (jpeg.ZIGZAG[jpeg.INV_ZIGZAG] == np.arange(64)).all()

    def test_quality_50_is_annex_k(self):
        qy, qc = jpeg.quality_tables(50)
        assert (qy == jpeg.QT_LUM).all()
        assert (qc == jpeg.QT_CHROM).all()

    def test_quality_scaling_monotone(self):
        steps = [jpeg.quality_tables(q)[0].sum() for q in (10, 50, 75, 95, 100)]
        assert steps == sorted(steps, reverse=True)
        assert (jpeg.quality_tables(100)[0] == 1).all()

    def test_canonical_code_assignment(self):
        codes = jpeg._assign_codes(jpeg.DC_LUM_BITS, jpeg.DC_LUM_VALS)
        assert codes[0] == (0b00, 2)
        assert codes[1] == (0b010, 3)
        assert codes[5] == (0b110, 3)
        assert codes[6] == (0b1110, 4)
        assert codes[11] == (0b111111110, 9)
        # prefix-free over the AC table too
        ac = jpeg._assign_codes(jpeg.AC_LUM_BITS, jpeg.AC_LUM_VALS)
        assert len(ac) == 162
        bitstrings = sorted(format(c, f"0{ln}b") for c, ln in ac.values())
        for a, b in zip(bitstrings, bitstrings[1:]):
            assert not b.startswith(a)


class TestRoundTrip:
    def test_structure_and_stuffing(self):
        px = codec.synth_pixels(3, 40, 24)
        blob = jpeg.encode_jpeg(px, quality=90)
        assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
        assert b"JFIF\x00" in blob[:30]
        # entropy segment: any 0xFF must be followed by 0x00 / RSTn / EOI
        sos = blob.index(b"\xff\xda")
        scan = blob[sos + 2 + struct.unpack(">H", blob[sos + 2:sos + 4])[0]:]
        j = 0
        while j < len(scan) - 1:
            if scan[j] == 0xFF:
                assert scan[j + 1] == 0x00 or 0xD0 <= scan[j + 1] <= 0xD9
            j += 1

    @pytest.mark.parametrize("ss", ["444", "422", "420"])
    def test_psnr_floor(self, ss):
        px = codec.synth_pixels(42, 64, 48)
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=95, subsampling=ss))
        assert out.shape == px.shape
        # synthetic images carry independent RGB noise (chroma-heavy);
        # floors pinned from measurement, not aspiration
        floor = {"444": 34.0, "422": 25.0, "420": 23.0}[ss]
        assert codec.psnr(px, out) >= floor

    def test_q100_near_lossless(self):
        px = codec.synth_pixels(9, 48, 32)
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(px, quality=100))
        assert codec.psnr(px, out) >= 50.0

    def test_gray_content_hits_tile_gate(self):
        g = np.repeat(codec.synth_pixels(1, 64, 48)[:, :, :1], 3, axis=2)
        out = jpeg.decode_jpeg(jpeg.encode_jpeg(g, quality=95))
        assert codec.psnr(g, out) >= 40.0

    def test_quality_ladder_sizes(self):
        px = codec.synth_pixels(11, 64, 64)
        sizes = [len(jpeg.encode_jpeg(px, quality=q)) for q in (30, 60, 90, 100)]
        assert sizes == sorted(sizes)

    def test_odd_dims(self):
        for (w, h) in [(1, 1), (7, 5), (33, 17), (16, 9)]:
            px = codec.synth_pixels(w * 100 + h, w, h)
            for ss in ("444", "422", "420"):
                out = jpeg.decode_jpeg(jpeg.encode_jpeg(px, 92, subsampling=ss))
                assert out.shape == (h, w, 3)

    def test_determinism(self):
        px = codec.synth_pixels(5, 24, 24)
        assert jpeg.encode_jpeg(px, 85) == jpeg.encode_jpeg(px, 85)


class TestIndependentCrossCheck:
    """Engine decoder vs the naive spec decoder: bit-identical pixels."""

    @pytest.mark.parametrize("ss", ["444", "422", "420"])
    def test_engine_decode_equals_naive(self, ss):
        px = codec.synth_pixels(77, 24, 17)
        blob = jpeg.encode_jpeg(px, quality=80, subsampling=ss)
        engine = jpeg.decode_jpeg(blob)
        naive = _naive_decode(blob)
        assert np.array_equal(engine, naive)

    def test_restart_markers_cross_check(self):
        px = codec.synth_pixels(13, 40, 24)
        blob = jpeg.encode_jpeg(px, quality=85, restart_interval=2)
        assert b"\xff\xd0" in blob or b"\xff\xd1" in blob
        assert np.array_equal(jpeg.decode_jpeg(blob), _naive_decode(blob))


class TestRestartAndErrors:
    def test_restart_roundtrip_matches_no_restart(self):
        px = codec.synth_pixels(21, 48, 40)
        plain = jpeg.decode_jpeg(jpeg.encode_jpeg(px, 88))
        rst = jpeg.decode_jpeg(jpeg.encode_jpeg(px, 88, restart_interval=1))
        assert np.array_equal(plain, rst)   # same coefficients either way

    def test_sequential_stream_mislabeled_progressive_raises(self):
        """A sequential scan body under an SOF2 header is malformed (its
        SOS has Se=63 with Ss=0, illegal for a progressive DC scan) —
        clean ValueError, not garbage. Real progressive coverage runs
        against JDK-encoded scan scripts in test_interop.py."""
        blob = bytearray(jpeg.encode_jpeg(codec.synth_pixels(2, 16, 16), 90))
        i = blob.index(b"\xff\xc0")
        blob[i + 1] = 0xC2
        with pytest.raises(ValueError, match="DC scan"):
            jpeg.decode_jpeg(bytes(blob))

    def test_16bit_dqt_decodes(self):
        """Pq=1 DQT (16-bit big-endian entries, B.2.4.1) — rewrite the
        luma table segment widened to 16 bits with identical values;
        decode must be bit-identical to the 8-bit stream."""
        blob = jpeg.encode_jpeg(codec.synth_pixels(2, 16, 16), 90)
        i = blob.index(b"\xff\xdb")
        seglen = struct.unpack(">H", blob[i + 2:i + 4])[0]
        assert seglen == 67 and blob[i + 4] == 0x00     # Pq=0, Tq=0
        vals = blob[i + 5:i + 5 + 64]
        wide = b"".join(struct.pack(">H", v) for v in vals)
        seg16 = (b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128)
                 + b"\x10" + wide)                      # Pq=1, Tq=0
        patched = blob[:i] + seg16 + blob[i + 2 + seglen:]
        assert np.array_equal(jpeg.decode_jpeg(patched),
                              jpeg.decode_jpeg(blob))

    def test_truncation_raises(self):
        blob = jpeg.encode_jpeg(codec.synth_pixels(2, 32, 32), 90)
        with pytest.raises((ValueError, struct.error)):
            jpeg.decode_jpeg(blob[:40])     # cut inside a header segment

    @pytest.mark.parametrize("tail", [b"\xff\xff\x00\xff\xd9", b"\xff\xff"],
                             ids=["zero_byte", "end_of_data"])
    def test_fill_run_without_marker_raises(self, tail):
        """0xFF fill bytes may only pad before a marker (T.81 B.1.1.2).
        A run followed by 0x00 or by the end of the data has no marker
        and must not end the scan with 1-bit padding."""
        blob = jpeg.encode_jpeg(codec.synth_pixels(5, 32, 32), 90)
        end = blob.rindex(b"\xff\xd9")
        with pytest.raises(ValueError, match="fill bytes"):
            jpeg.decode_jpeg(blob[:end] + tail)

    def test_not_a_jpeg(self):
        with pytest.raises(ValueError):
            jpeg.decode_jpeg(b"\x89PNG\r\n\x1a\n")

    def test_bad_dims(self):
        with pytest.raises(ValueError):
            jpeg.encode_jpeg(np.zeros((8, 8), dtype=np.uint8))


class TestCodecDispatch:
    def test_decode_dispatch(self):
        px = codec.synth_pixels(4, 32, 16)
        blob = jpeg.encode_jpeg(px, 95)
        out, fmt = codec.decode(blob)
        assert fmt == "jpeg_baseline"
        assert np.array_equal(out, jpeg.decode_jpeg(blob))

    def test_encode_dispatch_and_reencode(self):
        px = codec.synth_pixels(4, 32, 16)
        blob = codec.encode(px, "jpeg_baseline")
        assert blob[:2] == b"\xff\xd8"
        re = codec.reencode(blob)           # decode -> encode, stays real JPEG
        assert re[:2] == b"\xff\xd8"
        a, _ = codec.decode(blob)
        b, _ = codec.decode(re)
        assert codec.psnr(a, b) >= 40.0     # re-save at same tables ~ stable

    def test_fjpg_still_decodes(self):
        px = codec.synth_pixels(4, 32, 16)
        out, fmt = codec.decode(codec.encode(px, "jpeg"))
        assert fmt == "jpeg" and codec.psnr(px, out) >= 40.0


class TestSingleComponentSequential:
    def test_grayscale_with_2x2_sampling_factors(self):
        """T.81 A.2.2: a scan with ns=1 is NON-interleaved regardless of
        the declared sampling factors — blocks are ceil(w/8) x
        ceil(h/8) in the component's own raster order, not the
        MCU-padded grid (review r5: tools that keep luma sampling
        factors when stripping color emit exactly this shape)."""
        w = h = 24
        g = np.repeat(codec.synth_pixels(9, w, h)[:, :, :1], 3, axis=2)
        qy, _ = jpeg.quality_tables(90)
        zz = jpeg._fdct_quant_zz(g[:, :, 0].astype(np.float64), qy)
        dc = jpeg._assign_codes(jpeg.DC_LUM_BITS, jpeg.DC_LUM_VALS)
        ac = jpeg._assign_codes(jpeg.AC_LUM_BITS, jpeg.AC_LUM_VALS)
        wr = jpeg._BitWriter()
        pred = 0
        for bidx in range(zz.shape[0]):          # raster, 3x3 blocks
            pred = jpeg._encode_block(wr, zz[bidx], pred, dc, ac)
        wr.align()
        dqt = jpeg._seg(jpeg.DQT, b"\x00" + bytes(qy[jpeg.ZIGZAG].tolist()))
        sof = jpeg._seg(jpeg.SOF0, struct.pack(">BHHB", 8, h, w, 1)
                        + bytes((1, 0x22, 0)))   # sampling 2x2!
        dht = (jpeg._seg(jpeg.DHT, b"\x00" + bytes(jpeg.DC_LUM_BITS)
                         + bytes(jpeg.DC_LUM_VALS))
               + jpeg._seg(jpeg.DHT, b"\x10" + bytes(jpeg.AC_LUM_BITS)
                           + bytes(jpeg.AC_LUM_VALS)))
        sos = jpeg._seg(jpeg.SOS, bytes((1, 1, 0x00, 0, 63, 0)))
        blob = (bytes((0xFF, jpeg.SOI)) + dqt + sof + dht + sos
                + bytes(wr.out) + bytes((0xFF, jpeg.EOI)))
        out = jpeg.decode_jpeg(blob)
        assert out.shape == (h, w, 3)
        assert np.array_equal(out[:, :, 0], out[:, :, 1])
        # q90 quantization loss on noisy content measures 36.7 dB
        assert codec.psnr(g, out) >= 35.0

    def test_three_component_split_into_per_component_scans(self):
        """T.81 B.2.3: a sequential frame may split its components
        across scans (Y, then Cb, then Cr, each ns=1 non-interleaved).
        Built from the same quantized coefficients as the engine's
        interleaved encode at 32x32 (where the MCU-padded and
        per-component block grids coincide), so the two streams must
        decode BIT-IDENTICALLY."""
        px = codec.synth_pixels(31, 32, 32)
        q = 85
        single = jpeg.encode_jpeg(px, q, subsampling="420")
        qy, qc = jpeg.quality_tables(q)
        y, cb, cr = jpeg._rgb_to_ycbcr(px)
        cb = cb.reshape(16, 2, 16, 2).mean((1, 3))
        cr = cr.reshape(16, 2, 16, 2).mean((1, 3))
        zzs = [jpeg._fdct_quant_zz(y, qy),
               jpeg._fdct_quant_zz(cb, qc),
               jpeg._fdct_quant_zz(cr, qc)]
        dc_l = jpeg._assign_codes(jpeg.DC_LUM_BITS, jpeg.DC_LUM_VALS)
        ac_l = jpeg._assign_codes(jpeg.AC_LUM_BITS, jpeg.AC_LUM_VALS)
        dc_c = jpeg._assign_codes(jpeg.DC_CHROM_BITS, jpeg.DC_CHROM_VALS)
        ac_c = jpeg._assign_codes(jpeg.AC_CHROM_BITS, jpeg.AC_CHROM_VALS)
        tabs = [(dc_l, ac_l), (dc_c, ac_c), (dc_c, ac_c)]

        dqt = (jpeg._seg(jpeg.DQT, b"\x00" + bytes(qy[jpeg.ZIGZAG].tolist()))
               + jpeg._seg(jpeg.DQT, b"\x01" + bytes(qc[jpeg.ZIGZAG].tolist())))
        sof = jpeg._seg(jpeg.SOF0, struct.pack(">BHHB", 8, 32, 32, 3)
                        + bytes((1, 0x22, 0)) + bytes((2, 0x11, 1))
                        + bytes((3, 0x11, 1)))
        dht = b"".join(
            jpeg._seg(jpeg.DHT, bytes([cls << 4 | d]) + bytes(b) + bytes(v))
            for cls, d, b, v in (
                (0, 0, jpeg.DC_LUM_BITS, jpeg.DC_LUM_VALS),
                (1, 0, jpeg.AC_LUM_BITS, jpeg.AC_LUM_VALS),
                (0, 1, jpeg.DC_CHROM_BITS, jpeg.DC_CHROM_VALS),
                (1, 1, jpeg.AC_CHROM_BITS, jpeg.AC_CHROM_VALS)))
        blob = bytes((0xFF, jpeg.SOI)) + dqt + sof + dht
        for ci, (cid, tsel) in enumerate([(1, 0x00), (2, 0x11), (3, 0x11)]):
            blob += jpeg._seg(jpeg.SOS, bytes((1, cid, tsel, 0, 63, 0)))
            wr = jpeg._BitWriter()
            pred = 0
            for bidx in range(zzs[ci].shape[0]):
                pred = jpeg._encode_block(wr, zzs[ci][bidx], pred,
                                          *tabs[ci])
            wr.align()
            blob += bytes(wr.out)
        blob += bytes((0xFF, jpeg.EOI))
        assert np.array_equal(jpeg.decode_jpeg(blob),
                              jpeg.decode_jpeg(single))
