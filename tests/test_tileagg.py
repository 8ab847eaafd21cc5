"""Codec, image source, tile aggregation, and lineage-resume tests
(FIXTURES.md §4 invariants)."""

import numpy as np
import pytest

from libgeodesk_spark.media import codec


@pytest.fixture(scope="module")
def zlib_bomb():
    """~32 KB zlib stream of 32 MiB of zeros."""
    import zlib
    z = zlib.compressobj(9)
    zeros = bytes(1 << 20)
    return b"".join([z.compress(zeros) for _ in range(32)] + [z.flush()])


class TestCodec:
    def test_lossless_roundtrip(self):
        px = codec.synth_pixels(42, 32, 16)
        for fmt in ("bmp", "png"):
            back, f = codec.decode(codec.encode(px, fmt))
            assert f == fmt
            assert np.array_equal(back, px)

    def test_jpeg_lossy_psnr(self):
        px = codec.synth_pixels(7, 64, 64)
        back, f = codec.decode(codec.encode(px, "jpeg"))
        assert f == "jpeg"
        assert not np.array_equal(back, px)          # genuinely lossy
        assert codec.psnr(px, back) >= 40.0          # the gate
        # idempotent re-encode: decoded pixels stable
        back2, _ = codec.decode(codec.reencode(codec.encode(px, "jpeg")))
        assert np.array_equal(back, back2)

    def test_deterministic(self):
        assert codec.encode(codec.synth_pixels(5, 16, 16), "png") == \
            codec.encode(codec.synth_pixels(5, 16, 16), "png")

    def test_psnr_basics(self):
        a = np.zeros((8, 8, 3), dtype=np.uint8)
        assert codec.psnr(a, a) == float("inf")
        b = a.copy()
        b[0, 0, 0] = 255
        assert 0 < codec.psnr(a, b) < 40

    @pytest.mark.parametrize("magic", [b"FBMP", b"FPNG"])
    def test_legacy_containers_rejected(self, magic):
        """The decode-only FBMP/FPNG containers are gone: their blobs
        raise instead of decoding."""
        import struct
        import zlib
        px = codec.synth_pixels(77, 12, 5)
        body = px.tobytes() if magic == b"FBMP" else zlib.compress(
            px.tobytes(), 6)
        with pytest.raises(ValueError, match="bad magic"):
            codec.decode(magic + struct.pack("<HH", 12, 5) + body)

    @pytest.mark.parametrize("kernel", ["c", "pure"])
    @pytest.mark.parametrize("fmt", ["png", "jpeg"])
    def test_inflate_bomb_raises_before_allocating(self, monkeypatch,
                                                   zlib_bomb, fmt, kernel):
        """A small stream that inflates far past the 4x4 RGB its header
        declares raises ValueError while holding no more than the
        declared size, on the C-kernel and the pure path alike."""
        import struct
        import tracemalloc
        import zlib
        if fmt == "png":
            def chunk(t, p):
                return (struct.pack(">I", len(p)) + t + p
                        + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF))
            blob = (b"\x89PNG\r\n\x1a\n"
                    + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 2,
                                                 0, 0, 0))
                    + chunk(b"IDAT", zlib_bomb) + chunk(b"IEND", b""))
        else:
            blob = b"FJPG" + struct.pack("<HHB", 4, 4, codec.JPEG_Q) \
                + zlib_bomb
        codec._fc()                       # load the kernel outside the trace
        if kernel == "pure":
            monkeypatch.setattr(codec, "_fc", lambda: None)
        tracemalloc.start()
        try:
            with pytest.raises(ValueError):
                codec.decode(blob)
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        assert peak < 2 << 20, f"peak {peak} B while rejecting the bomb"


def _ext_png(px: np.ndarray, filters: list[int], color: int = 2,
             idat_split: int | None = None) -> bytes:
    """INDEPENDENT spec-level PNG writer (test-side): forward-filters
    each scanline per PNG spec §9 with the given per-row filter types —
    cross-validates codec.decode_png's DEfiltering against a separately
    written FILTERing implementation (what external encoders emit)."""
    import struct
    import zlib
    h, w = px.shape[:2]
    bpp = 4 if color == 6 else 3
    raw = bytearray()
    prior = np.zeros(w * bpp, dtype=np.int32)
    for y in range(h):
        ft = filters[y % len(filters)]
        cur = px[y].reshape(-1).astype(np.int32)
        raw.append(ft)
        for x in range(w * bpp):
            a = int(cur[x - bpp]) if x >= bpp else 0
            b = int(prior[x])
            c = int(prior[x - bpp]) if x >= bpp else 0
            if ft == 0:
                v = cur[x]
            elif ft == 1:
                v = cur[x] - a
            elif ft == 2:
                v = cur[x] - b
            elif ft == 3:
                v = cur[x] - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
                v = cur[x] - pr
            raw.append(v & 0xFF)
        prior = cur

    def chunk(t, p):
        return (struct.pack(">I", len(p)) + t + p
                + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF))

    z = zlib.compress(bytes(raw), 9)
    if idat_split:
        idat = chunk(b"IDAT", z[:idat_split]) + chunk(b"IDAT",
                                                      z[idat_split:])
    else:
        idat = chunk(b"IDAT", z)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + idat
            + chunk(b"IEND", b""))


class TestRealPng:
    def test_structural_layout(self):
        """Encoded blobs are genuine PNGs: signature, big-endian chunk
        lengths, valid CRCs, IHDR(8-bit RGB, no interlace), IEND last."""
        import struct
        import zlib
        data = codec.encode(codec.synth_pixels(3, 20, 10), "png")
        assert data[:8] == b"\x89PNG\r\n\x1a\n"
        pos, types = 8, []
        while pos < len(data):
            (ln,) = struct.unpack(">I", data[pos:pos + 4])
            t = data[pos + 4:pos + 8]
            payload = data[pos + 8:pos + 8 + ln]
            (crc,) = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])
            assert crc == (zlib.crc32(t + payload) & 0xFFFFFFFF)
            types.append(t)
            pos += 12 + ln
        assert types == [b"IHDR", b"IDAT", b"IEND"] and pos == len(data)
        w, h, depth, color, comp, filt, inter = struct.unpack(
            ">IIBBBBB", data[16:29])
        assert (w, h, depth, color, comp, filt, inter) == \
            (20, 10, 8, 2, 0, 0, 0)

    @pytest.mark.parametrize("filters", [[0], [1], [2], [3], [4],
                                         [0, 1, 2, 3, 4], [4, 3, 1]])
    def test_decodes_externally_filtered_png(self, filters):
        """Every PNG filter type (and mixes), written by the INDEPENDENT
        test-side encoder, decodes to the exact source pixels — the
        'reference-generated PNG' interop criterion."""
        px = codec.synth_pixels(91, 23, 17)
        got, fmt = codec.decode(_ext_png(px, filters))
        assert fmt == "png" and np.array_equal(got, px)

    def test_rgba_alpha_dropped_and_multi_idat(self):
        px = codec.synth_pixels(13, 9, 7)
        rgba = np.concatenate(
            [px, np.full((7, 9, 1), 200, dtype=np.uint8)], axis=2)
        got, fmt = codec.decode(_ext_png(rgba, [0, 4], color=6,
                                         idat_split=10))
        assert fmt == "png" and np.array_equal(got, px)

    def test_bad_crc_and_unsupported_raise(self):
        px = codec.synth_pixels(1, 8, 8)
        data = bytearray(codec.encode(px, "png"))
        data[20] ^= 0xFF                      # corrupt IHDR payload
        with pytest.raises(ValueError, match="CRC"):
            codec.decode(bytes(data))
        import struct
        import zlib

        def chunk(t, p):
            return (struct.pack(">I", len(p)) + t + p
                    + struct.pack(">I", zlib.crc32(t + p) & 0xFFFFFFFF))
        pal = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0)))
        with pytest.raises(NotImplementedError, match="palette|RGB"):
            codec.decode(pal)


def _ext_bmp(px: np.ndarray, bpp: int = 24, top_down: bool = False,
             hdr_size: int = 40) -> bytes:
    """INDEPENDENT spec-level BMP writer (test-side): builds the file
    byte-by-byte per the Windows spec — BGR(A) rows, 4-byte stride
    padding, bottom-up unless ``top_down`` (negative height), optional
    V5-size info header — cross-validating codec.decode_bmp against a
    separately written implementation (what external tools emit)."""
    import struct
    h, w = px.shape[:2]
    nch = bpp // 8
    stride = (w * nch + 3) & ~3
    body = bytearray()
    ys = range(h) if top_down else range(h - 1, -1, -1)
    for y in ys:
        row = bytearray()
        for x in range(w):
            r, g, b = (int(px[y, x, 0]), int(px[y, x, 1]),
                       int(px[y, x, 2]))
            row += bytes([b, g, r] + ([0xAB] if nch == 4 else []))
        row += b"\x00" * (stride - len(row))
        body += row
    info = struct.pack("<IiiHHIIiiII", hdr_size, w,
                       -h if top_down else h, 1, bpp, 0, len(body),
                       0, 0, 0, 0)
    info += b"\x00" * (hdr_size - 40)
    off = 14 + hdr_size
    return (b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
            + info + bytes(body))


class TestRealBmp:
    def test_structural_layout(self):
        """Encoded blobs are genuine BMPs: 'BM' signature, correct file
        size and data offset, BITMAPINFOHEADER with 24-bit BI_RGB, and
        4-byte-padded bottom-up rows."""
        import struct
        px = codec.synth_pixels(21, 5, 3)      # w=5 → stride 16, pad 1
        data = codec.encode(px, "bmp")
        assert data[:2] == b"BM"
        size, _, _, off = struct.unpack("<IHHI", data[2:14])
        assert size == len(data) and off == 54
        (hsz, w, h, planes, bpp, comp, isz) = struct.unpack(
            "<IiiHHII", data[14:38])
        assert (hsz, w, h, planes, bpp, comp) == (40, 5, 3, 1, 24, 0)
        assert isz == 3 * 16 and off + isz == len(data)
        # bottom-up: first stored row is the image's LAST row, BGR
        assert data[54:57] == bytes(px[2, 0, ::-1])

    @pytest.mark.parametrize("bpp,top_down,hdr_size",
                             [(24, False, 40), (24, True, 40),
                              (32, False, 40), (32, True, 124),
                              (24, False, 108)])
    def test_decodes_external_bmps(self, bpp, top_down, hdr_size):
        """24/32-bit, both row orders, and V4/V5 header sizes written by
        the INDEPENDENT test-side encoder decode to the exact source
        pixels (alpha dropped)."""
        px = codec.synth_pixels(55, 7, 5)      # odd width → row padding
        got, fmt = codec.decode(_ext_bmp(px, bpp, top_down, hdr_size))
        assert fmt == "bmp" and np.array_equal(got, px)

    def test_roundtrip_through_external_decoder(self):
        """Our encoder's output parses with the test-side INDEPENDENT
        field-by-field reader (not just our own decode)."""
        import struct
        px = codec.synth_pixels(9, 6, 4)
        data = codec.encode(px, "bmp")
        (off,) = struct.unpack("<I", data[10:14])
        w, h = struct.unpack("<ii", data[18:26])
        stride = (w * 3 + 3) & ~3
        for y in range(h):
            srow = data[off + (h - 1 - y) * stride:][:w * 3]
            for x in range(w):
                assert srow[x * 3:x * 3 + 3] == bytes(px[y, x, ::-1])

    def test_unsupported_raise(self):
        px = codec.synth_pixels(2, 4, 4)
        rle = bytearray(_ext_bmp(px))
        rle[30:34] = (1).to_bytes(4, "little")       # BI_RLE8
        with pytest.raises(NotImplementedError, match="compression"):
            codec.decode(bytes(rle))
        pal = bytearray(_ext_bmp(px))
        pal[28:30] = (8).to_bytes(2, "little")       # 8-bit palette
        with pytest.raises(NotImplementedError, match="bpp"):
            codec.decode(bytes(pal))
        core = bytearray(_ext_bmp(px))
        core[14:18] = (12).to_bytes(4, "little")     # BITMAPCOREHEADER
        with pytest.raises(NotImplementedError, match="core header"):
            codec.decode(bytes(core))


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    from libgeodesk_spark.sources.images import images_table
    df = images_table(spark, sf_dir)
    df.persist()
    df.count()
    return df


class TestImagesSource:
    def test_schema_and_determinism(self, images):
        row = images.orderBy("pid").limit(1).collect()[0]
        from libgeodesk_spark.sources.images import caption_for, fmt_for, size_for
        pid = row.pid
        assert row.caption == caption_for(pid)
        assert row.fmt == fmt_for(pid)
        assert (row.w, row.h) == size_for(pid)
        px, fmt = codec.decode(bytes(row.bytes))
        assert fmt == row.fmt
        assert px.shape == (row.h, row.w, 3)

    def test_caption_nonascii(self, images):
        caps = images.limit(5).select("caption").collect()
        assert all("café" in r.caption and "№" in r.caption for r in caps)


class TestTileAgg:
    def test_reencode_preserves(self, images):
        from libgeodesk_spark.operators.tileagg import reencode_images
        out = reencode_images(images).filter("pid < 400") \
            .select("pid", "bytes", "caption", "fmt").toPandas()
        src = images.filter("pid < 400") \
            .select("pid", "bytes", "caption", "fmt").toPandas()
        m = out.merge(src, on="pid", suffixes=("_o", "_s"))
        assert len(m) == len(src) > 0
        for _, r in m.iterrows():
            assert r.caption_o == r.caption_s          # byte-for-byte
            a, fa = codec.decode(bytes(r.bytes_o))
            b, fb = codec.decode(bytes(r.bytes_s))
            assert fa == fb == r.fmt_s
            if fa == "jpeg":
                assert codec.psnr(a, b) >= 40.0
            else:
                assert np.array_equal(a, b)

    def test_metrics(self, images):
        from libgeodesk_spark.operators.tileagg import tile_reencode_metrics
        met = tile_reencode_metrics(images).toPandas()
        assert (met.min_psnr >= 40.0).all()
        assert met.n_images.sum() == images.count()
        # counts per (cell, fmt) preserved
        want = images.groupBy("cell_id", "fmt").count().toPandas()
        got = met[["cell_id", "fmt", "n_images"]]
        j = want.merge(got, on=["cell_id", "fmt"], how="outer")
        assert j["count"].equals(j.n_images.astype("int64"))

    def test_metrics_digest_duplicate_image_ids(self, spark, images):
        """ADVICE r4: duplicate image_ids with DIFFERENT captions in one
        (cell, fmt) group must digest identically on both sides — the
        Arrow metrics sort and the JVM sort_array(struct(image_id,
        caption)) now share the same total order."""
        from pyspark.sql import functions as F

        from libgeodesk_spark.operators.tileagg import tile_reencode_metrics
        one = images.limit(1)
        dup = one.select(
            "pid", "cell_id", "salt", "image_id", "w", "h", "fmt", "bytes",
            F.explode(F.array(F.lit("caption B"), F.lit("caption A"),
                              F.lit("caption C"))).alias("caption"))
        # shuffle arrival order so a stable-but-wrong sort would differ
        dup = dup.repartition(3)
        met = tile_reencode_metrics(dup).toPandas()
        expect = (dup.groupBy("cell_id", "fmt")
                  .agg(F.sha2(F.concat_ws("", F.transform(
                      F.sort_array(F.collect_list(
                          F.struct("image_id", "caption"))),
                      lambda s: F.concat(s["caption"], F.lit("\x00")))),
                      256).alias("want")).toPandas())
        assert len(met) == 1 and met.n_images.iloc[0] == 3
        assert met.caption_sha.iloc[0] == expect.want.iloc[0]

    def test_metrics_salted_counts(self, images):
        from libgeodesk_spark.operators.tileagg import tile_reencode_metrics
        met = tile_reencode_metrics(images, salt_hot=True).toPandas()
        assert met.n_images.sum() == images.count()
        assert (met.min_psnr >= 40.0).all()

    def test_mosaic(self, images):
        from libgeodesk_spark.operators.tileagg import mosaic_tiles
        tiles = mosaic_tiles(images.filter("salt = 3")).toPandas()
        assert len(tiles) > 0
        px, fmt = codec.decode(bytes(tiles.iloc[0].tile_png))
        assert fmt == "png" and px.shape == (64, 64, 3)

    def test_mosaic_salted_matches_unsalted(self, images):
        """The skew path: per-salt partial canvases merged by the
        associative (sum, count) accumulators must reproduce the
        single-group render byte-for-byte on the gate fixture — the hot
        cell renders across tasks instead of serializing into one."""
        from libgeodesk_spark.operators.tileagg import mosaic_tiles
        sub = images.filter("cell_id % 7 = 0")
        plain = mosaic_tiles(sub).toPandas() \
            .sort_values("cell_id").reset_index(drop=True)
        salted = mosaic_tiles(sub, salt_hot=True).toPandas() \
            .sort_values("cell_id").reset_index(drop=True)
        assert plain["cell_id"].tolist() == salted["cell_id"].tolist()
        assert plain["n_images"].tolist() == salted["n_images"].tolist()
        assert all(bytes(a) == bytes(b) for a, b in
                   zip(plain["tile_png"], salted["tile_png"]))


class TestLineage:
    def test_resume_after_failure(self, spark, images, tmp_path):
        from libgeodesk_spark.operators.tileagg import reencode_images
        from libgeodesk_spark.plans.lineage import TileJob

        # salt = 1, NOT 0: pid = orderkey*8 + linenumber (ln 1-7) is never
        # ≡ 0 mod 16, so salt=0 is empty and would make this test vacuous
        src = images.filter("salt = 1").select(
            "image_id", "cell_id", "bytes", "caption", "fmt")
        assert src.count() > 0
        out = str(tmp_path / "job1")
        job = TileJob(out, "job1", n_buckets=4)
        with pytest.raises(RuntimeError, match="injected failure"):
            job.run(src, reencode_images, fail_bucket=2)
        assert job.done_buckets() == {0, 1}

        # resume: only the remaining buckets run; output is complete, no dups
        job2 = TileJob(out, "job1", n_buckets=4)
        summary = job2.run(src, reencode_images)
        assert summary["skipped"] == [0, 1]
        assert summary["processed"] == [2, 3]
        got = job2.read_output(spark)
        assert got.count() == src.count()
        assert got.select("image_id").distinct().count() == src.count()
        # re-running again is a no-op
        assert TileJob(out, "job1", n_buckets=4).run(src, reencode_images)["processed"] == []
        # lineage records carry metrics
        recs = job2.lineage()
        assert len(recs) == 4 and all(r["status"] == "DONE" for r in recs)
