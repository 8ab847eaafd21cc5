"""Round-6 optimization guards: the codec/tileagg hot paths were
restructured for speed — these tests pin the outputs bit-for-bit.

* golden blob digests captured from the PRE-optimization (round-5) codec:
  any drift in encoded bytes (which feed bytes_in/bytes_out of the
  tile_metrics gate row and the bench's images/sec accounting) fails here
  before it can reach the driver;
* randomized forward-filter -> _png_defilter round-trip over all five
  PNG filter types (the serial Average/Paeth loop was rewritten);
* _synth_group_metrics (the applyInPandas body behind the tile_reencode
  bench leg) against a straightforward reference implementation.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest

from libgeodesk_spark.media import codec
from libgeodesk_spark.sources.images import caption_for, fmt_for, size_for

# digests of synth->encode(->decode->re-encode) captured from the r5 codec
GOLDEN_PIDS = {
    "0": {"blob_len": 852, "fmt": "png",
          "blob_sha": "7978064b6914b11f22e2238f4d311e7aa1b1b6251ae11e480473d6c1a65697a7",
          "px_sha": "44e81cfdcdde0344dc1be101e68e15d22269a3c6a5478a87ebab04e088922144",
          "reblob_sha": "7978064b6914b11f22e2238f4d311e7aa1b1b6251ae11e480473d6c1a65697a7"},
    "7": {"blob_len": 1104, "fmt": "jpeg",
          "blob_sha": "f3ee34f2d3f3f833062d58e8008c5f1b8d7f050e55347d6f236f2917684a5c14",
          "px_sha": "2afc8e89d59ea06f9b4a8511ea0a8b40b96d3240d4c602d3691c3099fd4a80c8",
          "reblob_sha": "f3ee34f2d3f3f833062d58e8008c5f1b8d7f050e55347d6f236f2917684a5c14"},
    "49": {"blob_len": 3126, "fmt": "bmp",
           "blob_sha": "e8e59595344fa3da4d35dccf181a24eecbbcdd3dace142921efad11a220c936b",
           "px_sha": "43fd87f7396f3fa9a4e9bc874cf4bd43181f9545c9bda38ed353c46c5871b45f",
           "reblob_sha": "e8e59595344fa3da4d35dccf181a24eecbbcdd3dace142921efad11a220c936b"},
    "12345": {"blob_len": 2145, "fmt": "jpeg",
              "blob_sha": "813b04d4721e0e7d26e37f9014f7d7185e82b4fba59989c033faf16ce4ee8470",
              "px_sha": "dc73779c067a17a15c2df8860a46f7d218bbfa5587018bb5fc1a6abcdb5665fa",
              "reblob_sha": "813b04d4721e0e7d26e37f9014f7d7185e82b4fba59989c033faf16ce4ee8470"},
    "999999": {"blob_len": 822, "fmt": "bmp",
               "blob_sha": "fbdc79feb12fe24852ba4faf956441bb55923b3e9a0f1930aa4141e2022063ef",
               "px_sha": "e25480584df74a9b9c70bfd368b17f3c74858687ff710509d8c74ee908778c6a",
               "reblob_sha": "fbdc79feb12fe24852ba4faf956441bb55923b3e9a0f1930aa4141e2022063ef"},
}

# blob digests for seed 4242 at format x size extremes (r5 codec)
GOLDEN_FMT_SIZE = {
    ("png", 64, 64): ("cfbf2464f7013baac25e31f73a49bdde0c6b0bfe12b7641d86132edc458bb524", 12293),
    ("png", 16, 32): ("57d28dde600a500bfc8b32123110ce763caaf5ce2a8cebca3e18e244f82b8782", 1636),
    ("jpeg", 64, 64): ("d976fce89efef1957ae90d2522d89abf728c08aafc90e8ee1499438526b03ba6", 8339),
    ("jpeg", 32, 16): ("6ae6b3d72b4084cf86578e7aa08be3c68f850321c92e6e118500315c929b6b9b", 1105),
    ("bmp", 64, 64): ("1c82fce8109229c689d99610f61652beb95a6557eaefd88addbe1a5395ec84d7", 12342),
    ("bmp", 16, 16): ("a5991007a9bbbb89de9d596d07654e1c79f61b84660eaacec4208b296ddcd56c", 822),
}


def _sha(b) -> str:
    return hashlib.sha256(b).hexdigest()


class TestGoldenBitIdentity:
    def test_pid_pipeline_digests(self):
        for pid_s, g in GOLDEN_PIDS.items():
            pid = int(pid_s)
            w, h = size_for(pid)
            fmt = fmt_for(pid)
            assert fmt == g["fmt"]
            px = codec.synth_pixels(pid, w, h)
            blob = codec.encode(px, fmt)
            assert _sha(px.tobytes()) == g["px_sha"], pid
            assert len(blob) == g["blob_len"], pid
            assert _sha(blob) == g["blob_sha"], pid
            px2, f2 = codec.decode(blob)
            out = codec.encode(px2, f2)
            assert _sha(out) == g["reblob_sha"], pid

    def test_fmt_size_grid_digests(self):
        for (fmt, w, h), (sha, ln) in GOLDEN_FMT_SIZE.items():
            blob = codec.encode(codec.synth_pixels(4242, w, h), fmt)
            assert len(blob) == ln, (fmt, w, h)
            assert _sha(blob) == sha, (fmt, w, h)
            rec, f = codec.decode(blob)
            assert f == fmt
            assert rec.shape == (h, w, 3)


def _forward_filter(px: np.ndarray, ftypes, bpp: int) -> bytes:
    """Apply PNG §9 filters forward (reference formulation, per pixel)."""
    h, w = px.shape[:2]
    stride = w * bpp
    raw = px.reshape(h, stride).astype(np.int32)
    out = np.zeros((h, stride + 1), dtype=np.uint8)
    for y in range(h):
        ft = ftypes[y]
        out[y, 0] = ft
        prior = raw[y - 1] if y else np.zeros(stride, dtype=np.int32)
        for x in range(stride):
            cur = int(raw[y, x])
            a = int(raw[y, x - bpp]) if x >= bpp else 0
            b = int(prior[x])
            c = int(raw[y - 1, x - bpp]) if (y and x >= bpp) else 0
            if ft == 0:
                f = cur
            elif ft == 1:
                f = cur - a
            elif ft == 2:
                f = cur - b
            elif ft == 3:
                f = cur - ((a + b) >> 1)
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                f = cur - pr
            out[y, 1 + x] = f & 0xFF
    return out.tobytes()


class TestDefilterRandomized:
    @pytest.mark.parametrize("bpp", [3, 4])
    def test_all_filter_types_roundtrip(self, bpp):
        rng = np.random.default_rng(20260821 + bpp)
        for _ in range(8):
            h, w = int(rng.integers(1, 40)), int(rng.integers(1, 40))
            px = rng.integers(0, 256, size=(h, w, bpp), dtype=np.uint8)
            fts = rng.integers(0, 5, size=h).tolist()
            raw = _forward_filter(px, fts, bpp)
            rec = codec._png_defilter(raw, w, h, bpp)
            want = px[:, :, :3] if bpp == 4 else px
            assert np.array_equal(rec, want), (h, w, bpp, fts[:6])

    def test_single_filter_rows(self, subtests=None):
        rng = np.random.default_rng(7)
        px = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
        for ft in range(5):
            raw = _forward_filter(px, [ft] * 9, 3)
            assert np.array_equal(codec._png_defilter(raw, 13, 9, 3), px), ft

    def test_bad_filter_type_raises(self):
        raw = b"\x05" + b"\x00" * 9
        with pytest.raises(ValueError, match="filter type 5"):
            codec._png_defilter(raw, 3, 1, 3)


def _reference_group_metrics(pdf: pd.DataFrame) -> pd.DataFrame:
    """The straightforward (r5) formulation of the synth re-encode group
    body: per-image fmt_for/size_for, image_id string sort."""
    from libgeodesk_spark.operators.tileagg import METRICS_SCHEMA
    rows = []
    pids = pdf["pid"].to_numpy().astype("int64")
    fmts = [fmt_for(int(p)) for p in pids]
    order = np.argsort(pdf["image_id"].to_numpy())
    by_fmt: dict = {}
    for pos in order:
        by_fmt.setdefault(fmts[pos], []).append(pos)
    for fmt in sorted(by_fmt):
        sha = hashlib.sha256()
        bytes_in = bytes_out = 0
        min_psnr = float("inf")
        for pos in by_fmt[fmt]:
            pid = int(pids[pos])
            w, h = size_for(pid)
            blob = codec.encode(codec.synth_pixels(pid, w, h), fmt)
            px, f = codec.decode(blob)
            out = codec.encode(px, f)
            px2, _ = codec.decode(out)
            min_psnr = min(min_psnr, codec.psnr(px, px2))
            bytes_in += len(blob)
            bytes_out += len(out)
            sha.update(caption_for(pid).encode("utf-8"))
            sha.update(b"\x00")
        rows.append({"cell_id": int(pdf["cell_id"].iloc[0]), "fmt": fmt,
                     "n_images": len(by_fmt[fmt]), "bytes_in": bytes_in,
                     "bytes_out": bytes_out,
                     "min_psnr": 999.0 if min_psnr == float("inf") else min_psnr,
                     "caption_sha": sha.hexdigest()})
    return pd.DataFrame(rows, columns=[f.name for f in METRICS_SCHEMA.fields])


def _whole_png(px: np.ndarray, ftypes, bpp: int) -> bytes:
    """A complete PNG (color type 2/6) whose scanlines use ``ftypes``."""
    import struct
    import zlib
    h, w = px.shape[:2]
    raw = _forward_filter(px, ftypes, bpp)

    def chunk(t, pl):
        return (struct.pack(">I", len(pl)) + t + pl
                + struct.pack(">I", zlib.crc32(pl, zlib.crc32(t)) & 0xFFFFFFFF))

    color = 6 if bpp == 4 else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (codec.PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b""))


class TestFastcodecKernel:
    def test_kernel_loads_here(self):
        """The sandbox has cc + libz; a silent build failure would drop
        the engine to the pure path unnoticed — fail loudly instead."""
        import os
        import shutil
        if os.environ.get("LIBGEODESK_NO_FASTCODEC"):
            pytest.skip("kernel explicitly disabled via env")
        if shutil.which("cc") is None:
            pytest.skip("no C compiler on this host")
        assert codec._fc() is not None

    @staticmethod
    def _fresh_load(monkeypatch, cachedir):
        """_fastcodec.load() as a new process would run it, with the
        kernel cache at ``cachedir`` (None: the per-user default)."""
        import shutil

        from libgeodesk_spark.media import _fastcodec
        if shutil.which("cc") is None:
            pytest.skip("no C compiler on this host")
        monkeypatch.delenv("LIBGEODESK_NO_FASTCODEC", raising=False)
        if cachedir is None:
            monkeypatch.delenv("SPARK_GRAFT_FASTCODEC_DIR", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_FASTCODEC_DIR", str(cachedir))
        monkeypatch.setattr(_fastcodec, "_lib", None)
        return _fastcodec.load()

    def test_planted_group_writable_so_is_refused(self, tmp_path,
                                                  monkeypatch):
        """A working kernel .so at the cache path that group can write
        (another user could have planted or rewritten it) must not be
        dlopened: the engine runs the pure path instead."""
        import os
        import shutil

        from libgeodesk_spark.media import _fastcodec
        good, shared = tmp_path / "good", tmp_path / "shared"
        good.mkdir()
        shared.mkdir()
        os.chmod(shared, 0o755)
        assert self._fresh_load(monkeypatch, good) is not None
        so = _fastcodec._build_so()
        planted = shared / os.path.basename(so)
        shutil.copy(so, planted)
        os.chmod(planted, 0o664)
        assert self._fresh_load(monkeypatch, shared) is None
        os.chmod(planted, 0o755)        # same file, owner-only writable
        assert self._fresh_load(monkeypatch, shared) is not None

    def test_self_test_rejects_a_wrong_decoder(self, tmp_path, monkeypatch):
        """A kernel whose encoders are right but whose FJPG decoder flips
        one output byte must not be trusted."""
        import ctypes

        from libgeodesk_spark.media import _fastcodec
        lib = self._fresh_load(monkeypatch, tmp_path)
        assert lib is not None

        class Proxy:
            def __init__(self, flip):
                self.flip = flip

            def __getattr__(self, name):
                return getattr(lib, name)

            def fjpg_decode(self, blob, n, pix, cap):
                rc = lib.fjpg_decode(blob, n, pix, cap)
                if self.flip:
                    ctypes.c_uint8.from_address(pix).value ^= 1
                return rc

        assert _fastcodec._self_test(Proxy(flip=False))
        assert not _fastcodec._self_test(Proxy(flip=True))

    def test_default_cache_is_private_per_user(self, tmp_path, monkeypatch):
        import os
        import tempfile
        monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
        assert self._fresh_load(monkeypatch, None) is not None
        d = tmp_path / f"libgeodesk_fastcodec-{os.geteuid()}"
        assert (d.stat().st_mode & 0o777) == 0o700
        assert d.stat().st_uid == os.geteuid()

    @pytest.mark.parametrize("bpp", [3, 4])
    def test_filtered_png_decode_c_equals_pure(self, bpp):
        """codec.decode routes filtered external PNGs through the C
        defilter when the kernel is loaded; pure path is the reference."""
        from libgeodesk_spark.media import codec as c
        rng = np.random.default_rng(606 + bpp)
        for _ in range(6):
            h, w = int(rng.integers(1, 50)), int(rng.integers(1, 50))
            px = rng.integers(0, 256, size=(h, w, bpp), dtype=np.uint8)
            fts = rng.integers(0, 5, size=h).tolist()
            blob = _whole_png(px, fts, bpp)
            got, fmt = c.decode(blob)
            assert fmt == "png"
            want = px[:, :, :3] if bpp == 4 else px
            assert np.array_equal(got, want), (h, w, bpp, fts[:6])
            # pure path agrees
            assert np.array_equal(c.decode_png(blob), want)


class TestAdviceR5Fixes:
    def test_bmp_zero_width_raises(self):
        px = codec.synth_pixels(5, 16, 16)
        blob = bytearray(codec.encode(px, "bmp"))
        import struct as _s
        blob[18:22] = _s.pack("<i", 0)            # biWidth = 0
        with pytest.raises(ValueError, match="out of range"):
            codec.decode_bmp(bytes(blob))
        blob[18:22] = _s.pack("<i", -4)           # negative width
        with pytest.raises(ValueError, match="out of range"):
            codec.decode_bmp(bytes(blob))

    def test_jpeg_fill_byte_before_rst(self):
        from libgeodesk_spark.media import jpeg as _jpeg
        px = codec.synth_pixels(77, 32, 32)
        blob = _jpeg.encode_jpeg(px, quality=95, restart_interval=1)
        want = _jpeg.decode_jpeg(blob)
        # insert a legal 0xFF fill byte (T.81 B.1.1.2) before each RSTn
        out = bytearray()
        i = 0
        while i < len(blob):
            if (blob[i] == 0xFF and i + 1 < len(blob)
                    and 0xD0 <= blob[i + 1] <= 0xD7):
                out += b"\xff"                     # fill byte
            out.append(blob[i])
            i += 1
        got = _jpeg.decode_jpeg(bytes(out))
        assert np.array_equal(got, want)


class TestSynthSplitMerge:
    def test_split_path_equals_single_pass(self, spark, sf_dir,
                                           monkeypatch):
        """The two-level (partial + merge) formulation must emit rows
        byte-identical to one applyInPandas group per (cell, salt)."""
        from libgeodesk_spark.operators import tileagg
        from libgeodesk_spark.operators.tileagg import (
            METRICS_SCHEMA,
            _synth_group_metrics,
            synth_reencode_metrics,
        )
        from libgeodesk_spark.sources.points import derived_points
        pts = derived_points(spark, sf_dir)
        # force the split regime (the auto heuristic would pick
        # single-pass at gate scale, which is the comparison baseline)
        monkeypatch.setattr(tileagg, "SYNTH_SPLIT_MIN_BYTES", 0)
        split = synth_reencode_metrics(pts).toPandas() \
            .sort_values(["cell_id", "fmt", "caption_sha"]).reset_index(drop=True)
        single = (pts.repartition(8, "cell_id", "salt")
                  .groupBy("cell_id", "salt")
                  .applyInPandas(_synth_group_metrics, schema=METRICS_SCHEMA)
                  .toPandas()
                  .sort_values(["cell_id", "fmt", "caption_sha"]).reset_index(drop=True))
        # per (cell, salt, fmt) rows: compare the full aggregate multiset
        assert len(split) == len(single)
        pd.testing.assert_frame_equal(split, single)

    def test_partial_slice_builds_no_caption(self, monkeypatch):
        """A split slice emits pid lists, not digests: the merge stage
        builds each caption_sha once, so the codec pass over a slice
        must not render a single caption."""
        from libgeodesk_spark.operators import tileagg
        from libgeodesk_spark.sources import images
        calls = []

        def counting(pid):
            calls.append(pid)
            return caption_for(pid)

        monkeypatch.setattr(images, "caption_for", counting)
        pids = np.arange(40, 57, dtype="int64")
        pdf = pd.DataFrame({"pid": pids,
                            "cell_id": np.full(pids.size, 201327826),
                            "salt": np.full(pids.size, 3)})
        partial = tileagg._synth_partial_metrics(pdf)
        assert calls == []
        assert partial["n_images"].sum() == pids.size
        # merged alone, the slice reproduces the single-pass rows
        merged = tileagg._synth_merge_metrics(partial)
        pd.testing.assert_frame_equal(
            merged, tileagg._synth_group_metrics(pdf))


class TestSynthGroupMetrics:
    @pytest.mark.parametrize("n", [1, 17, 800])
    def test_matches_reference(self, n):
        from libgeodesk_spark.operators.tileagg import _synth_group_metrics
        rng = np.random.default_rng(n)
        pids = rng.choice(500_000, size=n, replace=False).astype("int64")
        pdf = pd.DataFrame({
            "pid": pids,
            "image_id": [f"img{p:012d}" for p in pids],
            "cell_id": np.full(n, 201326592 + 1234, dtype="int64"),
            "salt": pids % 16,
        })
        a = _reference_group_metrics(pdf)
        b = _synth_group_metrics(pdf)
        pd.testing.assert_frame_equal(a, b)
