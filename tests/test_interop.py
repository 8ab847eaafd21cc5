"""External-implementation interop: the engine's spec-level codecs vs
INDEPENDENT industrial codecs available in this container.

* PNG / BMP / JPEG — Java ImageIO (the JDK that ships with Spark's JVM):
  a completely separate codebase, compiled and driven via subprocess.
  Lossless formats must round-trip pixel-exact in BOTH directions;
  for JPEG the two *decoders* are compared on the same stream (IDCT
  rounding is the only legal difference) and each encoder's output must
  decode cleanly in the other implementation.

These are the strongest interchange proofs available without network
access: streams we emit are consumed byte-for-byte by implementations we
didn't write, and vice versa. Skipped cleanly if no JDK is present.
"""

import shutil
import struct
import subprocess

import numpy as np
import pytest

from libgeodesk_spark.media import codec, jpeg

JAVA_SRC = r"""
import javax.imageio.ImageIO;
import java.awt.image.BufferedImage;
import java.io.*;
import java.nio.file.*;

public class ImageInterop {
    public static void main(String[] a) throws Exception {
        if (a[0].equals("encode")) {
            String fmt = a[1];
            int w = Integer.parseInt(a[2]), h = Integer.parseInt(a[3]);
            byte[] raw = Files.readAllBytes(Paths.get(a[4]));
            BufferedImage img =
                new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB);
            int k = 0;
            for (int y = 0; y < h; y++)
                for (int x = 0; x < w; x++) {
                    int r = raw[k++] & 255, g = raw[k++] & 255,
                        b = raw[k++] & 255;
                    img.setRGB(x, y, (r << 16) | (g << 8) | b);
                }
            boolean prog = a.length > 6 && a[6].equals("prog");
            if (prog) {
                javax.imageio.ImageWriter wr =
                    ImageIO.getImageWritersByFormatName(fmt).next();
                javax.imageio.ImageWriteParam p = wr.getDefaultWriteParam();
                p.setProgressiveMode(
                    javax.imageio.ImageWriteParam.MODE_DEFAULT);
                try (javax.imageio.stream.ImageOutputStream os =
                        ImageIO.createImageOutputStream(new File(a[5]))) {
                    wr.setOutput(os);
                    wr.write(null,
                             new javax.imageio.IIOImage(img, null, null), p);
                }
                wr.dispose();
            } else if (!ImageIO.write(img, fmt, new File(a[5])))
                throw new RuntimeException("no writer for " + fmt);
        } else {
            BufferedImage img = ImageIO.read(new File(a[1]));
            int w = img.getWidth(), h = img.getHeight();
            byte[] out = new byte[w * h * 3 + 4];
            out[0] = (byte)(w >> 8); out[1] = (byte)w;
            out[2] = (byte)(h >> 8); out[3] = (byte)h;
            int k = 4;
            for (int y = 0; y < h; y++)
                for (int x = 0; x < w; x++) {
                    int p = img.getRGB(x, y);
                    out[k++] = (byte)(p >> 16);
                    out[k++] = (byte)(p >> 8);
                    out[k++] = (byte)p;
                }
            Files.write(Paths.get(a[2]), out);
        }
    }
}
"""


@pytest.fixture(scope="module")
def javaimg(tmp_path_factory):
    if not (shutil.which("javac") and shutil.which("java")):
        pytest.skip("no JDK in PATH")
    d = tmp_path_factory.mktemp("javainterop")
    (d / "ImageInterop.java").write_text(JAVA_SRC)
    subprocess.run(["javac", "ImageInterop.java"], cwd=d, check=True,
                   capture_output=True)

    def java_encode(fmt, px, progressive=False):
        h, w = px.shape[:2]
        raw = d / "in.raw"
        out = d / f"out.{fmt}"
        raw.write_bytes(np.ascontiguousarray(px, dtype=np.uint8).tobytes())
        subprocess.run(
            ["java", "-cp", str(d), "ImageInterop", "encode", fmt,
             str(w), str(h), str(raw), str(out)]
            + (["prog"] if progressive else []),
            check=True, capture_output=True)
        return out.read_bytes()

    def java_decode(blob, suffix):
        src = d / f"dec_in.{suffix}"
        dst = d / "dec_out.raw"
        src.write_bytes(blob)
        subprocess.run(
            ["java", "-cp", str(d), "ImageInterop", "decode", str(src),
             str(dst)],
            check=True, capture_output=True)
        raw = dst.read_bytes()
        w, h = struct.unpack(">HH", raw[:4])
        return np.frombuffer(raw[4:], dtype=np.uint8).reshape(h, w, 3)

    return java_encode, java_decode


class TestPngInterop:
    def test_engine_png_decodes_in_java(self, javaimg):
        _, jdec = javaimg
        px = codec.synth_pixels(31, 40, 28)
        assert np.array_equal(jdec(codec.encode_png(px), "png"), px)

    def test_java_png_decodes_in_engine(self, javaimg):
        jenc, _ = javaimg
        px = codec.synth_pixels(32, 37, 23)
        assert np.array_equal(codec.decode_png(jenc("png", px)), px)


class TestBmpInterop:
    def test_engine_bmp_decodes_in_java(self, javaimg):
        _, jdec = javaimg
        px = codec.synth_pixels(33, 21, 17)
        assert np.array_equal(jdec(codec.encode_bmp(px), "bmp"), px)

    def test_java_bmp_decodes_in_engine(self, javaimg):
        jenc, _ = javaimg
        px = codec.synth_pixels(34, 19, 26)
        assert np.array_equal(codec.decode_bmp(jenc("bmp", px)), px)


def _luma(px):
    """BT.601 luma of decoded RGB — recovers the coded Y plane up to
    rounding, so it is INDEPENDENT of each decoder's chroma upsampling
    filter (which T.81 deliberately leaves open: we replicate, Java
    interpolates). Decoder agreement is asserted strictly on luma and
    with a chroma-filter allowance on full RGB."""
    f = px.astype(np.float64)
    return 0.299 * f[..., 0] + 0.587 * f[..., 1] + 0.114 * f[..., 2]


def _psnr_luma(a, b):
    mse = float(np.mean((_luma(a) - _luma(b)) ** 2))
    return 99.0 if mse == 0 else 10.0 * np.log10(255.0 ** 2 / mse)


class TestJpegInterop:
    @pytest.mark.parametrize("ss,floor", [("444", 40.0), ("422", 33.0),
                                          ("420", 31.0)])
    def test_engine_jpeg_decodes_in_java(self, javaimg, ss, floor):
        """Same engine-emitted stream through BOTH decoders: identical
        coefficients, so luma must agree to IDCT rounding (>=42 dB);
        full RGB carries the legal chroma-filter difference for
        subsampled streams (floors pinned from measurement — random
        streams sit near 10 dB)."""
        _, jdec = javaimg
        px = codec.synth_pixels(35, 48, 40)
        blob = jpeg.encode_jpeg(px, quality=92, subsampling=ss)
        ours = jpeg.decode_jpeg(blob)
        theirs = jdec(blob, "jpg")
        assert theirs.shape == ours.shape
        assert _psnr_luma(ours, theirs) >= 42.0
        assert codec.psnr(ours, theirs) >= floor

    def test_engine_jpeg_restart_markers_decode_in_java(self, javaimg):
        _, jdec = javaimg
        px = codec.synth_pixels(36, 32, 24)
        blob = jpeg.encode_jpeg(px, quality=90, restart_interval=2)
        assert _psnr_luma(jpeg.decode_jpeg(blob), jdec(blob, "jpg")) >= 42.0

    def test_java_jpeg_decodes_in_engine(self, javaimg):
        """A JDK-encoded JPEG (its own tables, its own subsampling
        choice — 4:2:0) through our decoder vs Java's own decode."""
        jenc, jdec = javaimg
        px = codec.synth_pixels(37, 41, 33)
        blob = jenc("jpg", px)
        ours = jpeg.decode_jpeg(blob)
        theirs = jdec(blob, "jpg")
        assert ours.shape == theirs.shape
        assert _psnr_luma(ours, theirs) >= 42.0
        assert codec.psnr(ours, theirs) >= 35.0

    @pytest.mark.parametrize("dims,floor", [((64, 48), 35.0),
                                            ((33, 17), 35.0),
                                            ((16, 16), 32.0),
                                            ((8, 8), 27.0)])
    def test_java_progressive_jpeg_decodes_in_engine(self, javaimg, dims,
                                                     floor):
        """JDK progressive scan script (interleaved DC first, AC
        first/refine with EOB runs, DC refine, per-scan DHT): our SOF2
        decoder vs Java's own decode of the same multi-scan stream —
        luma must agree to IDCT rounding (>=42 dB); the full-RGB floor
        shrinks with image size because tiny 4:2:0 images are
        edge-dominated, amplifying the legal chroma-upsampling-filter
        difference (measured: 8x8 luma 49.5 dB, full 29.0 dB)."""
        jenc, jdec = javaimg
        w, h = dims
        px = codec.synth_pixels(40 + w, w, h)
        blob = jenc("jpg", px, progressive=True)
        assert blob.find(b"\xff\xc2") > 0          # really SOF2
        assert blob.count(b"\xff\xda") >= 3        # really multi-scan
        ours = jpeg.decode_jpeg(blob)
        theirs = jdec(blob, "jpg")
        assert ours.shape == theirs.shape == (h, w, 3)
        assert _psnr_luma(ours, theirs) >= 42.0
        assert codec.psnr(ours, theirs) >= floor

    def test_java_progressive_grayscale_decodes_in_engine(self, javaimg,
                                                          tmp_path):
        """Single-component progressive: every scan is non-interleaved,
        including DC. Compared against the ORIGINAL pixels (Java's
        getRGB applies a gray->sRGB colorspace ramp to TYPE_BYTE_GRAY
        reads, so its own decode is not a usable oracle here)."""
        import subprocess
        d = tmp_path
        src = ("import javax.imageio.*; import javax.imageio.stream.*;"
               "import java.awt.image.BufferedImage; import java.io.*;"
               "import java.nio.file.*;"
               "public class PG { public static void main(String[] a)"
               " throws Exception { int w=Integer.parseInt(a[0]),"
               " h=Integer.parseInt(a[1]);"
               " byte[] raw=Files.readAllBytes(Paths.get(a[2]));"
               " BufferedImage im=new BufferedImage(w,h,"
               " BufferedImage.TYPE_BYTE_GRAY); int k=0;"
               " for(int y=0;y<h;y++) for(int x=0;x<w;x++)"
               " im.getRaster().setSample(x,y,0,raw[k++]&255);"
               " ImageWriter wr=ImageIO.getImageWritersByFormatName("
               "\"jpg\").next();"
               " ImageWriteParam p=wr.getDefaultWriteParam();"
               " p.setProgressiveMode(ImageWriteParam.MODE_DEFAULT);"
               " try (ImageOutputStream os=ImageIO."
               "createImageOutputStream(new File(a[3]))) {"
               " wr.setOutput(os);"
               " wr.write(null,new IIOImage(im,null,null),p); }"
               " wr.dispose(); } }")
        (d / "PG.java").write_text(src)
        subprocess.run(["javac", "PG.java"], cwd=d, check=True,
                       capture_output=True)
        g = codec.synth_pixels(88, 24, 16)[:, :, 0]
        (d / "g.raw").write_bytes(np.ascontiguousarray(g).tobytes())
        subprocess.run(["java", "-cp", str(d), "PG", "24", "16",
                        str(d / "g.raw"), str(d / "g.jpg")],
                       check=True, capture_output=True)
        blob = (d / "g.jpg").read_bytes()
        assert blob.find(b"\xff\xc2") > 0
        out = jpeg.decode_jpeg(blob)
        assert out.shape == (16, 24, 3)
        assert np.array_equal(out[:, :, 0], out[:, :, 1])
        assert codec.psnr(np.repeat(g[:, :, None], 3, 2), out) >= 25.0

    def test_progressive_via_codec_dispatch(self, javaimg):
        jenc, _ = javaimg
        px = codec.synth_pixels(77, 24, 24)
        out, fmt = codec.decode(jenc("jpg", px, progressive=True))
        assert fmt == "jpeg_baseline" and out.shape == (24, 24, 3)
