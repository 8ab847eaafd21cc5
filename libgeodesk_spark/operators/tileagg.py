"""Raster ↔ vector tile aggregation: per-cell re-encode of image payloads.

The distributed analog of the reference's per-tile result batching / tile
re-write (TileQueryTask.cpp:216-229 batches per tile;
FeatureStore_Transaction.cpp:99-112 swaps whole tile pages): group images
by ``cell_id``, re-encode every payload inside one Arrow-batched pass, and
emit both the re-encoded rows and per-tile metrics.

Invariants enforced (BASELINE.json north_star / FIXTURES.md §4):
* decoded pixels preserved — exact for lossless formats, PSNR ≥ 40 dB for
  lossy (our fake-JPEG re-encode is exactly idempotent, PSNR = inf);
* captions byte-for-byte untouched;
* per-(cell, fmt) row counts preserved.

Scale notes: the shuffle key is ``cell_id`` (optionally salted with the
``salt`` column for hot cells — pass ``salt_hot=True``); payload bytes
cross the shuffle exactly once, which is unavoidable for a per-tile
re-encode. The metrics output is tiny (one row per cell×fmt).
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from libgeodesk_spark.media import codec

METRICS_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("n_images", T.LongType(), False),
    T.StructField("bytes_in", T.LongType(), False),
    T.StructField("bytes_out", T.LongType(), False),
    T.StructField("min_psnr", T.DoubleType(), False),   # inf -> 999.0
    T.StructField("caption_sha", T.StringType(), False),
])


def _caption_sha(captions) -> str:
    """sha256 hex over ``captions`` in the given order, each followed by
    a NUL byte: the per-(cell, fmt) ``caption_sha`` of every metrics
    path, so the split and single-pass formulations stay byte-equal."""
    return hashlib.sha256(
        "".join([c + "\x00" for c in captions]).encode("utf-8")).hexdigest()


def reencode_images(images: DataFrame, target_fmt: str | None = None) -> DataFrame:
    """Re-encode every image payload (same format unless target_fmt).
    Stateless mapInPandas — no shuffle; schema preserved."""
    schema = images.schema

    def go(batches):
        for pdf in batches:
            out_bytes = []
            fmts = []
            for blob in pdf["bytes"]:
                px, fmt = codec.decode(blob)
                to = target_fmt or fmt
                out_bytes.append(codec.encode(px, to))
                fmts.append(to)
            pdf = pdf.copy()
            pdf["bytes"] = out_bytes
            pdf["fmt"] = fmts
            yield pdf

    return images.mapInPandas(go, schema=schema)


def tile_reencode_metrics(images: DataFrame, salt_hot: bool = False) -> DataFrame:
    """Per-(cell_id, fmt) re-encode with fidelity metrics.

    groupBy(cell_id[, salt]).applyInPandas — one shuffle on the tile key.
    With ``salt_hot`` the hot-cell groups split into ``salt`` sub-groups
    (skew mitigation); metrics are then re-aggregated exactly because
    caption_sha is built from a per-group sorted digest — callers wanting
    a single row per cell should re-aggregate counts and treat caption_sha
    per (cell, salt). Default False keeps one group per cell.
    """
    keys = ["cell_id", "salt"] if salt_hot else ["cell_id"]

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for fmt, grp in pdf.groupby("fmt", sort=True):
            # (image_id, caption) — the SAME total order as the gate's
            # JVM-side sort_array(struct(image_id, caption)) digest;
            # image_id alone leaves duplicate ids with differing
            # captions order-ambiguous → spurious sha mismatch
            # (ADVICE r4)
            grp = grp.sort_values(["image_id", "caption"])
            bytes_in = 0
            bytes_out = 0
            min_psnr = float("inf")
            for blob in grp["bytes"]:
                px, f = codec.decode(blob)
                out = codec.encode(px, f)
                px2, _ = codec.decode(out)
                p = codec.psnr(px, px2)
                min_psnr = min(min_psnr, p)
                bytes_in += len(blob)
                bytes_out += len(out)
            rows.append({
                "cell_id": int(pdf["cell_id"].iloc[0]),
                "fmt": fmt,
                "n_images": len(grp),
                "bytes_in": bytes_in,
                "bytes_out": bytes_out,
                "min_psnr": 999.0 if min_psnr == float("inf") else min_psnr,
                "caption_sha": _caption_sha(grp["caption"]),
            })
        return pd.DataFrame(rows, columns=[f.name for f in METRICS_SCHEMA.fields])

    return images.groupBy(*keys).applyInPandas(agg, schema=METRICS_SCHEMA)


def _synth_fmt_metrics(pdf: pd.DataFrame):
    """Codec pass shared by the single-pass and split bodies of
    :func:`synth_reencode_metrics`: yields ``(fmt, pids, bytes_in,
    bytes_out, min_psnr)`` per format in name order, ``pids`` ascending
    and ``min_psnr`` raw (``inf`` when every re-encode is exact).
    Module-level so the loop is unit-testable and keeps warm module
    state across reused Python workers.

    r6 loop shape (same outputs, less per-image Python): fmt_for/size_for
    are evaluated as vectorized numpy expressions (4:4:2 png/jpeg/bmp,
    SIZES by pid//7, //11 — the exact sources/images.py formulas); the
    per-fmt image order comes from an int64 argsort of pid, which equals
    the image_id string order because image_id is 'img%012d' % pid in
    this synthetic table (captions are likewise derived from pid)."""
    from libgeodesk_spark.sources.images import SIZES

    size_lut = np.asarray(SIZES, dtype=np.int64)
    # numpy views once — .iloc per element costs microseconds/row,
    # which is real money at 10^5 rows/partition
    pids = pdf["pid"].to_numpy().astype("int64")
    order = np.argsort(pids, kind="stable")
    r10 = pids % 10
    fmt_code = np.where(r10 < 4, 0, np.where(r10 < 8, 1, 2))
    ws = size_lut[(pids // 7) % 3]
    hs = size_lut[(pids // 11) % 3]
    enc, dec, psnr = codec.encode, codec.decode, codec.psnr
    synth = codec.synth_pixels
    lib = codec._fc()
    if lib is not None:
        import ctypes
        res = (ctypes.c_int64 * 3)()
        ssd = (ctypes.c_uint64 * 1)()
        nmax = 3 * int(size_lut.max()) ** 2
        ctmp = codec._scratch("pipe_tmp", 3 * nmax + int(size_lut.max()) + 64)
        buf1 = codec._scratch("pipe_b1", nmax + (nmax >> 6) + 4096)
        buf2 = codec._scratch("pipe_b2", nmax + (nmax >> 6) + 4096)
        bufcap = min(buf1.size, buf2.size)
        pipeline = lib.reencode_pipeline
    ordered_codes = fmt_code[order]
    for code, fmt in ((2, "bmp"), (1, "jpeg"), (0, "png")):   # name order
        sel = order[ordered_codes == code]
        if not sel.size:
            continue
        sel_pids = pids[sel].tolist()
        bytes_in = 0
        bytes_out = 0
        min_psnr = float("inf")
        for pid, w, h in zip(sel_pids, ws[sel].tolist(), hs[sel].tolist()):
            if lib is not None:
                # fused C leg: same encode->decode->re-encode->decode->
                # compare work, only the metrics cross the boundary
                px0 = synth(pid, w, h)
                if pipeline(px0.ctypes.data, w, h, code, ctmp.ctypes.data,
                            buf1.ctypes.data, buf2.ctypes.data, bufcap,
                            res, ssd) == 0:
                    if res[2]:
                        p = float("inf")
                    else:
                        n3 = w * h * 3
                        p = 10.0 * np.log10(255.0 * 255.0
                                            / (ssd[0] / n3))
                    if p < min_psnr:
                        min_psnr = p
                    bytes_in += res[0]
                    bytes_out += res[1]
                    continue
            blob = enc(synth(pid, w, h), fmt)
            px, f = dec(blob)
            out = enc(px, f)
            px2, _ = dec(out)
            p = psnr(px, px2)
            if p < min_psnr:
                min_psnr = p
            bytes_in += len(blob)
            bytes_out += len(out)
        yield fmt, sel_pids, bytes_in, bytes_out, min_psnr


def _synth_group_metrics(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-(cell, salt) group body of :func:`synth_reencode_metrics` in
    its single-pass regime: the codec pass plus each format's
    caption_sha."""
    from libgeodesk_spark.sources.images import caption_for
    cell = int(pdf["cell_id"].iloc[0])
    rows = [{"cell_id": cell,
             "fmt": fmt,
             "n_images": len(pids),
             "bytes_in": bytes_in,
             "bytes_out": bytes_out,
             "min_psnr": 999.0 if mn == float("inf") else mn,
             "caption_sha": _caption_sha(map(caption_for, pids))}
            for fmt, pids, bytes_in, bytes_out, mn in _synth_fmt_metrics(pdf)]
    return pd.DataFrame(rows, columns=[f.name for f in METRICS_SCHEMA.fields])


_PARTIAL_SCHEMA = T.StructType([
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("salt", T.LongType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("n_images", T.LongType(), False),
    T.StructField("bytes_in", T.LongType(), False),
    T.StructField("bytes_out", T.LongType(), False),
    T.StructField("min_psnr_raw", T.DoubleType(), False),  # inf allowed
    T.StructField("pids", T.ArrayType(T.LongType(), False), False),
])


def _synth_partial_metrics(pdf: pd.DataFrame) -> pd.DataFrame:
    """Sub-group codec pass of :func:`synth_reencode_metrics`: the full
    per-image synth→encode→decode→re-encode→decode→compare work for one
    (cell, salt, subkey) slice; emits associative partials plus the
    slice's pid list. No caption digest here: captions derive from pid,
    so the tiny merge stage builds the exact caption_sha once per cell."""
    cell = int(pdf["cell_id"].iloc[0])
    salt = int(pdf["salt"].iloc[0])
    rows = [{"cell_id": cell,
             "salt": salt,
             "fmt": fmt,
             "n_images": len(pids),
             "bytes_in": bytes_in,
             "bytes_out": bytes_out,
             "min_psnr_raw": mn,
             "pids": pids}
            for fmt, pids, bytes_in, bytes_out, mn in _synth_fmt_metrics(pdf)]
    return pd.DataFrame(rows, columns=[f.name for f in _PARTIAL_SCHEMA.fields])


def _synth_merge_metrics(pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge stage of :func:`synth_reencode_metrics`: sums/mins are
    associative; caption_sha is rebuilt from the union of pid lists in
    image_id order ('img%012d' % pid ordering == pid order), exactly the
    digest the single-pass formulation produces. No codec work here."""
    from libgeodesk_spark.sources.images import caption_for
    rows = []
    cell = int(pdf["cell_id"].iloc[0])
    for fmt, grp in pdf.groupby("fmt", sort=True):
        pids: list[int] = []
        for lst in grp["pids"]:
            pids.extend(lst)
        pids.sort()
        mn = float(grp["min_psnr_raw"].min())
        rows.append({
            "cell_id": cell,
            "fmt": fmt,
            "n_images": int(grp["n_images"].sum()),
            "bytes_in": int(grp["bytes_in"].sum()),
            "bytes_out": int(grp["bytes_out"].sum()),
            "min_psnr": 999.0 if mn == float("inf") else mn,
            "caption_sha": _caption_sha(map(caption_for, pids)),
        })
    return pd.DataFrame(rows, columns=[f.name for f in METRICS_SCHEMA.fields])


#: sub-splits per (cell, salt) group in the codec stage: bounds the
#: largest single task at hot_cell/(N_SALTS * SPLIT) of the table no
#: matter the scale factor — at sf1 the 57k-image hot groups were 14-21 s
#: straggler tasks that started late and stretched the stage wall ~25%
SYNTH_SPLIT = 8

#: optimizer-estimated input size above which the split + fine
#: partitioning pay for themselves. Below it the per-group/per-task
#: fixed costs dominate the straggler saving (measured at sf0.1/457k
#: images: single-pass 2x-parallelism 8.4 s vs split 17.5 s; at
#: sf1/4.57M images the split wins 59 s vs 68.5 s) — the estimate comes
#: from parquet footer sizes via the logical plan, costing NO extra job,
#: so the operator self-selects by data size instead of pinning either
#: scale's constant (guide §2: scale-adaptive partitioning).
SYNTH_SPLIT_MIN_BYTES = 64 << 20


def _estimated_input_bytes(points: DataFrame) -> int:
    try:
        return int(points._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
    except Exception:
        return 1 << 50                      # unknown -> assume large


def synth_reencode_metrics(points: DataFrame) -> DataFrame:
    """Fused bench/pipeline variant: shuffle only skinny point rows by
    (cell_id, salt), then synthesize payloads AND compute re-encode
    metrics inside one Arrow stage — for workloads whose payloads are
    generated (or fetched) per tile, this avoids shuffling bytes at all.
    Semantics identical to attach_payload → tile_reencode_metrics(salt_hot).

    Large inputs run a two-level aggregation (guide §2.5, aggregation
    salting): the codec work runs per (cell, salt, pid>>4 % split)
    sub-slice so no single task holds a whole hot-cell salt group; a
    merge stage re-aggregates the associative partials and rebuilds
    caption_sha from pids — output rows byte-identical to the
    single-pass formulation (tests/test_r06_opt.py asserts it). Small
    inputs (optimizer size estimate under SYNTH_SPLIT_MIN_BYTES) skip
    the split and the fine partitioning: their hot groups are already
    sub-second and the two-level machinery would only add fixed costs."""
    par = points.sparkSession.sparkContext.defaultParallelism
    big = _estimated_input_bytes(points) >= SYNTH_SPLIT_MIN_BYTES
    # project to the three columns the codec stage reads BEFORE the
    # exchange (guide §2.3): x/y/phash/image_id would otherwise be
    # shuffled and arrow->pandas-materialized (millions of python
    # strings) just to be dropped
    skinny = points.select("pid", "cell_id", "salt")
    # explicit hash repartition on the group keys: the shuffle input is
    # skinny (tens of MB), so AQE would coalesce to ~2 partitions and
    # serialize the per-group codec work; a fixed-width HashPartitioning on
    # the same keys satisfies applyInPandas' distribution requirement with
    # no extra exchange and is exempt from AQE coalescing.
    if not big:
        return skinny.repartition(par * 2, "cell_id", "salt") \
            .groupBy("cell_id", "salt") \
            .applyInPandas(_synth_group_metrics, schema=METRICS_SCHEMA)
    # 16 tasks/core: with the sub-split bounding every group at a few
    # seconds, fine partitions cost nothing and cut the last-wave tail
    # from ~p90-task-size to ~avg-task-size (measured 66s -> 56s at sf1;
    # task p50 was 12.5s / max 22s in 4 waves at 4 tasks/core)
    sub = F.shiftright(F.col("pid"), 4) % SYNTH_SPLIT  # independent of salt
    partials = (skinny.withColumn("_sub", sub)
                .repartition(par * 16, "cell_id", "salt", "_sub")
                .groupBy("cell_id", "salt", "_sub")
                .applyInPandas(_synth_partial_metrics,
                               schema=_PARTIAL_SCHEMA))
    return partials.groupBy("cell_id", "salt") \
        .applyInPandas(_synth_merge_metrics, schema=METRICS_SCHEMA)


def mosaic_tiles(images: DataFrame, tile_px: int = 64,
                 salt_hot: bool = False) -> DataFrame:
    """Vector→raster: render one raster per cell by averaging the decoded
    pixels of all images in the cell into a tile_px × tile_px canvas placed
    by each image's in-cell position. Returns (cell_id, n_images, tile_png).

    ``salt_hot=True`` is the skew path: the per-pixel (sum, count)
    accumulators are ASSOCIATIVE, so the hot cell's images split into
    ``salt`` sub-groups rendered in parallel, then one tiny second
    aggregation merges the per-salt canvases per cell (output bytes are
    per-salt sums+counts, two f64 planes — KBs per cell, vs the images'
    MBs; the measured hot cell at sf0.1 holds 456k images in ONE group
    without it, serializing the whole stage behind a single task).
    The merge only reassociates the float accumulation, so salted and
    unsalted agree to summation order — byte-identical on the gate
    fixture (test-asserted); in pathological cases reassociation can
    move one averaged channel by 1 ulp across a rounding boundary.
    ``n_images`` is integer-exact either way.
    """
    out_schema = T.StructType([
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("n_images", T.LongType(), False),
        T.StructField("tile_png", T.BinaryType(), False),
    ])

    def accumulate(pdf: pd.DataFrame):
        from libgeodesk_spark.mercator import cell_bounds
        cell = int(pdf["cell_id"].iloc[0])
        mnx, mny, _, _ = cell_bounds(cell)
        extent = 1 << (32 - int((cell >> 24) & 0xF))
        acc = np.zeros((tile_px, tile_px, 3), dtype=np.float64)
        cnt = np.zeros((tile_px, tile_px, 1), dtype=np.float64)
        for blob, x, y in zip(pdf["bytes"], pdf["x"], pdf["y"]):
            px, _ = codec.decode(blob)
            gx = min(int((int(x) - mnx) * tile_px / extent), tile_px - 1)
            gy = min(int((int(y) - mny) * tile_px / extent), tile_px - 1)
            acc[gy, gx] += px.mean(axis=(0, 1))
            cnt[gy, gx] += 1
        return cell, acc, cnt

    def finish(cell: int, n: int, acc, cnt) -> dict:
        avg = np.where(cnt > 0, acc / np.maximum(cnt, 1), 0).astype(np.uint8)
        return {"cell_id": cell, "n_images": n,
                "tile_png": codec.encode(avg, "png")}

    if not salt_hot:
        def render(pdf: pd.DataFrame) -> pd.DataFrame:
            cell, acc, cnt = accumulate(pdf)
            return pd.DataFrame([finish(cell, len(pdf), acc, cnt)])

        return images.groupBy("cell_id").applyInPandas(
            render, schema=out_schema)

    part_schema = T.StructType([
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("n_images", T.LongType(), False),
        T.StructField("acc", T.BinaryType(), False),
        T.StructField("cnt", T.BinaryType(), False),
    ])

    def render_partial(pdf: pd.DataFrame) -> pd.DataFrame:
        cell, acc, cnt = accumulate(pdf)
        return pd.DataFrame([{"cell_id": cell, "n_images": len(pdf),
                              "acc": acc.tobytes(), "cnt": cnt.tobytes()}])

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        acc = np.zeros((tile_px, tile_px, 3), dtype=np.float64)
        cnt = np.zeros((tile_px, tile_px, 1), dtype=np.float64)
        for a, c in zip(pdf["acc"], pdf["cnt"]):
            acc += np.frombuffer(a, dtype=np.float64).reshape(acc.shape)
            cnt += np.frombuffer(c, dtype=np.float64).reshape(cnt.shape)
        return pd.DataFrame([finish(int(pdf["cell_id"].iloc[0]),
                                    int(pdf["n_images"].sum()), acc, cnt)])

    partials = images.groupBy("cell_id", "salt").applyInPandas(
        render_partial, schema=part_schema)
    return partials.groupBy("cell_id").applyInPandas(
        merge, schema=out_schema)
