"""Prepared-geometry spatial join: the Spark-native analog of the
reference's prepared filters (within / intersects / contains-point).

Reference execution shape (src/filter/WithinFilter.cpp, §3.2 of SURVEY.md):
build side = polygon → monotone chains → Hilbert R-tree, broadcast to every
tile scan; per tile ``acceptTile`` turbo-accepts tiles fully inside
(WithinFilter.cpp:164-171) and rejects tiles fully outside; only boundary
tiles run per-feature geometry.

Spark-first translation — one core (:func:`_interval_join`) behind both
entry points:

* filter: the zones' exact cover as run-length intervals (cell row,
  column run, zone, cover class — Raster Intervals, SIGMOD 2023),
  broadcast once and joined against the points on the cell row with a
  column-range residual. Absent cells never match, so this is also the
  partition pruning; no shuffle of the fact side.
* INSIDE-cover matches are accepted in the JVM with zero geometry work;
  only BOUNDARY-cover matches reach the vectorized locate kernel, in
  Arrow batches (no per-row Python).
* refinement follows where the zone edges live: edges on the driver
  within ``EDGE_BROADCAST_LIMIT`` are ``sc.broadcast`` to a
  ``mapInPandas``; anything else (a zone catalog on executors, or a
  driver zone set past the limit) co-groups the boundary band with an
  edges frame of one row per zone on ``zone_id``, so each zone's edges
  ship once.
* a bbox pre-filter (plain column range predicate) is pushed into the
  parquet/Iceberg scan for file/row-group skipping, mirroring the
  reference's bbox test ordering (TileQueryTask.cpp:176-203).

Callers should pass skinny point frames (ids + x/y/cell) and re-attach
heavy payload columns (image bytes) by key afterwards, so bytes never
cross the Python boundary.
"""

from __future__ import annotations

from functools import partial, reduce
from typing import Callable, Iterable, Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from libgeodesk_spark.geom import kernel
from libgeodesk_spark.geom.zones import BOUNDARY, INSIDE, PreparedZone
from libgeodesk_spark.session import local_frame

Predicate = Literal["within", "intersects", "contains_point"]

#: above this many total zone edges a driver zone set is NOT broadcast as
#: one blob — the boundary band co-groups with one edge row per zone
#: (~32 B/edge: 2M edges = 64 MB broadcast, a sane executor budget)
EDGE_BROADCAST_LIMIT = 2_000_000

#: minimum locate() value accepted per predicate, for POINT candidates:
#: within → strictly inside (WithinFilter.cpp:60-63 properlyContainsPoint);
#: intersects / contains_point → boundary or inside
#: (IntersectsFilter.cpp, ContainsPointFilter.cpp:11-25).
_MIN_LOC = {"within": kernel.INSIDE, "intersects": kernel.BOUNDARY,
            "contains_point": kernel.BOUNDARY}


def zone_intervals_df(spark: SparkSession,
                      zones: Iterable[PreparedZone]) -> DataFrame:
    """Run-length-encoded cover: one row per (cell row, contiguous col run,
    zone, cover class) — the Raster-Intervals representation (SIGMOD 2023)
    of the same exact cover.

    Why this beats a per-cell table as the broadcast build side: a
    zoom-18 regional cover is ~70k cells/zone and the per-cell broadcast
    build is DRIVER-SERIAL work repeated per query (measured ~2 s of the
    join's Amdahl floor); the interval form is ~1-3 runs per boundary row
    (~1k rows/zone), so the build is instant and the probe joins
    equi-on-row with a col BETWEEN residual inside the same broadcast
    hash join. Interval count scales with zone PERIMETER rows, not area."""
    from libgeodesk_spark.geom.zones import cover_rle
    frames = []
    for z in zones:
        n = len(z.cover)
        keys = np.fromiter(z.cover.keys(), dtype=np.int64, count=n)
        vals = np.fromiter(z.cover.values(), dtype=np.int32, count=n)
        rs, c0, c1, cv = cover_rle(keys, vals)   # the canonical encoder
        if len(rs):
            frames.append(pd.DataFrame({
                "cell_row": rs, "c0": c0, "c1": c1,
                "zone_id": z.zone_id, "cover": cv.astype(np.int32)}))
    pdf = pd.concat(frames, ignore_index=True) if frames else \
        pd.DataFrame({"cell_row": [], "c0": [], "c1": [],
                      "zone_id": [], "cover": []})
    schema = T.StructType([
        T.StructField("cell_row", T.LongType(), False),
        T.StructField("c0", T.LongType(), False),
        T.StructField("c1", T.LongType(), False),
        T.StructField("zone_id", T.StringType(), False),
        T.StructField("cover", T.IntegerType(), False),
    ])
    return spark.createDataFrame(pdf, schema)


def bbox_filter(df: DataFrame, min_x: int, min_y: int, max_x: int, max_y: int,
                x: str = "x", y: str = "y") -> DataFrame:
    """Plain range predicate — pushed down to the scan (P9 bbox window,
    FeaturesBase.h:85-97)."""
    return df.filter((F.col(x) >= min_x) & (F.col(x) <= max_x)
                     & (F.col(y) >= min_y) & (F.col(y) <= max_y))


#: refine(candidate rows, output schema) -> accepted rows of that schema
Refiner = Callable[[DataFrame, T.StructType], DataFrame]


def _interval_join(parts: list[tuple[DataFrame, int, DataFrame, Refiner]],
                   out_cols: list[str], x_col: str, y_col: str) -> DataFrame:
    """THE spatial-join core. Each part is (points, cover zoom, interval
    table, boundary refiner); the union of the parts is the join.

    Per part: tag points with their cell column/row at the zoom, join the
    broadcast intervals on the row with a column-range residual, accept
    INSIDE rows in the JVM and hand BOUNDARY rows (with x/y and cover) to
    the refiner. Streaming input hands every candidate to the refiner
    instead — one consumer of the source per micro-batch."""
    final_cols = list(dict.fromkeys(out_cols + ["zone_id"]))
    need = list(dict.fromkeys(out_cols + [x_col, y_col]))
    refine_cols = list(dict.fromkeys(final_cols + [x_col, y_col, "cover"]))
    outs = []
    for points, zoom, iv, refine in parts:
        shift = 32 - zoom
        probe = points.select(
            *need,
            F.shiftright(F.col(x_col).cast("long") + F.lit(1 << 31), shift)
            .alias("_cc"),
            F.shiftright(F.lit(0x7FFFFFFF) - F.col(y_col).cast("long"),
                         shift).alias("_rr"))
        cand = probe.join(
            F.broadcast(iv),
            (F.col("_rr") == F.col("cell_row"))
            & (F.col("_cc") >= F.col("c0")) & (F.col("_cc") <= F.col("c1")),
            "inner")
        schema = cand.select(*final_cols).schema
        if points.isStreaming:
            outs.append(refine(cand.select(*refine_cols), schema))
            continue
        # the class test (= cover) also reads a probe column and zone_id,
        # so Catalyst neither pushes it into the interval table nor prunes
        # zone_id from one branch: both branches keep the same build side
        # and share ONE BroadcastExchange
        cls = F.col("cover") + (F.col("_cc") - F.col("_cc")) \
            * F.length("zone_id")
        inside = cand.filter(cls == INSIDE).select(*final_cols)
        bnd = cand.filter(cls == BOUNDARY).select(*refine_cols)
        outs.append(inside.unionByName(refine(bnd, schema)))
    return reduce(DataFrame.unionByName, outs)


def _locate(pdf: pd.DataFrame, edges_of, min_loc: int, x_col: str,
            y_col: str) -> pd.DataFrame:
    """Exact refinement of one Arrow batch: INSIDE-cover rows stay,
    BOUNDARY-cover rows stay when locate() against their zone's edges
    (``edges_of(zone_id)``) reaches ``min_loc``."""
    keep = pdf["cover"].to_numpy() == INSIDE
    px, py = pdf[x_col].to_numpy(), pdf[y_col].to_numpy()
    for zid, idx in pdf.groupby("zone_id").indices.items():
        idx = idx[~keep[idx]]
        if len(idx):
            keep[idx] = kernel.locate_points(px[idx], py[idx],
                                             edges_of(zid)) >= min_loc
    return pdf[keep]


def _broadcast_refiner(spark: SparkSession, zones: list[PreparedZone],
                       locate) -> Refiner:
    """Driver-held edges, ``sc.broadcast`` whole, refined in one
    ``mapInPandas``. Batch input passes a ``rebalance`` first, so AQE
    sizes the Python stage by boundary-band bytes (one task for a small
    query, advisory-size tasks with skew splitting at scale) rather than
    by scan splits: each Python task costs ~0.2-0.3 CPU-s before it
    reads a row."""
    edges_bc = spark.sparkContext.broadcast(
        {z.zone_id: z.edges for z in zones})

    def refine(rows: DataFrame, schema: T.StructType) -> DataFrame:
        cols = schema.names

        def go(batches):
            for pdf in batches:
                if len(pdf):
                    yield locate(pdf, edges_bc.value.__getitem__)[cols]

        if not rows.isStreaming:
            rows = rows.hint("rebalance")
        return rows.mapInPandas(go, schema=schema)
    return refine


def _cogroup_refiner(edges: DataFrame, locate) -> Refiner:
    """Edges as a (zone_id, edges) frame of one row per zone (int64 LE
    bytes, the zoneprep artifact form): the boundary band co-groups with
    it on ``zone_id``, so each zone's edges ship once, to the task that
    probes it, and no executor holds the whole edge set."""
    def refine(rows: DataFrame, schema: T.StructType) -> DataFrame:
        cols = schema.names

        def go(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if len(left) == 0 or len(right) == 0:
                return left.iloc[0:0][cols]
            e = np.frombuffer(bytes(right["edges"].iloc[0]), dtype="<i8") \
                .astype(np.int64).reshape(-1, 4)
            return locate(left, lambda _zid: e)[cols]

        return rows.groupBy("zone_id").cogroup(edges.groupBy("zone_id")) \
            .applyInPandas(go, schema=schema)
    return refine


def join_zones(points: DataFrame, zones: list[PreparedZone],
               predicate: Predicate = "within",
               x_col: str = "x", y_col: str = "y",
               prefilter_bbox: bool = True,
               columns: list[str] | None = None) -> DataFrame:
    """points × zones point-in-polygon join over driver-held
    :class:`PreparedZone` s.

    Returns ``columns`` (default: all input columns) plus ``zone_id`` — one
    row per (point, zone) membership, exactly matching the reference
    predicate semantics. ``columns`` prunes the Arrow transfer — pass the
    narrow output you need; x/y/cover are retained internally.

    One :func:`_interval_join` part per cover zoom, its intervals built
    by :func:`zone_intervals_df`. Up to ``EDGE_BROADCAST_LIMIT`` total
    edges the boundary band refines against broadcast edges (rebalanced
    for batch input, one ``mapInPandas`` for streaming input); past it,
    against a local Arrow edges frame of one row per zone, co-grouped on
    ``zone_id``.
    """
    if not zones:
        raise ValueError("join_zones requires at least one PreparedZone")
    spark = points.sparkSession
    locate = partial(_locate, min_loc=_MIN_LOC[predicate],
                     x_col=x_col, y_col=y_col)
    broadcast = sum(len(z.edges) for z in zones) <= EDGE_BROADCAST_LIMIT
    parts = []
    # adaptive cover zooms may differ per zone: one part per zoom
    for zoom in sorted({z.zoom for z in zones}):
        group = [z for z in zones if z.zoom == zoom]
        pts = bbox_filter(points,
                          min(z.bbox[0] for z in group),
                          min(z.bbox[1] for z in group),
                          max(z.bbox[2] for z in group),
                          max(z.bbox[3] for z in group),
                          x_col, y_col) if prefilter_bbox else points
        if broadcast:
            refine = _broadcast_refiner(spark, group, locate)
        else:
            refine = _cogroup_refiner(local_frame(
                spark, [(z.zone_id, np.ascontiguousarray(
                    z.edges, dtype="<i8").tobytes()) for z in group],
                "zone_id string, edges binary"), locate)
        parts.append((pts, zoom, zone_intervals_df(spark, group), refine))
    out_cols = list(columns) if columns is not None else points.columns
    return _interval_join(parts, out_cols, x_col, y_col)


#: interval-broadcast budget floor for join_zones_catalog: ~8M rows ×
#: ~33 B/row ≈ 260 MB — comfortably under Spark's 8 GB broadcast hard
#: cap and a sane executor-memory share; past the budget the catalog
#: region-partitions into separate joins (the >10⁵-zone mitigation named
#: in BENCH/ZONEPREP.md). The budget itself follows executor memory
#: (:func:`_auto_iv_budget`) — the 10⁵-zone fixture measured 70.7 s in
#: the single-broadcast regime vs 172.6 s region-partitioned at this
#: constant.
CATALOG_IV_BUDGET = 8_000_000

#: conservative in-memory footprint per broadcast interval row once
#: built into the join's HashedRelation (the raw DataFrame row is ~33 B;
#: hash-table + object overhead lands well under 48 B/row in practice)
_IV_RELATION_BYTES = 48

#: stay clearly below Spark's hard broadcast caps (8 GB / 512M rows)
_IV_BUDGET_CEIL = 150_000_000


def _parse_mem(txt: str) -> int:
    """Spark memory string -> bytes ('8g', '512m', '8gb', bare bytes);
    1 GiB on anything unparsable (the conservative floor)."""
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    txt = (txt or "1g").strip().lower()
    if txt.endswith("b") and len(txt) > 1 and txt[-2] in units:
        txt = txt[:-1]                       # Spark accepts 'gb'/'mb' too
    try:
        if txt and txt[-1] in units:
            return int(float(txt[:-1]) * units[txt[-1]])
        return int(txt)
    except (ValueError, IndexError):
        return 1 << 30


def _auto_iv_budget(spark: SparkSession) -> int:
    """Derive the interval-broadcast budget from memory: allow the build
    relation ~25% of the SMALLEST heap that must hold it at
    ~48 B/interval, floored at the old conservative constant and capped
    under the broadcast hard limits. A broadcast relation is built on
    the DRIVER and shipped to every executor, so both heaps bound it;
    in local mode they are the same JVM."""
    try:
        driver = _parse_mem(spark.conf.get("spark.driver.memory", "1g"))
    except Exception:
        driver = 1 << 30
    if spark.conf.get("spark.master", "").startswith("local"):
        heap = driver
    else:
        try:
            executor = _parse_mem(
                spark.conf.get("spark.executor.memory", "1g"))
        except Exception:
            executor = 1 << 30
        heap = min(driver, executor)
    budget = int(heap * 0.25 / _IV_RELATION_BYTES)
    return max(CATALOG_IV_BUDGET, min(budget, _IV_BUDGET_CEIL))

#: coarse grid for region partitioning (zoom 6 → ≤4096 occupied cells
#: worldwide); cells bin-pack into regions so each region's interval
#: build side fits the budget. Driver sees one skinny stat row per
#: OCCUPIED cell — O(min(zones, 4096)) metadata, never geometry.
REGION_ZOOM = 6


def join_zones_catalog(points: DataFrame, prepped: DataFrame,
                       predicate: Predicate = "within",
                       x_col: str = "x", y_col: str = "y",
                       prefilter_bbox: bool = True,
                       columns: list[str] | None = None) -> DataFrame:
    """points × prepared-zone-CATALOG join, Spark end-to-end.

    ``prepped`` is the :func:`operators.zoneprep.prepared_zones_df`
    artifact frame (or the same rows re-loaded from parquet /
    SnapshotTable). Unlike :func:`join_zones`, NO per-zone object ever
    reaches the driver: the same :func:`_interval_join` core runs with
    intervals exploded from the artifacts ON EXECUTORS
    (``zoneprep.intervals_table``, broadcast by Spark's JVM
    BroadcastExchange) and the boundary band co-grouped with the
    artifacts' per-zone edge blobs on ``zone_id``. Driver work is
    per-(zoom[, region-cell]) AGGREGATE rows only — independent of
    edge/cover/interval counts.

    Past the interval budget (:func:`_auto_iv_budget`, from executor
    memory) the catalog REGION-PARTITIONS: zones group by the coarse
    grid cell of their bbox center, cells bin-pack (z-order, spatially
    coherent) into regions whose interval sum fits the budget, and each
    region runs its own broadcast join against the bbox-filtered probe —
    each probe scan prunes to the region's window at the parquet level,
    so R regions cost R pruned scans, not R full ones. A single
    over-budget cell further splits by zone-id hash.

    Output rows/values are byte-identical to
    ``join_zones(points, zones, ...)`` over the same catalog (pytest
    pins both regimes); one row per (point, zone) membership.
    ``prepped`` is re-read once per (zoom, region) — pass a
    parquet/SnapshotTable-backed frame (or ``.persist()`` it); this
    function persists it when region partitioning activates.
    """
    from libgeodesk_spark.operators.zoneprep import intervals_table
    spark = points.sparkSession
    budget = _auto_iv_budget(spark)
    locate = partial(_locate, min_loc=_MIN_LOC[predicate],
                     x_col=x_col, y_col=y_col)
    out_cols = list(columns) if columns is not None else points.columns

    # ---- driver metadata: one aggregate row per zoom -------------------
    zmeta = (prepped.groupBy("zoom")
             .agg(F.count("*").alias("n_zones"),
                  F.min("min_x").alias("mnx"), F.min("min_y").alias("mny"),
                  F.max("max_x").alias("mxx"), F.max("max_y").alias("mxy"),
                  (F.sum(F.length("iv_rows")) / 8).alias("n_iv"))
             .collect())
    if not zmeta:
        raise ValueError("join_zones_catalog: empty prepared catalog")
    total_iv = int(sum(r["n_iv"] for r in zmeta))

    if prefilter_bbox:
        points = bbox_filter(points,
                             min(r["mnx"] for r in zmeta),
                             min(r["mny"] for r in zmeta),
                             max(r["mxx"] for r in zmeta),
                             max(r["mxy"] for r in zmeta), x_col, y_col)

    def part(pts: DataFrame, zoom: int, pz: DataFrame):
        return (pts, zoom, intervals_table(pz),
                _cogroup_refiner(pz.select("zone_id", "edges"), locate))

    # ---- single-broadcast regime --------------------------------------
    if total_iv <= budget:
        return _interval_join(
            [part(points, int(r["zoom"]),
                  prepped.filter(F.col("zoom") == r["zoom"]))
             for r in zmeta], out_cols, x_col, y_col)

    # ---- region-partitioned regime (past the broadcast ceiling) -------
    # project away the cover binaries FIRST: this join reads only bbox /
    # intervals / edges, and a 10⁵-zone catalog's exact covers are ~10×
    # the interval+edge bytes — persisting them OOMed an 8 GB heap.
    # DISK_ONLY keeps the (serialized, compact) artifact slices off-heap;
    # with spark.local.dir on /dev/shm that is still RAM-speed.
    from pyspark import StorageLevel
    prepped = prepped.select(
        "zone_id", "zoom", "min_x", "min_y", "max_x", "max_y",
        "edges", "iv_rows", "iv_c0", "iv_c1", "iv_cover") \
        .persist(StorageLevel.DISK_ONLY)
    shift = 32 - REGION_ZOOM
    cx = (F.col("min_x") + F.col("max_x")) / 2
    cy = (F.col("min_y") + F.col("max_y")) / 2
    rc = (F.shiftleft(
        F.shiftright(cx.cast("long") + F.lit(1 << 31), shift), 20)
        + F.shiftright(F.lit(0x7FFFFFFF) - cy.cast("long"), shift))
    cells = (prepped.withColumn("_rc", rc)
             .groupBy("_rc", "zoom")
             .agg((F.sum(F.length("iv_rows")) / 8).alias("n_iv"),
                  F.min("min_x").alias("mnx"), F.min("min_y").alias("mny"),
                  F.max("max_x").alias("mxx"), F.max("max_y").alias("mxy"))
             .collect())          # O(occupied cells × zooms) skinny rows
    # bin-pack cells (z-order of _rc keeps regions spatially coherent)
    assign = []                   # (_rc, zoom, region, n_splits)
    rbox: dict[int, list] = {}    # region -> [mnx, mny, mxx, mxy]
    region, acc = 0, 0
    for r in sorted(cells, key=lambda r: (r["_rc"], r["zoom"])):
        iv_n = int(r["n_iv"])
        splits = 1
        if iv_n > budget:
            # one cell over budget: split its zones by id hash (and
            # close any partially-filled region first so no split
            # region also carries accumulated cells)
            splits = -(-iv_n // budget)
            if acc:
                region, acc = region + 1, 0
        elif acc and acc + iv_n > budget:
            region, acc = region + 1, 0
        assign.append((int(r["_rc"]), int(r["zoom"]), region, splits))
        for s in range(splits):
            box = rbox.setdefault(region + s, [r["mnx"], r["mny"],
                                               r["mxx"], r["mxy"]])
            box[0] = min(box[0], r["mnx"])
            box[1] = min(box[1], r["mny"])
            box[2] = max(box[2], r["mxx"])
            box[3] = max(box[3], r["mxy"])
        if splits > 1:
            region, acc = region + splits, 0
        else:
            acc += iv_n
    amap = spark.createDataFrame(
        assign, "_rc long, zoom int, _rbase int, _rsplits int")
    tagged = (prepped.withColumn("_rc", rc)
              .join(F.broadcast(amap), ["_rc", "zoom"])
              .withColumn("_region", F.col("_rbase") + F.pmod(
                  F.crc32(F.col("zone_id")), F.col("_rsplits")).cast("int")))
    zooms_by_region: dict[int, set] = {}
    for _rc, zm, base, splits in assign:
        for s in range(splits):
            zooms_by_region.setdefault(base + s, set()).add(zm)
    parts = []
    for reg, zooms in sorted(zooms_by_region.items()):
        box = rbox[reg]
        pts_r = bbox_filter(points, box[0], box[1], box[2], box[3],
                            x_col, y_col) if prefilter_bbox else points
        for zm in sorted(zooms):
            parts.append(part(pts_r, zm, tagged.filter(
                (F.col("_region") == reg) & (F.col("zoom") == zm))))
    return _interval_join(parts, out_cols, x_col, y_col)


def crossing_segments(segments: DataFrame, zones: list[PreparedZone],
                      x1="x1", y1="y1", x2="x2", y2="y2",
                      join_zoom: int | None = None) -> DataFrame:
    """Segments that cross any zone edge — the `crossing(f)` analog
    (src/filter/CrossesFilter.cpp:10-41).

    Cover-pruned: a crossing point lies ON a zone edge, and zone edges
    exist only in BOUNDARY cells of the cover — so only segments whose
    bbox touches a boundary cell are candidates. Segments are tagged with
    coarse cover keys JVM-side (sequence explode of the bbox cell range),
    broadcast-joined against the zones' BOUNDARY cells only, deduped, and
    only that boundary band crosses into the Arrow kernel. Segments fully
    inside or fully outside never pay Python.
    """
    from libgeodesk_spark.operators.way_join import (
        _zone_cells_coarse,
        fit_join_zoom,
    )
    spark = segments.sparkSession
    if join_zoom is None:
        span = max(max(z.bbox[2] - z.bbox[0], z.bbox[3] - z.bbox[1])
                   for z in zones)
        join_zoom = fit_join_zoom(zones, max(span, 1))
    shift = 32 - join_zoom
    mnxc = F.least(F.col(x1), F.col(x2))
    mxxc = F.greatest(F.col(x1), F.col(x2))
    mnyc = F.least(F.col(y1), F.col(y2))
    mxyc = F.greatest(F.col(y1), F.col(y2))
    c0 = F.shiftright(mnxc + F.lit(1 << 31), shift)
    c1 = F.shiftright(mxxc + F.lit(1 << 31), shift)
    r0 = F.shiftright(F.lit(0x7FFFFFFF) - mxyc, shift)
    r1 = F.shiftright(F.lit(0x7FFFFFFF) - mnyc, shift)
    tagged = segments.select(
        "*", F.explode(F.sequence(c0, c1)).alias("_cc")).select(
        "*", F.explode(F.sequence(r0, r1)).alias("_rr")).select(
        *segments.columns,
        (F.shiftleft(F.col("_cc"), 20) + F.col("_rr")).alias("cover_key"))

    zc = _zone_cells_coarse(spark, zones, join_zoom) \
        .filter(F.col("cover") == BOUNDARY).drop("cover")
    cand = tagged.join(F.broadcast(zc), "cover_key", "inner") \
        .dropDuplicates(segments.columns + ["zone_id"]).drop("cover_key")
    edges_bc = spark.sparkContext.broadcast({z.zone_id: z.edges for z in zones})
    out_schema = cand.schema

    def cross_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            for zid, idx in pdf.groupby("zone_id").indices.items():
                edges = edges_bc.value[zid]
                keep[idx] = kernel.any_segment_crosses(
                    pdf[x1].to_numpy()[idx], pdf[y1].to_numpy()[idx],
                    pdf[x2].to_numpy()[idx], pdf[y2].to_numpy()[idx], edges)
            yield pdf.loc[keep, [f.name for f in out_schema.fields]]

    return cand.mapInPandas(cross_batches, schema=out_schema)
