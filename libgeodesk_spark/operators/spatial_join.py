"""Broadcast prepared-geometry spatial join: the Spark-native analog of the
reference's prepared filters (within / intersects / contains-point).

Reference execution shape (src/filter/WithinFilter.cpp, §3.2 of SURVEY.md):
build side = polygon → monotone chains → Hilbert R-tree, broadcast to every
tile scan; per tile ``acceptTile`` turbo-accepts tiles fully inside
(WithinFilter.cpp:164-171) and rejects tiles fully outside; only boundary
tiles run per-feature geometry.

Spark-first translation:

* build side: :class:`PreparedZone` per polygon (driver-side, once) →
  a tiny ``zone_cells`` DataFrame (cell_id, zone_id, cover) broadcast-joined
  against the points on ``cell_id`` — this is simultaneously the partition
  pruning (absent cells never match) and the turbo classification;
* probe side: INSIDE-cover matches accepted with zero geometry work in
  pure JVM; BOUNDARY-cover matches run the vectorized locate kernel in an
  Arrow-batched ``mapInPandas`` (no per-row Python).
* a bbox pre-filter (plain column range predicate) is pushed into the
  parquet/Iceberg scan for file/row-group skipping, mirroring the
  reference's bbox test ordering (TileQueryTask.cpp:176-203).

Scale notes (100 TB): the join is broadcast (zone_cells is tiny: #cells ×
#zones); no shuffle of the fact table at all. Callers should pass skinny
point frames (ids + x/y/cell) and re-attach heavy payload columns (image
bytes) by key afterwards, so bytes never cross the Python boundary.
"""

from __future__ import annotations

from typing import Iterable, Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from libgeodesk_spark.geom import kernel
from libgeodesk_spark.geom.zones import BOUNDARY, INSIDE, PreparedZone

Predicate = Literal["within", "intersects", "contains_point"]

#: above this many total zone edges the build side is NOT broadcast as one
#: blob — boundary rows co-group with per-cell edge slices instead
#: (~32 B/edge: 2M edges = 64 MB broadcast, a sane executor budget)
EDGE_BROADCAST_LIMIT = 2_000_000

#: minimum locate() value accepted per predicate, for POINT candidates:
#: within → strictly inside (WithinFilter.cpp:60-63 properlyContainsPoint);
#: intersects / contains_point → boundary or inside
#: (IntersectsFilter.cpp, ContainsPointFilter.cpp:11-25).
_MIN_LOC = {"within": kernel.INSIDE, "intersects": kernel.BOUNDARY,
            "contains_point": kernel.BOUNDARY}


def zone_cells_df(spark: SparkSession, zones: Iterable[PreparedZone],
                  covers: list[dict] | None = None) -> DataFrame:
    """(cover_key, zone_id, cover) — the broadcast build side. cover_key is
    the pack_colrow key at the zones' cover zoom (all zones must share it).
    ``covers`` overrides each zone's own cover (coarsened variants)."""
    frames = []
    for i, z in enumerate(zones):
        cov = covers[i] if covers is not None else z.cover
        keys = np.fromiter(cov.keys(), dtype=np.int64, count=len(cov))
        vals = np.fromiter(cov.values(), dtype=np.int32, count=len(cov))
        frames.append(pd.DataFrame({"cover_key": keys, "zone_id": z.zone_id,
                                    "cover": vals}))
    pdf = pd.concat(frames, ignore_index=True) if frames else \
        pd.DataFrame({"cover_key": [], "zone_id": [], "cover": []})
    schema = T.StructType([
        T.StructField("cover_key", T.LongType(), False),
        T.StructField("zone_id", T.StringType(), False),
        T.StructField("cover", T.IntegerType(), False),
    ])
    return spark.createDataFrame(pdf, schema)  # Arrow path — no row pickling


def zone_intervals_df(spark: SparkSession,
                      zones: Iterable[PreparedZone]) -> DataFrame:
    """Run-length-encoded cover: one row per (cell row, contiguous col run,
    zone, cover class) — the Raster-Intervals representation (SIGMOD 2023)
    of the same exact cover.

    Why this beats the per-cell table as the broadcast build side: a
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


def cover_key_col(x, y, zoom: int):
    """pack_colrow(col, row) at ``zoom`` as JVM Column arithmetic."""
    col = F.shiftright(x.cast("long") + F.lit(1 << 31), 32 - zoom)
    row = F.shiftright(F.lit(0x7FFFFFFF) - y.cast("long"), 32 - zoom)
    return F.shiftleft(col, 20) + row


def bbox_filter(df: DataFrame, min_x: int, min_y: int, max_x: int, max_y: int,
                x: str = "x", y: str = "y") -> DataFrame:
    """Plain range predicate — pushed down to the scan (P9 bbox window,
    FeaturesBase.h:85-97)."""
    return df.filter((F.col(x) >= min_x) & (F.col(x) <= max_x)
                     & (F.col(y) >= min_y) & (F.col(y) <= max_y))


#: fallback sanity bound per SINGLE zone: its edges are shipped whole to
#: each of its boundary cells (PIP parity needs the full ring set — a ray
#: cast east crosses edges far outside the probe's cell). A single
#: million-vertex polygon should be split (or covered coarser) instead.
PER_ZONE_EDGE_LIMIT = 200_000

#: cap on Σ(boundary cells × edge bytes) duplicated into the fallback's
#: per-cell edge table; the fallback coarsens covers until it fits
EDGE_DUP_BUDGET_BYTES = 128 << 20


def _edge_cells_pdf(zones: list[PreparedZone],
                    covers: list[dict] | None = None) -> "pd.DataFrame":
    """One row per (boundary cover cell, zone) carrying that ZONE's full
    edge array as int64 bytes — the shuffle-join build side for zone SETS
    whose combined edges are too big to broadcast whole (the common
    huge-build-side case: many moderate zones, e.g. every admin polygon).
    Each executor receives only the zones of the cells it processes."""
    keys_out, zids, blobs = [], [], []
    for i, z in enumerate(zones):
        if len(z.edges) > PER_ZONE_EDGE_LIMIT:
            raise ValueError(
                f"zone {z.zone_id} has {len(z.edges)} edges — beyond the "
                f"shuffle-fallback per-zone bound ({PER_ZONE_EDGE_LIMIT}); "
                f"split the polygon or prepare it at a coarser cover zoom")
        blob = z.edges.tobytes()
        cov = covers[i] if covers is not None else z.cover
        for key, val in cov.items():
            if val != BOUNDARY:
                continue
            keys_out.append(key)
            zids.append(z.zone_id)
            blobs.append(blob)
    return pd.DataFrame({"cover_key": np.array(keys_out, dtype=np.int64),
                         "zone_id": zids, "edges_blob": blobs})


def _fit_fallback_covers(zones: list[PreparedZone]) -> tuple[int, list[dict]]:
    """Coarsen covers (exactly — coarsen_cover) until the fallback's edge
    duplication Σ(boundary cells × 32 B × edges) fits EDGE_DUP_BUDGET_BYTES.
    Fine covers multiply boundary-cell counts, and the fallback ships each
    zone's whole edge blob once per boundary cell — unbounded at zoom 20."""
    from libgeodesk_spark.geom.zones import coarsen_cover
    covers = [z.cover for z in zones]
    k = 0
    while True:
        dup = sum(sum(1 for v in cov.values() if v == BOUNDARY) * 32
                  * len(z.edges) for z, cov in zip(zones, covers))
        zoom = zones[0].zoom - k
        if dup <= EDGE_DUP_BUDGET_BYTES or zoom <= 1:
            return k, covers
        covers = [coarsen_cover(c, 1) for c in covers]
        k += 1


def join_zones(points: DataFrame, zones: list[PreparedZone],
               predicate: Predicate = "within",
               cell_col: str = "cell_id", x_col: str = "x", y_col: str = "y",
               prefilter_bbox: bool = True,
               columns: list[str] | None = None,
               single_pass: bool = False,
               max_broadcast_edges: int = EDGE_BROADCAST_LIMIT,
               intervals=None) -> DataFrame:
    """points × zones point-in-polygon join.

    Returns ``columns`` (default: all input columns) plus ``zone_id`` — one
    row per (point, zone) membership, exactly matching the reference
    predicate semantics. ``columns`` prunes the Arrow transfer — pass the
    narrow output you need; x/y/cell/cover are retained internally.

    Physical shape (broadcast regime, total edges ≤
    ``max_broadcast_edges``): the points join the zones' run-length cover
    intervals in one broadcast hash join (no shuffle of the fact side).
    INSIDE-cover rows are accepted in the JVM and never reach Python.
    BOUNDARY-cover rows pass a ``rebalance`` exchange, so AQE sizes the
    Arrow ``mapInPandas`` locate stage by boundary-band bytes (one task for
    a small query, advisory-size tasks with skew splitting at scale)
    rather than by scan splits; each Python task costs ~0.2-0.3 CPU-s
    before it reads a row. Streaming input skips the rebalance.
    ``single_pass=True`` instead runs every candidate row through one
    ``mapInPandas`` (one consumer of the source, for streaming or
    expensive derived inputs). Past ``max_broadcast_edges`` the boundary
    band co-groups with per-cell edge slices instead.

    ``intervals``: optional pre-computed run-length interval table (a
    pandas or Spark DataFrame with cell_row/c0/c1/zone_id/cover — the
    operators.zoneprep artifact form). When given, the broadcast build
    side is taken AS-IS and the zones' ``cover`` dicts are never read
    (zoneprep.collect_prepared_light). Requires the broadcast regime.
    """
    spark = points.sparkSession
    min_loc = _MIN_LOC[predicate]
    if not zones:
        raise ValueError("join_zones requires at least one PreparedZone")

    if prefilter_bbox and zones:
        mnx = min(z.bbox[0] for z in zones)
        mny = min(z.bbox[1] for z in zones)
        mxx = max(z.bbox[2] for z in zones)
        mxy = max(z.bbox[3] for z in zones)
        points = bbox_filter(points, mnx, mny, mxx, mxy, x_col, y_col)

    # adaptive cover zooms may differ per zone: process per zoom group
    zooms = sorted({z.zoom for z in zones})
    if len(zooms) > 1:
        parts = [join_zones(points, [z for z in zones if z.zoom == zm],
                            predicate=predicate, cell_col=cell_col,
                            x_col=x_col, y_col=y_col,
                            prefilter_bbox=prefilter_bbox, columns=columns,
                            single_pass=single_pass,
                            intervals=None if intervals is None else
                            intervals.filter(F.col("zone_id").isin(
                                [z.zone_id for z in zones if z.zoom == zm]))
                            if isinstance(intervals, DataFrame) else
                            intervals[intervals["zone_id"].isin(
                                {z.zone_id for z in zones
                                 if z.zoom == zm})],
                            max_broadcast_edges=max_broadcast_edges)
                 for zm in zooms]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    cover_zoom = zooms[0]

    out_cols = list(columns) if columns is not None else \
        [c for c in points.columns]
    need = list(dict.fromkeys(out_cols + [x_col, y_col]))
    total_edges = sum(len(z.edges) for z in zones)
    final_cols = list(dict.fromkeys(out_cols + ["zone_id"]))

    if total_edges > max_broadcast_edges:
        if intervals is not None:
            raise ValueError(
                "intervals= (cover-less zones) requires the broadcast "
                "regime; this zone set's edges exceed "
                f"{max_broadcast_edges} — collect full covers "
                "(zoneprep.collect_prepared) for the shuffle-cogroup "
                "fallback")
        k, fb_covers = _fit_fallback_covers(zones)
        fb_zoom = cover_zoom - k
        points = points.select(
            *need, cover_key_col(F.col(x_col), F.col(y_col), fb_zoom)
            .alias("_ck"))
        zc = zone_cells_df(spark, zones, covers=fb_covers)
        # SHUFFLE-JOIN FALLBACK (SURVEY §7.4 broadcast-size discipline):
        # the edge set is too big to ship whole to every executor. Turbo
        # rows stay pure JVM; boundary rows CO-GROUP with per-cell edge
        # slices on (cover_key, zone_id) — each executor sees only the
        # edges of the cells it processes, one shuffle of the (skinny)
        # boundary band plus the sliced edge table.
        candk = points.join(F.broadcast(zc),
                            points["_ck"] == zc["cover_key"], "inner") \
            .drop("cover_key")
        turbo = candk.filter(F.col("cover") == INSIDE).select(*final_cols)
        bnd_cols = list(dict.fromkeys(final_cols + [x_col, y_col, "_ck"]))
        bnd = candk.filter(F.col("cover") == BOUNDARY).select(*bnd_cols)
        edge_tbl = spark.createDataFrame(
            _edge_cells_pdf(zones, covers=fb_covers))
        out_schema = turbo.schema
        min_loc_f = min_loc

        def locate_group(left: pd.DataFrame, right: pd.DataFrame):
            if len(left) == 0 or len(right) == 0:
                return left.iloc[0:0][final_cols]
            edges = np.frombuffer(right["edges_blob"].iloc[0],
                                  dtype=np.int64).reshape(-1, 4)
            loc = kernel.locate_points(left[x_col].to_numpy(),
                                       left[y_col].to_numpy(), edges)
            return left.loc[loc >= min_loc_f, final_cols]

        boundary = bnd.groupBy("_ck", "zone_id").cogroup(
            edge_tbl.groupBy("cover_key", "zone_id")) \
            .applyInPandas(locate_group, schema=out_schema)
        return turbo.unionByName(boundary)

    # broadcast path: interval build side (run-length cover) — equi-join
    # on the cell row with a col-range residual inside the same broadcast
    # hash join; the build is ~1k rows/zone instead of ~70k cells/zone
    shift = 32 - cover_zoom
    points = points.select(
        *need,
        F.shiftright(F.col(x_col).cast("long") + F.lit(1 << 31), shift)
        .alias("_cc"),
        F.shiftright(F.lit(0x7FFFFFFF) - F.col(y_col).cast("long"), shift)
        .alias("_rr"))
    if isinstance(intervals, DataFrame):
        # executor-built interval frame (zoneprep.intervals_table) used
        # AS-IS: the build side never transits the driver as Python rows
        iv = intervals.select("cell_row", "c0", "c1", "zone_id", "cover")
    elif intervals is not None:
        from pyspark.sql import types as _T
        iv_schema = _T.StructType([
            _T.StructField("cell_row", _T.LongType(), False),
            _T.StructField("c0", _T.LongType(), False),
            _T.StructField("c1", _T.LongType(), False),
            _T.StructField("zone_id", _T.StringType(), False),
            _T.StructField("cover", _T.IntegerType(), False),
        ])
        iv = spark.createDataFrame(
            intervals[["cell_row", "c0", "c1", "zone_id", "cover"]],
            iv_schema)
    else:
        iv = zone_intervals_df(spark, zones)
    cand = points.join(
        F.broadcast(iv),
        (F.col("_rr") == F.col("cell_row"))
        & (F.col("_cc") >= F.col("c0")) & (F.col("_cc") <= F.col("c1")),
        "inner").drop("cell_row", "c0", "c1", "_cc", "_rr")

    edges_bc = spark.sparkContext.broadcast(
        {z.zone_id: z.edges for z in zones})

    if single_pass:
        in_schema = cand.schema
        from pyspark.sql import types as T
        out_schema = T.StructType(
            [in_schema[c] for c in final_cols])

        def locate_all(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                keep = (pdf["cover"].to_numpy() == INSIDE)
                bmask = ~keep
                if bmask.any():
                    px = pdf[x_col].to_numpy()
                    py = pdf[y_col].to_numpy()
                    sub = pdf.loc[bmask]
                    for zid, idx in sub.groupby("zone_id").indices.items():
                        gi = sub.index.to_numpy()[idx]
                        loc = kernel.locate_points(px[gi], py[gi],
                                                   edges_bc.value[zid])
                        keep[gi] = loc >= min_loc
                yield pdf.loc[keep, final_cols]

        return cand.mapInPandas(locate_all, schema=out_schema)

    # two-branch variant: INSIDE rows never cross the Python boundary
    turbo = cand.filter(F.col("cover") == INSIDE).select(*final_cols)
    bnd = cand.filter(F.col("cover") == BOUNDARY) \
        .select(*dict.fromkeys(final_cols + [x_col, y_col]))
    if not points.isStreaming:
        # size the Python stage by the boundary band, not by scan splits
        bnd = bnd.hint("rebalance")
    out_schema = turbo.schema

    def locate_batches(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            px = pdf[x_col].to_numpy()
            py = pdf[y_col].to_numpy()
            for zid, idx in pdf.groupby("zone_id").indices.items():
                loc = kernel.locate_points(px[idx], py[idx],
                                           edges_bc.value[zid])
                keep[idx] = loc >= min_loc
            yield pdf.loc[keep, final_cols]

    boundary = bnd.mapInPandas(locate_batches, schema=out_schema)
    return turbo.unionByName(boundary)


#: default interval-broadcast budget for join_zones_catalog: ~8M rows ×
#: ~33 B/row ≈ 260 MB — comfortably under Spark's 8 GB broadcast hard
#: cap and a sane executor-memory share; past it the catalog region-
#: partitions into separate joins (the >10⁵-zone mitigation named in
#: BENCH/ZONEPREP.md). Since r6 this is the FLOOR of the auto-derived
#: budget (:func:`_auto_iv_budget`), not the default itself — the 10⁵-
#: zone fixture measured 70.7 s in the single-broadcast regime vs
#: 172.6 s region-partitioned at this constant, so the regime choice now
#: follows executor memory instead of assuming the smallest executor.
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
                       columns: list[str] | None = None,
                       max_broadcast_intervals: int | None = None,
                       region_zoom: int = REGION_ZOOM,
                       boundary_salt: int = 1) -> DataFrame:
    """points × prepared-zone-CATALOG join, Spark end-to-end.

    ``prepped`` is the :func:`operators.zoneprep.prepared_zones_df`
    artifact frame (or the same rows re-loaded from parquet /
    SnapshotTable). Unlike :func:`join_zones`, NO per-zone object ever
    reaches the driver (VERDICT r4 #1):

    * build side: the run-length interval table is exploded from the
      artifacts ON EXECUTORS (``zoneprep.intervals_table``) and handed
      to Spark's JVM BroadcastExchange via ``F.broadcast`` — the former
      ``collect_prepared_light`` pandas assembly (O(intervals)
      driver-serial, 16 s at 10k zones) disappears;
    * boundary band: skinny candidate rows CO-GROUP with the per-zone
      edge blobs on ``zone_id`` — each executor deserializes only the
      edges of the zones it probes; total edge bytes never sit on one
      machine (this is also what lifts the ~1 GB sc.broadcast edge
      ceiling);
    * driver work: per-(zoom[, region-cell]) AGGREGATE rows only —
      O(#zooms + #occupied-region-cells) skinny tuples, independent of
      edge/cover/interval counts.

    Past ``max_broadcast_intervals`` the catalog REGION-PARTITIONS: zones
    group by the coarse grid cell of their bbox center, cells bin-pack
    (z-order, spatially coherent) into regions whose interval sum fits
    the budget, and each region runs its own broadcast join against the
    bbox-filtered probe — each probe scan prunes to the region's window
    at the parquet level, so R regions cost R pruned scans, not R full
    ones. A single over-budget cell further splits by zone-id hash.

    Output rows/values are byte-identical to
    ``join_zones(points, zones, ...)`` over the same catalog (pytest
    pins both regimes); one row per (point, zone) membership.

    ``prepped`` is re-read once per (zoom, region) — pass a
    parquet/SnapshotTable-backed frame (or ``.persist()`` it) for
    multi-region catalogs so zone geometry is not re-prepared per
    region; this function persists it defensively when region
    partitioning activates.

    ``boundary_salt`` > 1 scatters each zone's boundary band over that
    many cogroup keys (edge blobs duplicated per salt) — opt in when one
    zone's boundary dominates (megacity skew) on a real cluster.
    """
    spark = points.sparkSession
    if max_broadcast_intervals is None:
        # derive the regime from executor memory (VERDICT r5 #4): the
        # 10^5-zone fixture is 32.1M intervals — a single ~1 GB
        # broadcast at 8 GB heap (70.7 s) vs 172.6 s region-partitioned
        # under the old universal 8M constant
        max_broadcast_intervals = _auto_iv_budget(spark)
    min_loc = _MIN_LOC[predicate]
    out_cols = list(columns) if columns is not None else \
        [c for c in points.columns]
    final_cols = list(dict.fromkeys(out_cols + ["zone_id"]))
    need = list(dict.fromkeys(out_cols + [x_col, y_col]))

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

    def one_join(pz: DataFrame, zoom: int, pts: DataFrame) -> DataFrame:
        """One broadcast interval join + cogrouped boundary band."""
        from libgeodesk_spark.operators.zoneprep import intervals_table
        shift = 32 - zoom
        probe = pts.select(
            *need,
            F.shiftright(F.col(x_col).cast("long") + F.lit(1 << 31), shift)
            .alias("_cc"),
            F.shiftright(F.lit(0x7FFFFFFF) - F.col(y_col).cast("long"),
                         shift).alias("_rr"))
        iv = intervals_table(pz)
        cand = probe.join(
            F.broadcast(iv),
            (F.col("_rr") == F.col("cell_row"))
            & (F.col("_cc") >= F.col("c0")) & (F.col("_cc") <= F.col("c1")),
            "inner").drop("cell_row", "c0", "c1", "_cc", "_rr")
        turbo = cand.filter(F.col("cover") == INSIDE).select(*final_cols)
        bnd_cols = list(dict.fromkeys(final_cols + [x_col, y_col]))
        bnd = cand.filter(F.col("cover") == BOUNDARY).select(*bnd_cols)
        edges = pz.select("zone_id", "edges")
        if boundary_salt > 1:
            salt = F.pmod(F.xxhash64(F.col(x_col), F.col(y_col)),
                          F.lit(boundary_salt)).cast("int")
            bnd = bnd.withColumn("_bsalt", salt)
            edges = edges.select(
                "zone_id", "edges",
                F.explode(F.sequence(F.lit(0), F.lit(boundary_salt - 1)))
                .alias("_bsalt"))
            keys = ["zone_id", "_bsalt"]
        else:
            keys = ["zone_id"]
        out_schema = turbo.schema
        min_loc_f, xc, yc = min_loc, x_col, y_col

        def locate_group(left: pd.DataFrame, right: pd.DataFrame):
            if len(left) == 0 or len(right) == 0:
                return left.iloc[0:0][final_cols]
            edg = np.frombuffer(bytes(right["edges"].iloc[0]),
                                dtype="<i8").astype(np.int64).reshape(-1, 4)
            loc = kernel.locate_points(left[xc].to_numpy(),
                                       left[yc].to_numpy(), edg)
            return left.loc[loc >= min_loc_f, final_cols]

        boundary = bnd.groupBy(*keys).cogroup(edges.groupBy(*keys)) \
            .applyInPandas(locate_group, schema=out_schema)
        return turbo.unionByName(boundary)

    # ---- single-broadcast regime --------------------------------------
    if total_iv <= max_broadcast_intervals:
        parts = [one_join(prepped.filter(F.col("zoom") == r["zoom"]),
                          int(r["zoom"]), points) for r in zmeta]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

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
    shift = 32 - region_zoom
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
        if iv_n > max_broadcast_intervals:
            # one cell over budget: split its zones by id hash (and
            # close any partially-filled region first so no split
            # region also carries accumulated cells)
            splits = -(-iv_n // max_broadcast_intervals)
            if acc:
                region, acc = region + 1, 0
        elif acc and acc + iv_n > max_broadcast_intervals:
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
            pz = tagged.filter((F.col("_region") == reg)
                               & (F.col("zoom") == zm))
            parts.append(one_join(pz, zm, pts_r))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
