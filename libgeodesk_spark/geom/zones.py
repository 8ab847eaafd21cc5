"""Zone (polygon build side) preparation and cell-cover classification.

A *zone* is the analog of the reference's prepared filter geometry: a
polygon (1 outer ring + holes) or multipolygon, segmentized and classified
against the tile grid. The reference builds monotone chains packed in a
Hilbert R-tree and asks ``acceptTile`` per tile (-1 reject / 0 full test /
1 turbo-accept) — src/filter/WithinFilter.cpp:164-171,
src/geom/index/MCIndex.cpp:193-207 ``locateBox``.

The Spark-first analog computed here, once, driver-side:

* ``edges``: an (M,4) int64 array of all ring edges (the "chain index" —
  at our regional zone sizes a flat vectorized edge array beats a tree;
  the R-tree's O(log n) matters for single-point probes, not for
  Arrow-batch probes which amortize the scan across thousands of points),
* ``cover``: {cell_id → INSIDE(1) | BOUNDARY(0)} at the index zoom.
  INSIDE cells are "turbo" cells: every point in them is accepted with no
  geometry test (WithinFilter.cpp:143-161 fast-accept). BOUNDARY cells run
  the vectorized locate kernel. OUTSIDE cells are simply absent — this is
  the partition-pruning set.

The INSIDE/BOUNDARY/OUTSIDE cell classification is the same idea as the
raster-interval approximation for polygon joins in the public literature
(Raster Intervals, SIGMOD 2023; Raptor's raster-vector co-processing,
VLDB 2019) — here with an exact refinement step instead of approximation.

Cell classification is exact: a cell is BOUNDARY iff some edge intersects
the (closed) cell box — via the separating-line test — else its corner
parity decides INSIDE/OUTSIDE (same result as the reference's
``locateBox``: box-boundary intersection, corner locate, contained-chain
check, MCIndex.cpp:193-207; an edge inside the box is caught by the
bbox-overlap arm of the test).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from libgeodesk_spark.geom import kernel
from libgeodesk_spark.mercator import (
    MAX_ZOOM,
    cell_bounds,
    cell_from_col_row,
    col_from_x,
    row_from_y,
)

INSIDE = 1
BOUNDARY = 0
OUTSIDE = -1

#: Exactness contract for int64 cross products (see kernel module docstring).
MAX_ZONE_SPAN = 1 << 30


def pack_colrow(col, row):
    """Packed cover key: ``col << 20 | row`` — valid for zoom ≤ 20 (the
    12-bit cell_id packing of Tile.h caps at zoom 12; finer covers need a
    wider key)."""
    return (np.asarray(col, dtype=np.int64) << 20) | np.asarray(row, dtype=np.int64)


@dataclass(frozen=True)
class PreparedZone:
    """Broadcastable prepared polygon: flat edge array + cell cover.

    ``cover`` is keyed by :func:`pack_colrow` keys at ``zoom`` — by default
    FINER than the zoom-12 storage cells (budget-fitted up to COVER_ZOOM=20),
    shrinking the BOUNDARY band so the turbo (no-geometry) path dominates
    the probe side, the same reason the reference walks its tile pyramid to
    the finest level before testing features (TileIndexWalker)."""

    zone_id: str
    edges: np.ndarray                    # (M,4) int64 [ax, ay, bx, by]
    bbox: tuple[int, int, int, int]      # min_x, min_y, max_x, max_y
    zoom: int
    cover: dict[int, int] = field(repr=False)  # pack_colrow -> INSIDE|BOUNDARY

    def locate(self, px, py) -> np.ndarray:
        return kernel.locate_points(px, py, self.edges)

    @property
    def inside_cells(self) -> list[int]:
        return [c for c, v in self.cover.items() if v == INSIDE]

    @property
    def boundary_cells(self) -> list[int]:
        return [c for c, v in self.cover.items() if v == BOUNDARY]


def rings_to_edges(rings: list[np.ndarray]) -> np.ndarray:
    """Concatenate closed rings (each (k,2) int arrays, first==last vertex)
    into a flat (M,4) edge array. Unclosed rings are closed implicitly,
    mirroring the reference's ``duplicateFirst`` for area ways
    (src/feature/WayCoordinateIterator.cpp:21-26)."""
    chunks = []
    for r in rings:
        r = np.asarray(r, dtype=np.int64).reshape(-1, 2)
        if len(r) < 2:
            continue
        if r[0, 0] != r[-1, 0] or r[0, 1] != r[-1, 1]:
            r = np.vstack([r, r[:1]])
        chunks.append(np.hstack([r[:-1], r[1:]]))
    if not chunks:
        return np.zeros((0, 4), dtype=np.int64)
    return np.vstack(chunks)


def _segment_intersects_cells(ax, ay, bx, by, zoom) -> set[tuple[int, int]]:
    """Exact set of (col,row) cells whose closed box the segment touches.

    For each cell in the segment's bbox cover, the segment misses the box
    iff all 4 box corners lie strictly on one side of the segment's line
    (given the bbox already overlaps). Vectorized over candidate cells.
    """
    c0, c1 = sorted((int(col_from_x(ax, zoom)), int(col_from_x(bx, zoom))))
    r0, r1 = sorted((int(row_from_y(ay, zoom)), int(row_from_y(by, zoom))))
    cols = np.arange(c0, c1 + 1, dtype=np.int64)
    rows = np.arange(r0, r1 + 1, dtype=np.int64)
    cc, rr = np.meshgrid(cols, rows)
    cc, rr = cc.ravel(), rr.ravel()
    if len(cc) == 1:
        return {(int(cc[0]), int(rr[0]))}
    # cell boxes (inclusive coords)
    ext = np.int64(1) << (32 - zoom)
    min_x = (cc << (32 - zoom)) - (1 << 31)
    max_y = np.int64(2**31 - 1) - (rr << (32 - zoom))
    max_x = min_x + ext - 1
    min_y = max_y - ext + 1
    dx, dy = bx - ax, by - ay
    # side of each corner relative to the segment line (int64-exact:
    # deltas bounded by the segment bbox which is < MAX_ZONE_SPAN)
    s1 = np.sign(dx * (min_y - ay) - dy * (min_x - ax))
    s2 = np.sign(dx * (min_y - ay) - dy * (max_x - ax))
    s3 = np.sign(dx * (max_y - ay) - dy * (min_x - ax))
    s4 = np.sign(dx * (max_y - ay) - dy * (max_x - ax))
    all_pos = (s1 > 0) & (s2 > 0) & (s3 > 0) & (s4 > 0)
    all_neg = (s1 < 0) & (s2 < 0) & (s3 < 0) & (s4 < 0)
    # bbox overlap with the segment bbox (cells come from the bbox cover,
    # but the cover is in cell units so it is already exact)
    hit = ~(all_pos | all_neg)
    return {(int(c), int(r)) for c, r in zip(cc[hit], rr[hit])}


#: finest cover granularity the packed (col<<20|row) key supports; actual
#: zoom per zone is fitted to the cell budget below. Finer covers shrink
#: the BOUNDARY band quadratically-vs-area (perimeter cells halve per
#: zoom step), i.e. fewer rows pay the Arrow/Python locate kernel —
#: measured at sf0.1x64: zoom 16 covers put 16% of candidate rows in the
#: band; zoom 18 puts ~4%.
COVER_ZOOM = 20

#: adaptive-zoom budget: keep a zone's bbox cover under ~this many cells so
#: broadcast size and driver prep stay bounded for continent-scale zones
#: (2^17 cells x ~13 B/row ≈ 1.7 MB broadcast per zone, still tiny)
MAX_COVER_CELLS = 1 << 17


def _fit_zoom(min_x: int, min_y: int, max_x: int, max_y: int,
              want: int = COVER_ZOOM) -> int:
    """Largest zoom ≤ ``want`` whose bbox cover stays under MAX_COVER_CELLS
    — a giant zone gets a coarser cover (fewer, bigger turbo cells; the
    boundary band stays exact) instead of an unbounded one."""
    z = want
    while z > 0:
        cols = ((max_x - min_x) >> (32 - z)) + 2
        rows = ((max_y - min_y) >> (32 - z)) + 2
        if cols * rows <= MAX_COVER_CELLS:
            return z
        z -= 1
    return 0


def cover_rle(keys: np.ndarray, vals: np.ndarray):
    """Run-length encode a packed-key (col<<20|row) cover into
    (rows, c0, c1, cover) arrays — one row per (cell row, contiguous
    col run, cover class). THE canonical encoder: both the driver-built
    broadcast table (spatial_join.zone_intervals_df) and the
    executor-side artifacts (operators/zoneprep) call this, so the
    catalog join can never desynchronize from the driver-zone join's
    representation."""
    out_r, out_c0, out_c1, out_cv = [], [], [], []
    cols = keys >> 20
    rows = keys & 0xFFFFF
    for cv in (INSIDE, BOUNDARY):
        m = vals == cv
        if not m.any():
            continue
        order = np.lexsort((cols[m], rows[m]))
        rs, cs = rows[m][order], cols[m][order]
        newrun = np.ones(len(rs), dtype=bool)
        newrun[1:] = (rs[1:] != rs[:-1]) | (cs[1:] != cs[:-1] + 1)
        starts = np.flatnonzero(newrun)
        ends = np.concatenate([starts[1:] - 1, [len(rs) - 1]])
        out_r.append(rs[starts])
        out_c0.append(cs[starts])
        out_c1.append(cs[ends])
        out_cv.append(np.full(len(starts), cv, dtype=np.int8))
    if not out_r:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, np.zeros(0, dtype=np.int8)
    return (np.concatenate(out_r), np.concatenate(out_c0),
            np.concatenate(out_c1), np.concatenate(out_cv))


def coarsen_cover(cover: dict[int, int], k: int) -> dict[int, int]:
    """Zoom a cover out by ``k`` steps, exactly: a coarse cell is INSIDE
    iff all 4^k children are present and INSIDE; it is BOUNDARY if any
    child is BOUNDARY or the children only partially cover it (points in
    the uncovered part still get the exact locate test — conservative,
    never wrong); absent iff no child is present."""
    if k <= 0 or not cover:
        return dict(cover)
    n = len(cover)
    keys = np.fromiter(cover.keys(), dtype=np.int64, count=n)
    vals = np.fromiter(cover.values(), dtype=np.int64, count=n)
    ck = (((keys >> 20) >> k) << 20) | ((keys & 0xFFFFF) >> k)
    order = np.argsort(ck)
    ck, v = ck[order], vals[order]
    starts = np.concatenate([[0], np.flatnonzero(ck[1:] != ck[:-1]) + 1])
    counts = np.diff(np.concatenate([starts, [len(ck)]]))
    all_inside = np.logical_and.reduceat(v == INSIDE, starts)
    full = counts == (1 << (2 * k))
    out_vals = np.where(full & all_inside, INSIDE, BOUNDARY)
    return {int(c): int(x) for c, x in zip(ck[starts], out_vals)}


def prepare_zone(zone_id: str, rings: list[np.ndarray],
                 zoom: int | None = None) -> PreparedZone:
    """Segmentize rings and classify the cell cover. ``zoom=None`` picks
    the finest zoom (≤ COVER_ZOOM) whose cover fits MAX_COVER_CELLS."""
    edges = rings_to_edges(rings)
    if len(edges) == 0:
        return PreparedZone(zone_id, edges, (0, 0, 0, 0), zoom or COVER_ZOOM, {})
    min_x = int(min(edges[:, 0].min(), edges[:, 2].min()))
    max_x = int(max(edges[:, 0].max(), edges[:, 2].max()))
    min_y = int(min(edges[:, 1].min(), edges[:, 3].min()))
    max_y = int(max(edges[:, 1].max(), edges[:, 3].max()))
    if max_x - min_x >= MAX_ZONE_SPAN or max_y - min_y >= MAX_ZONE_SPAN:
        raise ValueError(
            f"zone {zone_id} spans >= 2^30 units; exact int64 kernel "
            f"contract violated — split the zone or lower the index zoom")
    if zoom is None:
        zoom = _fit_zoom(min_x, min_y, max_x, max_y)

    boundary: set[tuple[int, int]] = set()
    for ax, ay, bx, by in edges:
        boundary |= _segment_intersects_cells(int(ax), int(ay), int(bx), int(by), zoom)

    cover: dict[int, int] = {}
    for col, row in boundary:
        cover[int(pack_colrow(col, row))] = BOUNDARY

    # remaining cells in the bbox cover: classify by bottom-left corner
    # parity (vectorized — corner coordinates derive from col/row directly)
    c0, c1 = int(col_from_x(min_x, zoom)), int(col_from_x(max_x, zoom))
    r0, r1 = int(row_from_y(max_y, zoom)), int(row_from_y(min_y, zoom))
    cols = np.arange(c0, c1 + 1, dtype=np.int64)
    rows = np.arange(r0, r1 + 1, dtype=np.int64)
    cc, rr = np.meshgrid(cols, rows)
    cc, rr = cc.ravel(), rr.ravel()
    if len(boundary):
        bkeys = np.fromiter(((c << 20) | r for c, r in boundary),
                            dtype=np.int64, count=len(boundary))
        bmask = np.isin((cc << 20) | rr, bkeys)
        cc, rr = cc[~bmask], rr[~bmask]
    if len(cc):
        shift = 32 - zoom
        corner_x = (cc << shift) - (1 << 31)
        corner_y = (np.int64(2**31 - 1) - (rr << shift)) - (1 << shift) + 1
        loc = kernel.locate_points(corner_x, corner_y, edges)
        inside = loc == kernel.INSIDE
        for c, r in zip(cc[inside], rr[inside]):
            cover[int(pack_colrow(c, r))] = INSIDE
    return PreparedZone(zone_id, edges, (min_x, min_y, max_x, max_y), zoom, cover)
