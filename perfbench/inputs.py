"""Seeded input generation. Every input the program sees comes from here,
drawn from one ``numpy.random.Generator`` seeded by ``--seed``.

Coordinates are int32 pseudo-Mercator units (FIXTURES.md). Points are
mostly uniform in a regional window (~0.7 deg square near 7.5E 47.2N) with
``HOT_SHARE`` of them packed into one zoom-12 cell, the skew case.
"""

from __future__ import annotations

import math
import struct

import numpy as np

X0, Y0 = 89_000_000, 640_000_000
SPAN = 1 << 23
HOT_X, HOT_Y, HOT_SPAN = X0 + 5_000_000, Y0 + 3_000_000, 4096
HOT_SHARE = 0.2
N_SALTS = 16

MAP_WIDTH = 4294967294.9999          # reference Mercator.h plane width


class Strata:
    """Latin-hypercube draws in blocks of ``block``: within each block, the
    k-th draw of a named dimension falls in its own 1/block stratum. A run
    makes about one block of ops of each kind, so every run covers each
    parameter's range evenly and runs differ less by luck of the draw."""

    def __init__(self, rng: np.random.Generator, block: int = 8):
        self.rng, self.block = rng, block
        self._perm: dict[str, np.ndarray] = {}
        self._n: dict[str, int] = {}

    def u(self, dim: str) -> float:
        k = self._n.get(dim, 0)
        self._n[dim] = k + 1
        if k % self.block == 0:
            self._perm[dim] = self.rng.permutation(self.block)
        return (self._perm[dim][k % self.block] + self.rng.random()) / self.block

    def between(self, dim: str, lo: float, hi: float) -> float:
        return lo + self.u(dim) * (hi - lo)


def in_hot_block(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return ((x >= HOT_X) & (x < HOT_X + HOT_SPAN)
            & (y >= HOT_Y) & (y < HOT_Y + HOT_SPAN))


def cell_id(x: np.ndarray, y: np.ndarray, zoom: int = 12) -> np.ndarray:
    col = (x.astype(np.int64) + (1 << 31)) >> (32 - zoom)
    row = (np.int64(0x7FFFFFFF) - y.astype(np.int64)) >> (32 - zoom)
    return (np.int64(zoom) << 24) | (row << 12) | col


def points(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """``n`` points: pid, image_id, x, y, cell_id (zoom 12), salt."""
    hot = rng.random(n) < HOT_SHARE
    x = np.where(hot, HOT_X + rng.integers(0, HOT_SPAN, n),
                 X0 + rng.integers(0, SPAN, n)).astype(np.int32)
    y = np.where(hot, HOT_Y + rng.integers(0, HOT_SPAN, n),
                 Y0 + rng.integers(0, SPAN, n)).astype(np.int32)
    pid = np.arange(n, dtype=np.int64)
    return {"image_id": np.char.add("img", np.char.zfill(pid.astype(str), 12)),
            "pid": pid, "x": x, "y": y, "cell_id": cell_id(x, y),
            "salt": pid % N_SALTS}


def tile_slice(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """``n`` images (as points) in a two-cell square centred on the hot
    cell's west edge, HOT_SHARE of them in the hot block. It covers about
    six zoom-12 cells, so re-encode groups are large enough that the
    codec, not per-group overhead, sets the cost."""
    cell = 1 << 20
    cx = ((HOT_X + (1 << 31)) >> 20 << 20) - (1 << 31)   # hot cell's west edge
    hot = rng.random(n) < HOT_SHARE
    x = np.where(hot, HOT_X + rng.integers(0, HOT_SPAN, n),
                 cx - cell + rng.integers(0, 2 * cell, n)).astype(np.int32)
    y = np.where(hot, HOT_Y + rng.integers(0, HOT_SPAN, n),
                 HOT_Y - cell + rng.integers(0, 2 * cell, n)).astype(np.int32)
    pid = np.arange(n, dtype=np.int64)
    return {"pid": pid, "x": x, "y": y, "cell_id": cell_id(x, y),
            "salt": pid % N_SALTS}


def input_bytes(cols: dict[str, np.ndarray]) -> int:
    """In-memory size of generated columns (strings at their UTF-8 length)."""
    total = 0
    for v in cols.values():
        if v.dtype.kind in "US":
            total += int(np.char.str_len(v).sum())
        else:
            total += v.nbytes
    return total


def write_parquet(cols: dict[str, np.ndarray], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({k: pa.array(v) for k, v in cols.items()}), path)


def star_polygon(rng: np.random.Generator, anchor: tuple[int, int],
                 radius: float, n_vertices: int) -> np.ndarray:
    """Closed simple polygon (k+1, 2) int64 whose vertex 0 is exactly
    ``anchor``: vertices at sorted angles around a centre, so the ring is
    star-shaped and never self-intersects. Passing a data point as the
    anchor puts that point on the boundary, which ``within`` must exclude."""
    ang = np.sort(rng.random(n_vertices)) * 2 * math.pi
    r = radius * (0.4 + 0.6 * rng.random(n_vertices))
    cx = anchor[0] - r[0] * math.cos(ang[0])
    cy = anchor[1] - r[0] * math.sin(ang[0])
    ring = np.stack([np.rint(cx + r * np.cos(ang)),
                     np.rint(cy + r * np.sin(ang))], axis=1).astype(np.int64)
    ring[0] = anchor
    return np.vstack([ring, ring[:1]])


def lonlat_from_merc(ring: np.ndarray) -> np.ndarray:
    lon = ring[:, 0].astype(np.float64) * 360.0 / MAP_WIDTH
    lat = (np.arctan(np.exp(ring[:, 1].astype(np.float64) * np.pi * 2.0
                            / MAP_WIDTH)) * 360.0 / np.pi - 90.0)
    return np.stack([lon, lat], axis=1)


def polygon_wkb(lonlat: np.ndarray) -> bytes:
    """Little-endian WKB Polygon with one ring of lon/lat degrees."""
    return (struct.pack("<BII", 1, 3, 1) + struct.pack("<I", len(lonlat))
            + lonlat.astype("<f8").tobytes())


def catalog(rng: np.random.Generator, n_zones: int, pts: dict[str, np.ndarray]
            ) -> tuple[list[str], list[bytes], list[np.ndarray]]:
    """A zone catalog: ids, WKB (lon/lat), and the lon/lat rings.

    A quarter of the zones sit inside the data window (anchored on a data
    point, so boundaries pass through points); the rest lie just outside
    it and match nothing. Radii (20k-800k units, log-spaced) and vertex
    counts (5-40) are stratified over the catalog and shuffled, and
    HOT_SHARE of the inside zones are anchored in the hot block, so every
    catalog has the same mix of cover zooms, prep costs and skew and only
    the geometry is fresh."""
    q = (np.arange(n_zones) + rng.random(n_zones)) / n_zones
    radii = np.exp(math.log(20_000) + q * math.log(800_000 / 20_000))
    n_vertices = rng.permutation(5 + np.arange(n_zones) * 36 // n_zones)
    n_inside = max(1, n_zones // 4)
    inside = rng.permutation(np.arange(n_zones) < n_inside)
    hot = in_hot_block(pts["x"], pts["y"])
    pools = [np.nonzero(hot)[0], np.nonzero(~hot)[0]]
    from_hot = list(rng.permutation(np.arange(n_inside)
                                    < round(n_inside * HOT_SHARE)))
    ids, wkbs, rings = [], [], []
    for z in rng.permutation(n_zones):
        if inside[z]:
            pool = pools[0] if from_hot.pop() else pools[1]
            i = int(pool[rng.integers(0, len(pool))])
            anchor = (int(pts["x"][i]), int(pts["y"][i]))
        else:
            anchor = (X0 + SPAN + 2_000_000 + int(rng.integers(0, SPAN)),
                      Y0 + int(rng.integers(0, SPAN)))
        ll = lonlat_from_merc(star_polygon(rng, anchor, float(radii[z]),
                                           int(n_vertices[z])))
        ids.append(f"zone{len(ids):05d}")
        wkbs.append(polygon_wkb(ll))
        rings.append(ll)
    return ids, wkbs, rings
