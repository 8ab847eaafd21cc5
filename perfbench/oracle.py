"""Independent numpy answers for every operation the benchmark times.

Nothing here calls the library: distances, the point-in-polygon test and
the Mercator projection are written out from their definitions, so a
wrong answer from the engine cannot be echoed back by shared code.
"""

from __future__ import annotations

import math

import numpy as np

MAP_WIDTH = 4294967294.9999
EARTH_CIRCUMFERENCE = 40075016.68558


class Points:
    """The generated points, sorted by x so box filters are two bisections."""

    def __init__(self, cols: dict[str, np.ndarray]):
        order = np.argsort(cols["x"], kind="stable")
        self.x = cols["x"][order].astype(np.int64)
        self.y = cols["y"][order].astype(np.int64)
        self.pid = cols["pid"][order]

    def box(self, min_x: int, min_y: int, max_x: int, max_y: int) -> np.ndarray:
        """Indices of points in the closed box."""
        lo = np.searchsorted(self.x, min_x, side="left")
        hi = np.searchsorted(self.x, max_x, side="right")
        sel = np.arange(lo, hi)
        yy = self.y[lo:hi]
        return sel[(yy >= min_y) & (yy <= max_y)]

    def window_count(self, min_x, min_y, max_x, max_y) -> int:
        return len(self.box(min_x, min_y, max_x, max_y))

    def radius_count(self, meters: float, qx: int, qy: int) -> int:
        """Points with squared distance <= (meters in units at qy)^2, the
        reference maxMetersFrom conversion (scale = cosh(2 pi y / W))."""
        units = meters * MAP_WIDTH / EARTH_CIRCUMFERENCE \
            * math.cosh(qy * 2.0 * math.pi / MAP_WIDTH)
        d = int(units) + 1
        sel = self.box(qx - d, qy - d, qx + d, qy + d)
        dx, dy = self.x[sel] - qx, self.y[sel] - qy
        return int(np.count_nonzero(dx * dx + dy * dy <= units * units))

    def knn(self, qx: int, qy: int, k: int) -> list[tuple[int, int]]:
        """(sq_dist, pid) of the k nearest points, ties broken by id."""
        dx, dy = self.x - qx, self.y - qy
        sq = dx * dx + dy * dy
        # every point tied with the k-th distance competes on id
        cand = np.nonzero(sq <= np.partition(sq, k - 1)[k - 1])[0]
        order = np.lexsort((self.pid[cand], sq[cand]))[:k]
        return [(int(sq[cand[i]]), int(self.pid[cand[i]])) for i in order]

    def within_count(self, ring: np.ndarray) -> int:
        """Points strictly inside a closed int ring (boundary excluded)."""
        sel = self.box(int(ring[:, 0].min()), int(ring[:, 1].min()),
                       int(ring[:, 0].max()), int(ring[:, 1].max()))
        return int(np.count_nonzero(
            strictly_inside(self.x[sel], self.y[sel], ring)))


def strictly_inside(px: np.ndarray, py: np.ndarray, ring: np.ndarray
                    ) -> np.ndarray:
    """Crossing-number test in exact int64 arithmetic; points on an edge
    or vertex are reported outside."""
    inside = np.zeros(len(px), dtype=bool)
    on_edge = np.zeros(len(px), dtype=bool)
    for (ax, ay), (bx, by) in zip(ring[:-1].tolist(), ring[1:].tolist()):
        cross = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        on_edge |= ((cross == 0) & (px >= min(ax, bx)) & (px <= max(ax, bx))
                    & (py >= min(ay, by)) & (py <= max(ay, by)))
        straddle = (ay > py) != (by > py)
        # the edge meets the horizontal through p east of p
        inside ^= straddle & (cross != 0) & ((cross > 0) == (by > ay))
    return inside & ~on_edge


def merc_ring(lonlat: np.ndarray) -> np.ndarray:
    """lon/lat degrees -> int Mercator, the reference's rounding (ties
    away from zero) and latitude clamp."""
    def rnd(v):
        return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)).astype(np.int64)
    x = rnd(MAP_WIDTH * lonlat[:, 0] / 360.0)
    lat = np.clip(lonlat[:, 1], -85.0511288, 85.0511287)
    y = rnd(np.log(np.tan((lat + 90.0) * np.pi / 360.0)) * (MAP_WIDTH / 2.0 / np.pi))
    return np.stack([x, np.clip(y, -(2**31), 2**31 - 2)], axis=1)
