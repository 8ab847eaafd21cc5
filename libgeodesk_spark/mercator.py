"""Integer pseudo-Mercator projection and quadtree tile math.

Semantics reproduced from the reference engine (clarisma/libgeodesk):

* The planet is projected onto a square plane 2^32 units wide, fully using
  the signed int32 range ("imp" units) — reference
  include/geodesk/geom/Mercator.h:16-59.
* ``x_from_lon``  = round(MAP_WIDTH * lon / 360)            (Mercator.h:40-43)
* ``y_from_lat``  = round(log(tan((lat+90)·π/360)) · MAP_WIDTH/2π)
                                                            (Mercator.h:55-59)
* latitude is clamped to ±85.0511287/8°                     (Mercator.h:31-36)
* meters↔units scale(y) = cosh(y·2π/MAP_WIDTH)              (Mercator.h:126-145)
* tile numbering: ``tile = zoom<<24 | row<<12 | col`` with
  ``col = (x + 2^31) >> (32 - zoom)``,
  ``row = (0x7fffffff - y) >> (32 - zoom)``                 (Tile.h:47-55,230-231)
* zoom pyramid default levels 0,2,4,6,8,10,12               (ZoomLevels.h DEFAULT)

Everything here is pure integer / float64 math with *no* Spark dependency;
the same functions serve as the numpy test oracle and as the driver-side
planning kernel. All heavy use in the distributed engine goes through the
equivalent Spark ``Column`` expressions in
:mod:`libgeodesk_spark.functions.cells` (JVM-side, whole-stage codegen).
"""

from __future__ import annotations

import math

import numpy as np

MAP_WIDTH = 4294967294.9999
EARTH_CIRCUMFERENCE = 40075016.68558
MIN_LAT = -85.0511288
MAX_LAT = 85.0511287
MIN_Y = -(2**31)
MAX_Y = 2**31 - 2

MAX_ZOOM = 12


def round_half_away(v: float) -> int:
    """C++ ``std::round`` semantics: ties away from zero (NOT banker's —
    Python round()/np.rint round ties to even, which would diverge from the
    reference at exact .5 values)."""
    return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))


def np_round_half_away(v: np.ndarray) -> np.ndarray:
    v = np.asarray(v, dtype=np.float64)
    return np.where(v >= 0, np.floor(v + 0.5), np.ceil(v - 0.5)).astype(np.int64)


# ---------------------------------------------------------------------------
# scalar projection (float64; identical formulas to numpy versions below)
# ---------------------------------------------------------------------------

def x_from_lon(lon: float) -> int:
    return round_half_away(MAP_WIDTH * lon / 360.0)


def y_from_lat(lat: float) -> int:
    lat = min(max(lat, MIN_LAT), MAX_LAT)
    y = round_half_away(math.log(math.tan((lat + 90.0) * math.pi / 360.0))
                        * (MAP_WIDTH / 2.0 / math.pi))
    return min(max(y, MIN_Y), MAX_Y)   # int32 range per Mercator.h:35-36


def lon_from_x(x: float) -> float:
    return x * 360.0 / MAP_WIDTH


def lat_from_y(y: float) -> float:
    return math.atan(math.exp(y * math.pi * 2.0 / MAP_WIDTH)) * 360.0 / math.pi - 90.0


def scale_at_y(y: float) -> float:
    """Mercator distortion factor; 1 at the equator (Mercator.h:126-145)."""
    return math.cosh(y * 2.0 * math.pi / MAP_WIDTH)


def meters_per_unit_at_y(y: float) -> float:
    return EARTH_CIRCUMFERENCE / MAP_WIDTH / scale_at_y(y)


def units_from_meters(meters: float, at_y: float) -> float:
    """Distance in meters → Mercator units at latitude of ``at_y``
    (Mercator.h:169-172; used by the radius pre-window,
    PointDistanceFilter.cpp:16-22)."""
    return meters * MAP_WIDTH / EARTH_CIRCUMFERENCE * scale_at_y(at_y)


# ---------------------------------------------------------------------------
# vectorized projection (numpy)
# ---------------------------------------------------------------------------

def np_x_from_lon(lon: np.ndarray) -> np.ndarray:
    return np_round_half_away(MAP_WIDTH * np.asarray(lon, dtype=np.float64) / 360.0)


def np_y_from_lat(lat: np.ndarray) -> np.ndarray:
    lat = np.clip(np.asarray(lat, dtype=np.float64), MIN_LAT, MAX_LAT)
    y = np_round_half_away(np.log(np.tan((lat + 90.0) * np.pi / 360.0))
                           * (MAP_WIDTH / 2.0 / np.pi))
    return np.clip(y, MIN_Y, MAX_Y)   # int32 range per Mercator.h:35-36


def np_lon_from_x(x: np.ndarray) -> np.ndarray:
    return np.asarray(x, dtype=np.float64) * 360.0 / MAP_WIDTH


def np_lat_from_y(y: np.ndarray) -> np.ndarray:
    return (np.arctan(np.exp(np.asarray(y, dtype=np.float64) * np.pi * 2.0 / MAP_WIDTH))
            * 360.0 / np.pi - 90.0)


# ---------------------------------------------------------------------------
# tile / cell math (pure integers; exact)
# ---------------------------------------------------------------------------

def col_from_x(x, zoom: int):
    """Tile column (Tile.h:47-50). Works on scalars and numpy int64 arrays."""
    return (np.asarray(x, dtype=np.int64) + (1 << 31)) >> (32 - zoom)


def row_from_y(y, zoom: int):
    """Tile row (Tile.h:52-55)."""
    return (np.int64(0x7FFFFFFF) - np.asarray(y, dtype=np.int64)) >> (32 - zoom)


def cell_id(x, y, zoom: int):
    """Cell id = ``zoom<<24 | row<<12 | col`` (Tile.h:230-231)."""
    return (np.int64(zoom) << 24) | (row_from_y(y, zoom) << 12) | col_from_x(x, zoom)


def cell_zoom(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> 24) & 0xF


def cell_row(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) >> 12) & 0xFFF


def cell_col(cell) -> np.ndarray:
    return np.asarray(cell, dtype=np.int64) & 0xFFF


def cell_from_col_row(col, row, zoom: int):
    return (np.int64(zoom) << 24) | (np.asarray(row, dtype=np.int64) << 12) \
        | np.asarray(col, dtype=np.int64)


def cell_bounds(cell: int) -> tuple[int, int, int, int]:
    """(min_x, min_y, max_x, max_y) of a cell, inclusive (Tile.h:87-118)."""
    z = int(cell_zoom(cell))
    col = int(cell_col(cell))
    row = int(cell_row(cell))
    extent = 1 << (32 - z)
    min_x = (col << (32 - z)) - (1 << 31)
    max_y = (2**31 - 1) - (row << (32 - z))
    min_y = max_y - extent + 1
    max_x = min_x + extent - 1
    return min_x, min_y, max_x, max_y


def cell_zoomed_out(cell, lower_zoom: int):
    """Parent cell at a lower zoom (Tile.h:167-173)."""
    z = cell_zoom(cell)
    delta = z - np.int64(lower_zoom)
    return (np.int64(lower_zoom) << 24) | ((cell_row(cell) >> delta) << 12) \
        | (cell_col(cell) >> delta)


def cell_neighbor(cell: int, col_delta: int, row_delta: int) -> int:
    """Adjacent tile with wraparound (Tile.h:128-137)."""
    z = int(cell_zoom(cell))
    mask = (1 << z) - 1
    col = (int(cell_col(cell)) + col_delta) & mask
    row = (int(cell_row(cell)) + row_delta) & mask
    return int(cell_from_col_row(col, row, z))


def cells_covering_box(min_x: int, min_y: int, max_x: int, max_y: int,
                       zoom: int = MAX_ZOOM) -> np.ndarray:
    """All cell ids at ``zoom`` whose bounds intersect the (inclusive) box.

    This is the driver-side analog of the reference's TileIndexWalker bbox
    clamp (TileIndexWalker.cpp:191-214): per level the col/row ranges are
    clamped to the query box, yielding the partition-pruning cell cover.
    """
    c0 = int(col_from_x(min_x, zoom))
    c1 = int(col_from_x(max_x, zoom))
    r0 = int(row_from_y(max_y, zoom))   # y grows north, rows grow south
    r1 = int(row_from_y(min_y, zoom))
    cols = np.arange(c0, c1 + 1, dtype=np.int64)
    rows = np.arange(r0, r1 + 1, dtype=np.int64)
    cc, rr = np.meshgrid(cols, rows)
    return cell_from_col_row(cc.ravel(), rr.ravel(), zoom)
