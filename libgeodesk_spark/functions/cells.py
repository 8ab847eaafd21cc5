"""Cell/tile assignment as Spark SQL expressions.

The reference's tile math (include/geodesk/geom/Tile.h:47-55,230-231) is
integer shifts and ors, so cell assignment compiles straight into
whole-stage-codegen JVM arithmetic — zero Python in the per-row path, no
shuffle, fully pushdown-friendly. The numpy mirror of the same math lives
in :mod:`libgeodesk_spark.mercator`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from libgeodesk_spark import mercator

MAP_WIDTH = mercator.MAP_WIDTH
PI = 3.14159265358979323846  # M_PI, as the reference uses (Mercator.h:12-14)


# ---------------------------------------------------------------------------
# projection lon/lat -> int32 Mercator x/y (Column; Spark round() is
# HALF_UP = ties away from zero, matching C++ std::round in Mercator.h:40-59)
# ---------------------------------------------------------------------------

def x_from_lon(lon: Column) -> Column:
    return F.round(F.lit(MAP_WIDTH) * lon / F.lit(360.0)).cast("long")


def y_from_lat(lat: Column) -> Column:
    lat = F.greatest(F.lit(mercator.MIN_LAT), F.least(F.lit(mercator.MAX_LAT), lat))
    rad = (lat + F.lit(90.0)) * F.lit(PI) / F.lit(360.0)
    y = F.round(F.log(F.tan(rad)) * F.lit(MAP_WIDTH / 2.0 / PI)).cast("long")
    return F.greatest(F.lit(mercator.MIN_Y), F.least(F.lit(mercator.MAX_Y), y))


def lon_from_x(x: Column) -> Column:
    return x.cast("double") * F.lit(360.0) / F.lit(MAP_WIDTH)


def lat_from_y(y: Column) -> Column:
    return (F.atan(F.exp(y.cast("double") * F.lit(2.0 * PI / MAP_WIDTH)))
            * F.lit(360.0 / PI) - F.lit(90.0))


def scale_at_y(y: Column) -> Column:
    """cosh(y·2π/MAP_WIDTH) via exp (Mercator.h:126-145)."""
    t = y.cast("double") * F.lit(2.0 * PI / MAP_WIDTH)
    return (F.exp(t) + F.exp(-t)) / F.lit(2.0)


def meters_per_unit_at_y(y: Column) -> Column:
    return F.lit(mercator.EARTH_CIRCUMFERENCE / MAP_WIDTH) / scale_at_y(y)


# ---------------------------------------------------------------------------
# tile math (Column; exact integer ops)
# ---------------------------------------------------------------------------

def col_from_x(x: Column, zoom: int) -> Column:
    return F.shiftright(x.cast("long") + F.lit(1 << 31), 32 - zoom)


def row_from_y(y: Column, zoom: int) -> Column:
    return F.shiftright(F.lit(0x7FFFFFFF) - y.cast("long"), 32 - zoom)


def cell_id(x: Column, y: Column, zoom: int = mercator.MAX_ZOOM) -> Column:
    """``zoom<<24 | row<<12 | col`` (Tile.h:230-231) as codegen'd arithmetic
    (row < 2^12 and col < 2^12, so | == +)."""
    return (F.lit(zoom << 24) + F.shiftleft(row_from_y(y, zoom), 12)
            + col_from_x(x, zoom)).alias("cell_id")


def cell_zoomed_out(cell: Column, lower_zoom: int, zoom: int) -> Column:
    """Parent cell at a lower pyramid level (Tile.h:167-173)."""
    delta = zoom - lower_zoom
    row = F.shiftright(cell, 12).bitwiseAND(F.lit(0xFFF))
    col = cell.bitwiseAND(F.lit(0xFFF))
    return (F.lit(lower_zoom << 24) + F.shiftleft(F.shiftright(row, delta), 12)
            + F.shiftright(col, delta))


def vertex_key(x: Column, y: Column) -> Column:
    """Pack (x,y) into one int64 join key — the reference's Coordinate
    int64 cast (Coordinate.h:16-77), used by connectedTo-style joins
    (src/filter/ConnectedFilter.cpp:10-118)."""
    return F.shiftleft(y.cast("long") + F.lit(1 << 31), 32) \
        + (x.cast("long") + F.lit(1 << 31))

