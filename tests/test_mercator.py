"""Unit tests for the integer Mercator projection and tile math.

Expected values are hand-derived from the reference formulas
(include/geodesk/geom/Mercator.h, include/geodesk/geom/Tile.h).
"""

import math

import numpy as np
import pytest

from libgeodesk_spark import mercator as M


def test_x_from_lon_endpoints():
    assert M.x_from_lon(0.0) == 0
    assert M.x_from_lon(180.0) == round(M.MAP_WIDTH / 2)
    assert M.x_from_lon(-180.0) == -round(M.MAP_WIDTH / 2)
    # linear
    assert M.x_from_lon(90.0) == round(M.MAP_WIDTH / 4)


def test_y_from_lat_known_values():
    assert M.y_from_lat(0.0) == 0
    # Mercator y(45°) = ln(tan(67.5°)) * W/2π
    expected = M.round_half_away(
        math.log(math.tan(math.radians(67.5))) * M.MAP_WIDTH / (2 * math.pi))
    assert M.y_from_lat(45.0) == expected
    # clamped at the poles (Mercator.h:31-36)
    assert M.y_from_lat(90.0) == M.y_from_lat(M.MAX_LAT)
    assert M.y_from_lat(-90.0) == M.y_from_lat(M.MIN_LAT)
    # the clamp keeps y within int32
    assert -(2**31) <= M.y_from_lat(-90.0) <= M.y_from_lat(90.0) < 2**31


def test_roundtrip_lon_lat():
    for lon in (-179.9, -12.3456789, 0.0, 8.541694, 179.9):
        x = M.x_from_lon(lon)
        assert abs(M.lon_from_x(x) - lon) < 1e-7
    for lat in (-84.9, -47.1, 0.0, 47.376888, 84.9):
        y = M.y_from_lat(lat)
        assert abs(M.lat_from_y(y) - lat) < 1e-7


def test_np_matches_scalar():
    lons = np.array([-179.9, -1.5, 0.0, 8.5, 47.0, 179.9])
    lats = np.array([-85.3, -45.0, 0.0, 47.3, 85.3, 12.0])
    assert list(M.np_x_from_lon(lons)) == [M.x_from_lon(v) for v in lons]
    assert list(M.np_y_from_lat(lats)) == [M.y_from_lat(v) for v in lats]


def test_round_half_away():
    assert M.round_half_away(0.5) == 1
    assert M.round_half_away(1.5) == 2       # banker's would give 2 too
    assert M.round_half_away(2.5) == 3       # banker's would give 2
    assert M.round_half_away(-0.5) == -1
    assert M.round_half_away(-2.5) == -3
    assert list(M.np_round_half_away(np.array([0.5, 2.5, -0.5, -2.5]))) == [1, 3, -1, -3]


def test_scale_and_units():
    assert M.scale_at_y(0) == pytest.approx(1.0)
    # scale at 60°N ≈ 2 (1/cos60)
    y60 = M.y_from_lat(60.0)
    assert M.scale_at_y(y60) == pytest.approx(2.0, rel=1e-6)
    # one meter at the equator is ~107 units (2^32 / 40_075_017)
    assert M.units_from_meters(1.0, 0) == pytest.approx(2**32 / M.EARTH_CIRCUMFERENCE, rel=1e-9)


# ---------------------------------------------------------------------------
# tile math (Tile.h:47-55,87-118,128-137,167-173,230-231)
# ---------------------------------------------------------------------------

def test_col_row_basics():
    # zoom 0: single tile
    assert int(M.col_from_x(-2**31, 0)) == 0
    assert int(M.col_from_x(2**31 - 1, 0)) == 0
    assert int(M.row_from_y(2**31 - 1, 0)) == 0
    assert int(M.row_from_y(-2**31, 0)) == 0
    # zoom 1: 2x2; x=0 is in the east half, y=0 in the north half (row 0)
    assert int(M.col_from_x(0, 1)) == 1
    assert int(M.col_from_x(-1, 1)) == 0
    assert int(M.row_from_y(0, 1)) == 0
    assert int(M.row_from_y(-1, 1)) == 1


def test_cell_id_layout():
    c = int(M.cell_id(0, 0, 12))
    assert int(M.cell_zoom(c)) == 12
    assert int(M.cell_col(c)) == 2048
    assert int(M.cell_row(c)) == 2047
    assert c == (12 << 24) | (2047 << 12) | 2048


def test_cell_bounds_roundtrip():
    rng = np.random.default_rng(42)
    xs = rng.integers(-2**31, 2**31 - 1, 200)
    ys = rng.integers(-2**31, 2**31 - 1, 200)
    for zoom in (2, 6, 12):
        cells = M.cell_id(xs, ys, zoom)
        for x, y, c in zip(xs, ys, cells):
            mnx, mny, mxx, mxy = M.cell_bounds(int(c))
            assert mnx <= x <= mxx
            assert mny <= y <= mxy
            # bounds are exactly one cell
            assert mxx - mnx + 1 == 1 << (32 - zoom)


def test_zoomed_out_consistent():
    rng = np.random.default_rng(7)
    xs = rng.integers(-2**31, 2**31 - 1, 500)
    ys = rng.integers(-2**31, 2**31 - 1, 500)
    c12 = M.cell_id(xs, ys, 12)
    for lower in (0, 2, 4, 6, 8, 10):
        direct = M.cell_id(xs, ys, lower)
        via = M.cell_zoomed_out(c12, lower)
        assert np.array_equal(direct, via)


def test_neighbor_wraps():
    c = int(M.cell_id(0, 0, 12))
    east = M.cell_neighbor(c, 1, 0)
    assert int(M.cell_col(east)) == int(M.cell_col(c)) + 1
    # wrap at the antimeridian
    last = int(M.cell_from_col_row(4095, 100, 12))
    assert int(M.cell_col(M.cell_neighbor(last, 1, 0))) == 0


def test_cells_covering_box():
    # a box exactly one zoom-12 cell -> cover of 1
    c = int(M.cell_id(123456, 654321, 12))
    mnx, mny, mxx, mxy = M.cell_bounds(c)
    cover = M.cells_covering_box(mnx, mny, mxx, mxy, 12)
    assert list(cover) == [c]
    # crossing a cell border -> 2 cells
    cover2 = M.cells_covering_box(mnx, mny, mxx + 1, mxy, 12)
    assert len(cover2) == 2 and c in set(map(int, cover2))


class TestLengthUnits:
    def test_aliases_and_reference_factors(self):
        """LengthUnit surface: every alias of LengthUnit_attr.txt
        resolves; factors are the reference's EXACT constants
        (LengthUnit.cpp:20-35), not re-derived approximations."""
        import pytest as _pt

        from libgeodesk_spark.functions.units import (
            meters_to_unit, unit_from_string, unit_to_meters)
        for alias, idx in (("m", 0), ("meters", 0), ("KM", 1),
                           ("kilometers", 1), ("ft", 2), ("feet", 2),
                           ("yd", 3), ("yards", 3), ("mi", 4),
                           ("miles", 4)):
            assert unit_from_string(alias) == idx
        assert meters_to_unit(1000.0, "km") == 1.0
        assert meters_to_unit(1.0, "ft") == 3.28084
        assert meters_to_unit(1.0, "yd") == 1.093613
        assert meters_to_unit(1609.344, "mi") == \
            1609.344 * 0.0006213711922373339
        # inverse round-trips through the reference's reciprocal table
        assert unit_to_meters(meters_to_unit(123.456, "mi"), "mi") == \
            _pt.approx(123.456, rel=1e-15)
        with _pt.raises(ValueError, match="miles"):
            unit_from_string("furlongs")

    def test_column_variant(self, spark):
        from pyspark.sql import functions as F

        from libgeodesk_spark.functions.units import meters_col_to_unit
        got = spark.range(1).select(
            meters_col_to_unit(F.lit(1000.0), "km").alias("v")).first()["v"]
        assert got == 1.0
