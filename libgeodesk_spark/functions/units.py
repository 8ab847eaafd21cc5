"""Length-unit conversion — the reference's LengthUnit surface
(include/geodesk/geom/LengthUnit.h:16-41, src/geom/LengthUnit.cpp:11-36,
alias table LengthUnit_attr.txt): meters/kilometers/feet/yards/miles
with the reference's EXACT conversion constants, so `length("mi")`-style
API calls produce bit-identical numbers to the C++ engine.

Scalar helpers for driver-side math plus Column variants for
DataFrame expressions (`meters_col_to_unit(way_length_m(ring), "mi")`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: unit index by every accepted alias (LengthUnit_attr.txt)
UNIT_INDEX = {
    "meters": 0, "m": 0,
    "kilometers": 1, "km": 1,
    "feet": 2, "ft": 2,
    "yards": 3, "yd": 3,
    "miles": 4, "mi": 4,
}

VALID_UNITS = ("meters (m), kilometers (km), feet (ft), yards (yd) "
               "or miles (mi)")

#: the reference's exact factors (LengthUnit.cpp:20-35) — NOT re-derived,
#: so converted values match the C++ engine bit-for-bit
METERS_TO_UNIT = (1.0, 0.001, 3.28084, 1.093613, 0.0006213711922373339)
UNITS_TO_METERS = tuple(1.0 / f for f in METERS_TO_UNIT)


def unit_from_string(unit: str) -> int:
    """Alias → unit index; raises ValueError listing VALID_UNITS
    (unitFromString returns -1; the API layer turns that into the
    valid-units message)."""
    idx = UNIT_INDEX.get(unit.strip().lower())
    if idx is None:
        raise ValueError(f"unknown unit {unit!r}; use {VALID_UNITS}")
    return idx


def meters_to_unit(meters: float, unit: str) -> float:
    return meters * METERS_TO_UNIT[unit_from_string(unit)]


def unit_to_meters(value: float, unit: str) -> float:
    return value * UNITS_TO_METERS[unit_from_string(unit)]


def meters_col_to_unit(col: Column, unit: str) -> Column:
    """Column variant: meters expression → requested unit."""
    return col * F.lit(METERS_TO_UNIT[unit_from_string(unit)])

