"""Geometry functions (SURVEY §2.8 F8, §2.10 U2/U3).

The BAG pipeline's geometry payload is a GML posList flattened to a
space-separated coordinate string, bracket-wrapped per ring and comma-joined
across rings ('[x y z …],[x y z …]' — reference bag_parser.py:100-103). The
reference converts it row-at-a-time in Python to GeoJSON-style nested rings
(reference utils.py:172-193). Here the conversion is a Column expression
over higher-order functions — rings as ArrayType(ArrayType(ArrayType(
Double))) natively, stringified only at export.

Scale note: geometry conversion is a map-only projection. The higher-order
lambdas are interpreted (CodegenFallback) — fine for the geometry-enabled
path which the reference itself flags as 'a few minutes more'; the default
pipeline blanks geometry (P10) and never evaluates this.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from bag_parser_spark.functions.rijksdriehoek import (
    rd_to_wgs84_lat,
    rd_to_wgs84_lon,
)


def ring_strings(geometry: Column) -> Column:
    """'[r1],[r2]' → array of 'x y z …' ring bodies."""
    return F.transform(
        F.split(geometry, ","),
        lambda ring: F.regexp_replace(ring, r"^\[|\]$", ""),
    )


def ring_to_points(ring: Column, is_3d: bool) -> Column:
    """'x y [z] x y [z] …' → array<array<double>> of [lon, lat] pairs
    (z dropped, like the reference). An empty ring gives no points:
    ``sequence(0, n)`` cut to its first n indices, since ``sequence(0, -1)``
    counts down to ``[0, -1]``."""
    step = 3 if is_3d else 2
    nums = F.split(F.trim(ring), r"\s+")
    n = (F.size(nums) / step).cast("int")
    idx = F.slice(F.sequence(F.lit(0), n), 1, n)

    def point(i: Column) -> Column:
        x = F.element_at(nums, i * step + 1).cast("double")
        y = F.element_at(nums, i * step + 2).cast("double")
        # GeoJSON order: [lon, lat]
        return F.array(rd_to_wgs84_lon(x, y), rd_to_wgs84_lat(x, y))

    return F.transform(idx, point)


def geometry_to_wgs_rings(geometry: Column, is_3d: bool) -> Column:
    """F8/U2: full geometry string → nested WGS84 rings
    array<array<array<double>>> (reference utils.py:172-193)."""
    return F.transform(ring_strings(geometry), lambda r: ring_to_points(r, is_3d))


def geometry_to_wgs_geojson(geometry: Column, is_3d: bool) -> Column:
    """Rings rendered as a JSON string for SQLite-compat export."""
    return F.to_json(geometry_to_wgs_rings(geometry, is_3d))


def first_pos_of_geometry(geometry: Column) -> Column:
    """U3/P7: first 'x y' pair of '[x y z …]' (reference
    bag_parser.py:137-143 takes text up to the second space). An empty
    geometry gives '' (``F.get`` is NULL past the end, where ``[1]``
    raises under ANSI mode)."""
    stripped = F.regexp_replace(geometry, r"^\[", "")
    parts = F.split(stripped, " ")
    return F.concat_ws(" ", parts[0], F.get(parts, 1))
