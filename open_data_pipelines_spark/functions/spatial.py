"""Planar-coordinate spatial expressions (SURVEY.md §2.9 X8-X10, §4).

The reference stores geometry as WKT strings in BNG (British National
Grid — planar, meters) and uses DuckDB-spatial's ST_* functions:
``ST_GeomFromText`` / ``ST_Centroid`` / ``ST_X`` / ``ST_Y``
(``dbt .../stg_emergency_works_by_authority.sql:24-38``) and
``ST_Buffer(point, 500)`` + ``ST_Contains`` + ``ST_Distance``
(``:29-35``, ``int_emergency_works_postcodes_by_authority.sql:31,38``).

On a planar CRS those reduce to arithmetic:
``ST_Contains(ST_Buffer(p, r), q)  ≡  dist(p, q) <= r``, so the whole
spatial layer is pure Column expressions — no geo library, no UDF, and
Catalyst can push/codegen everything. Distance comparisons use squared
distance (exact for integer/exact inputs; no sqrt rounding).

WKT POINT/LINESTRING parsing is regexp-based; geometry *construction*
uses format strings (``cadent_underground.py:244-276`` does the same
with shapely, row-at-a-time).
"""

from __future__ import annotations

from pyspark.sql import Column

from .exprmemo import memo_column
from pyspark.sql import functions as F

# exponent support matters because wkt_point renders via cast-to-
# string, which Spark formats as scientific notation for |x| >= 1e7
# (or < 1e-3) — without it the module's own parsers returned NULL on
# round-trips of large planar coordinates (round-9 review find). The
# DuckDB oracle mirrors keep the plain form: the harness WKT never
# carries exponents, so cross-engine parity is unaffected.
_NUM = r"[-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?"


def wkt_point(x: Column, y: Column) -> Column:
    """Construct ``POINT (x y)`` (X10: "lat,lon" -> WKT analog)."""
    return F.format_string("POINT (%s %s)", x.cast("string"), y.cast("string"))


@memo_column
def wkt_point_x(wkt: Column | str) -> Column:
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    return F.regexp_extract(c, rf"POINT \(({_NUM}) ", 1).try_cast("double")


@memo_column
def wkt_point_y(wkt: Column | str) -> Column:
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    return F.regexp_extract(c, rf"POINT \({_NUM} ({_NUM})\)", 1).try_cast("double")


@memo_column
def wkt_coords(wkt: Column | str) -> Column:
    """All numeric tokens of a WKT geometry as array<string> —
    [x1, y1, x2, y2, ...]. Feed to centroid/extent aggregates."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    return F.regexp_extract_all(c, F.lit(f"({_NUM})"), 1)


@memo_column
def wkt_xs(wkt: Column | str) -> Column:
    """X coordinates of any WKT geometry (POINT/LINESTRING/POLYGON):
    first number of each non-overlapping "x y" pair."""
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    return F.regexp_extract_all(c, F.lit(rf"({_NUM}) {_NUM}"), 1)


@memo_column
def wkt_ys(wkt: Column | str) -> Column:
    c = F.col(wkt) if isinstance(wkt, str) else wkt
    return F.regexp_extract_all(c, F.lit(rf"{_NUM} ({_NUM})"), 1)


def _mean_of(tokens: Column) -> Column:
    nums = F.transform(tokens, lambda t: t.cast("double"))
    return F.aggregate(nums, F.lit(0.0), lambda a, x: a + x) / F.size(nums)


@memo_column
def linestring_centroid_x(wkt: Column | str) -> Column:
    """ST_X(ST_Centroid(geom)) for point sets / linestring vertices —
    vertex mean on planar coords (X8, ``stg_emergency_works_by_authority
    .sql:24-38`` computes centroids of permit work locations)."""
    return _mean_of(wkt_xs(wkt))


@memo_column
def linestring_centroid_y(wkt: Column | str) -> Column:
    return _mean_of(wkt_ys(wkt))


def squared_distance(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    dx = x1 - x2
    dy = y1 - y2
    return dx * dx + dy * dy


def within_distance(x1: Column, y1: Column, x2: Column, y2: Column, r: float) -> Column:
    """``ST_Contains(ST_Buffer(p1, r), p2)`` on a planar CRS (X9)."""
    return squared_distance(x1, y1, x2, y2) <= F.lit(r * r)
