"""Great-circle / planar geometry as pure Column expressions.

Everything here compiles to whole-stage-codegen'd JVM expressions — no
Python UDFs in the hot path. Reference kernels re-expressed:

* ``haversine_m``  <- trackintel ``point_haversine_dist``
  (geogr/distances.py:15-86): spherical law of cosines form on
  r=6371000, identical formula so results match the reference bit-for-
  bit modulo float associativity.
* ``linestring_length_m`` <- ``calculate_haversine_length``
  (geogr/distances.py:253-277): sum of consecutive-vertex distances,
  expressed with ``zip_with`` + ``aggregate`` over the vertex array —
  zero shuffles.
* ``lon_wrap_centroid`` <- ``angle_centroid_multipoints``
  (preprocessing/util.py:117-143): wrap-safe mean longitude via
  atan2(mean sin, mean cos).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_M = 6371000.0


def point(lon: Column | str, lat: Column | str) -> Column:
    """Build a ``struct<lon,lat>`` point column."""
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    return F.struct(lon.cast("double").alias("lon"), lat.cast("double").alias("lat"))


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters (haversine / asin form).

    Semantics of the reference's point_haversine_dist (geogr/
    distances.py:15-86); the reference computes the spherical
    law-of-cosines form, which is ill-conditioned near zero distance
    (acos near 1 amplifies 1-ulp noise ~1e5x). We use the
    mathematically identical but well-conditioned formula
        2r * asin(sqrt(sin^2(dlat/2) + cos(lat1)cos(lat2)sin^2(dlon/2)))
    so results are stable to the last float digit across engines.
    """
    la1, la2 = F.radians(lat1), F.radians(lat2)
    dlat_h = (la1 - la2) / 2.0
    dlon_h = (F.radians(lon1) - F.radians(lon2)) / 2.0
    s = F.sqrt(F.pow(F.sin(dlat_h), 2) + F.cos(la1) * F.cos(la2) * F.pow(F.sin(dlon_h), 2))
    # NULL-preserving clamp: greatest/least would swallow NULL inputs
    s = F.when(s > 1.0, F.lit(1.0)).otherwise(s)
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(s)


def euclidean_m(x1: Column, y1: Column, x2: Column, y2: Column) -> Column:
    """Planar distance for projected CRS data (check_gdf_planar switch,
    geogr/distances.py:213-250)."""
    return F.sqrt(F.pow(x1 - x2, 2) + F.pow(y1 - y2, 2))


def haversine_point(p1: Column, p2: Column) -> Column:
    """haversine_m over two ``struct<lon,lat>`` columns."""
    return haversine_m(p1["lon"], p1["lat"], p2["lon"], p2["lat"])


def linestring_length_m(vertices: Column) -> Column:
    """Length in meters of an ``array<struct<lon,lat>>`` linestring.

    Reference: calculate_haversine_length (geogr/distances.py:253-277).
    Pure expression: pairwise zip of v[0:n-1] with v[1:n], then fold.
    Returns 0.0 for arrays with <2 vertices.
    """
    n = F.size(vertices)
    pairs = F.zip_with(
        F.slice(vertices, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(vertices, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: haversine_point(a, b),
    )
    return F.aggregate(pairs, F.lit(0.0), lambda acc, d: acc + d)


def lon_wrap_centroid(lon: Column, lat: Column) -> list[Column]:
    """Aggregate expressions for a wrap-safe centroid of points.

    Use inside ``groupBy(...).agg(*lon_wrap_centroid(...))``; yields
    ``centroid_lon`` and ``centroid_lat``. Mirrors
    angle_centroid_multipoints (preprocessing/util.py:117-143): mean of
    longitude angles on the unit circle, plain mean latitude.
    """
    rad = F.radians(lon)
    clon = F.degrees(F.atan2(F.avg(F.sin(rad)), F.avg(F.cos(rad)))).alias("centroid_lon")
    clat = F.avg(lat).alias("centroid_lat")
    return [clon, clat]


def meters_to_decimal_degrees(meters: Column, latitude: Column) -> Column:
    """meters -> degrees of longitude at given latitude
    (geogr/distances.py:188-210: m / (111320 * cos(lat)))."""
    return meters / (F.lit(111.32 * 1000) * F.cos(F.radians(latitude)))
