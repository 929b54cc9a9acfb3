"""Shared tau-sized latitude-banded grid for trajectory pruning.

One implementation of the cell geometry used by BOTH sides of the
trajectory similarity operators (`trajectory_similarity_join`,
`streaming.trajmatch`), so the subtle parts — the haversine-consistent
degree constant, per-band cosine scaling, the 1.05 longitude slack,
antimeridian aliasing — can never diverge between the build and probe
sides again (a 111,320 vs 111,194.93 m/deg divergence between the grid
and the metric it bounds was a real review-caught exactness bug; see
tests/test_trajectory_join.py::test_band_boundary_near_threshold_pair_not_dropped).

Geometry: bands of height ``cell_deg`` = tau in latitude degrees under
the haversine sphere (meridian arc is exact: two points within tau
differ by <= cell_deg of latitude, i.e. at most one band). Within a
band, the circle is split into ``n = max(1, floor(360 / w_ideal))``
EQUAL cells of width ``360 / n`` degrees, where ``w_ideal = cell_deg /
cos(equator-near edge)``; flooring keeps every cell's physical width
>= tau, and an integer cell count makes longitude indices EXACTLY
periodic — ``cx`` is taken modulo ``n``, so cells alias across the
antimeridian and a pair straddling ±180° joins like any other
(pinned by tests/test_trajectory_join.py::test_antimeridian_*). The
probe side enumerates dy in {-1, 0, 1} and, per target band, the
longitude cell range an (1.05 x tau)-disk can touch, scaled by the
band's SMALLEST cosine so a true neighbor is never dropped; when that
range covers the whole band (near a pole) it collapses to each cell
exactly once.

``dbscan_distributed`` keeps its own scheme (eps/2 cells, half
neighborhood, fully-covered-cell rule) — different contract.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from trackintel_spark.plans.literals import sql_double

# meters per degree of latitude under the haversine sphere
# (R = 6,371,000 — functions/spatial.py and _pair_cost use the same R)
DEG2M = math.pi / 180.0 * 6_371_000.0


def cell_size_deg(tau_m: float) -> float:
    """Band height in latitude degrees for radius ``tau_m``."""
    if tau_m < 0:
        raise ValueError(f"tau_m must be >= 0, got {tau_m}")
    return max(tau_m, 1.0) / DEG2M


def _band_sql(band: str, deg: str) -> tuple[str, str, str]:
    """SQL for a band's (cell count, cell width in lon degrees, cos of
    its pole-near edge); ``band`` is the band index as a BIGINT SQL
    expression, ``deg`` the band height as a DOUBLE literal. The count
    is integral so the band tiles the circle exactly and indices alias
    modulo the count across ±180°; cosines are clamped away from 0 so
    polar bands divide cleanly. SQL text rather than Column trees: a
    Column costs one py4j call per node, thousands per plan build."""
    eq_edge = f"CAST(greatest({band}, -({band}) - 1) AS DOUBLE) * {deg}"
    cos_eq = f"greatest(cos(radians({eq_edge})), 1.0E-9D)"
    cos_pole = f"greatest(cos(radians(least({eq_edge} + {deg}, 90.0D))), 1.0E-9D)"
    n = f"CAST(greatest(floor(360.0D / ({deg} / {cos_eq})), 1) AS BIGINT)"
    return n, f"(360.0D / CAST({n} AS DOUBLE))", cos_pole


def own_cell(lon: str, lat: str, cell_deg: float) -> tuple[Column, Column]:
    """The (cy, cx) cell of a point — the lean, non-exploded side.
    ``lon``/``lat`` are SQL expressions (column names, say)."""
    deg = sql_double(cell_deg)
    cy = f"CAST(floor(({lat}) / {deg}) AS BIGINT)"
    n, w, _ = _band_sql(cy, deg)
    return F.expr(cy), F.expr(f"pmod(CAST(floor((({lon}) + 180.0D) / {w}) AS BIGINT), {n})")


def probe_cells(lon: str, lat: str, cell_deg: float) -> Column:
    """Every cell the tau-disk around the point can touch, as one
    ``array<struct<cy, cx>>`` — the exploded side of the equi-join.
    ``lon``/``lat`` are SQL expressions (column names, say). Indices
    are wrapped modulo the band's cell count, so probes near ±180°
    alias onto the cells of points on the other side."""
    deg = sql_double(cell_deg)
    n, w, cos_pole = _band_sql("__t", deg)  # per target band __t
    r = f"({sql_double(cell_deg * 1.05)} / {cos_pole})"
    lo = f"CAST(floor((({lon}) + 180.0D - {r}) / {w}) AS BIGINT)"
    hi = f"CAST(floor((({lon}) + 180.0D + {r}) / {w}) AS BIGINT)"
    # full-circle cap: when the disk spans the whole band, emit each
    # cell exactly once; otherwise the consecutive range stays
    # injective under pmod (range length < modulus), no dedup needed
    rng = (
        f"CASE WHEN {hi} - {lo} + 1 >= {n} THEN sequence(CAST(0 AS BIGINT), {n} - 1)"
        f" ELSE transform(sequence({lo}, {hi}), __x -> pmod(__x, {n})) END"
    )
    cy = f"CAST(floor(({lat}) / {deg}) AS BIGINT)"
    return F.expr(
        f"flatten(transform(array({cy} - 1, {cy}, {cy} + 1),"
        f" __t -> transform({rng}, __x -> named_struct('cy', __t, 'cx', __x))))"
    )
