"""CRS transform tests: round-trip identity, known fixtures, and
planar-distance consistency with haversine."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trackintel_spark.geogr import check_planar, transform_points, transform_xy
from trackintel_spark.functions.spatial import haversine_m
from tests.conftest import requires_reference


def _pts(spark, rows):
    return spark.createDataFrame(rows, "id long, lon double, lat double").select(
        "id", F.struct("lon", "lat").alias("geom")
    )


EUROPE = [(0, 8.5417, 47.3769), (1, 7.4474, 46.9480), (2, 13.4050, 52.5200), (3, 2.3522, 48.8566)]


def test_check_planar():
    assert not check_planar(None, 4326)
    assert not check_planar(None, None)
    assert check_planar(None, 3857)
    assert check_planar(None, 32632)
    assert check_planar(None, 21781)
    assert check_planar(None, 2056)


@pytest.mark.parametrize("epsg", [3857, 32632, 32732, 21781, 2056])
def test_roundtrip_wgs84(spark, epsg):
    pts = _pts(spark, EUROPE)
    if epsg in (32632, 32732):
        # UTM series accuracy holds inside the zone (6E-12E for zone 32);
        # Zurich, Bern, Milan, Munich — resp. southern in-zone points
        pts = _pts(spark, [(0, 8.5417, 47.3769), (1, 7.4474, 46.9480),
                           (2, 9.19, 45.4642), (3, 11.5820, 48.1351)])
    if epsg == 32732:
        pts = _pts(spark, [(0, 8.5, -33.9189), (1, 9.6, -34.2)])
    if epsg in (21781, 2056):
        # the swisstopo polynomials are only valid inside Switzerland:
        # Zurich, Bern, Geneva, Lugano
        pts = _pts(spark, [(0, 8.5417, 47.3769), (1, 7.4474, 46.9480),
                           (2, 6.1432, 46.2044), (3, 8.9511, 46.0037)])
    there = transform_points(pts, 4326, epsg)
    back = transform_points(there, epsg, 4326)
    joined = pts.alias("a").join(back.alias("b"), on="id").select(
        F.abs(F.col("a.geom.lon") - F.col("b.geom.lon")).alias("dlon"),
        F.abs(F.col("a.geom.lat") - F.col("b.geom.lat")).alias("dlat"),
    ).agg(F.max("dlon").alias("mlon"), F.max("dlat").alias("mlat")).first()
    tol = 1e-4 if epsg in (21781, 2056) else 1e-8  # LV03/LV95 formulas are approximate
    assert joined.mlon < tol and joined.mlat < tol


def test_utm_central_meridian_fixture(spark):
    # zone 32 central meridian is 9E: easting == 500000 exactly, and the
    # equator maps to northing 0
    df = _pts(spark, [(0, 9.0, 47.0), (1, 9.0, 0.0)])
    utm = transform_points(df, 4326, 32632)
    rows = {r.id: r.geom for r in utm.collect()}
    assert abs(rows[0]["lon"] - 500000.0) < 1e-6
    assert abs(rows[1]["lat"]) < 1e-6
    # one degree of latitude along the central meridian is ~110.6 km
    # (scaled by k0=0.9996)
    d = transform_points(_pts(spark, [(0, 9.0, 47.0), (1, 9.0, 48.0)]), 4326, 32632)
    ys = sorted(r.geom["lat"] for r in d.collect())
    assert 110_000 < (ys[1] - ys[0]) < 112_000


def test_ch1903_bern_fixture(spark):
    # swisstopo reference point: LV03 (600000, 200000) is Bern,
    # lon 7.438632, lat 46.951082
    df = spark.createDataFrame([(0, 600000.0, 200000.0)], "id long, e double, n double").select(
        "id", F.struct(F.col("e").alias("lon"), F.col("n").alias("lat")).alias("geom")
    )
    wgs = transform_points(df, 21781, 4326)
    g = wgs.first().geom
    assert abs(g["lon"] - 7.438632) < 1e-4
    assert abs(g["lat"] - 46.951082) < 1e-4


def test_lv95_bern_fixture(spark):
    # LV95 = LV03 + (2'000'000, 1'000'000): the Bern reference point is
    # E 2600000, N 1200000 (swisstopo)
    df = spark.createDataFrame([(0, 2600000.0, 1200000.0)], "id long, e double, n double").select(
        "id", F.struct(F.col("e").alias("lon"), F.col("n").alias("lat")).alias("geom")
    )
    g = transform_points(df, 2056, 4326).first().geom
    assert abs(g["lon"] - 7.438632) < 1e-4
    assert abs(g["lat"] - 46.951082) < 1e-4
    # LV03 <-> LV95 round-trip via WGS84 shifts by the false-origin
    # offset, within the ~1 m accuracy of the approximate polynomials
    lv03 = spark.createDataFrame([(0, 600000.0, 200000.0)], "id long, e double, n double").select(
        "id", F.struct(F.col("e").alias("lon"), F.col("n").alias("lat")).alias("geom")
    )
    lv95 = transform_points(lv03, 21781, 2056).first().geom
    assert abs(lv95["lon"] - 2600000.0) < 1.5 and abs(lv95["lat"] - 1200000.0) < 1.5


def test_projected_distance_matches_haversine(spark):
    # two points ~1.2 km apart near Zurich: UTM planar distance should
    # match the great-circle distance within ~0.1%
    df = spark.createDataFrame(
        [(8.5417, 47.3769, 8.5417, 47.3879)], "lon1 double, lat1 double, lon2 double, lat2 double"
    )
    x1, y1 = transform_xy(F.col("lon1"), F.col("lat1"), 4326, 32632)
    x2, y2 = transform_xy(F.col("lon2"), F.col("lat2"), 4326, 32632)
    row = df.select(
        F.sqrt(F.pow(x1 - x2, 2) + F.pow(y1 - y2, 2)).alias("planar"),
        haversine_m(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("gc"),
    ).first()
    assert abs(row.planar - row.gc) / row.gc < 1e-3


def test_unknown_crs_raises(spark):
    # 54030 (Robinson, a compromise world projection) has no built-in
    # transform; TM/LCC/AEA/PS/LAEA/OST/Mollweide/Krovak/EQC families all do now
    df = _pts(spark, EUROPE)
    with pytest.raises(NotImplementedError, match="pyproj"):
        transform_points(df, 4326, 54030).collect()


def test_distance_matrix_euclidean_on_projected(spark):
    # project to UTM, then the planar distance matrix agrees with the
    # haversine matrix computed in WGS84 (within series accuracy)
    from trackintel_spark.geogr import calculate_distance_matrix

    pts = _pts(spark, [(0, 8.5417, 47.3769), (1, 8.56, 47.39), (2, 8.60, 47.42)])
    hav = {(r.i, r.j): r.dist_m for r in calculate_distance_matrix(pts).collect()}
    utm = transform_points(pts, 4326, 32632)
    eu = {(r.i, r.j): r.dist_m for r in calculate_distance_matrix(utm, metric="euclidean").collect()}
    assert set(hav) == set(eu)
    for k in hav:
        assert abs(hav[k] - eu[k]) / hav[k] < 2e-3


@requires_reference("geolife/geolife_staypoints.csv", "area/tsinghua.geojson")
def test_spatial_filter_tsinghua_arcgis_golden(spark):
    """Reference geogr/test_filter.py: 13 geolife staypoints fall within
    the Tsinghua campus polygon (ArcGIS-verified). The polygon ships in
    EPSG:32649 (UTM 49N) — reproject the staypoints with the engine's
    UTM transform and filter in projected space, like the reference's
    re_project=True path."""
    import json

    from trackintel_spark.geogr import spatial_filter
    from trackintel_spark.sources import read_staypoints_csv

    sp = read_staypoints_csv(
        spark, "/root/reference/tests/data/geolife/geolife_staypoints.csv", sep=","
    )
    sp_utm = transform_points(sp, 4326, 32649)

    ring = json.load(open("/root/reference/tests/data/area/tsinghua.geojson"))[
        "features"
    ][0]["geometry"]["coordinates"][0]
    areas = spark.createDataFrame(
        [(0, [(float(x), float(y)) for x, y in ring])],
        "area_id long, polygon array<struct<lon double, lat double>>",
    )
    within = spatial_filter(sp_utm, areas, method="within")
    assert within.count() == 13
    intersects = spatial_filter(sp_utm, areas, method="intersects")
    assert intersects.count() == 13  # points: within == intersects


@requires_reference("geolife/geolife_triplegs.csv", "area/tsinghua.geojson")
def test_spatial_filter_triplegs_arcgis_golden(spark):
    """Reference geogr/test_filter.py tripleg goldens (ArcGIS-verified):
    within=9, intersects=20, crosses=intersects-within=11 — exercising
    linestring reprojection + the segment-crossing predicates."""
    import json

    from trackintel_spark.geogr import spatial_filter
    from trackintel_spark.sources import read_triplegs_csv

    tpls = read_triplegs_csv(
        spark, "/root/reference/tests/data/geolife/geolife_triplegs.csv", sep=","
    )
    tpls_utm = transform_points(tpls, 4326, 32649)
    ring = json.load(open("/root/reference/tests/data/area/tsinghua.geojson"))[
        "features"
    ][0]["geometry"]["coordinates"][0]
    areas = spark.createDataFrame(
        [(0, [(float(x), float(y)) for x, y in ring])],
        "area_id long, polygon array<struct<lon double, lat double>>",
    )
    assert spatial_filter(tpls_utm, areas, method="within").count() == 9
    assert spatial_filter(tpls_utm, areas, method="intersects").count() == 20
    assert spatial_filter(tpls_utm, areas, method="crosses").count() == 11


@requires_reference("geolife/geolife_staypoints.csv", "area/tsinghua.geojson")
def test_spatial_filter_locations_arcgis_golden(spark):
    """Reference chain: geolife staypoints -> generate_locations(eps=10,
    num_samples=1, dataset-level) -> filter location centers by the
    Tsinghua polygon. ArcGIS-verified: 12 within; intersects == within."""
    import json

    from pyspark.sql import functions as F

    from trackintel_spark.geogr import spatial_filter
    from trackintel_spark.operators import generate_locations
    from trackintel_spark.sources import read_staypoints_csv

    sp = read_staypoints_csv(
        spark, "/root/reference/tests/data/geolife/geolife_staypoints.csv", sep=","
    )
    _, locs = generate_locations(
        sp, method="dbscan", epsilon=10, num_samples=1, agg_level="dataset"
    )
    pts = locs.select("id", F.col("center").alias("geom"))
    pts_utm = transform_points(pts, 4326, 32649)
    ring = json.load(open("/root/reference/tests/data/area/tsinghua.geojson"))[
        "features"
    ][0]["geometry"]["coordinates"][0]
    areas = spark.createDataFrame(
        [(0, [(float(x), float(y)) for x, y in ring])],
        "area_id long, polygon array<struct<lon double, lat double>>",
    )
    assert spatial_filter(pts_utm, areas, method="within").count() == 12
    assert spatial_filter(pts_utm, areas, method="intersects").count() == 12


def test_spatial_filter_points_never_cross(spark):
    pts = _pts(spark, EUROPE)
    areas = spark.createDataFrame(
        [(0, [(0.0, 40.0), (20.0, 40.0), (20.0, 55.0), (0.0, 55.0)])],
        "area_id long, polygon array<struct<lon double, lat double>>",
    )
    from trackintel_spark.geogr import spatial_filter

    assert spatial_filter(pts, areas, method="crosses").count() == 0


def test_distance_matrix_sklearn_metric_passthrough(spark):
    """Planar metric passthrough parity (reference geogr/distances.py:
    144-153 hands any metric string to sklearn.pairwise_distances):
    cityblock/chebyshev/minkowski(p) checked against numpy closed forms
    on projected coordinates."""
    import numpy as np

    from trackintel_spark.geogr import calculate_distance_matrix

    rng = np.random.RandomState(11)
    xy = rng.uniform(0, 1000, size=(8, 2))
    pts = spark.createDataFrame(
        [(i, {"lon": float(x), "lat": float(y)}) for i, (x, y) in enumerate(xy)],
        "id long, geom struct<lon:double,lat:double>",
    )

    def expected(fn):
        return {
            (i, j): fn(xy[i], xy[j]) for i in range(len(xy)) for j in range(i + 1, len(xy))
        }

    cases = {
        "cityblock": lambda a, b: float(np.abs(a - b).sum()),
        "manhattan": lambda a, b: float(np.abs(a - b).sum()),
        "chebyshev": lambda a, b: float(np.abs(a - b).max()),
        "euclidean": lambda a, b: float(np.linalg.norm(a - b)),
    }
    for metric, fn in cases.items():
        got = {(r.i, r.j): r.dist_m for r in calculate_distance_matrix(pts, metric=metric).collect()}
        exp = expected(fn)
        assert got.keys() == exp.keys()
        assert all(abs(got[k] - exp[k]) < 1e-9 for k in exp), metric
    for p in (1.0, 2.0, 3.5):
        got = {(r.i, r.j): r.dist_m for r in calculate_distance_matrix(pts, metric="minkowski", p=p).collect()}
        exp = expected(lambda a, b: float((np.abs(a - b) ** p).sum() ** (1.0 / p)))
        assert all(abs(got[k] - exp[k]) < 1e-9 for k in exp), p


def test_distance_matrix_metric_threshold_and_errors(spark):
    import pytest as _pytest

    from trackintel_spark.geogr import calculate_distance_matrix

    pts = spark.createDataFrame(
        [(0, {"lon": 0.0, "lat": 0.0}), (1, {"lon": 3.0, "lat": 4.0}), (2, {"lon": 100.0, "lat": 0.0})],
        "id long, geom struct<lon:double,lat:double>",
    )
    got = {(r.i, r.j): r.dist_m for r in calculate_distance_matrix(pts, metric="chebyshev", dist_threshold=10.0).collect()}
    assert got == {(0, 1): 4.0}
    with _pytest.raises(ValueError, match="metric must be"):
        calculate_distance_matrix(pts, metric="cosine")
    with _pytest.raises(ValueError, match="minkowski order"):
        calculate_distance_matrix(pts, metric="minkowski", p=0.5)


def test_pyproj_hook_roundtrip_non_builtin_epsg(spark):
    """Conditional: exercises the arbitrary-EPSG pyproj Arrow-UDF hook
    (geogr/crs.py:_pyproj_transform) with a CRS none of the built-in
    exact transforms cover (EPSG:6933, EASE-Grid 2.0 Global — a
    cylindrical equal-area, in no grid registry; 5070 stopped
    qualifying when the AEA family landed), so the hook can't rot
    unnoticed wherever pyproj IS installed."""
    import pytest as _pytest

    _pytest.importorskip("pyproj")
    from trackintel_spark.geogr.crs import _get_grid, transform_xy

    assert _get_grid(6933) is None  # must still route to the hook

    df = spark.createDataFrame([(0, 2.3522, 48.8566)], "id long, lon double, lat double")
    x, y = transform_xy(F.col("lon"), F.col("lat"), 4326, 6933)
    ease = df.select("id", x.alias("e"), y.alias("n"))
    lon2, lat2 = transform_xy(F.col("e"), F.col("n"), 6933, 4326)
    back = ease.select(lon2.alias("lon"), lat2.alias("lat")).collect()[0]
    assert abs(back.lon - 2.3522) < 1e-6 and abs(back.lat - 48.8566) < 1e-6


def test_generic_tm_matches_utm_specialization(spark):
    """The generic parameterized transverse Mercator with WGS84/UTM
    parameters must reproduce the specialized (golden-tested) UTM code
    to sub-micrometer — this pins the generalized series."""
    from trackintel_spark.geogr.crs import TMGrid, tm_forward, tm_inverse, utm_to_wgs84, wgs84_to_utm

    g = TMGrid(6378137.0, 1 / 298.257223563, lat0=0.0, lon0=9.0, k0=0.9996,
               false_easting=500_000.0, false_northing=0.0)
    pts = spark.createDataFrame(
        [(0, 8.5417, 47.3769), (1, 7.4474, 46.9480), (2, 10.0, 54.5), (3, 6.1, 40.1)],
        "id long, lon double, lat double",
    )
    gx, gy = tm_forward(F.col("lon"), F.col("lat"), g)
    ux, uy = wgs84_to_utm(F.col("lon"), F.col("lat"), 32)  # zone 32: lon0=9
    fwd = pts.select((gx - ux).alias("dx"), (gy - uy).alias("dy")).collect()
    for r in fwd:
        assert abs(r.dx) < 1e-6 and abs(r.dy) < 1e-6
    grid = pts.select("id", gx.alias("e"), gy.alias("n"))
    glon, glat = tm_inverse(F.col("e"), F.col("n"), g)
    ulon, ulat = utm_to_wgs84(F.col("e"), F.col("n"), 32)
    inv = grid.select((glon - ulon).alias("dlo"), (glat - ulat).alias("dla")).collect()
    for r in inv:
        assert abs(r.dlo) < 1e-12 and abs(r.dla) < 1e-12


def test_osgb_projection_golden(spark):
    """Ordnance Survey worked example ('A guide to coordinate systems
    in Great Britain'): OSGB36 geodetic 52°39'27.2531\"N 1°43'4.5177\"E
    projects to National Grid E 651409.903, N 313177.270 — projection
    only (both sides on the Airy 1830 datum, no Helmert)."""
    from trackintel_spark.geogr.crs import TM_GRIDS, tm_forward, tm_inverse

    g = TM_GRIDS[27700]
    lat = 52 + 39 / 60 + 27.2531 / 3600
    lon = 1 + 43 / 60 + 4.5177 / 3600
    df = spark.createDataFrame([(lon, lat)], "lon double, lat double")
    e, n = tm_forward(F.col("lon"), F.col("lat"), g)
    got = df.select(e.alias("e"), n.alias("n")).collect()[0]
    assert abs(got.e - 651409.903) < 0.02
    assert abs(got.n - 313177.270) < 0.02
    back = (
        df.select(e.alias("e"), n.alias("n"))
        .select(*(c.alias(nm) for c, nm in zip(tm_inverse(F.col("e"), F.col("n"), g), ("lon", "lat"))))
        .collect()[0]
    )
    # inverse-series truncation 3.7 deg from the central meridian is
    # ~2e-8 deg (~2 mm) — the honest tolerance for the Snyder inverse
    assert abs(back.lon - lon) < 1e-7 and abs(back.lat - lat) < 1e-7


def test_national_grids_roundtrip_and_sanity(spark):
    """EPSG:27700 (British National Grid) and EPSG:31468 (Gauss-Krüger
    zone 4) through transform_points (the STAGED datum-bridge path —
    the one-expression composition of TM + Helmert blows up the
    Catalyst tree; see crs._transform_stages): WGS84 round-trips to
    centimeter-equivalent precision, and known-city coordinates land
    where the published grids put them."""
    from trackintel_spark.geogr.crs import transform_points

    # London (Trafalgar Square-ish): BNG ~ (530000, 180400)
    df = spark.createDataFrame(
        [(0, {"lon": -0.1276, "lat": 51.5072})], "id long, geom struct<lon:double,lat:double>"
    )
    bng = transform_points(df, 4326, 27700)
    got = bng.select(F.col("geom.lon").alias("e"), F.col("geom.lat").alias("n")).collect()[0]
    assert abs(got.e - 530_000) < 1_000 and abs(got.n - 180_400) < 1_000
    back = transform_points(bng, 27700, 4326).select("geom.lon", "geom.lat").collect()[0]
    assert abs(back.lon - -0.1276) < 1e-7 and abs(back.lat - 51.5072) < 1e-7

    # a point ON the zone-4 central meridian (lon 12°E): easting must sit
    # within the datum shift (~100 m) of the 4_500_000 false easting,
    # northing near the Bessel meridian arc for 48.1°N
    df2 = spark.createDataFrame(
        [(0, {"lon": 12.0, "lat": 48.1374})], "id long, geom struct<lon:double,lat:double>"
    )
    gk = transform_points(df2, 4326, 31468)
    got2 = gk.select(F.col("geom.lon").alias("e"), F.col("geom.lat").alias("n")).collect()[0]
    assert abs(got2.e - 4_500_000) < 500
    assert 5_200_000 < got2.n < 5_430_000
    back2 = transform_points(gk, 31468, 4326).select("geom.lon", "geom.lat").collect()[0]
    # negating the linearized Helmert inverts only to first order; the
    # second-order r x t term for DHDN's large rz (-2.455" x ~600 m)
    # is ~8 mm — the honest round-trip floor for this datum
    assert abs(back2.lon - 12.0) < 2e-7 and abs(back2.lat - 48.1374) < 2e-7

    # linestring geometry through the same staged bridge: per-vertex
    # round-trip with order preserved
    tpl = spark.createDataFrame(
        [(0, [{"lon": -0.1276, "lat": 51.5072}, {"lon": -0.2, "lat": 51.6}])],
        "id long, geom array<struct<lon:double,lat:double>>",
    )
    rt = transform_points(transform_points(tpl, 4326, 27700), 27700, 4326).collect()[0]
    assert len(rt.geom) == 2
    assert abs(rt.geom[0]["lon"] - -0.1276) < 1e-7 and abs(rt.geom[1]["lat"] - 51.6) < 1e-7


def test_grs80_tm_grids_roundtrip_and_sanity(spark):
    """SWEREF99 TM (EPSG:3006) and NZTM2000 (EPSG:2193) — GRS80-based
    frames (no Helmert bridge): round-trip to series precision, and
    city coordinates land where the published grids put them."""
    from trackintel_spark.geogr.crs import transform_points

    # Stockholm (18.07 E, 59.33 N): SWEREF99 TM ~ (674000, 6580000)
    df = spark.createDataFrame(
        [(0, {"lon": 18.0686, "lat": 59.3293})], "id long, geom struct<lon:double,lat:double>"
    )
    sw = transform_points(df, 4326, 3006)
    got = sw.select(F.col("geom.lon").alias("e"), F.col("geom.lat").alias("n")).collect()[0]
    assert abs(got.e - 674_000) < 2_000 and abs(got.n - 6_580_000) < 3_000
    back = transform_points(sw, 3006, 4326).select("geom.lon", "geom.lat").collect()[0]
    assert abs(back.lon - 18.0686) < 1e-7 and abs(back.lat - 59.3293) < 1e-7

    # Wellington (174.78 E, -41.29 S): NZTM ~ (1749000, 5428000)
    df2 = spark.createDataFrame(
        [(0, {"lon": 174.7772, "lat": -41.2889})], "id long, geom struct<lon:double,lat:double>"
    )
    nz = transform_points(df2, 4326, 2193)
    got2 = nz.select(F.col("geom.lon").alias("e"), F.col("geom.lat").alias("n")).collect()[0]
    assert abs(got2.e - 1_749_000) < 3_000 and abs(got2.n - 5_428_000) < 3_000
    back2 = transform_points(nz, 2193, 4326).select("geom.lon", "geom.lat").collect()[0]
    assert abs(back2.lon - 174.7772) < 1e-7 and abs(back2.lat - -41.2889) < 1e-7


def test_mixed_bridged_unknown_pair_routes_to_pyproj_dispatch(spark):
    """A datum-bridged TM grid paired with a non-built-in EPSG must not
    raise from inside the stage lambdas (which would bypass the pyproj
    fallback): _transform_stages declines the pair, transform_points
    routes it through transform_xy, and the error (pyproj absent here)
    is the 'needs pyproj' dispatch message — with pyproj installed the
    same path transforms via the Arrow UDF."""
    from trackintel_spark.geogr.crs import _transform_stages

    assert _transform_stages(27700, 54030) is None
    assert _transform_stages(54030, 27700) is None
    df = _pts(spark, [(0, 400000.0, 200000.0)])
    with pytest.raises(NotImplementedError, match="needs pyproj"):
        transform_points(df, 27700, 54030).collect()
    with pytest.raises(NotImplementedError, match="needs pyproj"):
        transform_points(df, 54030, 27700).collect()


def test_transform_xy_warns_on_datum_bridged_grid(spark):
    # the one-expression composition blows up Catalyst for Helmert-bridged
    # grids; the public transform_xy must say so and point at
    # transform_points (which stages the identical math)
    with pytest.warns(RuntimeWarning, match="transform_points"):
        transform_xy(F.lit(-1.5), F.lit(52.0), 4326, 27700)


def test_staged_linestring_preserves_null_and_empty_geometry(spark):
    """The staged (datum-bridged) array path rebuilds linestrings via
    posexplode_outer + collect_list; a NULL source array must come back
    NULL (not []) and an empty array must stay empty — matching the
    non-staged F.transform path's NULL semantics."""
    gt = "array<struct<lon:double,lat:double>>"
    df = (
        spark.range(1)
        .select(
            F.lit(0).alias("id"),
            F.expr(
                "array(named_struct('lon', -1.5d, 'lat', 52.0d),"
                " named_struct('lon', -1.49d, 'lat', 52.01d))"
            ).cast(gt).alias("geom"),
        )
        .unionByName(
            spark.range(1).select(
                F.lit(1).alias("id"), F.expr(f"cast(null as {gt})").alias("geom")
            )
        )
        .unionByName(
            spark.range(1).select(
                F.lit(2).alias("id"), F.expr(f"cast(array() as {gt})").alias("geom")
            )
        )
    )
    out = transform_points(df, 4326, 27700)
    rows = {r.id: r.geom for r in out.collect()}
    assert rows[1] is None
    assert rows[2] == []
    assert len(rows[0]) == 2
    # BNG easting/northing for (-1.5, 52.0) is around (434400, 233600)
    assert abs(rows[0][0].lon - 434_400) < 5_000
    assert abs(rows[0][0].lat - 233_600) < 5_000


def test_lcc_snyder_worked_example(spark):
    """Snyder (USGS PP 1395) §15 numerical example, p.296: Clarke 1866,
    standard parallels 33/45N, origin (23N, 96W); the point (35N, 75W)
    maps to x=1894410.9, y=1564649.5 — pins the ellipsoidal LCC
    forward/inverse Column expressions to the published values."""
    import math as _m

    from trackintel_spark.geogr.crs import LCCGrid, LCC_GRIDS, register_lcc_grid

    clarke_f = 1 - _m.sqrt(1 - 0.00676866)  # Snyder uses e2=0.00676866
    register_lcc_grid(
        900914,
        LCCGrid(6378206.4, clarke_f, lat0=23.0, lon0=-96.0, lat1=33.0, lat2=45.0,
                false_easting=0.0, false_northing=0.0),
    )
    try:
        df = _pts(spark, [(0, -75.0, 35.0)])
        got = transform_points(df, 4326, 900914).first().geom
        assert abs(got["lon"] - 1894410.9) < 0.5
        assert abs(got["lat"] - 1564649.5) < 0.5
        back = transform_points(
            transform_points(df, 4326, 900914), 900914, 4326
        ).first().geom
        assert abs(back["lon"] - -75.0) < 1e-9 and abs(back["lat"] - 35.0) < 1e-9
    finally:
        LCC_GRIDS.pop(900914, None)


def test_lambert93_false_origin_and_paris(spark):
    """EPSG:2154 (RGF93 / Lambert-93): the projection origin
    (3E, 46.5N) maps EXACTLY to the false origin (700000, 6600000);
    Paris lands at its published Lambert-93 coordinates ~(652470,
    6862040); round-trip is series-exact."""
    df = _pts(spark, [(0, 3.0, 46.5), (1, 2.3522, 48.8566)])
    l93 = transform_points(df, 4326, 2154)
    rows = {r.id: r.geom for r in l93.collect()}
    assert abs(rows[0]["lon"] - 700_000.0) < 1e-6
    assert abs(rows[0]["lat"] - 6_600_000.0) < 1e-6
    assert abs(rows[1]["lon"] - 652_470) < 200
    assert abs(rows[1]["lat"] - 6_862_040) < 200
    back = transform_points(l93, 2154, 4326)
    for a, b in zip(df.collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-9
        assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-9
    assert check_planar(None, 2154)


@pytest.mark.parametrize("epsg,lon,lat", [
    (3347, -91.8667, 63.390675),   # StatCan Lambert origin area
    (26985, -77.0, 39.0),          # NAD83 Maryland
])
def test_lcc_nad83_grids_roundtrip(spark, epsg, lon, lat):
    df = _pts(spark, [(0, lon, lat), (1, lon + 1.0, lat - 0.5)])
    back = transform_points(transform_points(df, 4326, epsg), epsg, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-9
        assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-9


def test_belgian_lambert72_datum_bridged(spark):
    """EPSG:31370 (Belgian Lambert 72, BD72 datum on International 1924):
    the STAGED Helmert-bridged LCC path. Brussels (4.3517E, 50.8466N)
    lands near its published Lambert-72 coordinates ~(148870, 170960);
    round-trip through the double Helmert is ~1e-7 deg."""
    df = _pts(spark, [(0, 4.3517, 50.8466), (1, 5.5797, 50.6326)])  # Brussels, Liège
    l72 = transform_points(df, 4326, 31370)
    rows = {r.id: r.geom for r in l72.collect()}
    assert abs(rows[0]["lon"] - 148_870) < 3_000
    assert abs(rows[0]["lat"] - 170_960) < 3_000
    back = transform_points(l72, 31370, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-7
        assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-7


def test_lcc_to_tm_cross_grid(spark):
    """A France->UK pair (2154 -> 27700) chains LCC inverse + Helmert
    bridge + TM forward through the staged path; verify by going the
    long way round (2154 -> 4326 -> 27700)."""
    df = _pts(spark, [(0, 2.3522, 48.8566)])
    l93 = transform_points(df, 4326, 2154)
    direct = transform_points(l93, 2154, 27700).first().geom
    via = transform_points(transform_points(l93, 2154, 4326), 4326, 27700).first().geom
    assert abs(direct["lon"] - via["lon"]) < 1e-6
    assert abs(direct["lat"] - via["lat"]) < 1e-6


def test_aea_snyder_worked_example(spark):
    """Snyder (USGS PP 1395) §14 numerical example, p.292: Clarke 1866,
    standard parallels 29.5/45.5N, origin (23N, 96W); the point
    (35N, 75W) maps to x=1885472.7, y=1535925.0 — pins the ellipsoidal
    Albers Equal-Area forward/inverse Column expressions to the
    published values."""
    import math as _m

    from trackintel_spark.geogr.crs import AEAGrid, AEA_GRIDS, register_aea_grid

    clarke_f = 1 - _m.sqrt(1 - 0.00676866)  # Snyder uses e2=0.00676866
    register_aea_grid(
        900915,
        AEAGrid(6378206.4, clarke_f, lat0=23.0, lon0=-96.0, lat1=29.5, lat2=45.5,
                false_easting=0.0, false_northing=0.0),
    )
    try:
        df = _pts(spark, [(0, -75.0, 35.0)])
        got = transform_points(df, 4326, 900915).first().geom
        assert abs(got["lon"] - 1885472.7) < 0.5
        assert abs(got["lat"] - 1535925.0) < 0.5
        back = transform_points(
            transform_points(df, 4326, 900915), 900915, 4326
        ).first().geom
        assert abs(back["lon"] - -75.0) < 1e-7 and abs(back["lat"] - 35.0) < 1e-7
    finally:
        AEA_GRIDS.pop(900915, None)


def test_ps_snyder_worked_example(spark):
    """Snyder §21 numerical example, p.315: International 1924 ellipsoid,
    south aspect, standard parallel 71S, lon0=-100E; the point
    (75S, 150E) maps to x=-1540033.6, y=-560526.4."""
    from trackintel_spark.geogr.crs import PSGrid, PS_GRIDS, register_ps_grid

    register_ps_grid(
        900916,
        PSGrid(6378388.0, 1 / 297.0, north=False, lon0=-100.0,
               false_easting=0.0, false_northing=0.0, lat_ts=-71.0),
    )
    try:
        df = _pts(spark, [(0, 150.0, -75.0)])
        got = transform_points(df, 4326, 900916).first().geom
        assert abs(got["lon"] - -1540033.6) < 0.5
        assert abs(got["lat"] - -560526.4) < 0.5
        back = transform_points(
            transform_points(df, 4326, 900916), 900916, 4326
        ).first().geom
        assert abs(back["lon"] - 150.0) < 1e-7 and abs(back["lat"] - -75.0) < 1e-7
    finally:
        PS_GRIDS.pop(900916, None)


def test_conus_albers_equal_area_property(spark):
    """EPSG:5070 (NAD83 / Conus Albers): the projection origin maps to
    (0,0); the numerical Jacobian of the forward map equals the true
    ellipsoidal area element (area scale == 1 — the DEFINING property
    of an equal-area projection, catching any formula error); k == 1
    along the standard parallels; round-trip is series-exact."""
    import math as _m

    from trackintel_spark.geogr.crs import AEA_GRIDS

    g = AEA_GRIDS[5070]
    df = _pts(spark, [(0, -96.0, 23.0), (1, -100.0, 40.0), (2, -75.0, 35.0)])
    alb = transform_points(df, 4326, 5070)
    rows = {r.id: r.geom for r in alb.collect()}
    assert abs(rows[0]["lon"]) < 1e-6 and abs(rows[0]["lat"]) < 1e-6

    # area-scale check via a small finite-difference Jacobian at (-100, 40)
    h = 1e-5
    probe = _pts(spark, [(0, -100.0, 40.0), (1, -100.0 + h, 40.0), (2, -100.0, 40.0 + h)])
    p = {r.id: r.geom for r in transform_points(probe, 4326, 5070).collect()}
    jac = abs(
        (p[1]["lon"] - p[0]["lon"]) * (p[2]["lat"] - p[0]["lat"])
        - (p[2]["lon"] - p[0]["lon"]) * (p[1]["lat"] - p[0]["lat"])
    ) / _m.radians(h) ** 2
    s = _m.sin(_m.radians(40.0))
    m_rad = g.a * (1 - g.e2) / (1 - g.e2 * s * s) ** 1.5
    n_rad = g.a / _m.sqrt(1 - g.e2 * s * s)
    assert abs(jac / (m_rad * n_rad * _m.cos(_m.radians(40.0))) - 1.0) < 1e-6

    back = transform_points(alb, 5070, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-7
        assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-7


@pytest.mark.parametrize("epsg,lon,lat", [
    (3310, -120.0, 37.0),   # California Albers
    (3577, 133.5, -24.0),   # Australian Albers (southern cone, n < 0)
])
def test_aea_grids_roundtrip(spark, epsg, lon, lat):
    df = _pts(spark, [(0, lon, lat), (1, lon + 2.0, lat - 1.5)])
    back = transform_points(transform_points(df, 4326, epsg), epsg, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-7
        assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-7


def test_nsidc_polar_stereographic(spark):
    """EPSG:3413 (NSIDC Sea Ice North) and 3031 (Antarctic): the pole
    maps to the false origin, scale is 1 at the standard parallel
    (conformal k via finite difference along the meridian), and the
    round-trip is closed-form exact."""
    import math as _m

    from trackintel_spark.geogr.crs import PS_GRIDS

    for epsg, pole_lat, lat_ts in ((3413, 90.0, 70.0), (3031, -90.0, -71.0)):
        g = PS_GRIDS[epsg]
        pole = transform_points(_pts(spark, [(0, g.lon0, pole_lat)]), 4326, epsg).first().geom
        assert abs(pole["lon"]) < 1e-6 and abs(pole["lat"]) < 1e-6

        h = 1e-5
        probe = _pts(spark, [(0, 10.0, lat_ts), (1, 10.0, lat_ts + h)])
        p = {r.id: r.geom for r in transform_points(probe, 4326, epsg).collect()}
        dist = _m.hypot(p[1]["lon"] - p[0]["lon"], p[1]["lat"] - p[0]["lat"])
        s = _m.sin(_m.radians(lat_ts))
        m_rad = g.a * (1 - g.e2) / (1 - g.e2 * s * s) ** 1.5
        assert abs(dist / (m_rad * _m.radians(h)) - 1.0) < 1e-6  # k(lat_ts) == 1

        df = _pts(spark, [(0, -145.0, 60.0 if epsg == 3413 else -60.0),
                          (1, 10.0, 75.0 if epsg == 3413 else -75.0)])
        back = transform_points(transform_points(df, 4326, epsg), epsg, 4326)
        for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
            assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-8
            assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-8


def test_ups_variant_a(spark):
    """EPSG:32661/32761 (UPS, variant A: k0=0.994 at the pole): pole ->
    (2000000, 2000000); round-trip exact; k at the pole == 0.994
    (finite difference across the pole along the 0-meridian plane)."""
    for epsg, pole_lat in ((32661, 90.0), (32761, -90.0)):
        pole = transform_points(_pts(spark, [(0, 0.0, pole_lat)]), 4326, epsg).first().geom
        assert abs(pole["lon"] - 2_000_000.0) < 1e-6
        assert abs(pole["lat"] - 2_000_000.0) < 1e-6
        df = _pts(spark, [(0, 30.0, pole_lat * 0.9), (1, -120.0, pole_lat * 0.87)])
        back = transform_points(transform_points(df, 4326, epsg), epsg, 4326)
        for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
            assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-8
            assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-8


def test_aea_to_ps_cross_grid(spark):
    """An Albers->polar-stereographic pair (5070 -> 3413) chains AEA
    inverse + PS forward through the staged path; verify by going the
    long way round (5070 -> 4326 -> 3413)."""
    df = _pts(spark, [(0, -100.0, 48.0)])
    alb = transform_points(df, 4326, 5070)
    direct = transform_points(alb, 5070, 3413).first().geom
    via = transform_points(transform_points(alb, 5070, 4326), 4326, 3413).first().geom
    assert abs(direct["lon"] - via["lon"]) < 1e-6
    assert abs(direct["lat"] - via["lat"]) < 1e-6


def test_laea_snyder_worked_example(spark):
    """Snyder §24 ellipsoidal numerical example, p.358: Clarke 1866,
    projection center (40N, 100W); the point (30N, 110W) maps to
    x=-965932.1, y=-1056814.9 — pins the oblique Lambert Azimuthal
    Equal-Area forward/inverse Column expressions."""
    import math as _m

    from trackintel_spark.geogr.crs import LAEAGrid, LAEA_GRIDS, register_laea_grid

    clarke_f = 1 - _m.sqrt(1 - 0.00676866)
    register_laea_grid(
        900917,
        LAEAGrid(6378206.4, clarke_f, lat0=40.0, lon0=-100.0,
                 false_easting=0.0, false_northing=0.0),
    )
    try:
        df = _pts(spark, [(0, -110.0, 30.0)])
        got = transform_points(df, 4326, 900917).first().geom
        assert abs(got["lon"] - -965932.1) < 0.5
        assert abs(got["lat"] - -1056814.9) < 0.5
        back = transform_points(
            transform_points(df, 4326, 900917), 900917, 4326
        ).first().geom
        assert abs(back["lon"] - -110.0) < 1e-7 and abs(back["lat"] - 30.0) < 1e-7
    finally:
        LAEA_GRIDS.pop(900917, None)


def test_etrs89_laea_europe(spark):
    """EPSG:3035 (ETRS89-extended / LAEA Europe, the EU statistical
    grid): the projection center (10E, 52N) maps EXACTLY to the false
    origin (4321000, 3210000); the area scale is 1 (equal-area Jacobian
    property); round-trip is series-exact across the grid's extent."""
    import math as _m

    from trackintel_spark.geogr.crs import LAEA_GRIDS

    g = LAEA_GRIDS[3035]
    df = _pts(spark, [(0, 10.0, 52.0), (1, 4.35, 50.85), (2, 25.0, 60.0), (3, -9.1, 38.7)])
    laea = transform_points(df, 4326, 3035)
    rows = {r.id: r.geom for r in laea.collect()}
    assert abs(rows[0]["lon"] - 4_321_000.0) < 1e-6
    assert abs(rows[0]["lat"] - 3_210_000.0) < 1e-6

    h = 1e-5
    probe = _pts(spark, [(0, 15.0, 48.0), (1, 15.0 + h, 48.0), (2, 15.0, 48.0 + h)])
    p = {r.id: r.geom for r in transform_points(probe, 4326, 3035).collect()}
    jac = abs(
        (p[1]["lon"] - p[0]["lon"]) * (p[2]["lat"] - p[0]["lat"])
        - (p[2]["lon"] - p[0]["lon"]) * (p[1]["lat"] - p[0]["lat"])
    ) / _m.radians(h) ** 2
    s = _m.sin(_m.radians(48.0))
    m_rad = g.a * (1 - g.e2) / (1 - g.e2 * s * s) ** 1.5
    n_rad = g.a / _m.sqrt(1 - g.e2 * s * s)
    assert abs(jac / (m_rad * n_rad * _m.cos(_m.radians(48.0))) - 1.0) < 1e-6

    back = transform_points(laea, 3035, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-8
        assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-8


@pytest.mark.parametrize("epsg", [2163, 9311])
def test_us_national_atlas_sphere_laea(spark, epsg):
    """EPSG:2163/9311 (US National Atlas, LAEA on the Clarke-1866
    authalic SPHERE — the e2 == 0 degradation path): center maps to
    (0,0), round-trip is float-exact."""
    df = _pts(spark, [(0, -100.0, 45.0), (1, -75.0, 35.0), (2, -122.3, 47.6)])
    out = transform_points(df, 4326, epsg)
    rows = {r.id: r.geom for r in out.collect()}
    assert abs(rows[0]["lon"]) < 1e-6 and abs(rows[0]["lat"]) < 1e-6
    back = transform_points(out, epsg, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-9
        assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-9


def test_oblique_stereographic_epsg_worked_example(spark):
    """EPSG Guidance Note 7-2 §3.2.6.1 worked example for method 9809
    (Amersfoort / RD New parameters, on the grid's OWN datum): the
    point (53N, 6E) maps to E=196105.283, N=557057.739 — pins the
    conformal-sphere forward and the staged iterative inverse."""
    from trackintel_spark.geogr.crs import OST_GRIDS, OSTGrid, register_ost_grid

    rd = OST_GRIDS[28992]
    # same projection, no datum bridge: the worked example's lat/lon are
    # Amersfoort-datum coordinates
    register_ost_grid(
        900918,
        OSTGrid(rd.a, rd.f, lat0=rd.lat0, lon0=rd.lon0, k0=rd.k0,
                false_easting=rd.false_easting, false_northing=rd.false_northing),
    )
    try:
        df = _pts(spark, [(0, 6.0, 53.0), (1, rd.lon0, rd.lat0)])
        rows = {r.id: r.geom for r in transform_points(df, 4326, 900918).collect()}
        assert abs(rows[0]["lon"] - 196105.283) < 0.01
        assert abs(rows[0]["lat"] - 557057.739) < 0.01
        # the origin maps exactly to the false origin
        assert abs(rows[1]["lon"] - 155000.0) < 1e-6
        assert abs(rows[1]["lat"] - 463000.0) < 1e-6
        back = transform_points(
            transform_points(df, 4326, 900918), 900918, 4326
        )
        for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
            assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-9
            assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-9
    finally:
        OST_GRIDS.pop(900918, None)


def test_rd_new_datum_bridged(spark):
    """EPSG:28992 (Amersfoort / RD New): the full staged chain — OST
    iterative inverse + Helmert bridge. Amsterdam lands near its
    published RD coordinates (~121850, 487250); round-trip through the
    double Helmert is ~1e-7 deg (same envelope as the Belgian grid);
    conformality holds (meridian scale == parallel scale)."""
    import math as _m

    from trackintel_spark.geogr.crs import OST_GRIDS

    g = OST_GRIDS[28992]
    df = _pts(spark, [(0, 4.9, 52.37), (1, 5.12, 52.09), (2, 6.57, 53.22)])
    rd = transform_points(df, 4326, 28992)
    rows = {r.id: r.geom for r in rd.collect()}
    assert abs(rows[0]["lon"] - 121_850) < 3_000
    assert abs(rows[0]["lat"] - 487_250) < 3_000
    back = transform_points(rd, 28992, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-6
        assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-6

    # conformality via finite differences at Utrecht
    h = 1e-6
    probe = _pts(spark, [(0, 5.12, 52.09), (1, 5.12 + h, 52.09), (2, 5.12, 52.09 + h)])
    p = {r.id: r.geom for r in transform_points(probe, 4326, 28992).collect()}
    k_par = _m.hypot(p[1]["lon"] - p[0]["lon"], p[1]["lat"] - p[0]["lat"])
    k_mer = _m.hypot(p[2]["lon"] - p[0]["lon"], p[2]["lat"] - p[0]["lat"])
    s = _m.sin(_m.radians(52.09))
    m_rad = g.a * (1 - g.e2) / (1 - g.e2 * s * s) ** 1.5
    n_rad = g.a / _m.sqrt(1 - g.e2 * s * s)
    k_par /= n_rad * _m.cos(_m.radians(52.09)) * _m.radians(h)
    k_mer /= m_rad * _m.radians(h)
    assert abs(k_par / k_mer - 1.0) < 1e-4


def test_mollweide_world_grid(spark):
    """ESRI:54009 (World Mollweide): exact anchor points — origin ->
    (0,0), poles -> (0, ±√2·R), the date-line equator point -> x =
    2√2·R; equal-area Jacobian == R²cosφ on the sphere; round-trip is
    float-exact INCLUDING near-pole latitudes (the staged Newton with
    the cube-root pole seed)."""
    import math as _m

    R = 6378137.0
    df = _pts(spark, [(0, 0.0, 0.0), (1, 0.0, 90.0), (2, 180.0, 0.0),
                      (3, 10.0, 52.0), (4, 7.0, 89.9), (5, -120.0, -35.0)])
    m = transform_points(df, 4326, 54009)
    rows = {r.id: r.geom for r in m.collect()}
    assert abs(rows[0]["lon"]) < 1e-9 and abs(rows[0]["lat"]) < 1e-9
    assert abs(rows[1]["lon"]) < 1e-9
    assert abs(rows[1]["lat"] - _m.sqrt(2) * R) < 1e-4
    assert abs(rows[2]["lon"] - 2 * _m.sqrt(2) * R) < 1e-3

    h = 1e-6
    probe = _pts(spark, [(0, 10.0, 52.0), (1, 10.0 + h, 52.0), (2, 10.0, 52.0 + h)])
    p = {r.id: r.geom for r in transform_points(probe, 4326, 54009).collect()}
    jac = abs(
        (p[1]["lon"] - p[0]["lon"]) * (p[2]["lat"] - p[0]["lat"])
        - (p[2]["lon"] - p[0]["lon"]) * (p[1]["lat"] - p[0]["lat"])
    ) / _m.radians(h) ** 2
    assert abs(jac / (R * R * _m.cos(_m.radians(52.0))) - 1.0) < 1e-6

    back = transform_points(m, 54009, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        if abs(a.geom["lat"]) == 90.0:
            assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-9  # lon undefined
        elif a.geom["lon"] == 180.0:
            assert abs(b.geom["lon"] - -180.0) < 1e-9  # wrap convention
        else:
            assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-9
            assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-9


def test_krovak_epsg_worked_example(spark):
    """EPSG Guidance Note 7-2 §3.2.8 worked example for method 9819
    (S-JTSK / Krovak, on the grid's OWN Bessel datum): the point
    50°12'32.4416"N 16°50'59.1790"E (Greenwich) maps to
    southing X=1050538.63, westing Y=568991.00 — pins the oblique
    conformal conic forward and the staged iterative inverse, plus the
    EPSG 1041 east-north axis flip of CRS 5514."""
    from trackintel_spark.geogr.crs import KROVAK_GRIDS, KrovakGrid, register_krovak_grid

    base = KROVAK_GRIDS[5513]
    # same projection, no datum bridge: the worked example's lat/lon
    # are S-JTSK (Bessel) datum coordinates
    for code, east_north in ((900951, False), (900952, True)):
        register_krovak_grid(
            code,
            KrovakGrid(base.a, base.f, lat_c=base.lat_c, lon0=base.lon0,
                       alpha_c=base.alpha_c, lat_p=base.lat_p, k_p=base.k_p,
                       false_easting=0.0, false_northing=0.0,
                       east_north=east_north),
        )
    try:
        lon = 16 + 50 / 60 + 59.1790 / 3600
        lat = 50 + 12 / 60 + 32.4416 / 3600
        df = _pts(spark, [(0, lon, lat)])
        r = transform_points(df, 4326, 900951).first().geom
        assert abs(r["lon"] - 1050538.63) < 0.02  # southing
        assert abs(r["lat"] - 568991.00) < 0.02  # westing
        r2 = transform_points(df, 4326, 900952).first().geom
        assert abs(r2["lon"] - -568991.00) < 0.02  # easting = -westing
        assert abs(r2["lat"] - -1050538.63) < 0.02  # northing = -southing
        # staged iterative inverse round-trips both axis conventions
        for code in (900951, 900952):
            fwd = transform_points(df, 4326, code)
            back = transform_points(fwd, code, 4326).first().geom
            assert abs(back["lon"] - lon) < 1e-9
            assert abs(back["lat"] - lat) < 1e-9
    finally:
        KROVAK_GRIDS.pop(900951, None)
        KROVAK_GRIDS.pop(900952, None)


def test_krovak_5514_datum_bridged(spark):
    """EPSG:5514 (S-JTSK / Krovak East North): the full staged chain —
    Krovak iterative inverse + S-JTSK Helmert bridge. Prague lands near
    its published coordinates (~ -742800, -1043000); round-trip through
    the double Helmert stays ~1e-7 deg; conformality holds."""
    import math as _m

    from trackintel_spark.geogr.crs import KROVAK_GRIDS

    g = KROVAK_GRIDS[5514]
    df = _pts(spark, [(0, 14.4208, 50.0880), (1, 17.1077, 48.1486), (2, 18.0, 49.0)])
    kv = transform_points(df, 4326, 5514)
    rows = {r.id: r.geom for r in kv.collect()}
    # Prague centre, published S-JTSK coordinates
    assert abs(rows[0]["lon"] - -742_800) < 3_000
    assert abs(rows[0]["lat"] - -1_043_000) < 3_000
    # whole-country coordinates stay in the S-JTSK quadrant (both axes
    # negative, |X| < |Y|) — the east-north convention is the right way up
    for r in rows.values():
        assert r["lon"] < 0 and r["lat"] < 0 and abs(r["lon"]) < abs(r["lat"])
    # Prague-Bratislava planar distance matches the great circle within
    # Krovak's distortion envelope (<= ~2e-4 across the country, sphere
    # vs ellipsoid adds ~1e-3)
    d_plane = _m.hypot(rows[1]["lon"] - rows[0]["lon"], rows[1]["lat"] - rows[0]["lat"])
    d_gc = 2 * 6371000.0 * _m.asin(_m.sqrt(
        _m.sin(_m.radians((48.1486 - 50.0880) / 2)) ** 2
        + _m.cos(_m.radians(50.0880)) * _m.cos(_m.radians(48.1486))
        * _m.sin(_m.radians((17.1077 - 14.4208) / 2)) ** 2
    ))
    assert abs(d_plane / d_gc - 1.0) < 5e-3
    back = transform_points(kv, 5514, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-6
        assert abs(a.geom["lat"] - b.geom["lat"]) < 1e-6

    # conformality via finite differences at Brno
    h = 1e-6
    probe = _pts(spark, [(0, 16.61, 49.195), (1, 16.61 + h, 49.195), (2, 16.61, 49.195 + h)])
    p = {r.id: r.geom for r in transform_points(probe, 4326, 5514).collect()}
    k_par = _m.hypot(p[1]["lon"] - p[0]["lon"], p[1]["lat"] - p[0]["lat"])
    k_mer = _m.hypot(p[2]["lon"] - p[0]["lon"], p[2]["lat"] - p[0]["lat"])
    s = _m.sin(_m.radians(49.195))
    m_rad = g.a * (1 - g.e2) / (1 - g.e2 * s * s) ** 1.5
    n_rad = g.a / _m.sqrt(1 - g.e2 * s * s)
    k_par /= n_rad * _m.cos(_m.radians(49.195)) * _m.radians(h)
    k_mer /= m_rad * _m.radians(h)
    assert abs(k_par / k_mer - 1.0) < 1e-4


def test_equidistant_cylindrical_world(spark):
    """EPSG:4087 (WGS84 World Equidistant Cylindrical, method 1028):
    x is exactly linear in longitude (equator circumference / 360 per
    degree), y is the ellipsoidal meridian arc (so NOT linear in
    latitude — 45N sits ~0.1% south of the spherical midpoint); the
    meridian-arc inversion round-trips to 1e-9 deg."""
    import math as _m

    from trackintel_spark.geogr.crs import EQC_GRIDS

    g = EQC_GRIDS[4087]
    df = _pts(spark, [(0, 0.0, 0.0), (1, 180.0, 0.0), (2, 0.0, 45.0), (3, -73.0, -33.5)])
    m = transform_points(df, 4326, 4087)
    rows = {r.id: r.geom for r in m.collect()}
    assert abs(rows[0]["lon"]) < 1e-9 and abs(rows[0]["lat"]) < 1e-9
    # equator: pi * a at 180 deg, exactly
    assert abs(rows[1]["lon"] - _m.pi * g.a) < 1e-6
    # meridian arc to 45N: the published WGS84 value is 4984944.4 m —
    # ~16 km SHORT of half the quarter-meridian (10001965.729 / 2),
    # which is the whole point of using the arc, not a linear scale
    assert abs(rows[2]["lat"] - 4_984_944.4) < 1.0
    back = transform_points(m, 4087, 4326)
    for a, b in zip(df.orderBy("id").collect(), back.orderBy("id").collect()):
        assert abs(a.geom["lon"] - b.geom["lon"]) < 1e-9
        # the rectifying series truncates at sin(8 mu): ~2e-9 deg (0.2 mm)
        assert abs(a.geom["lat"] - b.geom["lat"]) < 5e-9


def test_mollweide_composed_matches_staged(spark):
    """transform_xy (composed moll_forward) and transform_points (the
    staged Newton) must agree bit-for-bit away from the pole seed —
    they now share the same _MOLL_ITERS iteration count (a 5-vs-7 step
    divergence previously let the two public paths return slightly
    different coordinates for identical input)."""
    from pyspark.sql import functions as F

    from trackintel_spark.geogr.crs import transform_xy

    pts = [(0, 0.0, 0.0), (1, 10.0, 52.0), (2, -120.0, -35.0),
           (3, 7.0, 89.0), (4, 179.0, 66.5), (5, 33.0, -89.5)]
    df = _pts(spark, pts)
    staged = {r.id: r.geom for r in transform_points(df, 4326, 54009).collect()}
    xy = transform_xy(F.col("geom.lon"), F.col("geom.lat"), 4326, 54009)
    composed = {
        r.id: (r.x, r.y)
        for r in df.select("id", xy[0].alias("x"), xy[1].alias("y")).collect()
    }
    for i in composed:
        assert composed[i][0] == staged[i]["lon"], i
        assert composed[i][1] == staged[i]["lat"], i
