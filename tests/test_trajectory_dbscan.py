"""DTW/Fréchet trajectory distances + distributed DBSCAN."""

import math

import pytest
from pyspark.sql import functions as F

from trackintel_spark.geogr.trajectory_distance import (
    dtw_distance,
    frechet_distance,
    trajectory_distance_matrix,
)
from trackintel_spark.operators.dbscan_distributed import dbscan_distributed
from trackintel_spark.operators.locations import dbscan_haversine

import numpy as np


def test_dtw_identical_is_zero():
    a = np.array([[8.5, 47.4], [8.51, 47.41], [8.52, 47.42]])
    assert dtw_distance(a, a) == 0.0
    assert frechet_distance(a, a) == 0.0


def test_frechet_parallel_offset():
    # two parallel horizontal 2-point lines offset by 0.01 deg lat
    a = np.array([[8.5, 47.40], [8.6, 47.40]])
    b = np.array([[8.5, 47.41], [8.6, 47.41]])
    d = frechet_distance(a, b)
    expected = 0.01 / 180 * math.pi * 6371000  # ~1112 m
    assert abs(d - expected) < 1.0


def test_trajectory_distance_matrix(spark):
    data = [
        (0, [{"lon": 8.5, "lat": 47.4}, {"lon": 8.6, "lat": 47.4}]),
        (1, [{"lon": 8.5, "lat": 47.41}, {"lon": 8.6, "lat": 47.41}]),
        (2, [{"lon": 9.5, "lat": 48.4}, {"lon": 9.6, "lat": 48.4}]),
    ]
    tpls = spark.createDataFrame(data, "id long, geom array<struct<lon:double,lat:double>>")
    out = {(r.i, r.j): r.dist_m for r in trajectory_distance_matrix(tpls, metric="frechet").collect()}
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert abs(out[(0, 1)] - 1111.95) < 1.0
    assert out[(0, 2)] > 100_000
    dtw = {(r.i, r.j): r.dist_m for r in trajectory_distance_matrix(tpls, metric="dtw").collect()}
    # DTW accumulates per-step costs: 2 steps x ~1112 m
    assert abs(dtw[(0, 1)] - 2 * 1111.95) < 2.0


def test_trajectory_distance_unknown_metric(spark):
    tpls = spark.createDataFrame([(0, [{"lon": 8.5, "lat": 47.4}])], "id long, geom array<struct<lon:double,lat:double>>")
    with pytest.raises(ValueError, match="metric unknown"):
        trajectory_distance_matrix(tpls, metric="euclid")


def test_dbscan_distributed_matches_local(spark):
    # three clusters + noise, spread across grid-cell borders
    import numpy as np

    rng = np.random.RandomState(7)
    pts = []
    centers = [(8.5, 47.4), (8.502, 47.4), (9.0, 48.0)]
    pid = 0
    for cx, cy in centers:
        for _ in range(20):
            pts.append((pid, cx + rng.uniform(-3e-4, 3e-4), cy + rng.uniform(-2e-4, 2e-4)))
            pid += 1
    pts.append((pid, 12.0, 50.0))  # isolated noise (min_samples=2)
    df = spark.createDataFrame(pts, "id long, lon double, lat double")

    out = dbscan_distributed(df, epsilon_m=100, min_samples=2)
    got = {r.id: r.location_id for r in out.collect()}

    # local reference implementation on the same data
    arr = np.array([(p[1], p[2]) for p in pts])
    local = dbscan_haversine(arr[:, 0], arr[:, 1], 100 / 6371000.0, 2)

    # same partition structure: group points by label, compare as sets
    def partition(labels):
        clusters = {}
        for i, l in enumerate(labels):
            if l is None or (isinstance(l, (int, np.integer)) and l == -1):
                continue
            clusters.setdefault(l, set()).add(i)
        return {frozenset(v) for v in clusters.values()}

    assert partition([got[i] for i in range(len(pts))]) == partition(local)
    assert got[pid] is None  # noise


def test_dbscan_distributed_inherits_session_into_threads(spark):
    """The two concurrent checkpoint jobs run in pool threads wrapped
    with the session, so PySpark carries the caller's job tags along
    and does not warn that they are lost."""
    import warnings

    pts = [(i, 8.5 + (i % 5) * 1e-4, 47.4) for i in range(20)]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = dbscan_distributed(df, epsilon_m=150, min_samples=2).collect()
    assert len(out) == len(pts)
    assert not [w for w in caught if "Spark session is not provided" in str(w.message)]


def test_dbscan_distributed_partition_invariance(spark):
    pts = [(i, 8.5 + (i % 5) * 1e-4, 47.4) for i in range(50)]
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    a = {r.id: r.location_id for r in dbscan_distributed(df.repartition(1), epsilon_m=150, min_samples=1).collect()}
    b = {r.id: r.location_id for r in dbscan_distributed(df.repartition(13), epsilon_m=150, min_samples=1).collect()}
    assert a == b


@pytest.mark.slow
def test_dbscan_dense_blob_straddling_cells(spark):
    """A single dense blob whose points straddle grid-cell boundaries
    must cluster without pair-listing (fully-covered-cell rule): 50k
    co-located points would otherwise join 2.5B candidate pairs."""
    from pyspark.sql import functions as F

    from trackintel_spark.operators.dbscan_distributed import dbscan_distributed

    blob = spark.range(50_000).select(
        "id",
        (8.5 + (F.col("id") % 3) * 0.00001).alias("lon"),
        (47.30002 + (F.col("id") % 5) * 0.00001).alias("lat"),
    )
    out = dbscan_distributed(blob, epsilon_m=100, min_samples=5)
    got = out.groupBy("location_id").count().collect()
    assert len(got) == 1 and got[0]["location_id"] == 0 and got[0]["count"] == 50_000


def _dbscan_partition_check(spark, pts, eps_m, min_samples):
    """Compare dbscan_distributed against the O(n^2) local reference as
    label-free partitions (same helper logic as the matches_local test)."""
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    got = {r.id: r.location_id for r in dbscan_distributed(df, epsilon_m=eps_m, min_samples=min_samples).collect()}
    arr = np.array([(p[1], p[2]) for p in pts])
    local = dbscan_haversine(arr[:, 0], arr[:, 1], eps_m / 6371000.0, min_samples)

    def partition(labels):
        clusters = {}
        for i, l in enumerate(labels):
            if l is None or (isinstance(l, (int, np.integer)) and l == -1):
                continue
            clusters.setdefault(l, set()).add(i)
        return {frozenset(v) for v in clusters.values()}

    assert partition([got[i] for i in range(len(pts))]) == partition(local)


@pytest.mark.parametrize(
    "lon0,lat0",
    [
        (116.40, 39.98),  # Beijing: lon*sin(lat)*pi/180 ~ 1.3 -> old scaled-lon warp ~ eps
        (-149.9, 61.2),  # Anchorage: warp factor ~ 2.3
        (8.5, 47.4),  # low-warp control
    ],
)
def test_dbscan_distributed_high_longitude(spark, lon0, lat0):
    """Regression for the scaled-longitude warp bug: at |lon| >> 0 the
    old lon*cos(lat) grid mis-binned points whose lat differs by ~eps
    (error lon*sin(lat)*dlat, ~1.3*eps at Beijing), producing false
    'full' cells and missed neighbors. The banded grid is warp-free;
    results must match the exact O(n^2) reference at any longitude."""
    rng = np.random.RandomState(42)
    deg = 100.0 / 111195.0  # ~eps in lat degrees
    pts = []
    pid = 0
    # two diagonal chains of points ~90 m apart (both dlat and dlon
    # components near eps/sqrt(2): maximal warp exposure), plus noise
    for ox, oy in [(0.0, 0.0), (20 * deg, 0.0)]:
        for k in range(12):
            step = 0.9 * deg / math.sqrt(2)
            lat = lat0 + oy + k * step
            lon = lon0 + ox + k * step / math.cos(math.radians(lat))
            pts.append((pid, lon + rng.uniform(-1e-6, 1e-6), lat + rng.uniform(-1e-6, 1e-6)))
            pid += 1
    for _ in range(8):
        pts.append((pid, lon0 + rng.uniform(-40, 40) * deg, lat0 + rng.uniform(-40, 40) * deg))
        pid += 1
    _dbscan_partition_check(spark, pts, 100.0, 3)


def test_dbscan_distributed_beijing_dense_cell_counts(spark):
    """Dense blob straddling cell borders at Beijing longitude: the
    fully-covered-cell rule must stay exact (4-corner haversine test),
    and min_samples decisions must match the exact reference."""
    rng = np.random.RandomState(3)
    deg = 100.0 / 111195.0
    pts = []
    pid = 0
    for _ in range(120):
        pts.append((116.3 + rng.uniform(-0.7, 0.7) * deg / math.cos(math.radians(39.9)),))
        pts[-1] = (pid, pts[-1][0], 39.9 + rng.uniform(-0.7, 0.7) * deg)
        pid += 1
    # a sparse satellite ring right at the eps boundary
    for a in range(10):
        ang = a / 10 * 2 * math.pi
        lat = 39.9 + 0.98 * deg * math.sin(ang)
        lon = 116.3 + 0.98 * deg * math.cos(ang) / math.cos(math.radians(lat))
        pts.append((pid, lon, lat))
        pid += 1
    _dbscan_partition_check(spark, pts, 100.0, 5)


def test_dbscan_distributed_near_pole(spark):
    """Regression for the polar candidate prune: within ~2 km of a pole
    the prober's own latitude governs the longitude reach, not the
    target band's — tight blobs at lat +-89.99 must cluster with zero
    noise (the band-only bound silently dropped true neighbors)."""
    from trackintel_spark.operators.dbscan_distributed import dbscan_distributed

    pts = spark.createDataFrame(
        [(i, 100.0 + i * 1e-6, 89.99 + (i % 3) * 1e-7) for i in range(20)]
        + [(100 + i, -120.0, -89.99 - (i % 3) * 1e-7) for i in range(20)],
        "id long, lon double, lat double",
    )
    out = dbscan_distributed(pts, epsilon_m=100, min_samples=3).collect()
    assert all(r.location_id is not None for r in out)
    assert len({r.location_id for r in out}) == 2


def _random_trajs(n, seed=0):
    import numpy as np

    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        m = rng.randint(2, 8)
        base_lon, base_lat = float(rng.uniform(8, 9)), float(rng.uniform(47, 48))
        pts = [
            {"lon": base_lon + float(rng.uniform(-0.01, 0.01)),
             "lat": base_lat + float(rng.uniform(-0.01, 0.01))}
            for _ in range(m)
        ]
        rows.append((i, pts))
    return rows


@pytest.mark.parametrize("metric", ["frechet", "dtw"])
def test_trajectory_topk_matches_bruteforce(spark, metric):
    """Two-phase filter-and-refine returns EXACTLY the brute-force
    top-k (the endpoint lower bound is valid, so pruning loses
    nothing)."""
    import numpy as np

    from trackintel_spark.geogr import trajectory_topk
    from trackintel_spark.geogr.trajectory_distance import dtw_distance, frechet_distance

    rows = _random_trajs(40, seed=5)
    tpls = spark.createDataFrame(
        rows, "id long, geom array<struct<lon double, lat double>>"
    )
    query = [(8.5, 47.5), (8.51, 47.51), (8.52, 47.5)]
    fn = {"dtw": dtw_distance, "frechet": frechet_distance}[metric]
    q = np.asarray(query, dtype=float)
    brute = sorted(
        (
            (fn(q, np.asarray([[p["lon"], p["lat"]] for p in pts], dtype=float)), i)
            for i, pts in rows
        )
    )[:7]
    got = trajectory_topk(tpls, query, k=7, metric=metric).collect()
    assert [r["id"] for r in got] == [i for _, i in brute]
    for r, (d, _) in zip(got, brute):
        assert r["dist_m"] == pytest.approx(d, rel=1e-12)
    assert [r["rank"] for r in got] == list(range(1, 8))


def test_trajectory_topk_endpoint_bound_is_valid(spark):
    """LB(endpoints) <= exact distance for both metrics on random
    pairs — the invariant exactness rides on."""
    import numpy as np

    from trackintel_spark.functions.spatial import EARTH_RADIUS_M
    from trackintel_spark.geogr.trajectory_distance import (
        _pair_cost,
        dtw_distance,
        frechet_distance,
    )

    rng = np.random.RandomState(9)
    for _ in range(30):
        a = np.column_stack(
            (rng.uniform(8, 9, rng.randint(2, 6)),)
        )
        a = np.column_stack((rng.uniform(8, 9, len(a)), rng.uniform(47, 48, len(a))))
        b = np.column_stack((rng.uniform(8, 9, 4), rng.uniform(47, 48, 4)))
        d_ss = _pair_cost(a[:1], b[:1])[0, 0]
        d_ee = _pair_cost(a[-1:], b[-1:])[0, 0]
        assert max(d_ss, d_ee) <= frechet_distance(a, b) + 1e-9
        assert d_ss + d_ee <= dtw_distance(a, b) + 1e-9


@pytest.mark.slow
def test_dbscan_border_tie_deviation_is_bounded(spark):
    """Adversarial equidistant border points: a non-core point within
    eps of core points of TWO clusters. sklearn-semantics
    (dbscan_haversine, index-order BFS) gives it to the first-scanned
    cluster; dbscan_distributed gives it to the min-label cluster — a
    DOCUMENTED deviation. This test proves the deviation is BOUNDED:

    (a) cluster COUNT and the noise set always match;
    (b) restricted to CORE points, the partitions are identical;
    (c) any point whose cluster differs is non-core AND lies within
        eps of a core member of the cluster each engine gave it —
        i.e. both answers are valid DBSCAN border assignments.

    Construction per tie site: two anchor cores 190 m apart (each
    propped up by 4 coincident satellites 85 m behind it, out of the
    border's reach), and the border point midway — within 100 m of
    both anchors, with only 3 eps-neighbors < min_samples=5.

    The tie-breaks only diverge when sklearn's SCAN order (input row
    order) disagrees with the id order the engine's min-label uses
    (when rows arrive sorted by id, first-expanded == min-core-id and
    the two rules coincide) — so the local reference runs on an
    INDEPENDENT random row permutation, the realistic
    arbitrarily-ordered-input regime."""
    eps_m, min_samples = 100.0, 5
    eps_rad = eps_m / 6371000.0
    deg = 1 / 111320.0  # ~meters to degrees latitude

    def pairwise_core(lon, lat):
        lon_r, lat_r = np.deg2rad(lon), np.deg2rad(lat)
        arg = np.cos(lat_r[:, None] - lat_r[None, :]) - np.cos(lat_r[:, None]) * np.cos(
            lat_r[None, :]
        ) * (1 - np.cos(lon_r[:, None] - lon_r[None, :]))
        d = np.arccos(np.clip(arg, -1.0, 1.0))
        within = d <= eps_rad
        return within, within.sum(axis=1) >= min_samples

    n_diff_total = 0
    for seed in range(8):
        rng = np.random.RandomState(seed)
        coords = []
        for site in range(3):
            bx = 8.0 + site * 0.5 + rng.uniform(0, 0.01)
            by = 47.0 + rng.uniform(0, 0.01)
            for side in (-1, 1):
                ax, ay = bx, by + side * 95 * deg  # anchor core
                coords.append((ax, ay))
                for _ in range(4):  # satellites 85 m behind the anchor
                    coords.append((ax + rng.uniform(-1e-7, 1e-7), ay + side * 85 * deg))
            coords.append((bx, by))  # the equidistant border point
        # id order and scan (row) order are independent permutations
        perm = rng.permutation(len(coords))
        pts = [(int(perm[i]), c[0], c[1]) for i, c in enumerate(coords)]
        rng.shuffle(pts)
        arr = np.array([(p[1], p[2]) for p in pts])
        within, core = pairwise_core(arr[:, 0], arr[:, 1])
        local = dbscan_haversine(arr[:, 0], arr[:, 1], eps_rad, min_samples)

        df = spark.createDataFrame(pts, "id long, lon double, lat double")
        got_map = {
            r.id: r.location_id
            for r in dbscan_distributed(df, epsilon_m=eps_m, min_samples=min_samples).collect()
        }
        got = np.array([-1 if got_map[p[0]] is None else got_map[p[0]] for p in pts])

        # (a) cluster count + noise set
        assert len(set(got[got >= 0])) == len(set(local[local >= 0]))
        assert set(np.flatnonzero(got < 0)) == set(np.flatnonzero(local < 0))
        # every core belongs to a cluster in both
        assert (got[core] >= 0).all() and (local[core] >= 0).all()
        # (b) identical partition over core points
        def core_partition(labels):
            clusters = {}
            for i in np.flatnonzero(core):
                clusters.setdefault(labels[i], set()).add(int(i))
            return {frozenset(v) for v in clusters.values()}
        assert core_partition(got) == core_partition(local)
        # (c) differing points: non-core, and validly border in BOTH
        got_to_local = {}
        for i in np.flatnonzero(core):
            got_to_local[got[i]] = local[i]
        for i in range(len(pts)):
            if got[i] < 0:
                continue
            if got_to_local[got[i]] != local[i]:
                n_diff_total += 1
                assert not core[i], f"core point {i} differs (seed {seed})"
                for labels, mapped in ((got, got[i]), (local, local[i])):
                    members = np.flatnonzero((labels == mapped) & core)
                    assert within[i, members].any(), (
                        f"point {i} assigned to a cluster with no core "
                        f"within eps (seed {seed})"
                    )
    # the adversarial construction must actually exercise the tie-break
    assert n_diff_total > 0


def test_dbscan_distributed_antimeridian_wrap(spark):
    """Round-8 closure of the documented ±180° miss: a blob straddling
    the antimeridian is ONE cluster and matches the exact (wrap-safe
    spherical) kernel's partition. Mixed with a same-latitude control
    blob away from the seam, plus seam noise."""
    import numpy as np

    rng = np.random.RandomState(11)
    pts = []
    pid = 0
    # blob A: both sides of the seam at lat 10
    for _ in range(15):
        lon = 179.9996 + rng.uniform(-6e-4, 6e-4)
        if lon > 180.0:
            lon -= 360.0
        pts.append((pid, lon, 10.0 + rng.uniform(-3e-4, 3e-4)))
        pid += 1
    # blob B: same latitude, away from the seam
    for _ in range(15):
        pts.append((pid, 170.0 + rng.uniform(-6e-4, 6e-4), 10.0 + rng.uniform(-3e-4, 3e-4)))
        pid += 1
    # seam noise: isolated point on the line, far from blob A in latitude
    pts.append((pid, -180.0 + 1e-9, 12.0))
    df = spark.createDataFrame(pts, "id long, lon double, lat double")

    out = dbscan_distributed(df, epsilon_m=150, min_samples=3)
    got = {r.id: r.location_id for r in out.collect()}

    arr = np.array([(p[1], p[2]) for p in pts])
    local = dbscan_haversine(arr[:, 0], arr[:, 1], 150 / 6371000.0, 3)

    def partition(labels):
        clusters = {}
        for i, l in enumerate(labels):
            if l is None or (isinstance(l, (int, np.integer)) and l == -1):
                continue
            clusters.setdefault(l, set()).add(i)
        return {frozenset(v) for v in clusters.values()}

    assert partition([got[i] for i in range(len(pts))]) == partition(local)
    # blob A must be one cluster despite the seam, and distinct from B
    labels_a = {got[i] for i in range(15)}
    labels_b = {got[i] for i in range(15, 30)}
    assert len(labels_a) == 1 and len(labels_b) == 1 and labels_a != labels_b
    assert got[30] is None  # seam noise stays noise


def test_dbscan_polar_band_partial_window_wrap(spark):
    """Round-9 regression (ADVICE r8): a dy>0 probe window that wraps
    west past the seam (unwrapped lo < 0) while the unwrapped hi stays
    below n_t-1, with hi-lo+1 >= n_t. The old full-circle cap reset
    only lo to 0, so residues hi+1..n_t-1 — covered by the wrapped-west
    part of the window — were never probed, and since cross-band pairs
    are generated only from the lower band the neighbor was lost for
    good. Config (eps=10 km): prober lat 89.8894 (band 1999), neighbor
    lat 89.95 in band 2000 (n_t=10, w=36°, r_deg≈236.5°, window cells
    -7..6 → buggy 0..6 missed cells 7-9); the neighbor sits in cell 9
    at haversine 8.07 km < eps."""
    pts = spark.createDataFrame(
        [(0, -178.817, 89.8894), (1, 150.0, 89.95)],
        "id long, lon double, lat double",
    )
    out = dbscan_distributed(pts, epsilon_m=10_000, min_samples=2).collect()
    got = {r.id: r.location_id for r in out}
    assert got[0] is not None and got[0] == got[1]


@pytest.mark.parametrize("metric,fn", [("dtw", dtw_distance), ("frechet", frechet_distance)])
def test_trajectory_distance_matrix_cross_set(spark, metric, fn):
    """Round-9 (VERDICT r8 item 3): calculate_distance_matrix(X, Y) —
    the FULL len(X) x len(Y) combination set (reference
    geogr/distances.py:182-186), ids independent (overlapping id values
    are cross-set pairs, not self-pairs), no i<j triangle filter."""
    xs = _random_trajs(5, seed=21)
    ys = _random_trajs(4, seed=22)  # ids 0..3 overlap X's 0..4 on purpose
    schema = "id long, geom array<struct<lon:double,lat:double>>"
    X = spark.createDataFrame(xs, schema)
    Y = spark.createDataFrame(ys, schema)

    got = {(r.i, r.j): r.dist_m
           for r in trajectory_distance_matrix(X, Y=Y, metric=metric).collect()}
    assert len(got) == 5 * 4  # full product, including i == j id collisions

    def arr(pts):
        return np.array([[p["lon"], p["lat"]] for p in pts])

    for i, xp in xs:
        for j, yp in ys:
            assert got[(i, j)] == pytest.approx(fn(arr(xp), arr(yp)), rel=1e-12), (i, j)


def test_triplegs_accessor_cross_set_matrix(spark):
    from trackintel_spark.model.accessors import Triplegs

    def tpls(n, seed):
        rows = [
            (i, 7, "2023-01-01 10:00:00", "2023-01-01 11:00:00", pts)
            for i, pts in _random_trajs(n, seed=seed)
        ]
        return Triplegs(
            spark.createDataFrame(
                rows,
                "id long, user_id long, started_at string, finished_at string, "
                "geom array<struct<lon:double,lat:double>>",
            )
            .withColumn("started_at", F.to_timestamp("started_at"))
            .withColumn("finished_at", F.to_timestamp("finished_at"))
        )

    X, Y = tpls(3, 30), tpls(2, 31)
    out = X.calculate_distance_matrix(Y, metric="frechet").collect()
    assert len(out) == 6
    # self case still upper-triangle
    self_out = X.calculate_distance_matrix(metric="frechet").collect()
    assert len(self_out) == 3 and all(r.i < r.j for r in self_out)
