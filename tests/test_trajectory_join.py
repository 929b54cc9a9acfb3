"""trajectory_similarity_join == brute-force all-pairs DP under tau.

The operator's exactness claim is that grid candidates, the endpoint
lower bound and the bounding-box bound lose NO qualifying pair; the
randomized tests check the returned (id_a, id_b, dist) set against an
all-pairs numpy ground truth for both metrics, across taus that
exercise sparse and dense result regimes, with trajectories
deliberately straddling cell boundaries. The cell kernel step is also
tested without Spark, for exact equality with brute force.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from trackintel_spark.geogr import trajectory_similarity_join
from trackintel_spark.geogr.trajectory_distance import dtw_distance, frechet_distance


def _mk_trajs(n, seed, spread_deg=0.02):
    """Random walks around a handful of anchor points near Zurich —
    anchors much closer than the grid cell size, so candidate cells
    overlap heavily and boundary-straddling pairs are guaranteed."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        ax = 8.5 + (i % 5) * spread_deg
        ay = 47.4 + (i % 3) * spread_deg
        length = rng.randint(2, 9)
        lon, lat = ax + rng.uniform(-5e-3, 5e-3), ay + rng.uniform(-5e-3, 5e-3)
        pts = []
        for _ in range(length):
            pts.append({"lon": lon, "lat": lat})
            lon += rng.uniform(-2e-3, 2e-3)
            lat += rng.uniform(-2e-3, 2e-3)
        rows.append((i, pts))
    return rows


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "id long, geom array<struct<lon:double,lat:double>>"
    )


def _brute(rows, fn, tau):
    arrs = {
        i: np.array([[p["lon"], p["lat"]] for p in pts], dtype=float) for i, pts in rows
    }
    out = {}
    ids = sorted(arrs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            d = fn(arrs[ids[x]], arrs[ids[y]])
            if d <= tau:
                out[(ids[x], ids[y])] = d
    return out


@pytest.mark.parametrize("metric,fn", [("frechet", frechet_distance), ("dtw", dtw_distance)])
@pytest.mark.parametrize("seed,tau", [(0, 400.0), (1, 900.0), (2, 2500.0)])
def test_join_matches_bruteforce(spark, metric, fn, seed, tau):
    rows = _mk_trajs(50, seed)
    got = {
        (r.id_a, r.id_b): r.dist_m
        for r in trajectory_similarity_join(_df(spark, rows), tau, metric=metric).collect()
    }
    want = _brute(rows, fn, tau)
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9)
    if seed == 2:
        assert len(want) > 20  # dense regime is non-vacuous


def test_join_plan_is_one_cell_exchange_and_one_kernel(spark):
    """The join is one projection, one exchange on the cell and one
    ``mapInPandas`` pass: no join, no cartesian product, no cache."""
    from test_plan_quality import _shuffles

    rows = _mk_trajs(30, seed=5)
    df = trajectory_similarity_join(_df(spark, rows), 500.0)
    assert _shuffles(df) == ["hashpartitioning(cy, cx)"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert "InMemoryRelation" not in df._jdf.queryExecution().optimizedPlan().toString()


def test_join_cells_straddle_arrow_batches(spark):
    """With 3 rows per Arrow batch nearly every cell continues into the
    next batch; its rows must be carried over, not joined in halves."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for metric, fn in (("frechet", frechet_distance), ("dtw", dtw_distance)):
            rows = _mk_trajs(50, seed=2)
            got = {
                (r.id_a, r.id_b): r.dist_m
                for r in trajectory_similarity_join(_df(spark, rows), 2500.0, metric=metric).collect()
            }
            want = _brute(rows, fn, 2500.0)
            assert got == want and len(want) > 5
    finally:
        spark.conf.set(key, old)


def test_join_validation_and_edges(spark):
    rows = _mk_trajs(10, seed=3)
    with pytest.raises(ValueError):
        trajectory_similarity_join(_df(spark, rows), 100.0, metric="hausdorff")
    with pytest.raises(ValueError):
        trajectory_similarity_join(_df(spark, rows), -1.0)
    # far-apart trajectories: empty result, schema intact
    far = [(0, [{"lon": 8.5, "lat": 47.4}]), (1, [{"lon": 9.5, "lat": 48.4}])]
    out = trajectory_similarity_join(_df(spark, far), 50.0)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "dist_m"]
    # identical single-vertex trajectories: one pair at distance 0
    same = [(0, [{"lon": 8.5, "lat": 47.4}]), (1, [{"lon": 8.5, "lat": 47.4}])]
    got = trajectory_similarity_join(_df(spark, same), 1.0).collect()
    assert len(got) == 1 and got[0].dist_m == 0.0 and (got[0].id_a, got[0].id_b) == (0, 1)


def test_band_boundary_near_threshold_pair_not_dropped(spark):
    """Regression (review finding): the grid constant must match the
    haversine sphere. Two identical-shape trajectories 999.5 m apart in
    pure latitude, the southern start just below a band boundary with
    tau=1000 — with a 111,320 m/deg grid the starts land two bands
    apart and the pair silently vanishes."""
    tau = 1000.0
    # anchor the southern start ~0.3 m below a boundary of the WRONG
    # (111,320 m/deg) grid: under that grid the two starts land TWO
    # bands apart (dlat exceeds its cell height by ~0.64 m) and the
    # pair vanishes; under the haversine-consistent grid dlat <= cell
    # height, so the bands differ by at most one and the pair is found
    cell_wrong = tau / 111_320.0
    base_lat = 47.0
    lat0 = (math.floor(base_lat / cell_wrong) + 1) * cell_wrong - 0.3 / 111_194.93
    dlat = 999.5 / 111_194.93  # ~999.5 m north
    rows = [
        (0, [{"lon": 8.5, "lat": lat0}, {"lon": 8.501, "lat": lat0}]),
        (1, [{"lon": 8.5, "lat": lat0 + dlat}, {"lon": 8.501, "lat": lat0 + dlat}]),
    ]
    got = trajectory_similarity_join(_df(spark, rows), tau, metric="frechet").collect()
    assert len(got) == 1 and got[0].dist_m <= tau

    # and the streaming match side shares the geometry
    from trackintel_spark.streaming import index_trajectory_corpus, trajectory_match_stream

    cells, arrays = index_trajectory_corpus(_df(spark, rows[:1]), tau)
    m = trajectory_match_stream(_df(spark, rows[1:]), cells, arrays, tau).collect()
    assert len(m) == 1 and m[0].match_id == 0


def _seam_trajs(seed, lat0=20.0):
    """Trajectory pairs straddling the ±180° antimeridian: anchors on
    both sides within a few hundred meters of the line, plus controls
    well away from it."""
    rng = random.Random(seed)
    rows = []
    i = 0
    for side in (-1, 1):
        for _ in range(8):
            # 0..400 m from the line, on `side` of it
            off_deg = rng.uniform(0, 400.0) / (111_194.93 * math.cos(math.radians(lat0)))
            lon = side * (180.0 - off_deg)
            lat = lat0 + rng.uniform(-3e-3, 3e-3)
            pts = []
            for _ in range(rng.randint(2, 5)):
                pts.append({"lon": lon, "lat": lat})
                # drift that may itself cross the line
                lon += rng.uniform(-2e-3, 2e-3)
                if lon > 180.0:
                    lon -= 360.0
                elif lon < -180.0:
                    lon += 360.0
                lat += rng.uniform(-1e-3, 1e-3)
            rows.append((i, pts))
            i += 1
    # far controls (must never pair with the seam group)
    rows.append((i, [{"lon": 0.0, "lat": lat0}, {"lon": 0.001, "lat": lat0}]))
    return rows


def _brute_wrapped(rows, fn, tau):
    """Brute force in a seam-free frame: shift lons onto a continuous
    axis around ±180 (the DP kernels' haversine is periodic-safe, but
    the raw-degree arrays fed to `fn` must not jump by 360)."""
    out = {}
    arrs = {}
    for i, pts in rows:
        a = np.array([[p["lon"], p["lat"]] for p in pts], dtype=float)
        arrs[i] = a
    ids = sorted(arrs)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = arrs[ids[x]].copy(), arrs[ids[y]].copy()
            # unwrap both onto the frame of a's first vertex
            ref = a[0, 0]
            for m in (a, b):
                m[:, 0] = np.where(m[:, 0] - ref > 180.0, m[:, 0] - 360.0, m[:, 0])
                m[:, 0] = np.where(m[:, 0] - ref < -180.0, m[:, 0] + 360.0, m[:, 0])
            d = fn(a, b)
            if d <= tau:
                out[(ids[x], ids[y])] = d
    return out


@pytest.mark.parametrize("metric,fn", [("frechet", frechet_distance), ("dtw", dtw_distance)])
@pytest.mark.parametrize("seed", [0, 7])
def test_antimeridian_pairs_not_missed(spark, metric, fn, seed):
    """Round-8 closure of the documented ±180° miss: the grid's cx now
    aliases modulo the band's cell count, so cross-seam candidates
    equi-join. Ground truth brute-forces in an unwrapped frame."""
    tau = 1500.0
    rows = _seam_trajs(seed)
    got = {
        (r.id_a, r.id_b): r.dist_m
        for r in trajectory_similarity_join(_df(spark, rows), tau, metric=metric).collect()
    }
    want = _brute_wrapped(rows, fn, tau)
    # non-vacuous: some qualifying pairs must genuinely straddle the line
    straddling = [
        (a, b) for (a, b) in want
        if any(p["lon"] > 179 for p in rows[a][1]) and any(p["lon"] < -179 for p in rows[b][1])
        or any(p["lon"] < -179 for p in rows[a][1]) and any(p["lon"] > 179 for p in rows[b][1])
    ]
    assert straddling, "fixture failed to produce cross-seam pairs"
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-9)


def test_antimeridian_streaming_match(spark):
    """The streaming matcher shares the wrapped grid: a probe on one
    side of the line matches a corpus trajectory on the other."""
    from trackintel_spark.streaming import index_trajectory_corpus, trajectory_match_stream

    corpus = [(0, [{"lon": 179.999, "lat": 10.0}, {"lon": 179.998, "lat": 10.001}])]
    probe = [(1, [{"lon": -179.999, "lat": 10.0}, {"lon": -179.998, "lat": 10.001}])]
    tau = 1000.0
    cells, arrays = index_trajectory_corpus(_df(spark, corpus), tau)
    m = trajectory_match_stream(_df(spark, probe), cells, arrays, tau).collect()
    assert len(m) == 1 and m[0].match_id == 0


# ---------------------------------------------------------------------------
# r13: batched wavefront DP == per-pair kernels, bit-for-bit
# ---------------------------------------------------------------------------


def test_batched_dp_bit_equal_to_per_pair():
    """The refine stages now group pairs by (len_a, len_b) and run ONE
    batched anti-diagonal DP per shape (r13). Every cell computes the
    identical float64 operations as the per-pair kernels, so results
    must be bit-equal — including degenerate 1-vertex trajectories."""
    from trackintel_spark.geogr.trajectory_distance import (
        _pairwise_distance_batched,
        dtw_distance_batch,
        frechet_distance_batch,
    )

    rng = np.random.default_rng(7)
    for fn, bfn in (
        (dtw_distance, dtw_distance_batch),
        (frechet_distance, frechet_distance_batch),
    ):
        la, pa, lb, pb, refs = [], [], [], [], []
        for _ in range(300):
            n = int(rng.integers(1, 60))
            m = int(rng.integers(1, 60))
            a = np.column_stack((rng.uniform(7, 9, n), rng.uniform(46, 48, n)))
            b = np.column_stack((rng.uniform(7, 9, m), rng.uniform(46, 48, m)))
            la.append(a[:, 0])
            pa.append(a[:, 1])
            lb.append(b[:, 0])
            pb.append(b[:, 1])
            refs.append(fn(a, b))
        out = _pairwise_distance_batched(la, pa, lb, pb, bfn)
        assert all(r == o for r, o in zip(refs, out))


def test_batched_dp_chunking_matches_unchunked(monkeypatch):
    """The cost-tensor cell cap splits big same-shape groups into
    chunks; chunked and unchunked paths must agree exactly."""
    import trackintel_spark.geogr.trajectory_distance as td

    rng = np.random.default_rng(11)
    la = [rng.uniform(7, 9, 20) for _ in range(64)]
    pa = [rng.uniform(46, 48, 20) for _ in range(64)]
    lb = [rng.uniform(7, 9, 25) for _ in range(64)]
    pb = [rng.uniform(46, 48, 25) for _ in range(64)]
    full = td._pairwise_distance_batched(la, pa, lb, pb, td.frechet_distance_batch)
    monkeypatch.setattr(td, "_BATCH_DP_MAX_CELLS", 20 * 25 * 7)  # 7 pairs/chunk
    chunked = td._pairwise_distance_batched(la, pa, lb, pb, td.frechet_distance_batch)
    assert np.array_equal(full, chunked)


def test_batched_dp_zero_vertex_matches_scalar():
    """Zero-vertex trajectories can't batch (zero-cell DP); they must
    route through the scalar kernel and reproduce its exact values
    (dtw: inf against an empty side, 0.0 for empty-vs-empty) instead
    of tripping the chunk sizing's division by the cell count."""
    from trackintel_spark.geogr.trajectory_distance import (
        _pairwise_distance_batched,
        dtw_distance,
        dtw_distance_batch,
    )

    la = [[8.0, 8.1], [], []]
    pa = [[47.0, 47.1], [], []]
    lb = [[], [8.0, 8.2], []]
    pb = [[], [47.0, 47.2], []]
    out = _pairwise_distance_batched(la, pa, lb, pb, dtw_distance_batch)
    refs = [
        dtw_distance(np.column_stack((la[i], pa[i])), np.column_stack((lb[i], pb[i])))
        for i in range(3)
    ]
    assert list(out) == refs


def test_single_vertex_dtw_pairs_not_dropped(spark):
    """Two single-vertex trajectories share one DTW cell, so their DTW
    is d_ss, not d_ss + d_ee: the endpoint bound must not drop a pair
    at 600 m under tau = 1000 m (join, top-k and stream matcher)."""
    from trackintel_spark.geogr import trajectory_topk
    from trackintel_spark.streaming import index_trajectory_corpus, trajectory_match_stream

    dlat = 600.0 / 111_194.93
    rows = [(0, [{"lon": 8.5, "lat": 47.4}]), (1, [{"lon": 8.5, "lat": 47.4 + dlat}])]
    got = trajectory_similarity_join(_df(spark, rows), 1000.0, metric="dtw").collect()
    assert [(r.id_a, r.id_b) for r in got] == [(0, 1)]
    assert got[0].dist_m == pytest.approx(600.0, rel=1e-6)

    top = trajectory_topk(_df(spark, rows[1:]), [(8.5, 47.4)], k=1, metric="dtw").collect()
    assert [r.id for r in top] == [1]

    cells, arrays = index_trajectory_corpus(_df(spark, rows[:1]), 1000.0)
    m = trajectory_match_stream(_df(spark, rows[1:]), cells, arrays, 1000.0, metric="dtw").collect()
    assert [(r.query_id, r.match_id) for r in m] == [(1, 0)]


# ---------------------------------------------------------------------------
# the cell kernel step, without Spark: exact equality with brute force
# ---------------------------------------------------------------------------

R_M = 6_371_000.0
DEG_M = math.pi / 180.0 * R_M


def _cell_frame(rows, n_cells=3):
    """Kernel input for ``_cell_join_step`` on a stand-in grid:
    trajectory i owns cell (0, i % n_cells) and probes every cell, so
    each pair is a candidate exactly once (in the smaller id's cell)."""
    import pandas as pd

    recs = []
    for i, pts in rows:
        lons = np.array([p["lon"] for p in pts])
        lats = np.array([p["lat"] for p in pts])
        for c in range(n_cells):
            recs.append({
                "id": i, "lons": lons, "lats": lats,
                "s_lon": lons[0], "s_lat": lats[0], "e_lon": lons[-1], "e_lat": lats[-1],
                "lon_min": lons.min(), "lon_max": lons.max(),
                "lat_min": lats.min(), "lat_max": lats.max(),
                "own_cy": 0, "own_cx": i % n_cells, "cy": 0, "cx": c,
            })
    return pd.DataFrame(recs).sort_values(["cy", "cx"], kind="stable").reset_index(drop=True)


def _step(rows, tau, metric, **kw):
    from trackintel_spark.geogr.trajectory_distance import _cell_join_step

    out, n_dp = _cell_join_step(_cell_frame(rows), tau, metric, **kw)
    return {(int(a), int(b)): d for a, b, d in zip(out.id_a, out.id_b, out.dist_m)}, n_dp


def _pts(lonlat):
    return [{"lon": float(lo), "lat": float(la)} for lo, la in lonlat]


def _detour_groups(headings=(0.0, 45.0, 90.0), size=8, followers=4, route_m=2000.0):
    """One group per heading: ``size`` trajectories from one start to
    one end ``route_m`` away. The first ``followers`` run the straight
    route, each resampled to its own vertex count; the others bow out
    to the right by their own multiple of 500 m. Only followers pair
    under tau = 150 m, and only their boxes agree."""
    rows = []
    for g, h in enumerate(headings):
        lon0, lat0 = 8.5 + 0.2 * g, 47.4
        kx = DEG_M * math.cos(math.radians(lat0))
        fwd = np.array([math.sin(math.radians(h)), math.cos(math.radians(h))])  # (east, north)
        right = np.array([fwd[1], -fwd[0]])
        end = np.array([lon0 + fwd[0] * route_m / kx, lat0 + fwd[1] * route_m / DEG_M])
        for k in range(size):
            n = 20 + 3 * k
            t = np.linspace(0.0, 1.0, n)
            bow = 0.0 if k < followers else 500.0 * (k - followers + 1)
            off = bow * np.sin(np.pi * t)  # meters to the right, 0 at both ends
            lon = lon0 + t * (end[0] - lon0) + off * right[0] / kx
            lat = lat0 + t * (end[1] - lat0) + off * right[1] / DEG_M
            lon[0], lat[0], lon[-1], lat[-1] = lon0, lat0, end[0], end[1]
            rows.append((g * size + k, _pts(zip(lon, lat))))
    return rows


@pytest.mark.parametrize("metric,fn", [("frechet", frechet_distance), ("dtw", dtw_distance)])
@pytest.mark.parametrize("seed,tau", [(0, 400.0), (1, 900.0), (2, 2500.0)])
def test_cell_step_random_walks_equal_bruteforce(metric, fn, seed, tau):
    rows = _mk_trajs(40, seed)
    got, _ = _step(rows, tau, metric)
    assert got == _brute(rows, fn, tau)


@pytest.mark.parametrize("metric,fn", [("frechet", frechet_distance), ("dtw", dtw_distance)])
def test_cell_step_detour_groups_prune_by_box(metric, fn):
    """Detours share their endpoints with the followers, so the endpoint
    bound keeps all 28 same-group pairs of a group. The box bound leaves
    the DP the 6 follower pairs of each group, plus, at heading 45°, the
    9 pairs among the followers and the 500 m and 1000 m detours: a bow
    to the right of a diagonal route stays inside the route's box until
    it exceeds half the route's 1414 m east-west extent."""
    rows = _detour_groups()
    tau = 150.0 if metric == "frechet" else 1500.0
    got, n_dp = _step(rows, tau, metric)
    assert got == _brute(rows, fn, tau)
    if metric == "frechet":
        assert len(got) == 18 and n_dp == 18 + 9
    else:
        assert 0 < len(got) <= n_dp < 3 * 28


def _near_tau_pair(axis, delta_m, lat0=47.4, route_m=3000.0):
    """Two 3-vertex trajectories with shared endpoints ``route_m``
    apart; the middle vertex of the second is ``delta_m`` meters off the
    first's, across the route: north for ``axis == "lat"`` (route
    east-west), east for ``axis == "lon"`` (route north from
    ``lat0``)."""
    if axis == "lat":
        kx = DEG_M * math.cos(math.radians(lat0))
        a = [(8.5, lat0), (8.5 + route_m / 2 / kx, lat0), (8.5 + route_m / kx, lat0)]
        mid = (a[1][0], lat0 + math.degrees(delta_m / R_M))
    else:
        a = [(8.5, lat0), (8.5, lat0 + route_m / 2 / DEG_M), (8.5, lat0 + route_m / DEG_M)]
        phi = math.radians(a[1][1])
        mid = (8.5 + math.degrees(2 * math.asin(math.sin(delta_m / (2 * R_M)) / math.cos(phi))), a[1][1])
    b = [a[0], mid, a[2]]
    return [(0, _pts(a)), (1, _pts(b))]


@pytest.mark.parametrize("metric,fn", [("frechet", frechet_distance), ("dtw", dtw_distance)])
@pytest.mark.parametrize("axis,lat0,route_m", [("lat", 47.4, 3000.0), ("lon", 47.4, 3000.0), ("lon", 80.0, 20000.0)])
def test_cell_step_pairs_half_a_meter_from_tau(metric, fn, axis, lat0, route_m):
    """Pairs 0.5 m and 1 mm inside tau and 0.5 m outside. On the 20 km
    route at 80° the middle vertices lie 10 km south of the boxes'
    poleward edge, so only a longitude margin taken at that edge (the
    largest |lat|) keeps the pairs inside tau."""
    tau = 150.0
    for delta, inside in ((tau - 0.5, True), (tau - 0.001, True), (tau + 0.5, False)):
        rows = _near_tau_pair(axis, delta, lat0, route_m)
        want = _brute(rows, fn, tau)
        assert bool(want) == inside  # the fixture sits on the side it claims
        got, n_dp = _step(rows, tau, metric)
        assert got == want
        if route_m <= 3000.0:
            # the box bound keeps the pairs inside tau and drops the one outside
            assert n_dp == int(inside)


@pytest.mark.parametrize("metric,fn", [("frechet", frechet_distance), ("dtw", dtw_distance)])
def test_cell_step_near_pole_skips_longitude_half(metric, fn):
    """At latitude 89.9° and tau = 25 km, sin(tau/2R) / cos φ exceeds 1:
    trajectories on opposite meridians are ~22 km apart and must pair,
    so the longitude half of the box bound is skipped."""
    from trackintel_spark.geogr.trajectory_distance import _box_bound

    tau = 25_000.0 if metric == "frechet" else 50_000.0
    rows = [(i, _pts([(lon, 89.9), (lon + 1.0, 89.9)])) for i, lon in enumerate((-170.0, -90.0, 0.0, 10.0, 90.0))]
    got, _ = _step(rows, tau, metric)
    want = _brute(rows, fn, tau)
    assert got == want and (0, 2) in want  # 170° of longitude apart
    box = np.array([[0.0], [1.0], [89.9], [89.9]])
    far = np.array([[170.0], [171.0], [89.9], [89.9]])
    assert _box_bound(box, far, tau).all()
    assert not _box_bound(box, far, 10.0).any()  # small tau: the half applies


@pytest.mark.parametrize("metric,fn", [("frechet", frechet_distance), ("dtw", dtw_distance)])
@pytest.mark.parametrize("seed", [0, 7])
def test_cell_step_antimeridian_equal_bruteforce(metric, fn, seed):
    """Trajectories straddling ±180° (boxes spanning the whole circle)
    paired with ones that stay on one side: the seam skips the
    longitude half, so no straddling pair is lost."""
    tau = 1500.0
    rows = _seam_trajs(seed)
    got, _ = _step(rows, tau, metric)
    want = _brute(rows, fn, tau)
    straddle = {i for i, pts in rows if min(p["lon"] for p in pts) < -179 and max(p["lon"] for p in pts) > 179}
    assert straddle and any((a in straddle) != (b in straddle) for a, b in want)
    assert got == want


@pytest.mark.parametrize("metric", ["frechet", "dtw"])
def test_cell_step_chunked_equals_unchunked(metric):
    from trackintel_spark.geogr.trajectory_distance import _cell_join_step

    rows = _detour_groups() + [(100 + i, pts) for i, pts in _mk_trajs(30, seed=3)]
    frame = _cell_frame(rows)
    full, n_full = _cell_join_step(frame, 900.0, metric)
    for chunk in (1, 7, 64):
        part, n_part = _cell_join_step(frame, 900.0, metric, chunk=chunk)
        assert n_part == n_full
        assert full.equals(part)


def test_cell_batches_carry_cells_across_batches():
    """Any split of a partition into Arrow batches, empty ones included,
    gives the same pairs as one batch."""
    import pandas as pd

    from trackintel_spark.geogr.trajectory_distance import _cell_join_batches, _cell_join_step

    rows = _mk_trajs(30, seed=6)
    frame = _cell_frame(rows, n_cells=5)
    want, _ = _cell_join_step(frame, 900.0, "frechet")
    rng = np.random.default_rng(0)
    for _ in range(5):
        cuts = np.sort(rng.integers(0, len(frame), 12))
        batches = [frame.iloc[a:b] for a, b in zip(np.r_[0, cuts], np.r_[cuts, len(frame)])]
        got = pd.concat(list(_cell_join_batches(iter(batches), 900.0, "frechet")))
        key = ["id_a", "id_b"]
        assert got.sort_values(key).reset_index(drop=True).equals(want.sort_values(key).reset_index(drop=True))
