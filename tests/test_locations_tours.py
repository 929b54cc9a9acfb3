"""generate_locations (DBSCAN), generate_tours, location identification."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from trackintel_spark.analysis import freq_method, osna_method, pre_filter_locations
from trackintel_spark.operators import generate_locations, generate_tours, get_trips_grouped

T0 = datetime(2024, 1, 1, 8, 0, 0)  # a Monday


def _mk_sp(spark, rows):
    """(id, user, start_min, end_min, lon, lat)"""
    data = [(i, u, T0 + timedelta(minutes=s), T0 + timedelta(minutes=e), lon, lat) for i, u, s, e, lon, lat in rows]
    df = spark.createDataFrame(
        data, "id long, user_id long, started_at timestamp, finished_at timestamp, lon double, lat double"
    )
    return df.select("id", "user_id", "started_at", "finished_at", F.struct("lon", "lat").alias("geom"))


def _mk_trips(spark, rows):
    """(id, user, start_min, end_min, o_sp, d_sp)"""
    data = [
        (i, u, T0 + timedelta(minutes=s), T0 + timedelta(minutes=e), o, d) for i, u, s, e, o, d in rows
    ]
    return spark.createDataFrame(
        data,
        "id long, user_id long, started_at timestamp, finished_at timestamp, "
        "origin_staypoint_id long, destination_staypoint_id long",
    )


# -- locations ----------------------------------------------------------------


def test_dbscan_two_clusters_and_noise(spark):
    sp = _mk_sp(
        spark,
        [
            (0, 1, 0, 10, 8.5000, 47.4),
            (1, 1, 20, 30, 8.5001, 47.4),   # ~7.5m from 0 -> same cluster
            (2, 1, 40, 50, 8.6000, 47.4),
            (3, 1, 60, 70, 8.6001, 47.4),   # second cluster
            (4, 1, 80, 90, 9.9, 48.9),      # far away; min_samples=2 -> noise
        ],
    )
    sp_o, locs = generate_locations(sp, epsilon=100, num_samples=2)
    got = {r.id: r.location_id for r in sp_o.collect()}
    assert got[0] == got[1] and got[2] == got[3]
    assert got[0] != got[2]
    assert got[4] is None
    assert locs.count() == 2


def test_dbscan_min_samples_1_everything_clustered(spark):
    sp = _mk_sp(spark, [(0, 1, 0, 10, 8.5, 47.4), (1, 1, 20, 30, 9.9, 48.9)])
    sp_o, locs = generate_locations(sp, epsilon=100, num_samples=1)
    got = {r.id: r.location_id for r in sp_o.collect()}
    assert got[0] is not None and got[1] is not None and got[0] != got[1]


def test_location_id_offsets_across_users(spark):
    sp = _mk_sp(
        spark,
        [
            (0, 1, 0, 10, 8.5, 47.4),
            (1, 1, 20, 30, 8.6, 47.4),
            (2, 2, 0, 10, 8.5, 47.4),
        ],
    )
    _, locs = generate_locations(sp, epsilon=100, num_samples=1)
    rows = sorted((r.user_id, r.id) for r in locs.collect())
    # user 1 gets 0,1; user 2 continues at 2 (reference offsetting :119-137)
    assert rows == [(1, 0), (1, 1), (2, 2)]


def test_location_center_and_extent(spark):
    sp = _mk_sp(spark, [(0, 1, 0, 10, 8.5, 47.4), (1, 1, 20, 30, 8.502, 47.4)])
    _, locs = generate_locations(sp, epsilon=200, num_samples=1)
    (loc,) = locs.collect()
    assert abs(loc.center.lon - 8.501) < 1e-9
    assert abs(loc.center.lat - 47.4) < 1e-9
    lons = [p.lon for p in loc.extent]
    lats = [p.lat for p in loc.extent]
    # extent hull must contain both points buffered by ~200m (~0.0027 deg)
    assert min(lons) < 8.5 - 0.002 and max(lons) > 8.502 + 0.002
    assert min(lats) < 47.4 and max(lats) > 47.4


def _three_users(spark):
    """User 1: two clusters (first in time at 8.6) plus one noise point;
    user 2: two far-apart staypoints, noise at num_samples=2; user 3:
    one cluster with a repeated coordinate. Staypoint ids run against
    user and time order."""
    return _mk_sp(
        spark,
        [
            (10, 1, 100, 110, 8.5, 47.4),
            (11, 1, 0, 10, 8.6, 47.45),
            (12, 1, 20, 30, 8.5005, 47.4),
            (13, 1, 40, 50, 8.6001, 47.45),
            (14, 1, 60, 70, 8.5, 47.4),
            (15, 1, 80, 90, 9.9, 48.9),
            (20, 2, 0, 10, 8.5, 47.4),
            (21, 2, 20, 30, 10.0, 50.0),
            (0, 3, 0, 10, 8.7, 47.5),
            (1, 3, 20, 30, 8.7002, 47.5002),
            (2, 3, 40, 50, 8.7, 47.5),
        ],
    )


def test_locations_pinned_rows_three_users(spark):
    sp_o, locs = generate_locations(_three_users(spark), epsilon=100, num_samples=2)
    assert sp_o.columns == ["id", "user_id", "started_at", "finished_at", "geom", "location_id"]
    assert locs.columns == ["id", "user_id", "center", "extent"]
    assert {r.id: r.location_id for r in sp_o.collect()} == {
        10: 1, 11: 0, 12: 1, 13: 0, 14: 1, 15: None, 20: None, 21: None, 0: 2, 1: 2, 2: 2,
    }
    rows = sorted(
        (r.id, r.user_id, round(r.center.lon, 9), round(r.center.lat, 9), len(r.extent)) for r in locs.collect()
    )
    assert rows == [
        (0, 1, 8.60005, 47.45, 18),
        (1, 1, 8.50025, 47.4, 18),
        (2, 3, 8.7001, 47.5001, 18),
    ]


def test_locations_empty_input(spark):
    sp = _mk_sp(spark, [])
    sp_o, locs = generate_locations(sp, epsilon=100, num_samples=1)
    assert sp_o.columns == ["id", "user_id", "started_at", "finished_at", "geom", "location_id"]
    assert locs.columns == ["id", "user_id", "center", "extent"]
    assert sp_o.count() == 0 and locs.count() == 0


def test_locations_activities_only_without_activities(spark):
    sp = _three_users(spark).withColumn("is_activity", F.lit(False))
    sp_o, locs = generate_locations(sp, epsilon=100, num_samples=1, activities_only=True)
    assert {r.id: r.location_id for r in sp_o.collect()} == dict.fromkeys([10, 11, 12, 13, 14, 15, 20, 21, 0, 1, 2])
    assert locs.count() == 0


def test_dataset_agg_level_clusters_across_users(spark):
    sp = _mk_sp(spark, [(0, 1, 0, 10, 8.5, 47.4), (1, 2, 20, 30, 8.50005, 47.4)])
    _, locs_user = generate_locations(sp, epsilon=100, num_samples=1, agg_level="user")
    sp_o, locs_ds = generate_locations(sp, epsilon=100, num_samples=1, agg_level="dataset")
    assert locs_user.count() == 2
    got = {r.id: r.location_id for r in sp_o.collect()}
    assert got[0] == got[1]  # shared location across users
    assert locs_ds.count() == 2  # one (user, loc) row per user (:162-168)


def test_dataset_distributed_matches_exact_partitions(spark):
    # three users, two shared hotspots + one isolated noise-ish point;
    # the distributed route must produce the same cluster PARTITIONS as
    # the exact single-group kernel (numbering may differ)
    rows, sid = [], 0
    for u in (1, 2, 3):
        for k in range(3):
            rows.append((sid, u, sid * 40, sid * 40 + 10, 8.5 + k * 1e-5, 47.4)); sid += 1
            rows.append((sid, u, sid * 40, sid * 40 + 10, 9.0 + k * 1e-5, 48.0)); sid += 1
    rows.append((sid, 1, sid * 40, sid * 40 + 10, 12.0, 50.0)); sid += 1
    sp = _mk_sp(spark, rows)

    def partition(sp_o):
        clusters = {}
        for r in sp_o.collect():
            if r.location_id is not None:
                clusters.setdefault(r.location_id, set()).add(r.id)
        return {frozenset(v) for v in clusters.values()}

    exact_o, exact_locs = generate_locations(sp, epsilon=100, num_samples=2, agg_level="dataset")
    dist_o, dist_locs = generate_locations(
        sp, epsilon=100, num_samples=2, agg_level="dataset", distributed=True
    )
    assert partition(exact_o) == partition(dist_o)
    # noise point is unclustered on both paths
    noise_id = sid - 1
    assert {r.id: r.location_id for r in dist_o.collect()}[noise_id] is None
    assert dist_locs.count() == exact_locs.count()


def test_convex_hull_matches_np_cross_turn_test():
    """The scalar turn test is the formula ``np.cross`` evaluates, so
    hulls (and with them location extents) are bit-identical to the
    ``np.cross`` monotone chain, duplicates and collinear runs included."""
    import numpy as np

    from trackintel_spark.operators.locations import _buffered_hull, _convex_hull

    def np_cross_hull(points):
        pts = np.unique(points, axis=0)
        if len(pts) <= 2:
            return pts
        pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))]

        def half(iterable):
            hull = []
            for p in iterable:
                while len(hull) >= 2 and np.cross(hull[-1] - hull[-2], p - hull[-2]) <= 0:
                    hull.pop()
                hull.append(p)
            return hull

        lower = half(pts)
        upper = half(pts[::-1])
        return np.array(lower[:-1] + upper[:-1])

    rng = np.random.default_rng(11)
    clouds = [np.zeros((0, 2)), np.array([[8.5, 47.4]]), np.array([[8.5, 47.4], [8.5, 47.4], [8.6, 47.5]])]
    for n in (3, 5, 9, 40, 200):
        pts = np.column_stack((8.5 + rng.normal(0, 1e-3, n), 47.4 + rng.normal(0, 1e-3, n)))
        clouds.append(pts)
        clouds.append(np.vstack([pts, pts[: n // 2]]))  # duplicates
        t = rng.uniform(0, 1, n)
        line = np.column_stack((8.5 + t * 1e-3, 47.4 + t * 2e-3))
        clouds.append(line)  # all collinear
        clouds.append(np.vstack([line, pts, line[:3]]))  # collinear runs on and inside the hull
        clouds.append(np.round(pts, 4))  # a coarse grid: many collinear triples
    for pts in clouds:
        got, want = _convex_hull(pts), np_cross_hull(pts)
        assert got.shape == want.shape and np.array_equal(got, want)
        if len(pts):
            ring = np.column_stack((np.cos(np.linspace(0, 2 * np.pi, 16, endpoint=False)),
                                    np.sin(np.linspace(0, 2 * np.pi, 16, endpoint=False)))) * 1e-3
            cloud = (pts[:, None, :] + ring[None, :, :]).reshape(-1, 2)
            assert np.array_equal(_buffered_hull(pts, 1e-3), np_cross_hull(cloud))


# -- tours --------------------------------------------------------------------


def _sp_with_locs(spark, pairs):
    """staypoint id -> location id"""
    sp = _mk_sp(spark, [(i, 1, 0, 10, 8.5, 47.4) for i, _ in pairs])
    locmap = {i: l for i, l in pairs}
    return sp.withColumn(
        "location_id",
        F.udf(lambda i: locmap.get(i), "long")(F.col("id")),
    )


def test_tour_closes_at_same_location(spark):
    # trip0: loc A -> B, trip1: B -> A  => tour [0, 1]
    sp = _sp_with_locs(spark, [(0, 100), (1, 200), (2, 200), (3, 100)])
    trips = _mk_trips(spark, [(0, 1, 0, 60, 0, 1), (1, 1, 120, 180, 2, 3)])
    trips_o, tours = generate_tours(trips, staypoints=sp)
    got = tours.collect()
    assert len(got) == 1
    t = got[0]
    assert t.id == 0 and t.trips == [0, 1] and t.location_id == 100
    assert t.started_at == T0 and t.finished_at == T0 + timedelta(minutes=180)
    links = {r.id: r.tour_id for r in trips_o.collect()}
    assert links[0] == [0] and links[1] == [0]


def test_no_tour_when_max_time_exceeded(spark):
    sp = _sp_with_locs(spark, [(0, 100), (1, 200), (2, 200), (3, 100)])
    trips = _mk_trips(spark, [(0, 1, 0, 60, 0, 1), (1, 1, 2000, 2060, 2, 3)])
    _, tours = generate_tours(trips, staypoints=sp, max_time=1440)
    assert tours.count() == 0


def test_gap_breaks_chain_without_allowance(spark):
    # trip0 A->B, trip1 C->A (origin C != B => spatial gap)
    sp = _sp_with_locs(spark, [(0, 100), (1, 200), (2, 300), (3, 100)])
    trips = _mk_trips(spark, [(0, 1, 0, 60, 0, 1), (1, 1, 120, 180, 2, 3)])
    _, tours0 = generate_tours(trips, staypoints=sp, max_nr_gaps=0)
    assert tours0.count() == 0
    _, tours1 = generate_tours(trips, staypoints=sp, max_nr_gaps=1)
    got = tours1.collect()
    assert len(got) == 1 and got[0].trips == [0, 1]


def test_nested_tours(spark):
    # A->B, B->B (small loop), B->A : closes small tour [1] then big [0,1,2]
    sp = _sp_with_locs(spark, [(0, 100), (1, 200), (2, 200), (3, 200), (4, 200), (5, 100)])
    trips = _mk_trips(
        spark,
        [(0, 1, 0, 60, 0, 1), (1, 1, 120, 180, 2, 3), (2, 1, 240, 300, 4, 5)],
    )
    trips_o, tours = generate_tours(trips, staypoints=sp)
    got = sorted(tours.collect(), key=lambda r: r.id)
    assert len(got) == 2
    assert got[0].trips == [1]  # nested tour found first
    assert got[1].trips == [0, 1, 2]
    links = {r.id: r.tour_id for r in trips_o.collect()}
    assert links[1] == [0, 1]  # trip 1 belongs to both tours
    grouped = get_trips_grouped(trips_o, tours)
    assert grouped.filter(F.col("tour_id") == 1).count() == 3


def test_tours_max_dist_mode(spark):
    trips = _mk_trips(spark, [(0, 1, 0, 60, 0, 1), (1, 1, 120, 180, 2, 3)]).withColumn(
        "geom",
        F.when(
            F.col("id") == 0,
            F.struct(
                F.struct(F.lit(8.5).alias("lon"), F.lit(47.4).alias("lat")).alias("origin"),
                F.struct(F.lit(8.6).alias("lon"), F.lit(47.5).alias("lat")).alias("dest"),
            ),
        ).otherwise(
            F.struct(
                F.struct(F.lit(8.6).alias("lon"), F.lit(47.5).alias("lat")).alias("origin"),
                F.struct(F.lit(8.50001).alias("lon"), F.lit(47.40001).alias("lat")).alias("dest"),
            )
        ),
    )
    _, tours = generate_tours(trips, staypoints=None, max_dist=100)
    got = tours.collect()
    assert len(got) == 1 and got[0].trips == [0, 1] and got[0].location_id is None


# -- location identification --------------------------------------------------


def test_freq_method(spark):
    # loc 7 visited 3h, loc 8 visited 1h, loc 9 10min
    rows = [
        (0, 1, 0, 60, 8.5, 47.4),
        (1, 1, 100, 160, 8.5, 47.4),
        (2, 1, 200, 260, 8.5, 47.4),
        (3, 1, 300, 360, 8.6, 47.5),
        (4, 1, 400, 410, 8.7, 47.6),
    ]
    sp = _mk_sp(spark, rows).withColumn(
        "location_id", F.when(F.col("id") <= 2, 7).when(F.col("id") == 3, 8).otherwise(9).cast("long")
    )
    out = {r.id: r.purpose for r in freq_method(sp).collect()}
    assert out[0] == "home" and out[1] == "home" and out[2] == "home"
    assert out[3] == "work"
    assert out[4] is None


def test_pre_filter_locations(spark):
    # user 1: 12 staypoints across 12 locations -> user passes; but each
    # location has 1 sp -> all locations fail -> everything filtered out
    rows = [(i, 1, i * 500, i * 500 + 120, 8.5 + i * 0.01, 47.4) for i in range(12)]
    sp = _mk_sp(spark, rows).withColumn("location_id", F.col("id"))
    mask = pre_filter_locations(sp, thresh_sp=10, thresh_loc=10, thresh_sp_at_loc=2)
    assert mask.filter(F.col("total_filter")).count() == 0
    # with per-location thresholds disabled, everything passes
    mask2 = pre_filter_locations(sp, thresh_sp=10, thresh_loc=10, thresh_sp_at_loc=0, thresh_loc_time=0, thresh_loc_period=0)
    assert mask2.filter(F.col("total_filter")).count() == 12


def test_osna_method(spark):
    # Monday: night hours (rest->home) at loc 1, working hours at loc 2
    rows = [
        (0, 1, -5 * 60, -3 * 60, 8.5, 47.4),   # 03:00-05:00 Mon -> rest
        (1, 1, 60, 9 * 60, 8.6, 47.5),          # 09:00-17:00 Mon -> work
    ]
    sp = _mk_sp(spark, rows).withColumn("location_id", F.when(F.col("id") == 0, 1).otherwise(2).cast("long"))
    out = {r.id: r.purpose for r in osna_method(sp).collect()}
    assert out[0] == "home" and out[1] == "work"


def test_osna_conflict_home_wins(spark):
    # single location wins both home and work, second location gets work
    rows = [
        (0, 1, -5 * 60, -3 * 60, 8.5, 47.4),  # rest at loc 1
        (1, 1, 60, 9 * 60, 8.5, 47.4),         # work at loc 1 (same loc)
        (2, 1, 24 * 60 + 60, 24 * 60 + 120, 8.6, 47.5),  # Tue work at loc 2
    ]
    sp = _mk_sp(spark, rows).withColumn("location_id", F.when(F.col("id") <= 1, 1).otherwise(2).cast("long"))
    out = osna_method(sp)
    per_loc = {r.location_id: r.purpose for r in out.collect()}
    assert per_loc[1] == "home"
    assert per_loc[2] == "work"


def test_tours_pinned_across_max_time_gaps(spark):
    """Exact tours of two users whose trip streams break at > max_time
    gaps, by the reference rules (preprocessing/trips.py:238-336):

    * a trip whose origin is not the previous destination resets the
      stack without a scan at max_nr_gaps=0, so the post-gap self-loop
      (5 -> 5) closes NO 1-trip tour; at max_nr_gaps=1 the break is a
      tolerated gap, the trip is scanned, and it closes itself;
    * the session-2 tour closes (5 -> 6 -> 5; the scan stops at the
      first candidate, newest first, whose origin is the destination);
    * session 3 opens where session 2 ended (5), so it continues the
      stack; the stale session-2 candidates are cut at max_time and the
      session-3 tour (5 -> 7 -> 5) still closes.

    Tour ids run densely in (user, closing-trip) order; a trip's
    ``tour_id`` lists every tour it belongs to."""
    # staypoint id i -> location; users 1 and 2 share the pattern
    pairs = []
    trips_rows = []
    tid = 0
    for u in (1, 2):
        spb = u * 100

        def loc_pairs(k, o_loc, d_loc):
            pairs.append((spb + 2 * k, o_loc))
            pairs.append((spb + 2 * k + 1, d_loc))
            return spb + 2 * k, spb + 2 * k + 1

        t = 0
        k = 0

        def trip(o_loc, d_loc, dwell=30):
            nonlocal t, tid, k
            o_sp, d_sp = loc_pairs(k, o_loc, d_loc)
            trips_rows.append((tid, u, t, t + 60, o_sp, d_sp))
            tid += 1
            k += 1
            t += 60 + dwell
        # session 1: one 3-trip tour + an open chain
        trip(0, 1); trip(1, 2); trip(2, 0); trip(0, 3)
        t += 3000  # > max_time=1440 min
        # session 2 opens with a SELF-LOOP trip (5 -> 5) after a
        # location break (the last trip ended at 3)
        trip(5, 5)
        trip(5, 6); trip(6, 5)  # a real tour in session 2
        t += 3000
        # session 3 opens same-location as the last session-2 trip ended
        # (5): continuation appends to the stack
        trip(5, 7); trip(7, 5)

    sp = _mk_sp(spark, [(i, 1, 0, 10, 8.5, 47.4) for i, _ in pairs])
    locmap = {i: l for i, l in pairs}
    sp = sp.withColumn("location_id", F.udf(lambda i: locmap.get(i), "long")(F.col("id")))
    trips = _mk_trips(spark, trips_rows)

    # max_nr_gaps -> user 1's tours as (trips, location_id, origin sp,
    # destination sp, start min, end min); user 2's are the same with
    # trip ids + 9 and staypoint ids + 100
    user1_tours = {
        0: [([0, 1, 2], 0, 100, 105, 0, 240), ([5, 6], 5, 110, 113, 3450, 3600),
            ([7, 8], 5, 114, 117, 6630, 6780)],
        1: [([0, 1, 2], 0, 100, 105, 0, 240), ([4], 5, 108, 109, 3360, 3420),
            ([5, 6], 5, 110, 113, 3450, 3600), ([7, 8], 5, 114, 117, 6630, 6780)],
    }
    for gaps, user1 in user1_tours.items():
        expected = [
            (u, [m + 9 * (u - 1) for m in members], loc, o + 100 * (u - 1), d + 100 * (u - 1),
             T0 + timedelta(minutes=s), T0 + timedelta(minutes=e))
            for u in (1, 2)
            for members, loc, o, d, s, e in user1
        ]
        trips_out, tours = generate_tours(trips, staypoints=sp, max_nr_gaps=gaps)
        got = [
            (r.id, (r.user_id, r.trips, r.location_id, r.origin_staypoint_id,
                    r.destination_staypoint_id, r.started_at, r.finished_at))
            for r in tours.orderBy("id").collect()
        ]
        assert got == list(enumerate(expected)), f"max_nr_gaps={gaps}"
        links = {tid: set() for tid in range(18)}
        for tour_id, (_, members, *_rest) in enumerate(expected):
            for m in members:
                links[m].add(tour_id)
        got_links = {r.id: r.tour_id for r in trips_out.select("id", "tour_id").collect()}
        assert got_links == {
            tid: sorted(ts) if ts else None for tid, ts in links.items()
        }, f"max_nr_gaps={gaps}"


# -- journey flag (reference model/tours.py:25,30) -----------------------------


def _mk_tours(spark, rows):
    """(id, user, loc_or_None)"""
    data = [(i, u, T0, T0 + timedelta(minutes=60), loc) for i, u, loc in rows]
    return spark.createDataFrame(
        data,
        "id long, user_id long, started_at timestamp, finished_at timestamp, location_id long",
    )


def _mk_labeled_sp(spark, rows):
    """(id, user, loc, purpose)"""
    sp = _sp_with_locs(spark, [(i, loc) for i, _, loc, _ in rows])
    pmap = {i: p for i, _, loc, p in rows}
    umap = {i: u for i, u, _, _ in rows}
    return sp.withColumn("purpose", F.udf(lambda i: pmap.get(i), "string")(F.col("id"))).withColumn(
        "user_id", F.udf(lambda i: umap.get(i), "long")(F.col("id"))
    )


def test_flag_journeys_home_anchor(spark):
    from trackintel_spark.operators import flag_journeys

    # user 1 home = loc 100, user 2 home = loc 300
    sp = _mk_labeled_sp(
        spark,
        [
            (0, 1, 100, "home"),
            (1, 1, 200, "work"),
            (2, 1, 100, "home"),  # duplicate home staypoint: distinct() collapses
            (3, 2, 300, "home"),
            (4, 2, 100, None),  # loc 100 is NOT user 2's home
        ],
    )
    tours = _mk_tours(
        spark,
        [
            (0, 1, 100),  # anchored at user 1's home -> True
            (1, 1, 200),  # work anchor -> False
            (2, 2, 100),  # user 2 at loc 100: home only for user 1 -> False
            (3, 2, 300),  # user 2's home -> True
            (4, 2, None),  # geometry-mode tour -> NULL
        ],
    )
    out = {r.id: r.journey for r in flag_journeys(tours, sp).collect()}
    assert out == {0: True, 1: False, 2: False, 3: True, 4: None}
    # row count preserved (left join against a distinct home set)
    assert flag_journeys(tours, sp).count() == 5


def test_flag_journeys_requires_purpose(spark):
    from trackintel_spark.operators import flag_journeys

    tours = _mk_tours(spark, [(0, 1, 100)])
    sp = _sp_with_locs(spark, [(0, 100)])  # no purpose column
    with pytest.raises(AssertionError, match="purpose"):
        flag_journeys(tours, sp)
    with pytest.raises(AssertionError, match="location_id"):
        flag_journeys(tours.drop("location_id"), sp.withColumn("purpose", F.lit("home")))


def test_flag_journeys_end_to_end(spark):
    """generate_tours -> freq_method -> flag_journeys composition: the
    most-dwelled location becomes home, and only tours anchored there
    are journeys."""
    from trackintel_spark.operators import flag_journeys

    # home=100 (long dwells), shop=200. Tours: [home->shop->home] and a
    # nested shop loop [shop->shop].
    sp = _mk_sp(
        spark,
        [
            (0, 1, 0, 600, 8.5, 47.4),     # home, 10 h
            (1, 1, 660, 720, 8.6, 47.5),   # shop, 1 h
            (2, 1, 780, 840, 8.6, 47.5),   # shop again
            (3, 1, 900, 1500, 8.5, 47.4),  # home, 10 h
        ],
    ).withColumn("location_id", F.when(F.col("id").isin(0, 3), 100).otherwise(200).cast("long"))
    trips = _mk_trips(
        spark,
        [(0, 1, 600, 660, 0, 1), (1, 1, 720, 780, 1, 2), (2, 1, 840, 900, 2, 3)],
    )
    _, tours = generate_tours(trips, staypoints=sp)
    labeled = freq_method(sp)
    got = {tuple(r.trips): r.journey for r in flag_journeys(tours, labeled).collect()}
    assert got == {(1,): False, (0, 1, 2): True}


def test_flag_journeys_accessor(spark):
    from trackintel_spark.model.accessors import Tours

    sp = _mk_labeled_sp(spark, [(0, 1, 100, "home")])
    tours = _mk_tours(spark, [(0, 1, 100)])
    out = Tours(tours).flag_journeys(sp)
    assert out.df.collect()[0].journey is True


def test_scan_step_prunes_unreachable_front():
    """r12: with tours closing every 5 trips, the candidate stack must
    stay bounded by the max_time window (stale front entries are
    unreachable by the backward scan), not accrete the whole history —
    unbounded state in tours_stream_exact and O(n^2) batch work. The
    emitted tours are identical either way (pinned by the batch ==
    reference == stream parity suites and the generate_tours oracle)."""
    import time

    from trackintel_spark.operators.tours import _Trip, _scan_step

    candidates = []
    n = 20_000
    t0 = time.time()
    for i in range(n):
        o, d = i % 5, (i + 1) % 5
        start = i * 1200 * 1_000_000  # 20-min cadence
        rec = _Trip(i, start, start + 600_000_000, o, d, o, d, 0.0, 0.0, 0.0, 0.0)
        candidates, _members = _scan_step(candidates, rec, True, 100.0, 86400.0, 0)
        # window = 86400 s / 1200 s per trip = 72 candidates + slack
        assert len(candidates) <= 80, f"stack grew to {len(candidates)} at trip {i}"
    assert time.time() - t0 < 30, "scan_step quadratic regression"
