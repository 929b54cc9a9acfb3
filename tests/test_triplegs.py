"""generate_triplegs tests: segmentation triggers, <2-pf legs dropped,
zero-extent geometry dropped, case-2 interval matching."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from tests.conftest import make_pfs
from trackintel_spark.operators import generate_staypoints, generate_triplegs

T0 = datetime(2024, 1, 1, 8, 0, 0)


def _ts(minutes):
    return (T0 + timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%SZ")


def _pipeline_fixture(spark):
    """stay A (0-10), transit pfs (12,13,14 distinct points), stay B (16-26),
    closing pf 28; staypoints from generate_staypoints."""
    rows = []
    i = 0
    for m in range(0, 11, 2):
        rows.append((i, 1, _ts(m), 8.5, 47.4))
        i += 1
    for k, m in enumerate((12, 13, 14)):
        rows.append((i, 1, _ts(m), 8.52 + 0.01 * k, 47.42))
        i += 1
    for m in range(16, 27, 2):
        rows.append((i, 1, _ts(m), 8.7, 47.5))
        i += 1
    rows.append((i, 1, _ts(28), 8.9, 47.7))
    return make_pfs(spark, rows)


def test_one_leg_between_two_staypoints(spark):
    pfs = _pipeline_fixture(spark)
    pfs_sp, sp = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, gap_threshold=60)
    pfs_out, tpls = generate_triplegs(pfs_sp, gap_threshold=60)
    legs = tpls.orderBy("id").collect()
    assert len(legs) == 1
    leg = legs[0]
    assert leg.id == 0
    # leg spans the three transit pfs: started_at = first pf after sp A
    assert leg.started_at == T0 + timedelta(minutes=12)
    assert leg.finished_at == T0 + timedelta(minutes=14)
    assert [(p.lon, p.lat) for p in leg.geom] == [(8.52, 47.42), (8.53, 47.42), (8.54, 47.42)]
    linked = {r.id: r.tripleg_id for r in pfs_out.collect()}
    assert linked[6] == 0 and linked[7] == 0 and linked[8] == 0
    assert linked[0] is None  # staypoint member
    # trailing single pf after staypoint B: 1-pf leg -> dropped
    assert linked[15] is None


def test_gap_splits_legs(spark):
    rows = [
        (0, 1, _ts(0), 8.50, 47.40),
        (1, 1, _ts(2), 8.51, 47.41),
        (2, 1, _ts(4), 8.52, 47.42),
        # 30-min gap
        (3, 1, _ts(34), 8.60, 47.50),
        (4, 1, _ts(36), 8.61, 47.51),
    ]
    pfs = make_pfs(spark, rows).withColumn("staypoint_id", F.lit(None).cast("long"))
    _, tpls = generate_triplegs(pfs, gap_threshold=15)
    legs = tpls.orderBy("id").collect()
    assert len(legs) == 2
    assert legs[0].finished_at == T0 + timedelta(minutes=4)
    assert legs[1].started_at == T0 + timedelta(minutes=34)


def test_user_change_splits_legs(spark):
    rows = [
        (0, 1, _ts(0), 8.50, 47.40),
        (1, 1, _ts(2), 8.51, 47.41),
        (2, 2, _ts(1), 9.50, 48.40),
        (3, 2, _ts(3), 9.51, 48.41),
    ]
    pfs = make_pfs(spark, rows).withColumn("staypoint_id", F.lit(None).cast("long"))
    _, tpls = generate_triplegs(pfs, gap_threshold=15)
    legs = tpls.orderBy("id").collect()
    assert [(r.id, r.user_id) for r in legs] == [(0, 1), (1, 2)]


def test_zero_extent_leg_dropped(spark):
    rows = [
        (0, 1, _ts(0), 8.50, 47.40),
        (1, 1, _ts(2), 8.50, 47.40),  # identical points -> invalid LineString
    ]
    pfs = make_pfs(spark, rows).withColumn("staypoint_id", F.lit(None).cast("long"))
    pfs_out, tpls = generate_triplegs(pfs, gap_threshold=15)
    assert tpls.count() == 0
    assert all(r.tripleg_id is None for r in pfs_out.collect())


def test_case2_staypoints_without_link(spark):
    pfs = _pipeline_fixture(spark)
    pfs_sp, sp = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, gap_threshold=60)
    # strip the staypoint_id column: case 2 must re-derive membership
    pfs_nolink = pfs_sp.drop("staypoint_id")
    _, tpls_case2 = generate_triplegs(pfs_nolink, staypoints=sp, gap_threshold=60)
    _, tpls_case1 = generate_triplegs(pfs_sp, gap_threshold=60)
    got1 = [(r.id, r.started_at, r.finished_at) for r in tpls_case1.orderBy("id").collect()]
    got2 = [(r.id, r.started_at, r.finished_at) for r in tpls_case2.orderBy("id").collect()]
    assert got1 == got2


def test_overlap_staypoints_method(spark):
    pfs = _pipeline_fixture(spark)
    pfs_sp, sp = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, gap_threshold=60)
    pfs_b, tpls_b = generate_triplegs(pfs_sp, gap_threshold=60)
    pfs_o, tpls_o = generate_triplegs(pfs_sp, staypoints=sp, method="overlap_staypoints", gap_threshold=60)
    leg_b = tpls_b.orderBy("id").collect()[0]
    leg_o = tpls_o.orderBy("id").collect()[0]
    # started_at unchanged; finished_at extends to the first pf of the
    # following staypoint (reference docstring :227-228)
    assert leg_o.started_at == leg_b.started_at
    assert leg_o.finished_at > leg_b.finished_at
    assert leg_o.finished_at == T0 + timedelta(minutes=16)
    # geometry shares endpoints with the bounding staypoint centroids
    sps = {r.id: r for r in sp.collect()}
    assert abs(leg_o.geom[0].lon - sps[0].geom.lon) < 1e-9
    assert abs(leg_o.geom[-1].lon - sps[1].geom.lon) < 1e-9
    # between-method geometry does NOT include staypoint coords
    assert leg_b.geom[0].lon != leg_o.geom[0].lon


def test_overlap_staypoints_requires_inputs(spark):
    import pytest

    pfs = _pipeline_fixture(spark)
    pfs_sp, sp = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, gap_threshold=60)
    with pytest.raises(TypeError, match="staypoints input"):
        generate_triplegs(pfs_sp, method="overlap_staypoints")
    with pytest.raises(TypeError, match="staypoint_id column"):
        generate_triplegs(pfs_sp.drop("staypoint_id"), staypoints=sp, method="overlap_staypoints")


def _pin_fixture(spark):
    """Two users with staypoint_id set by hand (gap_threshold 15 min).

    user 1: leg 0 (0-2 min) | gap | sp 0, sp 1 back to back | leg 1 |
    sp 2 | a 1-pf run | sp 3 | a zero-extent 2-pf run (id 2, dropped) |
    sp 4 | gap | leg 3.
    user 2 starts inside sp 5 | leg 4 | sp 6 of ONE pf | leg 5 | sp 7.
    Staypoint geometries differ from their members' coordinates.
    """
    # (id, user, minute, lon, lat, staypoint_id)
    u1 = [
        (0, 0, 8.50, None), (1, 1, 8.51, None), (2, 2, 8.52, None),
        (3, 30, 8.55, 0), (4, 32, 8.55, 0), (5, 34, 8.57, 1), (6, 36, 8.57, 1),
        (7, 38, 8.60, None), (8, 39, 8.61, None),
        (9, 40, 8.65, 2), (10, 42, 8.65, 2),
        (11, 44, 8.70, None),
        (12, 46, 8.75, 3), (13, 48, 8.75, 3),
        (14, 50, 8.80, None), (15, 51, 8.80, None),
        (16, 52, 8.85, 4), (17, 54, 8.85, 4),
        (18, 80, 8.90, None), (19, 81, 8.91, None), (20, 82, 8.92, None),
    ]
    u2 = [
        (21, 0, 9.50, 5), (22, 2, 9.50, 5),
        (23, 4, 9.52, None), (24, 5, 9.53, None),
        (25, 6, 9.55, 6),
        (26, 7, 9.57, None), (27, 8, 9.58, None),
        (28, 9, 9.60, 7), (29, 11, 9.60, 7),
    ]
    rows = [(i, 1, m, lon, 47.4, s) for i, m, lon, s in u1] + [(i, 2, m, lon, 47.6, s) for i, m, lon, s in u2]
    pfs = make_pfs(spark, [(i, u, _ts(m), lon, lat) for i, u, m, lon, lat, _ in rows])
    sp_of = spark.createDataFrame([(r[0], r[5]) for r in rows], "id long, staypoint_id long")
    pfs = pfs.join(sp_of, on="id")
    # [started_at, finished_at): finished_at is the first pf outside
    spans = [(0, 1, 30, 34), (1, 1, 34, 38), (2, 1, 40, 44), (3, 1, 46, 50), (4, 1, 52, 80),
             (5, 2, 0, 4), (6, 2, 6, 7), (7, 2, 9, 12)]
    sp = spark.createDataFrame(
        [(i, u, _ts(a), _ts(b), 10.0 + i, 50.0) for i, u, a, b in spans],
        "id long, user_id long, started_at string, finished_at string, lon double, lat double",
    ).select(
        "id", "user_id", F.to_timestamp("started_at").alias("started_at"),
        F.to_timestamp("finished_at").alias("finished_at"), F.struct("lon", "lat").alias("geom"),
    )
    return pfs, sp


def _pinned(pfs_out, tpls):
    legs = [
        (r.id, r.user_id, r.started_at, r.finished_at, [(p.lon, p.lat) for p in r.geom])
        for r in tpls.orderBy("id").collect()
    ]
    links = {r.id: r.tripleg_id for r in pfs_out.collect()}
    return legs, [links[i] for i in range(30)]


def test_overlap_and_case2_pinned_rows(spark):
    """Full leg rows and pf links for both methods and the case-2 form,
    checked by hand against the overlap rules: a staypoint's first pf
    joins the leg before it (time and geometry) unless a gap precedes
    it; its last pf joins the leg after it (geometry only, as the
    staypoint's point) unless a gap follows or it already joined the
    leg before; dropped legs (1 pf, zero extent) extend nothing."""
    pfs, sp = _pin_fixture(spark)
    m = lambda k: T0 + timedelta(minutes=k)  # noqa: E731
    s = lambda i: (10.0 + i, 50.0)  # noqa: E731 — staypoint i's point
    between = [
        (0, 1, m(0), m(2), [(8.50, 47.4), (8.51, 47.4), (8.52, 47.4)]),
        (1, 1, m(38), m(39), [(8.60, 47.4), (8.61, 47.4)]),
        # id 2 is the zero-extent leg: dropped after numbering
        (3, 1, m(80), m(82), [(8.90, 47.4), (8.91, 47.4), (8.92, 47.4)]),
        (4, 2, m(4), m(5), [(9.52, 47.6), (9.53, 47.6)]),
        (5, 2, m(7), m(8), [(9.57, 47.6), (9.58, 47.6)]),
    ]
    between_links = [0, 0, 0] + [None] * 4 + [1, 1] + [None] * 9 + [3, 3, 3] + [None] * 2 + [4, 4, None, 5, 5, None, None]
    overlap = [
        (0, 1, m(0), m(2), between[0][4]),
        (1, 1, m(38), m(40), [s(1), (8.60, 47.4), (8.61, 47.4), s(2)]),
        (3, 1, m(80), m(82), between[2][4]),
        (4, 2, m(4), m(6), [s(5), (9.52, 47.6), (9.53, 47.6), s(6)]),
        (5, 2, m(7), m(9), [(9.57, 47.6), (9.58, 47.6), s(7)]),
    ]
    overlap_links = [0, 0, 0] + [None] * 3 + [1, 1, 1, 1] + [None] * 8 + [3, 3, 3] + [None, 4, 4, 4, 4, 5, 5, 5, None]

    got_b = _pinned(*generate_triplegs(pfs, gap_threshold=15))
    assert got_b == (between, between_links)
    pfs_o, tpls_o = generate_triplegs(pfs, staypoints=sp, method="overlap_staypoints", gap_threshold=15)
    assert _pinned(pfs_o, tpls_o) == (overlap, overlap_links)
    pfs_2, tpls_2 = generate_triplegs(pfs.drop("staypoint_id"), staypoints=sp, gap_threshold=15)
    assert _pinned(pfs_2, tpls_2) == (between, between_links)
    assert pfs_2.columns == ["id", "user_id", "tracked_at", "geom", "tripleg_id"]
    assert pfs_o.columns == pfs.columns + ["tripleg_id"]
