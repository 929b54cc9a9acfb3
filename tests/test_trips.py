"""generate_trips tests modeled on the reference's gap-golden scenario
(tests/data/trips/sp_tpls_gaps.csv semantics)."""

from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from trackintel_spark.operators import generate_trips

T0 = datetime(2024, 1, 1, 8, 0, 0)


def _mk_sp(spark, rows):
    """(id, user, start_min, end_min, is_activity, lon, lat)"""
    df = spark.createDataFrame(
        [(i, u, T0 + timedelta(minutes=s), T0 + timedelta(minutes=e), a, lon, lat) for i, u, s, e, a, lon, lat in rows],
        "id long, user_id long, started_at timestamp, finished_at timestamp, is_activity boolean, lon double, lat double",
    )
    return df.select("id", "user_id", "started_at", "finished_at", "is_activity",
                     F.struct("lon", "lat").alias("geom"))


def _mk_tpls(spark, rows):
    """(id, user, start_min, end_min, [(lon,lat)...])"""
    data = [
        (i, u, T0 + timedelta(minutes=s), T0 + timedelta(minutes=e), [{"lon": p[0], "lat": p[1]} for p in pts])
        for i, u, s, e, pts in rows
    ]
    return spark.createDataFrame(
        data,
        "id long, user_id long, started_at timestamp, finished_at timestamp, "
        "geom array<struct<lon:double,lat:double>>",
    )


def _basic(spark):
    # user 1: activity A (0-30) -> leg0 (31-40) -> staypoint non-act (41-45)
    #         -> leg1 (46-60) -> activity B (61-120) -> leg2 (125-130)
    #         -> [GAP > 15] -> leg3 (160-170) -> activity C (171-200)
    sp = _mk_sp(
        spark,
        [
            (0, 1, 0, 30, True, 8.50, 47.40),
            (1, 1, 41, 45, False, 8.55, 47.42),
            (2, 1, 61, 120, True, 8.60, 47.45),
            (3, 1, 171, 200, True, 8.80, 47.55),
        ],
    )
    tpls = _mk_tpls(
        spark,
        [
            (0, 1, 31, 40, [(8.50, 47.40), (8.55, 47.42)]),
            (1, 1, 46, 60, [(8.55, 47.42), (8.60, 47.45)]),
            (2, 1, 125, 130, [(8.60, 47.45), (8.65, 47.47)]),
            (3, 1, 160, 170, [(8.75, 47.52), (8.80, 47.55)]),
        ],
    )
    return sp, tpls


def test_trip_segmentation_and_ids(spark):
    sp, tpls = _basic(spark)
    sp_o, tpls_o, trips = generate_trips(sp, tpls, gap_threshold=15)
    got = trips.orderBy("id").collect()
    # trip0: leg0 + sp1 + leg1 (A -> B); trip1: leg2 (B -> gap);
    # trip2: leg3 (gap -> C)
    assert [r.id for r in got] == [0, 1, 2]
    assert got[0].origin_staypoint_id == 0 and got[0].destination_staypoint_id == 2
    assert got[0].started_at == T0 + timedelta(minutes=31)
    assert got[0].finished_at == T0 + timedelta(minutes=60)
    # trip1 ends at a gap -> unknown destination
    assert got[1].origin_staypoint_id == 2 and got[1].destination_staypoint_id is None
    # trip2 starts after the gap -> unknown origin
    assert got[2].origin_staypoint_id is None and got[2].destination_staypoint_id == 3


def test_geometry_imputation_at_gaps(spark):
    sp, tpls = _basic(spark)
    _, _, trips = generate_trips(sp, tpls, gap_threshold=15)
    got = {r.id: r for r in trips.collect()}
    # trip1 destination imputed from last coord of its last tripleg (leg2)
    assert got[1].geom.dest.lon == 8.65 and got[1].geom.dest.lat == 47.47
    # trip2 origin imputed from first coord of leg3
    assert got[2].geom.origin.lon == 8.75 and got[2].geom.origin.lat == 47.52
    # trip0 endpoints are the activity staypoint geometries
    assert got[0].geom.origin.lon == 8.50 and got[0].geom.dest.lon == 8.60


def _assert_links_match_endpoints(sp_o, trips):
    """An activity staypoint's prev/next trip is the trip whose
    destination/origin it is; every other staypoint has neither."""
    trips = trips.collect()
    arriving = {t.destination_staypoint_id: t.id for t in trips}
    leaving = {t.origin_staypoint_id: t.id for t in trips}
    for r in sp_o.collect():
        assert r.prev_trip_id == arriving.get(r.id), r
        assert r.next_trip_id == leaving.get(r.id), r
        if not r.is_activity:
            assert r.prev_trip_id is None and r.next_trip_id is None


def test_linkage_columns(spark):
    sp, tpls = _basic(spark)
    sp_o, tpls_o, trips = generate_trips(sp, tpls, gap_threshold=15)
    tpl_links = {r.id: r.trip_id for r in tpls_o.collect()}
    assert tpl_links == {0: 0, 1: 0, 2: 1, 3: 2}
    sp_rows = {r.id: r for r in sp_o.collect()}
    # non-activity staypoint 1 belongs to trip 0
    assert sp_rows[1].trip_id == 0
    # activity staypoints carry prev/next
    assert sp_rows[0].prev_trip_id is None and sp_rows[0].next_trip_id == 0
    assert sp_rows[2].prev_trip_id == 0 and sp_rows[2].next_trip_id == 1
    assert sp_rows[3].prev_trip_id == 2 and sp_rows[3].next_trip_id is None
    _assert_links_match_endpoints(sp_o, trips)

    # activity A, lone non-activity staypoint (its trip has no tripleg
    # and is dropped), activity B, leg, activity C, leg, gap, leg,
    # activity D
    sp = _mk_sp(
        spark,
        [
            (0, 1, 0, 30, True, 8.50, 47.40),
            (1, 1, 31, 40, False, 8.52, 47.41),
            (2, 1, 41, 90, True, 8.55, 47.42),
            (3, 1, 101, 150, True, 8.60, 47.45),
            (4, 1, 200, 240, True, 8.80, 47.55),
        ],
    )
    tpls = _mk_tpls(
        spark,
        [
            (0, 1, 91, 100, [(8.55, 47.42), (8.60, 47.45)]),
            (1, 1, 151, 155, [(8.60, 47.45), (8.65, 47.47)]),
            (2, 1, 185, 199, [(8.75, 47.52), (8.80, 47.55)]),
        ],
    )
    sp_o, tpls_o, trips = generate_trips(sp, tpls, gap_threshold=15)
    got = [(t.id, t.origin_staypoint_id, t.destination_staypoint_id) for t in trips.orderBy("id").collect()]
    assert got == [(0, 2, 3), (1, 3, None), (2, None, 4)]
    sp_rows = {r.id: r for r in sp_o.collect()}
    # A and B border only the dropped trip
    assert sp_rows[0].next_trip_id is None and sp_rows[2].prev_trip_id is None
    assert sp_rows[1].trip_id is None
    _assert_links_match_endpoints(sp_o, trips)


def test_empty_inputs(spark):
    sp_o, tpls_o, trips = generate_trips(_mk_sp(spark, []), _mk_tpls(spark, []), gap_threshold=15)
    assert (sp_o.count(), tpls_o.count(), trips.count()) == (0, 0, 0)
    assert sp_o.columns == [
        "id", "user_id", "started_at", "finished_at", "is_activity", "geom",
        "trip_id", "prev_trip_id", "next_trip_id",
    ]
    assert tpls_o.columns == ["id", "user_id", "started_at", "finished_at", "geom", "trip_id"]
    assert trips.dtypes == [
        ("id", "bigint"), ("user_id", "bigint"), ("started_at", "timestamp"), ("finished_at", "timestamp"),
        ("origin_staypoint_id", "bigint"), ("destination_staypoint_id", "bigint"),
        ("geom", "struct<origin:struct<lon:double,lat:double>,dest:struct<lon:double,lat:double>>"),
    ]


def test_user_with_triplegs_only(spark):
    # user 1 has two back-to-back legs and no staypoint; user 2 keeps
    # the staypoint input non-empty
    sp = _mk_sp(spark, [(0, 2, 0, 30, True, 1.0, 1.0)])
    tpls = _mk_tpls(
        spark,
        [
            (0, 1, 0, 10, [(8.50, 47.40), (8.55, 47.42)]),
            (1, 1, 12, 20, [(8.55, 47.42), (8.60, 47.45)]),
        ],
    )
    sp_o, tpls_o, trips = generate_trips(sp, tpls, gap_threshold=15)
    (t,) = trips.collect()
    assert (t.id, t.user_id, t.origin_staypoint_id, t.destination_staypoint_id) == (0, 1, None, None)
    assert (t.started_at, t.finished_at) == (T0 + timedelta(minutes=0), T0 + timedelta(minutes=20))
    # both endpoints imputed from the legs: first fix of the first,
    # last fix of the last
    assert (t.geom.origin.lon, t.geom.origin.lat) == (8.50, 47.40)
    assert (t.geom.dest.lon, t.geom.dest.lat) == (8.60, 47.45)
    assert {r.id: r.trip_id for r in tpls_o.collect()} == {0: 0, 1: 0}
    (s,) = sp_o.collect()
    assert (s.trip_id, s.prev_trip_id, s.next_trip_id) == (None, None, None)


def test_user_with_only_activities(spark):
    sp = _mk_sp(
        spark,
        [
            (0, 1, 0, 30, True, 8.5, 47.4),
            (1, 1, 31, 60, True, 8.6, 47.5),
            (2, 1, 200, 260, True, 8.7, 47.6),
        ],
    )
    tpls = _mk_tpls(spark, [(0, 2, 0, 10, [(1.0, 1.0), (1.1, 1.1)])])
    sp_o, tpls_o, trips = generate_trips(sp, tpls, gap_threshold=15)
    assert [t.user_id for t in trips.collect()] == [2]
    for r in sp_o.collect():
        assert (r.trip_id, r.prev_trip_id, r.next_trip_id) == (None, None, None)


def test_null_is_activity_counts_as_false(spark):
    rows = [
        (0, 1, 0, 30, True, 8.50, 47.40),
        (1, 1, 41, 45, None, 8.55, 47.42),
        (2, 1, 61, 120, True, 8.60, 47.45),
    ]
    tpls = _mk_tpls(
        spark,
        [
            (0, 1, 31, 40, [(8.50, 47.40), (8.55, 47.42)]),
            (1, 1, 46, 60, [(8.55, 47.42), (8.60, 47.45)]),
        ],
    )
    sp_null, _, trips_null = generate_trips(_mk_sp(spark, rows), tpls, gap_threshold=15)
    rows[1] = (1, 1, 41, 45, False, 8.55, 47.42)
    sp_false, _, trips_false = generate_trips(_mk_sp(spark, rows), tpls, gap_threshold=15)
    (t,) = trips_null.collect()
    assert (t.id, t.origin_staypoint_id, t.destination_staypoint_id) == (0, 0, 2)
    assert trips_null.collect() == trips_false.collect()
    links = {r.id: (r.trip_id, r.prev_trip_id, r.next_trip_id) for r in sp_null.collect()}
    assert links == {0: (None, None, 0), 1: (0, None, None), 2: (None, 0, None)}
    assert links == {r.id: (r.trip_id, r.prev_trip_id, r.next_trip_id) for r in sp_false.collect()}


def test_trip_without_triplegs_dropped(spark):
    # activity, lone non-activity staypoint, activity -> no trip at all
    sp = _mk_sp(
        spark,
        [
            (0, 1, 0, 30, True, 8.5, 47.4),
            (1, 1, 31, 40, False, 8.55, 47.42),
            (2, 1, 41, 90, True, 8.6, 47.45),
        ],
    )
    tpls = _mk_tpls(spark, [(0, 2, 0, 10, [(1.0, 1.0), (1.1, 1.1)])])
    _, _, trips = generate_trips(sp, tpls, gap_threshold=15)
    assert trips.filter(F.col("user_id") == 1).count() == 0
    assert trips.filter(F.col("user_id") == 2).count() == 1


def test_requires_is_activity(spark):
    sp, tpls = _basic(spark)
    import pytest

    with pytest.raises(AttributeError, match="is_activity"):
        generate_trips(sp.drop("is_activity"), tpls)


def test_trips_partition_count_invariance(spark):
    sp, tpls = _basic(spark)
    outs = []
    for n in (1, 7):
        _, _, trips = generate_trips(sp.repartition(n), tpls.repartition(n), gap_threshold=15)
        outs.append(sorted(map(str, trips.drop("geom").collect())))
    assert outs[0] == outs[1]


@pytest.mark.slow
def test_generate_trips_randomized_duckdb_fuzz(spark):
    """200 independent random unit streams (one per user) x 3 gap
    thresholds, checked against a DuckDB re-implementation of the
    reference boundary rules (the generate_trips oracle SQL of
    __spark_entry__.py generalized to arbitrary staypoint/tripleg
    inputs). Random activity flags, random staypoint/tripleg
    interleavings (consecutive sp/sp and tpl/tpl runs included), and
    inter-unit spacings chosen to straddle every threshold in the
    sweep — the tours fuzz pattern (which caught a real salting
    defect) applied to trip assembly."""
    import random

    import duckdb
    import pandas as pd

    sp_rows, tpl_rows = [], []
    sp_id = tpl_id = 0
    for u in range(200):
        rng = random.Random(10_000 + u)
        t = float(rng.choice((0, 3)))
        for _ in range(25):
            dur = rng.choice((5, 10, 30, 60))
            if rng.random() < 0.5:
                sp_rows.append(
                    (sp_id, u, t, t + dur, rng.random() < 0.4)
                )
                sp_id += 1
            else:
                tpl_rows.append((tpl_id, u, t, t + dur))
                tpl_id += 1
            # spacings straddle the 15/60/720-minute threshold sweep
            t += dur + rng.choice((0, 1, 5, 20, 90, 300, 800))

    sp_pdf = pd.DataFrame(
        sp_rows, columns=["id", "user_id", "start_min", "end_min", "is_activity"]
    )
    tpl_pdf = pd.DataFrame(tpl_rows, columns=["id", "user_id", "start_min", "end_min"])
    for pdf in (sp_pdf, tpl_pdf):
        pdf["started_at"] = pd.Timestamp(T0) + pd.to_timedelta(pdf["start_min"], unit="m")
        pdf["finished_at"] = pd.Timestamp(T0) + pd.to_timedelta(pdf["end_min"], unit="m")

    sp_df = _mk_sp(
        spark,
        [(r.id, r.user_id, r.start_min, r.end_min, bool(r.is_activity), 8.5, 47.4)
         for r in sp_pdf.itertuples()],
    )
    tpl_df = _mk_tpls(
        spark,
        [(r.id, r.user_id, r.start_min, r.end_min, [(8.5, 47.4), (8.6, 47.5)])
         for r in tpl_pdf.itertuples()],
    )

    con = duckdb.connect()
    con.register("sp", sp_pdf)
    con.register("tpl", tpl_pdf)

    def oracle(gap_min: float) -> set:
        rel = con.execute(f"""
            WITH sp_tpls AS (
                SELECT user_id, started_at, finished_at, 'staypoint' AS type,
                       is_activity, id AS sp_tpls_id FROM sp
                UNION ALL
                SELECT user_id, started_at, finished_at, 'tripleg', FALSE, id FROM tpl
            ),
            staged AS (
                SELECT *,
                    ROW_NUMBER() OVER w = 1 AS frst,
                    COALESCE(LEAD(is_activity) OVER w, FALSE) AS next_act,
                    COALESCE(EPOCH(LEAD(started_at) OVER w - finished_at) > {gap_min} * 60,
                             FALSE) AS gap
                FROM sp_tpls
                WINDOW w AS (PARTITION BY user_id ORDER BY started_at, type, sp_tpls_id NULLS FIRST)
            ),
            staged2 AS (
                SELECT *,
                    (frst OR (is_activity AND NOT next_act)
                          OR COALESCE(LAG(gap) OVER w, FALSE)) AS new_trip
                FROM staged
                WINDOW w AS (PARTITION BY user_id ORDER BY started_at, type, sp_tpls_id NULLS FIRST)
            ),
            seg AS (
                SELECT *, SUM(CASE WHEN new_trip THEN 1 ELSE 0 END)
                            OVER (PARTITION BY user_id ORDER BY started_at, type, sp_tpls_id NULLS FIRST
                                  ROWS UNBOUNDED PRECEDING) AS temp_trip
                FROM staged2
            ),
            trips_raw AS (
                SELECT user_id, temp_trip,
                       MIN(started_at) AS started_at, MAX(finished_at) AS finished_at
                FROM seg WHERE NOT is_activity
                GROUP BY user_id, temp_trip
                HAVING COUNT(*) FILTER (type = 'tripleg') > 0
            ),
            trips_id AS (
                SELECT ROW_NUMBER() OVER (ORDER BY user_id, temp_trip) - 1 AS id, *
                FROM trips_raw
            ),
            inter AS (
                SELECT user_id, started_at, 'trip' AS type,
                       CAST(NULL AS BIGINT) AS sp_tpls_id, id AS trip_id
                FROM trips_id
                UNION ALL
                SELECT user_id, started_at, 'staypoint', sp_tpls_id, CAST(NULL AS BIGINT)
                FROM seg WHERE is_activity AND type = 'staypoint'
                UNION ALL
                SELECT user_id, finished_at + INTERVAL ({gap_min} / 2) MINUTE, 'gap',
                       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
                FROM seg WHERE gap
            ),
            linked AS (
                SELECT *,
                    LAG(sp_tpls_id) OVER wi AS origin_staypoint_id,
                    LEAD(sp_tpls_id) OVER wi AS destination_staypoint_id
                FROM inter
                WINDOW wi AS (PARTITION BY user_id ORDER BY started_at, type, sp_tpls_id NULLS FIRST)
            )
            SELECT t.user_id, t.started_at, t.finished_at,
                   l.origin_staypoint_id, l.destination_staypoint_id
            FROM linked l JOIN trips_id t ON l.trip_id = t.id
            WHERE l.type = 'trip'
        """).fetchall()
        return {tuple(r) for r in rel}

    for gap_min in (15, 60, 720):
        _, _, trips = generate_trips(sp_df, tpl_df, gap_threshold=gap_min, add_geometry=False)
        got = {
            (r.user_id, r.started_at, r.finished_at,
             r.origin_staypoint_id, r.destination_staypoint_id)
            for r in trips.collect()
        }
        exp = oracle(gap_min)
        assert len(exp) > 1000, f"vacuous fuzz at gap={gap_min}"
        assert got == exp, (
            f"gap={gap_min}: {len(got - exp)} extra, {len(exp - got)} missing; "
            f"sample extra={sorted(got - exp)[:3]} missing={sorted(exp - got)[:3]}"
        )
