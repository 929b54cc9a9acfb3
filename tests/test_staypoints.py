"""generate_staypoints tests mirroring the reference suite's patterns
(tests/preprocessing/test_positionfixes.py): hand fixtures with exact
expectations, degenerate thresholds, dedup, linkage."""

from datetime import datetime, timedelta

from pyspark.sql import functions as F

from tests.conftest import make_pfs
from trackintel_spark.operators import generate_staypoints

T0 = datetime(2024, 1, 1, 8, 0, 0)


def _ts(minutes):
    return (T0 + timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%SZ")


def _stay_then_move(spark):
    """user 1: 10 min at A (tiny jitter), quick transit, 10 min at B,
    then a far point that closes B. user 2: single pf (no staypoint)."""
    rows = []
    i = 0
    # stay at A: minutes 0..10, jitter < 10 m
    for m in range(0, 11, 2):
        rows.append((i, 1, _ts(m), 8.5 + 0.00001 * i, 47.4))
        i += 1
    # transit: far point at minute 12 (closes A)
    rows.append((i, 1, _ts(12), 8.6, 47.4))
    i += 1
    # stay at B: minutes 14..24
    for m in range(14, 25, 2):
        rows.append((i, 1, _ts(m), 8.7, 47.5))
        i += 1
    # far point at minute 26 closes B
    rows.append((i, 1, _ts(26), 8.8, 47.6))
    i += 1
    rows.append((i, 2, _ts(0), 1.0, 1.0))
    return make_pfs(spark, rows)


def test_two_staypoints_detected(spark):
    pfs = _stay_then_move(spark)
    pfs_out, sp = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, gap_threshold=60)
    got = sp.orderBy("id").collect()
    assert len(got) == 2
    a, b = got
    assert a.id == 0 and b.id == 1
    assert a.user_id == 1 and b.user_id == 1
    # finished_at = first pf OUTSIDE the staypoint
    assert a.started_at == T0
    assert a.finished_at == T0 + timedelta(minutes=12)
    assert b.started_at == T0 + timedelta(minutes=14)
    assert b.finished_at == T0 + timedelta(minutes=26)
    # centroid near the cluster
    assert abs(a.geom.lon - 8.5) < 0.001 and abs(a.geom.lat - 47.4) < 1e-9
    assert abs(b.geom.lon - 8.7) < 1e-9 and abs(b.geom.lat - 47.5) < 1e-9


def test_linkage_back_to_pfs(spark):
    pfs = _stay_then_move(spark)
    pfs_out, sp = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, gap_threshold=60)
    linked = {r.id: r.staypoint_id for r in pfs_out.collect()}
    # pfs 0..5 belong to staypoint 0 (the closing pf at minute 12 excluded)
    for i in range(6):
        assert linked[i] == 0
    assert linked[6] is None  # transit pf
    for i in range(7, 13):
        assert linked[i] == 1
    assert linked[13] is None


def test_gap_resets_anchor(spark):
    # stay at minutes 0-4, 20-min gap, stay at 24-28, far pf at 40.
    # The gap resets the anchor to minute 24: without the reset the
    # emitted staypoint would start at minute 0 (reference
    # preprocessing/positionfixes.py:513-516).
    rows = [(i, 1, _ts(m), 8.5, 47.4) for i, m in enumerate((0, 2, 4))]
    rows += [(i + 3, 1, _ts(m + 24), 8.5, 47.4) for i, m in enumerate((0, 2, 4))]
    rows.append((6, 1, _ts(40), 9.5, 48.4))
    pfs = make_pfs(spark, rows)
    _, sp = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, gap_threshold=15)
    got = sp.collect()
    assert len(got) == 1
    assert got[0].started_at == T0 + timedelta(minutes=24)
    assert got[0].finished_at == T0 + timedelta(minutes=40)


def test_huge_thresholds_no_staypoints(spark):
    pfs = _stay_then_move(spark)
    _, sp = generate_staypoints(pfs, dist_threshold=1e8, time_threshold=1e6)
    assert sp.count() == 0
    # pfs keep a (all-null) staypoint_id column
    pfs_out, _ = generate_staypoints(pfs, dist_threshold=1e8, time_threshold=1e6)
    assert "staypoint_id" in pfs_out.columns


def test_duplicates_dropped(spark):
    pfs = _stay_then_move(spark)
    dup = pfs.union(pfs.withColumn("id", F.col("id") + 100))
    _, sp = generate_staypoints(dup, dist_threshold=100, time_threshold=5, gap_threshold=60)
    _, sp_ref = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, gap_threshold=60)
    assert sp.count() == sp_ref.count()


def test_include_last(spark):
    rows = [(i, 1, _ts(m), 8.5, 47.4) for i, m in enumerate(range(0, 11, 2))]
    pfs = make_pfs(spark, rows)
    _, sp_no = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, include_last=False)
    _, sp_yes = generate_staypoints(pfs, dist_threshold=100, time_threshold=5, include_last=True)
    assert sp_no.count() == 0
    got = sp_yes.collect()
    assert len(got) == 1
    assert got[0].finished_at == T0 + timedelta(minutes=10)


def test_partition_count_invariance(spark):
    """Replaces the reference's parallel==serial test
    (test_positionfixes.py:97-107): results identical under different
    shuffle partitioning."""
    pfs = _stay_then_move(spark)
    _, sp1 = generate_staypoints(pfs.repartition(1), dist_threshold=100, time_threshold=5, gap_threshold=60)
    _, sp7 = generate_staypoints(pfs.repartition(7), dist_threshold=100, time_threshold=5, gap_threshold=60)
    assert sorted(map(str, sp1.collect())) == sorted(map(str, sp7.collect()))


def test_gap_separated_bursts_of_two_users(spark):
    """Three bursts per user, each closed by a far fix and separated by
    gaps > gap_threshold: every burst is one staypoint, whichever fixes
    of the user the kernel sees around it (a gap resets the anchor
    without emitting), and ids run dense in (user_id, started_at)
    order."""
    rows = []
    i = 0
    for user, offset in ((1, 0), (2, 30)):
        for block in range(3):
            t0 = offset + block * 60
            for m in range(0, 11, 2):
                rows.append((i, user, _ts(t0 + m), 8.5 + block * 0.2, 47.4))
                i += 1
            rows.append((i, user, _ts(t0 + 13), 8.5 + block * 0.2 + 0.1, 47.5))
            i += 1
    _, sp = generate_staypoints(make_pfs(spark, rows), dist_threshold=100, time_threshold=5, gap_threshold=15)
    got = [tuple(r) for r in sp.select("id", "user_id", "started_at", "finished_at").orderBy("id").collect()]
    t = lambda m: T0 + timedelta(minutes=m)  # noqa: E731
    assert got == [
        (0, 1, t(0), t(13)),
        (1, 1, t(60), t(73)),
        (2, 1, t(120), t(133)),
        (3, 2, t(30), t(43)),
        (4, 2, t(90), t(103)),
        (5, 2, t(150), t(163)),
    ]
