"""Regression anchors on the reference repo's real Geolife corpus.

The reference's checked-in golden (tests/data/geolife/
geolife_staypoints.csv) was generated by an older trackintel version —
no parameter combination of the CURRENT reference kernel reproduces it
(its first staypoint lasts 10 s, impossible with time_threshold=5 min
under preprocessing/positionfixes.py:519-525). What IS verifiable:
where the two kernels agree (the 2008-10-23 09:55:31 staypoint), this
engine matches the golden's centroid to full printed precision.

These tests pin THIS engine's output on the same corpus as the
regression anchor for future rounds.
"""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from trackintel_spark.operators import generate_staypoints, generate_triplegs
from trackintel_spark.sources import read_geolife
from tests.conftest import requires_reference

GEOLIFE_LONG = "/root/reference/tests/data/geolife_long"

pytestmark = requires_reference("geolife_long")


@pytest.fixture(scope="module")
def geolife_pfs(spark):
    return read_geolife(spark, GEOLIFE_LONG).persist()


def test_read_geolife_long(geolife_pfs):
    assert geolife_pfs.count() == 4241
    users = sorted(r.user_id for r in geolife_pfs.select("user_id").distinct().collect())
    assert users == [0, 1]


def test_staypoints_geolife_anchor(geolife_pfs):
    _, sp = generate_staypoints(geolife_pfs, dist_threshold=25, time_threshold=5, gap_threshold=15)
    rows = sp.orderBy("id").collect()
    assert len(rows) == 10
    first = rows[0]
    # this staypoint also appears in the reference's golden file (id 2
    # there) with the identical centroid — cross-version agreement point
    assert first.started_at == datetime(2008, 10, 23, 9, 55, 31)
    assert abs(first.geom.lon - 116.32205072222222) < 1e-12
    assert abs(first.geom.lat - 40.00933811111111) < 1e-12


def test_triplegs_geolife_anchor(geolife_pfs):
    pfs_sp, _ = generate_staypoints(geolife_pfs, dist_threshold=25, time_threshold=5, gap_threshold=15)
    pfs_out, tpls = generate_triplegs(pfs_sp, gap_threshold=15)
    n = tpls.count()
    assert n == 22
    # every leg has >= 2 member pfs and a valid vertex array
    bad = tpls.filter(F.size("geom") < 2).count()
    assert bad == 0
    linked = pfs_out.filter(F.col("tripleg_id").isNotNull()).count()
    assert linked >= 2 * n


@requires_reference("geolife_modes")
def test_geolife_modes_labels_reference_counts(spark):
    """Reference pins (tests/io/test_dataset_reader.py:141-145): users
    10 and 20 carry labels.txt with exactly 434 and 223 intervals; user
    178 has none. One distributed scan must reproduce that."""
    from pyspark.sql import functions as F

    from trackintel_spark.sources import read_geolife_labels

    labels = read_geolife_labels(spark, "/root/reference/tests/data/geolife_modes")
    counts = {r.user_id: r.n for r in labels.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert counts == {10: 434, 20: 223}
    assert labels.columns == ["user_id", "started_at", "finished_at", "mode"]
    assert labels.filter(F.col("started_at").isNull()).count() == 0


@requires_reference("geolife_modes")
def test_geolife_modes_end_to_end_matching(spark):
    """Reference pipeline on the real geolife_modes corpus
    (tests/io/test_dataset_reader.py:20-26, :183-190): read -> staypoints
    (25 m / 5 min) -> triplegs -> label matching. Every tripleg row is
    preserved and matched modes come from the corpus label set."""
    from pyspark.sql import functions as F

    from trackintel_spark.operators import generate_staypoints, generate_triplegs
    from trackintel_spark.sources import geolife_add_modes_to_triplegs, read_geolife, read_geolife_labels

    root = "/root/reference/tests/data/geolife_modes"
    pfs = read_geolife(spark, root)
    labels = read_geolife_labels(spark, root)
    pfs_sp, sp = generate_staypoints(pfs, dist_threshold=25, time_threshold=5)
    _, tpls = generate_triplegs(pfs_sp, sp)
    out = geolife_add_modes_to_triplegs(tpls, labels)

    n_tpls = tpls.count()
    assert out.count() == n_tpls  # matching never drops or duplicates triplegs
    assert out.select("id").distinct().count() == n_tpls
    matched = out.filter(F.col("mode").isNotNull())
    assert matched.count() > 0
    label_modes = {r.mode for r in labels.select("mode").distinct().collect()}
    assert {r.mode for r in matched.select("mode").distinct().collect()} <= label_modes
