"""CSV/WKT round-trips, geolife reader, mode matching, streaming sessionization."""

import os
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from trackintel_spark.sources import (
    geolife_add_modes_to_triplegs,
    read_geolife,
    read_positionfixes_csv,
    read_staypoints_csv,
    read_tours_csv,
    read_triplegs_csv,
    write_positionfixes_csv,
    write_staypoints_csv,
    write_triplegs_csv,
    write_tours_csv,
)
from trackintel_spark.streaming import sessionize_stream, staypoints_stream
from tests.conftest import requires_reference

T0 = datetime(2024, 1, 1, 8, 0, 0)


def test_positionfixes_csv_roundtrip(spark, tmp_path):
    p = str(tmp_path / "pfs_csv")
    src = spark.createDataFrame(
        [(0, 1, T0, 8.5, 47.4), (1, 1, T0 + timedelta(minutes=5), 8.6, 47.5)],
        "id long, user_id long, tracked_at timestamp, lon double, lat double",
    ).select("id", "user_id", "tracked_at", F.struct("lon", "lat").alias("geom"))
    write_positionfixes_csv(src, p)
    back = read_positionfixes_csv(spark, p)
    rows = {r.id: r for r in back.collect()}
    assert rows[0].geom.lon == 8.5 and rows[1].geom.lat == 47.5
    assert rows[0].tracked_at == T0


def test_staypoints_wkt_roundtrip(spark, tmp_path):
    p = str(tmp_path / "sp_csv")
    src = spark.createDataFrame(
        [(0, 1, T0, T0 + timedelta(minutes=30), 8.5, 47.4)],
        "id long, user_id long, started_at timestamp, finished_at timestamp, lon double, lat double",
    ).select("id", "user_id", "started_at", "finished_at", F.struct("lon", "lat").alias("geom"))
    write_staypoints_csv(src, p)
    back = read_staypoints_csv(spark, p)
    (row,) = back.collect()
    assert row.geom.lon == 8.5 and row.geom.lat == 47.4


def test_triplegs_wkt_roundtrip(spark, tmp_path):
    p = str(tmp_path / "tpls_csv")
    src = spark.createDataFrame(
        [(0, 1, T0, T0 + timedelta(minutes=30), [{"lon": 8.5, "lat": 47.4}, {"lon": 8.6, "lat": 47.5}])],
        "id long, user_id long, started_at timestamp, finished_at timestamp, geom array<struct<lon:double,lat:double>>",
    )
    write_triplegs_csv(src, p)
    back = read_triplegs_csv(spark, p)
    (row,) = back.collect()
    assert [(v.lon, v.lat) for v in row.geom] == [(8.5, 47.4), (8.6, 47.5)]


def test_tours_trips_list_roundtrip(spark, tmp_path):
    p = str(tmp_path / "tours_csv")
    src = spark.createDataFrame(
        [(0, 1, T0, T0 + timedelta(hours=3), [3, 5, 7])],
        "id long, user_id long, started_at timestamp, finished_at timestamp, trips array<bigint>",
    )
    write_tours_csv(src, p)
    back = read_tours_csv(spark, p)
    (row,) = back.collect()
    assert row.trips == [3, 5, 7]


def test_read_geolife(spark, tmp_path):
    root = tmp_path / "geolife" / "010" / "Trajectory"
    os.makedirs(root)
    header = "Geolife trajectory\nWGS 84\nAltitude is in Feet\nReserved 3\n0,2,255,My Track,0,0,2,8421376\n0\n"
    rows = [
        "39.984702,116.318417,0,492,39744.245,2008-10-23,05:53:05",
        "39.984683,116.31845,0,492,39744.245,2008-10-23,05:53:10",
    ]
    (root / "20081023055305.plt").write_text(header + "\n".join(rows) + "\n")
    pfs = read_geolife(spark, str(tmp_path / "geolife"))
    got = pfs.orderBy("id").collect()
    assert len(got) == 2
    assert got[0].user_id == 10
    assert abs(got[0].geom.lat - 39.984702) < 1e-9
    assert abs(got[0].elevation - 492 * 0.3048) < 1e-9
    assert got[0].tracked_at == datetime(2008, 10, 23, 5, 53, 5)
    assert got[0].id == 0 and got[1].id == 1


def test_geolife_mode_matching(spark):
    tpls = spark.createDataFrame(
        [
            (0, 1, T0, T0 + timedelta(minutes=30), [{"lon": 8.5, "lat": 47.4}, {"lon": 8.6, "lat": 47.5}]),
            (1, 1, T0 + timedelta(hours=5), T0 + timedelta(hours=6), [{"lon": 8.5, "lat": 47.4}, {"lon": 8.6, "lat": 47.5}]),
        ],
        "id long, user_id long, started_at timestamp, finished_at timestamp, geom array<struct<lon:double,lat:double>>",
    )
    labels = spark.createDataFrame(
        [(1, T0 + timedelta(minutes=5), T0 + timedelta(minutes=25), "walk")],
        "user_id long, started_at timestamp, finished_at timestamp, mode string",
    )
    out = {r.id: r.mode for r in geolife_add_modes_to_triplegs(tpls, labels).collect()}
    assert out[0] == "walk"  # 20/30 overlap >= 0.5
    assert out[1] is None


def test_sessionize_stream_batch_semantics(spark):
    ev = spark.createDataFrame(
        [
            (1, T0), (1, T0 + timedelta(minutes=10)),   # session 1
            (1, T0 + timedelta(minutes=90)),             # session 2 (gap 80 > 30)
            (2, T0),                                     # other user
        ],
        "user_id long, ts timestamp",
    )
    got = sessionize_stream(ev, gap_minutes=30).orderBy("user_id", "started_at").collect()
    assert len(got) == 3
    assert got[0].n_events == 2
    assert got[0].started_at == T0


def test_staypoints_stream_batch_semantics(spark):
    pfs = spark.createDataFrame(
        [
            (0, 1, T0, 8.5, 47.4),
            (1, 1, T0 + timedelta(minutes=5), 8.50001, 47.4),  # same cell
            (2, 1, T0 + timedelta(minutes=10), 9.5, 48.4),     # cell change
        ],
        "id long, user_id long, tracked_at timestamp, lon double, lat double",
    ).select("id", "user_id", "tracked_at", F.struct("lon", "lat").alias("geom"))
    got = staypoints_stream(pfs, cell_size_m=100, gap_minutes=15).orderBy("started_at").collect()
    assert len(got) == 2
    assert got[0].n_pfs == 2


def test_staypoints_stream_streaming_mode(spark, tmp_path):
    """End-to-end streaming: file source -> session windows -> memory sink."""
    src_dir = tmp_path / "stream_src"
    os.makedirs(src_dir)
    lines = [
        f'{{"user_id": 1, "tracked_at": "2024-01-01T08:{m:02d}:00Z", "lon": 8.5, "lat": 47.4}}'
        for m in (0, 5, 10)
    ]
    (src_dir / "batch1.json").write_text("\n".join(lines))
    stream = (
        spark.readStream.schema("user_id long, tracked_at timestamp, lon double, lat double")
        .json(str(src_dir))
        .select("user_id", "tracked_at", F.struct("lon", "lat").alias("geom"))
    )
    out = staypoints_stream(stream, cell_size_m=100, gap_minutes=15)
    q = (
        out.writeStream.format("memory")
        .queryName("sp_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM sp_stream_test").collect()
    # session still open (no watermark passed) -> append emits nothing yet,
    # but the query must run without error; complete-mode check:
    q2 = (
        staypoints_stream(stream, cell_size_m=100, gap_minutes=15)
        .writeStream.format("memory")
        .queryName("sp_stream_test2")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    rows2 = spark.sql("SELECT * FROM sp_stream_test2").collect()
    assert len(rows2) == 1 and rows2[0].n_pfs == 3


@requires_reference("gpx_data")
def test_read_gpx_reference_data(spark):
    path = "/root/reference/tests/data/gpx_data"
    from trackintel_spark.sources import read_gpx

    pfs = read_gpx(spark, path)
    rows = pfs.orderBy("id").collect()
    assert len(rows) == 3
    assert all(r.user_id == 0 for r in rows)  # single user (reference :735)
    assert [r.track_fid for r in rows] == [0, 1, 1]  # tracks numbered across files
    assert rows[0].geom.lat == 47.0 and rows[0].elevation == 1000.0
    assert rows[0].tracked_at == datetime(2023, 11, 8, 10, 0, 0)


def test_load_table_self_heals_bare_session(spark):
    """The correctness driver hands us a session WITHOUT our confs set.

    load_table must self-configure (all confs are runtime-settable) so
    the driver parquet reads as plain `timestamp` whichever encoding the
    files ship: nanos (PARQUET_TYPE_ILLEGAL without nanosAsLong — the
    round-1 driver failure) or micros-without-timezone (TIMESTAMP_NTZ
    under default NTZ inference — the round-2 regeneration).
    """
    from pyspark.sql import functions as F

    from trackintel_spark.sources.testdata import load_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = load_table(spark, "/root/testdata/sf0.001", "events")
        assert df.limit(1).count() == 1
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        # numeric casts on the timestamp must resolve (fails on NTZ)
        df.select(F.col("ts").cast("double")).limit(1).collect()
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_load_table_ntz_cast_fallback(spark):
    """If NTZ inference can't be disabled before the read, load_table's
    dtype fixup must still deliver `timestamp` (cast path)."""
    from trackintel_spark.sources.testdata import _TS_COLS

    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try:
        raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        if dict(raw.dtypes)["ts"] != "timestamp_ntz":
            return  # nanos-era files: fallback path not reachable
        fixed = raw.withColumn("ts", raw["ts"].cast("timestamp"))
        assert dict(fixed.dtypes)["ts"] == "timestamp"
        assert "ts" in _TS_COLS["events"]
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def test_load_table_handles_every_epoch_unit(spark, tmp_path):
    """Testdata regenerations have switched timestamp encodings between
    rounds; integer epoch columns must convert by sampled magnitude —
    seconds, millis, micros, nanos all land on the same instant."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from trackintel_spark.sources.testdata import load_table

    base = int(
        datetime.datetime(2024, 5, 1, 12, 0, 0, tzinfo=datetime.timezone.utc).timestamp()
    )
    for unit, mult in [("s", 1), ("ms", 10**3), ("us", 10**6), ("ns", 10**9)]:
        d = tmp_path / unit
        d.mkdir()
        t = pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([base * mult], pa.int64()),
                "user_id": pa.array([7], pa.int64()),
            }
        )
        pq.write_table(t, str(d / "events.parquet"))
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", unit
        got = df.select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).first()[0]
        assert got == "2024-05-01 12:00:00", (unit, got)


@requires_reference(
    *(f"{e}{m}.csv" for e in ("positionfixes", "staypoints", "triplegs", "trips", "locations")
      for m in ("", "_mod_columns"))
)
def test_reference_shipped_csv_fixtures_read(spark):
    """Every CSV fixture the reference ships (tests/data/*.csv) must read
    into a validated entity frame — including the *_mod_columns variants
    through the reference's rename-kwarg convention (io/file.py:60-63)."""
    from pyspark.sql import functions as F

    from trackintel_spark.sources import (
        read_locations_csv,
        read_positionfixes_csv,
        read_staypoints_csv,
        read_tours_csv,
        read_triplegs_csv,
        read_trips_csv,
    )

    D = "/root/reference/tests/data"

    pfs = read_positionfixes_csv(spark, f"{D}/positionfixes.csv")
    assert pfs.count() == 6 and dict(pfs.dtypes)["tracked_at"] == "timestamp"
    pfs_mod = read_positionfixes_csv(
        spark, f"{D}/positionfixes_mod_columns.csv",
        columns={"time": "tracked_at", "lat": "latitude", "lon": "longitude"},
    )
    assert [r["geom"]["lat"] for r in pfs.collect()] == [r["geom"]["lat"] for r in pfs_mod.collect()]

    sp = read_staypoints_csv(spark, f"{D}/staypoints.csv")
    assert sp.count() == 2 and sp.first()["geom"]["lon"] == 8.528223
    sp_mod = read_staypoints_csv(spark, f"{D}/staypoints_mod_columns.csv", columns={"User": "user_id"})
    assert sp_mod.count() == 2

    tpls = read_triplegs_csv(spark, f"{D}/triplegs.csv")
    assert tpls.count() == 2 and len(tpls.first()["geom"]) == 3
    tpls_mod = read_triplegs_csv(
        spark, f"{D}/triplegs_mod_columns.csv",
        columns={"start_time": "started_at", "end_time": "finished_at", "tripleg": "geom"},
    )
    assert tpls_mod.count() == 2

    trips = read_trips_csv(spark, f"{D}/trips.csv")
    assert trips.count() == 4
    trips_mod = read_trips_csv(
        spark, f"{D}/trips_mod_columns.csv",
        columns={"orig_stp": "origin_staypoint_id", "dest_stp": "destination_staypoint_id"},
    )
    assert trips_mod.count() == 4 and trips_mod.first()["geom"] is not None

    locs = read_locations_csv(spark, f"{D}/locations.csv")
    assert locs.count() == 2 and locs.first()["extent"] is not None
    locs_mod = read_locations_csv(spark, f"{D}/locations_mod_columns.csv", columns={"geom": "center"})
    assert locs_mod.count() == 2

    tours = read_tours_csv(spark, f"{D}/tours.csv")
    assert tours.count() == 2 and dict(tours.dtypes)["started_at"] == "timestamp"


def test_load_table_reads_unit_from_parquet_footer_historic_ns(spark, tmp_path):
    """Historic (pre-1973) ns epochs have magnitudes that the old
    value-sniff classified as microseconds (off by 1000x). The footer
    logical type disambiguates with zero Spark jobs."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from trackintel_spark.sources import load_table

    t = dt.datetime(1970, 2, 1, 12, 0, 0)
    tbl = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "user_id": pa.array([1], pa.int64()),
            "ts": pa.array([t], pa.timestamp("ns")),
            "value": pa.array([0.0], pa.float64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    row = load_table(spark, str(tmp_path), "events").collect()[0]
    assert row.ts == t


def test_read_geolife_labels_empty_dir_returns_empty_frame(spark, tmp_path):
    """No labels.txt anywhere -> empty frame with the right schema, not
    AnalysisException; non-numeric user folders are filtered out."""
    from trackintel_spark.sources.geolife import read_geolife_labels

    (tmp_path / "000").mkdir()
    out = read_geolife_labels(spark, str(tmp_path))
    assert out.count() == 0
    assert out.columns == ["user_id", "started_at", "finished_at", "mode"]

    bad = tmp_path / "not-a-user"
    bad.mkdir()
    (bad / "labels.txt").write_text(
        "Start Time\tEnd Time\tTransportation Mode\n2008/01/01 00:00:00\t2008/01/01 01:00:00\twalk\n"
    )
    out2 = read_geolife_labels(spark, str(tmp_path))
    assert out2.count() == 0
