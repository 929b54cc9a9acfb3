"""generate_trips parity against the reference's checked-in golden data.

Runs the exact gap-detection scenario from the reference
(tests/preprocessing/test_triplegs.py::test_generate_trips_gap_detection)
on its own CSV fixtures (tests/data/trips/*.csv) and compares to the
checked-in expected trips table row for row.
"""

from __future__ import annotations

import csv
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from trackintel_spark.operators import generate_trips
from tests.conftest import requires_reference

REF = "/root/reference/tests/data/trips"

pytestmark = requires_reference(
    *(f"trips/{t}_gaps.csv" for t in ("staypoints", "triplegs", "trips", "sp_tpls"))
)


def _read_semicolon(spark, path):
    return (
        spark.read.option("header", "true").option("sep", ";").csv(path)
        .withColumn("started_at", F.to_timestamp("started_at", "dd.MM.yyyy HH:mm"))
        .withColumn("finished_at", F.to_timestamp("finished_at", "dd.MM.yyyy HH:mm"))
        .withColumn("user_id", F.col("user_id").cast("long"))
        .withColumn("id", F.col("id").cast("long"))
    )


@pytest.fixture(scope="module")
def golden(spark):
    sp = _read_semicolon(spark, f"{REF}/staypoints_gaps.csv").withColumn(
        "is_activity", F.col("is_activity") == "TRUE"
    ).withColumn("geom", F.struct(F.lit(1.0).alias("lon"), F.lit(1.0).alias("lat")))
    tpls = _read_semicolon(spark, f"{REF}/triplegs_gaps.csv").withColumn(
        "geom",
        F.array(
            F.struct(F.lit(1.0).alias("lon"), F.lit(1.0).alias("lat")),
            F.struct(F.lit(2.0).alias("lon"), F.lit(2.0).alias("lat")),
        ),
    )
    sp_o, tpls_o, trips = generate_trips(sp, tpls, gap_threshold=15, add_geometry=False)
    return sp_o, tpls_o, trips


def _expected():
    with open(f"{REF}/trips_gaps.csv") as f:
        rows = list(csv.DictReader(f))
    out = []
    for r in rows:
        out.append(
            (
                int(r["id"]),
                int(r["user_id"]),
                datetime.fromisoformat(r["started_at"]),
                datetime.fromisoformat(r["finished_at"]),
                int(float(r["origin_staypoint_id"])) if r["origin_staypoint_id"] else None,
                int(float(r["destination_staypoint_id"])) if r["destination_staypoint_id"] else None,
            )
        )
    return sorted(out)


def test_trips_match_reference_golden(golden):
    _, _, trips = golden
    got = sorted(
        (
            r.id, r.user_id, r.started_at, r.finished_at,
            r.origin_staypoint_id, r.destination_staypoint_id,
        )
        for r in trips.collect()
    )
    assert got == _expected()


def test_sp_tpls_linkage_matches_reference_golden(golden):
    """The golden sp_tpls table also pins trip_id / prev / next linkage
    written back onto staypoints and triplegs."""
    sp_o, tpls_o, _ = golden
    with open(f"{REF}/sp_tpls_gaps.csv") as f:
        rows = list(csv.DictReader(f))

    def as_id(v):
        return int(float(v)) if v else None

    exp_sp = {
        int(r["id"]): (as_id(r["trip_id"]), as_id(r["prev_trip_id"]), as_id(r["next_trip_id"]))
        for r in rows
        if r["type"] == "staypoint"
    }
    exp_tpl = {int(r["id"]): as_id(r["trip_id"]) for r in rows if r["type"] == "tripleg"}

    got_sp = {
        r.id: (r.trip_id, r.prev_trip_id, r.next_trip_id)
        for r in sp_o.select("id", "trip_id", "prev_trip_id", "next_trip_id").collect()
    }
    got_tpl = {r.id: r.trip_id for r in tpls_o.select("id", "trip_id").collect()}
    assert got_sp == exp_sp
    assert got_tpl == exp_tpl
