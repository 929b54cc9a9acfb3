"""generate_tours — detect closed chains of trips (tours).

Reference: trackintel ``generate_tours`` (preprocessing/trips.py:54-188)
with the per-user stack scan ``_generate_tours_user`` (:191-359),
``_check_same_loc`` (:362-382), ``_check_max_dist`` (:385-404) and
``_create_tour_from_stack`` (:407-452).

The candidate stack has arbitrary lookback (a closing trip may match any
earlier trip inside the time window), so this is a per-user sequential
kernel — the same ``applyInPandas`` pattern as staypoint detection.
Staypoint location ids are pre-joined onto the trips BEFORE the scan so
the kernel is self-contained (no side lookups into a second table).

Semantics reproduced:
* two trips chain when the previous trip's destination staypoint shares
  the ``location_id`` of the next trip's origin (staypoints mode), or
  their endpoints are within ``max_dist`` meters (geometry mode);
* a tour closes when the current trip's destination matches a
  candidate's origin; candidates are scanned newest-to-oldest and one
  trip closes at most one tour (:291-336);
* ``max_time`` bounds tour duration; stale candidates are pruned;
* ``max_nr_gaps`` spatial gaps are tolerated when > 0 (:269-275);
* nested/overlapping tours allowed: trips may belong to several tours;
  ``trips.tour_id`` is the LIST of tour ids per trip (:177-183);
* tour ids are dense 0..n-1 in (user, closing-trip order) (:174).
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trackintel_spark.model.schemas import validate
from trackintel_spark.plans.ids import dense_id_by_user
from trackintel_spark.plans.partitioning import kernel_partitions

_TOUR_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField("origin_staypoint_id", T.LongType()),
        T.StructField("destination_staypoint_id", T.LongType()),
        T.StructField("location_id", T.LongType()),
        T.StructField("trips", T.ArrayType(T.LongType())),
    ]
)


def _haversine_s(lon1, lat1, lon2, lat2):
    arg = math.cos(math.radians(lat1) - math.radians(lat2)) - math.cos(math.radians(lat1)) * math.cos(
        math.radians(lat2)
    ) * (1 - math.cos(math.radians(lon1) - math.radians(lon2)))
    return 6371000.0 * math.acos(min(1.0, max(-1.0, arg)))


class _Trip(NamedTuple):
    """One trip record inside the candidate stack. ``None`` marks
    unknown staypoint / location ids; geometry fields are 0.0 in
    locations mode (unused). The record form (rather than positional
    arrays) lets the SAME scan step run incrementally from streaming
    state (streaming/tours_state.py)."""

    id: int
    start_us: int
    end_us: int
    o_stp: int | None
    d_stp: int | None
    o_loc: int | None
    d_loc: int | None
    o_lon: float
    o_lat: float
    d_lon: float
    d_lat: float


_GAP = None  # spatial-gap marker inside the candidate stack


def _same_loc_prev(prev: _Trip, cur: _Trip, use_locations: bool, max_dist: float) -> bool:
    """destination of prev == origin of cur (reference :252-265)."""
    if use_locations:
        if prev.d_stp is None or cur.o_stp is None:
            return False
        return prev.d_loc is not None and cur.o_loc is not None and prev.d_loc == cur.o_loc
    return _haversine_s(prev.d_lon, prev.d_lat, cur.o_lon, cur.o_lat) <= max_dist


def _closes_tour(cand: _Trip, cur: _Trip, use_locations: bool, max_dist: float) -> bool:
    """origin of cand == destination of cur (reference :313-326)."""
    if use_locations:
        if cand.o_stp is None or cur.d_stp is None:
            return False
        return cand.o_loc is not None and cur.d_loc is not None and cand.o_loc == cur.d_loc
    return _haversine_s(cand.o_lon, cand.o_lat, cur.d_lon, cur.d_lat) <= max_dist


def _scan_step(
    candidates: list,
    cur: _Trip,
    use_locations: bool,
    max_dist: float,
    max_time_s: float,
    max_nr_gaps: int,
) -> tuple[list, list | None]:
    """Advance the reference candidate-stack scan by ONE trip.

    Returns (new_candidates, tour_members_or_None) — the members list
    (GAPs removed) is non-None when ``cur`` closes a tour. This is the
    exact per-iteration body of the reference loop
    (preprocessing/trips.py:238-336 incl. its verbatim slicing), kept
    side-effect-free so the batch kernel and the streaming state
    operator share it and are equal by construction.
    """
    if candidates:
        if not _same_loc_prev(candidates[-1], cur, use_locations, max_dist):
            if max_nr_gaps == 0:
                return [cur], None
            candidates = candidates + [_GAP]
    candidates = candidates + [cur]

    # Prune the unreachable front (r12, gap-free scans only): the
    # backward scan below always terminates at the NEWEST stale
    # candidate (staleness is checked before closure, and start times
    # are non-decreasing), so entries older than it can never be
    # inspected again — cur.end_us only grows. The reference loop keeps
    # them (it only slices when the scan actually REACHES a stale
    # entry), which is invisible in its results but accretes an
    # unbounded tail whenever tours keep closing near the top of the
    # stack: O(n^2) work in batch and unbounded per-user state in
    # tours_stream_exact. Dropping everything strictly older than the
    # newest stale candidate emits the exact same tours (tests pin
    # batch == reference == stream). With max_nr_gaps > 0 the prune is
    # DISABLED: the reference's gap-overflow slice is bottom-relative
    # (candidates[j+1:] against the ABSOLUTE stack length), so
    # shortening the stack would shift that slice and change which
    # tours close (caught by the round-12 hypothesis battery).
    if max_nr_gaps == 0:
        j = -1  # forward index of the newest stale candidate
        for idx, cand in enumerate(candidates):
            if cur.end_us - cand.start_us > max_time_s * 1e6:
                j = idx
            else:
                break
        if j > 0:
            candidates = candidates[j:]

    # endpoint is an unknown activity -> cannot close a tour (:281)
    if cur.d_stp is None:
        return candidates, None

    new_list_start = 0
    gap_counter = 0
    members = None
    for j, cand in enumerate(reversed(candidates)):
        if cand is _GAP:
            gap_counter += 1
            if gap_counter > max_nr_gaps:
                new_list_start = j + 1  # verbatim reference slicing (:297)
                break
            continue
        if cur.end_us - cand.start_us > max_time_s * 1e6:
            new_list_start = len(candidates) - j - 1
            break
        # candidate starts at an unknown activity (:309)
        if cand.o_stp is None:
            continue
        if _closes_tour(cand, cur, use_locations, max_dist):
            members = [c for c in candidates[-j - 1:] if c is not _GAP]
            break
    return candidates[new_list_start:], members


def _tour_row(members: list, seq: int, use_locations: bool) -> dict:
    first, last = members[0], members[-1]
    return {
        "seq": seq,
        "started_at": pd.Timestamp(first.start_us, unit="us"),
        "finished_at": pd.Timestamp(last.end_us, unit="us"),
        "origin_staypoint_id": first.o_stp,
        "destination_staypoint_id": last.d_stp,
        "location_id": first.o_loc if use_locations else None,
        "trips": [m.id for m in members],
    }


def _trip_records(pdf: pd.DataFrame, use_locations: bool) -> list:
    """Time-ordered _Trip records from a kernel input frame."""
    pdf = pdf.sort_values(["started_at", "id"], kind="stable").reset_index(drop=True)
    ids = pdf["id"].to_numpy()
    started = pdf["started_at"].astype("int64").to_numpy() // 1000
    finished = pdf["finished_at"].astype("int64").to_numpy() // 1000
    o_stp = pdf["origin_staypoint_id"].to_numpy(dtype="float64", na_value=np.nan)
    d_stp = pdf["destination_staypoint_id"].to_numpy(dtype="float64", na_value=np.nan)
    if use_locations:
        o_loc = pdf["origin_loc"].to_numpy(dtype="float64", na_value=np.nan)
        d_loc = pdf["dest_loc"].to_numpy(dtype="float64", na_value=np.nan)
        zeros = np.zeros(len(pdf))
        o_lon = o_lat = d_lon = d_lat = zeros
    else:
        o_loc = d_loc = np.full(len(pdf), np.nan)
        o_lon = pdf["o_lon"].to_numpy()
        o_lat = pdf["o_lat"].to_numpy()
        d_lon = pdf["d_lon"].to_numpy()
        d_lat = pdf["d_lat"].to_numpy()

    def _i(v):
        return None if np.isnan(v) else int(v)

    return [
        _Trip(
            int(ids[i]), int(started[i]), int(finished[i]),
            _i(o_stp[i]), _i(d_stp[i]), _i(o_loc[i]), _i(d_loc[i]),
            float(o_lon[i]), float(o_lat[i]), float(d_lon[i]), float(d_lat[i]),
        )
        for i in range(len(pdf))
    ]


def _tours_kernel(pdf: pd.DataFrame, use_locations: bool, max_dist: float, max_time_s: float, max_nr_gaps: int) -> pd.DataFrame:
    candidates: list = []
    out: list[dict] = []
    for rec in _trip_records(pdf, use_locations):
        candidates, members = _scan_step(
            candidates, rec, use_locations, max_dist, max_time_s, max_nr_gaps
        )
        if members is not None:
            out.append(_tour_row(members, len(out), use_locations))

    res = pd.DataFrame(out, columns=[f.name for f in _TOUR_SCHEMA.fields if f.name != "user_id"])
    res["user_id"] = pdf["user_id"].iloc[0] if len(pdf) else None
    return res


def generate_tours(
    trips: DataFrame,
    staypoints: DataFrame | None = None,
    max_dist: float = 100.0,
    max_time: float = 1440.0,
    max_nr_gaps: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Generate tours; returns (trips+tour_id list, tours).

    ``max_time`` in minutes (reference default '1D').

    Each user's trips run through one ``applyInPandas`` call of the
    stack scan, as in the reference, so a user's whole history is one
    task. With ``max_nr_gaps == 0`` the scan's work is linear in trips
    times the candidates inside one ``max_time`` window (SCALE.md,
    "tours kernel (mega-user)").
    """
    validate(trips, "trips")
    use_locations = staypoints is not None
    if use_locations:
        if "location_id" not in staypoints.columns:
            raise AssertionError(
                "Staypoints with location ID is required, otherwise tours are generated without location using max_dist"
            )
    elif "geom" not in trips.columns:
        raise ValueError("trips must have a 'geom' (origin/dest pair) column when staypoints are not given")

    trips_in = trips.drop("tour_id")

    if use_locations:
        # resolve origin AND destination locations with ONE equi-join:
        # melt each trip into (role, staypoint) rows, join the
        # staypoint->location map once, pivot back by trip id. Joining
        # twice would embed the staypoint lineage twice in the plan
        # (chained operators then grow plans multiplicatively) and
        # shuffle the trip table twice.
        sp_loc = staypoints.selectExpr("id AS __sp", "location_id AS __loc")
        melt = trips_in.selectExpr(
            "id", "user_id", "started_at", "finished_at",
            "origin_staypoint_id", "destination_staypoint_id",
            "explode(array(struct('o' AS r, origin_staypoint_id AS __sp),"
            " struct('d' AS r, destination_staypoint_id AS __sp))) AS __m",
        ).selectExpr(
            "id", "user_id", "started_at", "finished_at",
            "origin_staypoint_id", "destination_staypoint_id",
            "__m.r AS __r", "__m.__sp AS __sp",
        )
        kin = (
            melt.join(sp_loc, on="__sp", how="left")
            .groupBy("id")
            .agg(
                F.expr("first(user_id) AS user_id"),
                F.expr("first(started_at) AS started_at"),
                F.expr("first(finished_at) AS finished_at"),
                F.expr("first(origin_staypoint_id) AS origin_staypoint_id"),
                F.expr("first(destination_staypoint_id) AS destination_staypoint_id"),
                F.expr("max(CASE WHEN __r = 'o' THEN __loc END) AS origin_loc"),
                F.expr("max(CASE WHEN __r = 'd' THEN __loc END) AS dest_loc"),
            )
        )
    else:
        kin = trips_in.selectExpr(
            "id",
            "user_id",
            "started_at",
            "finished_at",
            "origin_staypoint_id",
            "destination_staypoint_id",
            "geom.origin.lon AS o_lon",
            "geom.origin.lat AS o_lat",
            "geom.dest.lon AS d_lon",
            "geom.dest.lat AS d_lat",
        )

    max_time_s = max_time * 60.0

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _tours_kernel(pdf, use_locations, max_dist, max_time_s, max_nr_gaps)

    raw = (
        kin.repartition(kernel_partitions(kin), "user_id")
        .groupBy("user_id")
        .applyInPandas(_run, schema=_TOUR_SCHEMA)
    )
    tours = dense_id_by_user(raw, order_by=["seq"], id_col="id").drop("seq")

    links = tours.select(F.col("id").alias("tour_id"), F.explode("trips").alias("id"))
    tour_lists = links.groupBy("id").agg(F.sort_array(F.collect_list("tour_id")).alias("tour_id"))
    trips_out = trips_in.join(tour_lists, on="id", how="left")

    tours = tours.select(
        "id", "user_id", "started_at", "finished_at",
        "origin_staypoint_id", "destination_staypoint_id", "location_id", "trips",
    )
    return trips_out, tours


def flag_journeys(tours: DataFrame, staypoints: DataFrame) -> DataFrame:
    """Add the reference model's optional ``journey`` flag to tours.

    Reference model/tours.py:25,30 documents ``journey`` — "Tours
    starting and ending at home (=journey) are especially important" —
    but ships no generator for it; this composes it from the
    ``location_identifier`` output: a tour is a journey when its anchor
    ``location_id`` is one of the user's home locations.

    ``staypoints`` must carry ``location_id`` and ``purpose`` (run
    ``location_identifier`` / ``freq_method`` / ``osna_method`` first).
    Tours without a ``location_id`` anchor (geometry-mode tours, where
    closure is a ``max_dist`` radius rather than a shared location) get
    NULL — there is no location to test against.

    Scale shape: the home set is one DISTINCT over the labeled
    staypoints — at most a couple of rows per user — so the flag join
    is an equi-join on (user_id, location_id) against a frame ~|users|
    in size; AQE broadcast-plans it whenever it fits, and it never
    re-shuffles more than the tours table once.
    """
    for c in ("location_id", "purpose"):
        if c not in staypoints.columns:
            raise AssertionError(
                f"staypoints must contain column '{c}' (run location_identifier first)"
            )
    if "location_id" not in tours.columns:
        raise AssertionError("tours must contain column 'location_id'")
    homes = (
        staypoints.filter(F.col("purpose") == F.lit("home"))
        .select("user_id", "location_id")
        .distinct()
        .withColumn("__home", F.lit(True))
    )
    out = tours.drop("journey").join(
        homes, on=["user_id", "location_id"], how="left"
    )
    return out.withColumn(
        "journey",
        F.when(F.col("location_id").isNull(), F.lit(None).cast("boolean")).otherwise(
            F.coalesce(F.col("__home"), F.lit(False))
        ),
    ).drop("__home")


def get_trips_grouped(trips: DataFrame, tours: DataFrame) -> DataFrame:
    """All (tour_id, trip) rows — each tour's full member trips, incl.
    trips whose own ``tour_id`` points at a smaller nested tour.

    Reference: get_trips_grouped (preprocessing/trips.py:12-51); returns
    the exploded join rather than a pandas GroupBy object.
    """
    t = trips.drop("tour_id")
    links = tours.select(F.col("id").alias("tour_id"), F.explode("trips").alias("id"))
    return links.join(t, on="id", how="left")
