"""generate_trips — aggregate staypoints + triplegs into trips.

Reference: trackintel ``generate_trips`` (preprocessing/triplegs.py:12-232)
with ``_concat_staypoints_triplegs`` (:235-291) and
``_get_activity_masks`` (:294-315). The reference is one per-user pass
over the interleaved staypoints and triplegs; here that pass is ONE
side-effect-free step, :func:`_assembly_step`, vectorized over a
user's units (numpy arrays, no Python object per unit: SCALE.md has
the single-user case), which the batch operator runs per user
(``groupBy("user_id").applyInPandas``) and
``streaming/trips_state.py::trips_stream_exact`` runs from its state —
the pattern ``operators/tours.py::_scan_step`` uses for tours. The two
modes are equal by construction and differ only at the end of input:
batch flushes the last open trip with a NULL destination, as the
reference does; the stream holds it until its closing evidence arrives.

Semantics reproduced:
* units = staypoints ∪ triplegs per user, ordered by (started_at,
  type, id) with staypoints first at equal starts (:73, :290);
  staypoints must carry ``is_activity`` (:256-257), NULL counts as
  false;
* a trip is a maximal run of non-activity units; boundaries are
  activities and recording gaps (next started_at − previous
  finished_at > gap_threshold, :77-87); it spans the min started_at to
  the max finished_at of its run (:97-103);
* origin = the activity right before the run, destination = the one
  right after it; NULL across a gap and at the ends of a user's input
  (:126-151);
* trips without triplegs are dropped (:119) and ids are dense in
  (user, time) order (:122-123);
* with ``add_geometry``, a missing endpoint is imputed from the
  first/last coordinate of the trip's first/last tripleg (:196-208);
  trip geometry is the (origin, destination) point pair (:210-212);
* staypoints receive ``trip_id`` (run members) and
  ``prev_trip_id``/``next_trip_id`` (the trips they are the
  destination/origin of); triplegs receive ``trip_id`` (:179-191).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trackintel_spark.model.schemas import validate
from trackintel_spark.plans.ids import dense_id_by_user

_SP, _TPL = 1, 2  # unit kinds, in the (started_at, type) tie order

#: a unit is one staypoint or tripleg; ``lon0/lat0`` and ``lon1/lat1``
#: are its first and last coordinate (equal for a staypoint), NaN when
#: unknown. A unit table maps each of these names to a numpy array.
_UNIT_COLS = ["start_us", "end_us", "kind", "id", "is_activity", "lon0", "lat0", "lon1", "lat1"]


def _take(units: dict, rows) -> dict:
    """The ``rows`` (index array or slice) of a unit table."""
    return {c: a[rows] for c, a in units.items()}


def _assembly_step(
    units: dict, run: dict, origin: dict, gap_s: float, flush: bool = False
) -> tuple[dict, dict, dict, dict]:
    """Advance trip assembly over time-ordered ``units``.

    ``units``, ``run`` and ``origin`` are unit tables
    (:data:`_UNIT_COLS`): ``run`` holds the open trip's units and
    ``origin`` (at most one row) the activity it left from, empty at
    the start or after a gap. ``flush`` closes the open trip at the end
    as a gap does (no destination). Vectorized over the units, so a
    user's whole history is one call.

    Returns ``(seq, trips, run, origin)``: ``seq`` is origin, run and
    units as one table; ``trips`` maps to one entry per trip these
    units close — its members are ``seq`` rows ``lo`` to ``hi - 1``,
    ``o`` and ``d`` are the ``seq`` rows of its origin and destination
    (-1: none), plus ``start_us``, ``end_us`` and ``n_tpl``; then the
    new open run and origin. The arguments are not modified.
    """
    seq = {c: np.concatenate([origin[c], run[c], units[c]]) for c in _UNIT_COLS}
    start, end = seq["start_us"].astype("int64"), seq["end_us"].astype("int64")
    act = seq["is_activity"].astype(bool)
    n = len(start)
    gap = np.zeros(n, bool)
    gap[1:] = (start[1:] - end[:-1]) / 1e6 > gap_s
    # a run starts at every activity (its origin) and after every gap
    # (no origin); the first one also at row 0
    first = np.flatnonzero(gap | act)
    if n and (not first.size or first[0]):
        first = np.r_[0, first]
    lo = first + act[first]
    hi = np.r_[first[1:], n][: len(first)]
    o = np.where(act[first], first, -1)
    # the row that starts the next run is the destination unless a gap
    # precedes it; the last run (hi == n) has none and stays open
    # unless flushed
    d = np.where(np.r_[act & ~gap, False][hi], hi, -1)
    n_closed = len(first) - (len(first) > 0 and not flush)
    tpl_before = np.r_[0, np.cumsum(seq["kind"] == _TPL)]
    n_tpl = tpl_before[hi] - tpl_before[lo]
    keep = np.flatnonzero(n_tpl[:n_closed] > 0)  # trips without triplegs are dropped
    lo, hi = lo[keep], hi[keep]
    # max end over each member range (a sentinel keeps hi == n in range)
    bounds = np.column_stack([lo, hi]).ravel()
    end_max = np.maximum.reduceat(np.r_[end, 0], bounds)[::2] if len(keep) else end[:0]
    trips = {"lo": lo, "hi": hi, "o": o[keep], "d": d[keep], "start_us": start[lo], "end_us": end_max, "n_tpl": n_tpl[keep]}
    if flush or not n:
        return seq, trips, _take(seq, slice(0, 0)), _take(seq, slice(0, 0))
    k = first[-1]  # the open run: its origin row (if any), then its members
    m = k + act[k]
    return seq, trips, _take(seq, slice(m, None)), _take(seq, slice(k, m))


def _trips_kernel(pdf: pd.DataFrame, gap_s: float) -> pd.DataFrame:
    """One user's trips: the assembly step over all their units, with
    the open trip flushed at the end of input."""
    order = np.lexsort((pdf["id"], pdf["kind"], pdf["start_us"]))
    units = {c: pdf[c].to_numpy()[order] for c in _UNIT_COLS}
    none = _take(units, slice(0, 0))
    seq, t, _, _ = _assembly_step(units, none, none, gap_s, flush=True)
    kind, ids = seq["kind"], seq["id"]
    lon0, lat0, lon1, lat1 = (seq[c].astype(float) for c in ("lon0", "lat0", "lon1", "lat1"))
    lo, hi, o, d = t["lo"], t["hi"], t["o"], t["d"]

    def members(k: int) -> pd.Series:
        # each trip's members of one kind are one slice of that kind's ids
        of_kind, before = ids[kind == k], np.r_[0, np.cumsum(kind == k)]
        return pd.Series([of_kind[i:j] for i, j in zip(before[lo], before[hi])], dtype=object)

    # a missing endpoint is imputed from the first/last tripleg
    tpl_at = np.flatnonzero(kind == _TPL)
    leg0 = tpl_at[np.searchsorted(tpl_at, lo)]
    leg1 = tpl_at[np.searchsorted(tpl_at, hi) - 1]
    oi = np.where((o >= 0) & ~np.isnan(lon0[np.maximum(o, 0)]), o, leg0)
    di = np.where((d >= 0) & ~np.isnan(lon1[np.maximum(d, 0)]), d, leg1)

    def end_id(i: np.ndarray) -> pd.api.extensions.ExtensionArray:
        # nullable ids stay integers, not NaN-carrying floats
        out = pd.array(ids[np.maximum(i, 0)], dtype="Int64")
        out[i < 0] = pd.NA
        return out

    return pd.DataFrame(
        {
            "user_id": pdf["user_id"].iloc[0],
            "seq": np.arange(len(lo)),
            "start_us": t["start_us"],
            "end_us": t["end_us"],
            "origin_staypoint_id": end_id(o),
            "destination_staypoint_id": end_id(d),
            "o_lon": lon0[oi], "o_lat": lat0[oi], "d_lon": lon1[di], "d_lat": lat1[di],
            "sps": members(_SP),
            "tpls": members(_TPL),
        }
    )


_TRIP_COLS = [
    "seq", "start_us", "end_us", "origin_staypoint_id", "destination_staypoint_id",
    "o_lon", "o_lat", "d_lon", "d_lat", "sps", "tpls",
]


def generate_trips(
    staypoints: DataFrame,
    triplegs: DataFrame,
    gap_threshold: float = 15.0,
    add_geometry: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Generate trips; returns (sp+trip ids, tpls+trip_id, trips)."""
    validate(staypoints, "staypoints")
    validate(triplegs, "triplegs")
    if "is_activity" not in staypoints.columns:
        raise AttributeError("staypoints need the column 'is_activity' to be able to generate trips")

    from trackintel_spark.plans.partitioning import kernel_partitions

    sp_base = staypoints.drop("trip_id", "prev_trip_id", "next_trip_id")
    tpls_base = triplegs.drop("trip_id")

    if add_geometry:
        sp_pt = ["geom.lon", "geom.lat"] * 2
        tpl_pt = [f"element_at(geom, {i}).{c}" for i in (1, -1) for c in ("lon", "lat")]
    else:
        sp_pt = tpl_pt = ["CAST(NULL AS double)"] * 4

    def _units(df: DataFrame, kind: int, is_activity: str, pts: list) -> DataFrame:
        return df.selectExpr(
            "user_id", "unix_micros(started_at) AS start_us", "unix_micros(finished_at) AS end_us",
            f"{kind} AS kind", "id", f"{is_activity} AS is_activity",
            *[f"{e} AS {n}" for e, n in zip(pts, ("lon0", "lat0", "lon1", "lat1"))],
        )

    units = _units(sp_base, _SP, "coalesce(is_activity, false)", sp_pt).unionByName(
        _units(tpls_base, _TPL, "false", tpl_pt)
    )
    # trip endpoints and members keep the input id type
    id_t = units.schema["id"].dataType
    types = [T.LongType()] * 3 + [id_t] * 2 + [T.DoubleType()] * 4 + [T.ArrayType(id_t)] * 2
    schema = T.StructType([units.schema["user_id"], *map(T.StructField, _TRIP_COLS, types)])
    gap_s = gap_threshold * 60.0

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _trips_kernel(pdf, gap_s)

    raw = units.repartition(kernel_partitions(units), "user_id").groupBy("user_id").applyInPandas(_run, schema=schema)
    # the id helper caches its sorted output, and the three outputs
    # below are projections of it
    trips = dense_id_by_user(raw, order_by=["seq"], id_col="id")

    trips_out = trips.selectExpr(
        "id", "user_id", "timestamp_micros(start_us) AS started_at", "timestamp_micros(end_us) AS finished_at",
        "origin_staypoint_id", "destination_staypoint_id",
        *(
            ["struct(IF(o_lon IS NULL, NULL, struct(o_lon AS lon, o_lat AS lat)) AS origin,"
             " IF(d_lon IS NULL, NULL, struct(d_lon AS lon, d_lat AS lat)) AS dest) AS geom"]
            if add_geometry
            else []
        ),
    )

    tpl_links = trips.selectExpr("id AS trip_id", "explode(tpls) AS id")
    tpls_out = tpls_base.join(tpl_links, on="id", how="left")

    # a staypoint is a member of at most one trip (role 0), the origin
    # of at most one (role 1) and the destination of at most one (2)
    sp_links = (
        trips.selectExpr(
            "id AS __t",
            "inline(concat(transform(sps, s -> struct(s AS id, 0 AS role)),"
            " array(struct(origin_staypoint_id AS id, 1 AS role),"
            " struct(destination_staypoint_id AS id, 2 AS role))))",
        )
        .groupBy("id")
        .agg(
            F.expr("max(IF(role = 0, __t, NULL)) AS trip_id"),
            F.expr("max(IF(role = 2, __t, NULL)) AS prev_trip_id"),
            F.expr("max(IF(role = 1, __t, NULL)) AS next_trip_id"),
        )
    )
    sp_out = sp_base.join(sp_links, on="id", how="left")

    return sp_out, tpls_out, trips_out
