"""Exact ONLINE trip emission — applyInPandasWithState.

``trips_stream_exact`` completes the streaming mobility chain
(staypoints_stream_exact → triplegs_stream_exact → this): one stateful
operator over the raw positionfix stream that runs the staypoint scan
(``triplegs_state._ingest_and_settle``), flags activities, and
assembles TRIPS with the batch operator's own step,
``operators/trips.py::_assembly_step`` (its docstring states the
boundary, origin/destination and drop rules):

* units = the settled staypoints and triplegs of the scan, in time
  order; staypoints are activities when duration > activity_threshold
  (create_activity_flag rule);
* where batch flushes the last open trip at end of input, the stream
  holds it: a trip EMITS (append semantics) once its closing evidence
  — the destination activity, or a gap proven by the next settled fix
  — has arrived; open trips wait in state.

State per user = the scan state of triplegs_stream_exact (candidate
window + open travel buffer) + the open trip's units + the current
origin + a settled-time watermark. All bounded by dwell density ×
trip duration. Identity columns are timestamps (origin/destination
``started_at``), not ids — streams cannot assign the batch dense ids;
join on (user_id, started_at) to attach them downstream.

Results are invariant to micro-batch chopping and equal the batch
operator on the same closed history (pinned by
tests/test_streaming_trips.py against ``generate_trips`` itself).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from trackintel_spark.operators.trips import _SP, _TPL, _assembly_step, _take
from trackintel_spark.streaming.triplegs_state import _ingest_and_settle
from trackintel_spark.streaming.reorder import apply_with_reorder

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField("origin_started_at", T.TimestampType()),
        T.StructField("destination_started_at", T.TimestampType()),
        T.StructField("n_triplegs", T.IntegerType()),
        T.StructField("n_staypoints", T.IntegerType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        # scan state (see triplegs_state._ingest_and_settle)
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("lons", T.ArrayType(T.DoubleType())),
        T.StructField("lats", T.ArrayType(T.DoubleType())),
        T.StructField("n_travel", T.IntegerType()),
        # open-trip assembly: pending non-activity units
        T.StructField("u_kind", T.ArrayType(T.IntegerType())),  # _SP / _TPL
        T.StructField("u_start_us", T.ArrayType(T.LongType())),
        T.StructField("u_end_us", T.ArrayType(T.LongType())),
        # current origin activity (-1 = none / gap)
        T.StructField("origin_start_us", T.LongType()),
        T.StructField("origin_end_us", T.LongType()),
        # settled-time watermark for the empty-scan-state edge
        T.StructField("wm_us", T.LongType()),
    ]
)


def _units(start_us, end_us, kind, is_activity) -> dict:
    """A unit table without ids or coordinates: the stream emits neither."""
    n = len(start_us)
    return {
        "start_us": np.asarray(start_us, "int64"),
        "end_us": np.asarray(end_us, "int64"),
        "kind": np.asarray(kind, "int64"),
        "id": np.full(n, -1),
        "is_activity": np.asarray(is_activity, bool),
        **{c: np.full(n, np.nan) for c in ("lon0", "lat0", "lon1", "lat1")},
    }


def _us(ts: pd.Series) -> np.ndarray:
    return ts.to_numpy("datetime64[ns]").astype("int64") // 1000


def _out_rows(user_id, seq: dict, trips: dict) -> pd.DataFrame:
    def ts(us: np.ndarray) -> np.ndarray:
        return us.astype("datetime64[us]").astype("datetime64[ns]")

    def start_of(i: np.ndarray) -> np.ndarray:  # -1: none
        out = ts(seq["start_us"][np.maximum(i, 0)])
        out[i < 0] = np.datetime64("NaT")
        return out

    return pd.DataFrame(
        {
            "user_id": user_id,
            "started_at": ts(trips["start_us"]),
            "finished_at": ts(trips["end_us"]),
            "origin_started_at": start_of(trips["o"]),
            "destination_started_at": start_of(trips["d"]),
            "n_triplegs": trips["n_tpl"].astype("int32"),
            "n_staypoints": (trips["hi"] - trips["lo"] - trips["n_tpl"]).astype("int32"),
        }
    )


def trips_stream_exact(
    pfs: DataFrame,
    dist_threshold: float = 100.0,
    time_threshold: float = 5.0,
    gap_threshold: float = 15.0,
    activity_threshold: float = 15.0,
    max_disorder: float = 0.0,
    late: str = "raise",
) -> DataFrame:
    """Streaming trip generation over (id, user_id, tracked_at, lon,
    lat) rows. ``gap_threshold`` plays the role of BOTH the scan's gap
    and the trip gap (minutes) — passing them separately is possible
    but the reference pipelines use one value. Works on a streaming OR
    batch DataFrame (unified API).

    ``max_disorder`` (minutes, default 0) opts into the bounded-
    disorder hold-and-sort buffer
    (:mod:`trackintel_spark.streaming.reorder`); ``late`` picks raise
    vs drop for arrivals beyond the bound."""
    time_s = time_threshold * 60.0
    gap_s = gap_threshold * 60.0
    act_s = activity_threshold * 60.0

    def fn(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            (ids, ts_us, lons, lats, n_travel,
             u_kind, u_start, u_end, origin_start, origin_end, wm_us) = state.get
            scan_state = (ids, ts_us, lons, lats, n_travel)
        else:
            scan_state = None
            u_kind, u_start, u_end = [], [], []
            origin_start, origin_end, wm_us = -1, -1, -1

        # The scan's own floor (candidate-window start) already protects
        # settled history whenever scan state exists — and it is LOOSER
        # than the last unit's end (a staypoint's finished_at is the
        # first fix OUTSIDE it, i.e. inside the next window), so
        # filtering against wm_us there would drop fixes the batch run
        # accepts. wm_us only guards the one unprotected case: scan
        # state fully consumed (empty) while trip state still pends.
        scan_empty = scan_state is None or not scan_state[1]

        def _wm_filter(it):
            for pdf in it:
                if scan_empty and wm_us >= 0:
                    floor = pd.Timestamp(wm_us, unit="us")
                    pdf = pdf[pdf["tracked_at"] >= floor]
                yield pdf

        full, sps, (lo, hi), open_run, new_scan_state = _ingest_and_settle(
            user_id, scan_state, _wm_filter(batches), dist_threshold, time_s, gap_s
        )

        # ---- new closed units, time-ordered -------------------------------
        ts_all = full["tracked_at"].to_numpy().astype("int64")
        sp_s, sp_e = (_us(sps[c]) if len(sps) else np.empty(0, "int64") for c in ("started_at", "finished_at"))
        legs = np.column_stack([ts_all[lo], ts_all[hi - 1]]) // 1000
        units = _units(
            np.r_[sp_s, legs[:, 0]],
            np.r_[sp_e, legs[:, 1]],
            np.r_[np.full(len(sp_s), _SP), np.full(len(legs), _TPL)],
            np.r_[(sp_e - sp_s) / 1e6 > act_s, np.zeros(len(legs), bool)],
        )
        units = _take(units, np.lexsort((units["kind"], units["end_us"], units["start_us"])))
        run = _units(u_start, u_end, u_kind, np.zeros(len(u_kind), bool))
        origin = _units(*([origin_start], [origin_end], [_SP], [True]) if origin_start >= 0 else ([],) * 4)

        # ---- end-of-batch: close on a PROVEN future gap ------------------
        # earliest possible start of any future unit = the open travel
        # run's first fix, else the candidate window's first fix
        nxt_floor_us = None
        if len(open_run):
            nxt_floor_us = int(ts_all[open_run[0]] // 1000)
        elif len(new_scan_state[1]) > new_scan_state[4]:
            nxt_floor_us = int(new_scan_state[1][new_scan_state[4]])
        last = next((t["end_us"][-1] for t in (units, run, origin) if len(t["end_us"])), None)
        flush = nxt_floor_us is not None and last is not None and (nxt_floor_us - int(last)) / 1e6 > gap_s

        # ---- trip assembly: the batch generate_trips step -----------------
        seq, trips, run, origin = _assembly_step(units, run, origin, gap_s, flush=flush)

        new_wm = wm_us
        if len(units["end_us"]):
            new_wm = max(new_wm, int(units["end_us"][-1]))
        state.update(
            (
                *new_scan_state,
                run["kind"].astype("int64").tolist(),
                run["start_us"].astype("int64").tolist(),
                run["end_us"].astype("int64").tolist(),
                int(origin["start_us"][0]) if len(origin["start_us"]) else -1,
                int(origin["end_us"][0]) if len(origin["end_us"]) else -1,
                int(new_wm),
            )
        )
        if len(trips["lo"]):
            yield _out_rows(user_id, seq, trips)

    return apply_with_reorder(
        pfs, ("user_id",), fn, _OUT_SCHEMA, _STATE_SCHEMA,
        time_col="tracked_at", max_disorder_s=max_disorder * 60.0, late=late,
    )
