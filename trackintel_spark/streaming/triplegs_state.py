"""Exact ONLINE tripleg emission — applyInPandasWithState.

``triplegs_stream_exact`` complements ``staypoints_stream_exact``
(streaming/staypoints_state.py): it runs the same Li et al. sliding
scan over a positionfix stream and emits the TRAVEL segments between
staypoints. The reference has no streaming surface at all (batch
``generate_triplegs``, preprocessing/triplegs.py); this operator gives
the mobility pipeline a streaming front end with a precise contract:

* a tripleg is a maximal run of positionfixes that belong to no
  staypoint, split additionally at tracking gaps (> ``gap_threshold``);
* a tripleg is EMITTED (append semantics, rows never update) once it
  is closed — by the staypoint that follows it, by a gap, or by the
  scan anchor having advanced past it with a closed staypoint behind
  it; until then its fixes wait in state;
* results are invariant to how the stream is chopped into
  micro-batches, and equal to running the same definition over the
  full history in one batch (pinned by tests/test_streaming_triplegs).

Per user the state is (a) the open candidate window of the staypoint
scan — exactly as in staypoints_stream_exact — and (b) the travel
buffer: fixes after the last emitted boundary that already can't join
a staypoint but whose tripleg is still open. Both are bounded by dwell
density x window duration, the same bound as the staypoint state.

Out-of-order input: fixes older than the retained window floor are
dropped (explicit watermark semantics, same rule as the staypoint op).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState

from trackintel_spark.operators.staypoints import _is_time_id_sorted, _sliding_kernel
from trackintel_spark.operators.triplegs import _run_split
from trackintel_spark.streaming.reorder import apply_with_reorder

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField("n_pfs", T.IntegerType()),
        T.StructField("geom_wkt", T.StringType()),
    ]
)

# (travel buffer ++ candidate window), columnar + the split index
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("ts_us", T.ArrayType(T.LongType())),
        T.StructField("lons", T.ArrayType(T.DoubleType())),
        T.StructField("lats", T.ArrayType(T.DoubleType())),
        T.StructField("n_travel", T.IntegerType()),  # buffer rows before the window
    ]
)


def _wkt_line(lons, lats) -> str | None:
    if len(lons) < 2:
        return None
    return "LINESTRING (" + ", ".join(f"{x:.10g} {y:.10g}" for x, y in zip(lons, lats)) + ")"


def _ingest_and_settle(
    user_id,
    scan_state: tuple | None,
    batches,
    dist_threshold: float,
    time_s: float,
    gap_s: float,
):
    """Shared settlement step for the stateful tripleg AND trip
    operators: merge state rows with new fixes (watermark floor = the
    candidate-window start), run the staypoint scan, split the settled
    prefix into closed staypoints / closed travel runs (the batch
    operator's run split, ``operators/triplegs.py::_run_split``) / the
    trailing open travel run.

    Returns ``(full, sps, (lo, hi), open_run, new_scan_state)``:
    ``full`` the sorted per-user frame, ``sps`` the kernel's CLOSED
    staypoints, closed run ``k`` = ``full`` rows ``lo[k]`` to
    ``hi[k] - 1``, ``open_run`` a position array into ``full``, and
    the scan-state tuple to persist (ids, ts_us, lons, lats, n_travel).
    """
    if scan_state is not None:
        ids, ts_us, lons, lats, n_travel = scan_state
    else:
        ids, ts_us, lons, lats, n_travel = [], [], [], [], 0

    # state frame from typed numpy arrays + sort fast-path + no
    # all-None elevation column (r13, guide §4.2): this body runs once
    # per user per micro-batch — see staypoints_state.fn for the
    # equivalence notes (int64 µs -> M8[us] -> M8[ns] is exactly
    # to_datetime(unit="us"); a stable sort of sorted input is the
    # identity; the kernel only reads "elevation" when
    # elevation_flag=True).
    frames = []
    if ids:
        frames.append(
            pd.DataFrame(
                {
                    "id": np.asarray(ids, dtype="int64"),
                    "tracked_at": np.asarray(ts_us, dtype="int64")
                    .astype("datetime64[us]")
                    .astype("datetime64[ns]"),
                    "lon": np.asarray(lons, dtype="float64"),
                    "lat": np.asarray(lats, dtype="float64"),
                }
            )
        )
    floor_ts = None
    if len(ts_us) > n_travel:
        floor_ts = pd.Timestamp(ts_us[n_travel], unit="us")
    elif ts_us:
        floor_ts = pd.Timestamp(ts_us[-1], unit="us")
    for pdf in batches:
        part = pdf[["id", "tracked_at", "lon", "lat"]]
        if floor_ts is not None:
            part = part[part["tracked_at"] >= floor_ts]
        frames.append(part)
    if not frames:
        full = pd.DataFrame(columns=["id", "tracked_at", "lon", "lat"])
    elif len(frames) == 1:
        full = frames[0]
    else:
        full = pd.concat(frames, ignore_index=True)
    if not _is_time_id_sorted(full["tracked_at"].to_numpy(), full["id"].to_numpy()):
        full = full.sort_values(["tracked_at", "id"], kind="stable")
    full = full.reset_index(drop=True)
    full["user_id"] = user_id

    scan = full.iloc[n_travel:].reset_index(drop=True)
    tail: list[int] = []
    sps = _sliding_kernel(
        scan,
        dist_threshold=dist_threshold,
        time_threshold_s=time_s,
        gap_threshold_s=gap_s,
        include_last=False,
        elevation_flag=False,
        tail_out=tail,
    )
    anchor = n_travel + (tail[0] if tail else 0)

    # membership of the settled prefix in ANY closed staypoint —
    # np.isin handles duplicate needle values, so the flat concat of
    # the pfs_ids lists replaces the former per-row python set build
    sp_id_lists = sps["pfs_ids"].to_list() if len(sps) else []
    sp_mask = (
        np.isin(full["id"].to_numpy()[:anchor], np.concatenate([np.asarray(a, dtype="int64") for a in sp_id_lists]))
        if sp_id_lists
        else np.zeros(anchor, dtype=bool)
    )
    t_us = full["tracked_at"].to_numpy().astype("int64") // 1000
    _, lo, hi = _run_split(t_us[:anchor], sp_mask, gap_s)
    # the batch step closes every run; the stream holds the last one
    # while it reaches the scan anchor and no gap to the next fix
    # proves it closed
    open_run = np.empty(0, dtype="int64")
    if len(hi) and hi[-1] == anchor and not (
        anchor < len(full) and t_us[anchor] / 1e6 - t_us[anchor - 1] / 1e6 > gap_s
    ):
        open_run, lo, hi = np.arange(lo[-1], anchor), lo[:-1], hi[:-1]

    keep = np.r_[open_run, anchor:len(full)]
    new_scan_state = (
        full["id"].to_numpy(dtype="int64")[keep].tolist(),
        t_us[keep].tolist(),
        full["lon"].to_numpy(dtype="float64")[keep].tolist(),
        full["lat"].to_numpy(dtype="float64")[keep].tolist(),
        len(open_run),
    )
    return full, sps, (lo, hi), open_run, new_scan_state


def triplegs_stream_exact(
    pfs: DataFrame,
    dist_threshold: float = 100.0,
    time_threshold: float = 5.0,
    gap_threshold: float = 15.0,
    max_disorder: float = 0.0,
    late: str = "raise",
) -> DataFrame:
    """Streaming tripleg extraction over (id, user_id, tracked_at, lon,
    lat) rows; thresholds in the reference's units (meters / minutes).
    Works on a streaming OR batch DataFrame (unified API).

    ``max_disorder`` (minutes, default 0) opts into the bounded-
    disorder hold-and-sort buffer
    (:mod:`trackintel_spark.streaming.reorder`); ``late`` picks raise
    vs drop for arrivals beyond the bound."""
    time_s = time_threshold * 60.0
    gap_s = gap_threshold * 60.0

    def fn(
        key: Tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        # _ingest_and_settle: watermark-filter new fixes against the
        # candidate-window floor, run the staypoint scan (which never
        # sees the travel buffer), split the settled prefix into closed
        # staypoints / closed travel runs / the trailing open run
        full, _sps, (lo, hi), _open_run, new_scan_state = _ingest_and_settle(
            user_id,
            state.get if state.exists else None,
            batches,
            dist_threshold,
            time_s,
            gap_s,
        )
        out_rows = []
        for i, j in zip(lo, hi):
            seg = full.iloc[i:j]
            out_rows.append(
                (
                    user_id,
                    seg["tracked_at"].iloc[0],
                    seg["tracked_at"].iloc[-1],
                    len(seg),
                    _wkt_line(seg["lon"].tolist(), seg["lat"].tolist()),
                )
            )
        state.update(new_scan_state)
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=["user_id", "started_at", "finished_at", "n_pfs", "geom_wkt"]
            )

    return apply_with_reorder(
        pfs, ("user_id",), fn, _OUT_SCHEMA, _STATE_SCHEMA,
        time_col="tracked_at", max_disorder_s=max_disorder * 60.0, late=late,
    )
