"""generate_staypoints — the per-user sliding-window staypoint detector.

Reference: trackintel ``generate_staypoints`` (preprocessing/
positionfixes.py:16-184) with the Li et al. (2008) sliding kernel
(``_generate_staypoints_sliding_user``, :478-535). The anchor reset is
data-dependent (the next window start depends on where the previous
staypoint ended), so this is NOT expressible as a Spark window function.
We run the exact numpy scan per user inside an Arrow-batched
``applyInPandas`` — Spark's shuffle partitioning replaces the
reference's joblib process pool (preprocessing/util.py:47-84) for free.

Semantics reproduced exactly:
* duplicate positionfix rows dropped first (:105-114), keeping the
  smallest id (pandas keeps first occurrence of the (user, time) order);
* gap > gap_threshold resets the anchor without emitting (:514-516);
* candidate closes when haversine(anchor, curr) >= dist_threshold; a
  staypoint is emitted only if elapsed >= time_threshold (:519-525);
* ``finished_at`` = tracked_at of the first pf OUTSIDE the staypoint,
  while geometry/elevation/linkage exclude that pf (:560-577);
* geometry = centroid of the UNIQUE coordinates with wrap-safe
  longitude averaging (:546-557); elevation = median over member pfs;
* ``include_last`` aggregates the trailing window if long enough
  (:527-531);
* staypoint ids are dense 0..n-1 in (user_id, started_at) order
  (:162-164 — ids follow the per-user concat order);
* the input pfs come back with a nullable ``staypoint_id`` (:168-175).

Scale note: one kernel call per user behind one ``user_id`` exchange, as
in the other generate_* operators and the streaming staypoint operator;
a user's whole fix history is one pandas group.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trackintel_spark.model.schemas import validate
from trackintel_spark.plans.ids import dense_id_by_user

_KERNEL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("started_at", T.TimestampType()),
        T.StructField("finished_at", T.TimestampType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("elevation", T.DoubleType()),
        T.StructField("pfs_ids", T.ArrayType(T.LongType())),
    ]
)


def _is_time_id_sorted(ts: np.ndarray, ids: np.ndarray) -> bool:
    """True when (ts, ids) is already in stable-lexsort order (ts
    non-decreasing; ids non-decreasing within equal ts)."""
    if len(ts) < 2:
        return True
    dt = np.diff(ts.astype("int64"))
    if (dt < 0).any():
        return False
    return bool(((dt > 0) | (np.diff(ids) >= 0)).all())


def _sliding_kernel(
    pdf: pd.DataFrame,
    dist_threshold: float,
    time_threshold_s: float,
    gap_threshold_s: float,
    include_last: bool,
    elevation_flag: bool,
    tail_out: list | None = None,
) -> pd.DataFrame:
    """Exact port of the Li et al. scan (preprocessing/positionfixes.py:478-535),
    one pandas group per user.

    ``tail_out``: when a list is passed, the scan's final anchor index is
    appended to it — the open candidate window ``[tail_start:]`` that a
    longer input could still extend. The streaming operator
    (streaming/staypoints_state.py) carries exactly that slice as state.
    """
    n = len(pdf)
    if n == 0:
        if tail_out is not None:
            tail_out.append(0)
        return pd.DataFrame(columns=[f.name for f in _KERNEL_SCHEMA.fields])

    ts = pdf["tracked_at"].to_numpy()  # datetime64
    ids = pdf["id"].to_numpy()
    # (tracked_at, id) stable sort — skipped when the input is already
    # ordered (the streaming callers sort before slicing state, and
    # time-ordered sources arrive sorted): a redundant lexsort was ~20%
    # of per-group kernel time in the streaming micro-batch regime
    # (r13, guide §4.2). A stable sort of sorted input is the identity,
    # so the fast path is exact.
    if not _is_time_id_sorted(ts, ids):
        pdf = pdf.sort_values(["tracked_at", "id"], kind="stable")
        ts = pdf["tracked_at"].to_numpy()
        ids = pdf["id"].to_numpy()
    t = ts.astype("int64") / 1e9  # epoch seconds
    x = pdf["lon"].to_numpy()
    y = pdf["lat"].to_numpy()
    elev = pdf["elevation"].to_numpy() if elevation_flag else None
    lon_rad = np.deg2rad(x)
    lat_rad = np.deg2rad(y)
    cos_lat = np.cos(lat_rad)

    # columnar output buffers — emit() per-row dicts dominate kernel
    # time when most of the input turns into staypoints
    o_start: list = []
    o_finish: list = []
    o_lon: list[float] = []
    o_lat: list[float] = []
    o_elev: list = []
    o_pfs: list[list[int]] = []

    def emit(start: int, end: int, last_flag: bool = False) -> None:
        # finished_at is pfs[end]'s time; geometry/linkage span [start, end)
        # — or [start, end] when closing the trailing window
        # (preprocessing/positionfixes.py:560-577).
        o_start.append(ts[start])
        o_finish.append(ts[end])
        stop = n if last_flag else end
        coords = np.unique(np.column_stack((x[start:stop], y[start:stop])), axis=0)
        xr = np.deg2rad(coords[:, 0])
        o_lon.append(float(np.rad2deg(np.arctan2(np.sin(xr).mean(), np.cos(xr).mean()))))
        o_lat.append(float(coords[:, 1].mean()))
        o_elev.append(float(np.median(elev[start:stop])) if elevation_flag else None)
        o_pfs.append(ids[start:stop].tolist())

    curr = start = 0
    for curr in range(1, n):
        if t[curr] - t[curr - 1] > gap_threshold_s:
            start = curr
            continue
        arg = math.cos(lat_rad[start] - lat_rad[curr]) - cos_lat[start] * cos_lat[curr] * (
            1 - math.cos(lon_rad[start] - lon_rad[curr])
        )
        delta_dist = 6371000.0 * math.acos(min(1.0, max(-1.0, arg)))
        if delta_dist >= dist_threshold:
            if t[curr] - t[start] >= time_threshold_s:
                emit(start, curr)
            start = curr

    if include_last and t[curr] - t[start] >= time_threshold_s:
        emit(start, curr, last_flag=True)
    if tail_out is not None:
        tail_out.append(start)

    # typed numpy columns (None -> NaN under float64, like the former
    # Series path) — cheaper to assemble than per-column Series in the
    # per-group streaming regime
    return pd.DataFrame(
        {
            "user_id": np.full(len(o_start), pdf["user_id"].iloc[0], dtype="int64"),
            "started_at": np.asarray(o_start, dtype="datetime64[ns]"),
            "finished_at": np.asarray(o_finish, dtype="datetime64[ns]"),
            "lon": np.asarray(o_lon, dtype="float64"),
            "lat": np.asarray(o_lat, dtype="float64"),
            "elevation": np.asarray(o_elev, dtype="float64"),
            # explicit object dtype: an empty list would otherwise infer
            # float64, which Arrow cannot convert to list<int64>
            "pfs_ids": pd.Series(o_pfs, dtype="object"),
        }
    )


def generate_staypoints(
    pfs: DataFrame,
    method: str = "sliding",
    distance_metric: str = "haversine",
    dist_threshold: float = 100.0,
    time_threshold: float = 5.0,
    gap_threshold: float = 15.0,
    include_last: bool = False,
    exclude_duplicate_pfs: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Detect staypoints in positionfixes; returns (pfs+staypoint_id, sp).

    Thresholds in the reference's units: dist meters, time/gap minutes.

    Each user's fixes are one kernel call, so a mega-user runs in one
    task (SCALE.md, "staypoints kernel (mega-user)").
    """
    if method != "sliding":
        raise ValueError(f"method unknown, only 'sliding' is supported, got {method!r}")
    if distance_metric != "haversine":
        raise ValueError(f"distance_metric unknown, only 'haversine', got {distance_metric!r}")
    validate(pfs, "positionfixes")

    pfs = pfs.drop("staypoint_id")

    from trackintel_spark.plans.partitioning import kernel_partitions

    # ONE user_id exchange serves the whole operator (r12, guide §2.4):
    # the duplicate-drop aggregation, the kernel groupBy and the
    # link-back join's pfs side all require only clustering by a key
    # set CONTAINING user_id, so hash(user_id) satisfies every one of
    # them. Explicit repartition => AQE cannot coalesce the kernel stage.
    kp = kernel_partitions(pfs)
    pfs = pfs.repartition(kp, "user_id")

    if exclude_duplicate_pfs:
        # reference drop_duplicates ignores the index/id (preprocessing/
        # positionfixes.py:105-114): keep the smallest id per duplicate group.
        # Hash aggregation instead of a sort window: the group keys are all
        # non-id columns, so min(id) per group IS the deduped row set —
        # and since user_id is among the group keys, the aggregation runs
        # in-place on the user_id exchange above (no shuffle of its own;
        # map-side combine would be useless on near-unique keys anyway).
        dedup_cols = [c for c in pfs.columns if c != "id"]
        pfs = pfs.groupBy(*dedup_cols).agg(F.min("id").alias("id")).select(*pfs.columns)

    elevation_flag = "elevation" in pfs.columns

    kernel_in = pfs.selectExpr(
        "id",
        "user_id",
        "tracked_at",
        "geom.lon AS lon",
        "geom.lat AS lat",
        ("CAST(elevation AS double) AS elevation" if elevation_flag else "CAST(NULL AS double) AS elevation"),
    )

    time_threshold_s = time_threshold * 60.0
    gap_threshold_s = gap_threshold * 60.0

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _sliding_kernel(
            pdf,
            dist_threshold=dist_threshold,
            time_threshold_s=time_threshold_s,
            gap_threshold_s=gap_threshold_s,
            include_last=include_last,
            elevation_flag=elevation_flag,
        )

    raw_sp = kernel_in.groupBy("user_id").applyInPandas(_run, schema=_KERNEL_SCHEMA)
    # the id pass caches its input for its counting job, and its sorted
    # cache then feeds the sp and link-back branches and every
    # downstream operator: the sliding scan runs once
    sp = dense_id_by_user(raw_sp, order_by=["started_at"], id_col="id")

    # link staypoint_id back onto pfs: explode the member-id list and join
    # (reference _explode_agg, preprocessing/util.py:87-114). user_id
    # rides along as a join key so the pfs side reuses the operator-top
    # user_id exchange (sort only, no re-shuffle of the full table);
    # only the narrow link rows shuffle. A pf's id determines its user,
    # so the extra key never changes the match set.
    links = sp.selectExpr("user_id", "id AS staypoint_id", "explode(pfs_ids) AS id")
    pfs_out = pfs.join(links, on=["user_id", "id"], how="left")

    sp_cols = ["id", "user_id", "started_at", "finished_at"]
    if elevation_flag:
        sp_cols.append("elevation")
    sp_out = sp.select(
        *sp_cols,
        F.struct(F.col("lon"), F.col("lat")).alias("geom"),
    )
    return pfs_out, sp_out
