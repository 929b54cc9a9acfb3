"""generate_triplegs — segment positionfixes between staypoints into legs.

Reference: trackintel ``generate_triplegs`` (preprocessing/
positionfixes.py:187-414) with its overlap-staypoints variant
(:417-475). The reference is one per-user pass over the time-ordered
positionfixes; here its segmentation is ONE side-effect-free step,
:func:`_run_split`, vectorized over a user's fixes (numpy arrays, no
Python object per fix), which the batch operator runs per user
(``groupBy("user_id").applyInPandas``) and
``streaming/triplegs_state.py::_ingest_and_settle`` runs from its state
for ``triplegs_stream_exact`` and ``trips_stream_exact`` — the pattern
``operators/trips.py::_assembly_step`` uses for trips. The modes differ
only at the end of input and in what they keep: batch closes the last
run and applies the reference's >=2-pf and zero-extent rules; the
stream holds the open run until a staypoint or a gap closes it and
emits every closed run.

Semantics reproduced:
* a leg is a maximal run of consecutive pfs (per user, in
  (tracked_at, id) order) outside any staypoint; a temporal gap >
  gap_threshold between neighbours splits it (:307-330);
* legs with <2 positionfixes are invalid: their pfs get NULL tripleg_id
  and no leg row is emitted (:368-372);
* a leg's geometry is the time-ordered LineString of its member pfs
  (:386-391); ``started_at``/``finished_at`` = first/last tracked_at;
* geometrically invalid legs (all vertices identical — zero-extent
  LineString) are dropped and their pfs unlinked (:398,
  ``_drop_invalid_triplegs`` :582-619);
* leg ids are dense 0..n-1 in (user_id, started_at) order (:376 over
  the (user_id, tracked_at)-sorted frame), assigned before the
  zero-extent drop, so surviving ids keep their numbers;
* case 2 (staypoints given but pfs lack ``staypoint_id``): a pf is a
  staypoint member when its tracked_at falls in one of its user's
  staypoint [started_at, finished_at) intervals (:268-300);
* ``overlap_staypoints`` (:417-475): a staypoint's FIRST pf joins the
  valid leg right before it unless a gap sits between, which extends
  that leg's ``finished_at`` (:449-455); its LAST pf joins the valid
  leg right after it unless a gap sits between, it is the user's first
  pf, or it already joined the leg before (:457-462). Joined pfs are
  linked to the leg and contribute the staypoint's point to its
  geometry (:464-468); dropped legs extend nothing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from trackintel_spark.model.schemas import validate
from trackintel_spark.plans.ids import dense_id_by_user

_PF, _SP = 0, 1  # kernel row kinds: a positionfix, a staypoint

_KERNEL_SCHEMA = (
    "user_id long, start_us long, end_us long, lons array<double>, lats array<double>,"
    " pfs_ids array<long>, valid boolean"
)


def _run_split(ts_us: np.ndarray, in_sp: np.ndarray, gap_s: float) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Split time-ordered fixes into travel runs.

    ``ts_us`` are the fixes' times (int64 µs) and ``in_sp`` marks the
    staypoint members. A run is a maximal sequence of consecutive fixes
    outside staypoints with no gap (> ``gap_s`` seconds) between
    neighbours; every run, the last one included, is closed.

    Returns ``(gap, lo, hi)``: ``gap[i]`` marks a gap between fix
    ``i - 1`` and fix ``i``, and run ``k`` is fixes ``lo[k]`` to
    ``hi[k] - 1``. The arguments are not modified.
    """
    t = ts_us / 1e6  # seconds, as Spark casts a timestamp to double
    n = len(t)
    gap = np.zeros(n, bool)
    gap[1:] = np.diff(t) > gap_s
    # cut[i]: no run spans fixes i - 1 and i (cut[0], cut[n]: the ends)
    cut = np.ones(n + 1, bool)
    cut[1:n] = in_sp[:-1] | in_sp[1:] | gap[1:]
    travel = ~in_sp
    return gap, np.flatnonzero(travel & cut[:-1]), np.flatnonzero(travel & cut[1:]) + 1


def _same(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Elementwise equality with NaN equal to NaN, as Spark compares doubles."""
    return (a == b) | (np.isnan(a) & np.isnan(b))


def _triplegs_kernel(pdf: pd.DataFrame, gap_s: float, match: bool, overlap: bool) -> pd.DataFrame:
    """One user's legs of >=2 pfs: the run split over all their fixes.

    ``valid`` is false for zero-extent legs, which the caller numbers
    and then drops. ``match`` derives staypoint membership from the
    user's staypoint rows (case 2); ``overlap`` extends each valid leg
    into its bounding staypoints."""
    is_pf = pdf["kind"].to_numpy() == _PF
    pf, sp = pdf[is_pf], pdf[~is_pf]
    pf = pf.iloc[np.lexsort((pf["id"].to_numpy(), pf["t_us"].to_numpy()))]
    ts, ids = pf["t_us"].to_numpy("int64"), pf["id"].to_numpy("int64")
    lon, lat = pf["lon"].to_numpy("float64"), pf["lat"].to_numpy("float64")
    in_sp = pf["in_sp"].to_numpy(bool)
    n = len(ts)
    if match:
        # a fix inside any [started_at, finished_at) of the user's staypoints
        a = np.searchsorted(ts, sp["t_us"].to_numpy("int64"))
        b = np.maximum(a, np.searchsorted(ts, sp["end_us"].to_numpy("int64")))
        cover = np.zeros(n + 1, "int64")
        np.add.at(cover, a, 1)
        np.add.at(cover, b, -1)
        in_sp = np.cumsum(cover[:n]) > 0

    gap, lo, hi = _run_split(ts, in_sp, gap_s)
    two = hi - lo >= 2
    lo, hi = lo[two], hi[two]
    # >=2 distinct vertices: some vertex differs from its predecessor
    moved = np.zeros(n, bool)
    moved[1:] = ~(_same(lon[1:], lon[:-1]) & _same(lat[1:], lat[:-1]))
    n_moved = np.cumsum(moved)
    valid = n_moved[hi - 1] > n_moved[lo]

    first, end, last = lo, hi, hi - 1  # member fixes first..end-1; finished_at at last
    if overlap:
        # without a gap, the fix after a run is a staypoint's first fix
        # and joins it; the fix before it is a staypoint's last fix and
        # joins it unless that is the user's first fix or joined the
        # leg before
        nxt = valid & (hi < n) & ~gap[np.minimum(hi, n - 1)]
        taken = np.zeros(n, bool)
        taken[hi[nxt]] = True
        prv = valid & (lo >= 2) & ~gap[lo] & ~taken[np.maximum(lo - 1, 0)]
        first, end, last = lo - prv, hi + nxt, hi - 1 + nxt
        # joined staypoint fixes contribute the staypoint's point
        edge = np.r_[lo[prv] - 1, hi[nxt]]
        at = sp.drop_duplicates("id").set_index("id").reindex(pf["sp_id"].to_numpy()[edge])
        lon, lat = lon.copy(), lat.copy()
        lon[edge], lat[edge] = at["lon"].to_numpy(), at["lat"].to_numpy()

    def members(a: np.ndarray) -> pd.Series:
        return pd.Series([a[i:j] for i, j in zip(first, end)], dtype=object)

    return pd.DataFrame(
        {
            "user_id": pdf["user_id"].iloc[0],
            "start_us": ts[lo],
            "end_us": ts[last],
            "lons": members(lon),
            "lats": members(lat),
            "pfs_ids": members(ids),
            "valid": valid,
        }
    )


def generate_triplegs(
    pfs: DataFrame,
    staypoints: DataFrame | None = None,
    method: str = "between_staypoints",
    gap_threshold: float = 15.0,
) -> tuple[DataFrame, DataFrame]:
    """Segment pfs into triplegs; returns (pfs+tripleg_id, tpls)."""
    validate(pfs, "positionfixes")
    if method not in ("between_staypoints", "overlap_staypoints"):
        raise ValueError(
            f"Method unknown. We only support 'between_staypoints' and 'overlap_staypoints'. You passed {method}"
        )

    match = "staypoint_id" not in pfs.columns
    overlap = method == "overlap_staypoints"
    if overlap:
        # reference preconditions (:254-258)
        if staypoints is None:
            raise TypeError("staypoints input must be provided for overlap_staypoints method.")
        if match:
            raise TypeError("positionfixes must contain a staypoint_id column for overlap_staypoints method.")
    if match and staypoints is None:
        raise TypeError("staypoints input must be provided for pfs without staypoint_id column.")

    from trackintel_spark.plans.partitioning import kernel_partitions

    pfs = pfs.drop("tripleg_id")
    # ONE user_id exchange: the kernel groupBy and the link-back join's
    # pfs side both reuse it (see generate_staypoints)
    kp = kernel_partitions(pfs)
    pfs = pfs.repartition(kp, "user_id")
    units = pfs.selectExpr(
        "user_id", f"{_PF} AS kind", "id", "unix_micros(tracked_at) AS t_us", "CAST(0 AS long) AS end_us",
        "geom.lon AS lon", "geom.lat AS lat",
        "false AS in_sp" if match else "staypoint_id IS NOT NULL AS in_sp",
        "CAST(coalesce(staypoint_id, 0) AS long) AS sp_id" if overlap else "CAST(0 AS long) AS sp_id",
    )
    if match or overlap:
        validate(staypoints, "staypoints")
        # the user's staypoints ride in their kernel group; the union
        # keeps the pfs side's partitioning
        units = units.unionByName(
            staypoints.selectExpr(
                "user_id", f"{_SP} AS kind", "id", "unix_micros(started_at) AS t_us",
                "unix_micros(finished_at) AS end_us", "geom.lon AS lon", "geom.lat AS lat",
                "false AS in_sp", "CAST(0 AS long) AS sp_id",
            ).repartition(kp, "user_id")
        )
    gap_s = gap_threshold * 60.0

    def _run(pdf: pd.DataFrame) -> pd.DataFrame:
        return _triplegs_kernel(pdf, gap_s, match, overlap)

    raw = units.groupBy("user_id").applyInPandas(_run, schema=_KERNEL_SCHEMA)
    # ids are assigned before the zero-extent drop (reference :376
    # then :398), so the sequence may have holes
    legs = dense_id_by_user(raw, order_by=["start_us"], id_col="id").filter("valid")

    tpls = legs.selectExpr(
        "id", "user_id", "timestamp_micros(start_us) AS started_at", "timestamp_micros(end_us) AS finished_at",
        "zip_with(lons, lats, (x, y) -> struct(x AS lon, y AS lat)) AS geom",
    )
    links = legs.selectExpr("user_id", "id AS tripleg_id", "explode(pfs_ids) AS id")
    pfs_out = pfs.join(links, on=["user_id", "id"], how="left").select(*pfs.columns, "tripleg_id")
    return pfs_out, tpls
