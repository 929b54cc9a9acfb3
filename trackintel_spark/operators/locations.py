"""generate_locations — cluster staypoints into locations (DBSCAN).

Reference: trackintel ``generate_locations`` (preprocessing/
staypoints.py:13-239). The reference delegates to sklearn DBSCAN
(ball_tree, haversine, eps = meters/6371000, :95-99); sklearn is not a
dependency here, so the kernel is a self-contained numpy DBSCAN with
identical semantics (index-order BFS expansion — the same border-point
assignment rule sklearn implements).

* ``agg_level='user'``: one per-user ``applyInPandas`` kernel runs
  DBSCAN and emits one row per cluster (local label, geometry, member
  staypoint ids) — the shape of the other generate-operators. Ids come
  from one ``dense_id_by_user`` pass over (user_id, label). The
  reference offsets each user's labels by the running sum of
  (max_label + 1) over earlier users in user_id order (:119-137);
  DBSCAN labels are contiguous from 0, so that offset plus the label
  IS the dense rank over (user_id, label);
* ``agg_level='dataset'``: clusters must span users. Exact parity runs
  the same DBSCAN on a single partition (fine for the sizes the
  reference itself can handle — it is O(n^2) centralized there too);
  the scale paths are ``distributed=True`` and
  ``generate_locations_grid`` below. Geometry comes from the same
  per-user cluster function over the labelled members;
* noise label -1 becomes NULL ``location_id`` (:199-200);
* location ``center`` = wrap-safe centroid of member staypoints
  (angle_centroid_multipoints, preprocessing/util.py:117-143);
* ``extent`` = convex hull of member points buffered by epsilon
  (meters -> degrees at the center latitude, :176-190). Without
  shapely the disk is approximated by a 16-gon Minkowski hull —
  geometrically within ~1% of the round buffer.
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

_LABEL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("location_id", T.LongType()),
    ]
)

_CLUSTER_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("label", T.LongType()),
        T.StructField("center_lon", T.DoubleType()),
        T.StructField("center_lat", T.DoubleType()),
        T.StructField("extent", T.ArrayType(
            T.StructType([T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())])
        )),
        T.StructField("sp_ids", T.ArrayType(T.LongType())),
    ]
)


def _haversine_rad_matrix(lon_r: np.ndarray, lat_r: np.ndarray, i: np.ndarray) -> np.ndarray:
    """Unit-sphere distances (radians) from points[i] to all points."""
    arg = np.cos(lat_r[i, None] - lat_r[None, :]) - np.cos(lat_r[i, None]) * np.cos(lat_r[None, :]) * (
        1 - np.cos(lon_r[i, None] - lon_r[None, :])
    )
    return np.arccos(np.clip(arg, -1.0, 1.0))


def dbscan_haversine(lon: np.ndarray, lat: np.ndarray, eps_rad: float, min_samples: int) -> np.ndarray:
    """DBSCAN with great-circle metric; labels match sklearn's
    index-order BFS (noise = -1). O(n^2) per group, chunked."""
    n = len(lon)
    lon_r, lat_r = np.deg2rad(lon), np.deg2rad(lat)
    neighbors: list[np.ndarray] = []
    chunk = 2048
    counts = np.zeros(n, dtype=np.int64)
    for s in range(0, n, chunk):
        idx = np.arange(s, min(s + chunk, n))
        d = _haversine_rad_matrix(lon_r, lat_r, idx)
        for k, row in enumerate(d):
            nb = np.flatnonzero(row <= eps_rad)
            neighbors.append(nb)
            counts[s + k] = len(nb)
    core = counts >= min_samples

    labels = np.full(n, -1, dtype=np.int64)
    cluster = 0
    from collections import deque

    for i in range(n):
        if labels[i] != -1 or not core[i]:
            continue
        labels[i] = cluster
        seeds = deque(neighbors[i])
        while seeds:
            j = seeds.popleft()
            if labels[j] == -1:
                labels[j] = cluster
                if core[j]:
                    seeds.extend(neighbors[j])
        cluster += 1
    return labels


def _convex_hull(points: np.ndarray) -> np.ndarray:
    """Andrew's monotone chain; returns hull vertices CCW (closed not).
    The turn test is the 2-D cross product on Python floats: the
    formula ``np.cross`` evaluates, without a numpy call per point."""
    pts = np.unique(points, axis=0)
    if len(pts) <= 2:
        return pts
    pts = pts[np.lexsort((pts[:, 1], pts[:, 0]))].tolist()

    def half(iterable):
        hull: list[list[float]] = []
        for p in iterable:
            x, y = p
            while len(hull) >= 2:
                (x0, y0), (x1, y1) = hull[-2], hull[-1]
                if (x1 - x0) * (y - y0) - (y1 - y0) * (x - x0) > 0:
                    break
                hull.pop()
            hull.append(p)
        return hull

    lower = half(pts)
    upper = half(pts[::-1])
    return np.array(lower[:-1] + upper[:-1])


def _buffered_hull(points: np.ndarray, buffer_deg: float, k: int = 16) -> np.ndarray:
    """Convex hull of per-vertex k-gon disks == k-gon approximation of the
    round buffer of the convex hull (reference buffers by epsilon,
    preprocessing/staypoints.py:176-190)."""
    ang = np.linspace(0, 2 * math.pi, k, endpoint=False)
    ring = np.column_stack((np.cos(ang), np.sin(ang))) * buffer_deg
    cloud = (points[:, None, :] + ring[None, :, :]).reshape(-1, 2)
    return _convex_hull(cloud)


def _cluster_geometry(pdf: pd.DataFrame, labels: np.ndarray, epsilon: float) -> pd.DataFrame:
    """One ``_CLUSTER_SCHEMA`` row per cluster of one user's staypoints
    ``pdf`` (``id``, ``user_id``, ``lon``, ``lat``) under ``labels``
    (noise, label < 0, is skipped): the wrap-safe centroid of the
    unique member coordinates, their convex hull buffered by
    ``epsilon`` meters, and the member staypoint ids."""
    ids, lon, lat = pdf["id"].to_numpy(), pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
    order = np.argsort(labels, kind="stable")
    keys, starts = np.unique(labels[order], return_index=True)
    out: dict[str, list] = {f: [] for f in _CLUSTER_SCHEMA.fieldNames()}
    for label, members in zip(keys, np.split(order, starts[1:])):
        if label < 0:
            continue
        coords = np.unique(np.column_stack((lon[members], lat[members])), axis=0)
        xr = np.deg2rad(coords[:, 0])
        clat = float(coords[:, 1].mean())
        hull = _buffered_hull(coords, epsilon / (111.32 * 1000 * math.cos(math.radians(clat))))
        out["user_id"].append(pdf["user_id"].iloc[0])
        out["label"].append(int(label))
        out["center_lon"].append(float(np.rad2deg(np.arctan2(np.sin(xr).mean(), np.cos(xr).mean()))))
        out["center_lat"].append(clat)
        out["extent"].append([{"lon": float(x), "lat": float(y)} for x, y in hull])
        out["sp_ids"].append(ids[members].tolist())
    # object columns: an empty list would otherwise infer float64,
    # which Arrow cannot convert to the schema's list types
    return pd.DataFrame({f: pd.Series(v, dtype="object") for f, v in out.items()})


def _locations_kernel(pdf: pd.DataFrame, eps_rad: float, num_samples: int, epsilon: float) -> pd.DataFrame:
    """One user's staypoints -> that user's locations, local labels
    0..k-1. The reference sorts by (user_id, started_at) before
    clustering (:92), so labels follow first appearance in time."""
    pdf = pdf.sort_values(["started_at", "id"], kind="stable")
    labels = dbscan_haversine(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), eps_rad, num_samples)
    return _cluster_geometry(pdf, labels, epsilon)


def generate_locations(
    sp: DataFrame,
    method: str = "dbscan",
    epsilon: float = 100.0,
    num_samples: int = 1,
    distance_metric: str = "haversine",
    agg_level: str = "user",
    activities_only: bool = False,
    distributed: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Cluster staypoints; returns (sp+location_id, locations).

    ``distributed=True`` (dataset level only) routes the labeling
    through :func:`dbscan_distributed` — the grid-contracted DBSCAN
    that never centralizes a partition. Cluster PARTITIONS are
    identical to the exact path; numbering and the multi-cluster
    border tie-break follow dbscan_distributed's documented
    deterministic rules (min member / min label) instead of the
    reference's scan order. Use it when dataset-level clustering must
    run at scale; the default single-group kernel is exact reference
    parity for data sizes the reference itself can cluster.
    """
    validate(sp, "staypoints")
    if "location_id" in sp.columns:  # overwritten, like the reference (:199)
        sp = sp.drop("location_id")
    if agg_level not in ("user", "dataset"):
        raise ValueError(f"agg_level '{agg_level}' is unknown. Supported values are ['user', 'dataset'].")
    if method != "dbscan":
        raise ValueError(f"method '{method}' is unknown. Supported value is ['dbscan'].")
    if distance_metric != "haversine":
        raise ValueError(f"distance_metric '{distance_metric}' is unsupported; only 'haversine'.")

    non_activities = None
    work = sp
    if activities_only:
        if "activity" not in sp.columns and "is_activity" not in sp.columns:
            raise KeyError('staypoints must contain column "activity" if "activities_only" flag is set.')
        flag = "activity" if "activity" in sp.columns else "is_activity"
        non_activities = sp.filter(~F.col(flag))
        work = sp.filter(F.col(flag))

    eps_rad = epsilon / 6371000.0
    pts_cols = ["id", "user_id", F.col("geom.lon").alias("lon"), F.col("geom.lat").alias("lat"), "started_at"]

    if agg_level == "user":
        from trackintel_spark.plans.partitioning import kernel_partitions

        # ONE user_id exchange feeds the kernel and the link-back join's
        # staypoint side, as in generate_staypoints
        work = work.repartition(kernel_partitions(work), "user_id")
        raw = work.select(*pts_cols).groupBy("user_id").applyInPandas(
            lambda pdf: _locations_kernel(pdf, eps_rad, num_samples, epsilon), schema=_CLUSTER_SCHEMA
        )
        clusters = dense_id_by_user(raw, order_by=["label"])
        links = clusters.selectExpr("user_id", "id AS location_id", "explode(sp_ids) AS id")
        sp_out = work.join(links, on=["user_id", "id"], how="left").select(
            "id", *[c for c in work.columns if c != "id"], "location_id"
        )
    else:
        pts = work.select(*pts_cols)
        if distributed:
            # dataset level at scale: grid-contracted distributed DBSCAN
            # (operators/dbscan_distributed.py) — same cluster partitions,
            # deterministic min-member numbering.
            from trackintel_spark.operators.dbscan_distributed import dbscan_distributed

            lbl = dbscan_distributed(pts.select("id", "lon", "lat"), epsilon_m=epsilon, min_samples=num_samples)
            labeled = pts.select("id", "user_id").join(lbl, on="id", how="left")
        else:
            # dataset level: single-group kernel (exact parity; the
            # reference is O(n^2) centralized here too). Scale paths:
            # distributed=True above, or generate_locations_grid.
            def _label_sorted(pdf: pd.DataFrame) -> pd.DataFrame:
                pdf = pdf.sort_values(["started_at", "id"], kind="stable")
                labels = dbscan_haversine(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), eps_rad, num_samples)
                return pd.DataFrame({"id": pdf["id"], "user_id": pdf["user_id"], "location_id": labels})

            labeled = pts.withColumn("__g", F.lit(1)).groupBy("__g").applyInPandas(_label_sorted, schema=_LABEL_SCHEMA)
        # noise (label -1, or NULL from dbscan_distributed) joins as NULL
        sp_out = work.join(labeled.filter("location_id >= 0").select("id", "location_id"), on="id", how="left")
        # one location row per (user, cluster) its members fall in (:162-168)
        members = sp_out.filter(F.col("location_id").isNotNull()).select(
            "id", "user_id", "location_id", F.col("geom.lon").alias("lon"), F.col("geom.lat").alias("lat")
        )
        clusters = members.groupBy("user_id").applyInPandas(
            lambda pdf: _cluster_geometry(pdf, pdf["location_id"].to_numpy(), epsilon), schema=_CLUSTER_SCHEMA
        ).withColumnRenamed("label", "id")

    if non_activities is not None:
        sp_out = sp_out.unionByName(non_activities.withColumn("location_id", F.lit(None).cast("long")))
    locs = clusters.select(
        "id",
        "user_id",
        F.struct(F.col("center_lon").alias("lon"), F.col("center_lat").alias("lat")).alias("center"),
        "extent",
    )
    return sp_out, locs


def generate_locations_grid(
    sp: DataFrame,
    cell_size_m: float = 100.0,
) -> tuple[DataFrame, DataFrame]:
    """Scale-path location generation: fixed-grid clustering.

    Pure SQL (zero Python, one shuffle): staypoints sharing a grid cell
    of ``cell_size_m`` meters form a location. Coarser than DBSCAN but
    runs on 100 TB; the cell id doubles as a join key for co-located
    downstream work. Not a reference operator — documented extension.
    """
    validate(sp, "staypoints")
    lat0 = 111320.0
    cell_lat = F.floor(F.col("geom.lat") * lat0 / cell_size_m)
    cell_lon = F.floor(F.col("geom.lon") * lat0 * F.cos(F.radians(F.col("geom.lat"))) / cell_size_m)
    tagged = sp.withColumn("__cell", F.concat_ws("_", F.col("user_id"), cell_lon, cell_lat))
    # cell count grows with the data: range-partitioned two-phase rank,
    # not a single-task global window
    from trackintel_spark.plans.ids import dense_rank_ordered

    cells = dense_rank_ordered(tagged.select("__cell"), "__cell", out_col="location_id")
    sp_out = tagged.join(cells, on="__cell", how="left")
    locs = (
        sp_out.groupBy("location_id")
        .agg(
            F.first("user_id").alias("user_id"),
            F.degrees(F.atan2(F.avg(F.sin(F.radians("geom.lon"))), F.avg(F.cos(F.radians("geom.lon"))))).alias("lon"),
            F.avg("geom.lat").alias("lat"),
        )
        .select(
            F.col("location_id").alias("id"),
            "user_id",
            F.struct(F.col("lon"), F.col("lat")).alias("center"),
        )
    )
    return sp_out.drop("__cell"), locs
