"""Trajectory-to-trajectory distances: DTW and discrete Fréchet.

Reference: calculate_distance_matrix with LineString inputs delegates
to the `similaritymeasures` package per pair in an upper-triangle loop
(geogr/distances.py:156-185) — O(n²) pairs, each O(len·len), single
threaded. Here the full matrix is a Spark self-join (long-form
(i, j, dist), mirroring the reference's upper-triangle optimization)
whose per-pair dynamic programs run in a grouped ``applyInPandas``
kernel per ``i``. The pruned operators — top-k search and the
thresholded similarity join — filter with exact lower bounds first and
run the DP over the survivors in ``mapInPandas`` passes over Arrow
batches.

Kernels are numpy ports of the standard algorithms (public knowledge):
* DTW: cumulative-cost dynamic program over the pairwise great-circle
  cost matrix, unconstrained warping window;
* discrete Fréchet: Eiter & Mannila (1994) coupling recursion.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_R_M = 6371000.0


def _haversine(lon1, lat1, lon2, lat2) -> np.ndarray:
    """Great-circle meters between degree arrays that broadcast,
    asin-form haversine (matches functions/spatial.py). Every cost the
    DP kernels and the join's endpoint bound use comes from here, so a
    bound and the DP cell it bounds are the same float."""
    lon1, lat1, lon2, lat2 = np.deg2rad(lon1), np.deg2rad(lat1), np.deg2rad(lon2), np.deg2rad(lat2)
    s = np.sqrt(
        np.sin((lat1 - lat2) / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin((lon1 - lon2) / 2.0) ** 2
    )
    return 2.0 * _R_M * np.arcsin(np.minimum(1.0, s))


def _pair_cost(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Great-circle cost matrix between vertex arrays (n,2) and (m,2)."""
    return _haversine(a[:, 0][:, None], a[:, 1][:, None], b[:, 0][None, :], b[:, 1][None, :])


def dtw_distance(a: np.ndarray, b: np.ndarray) -> float:
    """DTW cumulative cost — scalar recursion for tiny matrices,
    anti-diagonal numpy wavefront above 2048 cells.

    Cells on diagonal i+j=d depend only on diagonals d-1 and d-2, so
    the DP runs in O(n+m) numpy steps instead of O(n·m) Python-level
    iterations — at real GPS leg lengths (hundreds of vertices) the
    interpreter loop, not the arithmetic, dominated the refine stage
    of trajectory_similarity_join (5-6x at 500 vertices). Below ~2k
    cells the per-diagonal numpy dispatch overhead loses to the plain
    loop (measured crossover ~45x45 — and short legs dominate
    candidate refines), hence the hybrid. Both paths compute the identical
    arithmetic (min of the same three operands, then add), so results
    are bit-equal regardless of which fires.
    """
    cost = _pair_cost(a, b)
    n, m = cost.shape
    acc = np.full((n + 1, m + 1), np.inf)
    acc[0, 0] = 0.0
    if n * m <= 2048:
        # tiny matrices: the scalar recursion beats per-diagonal numpy
        # dispatch overhead (~1.5x at 20 vertices) — and short legs
        # dominate candidate-join refines, so this path is hot too
        for i in range(1, n + 1):
            acc[i, 1 : m + 1] = cost[i - 1]
            for j in range(1, m + 1):
                acc[i, j] += min(acc[i - 1, j], acc[i, j - 1], acc[i - 1, j - 1])
        return float(acc[n, m])
    for d in range(2, n + m + 1):  # i + j = d over the padded accumulator
        i = np.arange(max(1, d - m), min(n, d - 1) + 1)
        j = d - i
        prev = np.minimum(np.minimum(acc[i - 1, j], acc[i, j - 1]), acc[i - 1, j - 1])
        acc[i, j] = cost[i - 1, j - 1] + prev
    return float(acc[n, m])


def frechet_distance(a: np.ndarray, b: np.ndarray) -> float:
    """Discrete Fréchet (Eiter & Mannila 1994), the coupling DP
    vectorized over anti-diagonals (same wavefront argument and
    bit-equality as :func:`dtw_distance`)."""
    cost = _pair_cost(a, b)
    n, m = cost.shape
    ca = np.full((n, m), np.inf)
    ca[:, 0] = np.maximum.accumulate(cost[:, 0])
    ca[0, :] = np.maximum.accumulate(cost[0, :])
    if n * m <= 2048:
        # tiny matrices: scalar recursion wins (see dtw_distance)
        for i in range(1, n):
            for j in range(1, m):
                ca[i, j] = max(min(ca[i - 1, j], ca[i, j - 1], ca[i - 1, j - 1]), cost[i, j])
        return float(ca[n - 1, m - 1])
    for d in range(2, n + m - 1):  # i + j = d over the interior
        i = np.arange(max(1, d - m + 1), min(n - 1, d - 1) + 1)
        j = d - i
        mn = np.minimum(np.minimum(ca[i - 1, j], ca[i, j - 1]), ca[i - 1, j - 1])
        ca[i, j] = np.maximum(mn, cost[i, j])
    return float(ca[n - 1, m - 1])


def _batch_cost(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Great-circle cost tensor between stacked vertex arrays (B,n,2)
    and (B,m,2) — the batched form of :func:`_pair_cost` (identical
    arithmetic per cell, so results are bit-equal)."""
    return _haversine(a[:, :, 0][:, :, None], a[:, :, 1][:, :, None],
                      b[:, :, 0][:, None, :], b[:, :, 1][:, None, :])


def dtw_distance_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """DTW for a BATCH of same-length pairs: ``a`` (B,n,2), ``b``
    (B,m,2) -> (B,) distances.

    Same anti-diagonal wavefront as :func:`dtw_distance`, with the
    batch as an extra leading axis: one numpy dispatch per diagonal
    serves every pair in the batch, so the per-call overhead that
    dominated the per-pair refine loop (r12 verdict #8 — 90k kernel
    invocations of ~100 tiny numpy steps each) is amortized B-fold.
    Each cell computes min of the same three operands then adds, so
    results are bit-equal to both per-pair paths."""
    cost = _batch_cost(a, b)
    B, n, m = cost.shape
    acc = np.full((B, n + 1, m + 1), np.inf)
    acc[:, 0, 0] = 0.0
    for d in range(2, n + m + 1):
        i = np.arange(max(1, d - m), min(n, d - 1) + 1)
        j = d - i
        prev = np.minimum(np.minimum(acc[:, i - 1, j], acc[:, i, j - 1]), acc[:, i - 1, j - 1])
        acc[:, i, j] = cost[:, i - 1, j - 1] + prev
    return acc[:, n, m]


def frechet_distance_batch(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Discrete Fréchet for a BATCH of same-length pairs (see
    :func:`dtw_distance_batch`): (B,n,2) x (B,m,2) -> (B,)."""
    cost = _batch_cost(a, b)
    B, n, m = cost.shape
    ca = np.full((B, n, m), np.inf)
    ca[:, :, 0] = np.maximum.accumulate(cost[:, :, 0], axis=1)
    ca[:, 0, :] = np.maximum.accumulate(cost[:, 0, :], axis=1)
    for d in range(2, n + m - 1):
        i = np.arange(max(1, d - m + 1), min(n - 1, d - 1) + 1)
        j = d - i
        mn = np.minimum(np.minimum(ca[:, i - 1, j], ca[:, i, j - 1]), ca[:, i - 1, j - 1])
        ca[:, i, j] = np.maximum(mn, cost[:, i, j])
    return ca[:, n - 1, m - 1]


# cap on cost-tensor cells per batched DP call: bounds the (B,n,m)
# float64 temporaries to ~tens of MB per task regardless of group size
_BATCH_DP_MAX_CELLS = 4_000_000


def _pairwise_distance_batched(
    la: list, pa: list, lb_: list, pb: list, batch_fn
) -> np.ndarray:
    """Distances for parallel lists of vertex arrays, grouped by the
    (len_a, len_b) shape so each group runs one batched wavefront DP
    instead of one numpy DP per pair. Returns (len(la),) float64."""
    k = len(la)
    out = np.empty(k)
    shapes: dict[tuple[int, int], list[int]] = {}
    for idx in range(k):
        shapes.setdefault((len(la[idx]), len(lb_[idx])), []).append(idx)
    for (n, m), idxs in shapes.items():
        if n == 0 or m == 0:
            # zero-vertex trajectories cannot batch (zero-cell DP, the
            # chunk sizing below would divide by zero); route them
            # through the scalar kernel so their behavior is exactly
            # the pre-batching per-pair path's
            scalar_fn = dtw_distance if batch_fn is dtw_distance_batch else frechet_distance
            for idx in idxs:
                out[idx] = scalar_fn(
                    np.column_stack((la[idx], pa[idx])),
                    np.column_stack((lb_[idx], pb[idx])),
                )
            continue
        step = max(1, _BATCH_DP_MAX_CELLS // (n * m))
        for s in range(0, len(idxs), step):
            chunk = idxs[s : s + step]
            A = np.empty((len(chunk), n, 2))
            Bv = np.empty((len(chunk), m, 2))
            for t, idx in enumerate(chunk):
                A[t, :, 0] = la[idx]
                A[t, :, 1] = pa[idx]
                Bv[t, :, 0] = lb_[idx]
                Bv[t, :, 1] = pb[idx]
            out[chunk] = batch_fn(A, Bv)
    return out


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("i", T.LongType()),
        T.StructField("j", T.LongType()),
        T.StructField("dist_m", T.DoubleType()),
    ]
)


def trajectory_distance_matrix(
    tpls: DataFrame,
    Y: DataFrame | None = None,
    metric: str = "dtw",
    id_col: str = "id",
    geom_col: str = "geom",
) -> DataFrame:
    """Trajectory distances in long form (i, j, dist_m).

    Without ``Y``: all pairs within ``tpls``, upper triangle (i < j) —
    the reference's X-only case (geogr/distances.py:176-181). With
    ``Y``: the FULL len(X) x len(Y) combination set (reference
    geogr/distances.py:182-186) — i comes from ``tpls``, j from ``Y``,
    ids are independent namespaces (an (i, j) row with i == j is a
    cross-set pair, not a self-pair), and no symmetry is implied.

    Pairs shuffle-partition by i so the O(len^2) dynamic programs run in
    parallel; at scale pre-filter pairs (e.g. by bbox overlap or an LSH
    over resampled signatures) before calling this.
    """
    fn = {"dtw": dtw_distance, "frechet": frechet_distance}.get(metric)
    if fn is None:
        raise ValueError(f"metric unknown, one of ('dtw', 'frechet'), got {metric!r}")

    def _flat(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col).alias("__tid"),
            F.transform(geom_col, lambda p: p["lon"]).alias("__lons"),
            F.transform(geom_col, lambda p: p["lat"]).alias("__lats"),
        )

    # consumed by both sides of the join, but it is a projection
    # cheap to recompute — persisting here would leak cached blocks for
    # the session lifetime (the caller's action runs after we return)
    flat = _flat(tpls)
    a = flat.select(F.col("__tid").alias("i"), F.col("__lons").alias("la"), F.col("__lats").alias("ya"))
    bsrc = flat if Y is None else _flat(Y)
    b = bsrc.select(F.col("__tid").alias("j"), F.col("__lons").alias("lb"), F.col("__lats").alias("yb"))
    if Y is None:
        pairs = a.join(b, on=F.col("i") < F.col("j"), how="inner")
    else:
        pairs = a.crossJoin(b)

    batch_fn = dtw_distance_batch if metric == "dtw" else frechet_distance_batch

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # batched DP over same-shape pairs (r13, guide §4.5) — bit-equal
        # to the per-pair kernels, one wavefront per (len_i, len_j) shape
        d = _pairwise_distance_batched(
            pdf["la"].tolist(), pdf["ya"].tolist(),
            pdf["lb"].tolist(), pdf["yb"].tolist(), batch_fn,
        )
        return pd.DataFrame(
            {"i": pdf["i"].to_numpy(), "j": pdf["j"].to_numpy(), "dist_m": d}
        )

    return pairs.groupBy("i").applyInPandas(lambda pdf: kernel(pdf), schema=_PAIR_SCHEMA)


def trajectory_topk(
    tpls: DataFrame,
    query: list[tuple[float, float]],
    k: int = 10,
    metric: str = "frechet",
    id_col: str = "id",
    geom_col: str = "geom",
    candidate_factor: int = 4,
) -> DataFrame:
    """EXACT top-``k`` most-similar trajectories to ``query`` (a list of
    (lon, lat) vertices) — the distributed top-k trajectory similarity
    search problem (REPOSE, ICDE 2021, attacks the same query with
    reference-point tries; here the Spark-shaped two-phase
    filter-and-refine):

    1. a cheap map-side LOWER BOUND from the matched endpoints — both
       DTW and discrete Fréchet alignments always couple start with
       start and end with end, so ``dF >= max(d(s,s), d(e,e))`` and
       ``DTW >= d(s,s) + d(e,e)`` — ranks every trajectory without any
       DP work;
    2. the ``candidate_factor * k`` best by lower bound get exact DP
       distances; the k-th exact value becomes the pruning radius τ
       (one small driver collect, like a quantizer fit);
    3. every trajectory whose lower bound <= τ is refined exactly (the
       DP kernel in Arrow batches); TakeOrdered returns the top k.

    Exactness: any trajectory outside phase 3 has LB > τ >= true k-th
    distance, so it cannot belong to the answer. The prune is the
    scale lever: the full DP runs only on the LB <= τ survivors.
    """
    fn = {"dtw": dtw_distance, "frechet": frechet_distance}.get(metric)
    if fn is None:
        raise ValueError(f"metric unknown, one of ('dtw', 'frechet'), got {metric!r}")
    if len(query) < 1:
        raise ValueError("query trajectory needs at least one vertex")

    from trackintel_spark.functions.spatial import haversine_m

    q = np.asarray([[float(lo), float(la)] for lo, la in query], dtype=float)
    q_slon, q_slat = float(q[0, 0]), float(q[0, 1])
    q_elon, q_elat = float(q[-1, 0]), float(q[-1, 1])

    flat = tpls.select(
        F.col(id_col).alias("__tid"),
        F.transform(geom_col, lambda p: p["lon"]).alias("__lons"),
        F.transform(geom_col, lambda p: p["lat"]).alias("__lats"),
    ).filter(F.size("__lons") > 0)
    d_ss = haversine_m(
        F.lit(q_slon), F.lit(q_slat), F.element_at("__lons", 1), F.element_at("__lats", 1)
    )
    d_ee = haversine_m(
        F.lit(q_elon), F.lit(q_elat), F.element_at("__lons", -1), F.element_at("__lats", -1)
    )
    lb = F.greatest(d_ss, d_ee) if metric == "frechet" else (d_ss + d_ee)
    if metric == "dtw" and (q_slon, q_slat) == (q_elon, q_elat):
        # two single-vertex trajectories share one DTW cell: d_ss + d_ee
        # counts it twice (see _endpoint_bound)
        closed = (F.element_at("__lons", 1) == F.element_at("__lons", -1)) & (
            F.element_at("__lats", 1) == F.element_at("__lats", -1))
        lb = F.when(closed, d_ss).otherwise(lb)
    flat = flat.withColumn("__lb", lb).persist()

    batch_fn = dtw_distance_batch if metric == "dtw" else frechet_distance_batch
    q_lons, q_lats = q[:, 0], q[:, 1]

    def exact(df: DataFrame) -> DataFrame:
        # batched refine (r13): candidates grouped by vertex count run
        # one wavefront DP per length against the tiled query
        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            k_ = len(pdf)
            d = _pairwise_distance_batched(
                [q_lons] * k_, [q_lats] * k_,
                pdf["lons"].tolist(), pdf["lats"].tolist(), batch_fn,
            )
            return pd.DataFrame({"tid": pdf["tid"].to_numpy(), "dist_m": d})

        schema = T.StructType(
            [T.StructField("tid", T.LongType()), T.StructField("dist_m", T.DoubleType())]
        )
        from trackintel_spark.plans.partitioning import kernel_partitions

        return (
            df.select(
                F.col("__tid").alias("tid"),
                F.col("__lons").alias("lons"),
                F.col("__lats").alias("lats"),
            )
            .repartition(kernel_partitions(df))
            .mapInPandas(lambda it: (kernel(pdf) for pdf in it), schema=schema)
        )

    # phase 1+2: exact distances of the LB-best seeds -> pruning radius
    seeds = flat.orderBy(F.col("__lb").asc(), F.col("__tid").asc()).limit(
        max(k * candidate_factor, k)
    )
    seed_d = sorted(r["dist_m"] for r in exact(seeds).collect())
    if not seed_d:
        flat.unpersist()
        return tpls.sparkSession.createDataFrame(
            [], f"{id_col} long, dist_m double, rank int"
        )
    tau = seed_d[min(k, len(seed_d)) - 1]

    # phase 3: refine every possible contender
    survivors = flat.filter(F.col("__lb") <= tau)
    refined = exact(survivors)
    from pyspark.sql import Window

    # rank + cutoff on the MICROMETER-rounded distance (the bm25_search
    # convention): DP kernels sum floats in a data-partitioning-
    # dependent order, and sub-ulp noise on tied trajectories would
    # defeat the id tie-break and swap boundary ranks run-to-run. The
    # emitted dist_m stays unrounded.
    r6 = F.round(F.col("dist_m"), 6)
    topk = (
        refined.orderBy(r6.asc(), F.col("tid").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(r6.asc(), F.col("tid").asc())),
        )
        .select(F.col("tid").alias(id_col), "dist_m", "rank")
    )
    # materialize the <= k result rows so the persisted LB frame can be
    # released NOW instead of leaking for the session lifetime
    rows = topk.collect()
    flat.unpersist()
    return tpls.sparkSession.createDataFrame(rows, f"{id_col} long, dist_m double, rank int")


_BATCH_FN = {"dtw": dtw_distance_batch, "frechet": frechet_distance_batch}

# growth of the box-bound margins: relative, plus an absolute term in
# degrees for taus near 0. Float rounding in the degree/radian
# conversions and the haversine stays orders of magnitude below both,
# so no pair at the threshold is dropped.
_BOX_SLACK_REL = 1e-9
_BOX_SLACK_DEG = 1e-9

# candidate index pairs generated at once by the cell kernel: bounds a
# dense cell's pair-index temporaries to a few MB instead of O(k²)
_PAIR_CHUNK = 1 << 18


def _endpoint_bound(s_a, e_a, s_b, e_b, metric: str) -> np.ndarray:
    """Exact lower bound of the DP from the matched endpoints: every
    coupling and warping path pairs start with start and end with end,
    so ``dF >= max(d_ss, d_ee)`` and ``DTW >= d_ss + d_ee``. The DTW sum
    counts one cell twice when both sides are a single vertex, so where
    both trajectories start where they end it falls back to ``d_ss``.
    ``s_*``/``e_*`` are (lon, lat) array pairs; costs come from
    :func:`_haversine`, so in floats the bound never exceeds the DP."""
    d_ss = _haversine(s_a[0], s_a[1], s_b[0], s_b[1])
    d_ee = _haversine(e_a[0], e_a[1], e_b[0], e_b[1])
    if metric == "frechet":
        return np.maximum(d_ss, d_ee)
    closed = (s_a[0] == e_a[0]) & (s_a[1] == e_a[1]) & (s_b[0] == e_b[0]) & (s_b[1] == e_b[1])
    return np.where(closed, d_ss, d_ss + d_ee)


def _boxes(lons, lats) -> np.ndarray:
    """(4, k) bounding boxes ``lon_min, lon_max, lat_min, lat_max`` of
    k non-empty vertex arrays."""
    return np.array(
        [(lo.min(), lo.max(), la.min(), la.max()) for lo, la in zip(lons, lats)], dtype=float
    ).reshape(-1, 4).T


def _box_bound(box_a: np.ndarray, box_b: np.ndarray, tau_m: float) -> np.ndarray:
    """Exact box filter for both metrics: ``False`` only where
    ``distance(a, b) > tau_m`` is certain.

    If dF <= τ or DTW <= τ, every vertex of A lies within τ of some
    vertex of B and the reverse (a coupling, and a warping path of
    nonnegative costs, cover every vertex of both). So each box lies
    inside the other grown by τ, i.e. both ``|Δ lat_min|`` and
    ``|Δ lat_max|`` are within the latitude margin, and likewise in
    longitude:

    * latitude: a great-circle distance is at least the meridian arc,
      so the margin is τ/R radians;
    * longitude: hav(d/R) >= cos φ1 cos φ2 hav(Δλ), so the margin is
      ``2·asin(sin(τ/2R) / cos φmax)`` with φmax the largest |lat| of
      either box. The half is skipped where that ratio reaches 1 (near
      a pole) and where either box comes within the margin of ±180°,
      where a raw degree difference is not the wrapped one.

    Both margins grow by a small slack so float rounding cannot drop a
    pair at the threshold. Pairs with a latitude beyond ±90° skip the
    filter (the haversine is no metric there)."""
    a_lon0, a_lon1, a_lat0, a_lat1 = box_a
    b_lon0, b_lon1, b_lat0, b_lat1 = box_b
    phi = np.maximum(np.maximum(np.abs(a_lat0), np.abs(a_lat1)), np.maximum(np.abs(b_lat0), np.abs(b_lat1)))
    m_lat = np.degrees(tau_m / _R_M) * (1.0 + _BOX_SLACK_REL) + _BOX_SLACK_DEG
    lat_ok = (np.abs(a_lat0 - b_lat0) <= m_lat) & (np.abs(a_lat1 - b_lat1) <= m_lat)
    cos_phi = np.cos(np.radians(phi))
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = math.sin(min(tau_m / (2.0 * _R_M), math.pi / 2.0)) / cos_phi
    m_lon = np.degrees(2.0 * np.arcsin(np.clip(ratio, 0.0, 1.0))) * (1.0 + _BOX_SLACK_REL) + _BOX_SLACK_DEG
    seam = (np.maximum(a_lon1, b_lon1) >= 180.0 - m_lon) | (np.minimum(a_lon0, b_lon0) <= m_lon - 180.0)
    lon_applies = (cos_phi > 0.0) & (ratio < 1.0) & ~seam
    lon_ok = (np.abs(a_lon0 - b_lon0) <= m_lon) & (np.abs(a_lon1 - b_lon1) <= m_lon)
    return (lat_ok | (phi > 90.0)) & (lon_ok | ~lon_applies)


def _refine(la, pa, lb, pb, tau_m: float, batch_fn, box_a=None, box_b=None):
    """The refine step of the similarity join and the stream matcher:
    the box bound, then one batched DP over its survivors.

    ``la``/``pa`` and ``lb``/``pb`` are object arrays of the candidate
    pairs' lon/lat vertex arrays; ``box_a``/``box_b`` their (4, k)
    boxes, computed from the arrays when omitted. Returns the positions
    of the pairs within ``tau_m``, their distances, and how many pairs
    ran the DP."""
    if box_a is None:
        box_a, box_b = _boxes(la, pa), _boxes(lb, pb)
    cand = np.flatnonzero(_box_bound(box_a, box_b, tau_m))
    d = _pairwise_distance_batched(la[cand], pa[cand], lb[cand], pb[cand], batch_fn)
    hit = d <= tau_m
    return cand[hit], d[hit], cand.size


def _cell_join_step(pdf: pd.DataFrame, tau_m: float, metric: str, chunk: int = _PAIR_CHUNK):
    """Join the complete cells of ``pdf``: rows sorted by ``(cy, cx)``,
    one per (trajectory, probed cell), carrying ``id``, ``lons``,
    ``lats``, the endpoints ``s_lon s_lat e_lon e_lat``, the box
    ``lon_min lon_max lat_min lat_max`` and the own cell ``own_cy
    own_cx``.

    In each cell every row whose own cell it is pairs with every row of
    the cell, keeping ``id_a < id_b``. The pairs go through the endpoint
    bound, then :func:`_refine`. Pair generation is vectorized across
    all cells and runs ``chunk`` index pairs at a time. Returns the
    ``(id_a, id_b, dist_m)`` frame and the number of DP pairs."""
    n = len(pdf)
    cy, cx = pdf["cy"].to_numpy(), pdf["cx"].to_numpy()
    first = np.ones(n, dtype=bool)
    first[1:] = (cy[1:] != cy[:-1]) | (cx[1:] != cx[:-1])
    cell = np.cumsum(first) - 1
    starts = np.flatnonzero(first)
    ends = np.append(starts[1:], n)
    own = np.flatnonzero((pdf["own_cy"].to_numpy() == cy) & (pdf["own_cx"].to_numpy() == cx))
    # own row k pairs with rows lo[k] .. lo[k] + size - 1, numbered
    # offs[k] .. offs[k+1] - 1 in the flat pair space
    lo = starts[cell[own]]
    offs = np.concatenate(([0], np.cumsum(ends[cell[own]] - lo)))

    ids = pdf["id"].to_numpy()
    s = pdf["s_lon"].to_numpy(), pdf["s_lat"].to_numpy()
    e = pdf["e_lon"].to_numpy(), pdf["e_lat"].to_numpy()
    keep_a, keep_b = [np.empty(0, np.int64)], [np.empty(0, np.int64)]
    for p0 in range(0, int(offs[-1]), chunk):
        p = np.arange(p0, min(p0 + chunk, int(offs[-1])))
        k = np.searchsorted(offs, p, side="right") - 1
        ia, ib = own[k], lo[k] + (p - offs[k])
        m = ids[ia] < ids[ib]
        ia, ib = ia[m], ib[m]
        m = _endpoint_bound((s[0][ia], s[1][ia]), (e[0][ia], e[1][ia]),
                            (s[0][ib], s[1][ib]), (e[0][ib], e[1][ib]), metric) <= tau_m
        keep_a.append(ia[m])
        keep_b.append(ib[m])
    ia, ib = np.concatenate(keep_a), np.concatenate(keep_b)

    box = pdf[["lon_min", "lon_max", "lat_min", "lat_max"]].to_numpy(dtype=float).T
    lons, lats = pdf["lons"].to_numpy(), pdf["lats"].to_numpy()
    pos, d, n_dp = _refine(lons[ia], lats[ia], lons[ib], lats[ib], tau_m, _BATCH_FN[metric],
                           box[:, ia], box[:, ib])
    out = pd.DataFrame({"id_a": ids[ia[pos]], "id_b": ids[ib[pos]], "dist_m": d})
    return out, n_dp


def _cell_join_batches(batches, tau_m: float, metric: str, chunk: int = _PAIR_CHUNK):
    """The ``mapInPandas`` body: one partition's Arrow batches, sorted
    by cell, joined cell by cell. The last cell of a batch may continue
    in the next one, so its rows wait and join with that batch."""
    pending: list[pd.DataFrame] = []
    for pdf in batches:
        if not len(pdf):
            continue
        cy, cx = pdf["cy"].to_numpy(), pdf["cx"].to_numpy()
        other = np.flatnonzero((cy != cy[-1]) | (cx != cx[-1]))
        if not other.size:
            pending.append(pdf)
            continue
        cut = int(other[-1]) + 1
        yield _cell_join_step(pd.concat(pending + [pdf.iloc[:cut]]), tau_m, metric, chunk)[0]
        pending = [pdf.iloc[cut:]]
    if pending:
        yield _cell_join_step(pd.concat(pending), tau_m, metric, chunk)[0]


def trajectory_similarity_join(
    tpls: DataFrame,
    tau_m: float,
    metric: str = "frechet",
    id_col: str = "id",
    geom_col: str = "geom",
) -> DataFrame:
    """EXACT trajectory similarity self-join: all pairs ``(id_a <
    id_b)`` with ``distance <= tau_m`` — the distributed trajectory
    similarity JOIN problem (the ICDE'19 road-network join and SIGMOD'23
    Ghost attack the same query; here the Spark-shaped partition-local
    plan, the join sibling of :func:`trajectory_topk`'s search). One
    projection, one exchange, one ``mapInPandas`` pass:

    1. **cells** — start points land on a latitude-banded grid (band
       height = tau; per-band longitude width scaled by the band's
       equator-near cosine, the dbscan_distributed discipline). Each
       trajectory becomes one row per cell its tau-disk around the
       start touches, carrying its vertex arrays, endpoints, bounding
       box and own cell. The rows hash-partition on the cell and sort
       within partitions, so each cell is one contiguous run.
    2. **pairs and bounds** — in each cell, every row whose own cell it
       is pairs with every row probing it, keeping ``id_a < id_b``
       (vectorized across the cells of an Arrow batch, in bounded
       chunks). Both DTW and discrete Fréchet couple start with start
       and end with end, so the exact endpoint bound (``dF >=
       max(d_ss, d_ee)``, ``DTW >= d_ss + d_ee``) drops a pair first;
       then the box bound: at distance <= tau every vertex of either
       trajectory lies within tau of the other, so each bounding box
       lies inside the other grown by tau — tau/R in latitude,
       ``2·asin(sin(tau/2R) / cos φmax)`` in longitude (from hav(d/R) >=
       cos φ1 cos φ2 hav(Δλ)), skipped near a pole and at ±180°
       (:func:`_box_bound`).
    3. **refine** — one batched O(len·len) DP call over the survivors
       of each batch; pairs with exact distance <= tau are returned.

    Exactness: a qualifying pair has ``d(start_a, start_b) <= tau``, so
    the larger id's tau-disk probes the smaller id's own cell, and the
    pair is met there exactly once (pinned against the brute-force
    all-pairs DP in tests/test_trajectory_join.py). Longitude cells
    alias modulo the band's cell count, so pairs straddling the ±180°
    antimeridian meet like any other (test_antimeridian_pairs_not_missed).

    Returns ``(id_a, id_b, dist_m)``.

    Reference: the reference engine only offers the full O(n²)
    distance MATRIX via `similaritymeasures` per pair
    (geogr/distances.py:156-185); a thresholded join at scale must
    prune before it pays the DP, which is this operator.
    """
    if metric not in _BATCH_FN:
        raise ValueError(f"metric unknown, one of ('dtw', 'frechet'), got {metric!r}")
    if tau_m < 0:
        raise ValueError(f"tau_m must be >= 0, got {tau_m}")

    from trackintel_spark.geogr._grid import cell_size_deg, own_cell, probe_cells
    from trackintel_spark.plans.partitioning import kernel_partitions

    cell_deg = cell_size_deg(tau_m)
    flat = tpls.select(
        F.col(id_col).alias("id"),
        F.transform(geom_col, lambda p: p["lon"]).alias("lons"),
        F.transform(geom_col, lambda p: p["lat"]).alias("lats"),
    ).filter(F.col("id").isNotNull() & (F.size("lons") > 0))
    s_lon, s_lat = "element_at(lons, 1)", "element_at(lats, 1)"
    own_cy, own_cx = own_cell(s_lon, s_lat, cell_deg)
    rows = flat.select(
        "id", "lons", "lats",
        F.expr(s_lon).alias("s_lon"), F.expr(s_lat).alias("s_lat"),
        F.element_at("lons", -1).alias("e_lon"), F.element_at("lats", -1).alias("e_lat"),
        F.array_min("lons").alias("lon_min"), F.array_max("lons").alias("lon_max"),
        F.array_min("lats").alias("lat_min"), F.array_max("lats").alias("lat_max"),
        own_cy.alias("own_cy"), own_cx.alias("own_cx"),
        F.inline(probe_cells(s_lon, s_lat, cell_deg)),
    )
    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )
    tau_m = float(tau_m)
    return (
        rows.repartition(kernel_partitions(rows), "cy", "cx")
        .sortWithinPartitions("cy", "cx")
        .mapInPandas(lambda it: _cell_join_batches(it, tau_m, metric), schema=schema)
    )
