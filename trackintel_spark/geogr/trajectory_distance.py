"""Trajectory-to-trajectory distances: DTW and discrete Fréchet.

Reference: calculate_distance_matrix with LineString inputs delegates
to the `similaritymeasures` package per pair in an upper-triangle loop
(geogr/distances.py:156-185) — O(n²) pairs, each O(len·len), single
threaded. Here the pair enumeration is a Spark self-join (long-form
(i, j, dist), mirroring the reference's upper-triangle optimization)
and the per-pair dynamic program runs in an Arrow-batched
``applyInPandas`` kernel — distributed over pair partitions.

Kernels are numpy ports of the standard algorithms (public knowledge):
* DTW: cumulative-cost dynamic program over the pairwise great-circle
  cost matrix, unconstrained warping window;
* discrete Fréchet: Eiter & Mannila (1994) coupling recursion.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trackintel_spark.plans.ids import persist_owned


def _pair_cost(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Great-circle cost matrix between vertex arrays (n,2) and (m,2),
    asin-form haversine (matches functions/spatial.py)."""
    lon1, lat1 = np.deg2rad(a[:, 0])[:, None], np.deg2rad(a[:, 1])[:, None]
    lon2, lat2 = np.deg2rad(b[:, 0])[None, :], np.deg2rad(b[:, 1])[None, :]
    s = np.sqrt(
        np.sin((lat1 - lat2) / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin((lon1 - lon2) / 2.0) ** 2
    )
    return 2.0 * 6371000.0 * np.arcsin(np.minimum(1.0, s))


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
    lon1, lat1 = np.deg2rad(a[:, :, 0])[:, :, None], np.deg2rad(a[:, :, 1])[:, :, None]
    lon2, lat2 = np.deg2rad(b[:, :, 0])[:, None, :], np.deg2rad(b[:, :, 1])[:, None, :]
    s = np.sqrt(
        np.sin((lat1 - lat2) / 2.0) ** 2 + np.cos(lat1) * np.cos(lat2) * np.sin((lon1 - lon2) / 2.0) ** 2
    )
    return 2.0 * 6371000.0 * np.arcsin(np.minimum(1.0, s))


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
    Ghost attack the same query; here the Spark-shaped three-phase plan,
    the join sibling of :func:`trajectory_topk`'s search):

    1. **candidates** — both DTW and discrete Fréchet couple start
       with start and end with end, so a qualifying pair needs
       ``d(start_a, start_b) <= tau``. Start points land on a
       latitude-banded grid (band height = tau; per-band longitude
       width scaled by the band's equator-near cosine, the
       dbscan_distributed discipline), one side keeps its own cell,
       the other probes every cell its tau-disk touches: an equi-join
       on the cell key — never a cartesian product. Only (tid,
       endpoints) rows shuffle here, not vertex arrays.
    2. **lower-bound filter** — exact endpoint distances kill every
       pair with ``LB > tau`` (``dF >= max(d_ss, d_ee)``,
       ``DTW >= d_ss + d_ee``) as a Column predicate.
    3. **refine** — vertex arrays join back onto the surviving pairs
       only (two co-keyed joins), and the O(len·len) DP kernel runs in
       Arrow batches; pairs with exact distance <= tau survive.

    Exactness: phase 1 is a superset of all qualifying pairs by the
    coupling argument (pinned against the brute-force all-pairs DP in
    tests/test_trajectory_join.py). Longitude cells alias modulo the
    band's cell count, so pairs straddling the ±180° antimeridian join
    like any other (test_antimeridian_pairs_not_missed; the haversine
    LB/refine stages were always wrap-safe — only the grid needed it).

    Returns ``(id_a, id_b, dist_m)``.

    Reference: the reference engine only offers the full O(n²)
    distance MATRIX via `similaritymeasures` per pair
    (geogr/distances.py:156-185); a thresholded join at scale must
    prune before it pays the DP, which is this operator.
    """
    fn = {"dtw": dtw_distance, "frechet": frechet_distance}.get(metric)
    if fn is None:
        raise ValueError(f"metric unknown, one of ('dtw', 'frechet'), got {metric!r}")
    if tau_m < 0:
        raise ValueError(f"tau_m must be >= 0, got {tau_m}")

    from pyspark import StorageLevel

    from trackintel_spark.functions.spatial import haversine_m

    flat = tpls.select(
        F.col(id_col).alias("__tid"),
        F.transform(geom_col, lambda p: p["lon"]).alias("__lons"),
        F.transform(geom_col, lambda p: p["lat"]).alias("__lats"),
    ).filter(F.size("__lons") > 0)
    # the flattened input is referenced THREE times (own-cell side,
    # probe side, array refine) — persist it or a derived input's whole
    # upstream pipeline re-executes per reference (plan-audit finding;
    # trajectory_topk does the same). The returned plan reads the cache,
    # so it is registered for release_id_caches(): Spark's CacheManager
    # holds it until unpersisted, ContextCleaner never reclaims it.
    flat = persist_owned(flat, StorageLevel.MEMORY_AND_DISK)

    ends = flat.select(
        "__tid",
        F.element_at("__lons", 1).alias("s_lon"),
        F.element_at("__lats", 1).alias("s_lat"),
        F.element_at("__lons", -1).alias("e_lon"),
        F.element_at("__lats", -1).alias("e_lat"),
    )

    from trackintel_spark.geogr._grid import cell_size_deg, own_cell, probe_cells

    cell_deg = cell_size_deg(tau_m)
    cy, cx = own_cell(F.col("s_lon"), F.col("s_lat"), cell_deg)
    a = ends.select(
        F.col("__tid").alias("id_a"),
        F.col("s_lon").alias("__sa_lon"), F.col("s_lat").alias("__sa_lat"),
        F.col("e_lon").alias("__ea_lon"), F.col("e_lat").alias("__ea_lat"),
        cy.alias("cy"), cx.alias("cx"),
    )

    # probe side: every cell the tau-disk around the start touches
    b = (
        ends.select(
            F.col("__tid").alias("id_b"),
            F.col("s_lon").alias("__sb_lon"), F.col("s_lat").alias("__sb_lat"),
            F.col("e_lon").alias("__eb_lon"), F.col("e_lat").alias("__eb_lat"),
            F.explode(probe_cells(F.col("s_lon"), F.col("s_lat"), cell_deg)).alias("__c"),
        )
        .select("id_b", "__sb_lon", "__sb_lat", "__eb_lon", "__eb_lat",
                F.col("__c.cy").alias("cy"), F.col("__c.cx").alias("cx"))
    )

    d_ss = haversine_m(F.col("__sa_lon"), F.col("__sa_lat"), F.col("__sb_lon"), F.col("__sb_lat"))
    d_ee = haversine_m(F.col("__ea_lon"), F.col("__ea_lat"), F.col("__eb_lon"), F.col("__eb_lat"))
    lb = F.greatest(d_ss, d_ee) if metric == "frechet" else (d_ss + d_ee)
    cand = (
        a.join(b, on=["cy", "cx"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(lb <= F.lit(float(tau_m)))
        .select("id_a", "id_b")
    )

    # refine: vertex arrays join back onto the SURVIVING pairs only
    arrs = flat.select("__tid", "__lons", "__lats")
    pairs = (
        cand.join(arrs.select(F.col("__tid").alias("id_a"),
                              F.col("__lons").alias("la"), F.col("__lats").alias("pa")), on="id_a")
        .join(arrs.select(F.col("__tid").alias("id_b"),
                          F.col("__lons").alias("lb"), F.col("__lats").alias("pb")), on="id_b")
    )

    batch_fn = dtw_distance_batch if metric == "dtw" else frechet_distance_batch

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        # batched refine (r13, guide §4.5/§4.2): pairs grouped by vertex
        # count run ONE wavefront DP per (len_a, len_b) shape — the
        # per-pair numpy dispatch loop was the probe's dominant cost
        d = _pairwise_distance_batched(
            pdf["la"].tolist(), pdf["pa"].tolist(),
            pdf["lb"].tolist(), pdf["pb"].tolist(), batch_fn,
        )
        keep = d <= tau_m
        return pd.DataFrame(
            {
                "id_a": pdf["id_a"].to_numpy()[keep],
                "id_b": pdf["id_b"].to_numpy()[keep],
                "dist_m": d[keep],
            }
        )

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )
    from trackintel_spark.plans.partitioning import kernel_partitions

    return (
        pairs.repartition(kernel_partitions(pairs))
        .mapInPandas(lambda it: (kernel(pdf) for pdf in it), schema=schema)
    )
