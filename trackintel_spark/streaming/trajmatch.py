"""ONLINE trajectory similarity matching — stream vs a static corpus.

The streaming form of the trajectory similarity join (the Ghost
problem, SIGMOD 2023: online similarity queries over distributed
trajectory streams; here the stream-vs-corpus shape): each trajectory
arriving on a stream is matched against every corpus trajectory within
``tau_m`` (DTW or discrete Fréchet), exactly.

Entirely STATELESS — the candidate grid and the refine step of the
batch :func:`trackintel_spark.geogr.trajectory_similarity_join`,
arranged so the static side pays the fan-out once and the stream side
never multiplies before the join:

1. the CORPUS is indexed ahead of time: each trajectory exploded to
   every grid cell its tau-disk (around the start point) touches —
   latitude-banded cells, the dbscan_distributed discipline. Persist
   it; it is the reusable index, ~10 rows per corpus trajectory.
2. each arriving trajectory carries its own single start cell: one
   stream-static equi-join on the cell key meets every corpus
   candidate (superset by the endpoint-coupling argument), then the
   exact endpoint lower bound (dF >= max(d_ss, d_ee),
   DTW >= d_ss + d_ee) kills non-contenders as a Column predicate.
3. survivors join the corpus vertex arrays (a second stream-static
   equi-join on corpus id), and the join's numpy refine step runs in
   Arrow batches (``mapInPandas`` — stateless, streaming-legal): the
   exact bounding-box bound, then one batched O(len·len) DP over the
   pairs it keeps.

Works identically on a batch probe frame (the unified-API convention
of this package); stream == batch == brute force is pinned in
tests/test_streaming_trajmatch.py. Longitude cells alias modulo the
band's cell count (geogr/_grid.py), so probes straddling ±180° match
corpus trajectories on the other side of the antimeridian.

The reference engine has no streaming surface at all; its closest
batch tool is the O(n²) distance matrix (geogr/distances.py:156-185).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from trackintel_spark.geogr._grid import cell_size_deg, own_cell, probe_cells
from trackintel_spark.geogr.trajectory_distance import _BATCH_FN, _refine

__all__ = ["index_trajectory_corpus", "trajectory_match_stream"]


def _flatten(df: DataFrame, id_col: str, geom_col: str, prefix: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias(f"{prefix}id"),
        F.transform(geom_col, lambda p: p["lon"]).alias(f"{prefix}lons"),
        F.transform(geom_col, lambda p: p["lat"]).alias(f"{prefix}lats"),
    ).filter(F.size(f"{prefix}lons") > 0)


def _endpoints(df: DataFrame, prefix: str) -> DataFrame:
    return df.select(
        "*",
        F.element_at(f"{prefix}lons", 1).alias(f"{prefix}s_lon"),
        F.element_at(f"{prefix}lats", 1).alias(f"{prefix}s_lat"),
        F.element_at(f"{prefix}lons", -1).alias(f"{prefix}e_lon"),
        F.element_at(f"{prefix}lats", -1).alias(f"{prefix}e_lat"),
    )


def index_trajectory_corpus(
    corpus: DataFrame,
    tau_m: float,
    id_col: str = "id",
    geom_col: str = "geom",
) -> tuple[DataFrame, DataFrame]:
    """Build the reusable corpus index for :func:`trajectory_match_stream`:
    ``(cells, arrays)`` — persist both (or write them as tables; the
    cells frame benefits from bucketing on ``(cy, cx)``). ``tau_m``
    must match the later match call: cell geometry is tau-derived."""
    cell_deg = cell_size_deg(tau_m)
    flat = _endpoints(_flatten(corpus, id_col, geom_col, "c_"), "c_")

    cells = flat.select(
        "c_id", "c_s_lon", "c_s_lat", "c_e_lon", "c_e_lat",
        F.explode(probe_cells("c_s_lon", "c_s_lat", cell_deg)).alias("__c"),
    ).select(
        F.col("__c.cy").alias("cy"), F.col("__c.cx").alias("cx"),
        "c_id", "c_s_lon", "c_s_lat", "c_e_lon", "c_e_lat",
    )
    arrays = flat.select("c_id", "c_lons", "c_lats")
    return cells, arrays


def trajectory_match_stream(
    trajs: DataFrame,
    corpus_cells: DataFrame,
    corpus_arrays: DataFrame,
    tau_m: float,
    metric: str = "frechet",
    id_col: str = "id",
    geom_col: str = "geom",
) -> DataFrame:
    """Match each (streaming or batch) trajectory against the indexed
    corpus: returns ``(query_id, match_id, dist_m)`` for every corpus
    trajectory within ``tau_m``. See the module doc for the plan."""
    if metric not in _BATCH_FN:
        raise ValueError(f"metric unknown, one of ('dtw', 'frechet'), got {metric!r}")
    if tau_m < 0:
        raise ValueError(f"tau_m must be >= 0, got {tau_m}")

    from trackintel_spark.functions.spatial import haversine_m

    cell_deg = cell_size_deg(tau_m)
    q = _endpoints(_flatten(trajs, id_col, geom_col, "q_"), "q_")
    cy, cx = own_cell("q_s_lon", "q_s_lat", cell_deg)
    q = q.withColumn("cy", cy).withColumn("cx", cx)

    d_ss = haversine_m(F.col("q_s_lon"), F.col("q_s_lat"), F.col("c_s_lon"), F.col("c_s_lat"))
    d_ee = haversine_m(F.col("q_e_lon"), F.col("q_e_lat"), F.col("c_e_lon"), F.col("c_e_lat"))
    if metric == "frechet":
        lb = F.greatest(d_ss, d_ee)
    else:
        # both start where they end (e.g. single vertices): the DTW sum
        # may count one cell twice, so only d_ss bounds it
        closed = ((F.col("q_s_lon") == F.col("q_e_lon")) & (F.col("q_s_lat") == F.col("q_e_lat"))
                  & (F.col("c_s_lon") == F.col("c_e_lon")) & (F.col("c_s_lat") == F.col("c_e_lat")))
        lb = F.when(closed, d_ss).otherwise(d_ss + d_ee)

    cand = (
        q.join(corpus_cells, on=["cy", "cx"])
        .filter(lb <= F.lit(float(tau_m)))
        .select("q_id", "q_lons", "q_lats", "c_id")
    )
    pairs = cand.join(corpus_arrays, on="c_id")

    batch_fn = _BATCH_FN[metric]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pos, d, _ = _refine(
            pdf["q_lons"].to_numpy(), pdf["q_lats"].to_numpy(),
            pdf["c_lons"].to_numpy(), pdf["c_lats"].to_numpy(), tau_m, batch_fn,
        )
        return pd.DataFrame(
            {"query_id": pdf["q_id"].to_numpy()[pos], "match_id": pdf["c_id"].to_numpy()[pos], "dist_m": d}
        )

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("match_id", T.LongType()),
            T.StructField("dist_m", T.DoubleType()),
        ]
    )
    return pairs.mapInPandas(lambda it: (kernel(pdf) for pdf in it), schema=schema)
