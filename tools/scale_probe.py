#!/usr/bin/env python
"""Kernel-family scale probe: wall-clock at multiple synthetic sizes.

Generates inputs with ``spark.range`` (pure compute, no IO) and times

* the full mobility chain: generate_staypoints -> generate_triplegs ->
  generate_trips -> generate_tours, then generate_locations on the
  same staypoints;
* distributed dataset DBSCAN on a 2000-hotspot point cloud;
* ``generate_trips`` alone on ONE user with many staypoint/tripleg
  units (the mega-user case of its per-user kernel);
* ``generate_triplegs`` alone on ONE user with many positionfixes (the
  mega-user case of its per-user kernel);
* ``generate_staypoints`` alone on the same ONE-user positionfixes (the
  mega-user case of its sliding kernel);
* ``trajectory_similarity_join`` on a dense corpus of short (2-7
  vertices) and long (50-55 vertices) trajectories.

Usage::

    python tools/scale_probe.py [chain_rows ...] [--dbscan rows ...] [--trips-user units ...]
        [--triplegs-user fixes ...] [--staypoints-user fixes ...]
        [--trajectory-join trajectories ...]

Only the named cases run; with no arguments, the chain at 1M and 10M
positionfixes and DBSCAN at 1M and 4M points. Results go to SCALE.md's
measured-scaling rows.
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

# the library is imported from this checkout (main() points Spark's
# Python workers at it too)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# perfbench's staged-pipeline helpers: local checkpoints it can free
sys.path.append(os.path.join(ROOT, "perfbench"))
from workloads import _materialise, _unpersist  # noqa: E402


def mobility_input(spark, n: int, pfs_per_user: int = 2000):
    """Dwelling-and-commuting users: 6 spots ~1.1 km apart. Each
    40-pfs block (30 s cadence) is a 17-minute dwell followed by 6
    travel pfs interpolating toward the next spot (~6 m/s), so every
    threshold family — staypoint, tripleg, trip, AND closed tour (the
    cycle returns to spot 0) — gets real work. Without the travel
    points consecutive dwells touch, each user degenerates to one
    tripleg/trip, and generate_tours has nothing to close."""
    ids = spark.range(n)
    u = (F.col("id") / pfs_per_user).cast("long")
    i = F.col("id") % pfs_per_user
    phase = (i / 40).cast("long") % 6
    nxt = (phase + 1) % 6
    k = i % 40
    frac = F.when(k < 34, F.lit(0.0)).otherwise((k - 33).cast("double") / 7.0)

    def spot_lon(p):
        return p * 0.01

    def spot_lat(p):
        return (p % 2) * 0.01

    lon = spot_lon(phase) + (spot_lon(nxt) - spot_lon(phase)) * frac
    lat = spot_lat(phase) + (spot_lat(nxt) - spot_lat(phase)) * frac
    return ids.select(
        F.col("id"),
        u.alias("user_id"),
        F.timestamp_seconds(F.lit(1700000000) + i * 30).alias("tracked_at"),
        F.struct(
            (8.0 + (u % 100) * 0.2 + lon + F.sin(F.col("id")) * 1e-5).alias("lon"),
            (47.0 + (u % 7) * 0.2 + lat + F.cos(F.col("id")) * 1e-5).alias("lat"),
        ).alias("geom"),
    )


def dbscan_input(spark, n: int, hotspots: int = 2000):
    """2000 hotspot blobs (~20 m jitter) on a 50-wide grid + 1% noise."""
    ids = spark.range(n)
    h = F.col("id") % hotspots
    noise = (F.col("id") % 100) == 0
    lon = (h % 50) * 0.01 + F.sin(F.col("id")) * 2e-4
    lat = (h / 50).cast("long") * 0.01 + F.cos(F.col("id")) * 2e-4
    return ids.select(
        "id",
        F.when(noise, (F.col("id") % 997) * 0.004 + 3.0).otherwise(8.0 + lon).alias("lon"),
        F.when(noise, (F.col("id") % 991) * 0.003 + 20.0).otherwise(40.0 + lat).alias("lat"),
    )


def run_chain(spark, n: int) -> dict:
    """pfs -> staypoints -> triplegs -> trips -> tours, MATERIALIZING
    each entity table between stages (localCheckpoint) — the pipeline
    pattern the repo documents (examples/bucketed_warehouse.py persists
    every entity; the reference materializes implicitly in pandas).
    Measured r7: the fully-lazy fused chain re-executes the shared
    staypoint kernel once per downstream entity branch (69.5 s at 10M
    vs 41 s staged), so lazy chaining UNDERSTATES the engine; staging
    is both the recommended usage and what a warehouse run does.
    Per-stage walls are reported so a kernel regression names its
    stage. ``locations_s`` times ``generate_locations`` on the staged
    staypoints after the chain; it is not part of ``wall_s``, which
    stays comparable with earlier rows. The checkpoints and the
    library's caches are freed before it returns, so the next size
    starts from an empty block store."""
    from trackintel_spark.operators import generate_locations, generate_staypoints, generate_triplegs
    from trackintel_spark.operators.tours import generate_tours
    from trackintel_spark.operators.trips import generate_trips
    from trackintel_spark.plans.ids import release_id_caches

    owned: list = []
    pfs = mobility_input(spark, n).persist()
    pfs.count()
    t0 = time.time()
    pfs_sp, sp = generate_staypoints(
        pfs, dist_threshold=100, time_threshold=5, gap_threshold=120
    )
    pfs_sp, sp = _materialise(pfs_sp, owned), _materialise(sp, owned)
    t1 = time.time()
    dur = F.col("finished_at").cast("double") - F.col("started_at").cast("double")
    sp = sp.withColumn("is_activity", dur >= 15 * 60)
    pfs_t, tpls = generate_triplegs(pfs_sp, sp)
    tpls = _materialise(tpls, owned)
    t2 = time.time()
    sp2, tpls2, trips = generate_trips(sp, tpls, gap_threshold=60)
    sp2, trips = _materialise(sp2, owned), _materialise(trips, owned)
    t3 = time.time()
    # location = 100 m grid cell of the staypoint: users cycle through 6
    # spots, so every cycle closes tours (id%k never revisits -> 0 tours)
    loc = F.hash(
        F.round(F.col("geom.lon") * 1000).cast("long"),
        F.round(F.col("geom.lat") * 1000).cast("long"),
    ).cast("long")
    _, tours = generate_tours(trips, sp2.withColumn("location_id", loc))
    n_tours = tours.count()
    t4 = time.time()
    sp_loc, locs = generate_locations(sp, epsilon=100)
    _materialise(sp_loc, owned)
    n_locs = _materialise(locs, owned).count()
    t5 = time.time()
    wall = t4 - t0
    out = {
        "rows": n, "wall_s": round(wall, 1), "rows_per_s": int(n / wall),
        "tours": n_tours, "locations": n_locs,
        "staypoints_s": round(t1 - t0, 1), "triplegs_s": round(t2 - t1, 1),
        "trips_s": round(t3 - t2, 1), "tours_s": round(t4 - t3, 1), "locations_s": round(t5 - t4, 1),
    }
    _unpersist(owned)
    release_id_caches()
    pfs.unpersist()
    return out


def trips_user_input(spark, n: int):
    """``n`` alternating staypoint/tripleg units of ONE user, 10 min
    apart: every other staypoint is an activity, so each trip is
    tripleg, staypoint, tripleg; a 2-hour recording gap follows every
    1000 units. Returns (staypoints with is_activity, triplegs)."""
    j = F.col("id")
    start = F.lit(1700000000) + j * 600 + (j / 1000).cast("long") * 7200
    pt = lambda k: F.struct((8.0 + (k % 7) * 1e-3).alias("lon"), (47.0 + (k % 5) * 1e-3).alias("lat"))
    units = spark.range(n).select(
        (j / 2).cast("long").alias("id"),
        F.lit(0).cast("long").alias("user_id"),
        F.timestamp_seconds(start).alias("started_at"),
        F.timestamp_seconds(start + 300).alias("finished_at"),
        j.alias("j"),
    )
    sp = units.filter(j % 2 == 0).select(
        "id", "user_id", "started_at", "finished_at", pt(j).alias("geom"), (j % 4 == 0).alias("is_activity")
    )
    tpls = units.filter(j % 2 == 1).select(
        "id", "user_id", "started_at", "finished_at", F.array(pt(j - 1), pt(j + 1)).alias("geom")
    )
    return sp, tpls


def run_trips_user(spark, n: int) -> dict:
    """``generate_trips`` over :func:`trips_user_input` with all three
    outputs written to the noop sink; inputs are materialized first so
    the wall is the operator alone."""
    from trackintel_spark.operators.trips import generate_trips
    from trackintel_spark.plans.ids import release_id_caches

    sp, tpls = (d.localCheckpoint() for d in trips_user_input(spark, n))
    t0 = time.time()
    sp2, tpls2, trips = generate_trips(sp, tpls, gap_threshold=60)
    for d in (trips, sp2, tpls2):
        d.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    n_trips = trips.count()
    release_id_caches()
    return {"units": n, "wall_s": round(wall, 1), "trips": n_trips}


def triplegs_user_input(spark, n: int):
    """``n`` positionfixes of ONE user, 30 s apart, carrying
    ``staypoint_id``: each 40-fix block is a 30-fix dwell (one
    staypoint) then 10 travel fixes toward the next spot, and a 2-hour
    recording gap follows every 1000 fixes."""
    j = F.col("id")
    blk, k = (j / 40).cast("long"), j % 40
    step = F.when(k >= 30, (k - 29).cast("double") * 1e-3).otherwise(0.0)
    return spark.range(n).select(
        j.alias("id"),
        F.lit(0).cast("long").alias("user_id"),
        F.timestamp_seconds(F.lit(1700000000) + j * 30 + (j / 1000).cast("long") * 7200).alias("tracked_at"),
        F.struct((8.0 + (blk % 7) * 1e-2 + step).alias("lon"), (47.0 + (blk % 5) * 1e-2 + step).alias("lat")).alias("geom"),
        F.when(k < 30, blk).alias("staypoint_id"),
    )


def _run_pfs_user(spark, n: int, operator, out_name: str) -> dict:
    """``operator(pfs, gap_threshold=60)`` over :func:`triplegs_user_input`
    with both outputs written to the noop sink; the input is
    materialized first so the wall is the operator alone."""
    from trackintel_spark.plans.ids import release_id_caches

    pfs = triplegs_user_input(spark, n).localCheckpoint()
    t0 = time.time()
    pfs2, out = operator(pfs, gap_threshold=60)
    for d in (out, pfs2):
        d.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    n_out = out.count()
    release_id_caches()
    return {"fixes": n, "wall_s": round(wall, 1), out_name: n_out}


def run_triplegs_user(spark, n: int) -> dict:
    from trackintel_spark.operators import generate_triplegs

    return _run_pfs_user(spark, n, generate_triplegs, "triplegs")


def run_staypoints_user(spark, n: int) -> dict:
    """The sliding kernel's mega-user case; the operator drops the
    input's ``staypoint_id``."""
    from trackintel_spark.operators import generate_staypoints

    return _run_pfs_user(spark, n, generate_staypoints, "staypoints")


def run_dbscan(spark, n: int) -> dict:
    from trackintel_spark.operators.dbscan_distributed import dbscan_distributed

    pts = dbscan_input(spark, n).persist()
    pts.count()
    t0 = time.time()
    out = dbscan_distributed(pts, epsilon_m=100, min_samples=5)
    n_clusters = out.filter(F.col("location_id").isNotNull()).select("location_id").distinct().count()
    wall = time.time() - t0
    res = {"rows": n, "wall_s": round(wall, 1), "rows_per_s": int(n / wall), "clusters": n_clusters}
    pts.unpersist()
    return res


def run_streaming_staypoints(spark, n: int, n_batches: int = 10) -> dict:
    """Stateful streaming throughput: ``staypoints_stream_exact`` over
    ``n`` mobility positionfixes delivered as ``n_batches`` time-ordered
    parquet micro-batches (maxFilesPerTrigger=1, availableNow) — the
    nightly-catchup / replay regime. Every user advances together in
    each micro-batch (all devices upload continuously), so candidate
    windows genuinely span trigger boundaries and the state store holds
    one open window per user the whole run.

    Reports input rows/s plus the state-store footprint from the last
    StreamingQueryProgress (numRowsTotal / memoryUsedBytes) — the
    numbers that bound executor memory at cluster scale.
    """
    from trackintel_spark.streaming import staypoints_stream_exact

    return _run_streaming_mobility(
        spark, n, n_batches, "sp_stream_probe",
        lambda st: staypoints_stream_exact(
            st, dist_threshold=100, time_threshold=5, gap_threshold=120
        ),
        out_key="staypoints",
    )


def run_streaming_trips(spark, n: int, n_batches: int = 10) -> dict:
    """Sibling probe for the END-TO-END stateful operator: raw
    positionfixes -> trips in ONE applyInPandasWithState pass
    (streaming/trips_state.py carries candidate window + travel buffer
    + open-trip units per user). The heaviest per-row streaming state
    in the library — its rows/s and state size bound the online
    mobility pipeline."""
    from trackintel_spark.streaming import trips_stream_exact

    return _run_streaming_mobility(
        spark, n, n_batches, "trips_stream_probe",
        lambda st: trips_stream_exact(
            st, dist_threshold=100, time_threshold=5, gap_threshold=120,
            activity_threshold=15,
        ),
        out_key="trips",
    )


def run_streaming_tours(spark, n: int, n_batches: int = 10) -> dict:
    """Stateful streaming throughput for ``tours_stream_exact`` over
    ``n`` synthetic trips (locations mode) in ``n_batches`` time-ordered
    micro-batches — the last stateful stage without a scale measurement
    (r11 verdict #4). Three of four users run 5-location loops (a tour
    closes every 5 trips, candidate stack ~5 rows); every FOURTH user
    wanders to ever-new locations and never closes, so their stack is
    bounded only by the max_time pruning window (1440 min / 20-min trip
    cadence = 72 candidates) — the least-bounded-by-construction regime
    the verdict flagged. state_rows_max / state_mb_max report what that
    pruning actually holds."""
    from trackintel_spark.streaming import tours_stream_exact

    per_user = 2000
    flat = tours_trip_input(spark, n, trips_per_user=per_user)
    schema = (
        "id long, user_id long, started_at timestamp, finished_at timestamp, "
        "origin_staypoint_id long, destination_staypoint_id long, "
        "origin_loc long, dest_loc long"
    )
    return _run_streaming_probe(
        spark, flat, per_user, n_batches, schema, "tours_stream_probe",
        lambda st: tours_stream_exact(st, max_time=1440),
        out_key="tours", n=n,
    )


def tours_trip_input(spark, n: int, trips_per_user: int = 2000):
    """Synthetic per-user trip chains in locations mode, one trip every
    20 minutes (10-min travel + 10-min activity gap). Loop users run
    6-trip cycles: a gap-free 5-location loop (ONE tour closes at trip
    5) then a discontinuous jump trip that breaks the chain — a
    realistic ~17% tours-per-trip ratio instead of the
    every-trip-closes pathology a pure cycle produces. Wander users
    visit location ``100 + i`` forever (chains never close), so their
    candidate stack is bounded only by max_time pruning."""
    ids = spark.range(n)
    u = (F.col("id") / trips_per_user).cast("long")
    i = F.col("id") % trips_per_user
    wander = u % 4 == 3
    k = i % 6
    cyc = (i / 6).cast("long")
    loop_o = F.when(k < 5, k).otherwise(50 + cyc % 7)
    loop_d = F.when(k < 4, k + 1).when(k == 4, F.lit(0)).otherwise(60 + cyc % 9)
    o_loc = F.when(wander, 100 + i).otherwise(loop_o)
    d_loc = F.when(wander, 101 + i).otherwise(loop_d)
    start = F.lit(1700000000) + (u % 997) + i * 1200
    return ids.select(
        F.col("id"),
        u.alias("user_id"),
        F.timestamp_seconds(start).alias("started_at"),
        F.timestamp_seconds(start + 600).alias("finished_at"),
        (u * 100000 + o_loc).alias("origin_staypoint_id"),
        (u * 100000 + d_loc).alias("destination_staypoint_id"),
        o_loc.alias("origin_loc"),
        d_loc.alias("dest_loc"),
    )


def _run_streaming_mobility(spark, n, n_batches, qname, op, out_key):
    per_user = 2000
    flat = mobility_input(spark, n, pfs_per_user=per_user).select(
        "id", "user_id", "tracked_at",
        F.col("geom.lon").alias("lon"), F.col("geom.lat").alias("lat"),
    )
    schema = "id long, user_id long, tracked_at timestamp, lon double, lat double"
    return _run_streaming_probe(
        spark, flat, per_user, n_batches, schema, qname, op, out_key, n
    )


def _run_streaming_probe(spark, flat, per_user, n_batches, schema, qname, op, out_key, n):
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="sp_stream_probe_")
    src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    os.makedirs(src)
    step = (per_user + n_batches - 1) // n_batches
    pos = F.col("id") % per_user
    for k in range(n_batches):
        d = os.path.join(src, f"b{k:03d}")
        # one file per chunk: maxFilesPerTrigger=1 should see exactly
        # n_batches micro-batches, not one per shuffle partition
        flat.filter((pos >= k * step) & (pos < (k + 1) * step)).coalesce(1).write.parquet(d)
        now = time.time() + k  # file-source order follows modification time
        for f in os.listdir(d):
            os.utime(os.path.join(d, f), (now, now))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    out = op(stream)
    # the stateful stage runs one state partition per core: get_spark
    # sets spark.sql.shuffle.partitions to the session's core count
    t0 = time.time()
    q = (
        out.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.time() - t0
    n_out = spark.sql(f"SELECT count(*) FROM {qname}").first()[0]
    state_rows = state_mb = state_parts = batches = 0
    for p in q.recentProgress:
        batches += 1
        for so in p.get("stateOperators", []):
            state_parts = max(state_parts, so.get("numShufflePartitions", 0))
            state_rows = max(state_rows, so.get("numRowsTotal", 0))
            state_mb = max(state_mb, so.get("memoryUsedBytes", 0) / 2**20)
    spark.catalog.dropTempView(qname)
    shutil.rmtree(base, ignore_errors=True)
    return {
        "rows": n,
        "wall_s": round(wall, 1),
        "rows_per_s": int(n / wall),
        out_key: n_out,
        "micro_batches": batches,
        "state_partitions": state_parts,
        "state_rows_max": state_rows,
        "state_mb_max": round(state_mb, 1),
    }


def main():
    from trackintel_spark import get_spark

    groups = {"chain": [], "--dbscan": [], "--trips-user": [], "--triplegs-user": [], "--staypoints-user": [],
              "--trajectory-join": []}
    key = "chain"
    for a in sys.argv[1:]:
        if a in groups:
            key = a
        else:
            groups[key].append(int(a))
    if len(sys.argv) == 1:
        groups.update({"chain": [1_000_000, 10_000_000], "--dbscan": [1_000_000, 4_000_000]})
    chain_ns, db_ns, trips_ns, tpl_ns, sp_ns, tj_ns = (groups[k] for k in (
        "chain", "--dbscan", "--trips-user", "--triplegs-user", "--staypoints-user", "--trajectory-join"))

    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    for n in chain_ns:
        print("chain", run_chain(spark, n), flush=True)
    for n in db_ns:
        print("dbscan", run_dbscan(spark, n), flush=True)
    for n in trips_ns:
        print("trips_user", run_trips_user(spark, n), flush=True)
    for n in tpl_ns:
        print("triplegs_user", run_triplegs_user(spark, n), flush=True)
    for n in sp_ns:
        print("staypoints_user", run_staypoints_user(spark, n), flush=True)
    for n in tj_ns:
        for leg in (2, 50):
            print(f"trajectory_join leg={leg}", run_trajectory_join(spark, n, leg_len=leg), flush=True)


def run_trajectory_join(spark, n: int, leg_len: int = 2, n_sites: int = 20000) -> dict:
    """Similarity self-join at probe scale: ``n`` trajectories of
    ``leg_len``..``leg_len``+5 vertices around ``n_sites`` anchor sites
    (so qualifying pairs exist but stay bounded), tau=150 m discrete
    Frechet. ``leg_len`` ~2 exercises the candidate/LB machinery;
    ``leg_len`` ~50 (real GPS legs) makes the O(len²) DP refine the
    dominant stage — the regime the anti-diagonal-vectorized kernels
    exist for."""
    import time

    from pyspark.sql import functions as F

    from trackintel_spark.geogr import trajectory_similarity_join

    base = spark.range(n).select(F.col("id"), (F.col("id") % n_sites).alias("site"))
    traj = base.select(
        "id",
        F.transform(
            F.sequence(F.lit(0), (F.col("id") % 5) + F.lit(leg_len - 1)),
            lambda k: F.struct(
                (8.0 + (F.col("site") % 200) * 0.01 + k.cast("double") * 1e-4 / leg_len
                 + (F.xxhash64("id", k) % 1000).cast("double") * 1e-7).alias("lon"),
                (46.0 + F.floor(F.col("site") / 200).cast("double") * 0.01
                 + (F.xxhash64(k, "id") % 1000).cast("double") * 1e-7).alias("lat"),
            ),
        ).alias("geom"),
    ).persist()
    traj.count()
    t0 = time.time()
    pairs = trajectory_similarity_join(traj, 150.0, metric="frechet").count()
    w = time.time() - t0
    traj.unpersist()
    return {"op": "trajectory_join", "rows": n, "wall_s": round(w, 1),
            "pairs": int(pairs), "rows_per_s": int(n / w)}



if __name__ == "__main__":
    main()
