"""The benchmark workloads. Each one is a closed loop with one client:
``rep`` makes one unit of user work, timed by the caller, and the next
rep starts only after it returns.

A workload knows its inputs (``make_inputs``), its untimed set-up
(``setup``), one rep (``rep``), the checks of that rep's output and the
named figures of its reps (``named``). Every call into the library runs
under its own span (see ``spans.Tracer``).

``MobilityStream`` and ``TrajectoryJoin`` are the two phases of the
``stream_and_join`` workload; each keeps its own inputs and checks.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import gen


def _materialise(df, owned: list):
    """Local checkpoint: the staged-pipeline pattern, which also cuts each
    stage's lineage. ``owned`` collects the checkpoints so ``release`` can
    free them after the rep."""
    df = df.localCheckpoint()
    owned.append(df)
    return df


def _unpersist(owned: list) -> None:
    """Unpersist the RDDs behind the benchmark's own checkpoints."""
    while owned:
        owned.pop()._jdf.queryExecution().logical().rdd().unpersist(True)


def _named(reps: list, latency: str) -> dict:
    """A workload's named figures over its timed reps: the median of the
    reps' samples (``calls``) as ``latency``, and input rows per second."""
    return {latency: (statistics.median(c for r in reps for c in r["calls"]), "s"),
            "rows_per_s": (sum(r["rows"] for r in reps) / sum(r["wall"] for r in reps), "1/s")}


def _check(checks: dict, name: str, ok: bool, detail: str = "") -> bool:
    c = checks.setdefault(name, {"passed": 0, "failed": 0})
    c["passed" if ok else "failed"] += 1
    if not ok:
        print(f"# CHECK FAILED {name}: {detail}", flush=True)
    return ok


class MobilityInteractive:
    """Sequential chain calls, each on 2 users chosen by the seed, read
    with a ``user_id`` filter from Parquet sorted by user (one row group
    per user). Each entity is materialised in turn."""

    name = "mobility_interactive"
    unit = "chain call"
    # Rep counts fit the run budget (see README.md): the cold first call
    # takes 2-3x a warm one and carries the one-time costs.
    warmup_reps, timed_reps = 1, 1
    CHECKS = ("count.staypoints", "count.triplegs", "count.activities", "count.trips", "count.tours",
              "count.locations", "trips.constructed")

    def __init__(self, seed: int, tiny: bool):
        self.seed = seed
        self.n_users = 6 if tiny else 50
        self.rng = np.random.default_rng([seed, 2])
        self.rows_per_rep = 2 * gen.FIXES_PER_USER
        self.owned: list = []

    def make_inputs(self):
        self.path, secs, hit = gen.cached(
            "mobility", self.seed, (self.n_users,), lambda d: gen.write_mobility(d, self.seed, self.n_users))
        return secs, hit

    def setup(self, spark, tr):
        pass

    def release(self):
        _unpersist(self.owned)

    def rep(self, spark, tr, checks: dict) -> dict:
        from pyspark.sql import functions as F

        from trackintel_spark.analysis import create_activity_flag
        from trackintel_spark.operators import (
            generate_locations, generate_staypoints, generate_tours, generate_trips, generate_triplegs,
        )

        users = sorted(int(u) for u in self.rng.choice(self.n_users, 2, replace=False))
        t0 = time.perf_counter()
        with tr.span("spark.read.parquet"):
            pfs = spark.read.parquet(os.path.join(self.path, "pfs.parquet")).filter(F.col("user_id").isin(*users))
        with tr.span("generate_staypoints"):
            pfs_sp, sp = generate_staypoints(pfs, **gen.SP_PARAMS)
        with tr.span("generate_staypoints.action"):
            pfs_sp, sp = _materialise(pfs_sp, self.owned), _materialise(sp, self.owned)
        with tr.span("generate_triplegs"):
            _, tpls = generate_triplegs(pfs_sp, sp, gap_threshold=gen.TRIP_GAP_MIN)
        with tr.span("generate_triplegs.action"):
            tpls = _materialise(tpls, self.owned)
        with tr.span("create_activity_flag"):
            sp_flag = create_activity_flag(sp, time_threshold=gen.ACTIVITY_MIN)
        with tr.span("create_activity_flag.action"):
            sp_flag = _materialise(sp_flag, self.owned)
        with tr.span("generate_trips"):
            sp_trip, _, trips = generate_trips(sp_flag, tpls, gap_threshold=gen.TRIP_GAP_MIN)
        with tr.span("generate_trips.action"):
            sp_trip, trips = _materialise(sp_trip, self.owned), _materialise(trips, self.owned)
        with tr.span("generate_tours"):
            _, tours = generate_tours(trips)
        with tr.span("generate_tours.action"):
            tours = _materialise(tours, self.owned)
        with tr.span("generate_locations"):
            _, locs = generate_locations(sp_trip, epsilon=gen.LOC_EPSILON_M)
        with tr.span("generate_locations.action"):
            locs = _materialise(locs, self.owned)
        wall = time.perf_counter() - t0

        # checks run after the timed call, on the materialised entities
        want = gen.mobility_expected(len(users))
        # every dwell lasts longer than the activity threshold
        want["activities"] = want["staypoints"]
        n = {"staypoints": sp.count(), "triplegs": tpls.count(), "activities": sp_flag.filter("is_activity").count(),
             "trips": trips.count(), "tours": tours.count(), "locations": locs.count()}
        ok = True
        for k, v in n.items():
            ok &= _check(checks, f"count.{k}", v == want[k], f"{k}={v}, constructed {want[k]}")
        got = self._trip_keys(sp_trip, trips)
        ok &= _check(checks, "trips.constructed", got == gen.mobility_trips(self.seed, users),
                     f"{len(got)} trips differ from construction")
        return {"wall": wall, "calls": [wall], "rows": self.rows_per_rep, "ok": ok}

    @staticmethod
    def named(reps: list) -> dict:
        return _named(reps, "call_p50_s")

    @staticmethod
    def _trip_keys(sp, trips) -> set:
        sp_start = dict(sp.selectExpr("id", "unix_micros(started_at)").collect())
        return {
            (r[0], r[1], r[2], sp_start.get(r[3]), sp_start.get(r[4]))
            for r in trips.selectExpr(
                "user_id", "unix_micros(started_at)", "unix_micros(finished_at)",
                "origin_staypoint_id", "destination_staypoint_id").collect()
        }


class MobilityStream:
    """Positionfixes from the mobility generator as time-ordered Parquet
    files, one per micro-batch, read with ``maxFilesPerTrigger=1`` and
    ``availableNow`` into ``trips_stream_exact``. A rep is one catch-up
    over all files with a fresh checkpoint; its unit is the trigger."""

    CHECKS = ("stream.trips_equal_batch", "stream.triggers")
    SCHEMA = "id long, user_id long, tracked_at timestamp, lon double, lat double"

    def __init__(self, seed: int, tiny: bool):
        self.seed = seed
        self.n_users = 2 if tiny else 10
        self.n_files = 2
        self.rows_per_rep = self.n_users * gen.FIXES_PER_USER
        self.reps = 0

    def make_inputs(self):
        self.path, secs, hit = gen.cached(
            "stream", self.seed, (self.n_users, self.n_files),
            lambda d: gen.write_mobility_stream(d, self.seed, self.n_users, self.n_files))
        return secs, hit

    def setup(self, spark, tr):
        self.scratch = os.path.join(os.environ["TMPDIR"], "stream")
        shutil.rmtree(self.scratch, ignore_errors=True)
        os.makedirs(self.scratch)

    def rep(self, spark, tr, checks: dict, files: str = "stream") -> dict:
        from trackintel_spark.streaming import trips_stream_exact

        self.reps += 1
        name = f"perfbench_trips_{self.reps}"
        ckpt = os.path.join(self.scratch, name)
        t0 = time.perf_counter()
        with tr.span("spark.readStream.parquet"):
            src = (spark.readStream.schema(self.SCHEMA).option("maxFilesPerTrigger", 1)
                   .parquet(os.path.join(self.path, files)))
        with tr.span("trips_stream_exact"):
            out = trips_stream_exact(src, dist_threshold=gen.SP_PARAMS["dist_threshold"],
                                     time_threshold=gen.SP_PARAMS["time_threshold"],
                                     gap_threshold=gen.TRIP_GAP_MIN, activity_threshold=gen.ACTIVITY_MIN)
        with tr.span("trips_stream_exact.action") as s:
            q = (out.writeStream.format("memory").queryName(name).outputMode("append")
                 .option("checkpointLocation", ckpt).trigger(availableNow=True).start())
            s["stream_run"] = str(q.runId)
            q.awaitTermination()
        wall = time.perf_counter() - t0
        progress = q.recentProgress
        ok = True
        if files == "stream":
            got = {tuple(r) for r in spark.sql(
                f"SELECT user_id, unix_micros(started_at), unix_micros(finished_at), "
                f"unix_micros(origin_started_at), unix_micros(destination_started_at) FROM {name}").collect()}
            # the stream emits a trip once its destination is proven; the
            # trailing travel run has none, so it stays open
            want = {t for t in gen.mobility_trips(self.seed, range(self.n_users)) if t[4] is not None}
            ok &= _check(checks, "stream.trips_equal_batch", got == want,
                         f"{len(got)} stream trips vs {len(want)} constructed")
            ok &= _check(checks, "stream.triggers", len(progress) == self.n_files,
                         f"{len(progress)} triggers for {self.n_files} files")
        spark.catalog.dropTempView(name)
        shutil.rmtree(ckpt, ignore_errors=True)
        triggers = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
        return {"wall": wall, "calls": triggers, "rows": self.rows_per_rep, "ok": ok, "progress": progress}

    def warmup(self, spark, tr, checks):
        # one trigger over the first file warms Python workers, codegen and
        # the state store provider; a partial stream has no constructed result
        return self.rep(spark, tr, checks, files="first")


class TrajectoryJoin:
    """``trajectory_similarity_join(tau_m=150, metric="frechet")`` over
    trajectories in groups that share their endpoints; a known few
    percent of each group's pairs follow the same route."""

    CHECKS = ("join.pairs_constructed", "join.sample_distance", "join.sample_nonpair")
    GROUP_SIZE, FOLLOWERS = 20, 4

    def __init__(self, seed: int, tiny: bool):
        self.seed = seed
        self.n_groups = 10 if tiny else 100
        self.rows_per_rep = self.n_groups * self.GROUP_SIZE
        self.rng = np.random.default_rng([seed, 3])

    def make_inputs(self):
        size = (self.n_groups, self.GROUP_SIZE, self.FOLLOWERS)
        self.path, secs, hit = gen.cached(
            "traj", self.seed, size, lambda d: gen.write_trajectories(d, self.seed, *size))
        return secs, hit

    def setup(self, spark, tr):
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(self.path, "traj.parquet")).to_pylist()
        self.geoms = {r["id"]: np.array([[p["lon"], p["lat"]] for p in r["geom"]]) for r in t}
        self.want = gen.trajectory_pairs(self.n_groups, self.GROUP_SIZE, self.FOLLOWERS)

    def rep(self, spark, tr, checks: dict) -> dict:
        from trackintel_spark.geogr import trajectory_similarity_join
        from trackintel_spark.geogr.trajectory_distance import frechet_distance

        t0 = time.perf_counter()
        with tr.span("spark.read.parquet"):
            traj = spark.read.parquet(os.path.join(self.path, "traj.parquet"))
        with tr.span("trajectory_similarity_join"):
            res = trajectory_similarity_join(traj, gen.TAU_M, metric="frechet")
        with tr.span("trajectory_similarity_join.action"):
            rows = res.collect()
        wall = time.perf_counter() - t0
        got = {(r.id_a, r.id_b): r.dist_m for r in rows}
        ok = _check(checks, "join.pairs_constructed", set(got) == self.want,
                    f"{len(got)} pairs vs {len(self.want)} constructed")
        # numpy brute force on a seed-chosen sample: result pairs carry the
        # exact distance, and same-group non-pairs really exceed tau
        keys = sorted(got)
        for i in self.rng.choice(len(keys), min(10, len(keys)), replace=False):
            a, b = keys[i]
            d = frechet_distance(self.geoms[a], self.geoms[b])
            ok &= _check(checks, "join.sample_distance", abs(d - got[(a, b)]) <= 1e-6 * max(1.0, d),
                         f"pair {a},{b}: {got[(a, b)]} vs brute force {d}")
        for _ in range(10):
            g = int(self.rng.integers(self.n_groups))
            a, b = sorted(int(x) for x in self.rng.choice(self.GROUP_SIZE, 2, replace=False))
            a, b = g * self.GROUP_SIZE + a, g * self.GROUP_SIZE + b
            if (a, b) not in self.want:
                ok &= _check(checks, "join.sample_nonpair", frechet_distance(self.geoms[a], self.geoms[b]) > gen.TAU_M,
                             f"non-pair {a},{b} within tau")
        return {"wall": wall, "calls": [wall], "rows": self.rows_per_rep, "ok": ok, "pairs": len(got)}


class StreamAndJoin:
    """The two single-query workloads whose work runs in Python kernels:
    a rep is one ``MobilityStream`` catch-up, then one ``TrajectoryJoin``
    call. They share one process so that a run pays one session start
    and one Python-worker start for both (see README.md)."""

    name = "stream_and_join"
    unit = "catch-up + join call"
    # The warm-up is one cold trigger over the first stream file and one
    # cold join call, which takes about 1.5x a warm one once the stream
    # has started the Python workers.
    warmup_reps, timed_reps = 1, 1
    CHECKS = MobilityStream.CHECKS + TrajectoryJoin.CHECKS

    def __init__(self, seed: int, tiny: bool):
        self.stream = MobilityStream(seed, tiny)
        self.join = TrajectoryJoin(seed, tiny)

    def make_inputs(self):
        (s_secs, s_hit), (j_secs, j_hit) = self.stream.make_inputs(), self.join.make_inputs()
        return s_secs + j_secs, s_hit and j_hit

    def setup(self, spark, tr):
        self.stream.setup(spark, tr)
        self.join.setup(spark, tr)

    def warmup(self, spark, tr, checks):
        return self._both(self.stream.warmup(spark, tr, checks), self.join.rep(spark, tr, checks))

    def rep(self, spark, tr, checks: dict) -> dict:
        return self._both(self.stream.rep(spark, tr, checks), self.join.rep(spark, tr, checks))

    @staticmethod
    def _both(s: dict, j: dict) -> dict:
        """One rep's figures: its wall time leaves out each phase's checks."""
        wall = s["wall"] + j["wall"]
        return {"wall": wall, "calls": [wall], "rows": s["rows"] + j["rows"], "ok": s["ok"] and j["ok"],
                "progress": s["progress"], "pairs": j["pairs"], "stream": s, "join": j}

    @staticmethod
    def named(reps: list) -> dict:
        stream = _named([r["stream"] for r in reps], "trigger_p50_s")
        join = _named([r["join"] for r in reps], "join.call_s")
        return {"trigger_p50_s": stream["trigger_p50_s"], "stream.rows_per_s": stream["rows_per_s"],
                "join.call_s": join["join.call_s"], "join.rows_per_s": join["rows_per_s"]}


WORKLOADS = {w.name: w for w in (MobilityInteractive, StreamAndJoin)}
