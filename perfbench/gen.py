"""Seeded input generators for the benchmark workloads.

Inputs are built with numpy and written with pyarrow, so the library
sees only Parquet files. Beside each writer sits what its construction
guarantees (entity counts, trip timestamps, qualifying pairs); the
workloads check the library's output against it.

Files are cached per (kind, seed, size) under ``.perfbench_cache/`` in
the working directory, together with a sha256 of every file; a cached
set whose checksums no longer match is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = ".perfbench_cache"
T0 = 1_700_000_000  # epoch seconds of the first fix

# --- mobility ---------------------------------------------------------------
# Each user cycles through 6 spots on a circle. A block is 34 dwell fixes
# (16.5 min at 30 s cadence) plus 6 travel fixes toward the next spot, so
# every threshold family fires: each dwell is one staypoint, an activity
# (>15 min), each travel run one tripleg, every 6 trips close one tour and
# each user has exactly 6 locations.
FIXES_PER_USER = 2000
CADENCE_S = 30
BLOCK = 40
DWELL = 34
SPOTS = 6
JITTER_DEG = 1e-5  # ~1 m
# Operator parameters the expected counts below rely on.
SP_PARAMS = dict(dist_threshold=100, time_threshold=5, gap_threshold=120)
TRIP_GAP_MIN = 60
ACTIVITY_MIN = 15
LOC_EPSILON_M = 100


def mobility_expected(n_users: int) -> dict:
    """Entity counts the mobility construction guarantees."""
    blocks = FIXES_PER_USER // BLOCK
    return {
        "positionfixes": n_users * FIXES_PER_USER,
        # one staypoint per dwell; every block ends in travel, so the last
        # dwell is closed too
        "staypoints": n_users * blocks,
        # one tripleg per travel run, including the trailing one
        "triplegs": n_users * blocks,
        # one trip per travel run; the trailing one has no destination
        "trips": n_users * blocks,
        # every closed trip from the 6th on returns to the origin spot of
        # the trip 5 before it
        "tours": n_users * (blocks - SPOTS),
        "locations": n_users * SPOTS,
    }


def _user_params(seed: int, n_users: int) -> list[dict]:
    rng = np.random.default_rng([seed, 0])
    out = []
    for u in range(n_users):
        out.append({
            # users sit on a 0.5 degree grid, so no two share a spot
            "lon": 6.0 + (u % 20) * 0.5 + rng.uniform(-0.1, 0.1),
            "lat": 46.0 + (u // 20) * 0.5 + rng.uniform(-0.1, 0.1),
            "radius_m": rng.uniform(1200.0, 1600.0),
            "rot": rng.uniform(0.0, 2 * np.pi),
            "start_s": T0 + int(rng.integers(0, 3600)),
        })
    return out


def mobility_trips(seed: int, users) -> set:
    """The trips the batch chain builds for ``users``, by construction:
    ``(user_id, started_at, finished_at, origin_started_at,
    destination_started_at)`` in epoch microseconds. A trip is block
    ``b``'s travel run, from the first fix after dwell ``b`` to the last
    travel fix; the trailing one has no destination."""
    params = _user_params(seed, max(users) + 1)
    blocks = FIXES_PER_USER // BLOCK
    out = set()
    for u in users:
        t = lambda i: (params[u]["start_s"] + i * CADENCE_S) * 1_000_000  # noqa: E731
        for b in range(blocks):
            dest = t((b + 1) * BLOCK) if b + 1 < blocks else None
            out.add((u, t(b * BLOCK + DWELL), t(b * BLOCK + BLOCK - 1), t(b * BLOCK), dest))
    return out


def _mobility_table(seed: int, n_users: int) -> pa.Table:
    noise = np.random.default_rng([seed, 1])
    i = np.arange(FIXES_PER_USER)
    phase = (i // BLOCK) % SPOTS
    nxt = (phase + 1) % SPOTS
    k = i % BLOCK
    frac = np.where(k < DWELL, 0.0, (k - DWELL + 1) / (BLOCK - DWELL + 1))
    cols = {"id": [], "user_id": [], "tracked_at": [], "lon": [], "lat": []}
    for u, p in enumerate(_user_params(seed, n_users)):
        ang = p["rot"] + 2 * np.pi * np.arange(SPOTS) / SPOTS
        m_lat = 111_195.0
        m_lon = m_lat * np.cos(np.deg2rad(p["lat"]))
        s_lon = p["lon"] + p["radius_m"] * np.cos(ang) / m_lon
        s_lat = p["lat"] + p["radius_m"] * np.sin(ang) / m_lat
        lon = s_lon[phase] + (s_lon[nxt] - s_lon[phase]) * frac
        lat = s_lat[phase] + (s_lat[nxt] - s_lat[phase]) * frac
        cols["id"].append(u * FIXES_PER_USER + i)
        cols["user_id"].append(np.full(FIXES_PER_USER, u))
        cols["tracked_at"].append((p["start_s"] + i * CADENCE_S) * 1_000_000)
        cols["lon"].append(lon + noise.normal(0, JITTER_DEG, FIXES_PER_USER))
        cols["lat"].append(lat + noise.normal(0, JITTER_DEG, FIXES_PER_USER))
    c = {name: np.concatenate(v) for name, v in cols.items()}
    ts = pa.array(c["tracked_at"], pa.timestamp("us", tz="UTC"))
    return pa.table(
        {"id": c["id"].astype(np.int64), "user_id": c["user_id"].astype(np.int64),
         "tracked_at": ts, "lon": c["lon"], "lat": c["lat"]}
    )


def _as_pfs(t: pa.Table) -> pa.Table:
    geom = pa.StructArray.from_arrays([t["lon"].combine_chunks(), t["lat"].combine_chunks()], ["lon", "lat"])
    return pa.table({"id": t["id"], "user_id": t["user_id"], "tracked_at": t["tracked_at"], "geom": geom})


def write_mobility(path: str, seed: int, n_users: int) -> None:
    """Positionfixes sorted by user, one row group per user, so a
    ``user_id`` filter reads only that user's row group."""
    t = _as_pfs(_mobility_table(seed, n_users))
    pq.write_table(t, os.path.join(path, "pfs.parquet"), row_group_size=FIXES_PER_USER)


def write_mobility_stream(path: str, seed: int, n_users: int, n_files: int) -> None:
    """The same positionfixes as flat columns, cut by time into
    ``n_files`` files under ``stream/``; all users advance together, one
    file per micro-batch."""
    t = _mobility_table(seed, n_users)
    per_file = -(-FIXES_PER_USER // n_files)
    pos = np.asarray(t["id"]) % FIXES_PER_USER
    os.makedirs(os.path.join(path, "stream"))
    for f in range(n_files):
        sel = np.nonzero((pos >= f * per_file) & (pos < (f + 1) * per_file))[0]
        pq.write_table(t.take(sel), os.path.join(path, "stream", f"b{f:03d}.parquet"))
    # the first file alone, for a one-trigger warm-up
    os.makedirs(os.path.join(path, "first"))
    shutil.copy(os.path.join(path, "stream", "b000.parquet"), os.path.join(path, "first"))


# --- trajectories -------------------------------------------------------------
# Groups of trajectories share their start and end points. In each group a
# few "followers" trace the same straight route, resampled to their own
# vertex count, so their pairwise discrete Frechet distance is about half a
# vertex spacing (< 80 m). The other members bow away from the route, each by
# its own offset (multiples of 500 m), so they are > 400 m from everyone.
TAU_M = 150.0
ROUTE_M = 2000.0
DETOUR_STEP_M = 500.0
VERTEX_NOISE_M = 5.0
GROUP_SPACING_DEG = 0.5


def trajectory_pairs(n_groups: int, group_size: int, followers: int) -> set:
    """The ``(id_a, id_b)`` pairs within ``TAU_M``: the followers of each
    group, pairwise."""
    return {
        (g * group_size + a, g * group_size + b)
        for g in range(n_groups) for a in range(followers) for b in range(a + 1, followers)
    }


def write_trajectories(path: str, seed: int, n_groups: int, group_size: int, followers: int) -> None:
    rng = np.random.default_rng(seed)
    ids, geoms = [], []
    m_lat = 111_195.0
    for g in range(n_groups):
        c_lon = 6.0 + (g % 40) * GROUP_SPACING_DEG
        c_lat = 40.0 + (g // 40) * GROUP_SPACING_DEG
        m_lon = m_lat * np.cos(np.deg2rad(c_lat))
        head = rng.uniform(0.0, 2 * np.pi)
        along = np.array([np.cos(head), np.sin(head)])
        perp = np.array([-along[1], along[0]])
        for j in range(group_size):
            n = int(rng.integers(20, 51))
            t = np.linspace(0.0, 1.0, n)
            off = 0.0 if j < followers else DETOUR_STEP_M * (j - followers + 1)
            xy = (t[:, None] * ROUTE_M * along[None, :]
                  + (off * np.sin(np.pi * t))[:, None] * perp[None, :])
            xy[1:-1] += rng.uniform(-VERTEX_NOISE_M, VERTEX_NOISE_M, (n - 2, 2))
            ids.append(g * group_size + j)
            geoms.append([{"lon": c_lon + x / m_lon, "lat": c_lat + y / m_lat} for x, y in xy])
    pt = pa.struct([("lon", pa.float64()), ("lat", pa.float64())])
    t = pa.table({"id": pa.array(ids, pa.int64()), "geom": pa.array(geoms, pa.list_(pt))})
    pq.write_table(t, os.path.join(path, "traj.parquet"))


# --- cache ------------------------------------------------------------------------


def _digest(path: str) -> dict:
    out = {}
    for root, _, files in os.walk(path):
        for f in sorted(files):
            p = os.path.join(root, f)
            if f == "SHA256.json":
                continue
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def cached(kind: str, seed: int, size: tuple, write) -> tuple[str, float, bool]:
    """Return ``(dir, seconds, hit)`` for inputs written by ``write(dir)``,
    rebuilding them when missing or when a checksum disagrees."""
    t0 = time.perf_counter()
    path = os.path.abspath(os.path.join(CACHE_DIR, f"{kind}-s{seed}-" + "x".join(map(str, size))))
    sums = os.path.join(path, "SHA256.json")
    if os.path.exists(sums):
        with open(sums) as fh:
            if json.load(fh) == _digest(path):
                return path, time.perf_counter() - t0, True
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    with open(os.path.join(tmp, "SHA256.json"), "w") as fh:
        json.dump(_digest(tmp), fh)
    os.rename(tmp, path)
    return path, time.perf_counter() - t0, False
