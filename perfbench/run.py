"""The trackintel_spark benchmark: one workload per run, one client in a
closed loop, every output checked.

    python3 perfbench/run.py --workload mobility_interactive --seed 1 --seconds 1 --trace 0

Inputs are generated from ``--seed`` (cached under ``.perfbench_cache/``).
After set-up (session start, input registration, warm-up reps) the
workload repeats its rep until ``--seconds`` have passed, and at least
its ``timed_reps`` times. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` Spark's event log is on and the
metrics are the per-layer ones. Lines starting with ``#`` are
diagnostics: host noise, drift, span self times. Spans are written to
``.perfbench_out/``. See perfbench/README.md for the rationale.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def _isolate_environment(tmp: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, and let Python workers import the library from it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.makedirs(os.environ["SPARK_LOCAL_DIRS"], exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR


def start_session(trace_dir: str | None):
    """get_spark() as shipped: only ``master`` is set, plus the event-log
    keys when tracing."""
    from trackintel_spark import get_spark
    from spans import event_log_conf

    cpus = len(os.sched_getaffinity(0))
    return get_spark(master=f"local[{cpus}]", extra_conf=event_log_conf(trace_dir) if trace_dir else None)


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM (and with it the Python worker
    daemon) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def _process_start() -> float:
    """``time.perf_counter()`` at the moment this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    t_process = _process_start()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the smoke self-test")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import trackintel_spark  # noqa: F401  (fail fast outside a checkout of the repo)

    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, args.size == "tiny")
    gen_s, gen_hit = wl.make_inputs()

    tmp = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    _isolate_environment(tmp)
    try:
        return _run(args, wl, t_process, gen_s, gen_hit, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run(args, wl, t_process: float, gen_s: float, gen_hit: bool, tmp: str) -> int:
    import layers
    from spans import Tracer, canary_s, parse_event_log, py_canary_s, steal_s

    log_dir = os.path.join(tmp, "eventlog") if args.trace else None
    if log_dir:
        os.makedirs(log_dir)

    tr = Tracer()
    checks: dict = {}
    with tr.span("get_spark"):
        spark = start_session(log_dir)
    spark.sparkContext.setLogLevel("ERROR")
    tr.sc = spark.sparkContext
    try:
        with tr.span("setup"):
            wl.setup(spark, tr)
        warm_calls = []
        with tr.span("warmup"):
            for i in range(wl.warmup_reps):
                tr.run = f"warm{i}"
                with tr.span("rep"):
                    r = getattr(wl, "warmup", wl.rep)(spark, tr, checks)
                warm_calls += r["calls"]
                _release(spark, wl)
        setup_s = time.perf_counter() - t_process - gen_s

        reps = []
        pinned = []
        steal0, t0 = steal_s(), time.perf_counter()
        while len(reps) < wl.timed_reps or time.perf_counter() - t0 < args.seconds:
            tr.run = f"rep{len(reps)}"
            with tr.span("rep"):
                try:
                    r = wl.rep(spark, tr, checks)
                except Exception as e:  # a failed operation, counted as such
                    traceback.print_exc()
                    print(f"# FAILED {tr.run}: {type(e).__name__}: {e}", flush=True)
                    r = {"wall": float("nan"), "calls": [], "rows": 0, "ok": False}
            r["run"] = tr.run
            reps.append(r)
            pinned.append(_release(spark, wl))
        timed_s = time.perf_counter() - t0
        steal = steal_s() - steal0
        canary = canary_s(spark)
        py_canary = py_canary_s()
    finally:
        stop_session(spark)

    ok_reps = [r for r in reps if r["ok"]]
    calls = [c for r in ok_reps for c in r["calls"]]
    e2e = {"setup_s": setup_s, "rep_p50_s": _median([r["wall"] for r in ok_reps])}
    failed = len(reps) - len(ok_reps)
    correct = failed == 0 and all(c["failed"] == 0 for c in checks.values()) and bool(checks)

    os.makedirs(OUT_DIR, exist_ok=True)
    stem = os.path.join(OUT_DIR, f"{wl.name}-s{args.seed}-t{args.trace}")

    print(f"# workload {wl.name}: {len(reps)} timed reps of one {wl.unit} loop in {timed_s:.2f} s, "
          f"{len(calls)} {wl.unit}s, inputs {'cached' if gen_hit else 'generated'} in {gen_s:.2f} s")
    print(f"# noise: steal {steal:.2f} cpu-s over the timed region, "
          f"canary {canary:.3f} s (Spark) {py_canary:.3f} s (Python)")
    print(f"# {wl.unit} latencies: {[round(c, 3) for c in calls]}")
    if calls and warm_calls:
        print(f"# drift: {wl.unit} latencies in warm-up {[round(c, 3) for c in warm_calls]}, timed "
              f"{[round(c, 3) for c in calls]}; first timed / last warm-up {calls[0] / warm_calls[-1]:.3f}, "
              f"last/first timed {calls[-1] / calls[0]:.3f} over {len(calls)} timed")
    print(f"# plans.pinned_rdds after each rep's release: {pinned}")
    print(f"# checks: {json.dumps(checks, sort_keys=True)}")
    named = {"setup_s": (setup_s, "s"), **(wl.named(ok_reps) if ok_reps else {})}
    for name, (v, unit) in named.items():
        print(f"# {wl.name} {name} = {v:.4f} {unit}")
    _print_self_times(tr)

    if args.trace:
        tr.attach_events(parse_event_log(log_dir))
        metrics = layers.per_layer(tr.spans, reps, pinned, e2e)
        _print_overhead(wl, args.seed, e2e)
    else:
        metrics = {k: {"value": v, "unit": "s"} for k, v in e2e.items()}
    tr.dump(stem + "-spans.json", t_process)
    with open(stem + "-result.json", "w") as fh:
        json.dump({"e2e": e2e, "metrics": metrics}, fh)
    print(json.dumps({"correct": correct, "attempted": len(reps), "failed": failed, "metrics": metrics}))
    return 0


def _release(spark, wl) -> int:
    """End-of-rep release, so every rep does the same work; returns the
    persisted RDDs still held afterwards."""
    from trackintel_spark.plans.ids import release_id_caches

    if hasattr(wl, "release"):
        wl.release()
    spark.catalog.clearCache()
    release_id_caches()
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _print_self_times(tr) -> None:
    tr.self_times()
    by_name: dict = {}
    for s in tr.spans:
        if s["run"].startswith("rep"):
            by_name.setdefault(s["name"], []).append(s["self_s"])
    print("# span self time, median over timed reps: " + ", ".join(
        f"{k} {_median(v):.3f} s" for k, v in by_name.items()))


def _print_overhead(wl, seed, traced: dict) -> None:
    """Tracing overhead: this traced run's end-to-end metrics minus those
    of the untraced run of the same workload and seed, if one is on disk."""
    path = os.path.join(OUT_DIR, f"{wl.name}-s{seed}-t0-result.json")
    if not os.path.exists(path):
        print("# tracing overhead: no untraced run of this seed to compare with")
        return
    with open(path) as fh:
        plain = json.load(fh)["e2e"]
    print("# tracing overhead (traced - untraced): " + ", ".join(
        f"{k} {traced[k] - plain[k]:+.4f}" for k in traced))


if __name__ == "__main__":
    sys.exit(main())
