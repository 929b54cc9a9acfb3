"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. The benchmark's session conf equals ``get_spark()``'s apart from
   ``spark.master`` and, when tracing, the event-log keys.
2. Every workload runs at a tiny size, untraced and traced: every metric
   of BENCHMARK.json appears with its unit, the run is correct, and every
   correctness check of the workload ran.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from spans import EVENT_LOG_KEYS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Keys that differ between any two sessions, whoever builds them.
PER_SESSION = {"spark.app.id", "spark.app.startTime", "spark.app.submitTime", "spark.driver.port"}


def _conf(spark) -> dict:
    return dict(spark.sparkContext.getConf().getAll())


def test_session_conf() -> None:
    sys.path.insert(0, ROOT)
    from trackintel_spark import get_spark

    tmp = tempfile.mkdtemp(prefix="perfbench_selftest_", dir=ROOT)
    run._isolate_environment(tmp)
    confs = {}
    for label, trace_dir in (("bench", None), ("bench_traced", os.path.join(tmp, "log"))):
        if trace_dir:
            os.makedirs(trace_dir)
        spark = run.start_session(trace_dir)
        confs[label] = _conf(spark)
        run.stop_session(spark)
    spark = get_spark()
    confs["shipped"] = _conf(spark)
    run.stop_session(spark)
    shutil.rmtree(tmp, ignore_errors=True)

    for label, allowed in (("bench", set()), ("bench_traced", set(EVENT_LOG_KEYS))):
        got, want = confs[label], confs["shipped"]
        diff = {k for k in set(got) | set(want) if got.get(k) != want.get(k)} - PER_SESSION
        assert diff <= {"spark.master"} | allowed, f"{label} conf differs from get_spark(): {sorted(diff)}"
        assert got["spark.master"].startswith("local["), got["spark.master"]
    print("ok session conf equals get_spark()'s apart from master and the event-log keys")


def test_smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS), bench["workloads"]
    for name, wl in WORKLOADS.items():
        for trace in (0, 1):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name, "--seed", "3",
                 "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert p.returncode == 0, p.stderr[-3000:]
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            want = bench["per_layer" if trace else "end_to_end"]
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == {m["name"]: m["unit"] for m in want}, (name, trace, got)
            if not trace:
                assert all(v["value"] > 0 for v in res["metrics"].values()), res
            checks = json.loads(next(l for l in lines if l.startswith("# checks: "))[len("# checks: "):])
            missing = [c for c in wl.CHECKS if checks.get(c, {}).get("passed", 0) < 1]
            assert not missing, f"{name}: checks that did not run: {missing}"
            print(f"ok {name} trace={trace}: {len(got)} metrics, checks {sorted(checks)}")


if __name__ == "__main__":
    test_session_conf()
    test_smoke()
    print("selftest passed")
